"""Block-operation stream source (reference S1).

The reference polls `condenser_api.get_ops_in_block` in batches of 30
blocks (listener.js:58-146) and stamps the block timestamp into each
op payload (listener.js:164). Our batch-sync equivalent is a
DataFrame of rows

    (block_num LONG, ts TIMESTAMP, op_type STRING, op STRING<json>)

read per sync round for `[cursor, cursor + n)`. Real deployments
would materialize this from an RPC-fetch step writing JSON files;
tests and demos use the deterministic synthesizer below (pure
DataFrame ops — seeded via xxhash64 of the row id, no driver-side
randomness, so it scales to any block count without collect()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OP_STREAM_SCHEMA = "block_num long, ts timestamp, op_type string, op string"

# deterministic pseudo-random helper: uniform in [0, m) from id+salt
def _h(salt: str, m: int):
    return F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(m))


def _json_quote(c):
    """JSON-string-encode an existing STRING column (escapes + outer
    quotes). to_json only accepts containers, so serialize a 1-element
    array and slice off the brackets — yields the double-encoded
    json_metadata shape of the reference (comments.js:28-29)."""
    arr = F.to_json(F.array(c))
    return arr.substr(F.lit(2), F.length(arr) - 2)


def ops_from_json(spark: SparkSession, path: str) -> DataFrame:
    """Load an op stream from JSON lines files (the shape an RPC
    fetch step would write)."""
    return spark.read.schema(OP_STREAM_SCHEMA).json(path)


def synthesize_ops(
    spark: SparkSession,
    n_blocks: int,
    ops_per_block: int = 10,
    start_block: int = 0,
) -> DataFrame:
    """Deterministic synthetic op stream mirroring the Hive op mix:
    comments (with sometimes double-encoded or invalid
    json_metadata — the reference's F2 quirk), votes (some duplicated,
    some to nonexistent posts), account_updates."""
    n = n_blocks * ops_per_block
    base = (
        spark.range(n)
        .withColumn("block_num", F.lit(start_block) + (F.col("id") / ops_per_block).cast("long"))
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("block_num") * 3))
    )
    kind = _h("kind", 10)
    author = F.concat(F.lit("user"), _h("author", 40).cast("string"))
    permlink = F.concat(F.lit("post-"), _h("perm", n_blocks * 3).cast("string"))
    voter = F.concat(F.lit("user"), _h("voter", 40).cast("string"))

    meta_tags = F.to_json(
        F.struct(
            F.array(
                F.concat(F.lit("tag"), _h("t1", 8).cast("string")),
                F.concat(F.lit("tag"), _h("t2", 8).cast("string")),
            ).alias("tags"),
            F.array(F.concat(F.lit("http://img/"), _h("img", 50).cast("string"))).alias("image"),
        )
    )
    # ~20% double-encoded, ~10% invalid — reference F2 fallback cases.
    meta = (
        F.when(_h("enc", 10) < 2, _json_quote(meta_tags))
        .when(_h("enc", 10) == 2, F.lit("{not json"))
        .otherwise(meta_tags)
    )
    body = F.concat(
        F.lit("Hello *world* "),
        F.when(_h("cmd", 20) == 0, F.lit("!update-stock-image-tags ")).otherwise(F.lit("")),
        F.lit("#"), F.concat(F.lit("htag"), _h("ht", 12).cast("string")),
        F.lit(" <img src=\"http://img/body"), _h("bimg", 30).cast("string"), F.lit(".png\">"),
        F.lit("\nmore text"),
    )
    comment_op = F.to_json(
        F.struct(
            author.alias("author"),
            permlink.alias("permlink"),
            F.when(_h("reply", 10) == 0, F.lit("someparent")).otherwise(F.lit("")).alias("parent_author"),
            F.when(_h("comm", 6) == 0, F.lit("hive-118554"))
            .otherwise(F.concat(F.lit("cat"), _h("cat", 5).cast("string")))
            .alias("parent_permlink"),
            F.concat(F.lit("Title "), _h("title", 100).cast("string")).alias("title"),
            body.alias("body"),
            meta.alias("json_metadata"),
        )
    )
    vote_op = F.to_json(
        F.struct(
            voter.alias("voter"),
            author.alias("author"),
            # some votes target posts that never had a comment op
            F.when(_h("missing", 5) == 0, F.concat(F.lit("ghost-"), _h("g", 50).cast("string")))
            .otherwise(permlink)
            .alias("permlink"),
            (_h("w", 20001).cast("int") - 10000).alias("weight"),
        )
    )
    account_op = F.to_json(
        F.struct(
            author.alias("account"),
            F.to_json(
                F.struct(
                    F.struct(
                        F.concat(F.lit("Name "), _h("nm", 30).cast("string")).alias("name"),
                        F.concat(F.lit("bio "), _h("bio", 30).cast("string")).alias("about"),
                    ).alias("profile")
                )
            ).alias("json_metadata"),
        )
    )
    custom_op = F.to_json(F.struct(F.lit("follow").alias("cid")))

    return base.select(
        "block_num",
        "ts",
        F.when(kind < 4, F.lit("comment"))
        .when(kind < 8, F.lit("vote"))
        .when(kind < 9, F.lit("account_update"))
        .otherwise(F.lit("custom_json"))
        .alias("op_type"),
        F.when(kind < 4, comment_op)
        .when(kind < 8, vote_op)
        .when(kind < 9, account_op)
        .otherwise(custom_op)
        .alias("op"),
    )

"""Handler transforms (reference §3.2/3.3): DataFrame → upsert frames.

Each reference handler compiled ops into OpenSearch bulk actions;
here each is a pure DataFrame→DataFrame function producing keyed
upsert rows that sync.merge applies to the target tables. The
per-row RPC/retry logic of the reference (comments.js:107-142)
disappears — joins against the authoritative tables are the
set-based equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chain_sync_spark.functions.hashing import surrogate_id
from chain_sync_spark.functions.json_utils import double_decode_json, profile_from_metadata
from chain_sync_spark.functions.text_funcs import (
    extract_hashtags,
    extract_image_srcs,
    markdown_to_text,
)

METADATA_SCHEMA = "tags array<string>, image array<string>"
PROFILE_SCHEMA = "profile struct<name string, about string>"

STOCK_COMMUNITIES = ("hive-118554", "hivestockimages")

# Content columns an authoritative snapshot may override (J3): the
# reference's getContent re-fetch returns the full post content and
# indexes THAT for already-existing posts (comments.js:123-142).
AUTHORITATIVE_COLUMNS = ("text_title", "text_body", "tags", "image", "stockimage_tags")


def comments_to_post_upserts(
    comments: DataFrame, authoritative: DataFrame | None = None
) -> DataFrame:
    """Comment pipeline (handlers/comments.js:100-183).

    filter replies (P5) → surrogate key (F1) → metadata decode with
    double-decode fallback (F2) → text/image extraction (F3–F6) →
    stock-image tagging (P6 + F7) → month/year partition columns
    (F10). Within-batch dedup keeps the latest op per post id
    (re-delivered ops are idempotent in the reference via upserts).

    J3 "authoritative store wins" (comments.js:123-142): when an
    ``authoritative`` snapshot is provided (post_id + any subset of
    AUTHORITATIVE_COLUMNS), its non-null values override the op-derived
    content per column — the set-based equivalent of the reference's
    per-post getContent re-fetch. Scale: one keyed equi-join on
    post_id; pass a batch-pruned snapshot (semi-joined on the batch's
    post ids) so the join side stays O(batch), which is exactly what
    the reference's per-id fetch did. Without a snapshot the op's own
    content applies with last-op-wins MERGE semantics; the two
    converge given a complete op stream.
    """
    meta = double_decode_json(F.col("json_metadata"), METADATA_SCHEMA)
    base = (
        comments.filter(F.col("parent_author") == "")  # P5: top-level posts only
        .withColumn("post_id", surrogate_id("author", "permlink"))
        .withColumn("tags", F.coalesce(meta.getField("tags"), F.array()))
        .withColumn(
            "image",
            F.array_distinct(
                F.concat(
                    F.coalesce(meta.getField("image"), F.array()),
                    extract_image_srcs(F.col("body")),
                )
            ),
        )
        .withColumn("text_body", markdown_to_text(F.col("body")))
    )
    # P6 stock-image predicate → F7 hashtag tags. The reference runs
    # handleStockImagePost unconditionally on every top-level post
    # (comments.js:146): stock posts get their hashtags extracted
    # ('' when none, like [].join(' ')), non-stock posts get null.
    is_stock = (
        F.arrays_overlap(F.col("tags"), F.array(*[F.lit(c) for c in STOCK_COMMUNITIES]))
        | F.col("parent_permlink").isin(*STOCK_COMMUNITIES)
    )
    base = base.withColumn(
        "stockimage_tags",
        F.when(is_stock, F.array_join(extract_hashtags(F.col("body")), " ")),
    )
    # within-batch dedup: last op per post id wins (block order)
    w = Window.partitionBy("post_id").orderBy(F.desc("block_num"), F.desc("timestamp"))
    out = (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "post_id",
            "author",
            "permlink",
            F.col("title").alias("text_title"),
            "text_body",
            "parent_permlink",
            "tags",
            "image",
            "stockimage_tags",
            "timestamp",
            # S12 jobs reset (comments.js:163-166 `ctx._source.jobs
            # = [:]`): every post upsert clears the jobs map.
            F.create_map().cast("map<string,string>").alias("jobs"),
            # Mutable columns later merges fill in (vote set-adds,
            # muting flags) ride along as typed nulls so every
            # partition is written with the complete posts schema —
            # the partition-level merge never mixes file schemas.
            F.lit(None).cast("array<string>").alias("upvotes"),
            F.lit(None).cast("array<string>").alias("downvotes"),
            F.lit(None).cast("boolean").alias("muted_in_community"),
            F.year("timestamp").alias("year"),
            F.month("timestamp").alias("month"),
        )
    )
    if authoritative is not None:
        override = [c for c in AUTHORITATIVE_COLUMNS if c in authoritative.columns]
        auth = authoritative.select(
            "post_id", *[F.col(c).alias(f"_auth_{c}") for c in override]
        )
        out = out.join(auth, "post_id", "left").select(
            *[
                F.coalesce(F.col(f"_auth_{c}"), F.col(c)).alias(c)
                if c in override
                else F.col(c)
                for c in out.columns
            ]
        )
    return out


def votes_to_vote_upserts(votes: DataFrame, existing_posts: DataFrame) -> DataFrame:
    """Vote pipeline (handlers/votes.js).

    J1 existence semi-join against the posts table (the reference's
    batched id-search), P11 sign branch, A1 distinct-set accumulation
    per post — one groupBy replaces per-row painless scripts.
    Output: (post_id, upvotes_add, downvotes_add) arrays to be
    array_union-merged into the posts table.
    """
    keyed = votes.withColumn("post_id", surrogate_id("author", "permlink"))
    existing = keyed.join(
        existing_posts.select("post_id"), "post_id", "left_semi"
    )  # votes on missing posts are dropped (votes.js:43,46)
    return existing.groupBy("post_id").agg(
        F.sort_array(
            F.collect_set(F.when(F.col("weight") > 0, F.col("voter")))
        ).alias("upvotes_add"),
        F.sort_array(
            F.collect_set(F.when(F.col("weight") <= 0, F.col("voter")))
        ).alias("downvotes_add"),
    )


def account_activity_upserts(
    comments: DataFrame, votes: DataFrame, account_updates: DataFrame
) -> DataFrame:
    """A2 last-active accumulation + F9 profile extraction.

    Every comment/vote/account_update bumps last_active for its
    account (comments.js:179-180, votes.js:26-27,
    account_updates.js:9-10); account_updates also carry a profile.
    One unionByName + groupBy replaces three per-row upsert paths.
    """
    c = comments.select(F.col("author").alias("name"), "timestamp", F.lit(None).cast("string").alias("raw_profile"))
    v = votes.select(F.col("voter").alias("name"), "timestamp", F.lit(None).cast("string").alias("raw_profile"))
    a = account_updates.select(F.col("account").alias("name"), "timestamp", F.col("json_metadata").alias("raw_profile"))
    unioned = c.unionByName(v).unionByName(a)
    profile = profile_from_metadata(F.col("raw_profile"), PROFILE_SCHEMA)
    enriched = unioned.withColumn("profile", profile)
    # latest profile per account (by timestamp), max last_active
    w = Window.partitionBy("name").orderBy(F.desc("timestamp"))
    latest_profile = (
        enriched.filter(F.col("profile").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("name", "profile")
    )
    activity = enriched.groupBy("name").agg(F.max("timestamp").alias("last_active"))
    return activity.join(latest_profile, "name", "left")

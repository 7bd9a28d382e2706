"""Oracle-checked queries for the sync-engine handler semantics.

The sync engine itself runs against op streams (tested in
tests/test_sync_engine.py); the driver's DuckDB oracle only sees the
testdata tables, so these queries embed the reference edge-case rows
as identical VALUES literals on both sides:

  * double-encoded / invalid json_metadata (comments.js:21-40)
  * reply filtering (comments.js:113)
  * vote sign routing + distinct-set accumulation (votes.js:11-28)
  * existence semi-join dropping votes on missing posts (votes.js:43)
  * last-active max across op kinds (A2)
  * hashtag extraction for stock-image posts (comments.js:71-96)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chain_sync_spark.functions.hashing import surrogate_id_md5
from chain_sync_spark.functions.json_utils import double_decode_json
from chain_sync_spark.functions.text_funcs import (
    extract_hashtags,
    extract_headings,
    extract_image_srcs,
    extract_links,
    markdown_to_text,
)
from chain_sync_spark.tables import table

# ---- shared literal fixtures (kept in python so both sides agree) ----

_META_ROWS = [
    ("alice", "p1", '{"tags": ["a", "b"], "image": []}'),
    ("carol", "p2", '"{\\"tags\\": [\\"x\\"], \\"image\\": [\\"http://i/1\\"]}"'),  # double-encoded
    ("dave", "p3", "{not json"),  # invalid → defaults
    ("erin", "p4", None),  # missing → defaults
]

_VOTE_ROWS = [
    ("v1", "alice", "p1", 100),
    ("v1", "alice", "p1", 100),   # duplicate → set semantics
    ("v2", "alice", "p1", -50),
    ("v3", "ghost", "nope", 10),  # missing post → dropped
    ("v2", "carol", "p2", 70),
]

_POST_ROWS = [("alice", "p1"), ("carol", "p2")]

_ACTIVITY_ROWS = [
    ("alice", "2024-03-05 12:00:00", "comment"),
    ("alice", "2024-03-06 08:00:00", "vote"),
    ("bob", "2024-03-04 10:00:00", "vote"),
    ("bob", "2024-03-07 09:30:00", "account_update"),
]

_BODY_ROWS = [
    (1, "selling photos !update-stock-image-tags #Sunset #beach-life ok"),
    (2, "no command here #ignored"),
    (3, "!update-stock-image-tags no tags present"),
]


def _sql_values(rows) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    return ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)


# ---- queries ----

def sync_metadata_double_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.createDataFrame(_META_ROWS, "author string, permlink string, raw string")
    meta = double_decode_json(F.col("raw"), "tags array<string>, image array<string>")
    return df.select(
        surrogate_id_md5("author", "permlink").alias("doc_key"),
        F.coalesce(F.to_json(meta.getField("tags")), F.lit("[]")).alias("tags_json"),
        F.coalesce(F.to_json(meta.getField("image")), F.lit("[]")).alias("image_json"),
    )


def sync_vote_set_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    votes = spark.createDataFrame(_VOTE_ROWS, "voter string, author string, permlink string, weight int")
    posts = spark.createDataFrame(_POST_ROWS, "author string, permlink string")
    keyed = votes.withColumn("doc_key", surrogate_id_md5("author", "permlink"))
    existing = keyed.join(
        posts.select(surrogate_id_md5("author", "permlink").alias("doc_key")),
        "doc_key",
        "left_semi",
    )
    return existing.groupBy("doc_key").agg(
        F.array_join(
            F.sort_array(F.collect_set(F.when(F.col("weight") > 0, F.col("voter")))), ","
        ).alias("upvotes"),
        F.array_join(
            F.sort_array(F.collect_set(F.when(F.col("weight") <= 0, F.col("voter")))), ","
        ).alias("downvotes"),
    )


def sync_account_last_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.createDataFrame(_ACTIVITY_ROWS, "name string, ts string, kind string")
    return (
        df.withColumn("ts", F.to_timestamp("ts"))
        .groupBy("name")
        .agg(F.max("ts").alias("last_active"), F.count(F.lit(1)).alias("n_ops"))
    )


def sync_stock_image_hashtags(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.createDataFrame(_BODY_ROWS, "id int, body string")
    has_cmd = F.col("body").contains("!update-stock-image-tags")
    tags = extract_hashtags(F.col("body"))
    # Reference-faithful: a matched command with zero hashtags yields
    # '' ([].join(' ') === '', comments.js handleReply). DuckDB's
    # array_to_string-of-empty-list quirk (NULL) is normalized on the
    # ORACLE side with COALESCE, not here.
    return df.select(
        "id",
        F.when(has_cmd, F.array_join(tags, " ")).alias("stock_tags"),
    )


_MARKDOWN_ROWS = [
    (1, "# Title\nSome **bold** and *em* text with [a link](http://l/1)."),
    (2, 'Photo: ![cat](http://i/cat.png) and <img src="http://i/dog.png">'),
    (3, "code `inline` and\n```\nfenced block\n```\ndone"),
    (4, 'escaped &lt;img src="http://i/esc.png"&gt; markup'),
    (5, None),
]


def sync_markdown_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3–F5 high-fidelity path: markdown render → img-src collection
    → double tag-strip, as one Arrow-batched pandas_udf
    (functions/markdown_udf.py). Genuinely non-SQL (no markdown
    renderer in DuckDB) → rows-only driver check; semantics are pinned
    by tests/test_markdown.py against reference-behavior fixtures."""
    from chain_sync_spark.functions.markdown_udf import parse_post

    df = spark.createDataFrame(_MARKDOWN_ROWS, "id int, body string")
    p = parse_post(F.col("body"))
    return df.select(
        "id",
        p.getField("text").alias("text"),
        F.to_json(p.getField("images")).alias("images_json"),
    )


def markdown_extract_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+F5 builtin-regex path, oracle-checkable (round 5): image-src
    extraction and double-tag-strip plain-texting as pure column
    expressions over a deterministically markdown-augmented documents
    corpus.  ``sync_markdown_parse`` exercises the high-fidelity
    pandas_udf renderer but can never earn a hash row (no markdown
    renderer exists in DuckDB); this variant certifies everything in
    the reference pipeline EXCEPT the render itself — the <img src>
    collection and the double strip (handlers/comments.js:43-55) are
    regex-expressible in both engines.  Image lists are deduplicated
    and emitted sorted+joined (driver canon rejects arrays).

    Scale: per-row regexp projection, whole-stage codegen, zero
    shuffles — the shape the 100 TB text-cleaning pass needs."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id").cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    # text coalesced to '' like the oracle's COALESCE(text, ''): a
    # NULL text would yield NULL img_srcs/plain_head on the Spark
    # side but '' on the oracle side (r12 review finding)
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            m == 0,
            F.concat(
                F.lit(" ![a](http://img/a"), i, F.lit(".png) dup ![a](http://img/a"),
                i, F.lit('.png) <img src="http://img/b'), i, F.lit('.png"> done'),
            ),
        )
        .when(
            m == 1,
            F.concat(F.lit(" see [docs](http://l/"), i, F.lit(") **bold** `code`")),
        )
        .when(
            m == 2,
            F.concat(F.lit(" <img alt='x' src='http://img/c"), i, F.lit(".gif'> t")),
        )
        .otherwise(F.lit("")),
    )
    imgs = extract_image_srcs(aug)
    return d.select(
        "doc_id",
        F.size(imgs).alias("n_imgs"),
        F.array_join(F.array_sort(imgs), " ").alias("img_srcs"),
        F.substring(markdown_to_text(aug), 1, 80).alias("plain_head"),
    )


def markdown_links_headings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3–F5 oracle-slice extension (VERDICT r11 item 3): markdown
    LINKS ([text](url), images excluded) and ATX HEADINGS extracted
    as pure column expressions over a deterministically
    markdown-augmented documents corpus — the remaining
    regex-expressible slice of the reference's markdown parse
    (handlers/comments.js:43-55) after markdown_extract_builtin's
    img-src + double-strip; rendering fidelity itself stays with the
    rows-only sync_markdown_parse.  Arrays are emitted sorted+joined
    (driver canon rejects complex columns); heading structure is
    certified by count, top level, and the level-prefixed title list.

    Scale: per-row regexp projection, whole-stage codegen, zero
    shuffles — same shape as markdown_extract_builtin."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id").cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    # text coalesced to '' on BOTH sides (oracle does the same): a
    # NULL text would otherwise propagate NULL through concat →
    # regexp_extract_all and diverge from the oracle's
    # COALESCE(array_to_string(...), '') on the string columns.
    # m == 1 appends ADJACENT links ([one](..)[two](..), no separator)
    # so the flag-filter link pattern's fix for the consumed-prefix
    # adjacency bug stays exercised by the certified query itself.
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            m == 0,
            F.concat(
                F.lit("\n# Title A"), i,
                F.lit("\n## Sub B"), i,
                F.lit("\nsee [ref](http://l/r"), i,
                F.lit(") and ![pic](http://img/p"), i, F.lit(".png)"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(" [one](http://l/o"), i,
                F.lit(')[two](http://l/t'), i, F.lit(' "titled")'),
            ),
        )
        .when(m == 2, F.concat(F.lit("\n### Deep C"), i, F.lit(" ###")))
        .otherwise(F.lit("")),
    )
    links = extract_links(aug)
    heads = extract_headings(aug)
    return d.select(
        "doc_id",
        F.size(links).alias("n_links"),
        F.array_join(
            F.array_sort(F.transform(links, lambda s: s.getField("url"))), " "
        ).alias("link_urls"),
        F.array_join(
            F.array_sort(F.transform(links, lambda s: s.getField("text"))), " "
        ).alias("link_texts"),
        F.size(heads).alias("n_headings"),
        F.coalesce(
            F.array_min(F.transform(heads, lambda s: s.getField("level"))),
            F.lit(0),
        ).cast("int").alias("top_level"),
        F.array_join(
            F.array_sort(
                F.transform(
                    heads,
                    lambda s: F.concat(
                        s.getField("level").cast("string"),
                        F.lit(":"),
                        s.getField("title"),
                    ),
                )
            ),
            " | ",
        ).alias("headings"),
    )


# DuckDB (RE2) rendering of the identical augmentation + patterns:
# the link pattern CAPTURES an optional '!' and image matches are
# index-filtered out (RE2 has no lookbehind, and a consumed-prefix
# exclusion drops the second of two adjacent links in BOTH engines);
# heading anchors are the explicit (^|\n)+[^\n] form because Java's
# (?m) recognizes more line terminators than RE2.
_MD_LINKS_HEADINGS_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         COALESCE(text, '') || CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN chr(10) || '# Title A' || doc_id::VARCHAR
                || chr(10) || '## Sub B' || doc_id::VARCHAR
                || chr(10) || 'see [ref](http://l/r' || doc_id::VARCHAR
                || ') and ![pic](http://img/p' || doc_id::VARCHAR || '.png)'
           WHEN 1 THEN ' [one](http://l/o' || doc_id::VARCHAR
                || ')[two](http://l/t' || doc_id::VARCHAR || ' "titled")'
           WHEN 2 THEN chr(10) || '### Deep C' || doc_id::VARCHAR || ' ###'
           ELSE '' END AS b
  FROM documents
),
ex AS (
  SELECT doc_id,
         regexp_extract_all(b, '(!?)\[([^\]]*)\]\(([^)\s]+)[^)]*\)', 1) AS lflags,
         regexp_extract_all(b, '(!?)\[([^\]]*)\]\(([^)\s]+)[^)]*\)', 3) AS urls0,
         regexp_extract_all(b, '(!?)\[([^\]]*)\]\(([^)\s]+)[^)]*\)', 2) AS txts0,
         regexp_extract_all(b, '(^|\n)(#{1,6})[ \t]+([^\n]+)', 2) AS marks,
         regexp_extract_all(b, '(^|\n)(#{1,6})[ \t]+([^\n]+)', 3) AS titles
  FROM aug
),
fx AS (
  SELECT doc_id, marks, titles,
         list_transform(
           list_filter(range(1, len(lflags) + 1), j -> lflags[j] = ''),
           j -> urls0[j]) AS urls,
         list_transform(
           list_filter(range(1, len(lflags) + 1), j -> lflags[j] = ''),
           j -> txts0[j]) AS txts
  FROM ex
)
SELECT doc_id,
       CAST(len(urls) AS INT) AS n_links,
       COALESCE(array_to_string(list_sort(urls), ' '), '') AS link_urls,
       COALESCE(array_to_string(list_sort(txts), ' '), '') AS link_texts,
       CAST(len(marks) AS INT) AS n_headings,
       CAST(COALESCE(list_min(list_transform(marks, m -> len(m))), 0) AS INT)
         AS top_level,
       COALESCE(array_to_string(list_sort(
         list_transform(range(1, len(marks) + 1),
                        j -> len(marks[j])::VARCHAR || ':' || titles[j])
       ), ' | '), '') AS headings
FROM fx
"""


def markdown_lists_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3–F5 oracle-slice extension #3 (VERDICT r12 item 6): LISTS
    (bullet + ordered), BLOCKQUOTES, and FENCED-CODE stripping over a
    deterministically markdown-augmented documents corpus — the next
    regex-expressible slice of the reference's markdown parse
    (handlers/comments.js:43-55) after markdown_extract_builtin
    (img-src + double-strip) and markdown_links_headings.  Fences are
    counted on the raw body, then STRIPPED before list/blockquote
    extraction — a bullet inside a fence is code, not a list item
    (markdown-it renders fences to <pre>, whose content the
    reference's double tag-strip removes).  Same shared Java/RE2
    regex subset as the heading pattern: explicit (^|\\n) anchoring,
    no lookbehind, no (?m).

    Not in QUERIES: its oracle parity is checked by
    tests/test_staged.py (dual transport).

    Scale: per-row regexp projection, whole-stage codegen, zero
    shuffles — same shape as the other markdown slices."""
    from chain_sync_spark.functions.text_funcs import (
        count_fenced_blocks,
        extract_blockquotes,
        extract_bullet_items,
        extract_ordered_items,
        strip_fenced_code,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id").cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    nl = "\n"
    # text coalesced to '' on BOTH sides, as in the sibling slices.
    # m == 2 puts a bullet, an ordered item and a quote INSIDE a
    # fence (must not extract) and one real bullet after it — the
    # strip-before-extract semantics stay exercised by the certified
    # query itself.
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            m == 0,
            F.concat(
                F.lit(nl + "- alpha "), i,
                F.lit(nl + "* beta "), i,
                F.lit(nl + "+ gamma "), i,
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(nl + "1. first "), i,
                F.lit(nl + "2) second "), i,
                F.lit(nl + "> quoted "), i,
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit(nl + "```" + nl + "- not a list" + nl + "1. nor this"
                      + nl + "> nor a quote" + nl + "```" + nl + "- real "),
                i,
            ),
        )
        .otherwise(F.lit("")),
    )
    stripped = strip_fenced_code(aug)
    bullets = extract_bullet_items(stripped)
    ordereds = extract_ordered_items(stripped)
    quotes = extract_blockquotes(stripped)
    return d.select(
        "doc_id",
        count_fenced_blocks(aug).cast("int").alias("n_fences"),
        F.size(bullets).alias("n_bullets"),
        F.array_join(F.array_sort(bullets), " | ").alias("bullet_items"),
        F.size(ordereds).alias("n_ordered"),
        F.array_join(F.array_sort(ordereds), " | ").alias("ordered_items"),
        F.size(quotes).alias("n_quotes"),
        F.array_join(F.array_sort(quotes), " | ").alias("quote_lines"),
    )


# DuckDB (RE2) rendering of the identical augmentation + patterns.
# NOTE regexp_replace needs the explicit 'g' flag — DuckDB replaces
# only the first match by default while Spark's regexp_replace is
# always global (a one-fence corpus hides the difference; a
# two-fence document diverges silently).
_MD_BLOCKS_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         COALESCE(text, '') || CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN chr(10) || '- alpha ' || doc_id::VARCHAR
                || chr(10) || '* beta ' || doc_id::VARCHAR
                || chr(10) || '+ gamma ' || doc_id::VARCHAR
           WHEN 1 THEN chr(10) || '1. first ' || doc_id::VARCHAR
                || chr(10) || '2) second ' || doc_id::VARCHAR
                || chr(10) || '> quoted ' || doc_id::VARCHAR
           WHEN 2 THEN chr(10) || '```' || chr(10) || '- not a list'
                || chr(10) || '1. nor this' || chr(10) || '> nor a quote'
                || chr(10) || '```' || chr(10) || '- real ' || doc_id::VARCHAR
           ELSE '' END AS b
  FROM documents
),
st AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(b, '```[^`]*```')) AS INT) AS n_fences,
         regexp_replace(b, '```[^`]*```', ' ', 'g') AS s
  FROM aug
)
SELECT doc_id, n_fences,
       CAST(len(regexp_extract_all(s, '(^|\n)[ \t]*([-*+])[ \t]+([^\n]+)', 3))
         AS INT) AS n_bullets,
       COALESCE(array_to_string(list_sort(
         regexp_extract_all(s, '(^|\n)[ \t]*([-*+])[ \t]+([^\n]+)', 3)
       ), ' | '), '') AS bullet_items,
       CAST(len(regexp_extract_all(s, '(^|\n)[ \t]*(\d{1,3})[.)][ \t]+([^\n]+)', 3))
         AS INT) AS n_ordered,
       COALESCE(array_to_string(list_sort(
         regexp_extract_all(s, '(^|\n)[ \t]*(\d{1,3})[.)][ \t]+([^\n]+)', 3)
       ), ' | '), '') AS ordered_items,
       CAST(len(regexp_extract_all(s, '(^|\n)[ \t]*>[ \t]?([^\n]+)', 2))
         AS INT) AS n_quotes,
       COALESCE(array_to_string(list_sort(
         regexp_extract_all(s, '(^|\n)[ \t]*>[ \t]?([^\n]+)', 2)
       ), ' | '), '') AS quote_lines
FROM st
"""


# the same augmentation + regex chains, rendered for DuckDB (RE2):
# patterns stay inside the Java/RE2 shared subset; '' escapes the
# single quotes the img-src char class needs
_MD_BUILTIN_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         COALESCE(text, '') || CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN ' ![a](http://img/a' || doc_id::VARCHAR
                || '.png) dup ![a](http://img/a' || doc_id::VARCHAR
                || '.png) <img src="http://img/b' || doc_id::VARCHAR
                || '.png"> done'
           WHEN 1 THEN ' see [docs](http://l/' || doc_id::VARCHAR
                || ') **bold** `code`'
           WHEN 2 THEN ' <img alt=''x'' src=''http://img/c' || doc_id::VARCHAR
                || '.gif''> t'
           ELSE '' END AS b
  FROM documents
),
imgs AS (
  SELECT doc_id, b,
         list_distinct(
           regexp_extract_all(b, '<img[^>]*src\s*=\s*["'']([^"'']+)["'']', 1)
           || regexp_extract_all(b, '!\[[^\]]*\]\(([^)\s]+)[^)]*\)', 1)
         ) AS srcs
  FROM aug
)
SELECT doc_id,
       CAST(len(srcs) AS INT) AS n_imgs,
       COALESCE(array_to_string(list_sort(srcs), ' '), '') AS img_srcs,
       substr(trim(regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(b, '<[^>]+>', ' ', 'g'),
                 '<[^>]+>', ' ', 'g'),
               '!\[[^\]]*\]\(([^)\s]+)[^)]*\)', ' ', 'g'),
             '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
           '[*_`#>~]+', ' ', 'g'),
         '\s+', ' ', 'g')), 1, 80) AS plain_head
FROM imgs
"""


# ---------------------------------------------------------------------------
# sync_round_digest — the engine family's first driver-visible
# end-to-end certificate (VERDICT r9 item 6)
# ---------------------------------------------------------------------------

# The digest derives a deterministic synthetic op stream from the
# orders table, runs the REAL batch engine (SyncEngine.run: classify →
# handlers → keyed parquet MERGEs → cursor commit, engine.py) over it
# for ~5 rounds, and fingerprints the final posts/accounts stores.
# The DuckDB oracle replays the upsert SEMANTICS in pure SQL — so a
# green row certifies the MERGE loop end-to-end (S9 upsert +
# within-batch last-wins, S11/A1 set-union vote accumulation, J1
# existence-probe timing against the maintained index, A2 last-active
# max, F9 latest-profile take_source), not just its pieces.
#
# Determinism contract of the generator:
#   * every op's ts = TS_BASE + block*86400 + seq — injective per
#     (block, seq); profile updates of one account can NEVER tie
#     (ts equality needs a block gap of 23 with a seq gap ≡ 0 mod 50,
#     mutually impossible), so "latest profile wins" is well-defined
#   * vote timing exercises all four probe cases: A lands after the
#     creation batch (counts), B lands in the creation batch at the
#     batch's first block (counts — the same-batch index refresh),
#     C targets a never-created post (dropped), D lands one batch
#     BEFORE creation (dropped forever — no retroactive replay)
#   * year/month partition values are deliberately NOT emitted: they
#     pass through F.year(ts) in the DRIVER's session timezone, which
#     this repo does not control; everything emitted (titles, sorted
#     vote sets, epoch seconds) is timezone-independent
#
# Scale note: the store dir is a per-sf temp directory wiped at query
# start and left on disk afterwards (the returned DataFrame reads the
# final parquet stores lazily — no driver-side collect of table
# contents anywhere).

SYNC_DIGEST_POST_MOD = 100   # orders with o_orderkey % MOD == 0 seed posts
SYNC_DIGEST_BLOCKS = 50      # ops span blocks [0, 50)
SYNC_DIGEST_BATCH = 10       # engine batch size → 5 rounds
SYNC_DIGEST_N_ACCOUNTS = 23  # account names cycle acct0..acct22
SYNC_DIGEST_TS_BASE = 1_700_000_000


def _digest_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic op stream (block_num, ts, op_type, op-json) —
    a pure projection of the orders table, recomputed per batch
    filter; every branch below has a verbatim CTE twin in
    _SYNC_DIGEST_ORACLE."""
    NA = SYNC_DIGEST_N_ACCOUNTS
    s = F.col("seq")
    seqs = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % SYNC_DIGEST_POST_MOD == 0)
        .select(
            (F.col("o_orderkey") / SYNC_DIGEST_POST_MOD).cast("long").alias("seq")
        )
    )

    def acct(expr):
        return F.concat(F.lit("acct"), (expr % NA).cast("string"))

    def rows(df, block, op_type, payload):
        blk = block.cast("long")
        return df.select(
            blk.alias("block_num"),
            F.timestamp_seconds(
                F.lit(SYNC_DIGEST_TS_BASE) + blk * 86400 + s
            ).alias("ts"),
            F.lit(op_type).alias("op_type"),
            F.to_json(payload).alias("op"),
        )

    def comment(title_suffix, body_prefix):
        return F.struct(
            acct(s).alias("author"),
            F.concat(F.lit("p"), s.cast("string")).alias("permlink"),
            F.lit("").alias("parent_author"),
            F.concat(F.lit("cat"), (s % 5).cast("string")).alias("parent_permlink"),
            F.concat(F.lit("title-"), s.cast("string"), F.lit(title_suffix)).alias("title"),
            F.concat(F.lit(body_prefix), s.cast("string")).alias("body"),
            F.lit("").alias("json_metadata"),  # → tags [], image [] defaults
        )

    def vote(voter_shift, weight_expr, author_col, permlink_col):
        return F.struct(
            acct(s + voter_shift).alias("voter"),
            author_col.alias("author"),
            permlink_col.alias("permlink"),
            weight_expr.cast("int").alias("weight"),
        )

    own = (acct(s), F.concat(F.lit("p"), s.cast("string")))
    create = rows(seqs, s % 40, "comment", comment("-v1", "plain body "))
    update = rows(
        seqs.filter(s % 3 == 0), F.lit(40) + (s % 9), "comment",
        comment("-v2", "updated body "),
    )
    vote_a = rows(  # after the creation batch → always counts
        seqs, F.lit(40) + (s % 10), "vote",
        vote(5, F.when(s % 4 != 0, 100).otherwise(-100), *own),
    )
    vote_b = rows(  # creation batch, first block → same-batch resolve
        seqs, (s % 40) - ((s % 40) % 10), "vote",
        vote(11, F.when((s + 1) % 5 != 0, 100).otherwise(-100), *own),
    )
    vote_c = rows(  # never-created post → dropped, still bumps voter
        seqs, s % SYNC_DIGEST_BLOCKS, "vote",
        vote(17, F.lit(100), F.lit("ghost"), F.concat(F.lit("g"), s.cast("string"))),
    )
    vote_d = rows(  # one batch BEFORE creation → dropped forever
        seqs.filter((s % 40) >= 10), (s % 40) - 10, "vote",
        vote(7, F.lit(100), *own),
    )
    accup = rows(
        seqs.filter(s % 5 == 0), s % SYNC_DIGEST_BLOCKS, "account_update",
        F.struct(
            acct(s).alias("account"),
            F.concat(
                F.lit('{"profile": {"name": "nm'), s.cast("string"),
                F.lit('", "about": "ab'), s.cast("string"), F.lit('"}}'),
            ).alias("json_metadata"),
        ),
    )
    out = create
    for part in (update, vote_a, vote_b, vote_c, vote_d, accup):
        out = out.unionByName(part)
    return out


def sync_round_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the real SyncEngine over the deterministic op stream and
    emit the final-store fingerprint: one row per post (title after
    last-wins upserts, sorted up/downvote sets after cross-round
    set_union, final timestamp) and one row per account (last_active
    max, latest profile).  Uniform all-string digest schema so posts
    and accounts union into one relation."""
    import hashlib
    import os
    import shutil
    import tempfile

    from chain_sync_spark.sync.engine import SyncEngine

    store = os.path.join(
        tempfile.gettempdir(),
        "chain_sync_spark_digest",
        hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    if os.path.exists(store):
        shutil.rmtree(store)  # fresh deterministic run per invocation
    engine = SyncEngine(spark, store)
    engine.run(_digest_ops(spark, sf_dir), batch_size=SYNC_DIGEST_BATCH)

    posts = spark.read.parquet(engine.posts_dir)
    accounts = spark.read.parquet(engine.accounts_dir)
    join_sorted = lambda c: F.coalesce(  # noqa: E731 — local shorthand
        F.array_join(F.array_sort(F.col(c)), ","), F.lit("")
    )
    post_rows = posts.select(
        F.lit("post").alias("entity"),
        F.concat("author", F.lit("/"), "permlink").alias("k"),
        F.col("text_title").alias("v1"),
        join_sorted("upvotes").alias("v2"),
        join_sorted("downvotes").alias("v3"),
        F.unix_timestamp("timestamp").cast("string").alias("v4"),
    )
    acct_rows = accounts.select(
        F.lit("account").alias("entity"),
        F.col("name").alias("k"),
        F.unix_timestamp("last_active").cast("string").alias("v1"),
        F.col("profile.name").alias("v2"),
        F.col("profile.about").alias("v3"),
        F.lit(None).cast("string").alias("v4"),
    )
    return post_rows.unionByName(acct_rows)


_SYNC_DIGEST_ORACLE = f"""
WITH seqs AS (
  SELECT CAST(o_orderkey // {SYNC_DIGEST_POST_MOD} AS BIGINT) AS s
  FROM orders WHERE o_orderkey % {SYNC_DIGEST_POST_MOD} = 0
),
posts AS (
  SELECT s,
         'acct' || CAST(s % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR) AS author,
         'p' || CAST(s AS VARCHAR) AS permlink,
         CASE WHEN s % 3 = 0 THEN 'title-' || CAST(s AS VARCHAR) || '-v2'
              ELSE 'title-' || CAST(s AS VARCHAR) || '-v1' END AS text_title,
         CASE WHEN s % 3 = 0
              THEN {SYNC_DIGEST_TS_BASE} + (40 + (s % 9)) * 86400 + s
              ELSE {SYNC_DIGEST_TS_BASE} + (s % 40) * 86400 + s
         END AS ts_final
  FROM seqs
),
counted_votes AS (
  -- vote A: lands after the creation batch, always counts
  SELECT s, 'acct' || CAST((s + 5) % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR) AS voter,
         CASE WHEN s % 4 <> 0 THEN 100 ELSE -100 END AS weight
  FROM seqs
  UNION ALL
  -- vote B: creation batch, first block — counts via the same-batch
  -- index refresh.  Votes C (ghost post) and D (batch before
  -- creation) are dropped by the existence probe and appear only in
  -- the activity relation below.
  SELECT s, 'acct' || CAST((s + 11) % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR),
         CASE WHEN (s + 1) % 5 <> 0 THEN 100 ELSE -100 END
  FROM seqs
),
upv AS (
  SELECT s, string_agg(voter, ',' ORDER BY voter) AS val
  FROM (SELECT DISTINCT s, voter FROM counted_votes WHERE weight > 0)
  GROUP BY s
),
dnv AS (
  SELECT s, string_agg(voter, ',' ORDER BY voter) AS val
  FROM (SELECT DISTINCT s, voter FROM counted_votes WHERE weight <= 0)
  GROUP BY s
),
acts AS (
  SELECT 'acct' || CAST(s % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR) AS name,
         {SYNC_DIGEST_TS_BASE} + (s % 40) * 86400 + s AS e FROM seqs
  UNION ALL
  SELECT 'acct' || CAST(s % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR),
         {SYNC_DIGEST_TS_BASE} + (40 + (s % 9)) * 86400 + s
  FROM seqs WHERE s % 3 = 0
  UNION ALL
  SELECT 'acct' || CAST((s + 5) % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR),
         {SYNC_DIGEST_TS_BASE} + (40 + (s % 10)) * 86400 + s FROM seqs
  UNION ALL
  SELECT 'acct' || CAST((s + 11) % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR),
         {SYNC_DIGEST_TS_BASE} + ((s % 40) - ((s % 40) % 10)) * 86400 + s
  FROM seqs
  UNION ALL
  SELECT 'acct' || CAST((s + 17) % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR),
         {SYNC_DIGEST_TS_BASE} + (s % {SYNC_DIGEST_BLOCKS}) * 86400 + s
  FROM seqs
  UNION ALL
  SELECT 'acct' || CAST((s + 7) % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR),
         {SYNC_DIGEST_TS_BASE} + ((s % 40) - 10) * 86400 + s
  FROM seqs WHERE (s % 40) >= 10
  UNION ALL
  SELECT 'acct' || CAST(s % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR),
         {SYNC_DIGEST_TS_BASE} + (s % {SYNC_DIGEST_BLOCKS}) * 86400 + s
  FROM seqs WHERE s % 5 = 0
),
last_active AS (SELECT name, MAX(e) AS la FROM acts GROUP BY name),
profiles AS (
  SELECT name, 'nm' || CAST(s AS VARCHAR) AS pn, 'ab' || CAST(s AS VARCHAR) AS pa
  FROM (
    SELECT 'acct' || CAST(s % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR) AS name, s,
           ROW_NUMBER() OVER (
             PARTITION BY s % {SYNC_DIGEST_N_ACCOUNTS}
             ORDER BY {SYNC_DIGEST_TS_BASE} + (s % {SYNC_DIGEST_BLOCKS}) * 86400 + s DESC
           ) AS rn
    FROM seqs WHERE s % 5 = 0
  ) WHERE rn = 1
)
SELECT 'post' AS entity, author || '/' || permlink AS k,
       text_title AS v1,
       COALESCE(u.val, '') AS v2,
       COALESCE(d.val, '') AS v3,
       CAST(ts_final AS VARCHAR) AS v4
FROM posts p LEFT JOIN upv u USING (s) LEFT JOIN dnv d USING (s)
UNION ALL
SELECT 'account', name, CAST(la AS VARCHAR), pn, pa, CAST(NULL AS VARCHAR)
FROM last_active LEFT JOIN profiles USING (name)
"""


def sync_mutings_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL community-mutings side-job (sync/mutings.py —
    reference handle_mutings.js, entry point 4) over a deterministic
    posts store and emit the final per-post muting state — the
    driver-certifiable digest that converts the four pytest-only
    coverage rows (P9 muted-role filter, J4 two-key update join, S10
    update-by-query sink, the periodic side-job) into hash rows, the
    way sync_round_digest did for the main loop.

    Three job executions against one store: mute idx%3 accounts in
    community cat1, mute idx%4 accounts in cat2, then REPLAY the
    cat1 snapshot verbatim — the replay must be a no-op (idempotent
    redelivery), which the digest certifies because the oracle
    derives the final state from single applications only.

    Not in QUERIES: its oracle parity is checked by
    tests/test_staged.py (dual transport).

    Scale: the job snapshots the roles relation once, broadcasts the
    muted set, and issues ONE partition-pruned MERGE per community —
    no per-account update queries (the reference's update_by_query
    per account shape would be one round-trip per muted account)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from chain_sync_spark.sync.mutings import apply_community_mutings

    NA = SYNC_DIGEST_N_ACCOUNTS
    store = os.path.join(
        tempfile.gettempdir(),
        "chain_sync_spark_mutdigest",
        hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    if os.path.exists(store):
        shutil.rmtree(store)  # fresh deterministic run per invocation
    posts_dir = os.path.join(store, "posts")

    s = F.col("seq")
    seqs = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % SYNC_DIGEST_POST_MOD == 0)
        .select(
            (F.col("o_orderkey") / SYNC_DIGEST_POST_MOD).cast("long").alias("seq")
        )
    )
    # complete schema from the first write (typed False, not absent):
    # partitioned merges rewrite only touched partitions, so a column
    # introduced by a later merge would reach only those partitions
    # (merge_parquet docstring NB)
    (
        seqs.select(
            s.alias("post_id"),
            F.concat(F.lit("acct"), (s % NA).cast("string")).alias("author"),
            F.concat(F.lit("cat"), (s % 5).cast("string")).alias("parent_permlink"),
            (F.lit(2020) + (s % 3)).cast("int").alias("year"),
            (F.lit(1) + (s % 12)).cast("int").alias("month"),
            F.lit(False).alias("muted_in_community"),
        )
        .write.mode("overwrite")
        .partitionBy("year", "month")
        .parquet(posts_dir)
    )

    def role_snapshot(mod: int) -> DataFrame:
        idx = F.col("id")
        return spark.range(NA).select(
            F.concat(F.lit("acct"), idx.cast("string")).alias("account"),
            F.when(idx % mod == 0, F.lit("muted"))
            .otherwise(F.lit("member"))
            .alias("role"),
        )

    # mods 3/4 (not rarer) so even the sparse sf0.001 orderkey set
    # yields muted posts in both communities — an all-False store
    # would vacuously parity-match a symmetrically-wrong oracle
    apply_community_mutings(spark, posts_dir, role_snapshot(3), "cat1")
    apply_community_mutings(spark, posts_dir, role_snapshot(4), "cat2")
    # periodic-job replay: identical snapshot, must not change state
    apply_community_mutings(spark, posts_dir, role_snapshot(3), "cat1")

    return spark.read.parquet(posts_dir).select(
        "post_id",
        "author",
        F.col("parent_permlink").alias("community"),
        F.col("muted_in_community").alias("muted"),
    )


_MUTINGS_DIGEST_ORACLE = f"""
WITH seqs AS (
  SELECT CAST(o_orderkey // {SYNC_DIGEST_POST_MOD} AS BIGINT) AS s
  FROM orders WHERE o_orderkey % {SYNC_DIGEST_POST_MOD} = 0
)
SELECT s AS post_id,
       'acct' || CAST(s % {SYNC_DIGEST_N_ACCOUNTS} AS VARCHAR) AS author,
       'cat' || CAST(s % 5 AS VARCHAR) AS community,
       (s % 5 = 1 AND (s % {SYNC_DIGEST_N_ACCOUNTS}) % 3 = 0)
       OR (s % 5 = 2 AND (s % {SYNC_DIGEST_N_ACCOUNTS}) % 4 = 0) AS muted
FROM seqs
"""


QUERIES = {
    "sync_metadata_double_decode": sync_metadata_double_decode,
    "sync_vote_set_accumulation": sync_vote_set_accumulation,
    "sync_account_last_active": sync_account_last_active,
    "sync_stock_image_hashtags": sync_stock_image_hashtags,
    "sync_markdown_parse": sync_markdown_parse,
    "markdown_extract_builtin": markdown_extract_builtin,
    # the sync engine's end-to-end certificate
    "sync_round_digest": sync_round_digest,
    # the markdown links+headings oracle slice of F3-F5
    # (handlers/comments.js:43-55)
    "markdown_links_headings": markdown_links_headings,
}

ORACLE = {
    "sync_metadata_double_decode": f"""
        WITH t(author, permlink, raw) AS (VALUES {_sql_values(_META_ROWS)}),
        u AS (
          SELECT author, permlink,
                 CASE WHEN raw IS NOT NULL AND json_valid(raw) AND json_type(raw::JSON) = 'VARCHAR'
                      THEN raw->>'$' ELSE raw END AS unwrapped
          FROM t
        )
        SELECT md5(author || '/' || permlink) AS doc_key,
               COALESCE(CASE WHEN json_valid(unwrapped) THEN json_extract(unwrapped, '$.tags')::VARCHAR END, '[]') AS tags_json,
               COALESCE(CASE WHEN json_valid(unwrapped) THEN json_extract(unwrapped, '$.image')::VARCHAR END, '[]') AS image_json
        FROM u
    """,
    "sync_vote_set_accumulation": f"""
        WITH votes(voter, author, permlink, weight) AS (VALUES {_sql_values(_VOTE_ROWS)}),
        posts(author, permlink) AS (VALUES {_sql_values(_POST_ROWS)}),
        keyed AS (
          SELECT md5(v.author || '/' || v.permlink) AS doc_key, voter, weight
          FROM votes v
          WHERE EXISTS (SELECT 1 FROM posts p
                        WHERE p.author = v.author AND p.permlink = v.permlink)
        )
        SELECT doc_key,
               COALESCE(array_to_string(list(DISTINCT voter ORDER BY voter) FILTER (WHERE weight > 0), ','), '') AS upvotes,
               COALESCE(array_to_string(list(DISTINCT voter ORDER BY voter) FILTER (WHERE weight <= 0), ','), '') AS downvotes
        FROM keyed GROUP BY doc_key
    """,
    "sync_account_last_active": f"""
        WITH t(name, ts, kind) AS (VALUES {_sql_values(_ACTIVITY_ROWS)})
        SELECT name, MAX(CAST(ts AS TIMESTAMP)) AS last_active, COUNT(*) AS n_ops
        FROM t GROUP BY name
    """,
    "sync_stock_image_hashtags": f"""
        WITH t(id, body) AS (VALUES {_sql_values(_BODY_ROWS)})
        SELECT id,
               CASE WHEN contains(body, '!update-stock-image-tags') THEN
                 COALESCE(array_to_string(
                   list_transform(
                     list_filter(string_split(replace(body, chr(10), ' ' || chr(10) || ' '), ' '),
                                 tok -> tok LIKE '#_%'),
                     tok -> lower(substr(tok, 2, 1000))), ' '), '')
               END AS stock_tags
        FROM t
    """,
    "markdown_extract_builtin": _MD_BUILTIN_ORACLE,
    "sync_round_digest": _SYNC_DIGEST_ORACLE,
    "markdown_links_headings": _MD_LINKS_HEADINGS_ORACLE,
}

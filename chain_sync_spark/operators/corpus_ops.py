"""Corpus-preparation operators (⊕ family, round 3 continuation).

Four more operators a production LLM data pipeline runs at corpus
scale, beyond operators/llm_pipeline.py and pipeline_extras.py:
context-window chunking with overlap, TF-IDF keyword extraction,
n-gram language-model statistics, and incremental (new-batch vs
historical-corpus) deduplication.  Reference parity: the reference
engine has no analog; mandated by the north-star ⊕ scope
(SURVEY.md §2.8).

Cross-engine determinism: scores that would conventionally use
``log`` (TF-IDF) are computed log-free as one exact-integer product
cast to double divided by one exact-integer denominator — a single
IEEE division matches bit-for-bit across engines, whereas JVM
``Math.log`` and libm ``log`` may differ in the last ulp.  All
hashes are md5 hex (identical in Spark and DuckDB).

Scale design: chunking is per-row generate+explode (zero shuffles);
TF-IDF is two hash aggregations plus one term-keyed join (the df
relation is vocabulary-sized — it shuffles on term, it is NOT
broadcast); the bigram LM is one hash aggregation plus a per-head
window; incremental dedup is one hash-keyed anti join against the
historical fingerprint set plus an in-batch first-wins window.
Nothing quadratic, no all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chain_sync_spark.functions import sketches as sk
from chain_sync_spark.operators.incremental import HIST_RANGE
from chain_sync_spark.tables import table

_NORM_CTE = f"""
docs_words AS (
  SELECT doc_id, text, lang, source, n_chars,
         {sk.WORDS_SQL.format(c=sk.NORMALIZE_SQL.format(c='text'))} AS w
  FROM documents
)"""


def _docs_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.withColumn("w", sk.words(sk.normalize_text(F.col("text"))))


# Shared bigram generation — ONE definition for every bigram consumer
# (ngram_lm_topk, lm_known_bigram_score) in both engines, so a
# tokenization-edge fix lands everywhere at once.
_PAIRS_CTE = """pairs AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM docs_words, UNNEST(range(1, GREATEST(len(w), 1))) AS u(i)
)"""


def _bigram_pairs(d: DataFrame, *cols: str) -> DataFrame:
    """(w1, w2) bigram rows from a docs_words relation, keeping *cols.
    Per-row generation over the token array — no join, no shuffle."""
    bigrams = F.expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)),"
        " (x, i) -> struct(x AS w1, element_at(w, i + 2) AS w2))"
    )
    return d.select(*cols, F.explode(bigrams).alias("b")).select(
        *cols, "b.w1", "b.w2"
    )


# ---------------------------------------------------------------------------
# 1. Context-window chunking with overlap
# ---------------------------------------------------------------------------

CHUNK_WINDOW = 120
CHUNK_STRIDE = 90


def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping character windows
    (window CHUNK_WINDOW, stride CHUNK_STRIDE) — the chunking stage
    in front of an embedding or retrieval pipeline.  Offsets come
    from ``sequence(0, n_chars-1, stride)`` exploded per row; each
    chunk row carries its index, offset, length, and md5 (the row
    stays narrow — downstream stages re-slice the text by offset).

    Scale: generate+explode is per-row column work, zero shuffles;
    output size is a constant factor of input size (window/stride).
    The tail chunk is naturally shorter (substring clamps — same
    semantics in both engines)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    offs = F.sequence(
        F.lit(0).cast("long"),
        (F.col("n_chars") - F.lit(1)).cast("long"),
        F.lit(CHUNK_STRIDE).cast("long"),
    )
    chunk = F.substring(F.col("text"), F.col("chunk_off") + 1, F.lit(CHUNK_WINDOW))
    return (
        d.select("doc_id", "text", F.posexplode(offs).alias("chunk_idx", "chunk_off"))
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_off",
            F.length(chunk).alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


_CHUNK_ORACLE = f"""
SELECT doc_id,
       CAST(chunk_off // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       chunk_off,
       CAST(LENGTH(SUBSTR(text, chunk_off + 1, {CHUNK_WINDOW})) AS INT) AS chunk_len,
       MD5(SUBSTR(text, chunk_off + 1, {CHUNK_WINDOW})) AS chunk_md5
FROM documents, UNNEST(range(0, GREATEST(n_chars, 1), {CHUNK_STRIDE})) AS u(chunk_off)
"""


# ---------------------------------------------------------------------------
# 2. TF-IDF keyword extraction (log-free, cross-engine exact)
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K terms per document by a log-free TF-IDF variant:
    ``score = tf · (N+1) / (df+1)`` — the standard idf fraction
    without the log wrapper, so the score is one exact bigint product
    divided by one exact bigint (single IEEE division; see module
    docstring).  Ranking is unaffected for per-document comparisons
    (log is monotone in the fraction).

    Plan: explode → (doc, term) count [shuffle 1] → df via
    skew.attach_group_count over the ALREADY-AGGREGATED tf relation
    [shuffle 2: a map-side-combinable groupBy count joined back on
    term — no second scan of the corpus, and unlike the earlier
    ``COUNT(*) OVER (PARTITION BY term)`` a stopword term cannot pin
    its whole posting list in one unsplittable window task; the
    vocabulary-sized count relation is AQE-broadcastable] →
    corpus-size 1-row aggregate broadcast → per-doc top-K window
    [shuffle 3, bounded by doc vocabulary].  Round-10 hardening swap;
    value-identity pinned by tests/test_scale_patterns.py and
    re-certified against the DuckDB oracle."""
    from chain_sync_spark.operators.skew import attach_group_count

    tok = _docs_words(spark, sf_dir).select(
        "doc_id", F.explode("w").alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        attach_group_count(tf, ["term"], "df")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * (F.col("n_docs") + 1)).cast("double")
            / (F.col("df") + 1).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", F.col("rn").alias("rank"))
    )


_TFIDF_ORACLE = f"""
WITH {_NORM_CTE},
tok AS (SELECT doc_id, UNNEST(w) AS term FROM docs_words),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, score, rank
FROM (
  SELECT doc_id, term, tf, df,
         CAST(tf * (n_docs + 1) AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY CAST(tf * (n_docs + 1) AS DOUBLE) / CAST(df + 1 AS DOUBLE) DESC,
                    term ASC
         ) AS INT) AS rank
  FROM tf JOIN df USING (term), n
)
WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# 3. Bigram language-model statistics (top-K continuations per head)
# ---------------------------------------------------------------------------

LM_TOP_K = 3


def ngram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts with the top-K continuations and their
    conditional probability per head word — the count-collection
    stage of an n-gram LM (or of n-gram novelty/quality scoring).

    ``p(w2|w1) = cnt(w1,w2) / cnt(w1,·)`` is emitted as BIGINT
    micro-units from pure integer arithmetic (sketches.ratio_micros —
    the round-5 boundary contract, VERDICT r4 item 1); the head total
    is computed over the already-aggregated bigram relation BEFORE
    top-K filtering.

    Plan: per-row bigram generation (transform over the token array,
    no join) → one hash aggregation on (w1, w2) [map-side
    combinable] → head totals as a groupBy-sum joined back on w1
    (hash join, AQE-splittable) → per-head top-K through a
    (w1, hash-bucket) phase-1 window + bounded per-head phase 2
    (r11 hardening: the relation is vocabulary²-bounded, but a hot
    HEAD's continuation list is vocabulary-sized — 'the' pairs with
    everything — so the old single per-head window pinned it in one
    task; both swaps are value-identical, w2 is the unique
    tiebreak)."""
    from chain_sync_spark.operators.skew import _GTK_MID_BUCKETS

    pairs = _bigram_pairs(_docs_words(spark, sf_dir))
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    heads = counts.groupBy("w1").agg(F.sum("cnt").alias("head_total"))
    w_mid = Window.partitionBy("w1", "mid").orderBy(
        F.desc("cnt"), F.asc("w2")
    )
    w_rank = Window.partitionBy("w1").orderBy(F.desc("cnt"), F.asc("w2"))
    return (
        counts.withColumn(
            "mid", F.pmod(F.xxhash64("w2"), F.lit(_GTK_MID_BUCKETS))
        )
        .withColumn("mrn", F.row_number().over(w_mid))
        .filter(F.col("mrn") <= LM_TOP_K)
        .drop("mid", "mrn")
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= LM_TOP_K)
        .join(heads, "w1")
        .select(
            "w1",
            "w2",
            "cnt",
            "head_total",
            sk.ratio_micros("cnt", "head_total").alias("cond_p_micros"),
            F.col("rn").alias("rank"),
        )
    )


_LM_ORACLE = f"""
WITH {_NORM_CTE},
{_PAIRS_CTE},
counts AS (SELECT w1, w2, COUNT(*) AS cnt FROM pairs GROUP BY w1, w2)
SELECT w1, w2, cnt, head_total,
       {sk.ratio_micros_sql('cnt', 'head_total')} AS cond_p_micros, rank
FROM (
  SELECT w1, w2, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY w1) AS BIGINT) AS head_total,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY w1 ORDER BY cnt DESC, w2 ASC
         ) AS INT) AS rank
  FROM counts
)
WHERE rank <= {LM_TOP_K}
"""


# ---------------------------------------------------------------------------
# 4. Incremental dedup: new batch vs historical corpus
# ---------------------------------------------------------------------------

BATCH_MOD = 10       # doc_id % BATCH_MOD == 0  → the "new crawl" batch
RECRAWL_MOD = 7      # doc_id % RECRAWL_MOD == 0 → re-crawled duplicates
RECRAWL_ID_OFFSET = 100_000


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the shape every rolling crawl
    pipeline runs daily: drop new-batch documents whose content
    already exists in the historical corpus, and first-wins
    de-duplicate within the batch itself.

    The synthetic corpus has no duplicate texts, so the batch is
    built deterministically: docs with ``doc_id % 10 == 0`` are the
    genuinely-new crawl, and docs with ``doc_id % 7 == 0`` re-enter
    as "re-crawls" under offset ids — re-crawls of historical docs
    must be dropped by the anti join, re-crawls of in-batch docs by
    the first-wins window (lowest doc_id survives).

    Scale: the historical fingerprint set is corpus-sized — the anti
    join shuffles on the md5 key (NOT broadcast); in-batch
    first-wins runs through skew.keep_first_by_key — one
    map-side-combinable MIN(struct(doc_id, payload)) per content
    hash, NOT ``ROW_NUMBER() OVER (PARTITION BY content_md5)``: a
    boilerplate document re-crawled millions of times costs one
    candidate row per scan task in the shuffle instead of pinning
    its occurrence list in one unsplittable window task (round-10
    hardening swap; value-identity pinned by
    tests/test_scale_patterns.py — doc_id is unique within the
    batch, so MIN(struct) picks exactly the window's rn=1 row — and
    re-certified against the DuckDB oracle).  Both stages are
    linear; payload text never travels — only (id, lang, source,
    md5)."""
    from chain_sync_spark.operators.skew import keep_first_by_key

    docs = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % BATCH_MOD == 0
    fresh = docs.filter(is_new)
    recrawl = docs.filter(F.col("doc_id") % RECRAWL_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + RECRAWL_ID_OFFSET
    )
    batch = fresh.unionByName(recrawl).select(
        "doc_id", "lang", "source", F.md5("text").alias("content_md5")
    )
    old_hashes = (
        docs.filter(~is_new).select(F.md5("text").alias("content_md5")).distinct()
    )
    return keep_first_by_key(
        batch.join(old_hashes, "content_md5", "left_anti"),
        ["content_md5"],
        ["doc_id"],
    ).select("doc_id", "lang", "source", "content_md5")


_INCR_ORACLE = f"""
WITH batch AS (
  SELECT doc_id, lang, source, MD5(text) AS content_md5
  FROM documents WHERE doc_id % {BATCH_MOD} = 0
  UNION ALL
  SELECT doc_id + {RECRAWL_ID_OFFSET}, lang, source, MD5(text)
  FROM documents WHERE doc_id % {RECRAWL_MOD} = 0
),
old AS (
  SELECT DISTINCT MD5(text) AS content_md5
  FROM documents WHERE doc_id % {BATCH_MOD} <> 0
)
SELECT doc_id, lang, source, content_md5
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
  FROM batch
  WHERE content_md5 NOT IN (SELECT content_md5 FROM old)
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# 5. Incremental NEAR-dup: new batch vs historical corpus (MinHash-LSH)
# ---------------------------------------------------------------------------

NEARDUP_NEW_MOD = 5   # doc_id % NEARDUP_NEW_MOD == 0 → the "new crawl"


def neardup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-duplicate screening — dedup_incremental_batch's
    fuzzy sibling: flag each new-batch document whose MinHash band
    signature collides with (and whose exact shingle Jaccard confirms
    against) either a historical-corpus document or a smaller-id
    in-batch document. Output per shingle-eligible new doc: is_dup +
    the smallest matching historical/in-batch id (dup_of, NULL when
    unique).

    In production the corpus band relation (doc_id, band_idx, bkey)
    is the STORED index — only the daily batch computes signatures
    and probes it; here both sides derive from the same table with a
    deterministic doc_id % {NEARDUP_NEW_MOD} split so the DuckDB
    oracle reproduces the run exactly.

    Scale: probe join is keyed on uniform (band_idx, band_hash) —
    O(batch · collisions); the exact-Jaccard verify touches candidate
    ids only. The historical side never rewrites; appending the new
    survivors' bands IS the index maintenance.
    """
    from chain_sync_spark.operators.llm_pipeline import (
        CLUSTER_MIN_JACCARD,
        N_BANDS,
        N_MINHASH,
        ROWS_PER_BAND,
        _docs_shingled,
        _scoped_persist,
        release_caches,
    )

    release_caches()
    is_new = F.col("doc_id") % NEARDUP_NEW_MOD == 0
    # signed pin — the probe/index band self-join consumes the
    # signature fold on both sides, so with the pin below the fold it
    # ran twice (the neardup_minhash_bands duplication; see that
    # docstring's measurement and plan evidence)
    shingled = _scoped_persist(
        _docs_shingled(spark, sf_dir)
        .withColumn("is_new", is_new)
        .withColumn("sig", sk.minhash_sigs(F.col("sh"), N_MINHASH))
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.element_at("sig", b * ROWS_PER_BAND + r + 1)
                    for r in range(ROWS_PER_BAND)
                ],
            )
        )
        for b in range(N_BANDS)
    ]
    bands = shingled.select(
        "doc_id", "is_new", F.posexplode(F.array(*band_cols)).alias("band_idx", "bkey")
    )
    probe = bands.filter(F.col("is_new")).alias("b")
    index = bands.alias("a")
    cand = (
        index.join(
            probe,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (~F.col("a.is_new") | (F.col("a.doc_id") < F.col("b.doc_id"))),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa, sb = shingled.alias("sa"), shingled.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    dups = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter((inter / union) >= CLUSTER_MIN_JACCARD)
        .groupBy("doc_b")
        .agg(F.min("doc_a").alias("dup_of"))
    )
    return (
        shingled.filter(F.col("is_new"))
        .select("doc_id")
        .join(dups, F.col("doc_id") == F.col("doc_b"), "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def _incr_neardup_oracle() -> str:
    from chain_sync_spark.operators.llm_pipeline import (
        _SHINGLE_CTE,
        CLUSTER_MIN_JACCARD,
        N_BANDS,
        N_MINHASH,
        ROWS_PER_BAND,
    )

    coeffs = sk.minhash_coeffs(N_MINHASH)
    sig_exprs = ",\n         ".join(
        f"{sk.minhash_sig_sql('sh', a, b)} AS sig_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, md5("
        + " || '|' || ".join(
            f"sig_{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        + ") AS bkey FROM sigs"
        for b in range(N_BANDS)
    )
    return f"""
WITH {_SHINGLE_CTE.lstrip()},
sigs AS (
  SELECT doc_id, sh,
         {sig_exprs}
  FROM sh
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bkey = b.bkey
   AND a.doc_id <> b.doc_id
   AND b.doc_id % {NEARDUP_NEW_MOD} = 0
   AND (a.doc_id % {NEARDUP_NEW_MOD} <> 0 OR a.doc_id < b.doc_id)
),
dups AS (
  SELECT doc_b, MIN(doc_a) AS dup_of
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        >= {CLUSTER_MIN_JACCARD}
  GROUP BY doc_b
)
SELECT s.doc_id, d.dup_of IS NOT NULL AS is_dup, d.dup_of
FROM sh s LEFT JOIN dups d ON s.doc_id = d.doc_b
WHERE s.doc_id % {NEARDUP_NEW_MOD} = 0
"""


# ---------------------------------------------------------------------------
# 6. LM-backed quality score: known-bigram ratio (round 4)
# ---------------------------------------------------------------------------

LM_MIN_COUNT = 30          # corpus occurrences for a bigram to count as "known"
LM_KEEP_MICROS = 500_000   # keep docs at >= this known-bigram micro-ratio


def lm_known_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-backed quality filter: score each document by
    the fraction of its bigrams that are "known" to the corpus LM
    (corpus count >= LM_MIN_COUNT) — the log-free stand-in for the
    perplexity filters production pipelines run (a doc whose n-grams
    the corpus model has never seen is noise/garble; one made
    entirely of stock n-grams is boilerplate).  The score is BIGINT
    micro-units from pure integer arithmetic (sketches.ratio_micros,
    the round-5 boundary contract) and ``keep`` derives from the
    integer.

    Plan: per-row bigram generation (no join) → corpus counts via
    groupBy(w1, w2) + join-back through score_against_lm — one
    arithmetic shared with the streaming probe and lm_probe_newdocs.
    Hardened from a count-over-(w1, w2) window in round 9 (the same
    skew class as the span family: "of the" at 100 TB is one
    unsplittable window task, while the aggregate map-side-combines
    to one row per distinct bigram and the join gets AQE
    broadcast/skew-split); self-scoring means every probe pair
    exists in the model, so the LEFT join is value-identical to the
    window form (re-verified against the unchanged oracle).  The
    per-doc aggregate is map-side combinable and the document text
    never travels past the first projection."""
    d = _docs_words(spark, sf_dir)
    counts = (
        _bigram_pairs(d, "doc_id")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return score_against_lm(counts, d)


_LM_SCORE_ORACLE = f"""
WITH {_NORM_CTE},
{_PAIRS_CTE},
counts AS (SELECT w1, w2, COUNT(*) AS cnt FROM pairs GROUP BY w1, w2)
SELECT doc_id, n_bigrams, n_known,
       {sk.ratio_micros_sql('n_known', 'n_bigrams')} AS known_micros,
       {sk.ratio_micros_sql('n_known', 'n_bigrams')} >= {LM_KEEP_MICROS}
         AS keep
FROM (
  SELECT p.doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(CASE WHEN cnt >= {LM_MIN_COUNT} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_known
  FROM pairs p JOIN counts USING (w1, w2)
  GROUP BY p.doc_id
)
"""


LM_PROBE_MOD = 5  # doc_id % MOD == 0 is the probe batch; rest is stored


def score_against_lm(counts: DataFrame, d: DataFrame) -> DataFrame:
    """The LM SERVING arithmetic, shared verbatim by the streaming
    probe (streaming/stream_sync.probe_lm) and its batch certifier
    (lm_probe_newdocs): score a docs_words relation ``d`` (doc_id, w)
    against a summed bigram-count relation ``counts`` (w1, w2, cnt).
    A bigram absent from the model reads count 0 through the LEFT
    join — the unknown-bigram path lm_known_bigram_score (which
    scores a corpus against itself, where every bigram has count
    >= 1) can never exercise.  Same integer output contract:
    (doc_id, n_bigrams, n_known, known_micros BIGINT, keep).

    Scale: ONE hash join of the batch's bigram rows against the
    model keyed (w1, w2) — AQE broadcasts a small model and
    skew-splits a hot bigram ("of the") — then a map-side-combinable
    per-doc aggregate; document text never travels past the first
    projection."""
    pairs = _bigram_pairs(d, "doc_id")
    micros = sk.ratio_micros("n_known", "n_bigrams")
    return (
        pairs.join(counts, ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                (F.coalesce("cnt", F.lit(0).cast("long")) >= LM_MIN_COUNT)
                .cast("long")
            ).alias("n_known"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_known",
            micros.alias("known_micros"),
            (micros >= LM_KEEP_MICROS).alias("keep"),
        )
    )


def lm_probe_newdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch certifier of the streamed-LM SERVING path: the stored
    corpus (doc_id % {LM_PROBE_MOD} != 0) builds the bigram model,
    and every new-batch document (doc_id % {LM_PROBE_MOD} == 0) is
    scored against it through score_against_lm — exactly what
    streaming/stream_sync.probe_lm serves over a store maintained by
    run_stream_lm, so this query's driver green certifies the
    serving arithmetic including the unknown-bigram (count 0) path
    that the self-scoring form never hits.  A pytest pins this
    output equal to probe_lm over a stream-maintained store on the
    same split.  Output covers batch docs with >= 1 bigram.

    Scale: the model is one map-side-combined aggregate
    (vocabulary²-bounded, usually far smaller); the probe side is
    O(batch); see score_against_lm for the join shape."""
    d = _docs_words(spark, sf_dir)
    is_new = F.col("doc_id") % LM_PROBE_MOD == 0
    counts = (
        _bigram_pairs(d.filter(~is_new), "doc_id")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return score_against_lm(counts, d.filter(is_new))


_LM_PROBE_ORACLE = f"""
WITH {_NORM_CTE},
{_PAIRS_CTE},
counts AS (
  SELECT w1, w2, COUNT(*) AS cnt FROM pairs
  WHERE doc_id % {LM_PROBE_MOD} <> 0 GROUP BY w1, w2
)
SELECT doc_id, n_bigrams, n_known,
       {sk.ratio_micros_sql('n_known', 'n_bigrams')} AS known_micros,
       {sk.ratio_micros_sql('n_known', 'n_bigrams')} >= {LM_KEEP_MICROS}
         AS keep
FROM (
  SELECT p.doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(CASE WHEN COALESCE(c.cnt, 0) >= {LM_MIN_COUNT}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_known
  FROM pairs p LEFT JOIN counts c USING (w1, w2)
  WHERE p.doc_id % {LM_PROBE_MOD} = 0
  GROUP BY p.doc_id
)
"""


# ---------------------------------------------------------------------------
# 6b. Stupid Backoff LM score (Brants et al. 2007)
# ---------------------------------------------------------------------------

SB_ALPHA_NUM = 4   # backoff weight 0.4 as the exact rational 4/10
SB_ALPHA_DEN = 10


def lm_stupid_backoff_newdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff (Brants et al. 2007, "Large Language Models in
    Machine Translation") document scoring over the LM probe split —
    the graded upgrade of the binary known/unknown gate: each bigram
    of a new-batch document (doc_id % {LM_PROBE_MOD} == 0) scores
    S(w2|w1) = cnt(w1 w2)/cnt(w1) when the stored corpus has seen the
    bigram, else 0.4 x cnt(w2)/N (unigram backoff), else 0 — all in
    round-half-up BIGINT micros (0.4 carried as the exact rational
    {SB_ALPHA_NUM}/{SB_ALPHA_DEN}, so no float ever forms), and the
    document score is the round-half-up mean of its bigram micros.
    Output (doc_id, n_bigrams, n_backoff, sb_score_micros) over batch
    docs with >= 1 bigram; n_backoff counts bigrams absent from the
    bigram model (unigram and zero paths both).

    Scale: the model is two map-side-combined aggregates (bigram
    counts, vocabulary-bounded unigram counts) plus a ONE-ROW total
    broadcast by crossJoin; the probe side is one left hash join per
    model relation on the batch's bigram rows — AQE broadcasts small
    models and skew-splits hot keys, the same join shape as
    score_against_lm.  Overflow bound per ratio_micros: corpus token
    totals past ~4.6e12 widen the backoff denominator to DECIMAL —
    documented, not yet needed at test scale."""
    d = _docs_words(spark, sf_dir)
    is_new = F.col("doc_id") % LM_PROBE_MOD == 0
    stored = d.filter(~is_new)
    cnt2 = (
        _bigram_pairs(stored, "doc_id")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    uni = (
        stored.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    total = uni.agg(F.sum("c1").cast("long").alias("n_total"))
    pairs = (
        _bigram_pairs(d.filter(is_new), "doc_id")
        .join(cnt2, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("tok").alias("w1"), F.col("c1").alias("c1_w1")),
            "w1",
            "left",
        )
        .join(
            uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c1_w2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(total))
    )
    s = F.when(
        F.col("c2").isNotNull(), sk.ratio_micros("c2", "c1_w1")
    ).otherwise(
        F.when(
            F.col("c1_w2").isNotNull(),
            sk.ratio_micros(
                f"c1_w2 * {SB_ALPHA_NUM}", f"n_total * {SB_ALPHA_DEN}"
            ),
        ).otherwise(F.lit(0).cast("long"))
    )
    per_doc = (
        pairs.select(
            "doc_id",
            s.alias("s_micros"),
            F.col("c2").isNull().cast("long").alias("backed_off"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("backed_off").alias("n_backoff"),
            F.sum("s_micros").alias("sum_micros"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_backoff",
        sk.ratio_micros("sum_micros", "n_bigrams", digits=0).alias(
            "sb_score_micros"
        ),
    )


_SB_ORACLE = f"""
WITH {_NORM_CTE},
{_PAIRS_CTE},
cnt2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM pairs
  WHERE doc_id % {LM_PROBE_MOD} <> 0 GROUP BY w1, w2
),
uni AS (
  SELECT tok, COUNT(*) AS c1
  FROM (SELECT unnest(w) AS tok FROM docs_words
        WHERE doc_id % {LM_PROBE_MOD} <> 0)
  GROUP BY tok
),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_total FROM uni),
scored AS (
  SELECT p.doc_id,
         CASE
           WHEN c.c2 IS NOT NULL THEN {sk.ratio_micros_sql('c.c2', 'u1.c1')}
           WHEN u2.c1 IS NOT NULL THEN
             {sk.ratio_micros_sql(f'u2.c1 * {SB_ALPHA_NUM}',
                                  f'n_total * {SB_ALPHA_DEN}')}
           ELSE 0
         END AS s_micros,
         CASE WHEN c.c2 IS NULL THEN 1 ELSE 0 END AS backed_off
  FROM pairs p
  LEFT JOIN cnt2 c USING (w1, w2)
  LEFT JOIN uni u1 ON p.w1 = u1.tok
  LEFT JOIN uni u2 ON p.w2 = u2.tok
  CROSS JOIN tot
  WHERE p.doc_id % {LM_PROBE_MOD} = 0
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(backed_off) AS BIGINT) AS n_backoff,
       {sk.ratio_micros_sql('SUM(s_micros)', 'COUNT(*)', digits=0)}
         AS sb_score_micros
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# 7. Sub-document segment dedup ratio (round 4)
# ---------------------------------------------------------------------------

SEG_WORDS = 3              # words per non-overlapping segment (prod: ~50)
SEG_FLAG_MICROS = 500_000  # flag docs above this duplicated-segment micro-ratio


def segment_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup — the segment-granularity sibling of
    whole-document dedup: cut every document into non-overlapping
    SEG_WORDS-word segments, count each segment's corpus-wide
    occurrences, and report per document how much of it is made of
    segments that appear elsewhere (boilerplate headers, licence
    blocks, templated spans).  Production runs this at ~50-token
    segments; the constant is scaled to the synthetic corpus's
    31-word vocabulary so the ratio distribution is non-degenerate.
    The ratio is BIGINT micro-units (sketches.ratio_micros, the
    round-5 boundary contract) and ``flagged`` derives from the
    integer.

    Plan: per-row segment generation (transform over the token
    array, zero joins) → explode → corpus occurrence counts via
    groupBy(seg_md5) + join-back [map-side combined to one row per
    distinct segment; a hot boilerplate segment's occurrence skew
    lands in a join AQE can split, where a count-over-window would
    pin the whole occurrence list in one task — hardened from the
    window form in round 9, value-identity re-verified] → per-doc
    aggregate [map-side combinable].  Only the 8-byte segment hash
    shuffles, never the text; nothing is quadratic — this is the
    same inverted-index shape as TF-IDF's df stage."""
    d = _docs_words(spark, sf_dir)
    segs = F.expr(
        f"transform(sequence(1, size(w) div {SEG_WORDS}),"
        f" i -> array_join(slice(w, (i - 1) * {SEG_WORDS} + 1, {SEG_WORDS}), ' '))"
    )
    # seg hash is ENGINE-INTERNAL (no output column carries it), so
    # native xxhash64 instead of md5 — the oracle marks duplicates
    # through its own md5 of the SAME segment string, so outputs
    # agree short of a 64-bit collision (parity re-verified)
    exploded = (
        d.filter(F.size("w") >= SEG_WORDS)
        .select("doc_id", F.explode(segs).alias("seg"))
        .select("doc_id", F.xxhash64("seg").alias("seg_h"))
    )
    counts = exploded.groupBy("seg_h").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    micros = sk.ratio_micros("dup_segs", "n_segs")
    return (
        exploded.join(counts, "seg_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum((F.col("cnt") >= 2).cast("long")).alias("dup_segs"),
        )
        .select(
            "doc_id",
            "n_segs",
            "dup_segs",
            micros.alias("dup_micros"),
            (micros > SEG_FLAG_MICROS).alias("flagged"),
        )
    )


_SEG_DEDUP_ORACLE = f"""
WITH {_NORM_CTE},
segs AS (
  SELECT doc_id,
         md5(array_to_string(w[i * {SEG_WORDS} + 1 : i * {SEG_WORDS} + {SEG_WORDS}],
                             ' ')) AS seg_md5
  FROM docs_words, UNNEST(range(0, len(w) // {SEG_WORDS})) AS u(i)
),
c AS (SELECT seg_md5, COUNT(*) AS cnt FROM segs GROUP BY seg_md5)
SELECT doc_id, n_segs, dup_segs,
       {sk.ratio_micros_sql('dup_segs', 'n_segs')} AS dup_micros,
       {sk.ratio_micros_sql('dup_segs', 'n_segs')} > {SEG_FLAG_MICROS}
         AS flagged
FROM (
  SELECT s.doc_id, COUNT(*) AS n_segs,
         CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_segs
  FROM segs s JOIN c USING (seg_md5)
  GROUP BY s.doc_id
)
"""


# ---------------------------------------------------------------------------
# 8. Segment dedup REWRITE (round 4 continuation)
# ---------------------------------------------------------------------------


def dedup_segment_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite completing segment_dedup_ratio's detection:
    corpus-wide first-occurrence-wins segment dedup that actually
    REBUILDS each document — every non-overlapping SEG_WORDS-word
    segment is kept only at its globally first occurrence (ordered by
    (doc_id, position)); later occurrences anywhere in the corpus are
    dropped, and each document's surviving segments are reassembled
    in original order (the sub-segment word tail is kept verbatim).
    This is boilerplate/licence-block removal as production pipelines
    run it, not just a ratio report.

    Plan: per-row segment generate+posexplode → first-occurrence-
    per-segment-hash via skew.keep_first_by_key — one map-side-
    combinable MIN(struct(doc_id, idx, seg)) aggregate per seg_md5,
    NOT ``ROW_NUMBER() OVER (PARTITION BY seg_md5)``: a licence
    block repeated across millions of documents costs one candidate
    row per scan task in the shuffle instead of pinning its whole
    occurrence list in one unsplittable window task (round-10
    hardening swap; (doc_id, idx) is globally unique so MIN(struct)
    picks exactly the window's rn=1 row — value-identity pinned by
    tests/test_scale_patterns.py and re-certified against the DuckDB
    oracle) → per-doc ordered reassembly via a hash aggregate on
    doc_id → left join back to the per-doc spine (docs with <
    SEG_WORDS words pass through untouched). Nothing quadratic; at
    100 TB the md5-keyed aggregate shuffles at most one candidate
    segment per key per task — strictly less than the window form's
    full segment-text shuffle."""
    from chain_sync_spark.operators.skew import keep_first_by_key

    d = _docs_words(spark, sf_dir)
    # NB 1: sequence(1, 0) is DESCENDING in Spark — the if() guard
    # keeps sub-SEG_WORDS docs at zero segments instead of two bogus
    # ones. NB 2: the token array is bound ONCE per row as the lambda
    # variable ww — referencing the aliased column w directly lets
    # CollapseProject inline the whole tokenization into the transform
    # lambda and re-run the regex once per segment ELEMENT (measured
    # ~12x slower at sf0.1; same trap _quant_codes documents).
    seg_tail = F.expr(
        f"transform(array(w), ww -> struct("
        f" if(size(ww) >= {SEG_WORDS},"
        f"    transform(sequence(1, size(ww) div {SEG_WORDS}),"
        f"      i -> array_join(slice(ww, (i - 1) * {SEG_WORDS} + 1,"
        f"                            {SEG_WORDS}), ' ')),"
        f"    array()) AS segs,"
        f" array_join(slice(ww, (size(ww) div {SEG_WORDS}) * {SEG_WORDS} + 1,"
        f"                  size(ww)), ' ') AS tail))[0]"
    )
    base = d.select("doc_id", seg_tail.alias("st")).select(
        "doc_id", F.col("st.segs").alias("segs"), F.col("st.tail").alias("tail")
    )
    segrows = base.select(
        "doc_id", F.posexplode("segs").alias("idx", "seg")
    ).withColumn("seg_md5", F.md5("seg"))
    kept = keep_first_by_key(segrows, ["seg_md5"], ["doc_id", "idx"]).drop(
        "seg_md5"
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_segs"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "seg"))),
                lambda s: s.getField("seg"),
            ),
            " ",
        ).alias("kept_text"),
    )
    spine = base.select("doc_id", F.size("segs").alias("n_segs"), "tail")
    n, k = F.col("n_segs"), F.coalesce(F.col("kept_segs"), F.lit(0))
    drop_ratio = sk.floor_round(
        (n - k).cast("double") / n.cast("double"), 6
    )
    return spine.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        n.cast("int").alias("n_segs"),
        k.cast("int").alias("kept_segs"),
        F.array_join(
            F.filter(
                F.array(F.coalesce(F.col("kept_text"), F.lit("")), F.col("tail")),
                lambda x: x != "",
            ),
            " ",
        ).alias("new_text"),
        F.when(n > 0, drop_ratio).alias("drop_ratio"),
    )


_SEG_REWRITE_ORACLE = f"""
WITH {_NORM_CTE},
base AS (
  SELECT doc_id, len(w) // {SEG_WORDS} AS n_segs,
         array_to_string(w[(len(w) // {SEG_WORDS}) * {SEG_WORDS} + 1 :], ' ')
           AS tail
  FROM docs_words
),
segrows AS (
  SELECT doc_id, i AS idx,
         array_to_string(w[(i - 1) * {SEG_WORDS} + 1 : i * {SEG_WORDS}], ' ')
           AS seg
  FROM docs_words, UNNEST(range(1, len(w) // {SEG_WORDS} + 1)) AS u(i)
),
kept AS (
  SELECT doc_id, idx, seg FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(seg)
                                 ORDER BY doc_id, idx) AS rn
    FROM segrows
  ) WHERE rn = 1
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS kept_segs,
         string_agg(seg, ' ' ORDER BY idx) AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_segs AS INT) AS n_segs,
       CAST(COALESCE(r.kept_segs, 0) AS INT) AS kept_segs,
       COALESCE(array_to_string(
         list_filter([COALESCE(r.kept_text, ''), b.tail], x -> x <> ''), ' '),
         '') AS new_text,
       CASE WHEN b.n_segs > 0 THEN
         {sk.floor_round_sql(
             'CAST(b.n_segs - COALESCE(r.kept_segs, 0) AS DOUBLE)'
             ' / CAST(b.n_segs AS DOUBLE)', 6)}
       END AS drop_ratio
FROM base b LEFT JOIN rebuilt r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# 8. Mixture resampling by deterministic hash acceptance (round 4)
# ---------------------------------------------------------------------------

MIX_HASH_MOD = 1_000_000


def mixture_resample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a domain-mixture policy: down-sample every over-represented
    source to the uniform target share with per-document hash
    acceptance — the executable half of ``domain_mixture_weights``
    (which only REPORTS the weights).  A doc survives when
    ``hash(doc_id) % 1e6 < min(1, weight) · 1e6``; hash-keyed (not
    ``rand()``) so the sample is stable across runs, engines, and
    repartitioning, and re-running on a grown corpus never flips
    prior decisions for surviving sources.

    Output is the per-source audit row: docs before/after, the
    applied weight, and the realized keep rate.

    Plan: one hash aggregation to source grain (bounded cardinality)
    → broadcast the weight relation back onto the corpus → filter →
    second source-grain aggregation.  Row-grain data is scanned
    twice but never shuffled; both aggregates are map-side
    combinable."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    totals = per_src.agg(
        F.sum("n_before").alias("tot_docs"), F.count(F.lit(1)).alias("n_sources")
    )
    weight = F.least(
        F.lit(1.0),
        (F.lit(1.0) / F.col("n_sources"))
        / (F.col("n_before") / F.col("tot_docs")),
    )
    weights = per_src.crossJoin(F.broadcast(totals)).select(
        "source", "n_before", weight.alias("weight")
    )
    bucket = F.pmod(
        sk.hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        F.lit(MIX_HASH_MOD),
    )
    kept = (
        docs.join(F.broadcast(weights), "source")
        .filter(bucket.cast("double") < F.col("weight") * MIX_HASH_MOD)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    # tie-safe rounding (sk.floor_round): these are ratios of small
    # integers, which CAN land on exact half-ties where round()'s
    # half-tie rule diverges across engines
    return weights.join(kept, "source", "left").select(
        "source",
        "n_before",
        F.coalesce("n_after", F.lit(0)).alias("n_after"),
        sk.floor_round(F.col("weight"), 6).alias("weight"),
        sk.floor_round(
            F.coalesce("n_after", F.lit(0)).cast("double")
            / F.col("n_before").cast("double"),
            6,
        ).alias("keep_rate"),
    )


_MIX_RESAMPLE_ORACLE = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source
),
w AS (
  SELECT source, n_before,
         LEAST(1.0, (1.0 / COUNT(*) OVER ())
                    / (n_before / SUM(n_before) OVER ())) AS weight
  FROM per_src
),
kept AS (
  SELECT d.source, COUNT(*) AS n_after
  FROM documents d JOIN w USING (source)
  WHERE CAST({sk.hash60_sql("'mix:' || d.doc_id::VARCHAR")} % {MIX_HASH_MOD}
             AS DOUBLE) < weight * {MIX_HASH_MOD}
  GROUP BY d.source
)
SELECT w.source, w.n_before, COALESCE(kept.n_after, 0) AS n_after,
       {sk.floor_round_sql('w.weight', 6)} AS weight,
       {sk.floor_round_sql(
           'CAST(COALESCE(kept.n_after, 0) AS DOUBLE)'
           ' / CAST(w.n_before AS DOUBLE)', 6)}
         AS keep_rate
FROM w LEFT JOIN kept USING (source)
"""


# ---------------------------------------------------------------------------
# 9. Single-pass column profiling (round 4)
# ---------------------------------------------------------------------------

PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of a table — the observability step every
    ingestion pipeline runs before training data enters the mix: per
    column, row count, null count, exact distinct count, and
    lexicographic min/max (values rendered as strings so one schema
    covers every column type).

    Plan: ONE scan — a single aggregate computes every column's
    stats together (multi-distinct goes through Spark's Expand,
    multiplying rows by the number of distinct aggregates but
    keeping the pass count at one), then a ``stack`` projection
    unpivots the 1-row result into a row per column.  The oracle
    intentionally takes the naive per-column UNION ALL route, so the
    hash match proves the single-pass rewrite. The agg+stack builder
    is shared with the streaming profile partial
    (operators/incremental.build_profile) so the two schemas cannot
    drift apart."""
    from chain_sync_spark.operators.incremental import build_profile

    o = table(spark, sf_dir, "orders").select(*PROFILE_COLS)
    return build_profile(o, PROFILE_COLS, include_distinct=True)


def profile_column_stats_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of profile_column_stats: distinct counts come
    from HyperLogLog++ (approx_count_distinct) instead of exact
    multi-COUNT(DISTINCT), so the plan has NO Expand — no row
    multiplication on the full scan, constant sketch state per column.
    Library operator (pytest-gated, not oracle-registered: the sketch
    estimate is engine-specific by design); parity-within-tolerance
    against the exact profile is asserted in tests/test_incremental.py
    along with the Expand-free plan."""
    from chain_sync_spark.operators.incremental import build_profile

    o = table(spark, sf_dir, "orders").select(*PROFILE_COLS)
    return build_profile(o, PROFILE_COLS, include_distinct=True,
                         approx_distinct=True)


# n_nulls must CAST to BIGINT: DuckDB integer SUM returns HUGEINT,
# which pandas renders as float64 — the exact round-4 red-row cause.
# min/max ::VARCHAR casts are safe ONLY because every profiled column
# is BIGINT or VARCHAR (integer→string rendering is version-stable);
# float columns must never enter PROFILE_COLS without an explicit
# fixed-format printf on both engines.
_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       MIN({c}::VARCHAR) AS min_val, MAX({c}::VARCHAR) AS max_val
FROM orders"""
    for c in PROFILE_COLS
)


# ---------------------------------------------------------------------------
# 10. BM25 top-k retrieval (round 4)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ["window", "join", "filter"]
BM25_TOP_K = 20


def bm25_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: rank documents against a fixed query-term set —
    the scoring function behind retrieval eval and RAG-corpus search.
    The idf uses the repo's log-free convention (the raw
    ``(N - df + 0.5)/(df + 0.5)`` fraction without the log wrapper;
    JVM and libm ``log`` may differ in the last ulp) and the per-term
    scores are rounded to 6 dp then summed as DECIMAL, so the per-doc
    total is merge-order independent and bit-exact across engines.

    Plan: explode → filter to the query terms (a tiny IN-list, pushed
    into the scan's row filter) → (doc, dl, term) hash aggregate for
    tf [map-side combinable; dl rides as a grouping column so no
    doc-length join is ever needed] → term-df via
    skew.attach_group_count (a common query term matches O(corpus)
    documents, so the old per-term window pinned them in one task;
    the count + join-back is map-side combinable and AQE-splittable)
    → corpus-stats 1-row broadcast → per-doc DECIMAL sum →
    two-phase salted top-k
    (skew.global_topk_desc: per-scan-partition top-k, then one
    bounded sort-slice aggregate over <= k x partitions survivors —
    no partition-less window anywhere). The tokenized
    (doc_id, dl) relation is computed ONCE under a scoped persist and
    feeds both the tf branch and the corpus-stats aggregate (the
    stats need every document's length, so a second full
    tokenization pass is what the persist saves); past the term
    filter every stage is query-sized, not corpus-sized."""
    from chain_sync_spark.operators.llm_pipeline import (
        _scoped_persist,
        release_caches,
    )
    from chain_sync_spark.operators.skew import (
        attach_group_count,
        global_topk_desc,
    )

    release_caches()  # previous query's scope ends here
    dw = _scoped_persist(
        _docs_words(spark, sf_dir).select(
            "doc_id", F.size("w").alias("dl"), "w"
        )
    )
    tf = (
        dw.select("doc_id", "dl", F.explode("w").alias("term"))
        .filter(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = dw.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    # term-df without the per-term window (same class as the tfidf
    # r10 swap): a common query term matches O(corpus) documents, so
    # COUNT OVER (PARTITION BY term) pins them in one task; the
    # map-side-combinable count + join-back is value-identical
    scored = (
        attach_group_count(tf, ["term"], "df")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * tf_part, 6).cast("decimal(18,6)").alias("s"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.sum("s").cast("double").alias("score"),
    )
    # final top-k via the two-phase salted plan (skew.global_topk_desc
    # — round-11 hardening): per_doc is every document matching >=1
    # query term, which for common terms is O(corpus), so the old
    # partition-less ROW_NUMBER window was a one-task sort over a
    # corpus-sized relation; the swap is value-identical (doc_id is
    # the unique tie-break) and bounds every task at k rows per scan
    # partition.
    return global_topk_desc(
        per_doc, "score", "doc_id", BM25_TOP_K
    ).select("doc_id", "n_terms_matched", "score", "rk")


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
_BM25_ORACLE = f"""
WITH {_NORM_CTE},
tok AS (
  SELECT doc_id, len(w) AS dl, UNNEST(w) AS term FROM docs_words
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM tok WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, dl, term
),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(w)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM docs_words
),
scored AS (
  SELECT doc_id,
         CAST(round(
           ((n_docs - df + 0.5) / (df + 0.5))
           * ((tf * ({BM25_K1} + 1))
              / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))),
           6) AS DECIMAL(18,6)) AS s
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf), stats
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_terms_matched,
         CAST(SUM(s) AS DOUBLE) AS score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms_matched, score, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rk
  FROM per_doc
) WHERE rk <= {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# 12. Tokenizer-vocabulary coverage / OOV-rate audit
# ---------------------------------------------------------------------------

VOCAB_TOP_V = 16


def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: build the top-``VOCAB_TOP_V``
    vocabulary by corpus term frequency and report, per document, how
    many tokens fall OUTSIDE it — the out-of-vocabulary rate a
    tokenizer-prep pipeline checks before freezing a vocab (high OOV
    on a slice means the vocab under-serves that slice). Vocabulary
    rank ties break on the term string so the cut is deterministic in
    both engines; the constant is scaled to the synthetic corpus's
    ~31-word vocabulary so roughly half the token mass is in-vocab
    and the OOV distribution is non-degenerate.

    Plan: one vocabulary-sized hash aggregate for term counts
    [shuffle keyed on term, map-side combinable], the top-V cut of
    that PRE-AGGREGATED relation via the two-phase salted top-k
    (skew.global_topk_desc — the distinct-term relation is millions
    of rows at 100 TB, so no single task ever sorts it), then the
    vocab — V rows — broadcasts into a left join against the token
    stream and a per-doc count aggregate [map-side combinable]. The
    corpus-sized relation is never joined on a non-broadcast side
    and never sorted.
    """
    from chain_sync_spark.operators.skew import global_topk_desc

    dw = _docs_words(spark, sf_dir)
    tok = dw.select("doc_id", F.explode("w").alias("term"))
    tc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # top-V vocab cut via the two-phase salted plan (round-11
    # hardening): the distinct-term relation GROWS with the corpus —
    # millions of rows at 100 TB — so the old partition-less
    # ROW_NUMBER window was a one-task sort; the swap is
    # value-identical (term is the unique tie-break).
    vocab = global_topk_desc(tc, "cnt", "term", VOCAB_TOP_V).select(
        "term", F.lit(1).alias("in_vocab")
    )
    cov = (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
    )
    # BIGINT micro-units at the boundary (round-5 ratio contract)
    return cov.select(
        "doc_id",
        "n_tok",
        "n_oov",
        sk.ratio_micros("n_oov", "n_tok").alias("oov_micros"),
    )


_VOCAB_ORACLE = f"""
WITH {_NORM_CTE},
tok AS (
  SELECT doc_id, UNNEST(w) AS term FROM docs_words
),
tc AS (
  SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
),
vocab AS (
  SELECT term FROM (
    SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rk FROM tc
  ) WHERE rk <= {VOCAB_TOP_V}
)
SELECT doc_id,
       COUNT(*) AS n_tok,
       COUNT(CASE WHEN v.term IS NULL THEN 1 END) AS n_oov,
       {sk.ratio_micros_sql(
           "COUNT(CASE WHEN v.term IS NULL THEN 1 END)", "COUNT(*)")}
         AS oov_micros
FROM tok LEFT JOIN vocab v ON tok.term = v.term
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# 13. Count-min-sketch heavy hitters (estimate vs exact)
# ---------------------------------------------------------------------------

CMS_ROWS = 3
CMS_WIDTH = 16
CMS_TOP_K = 10


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection through a count-min sketch, certified
    against exact counts: every term hashes into ``CMS_ROWS``
    independent rows of a ``CMS_WIDTH``-bucket sketch, each cell sums
    the counts of every term that lands in it, and a term's estimate
    is the MIN over its cells — always >= the exact count, with
    collisions (deliberately forced here by the narrow width against
    the ~31-term vocabulary) visible as a positive ``overestimate``
    column. Output is the top-``CMS_TOP_K`` terms by estimated count.

    Scale: the sketch is CONSTANT-size (rows x width cells) however
    large the corpus — at 100 TB the sketch stage is a map-side-
    combining hash aggregate keyed on (row, bucket) over the raw
    token stream (sums are associative, so building it from the
    per-term count relation, as here, is value-identical), and the
    48-cell result broadcasts back for estimation. That is the whole
    point of the sketch: heavy hitters without shuffling a
    corpus-sized vocabulary.

    Round-11 hardening, both halves lossless: (a) the estimate join
    probes only CANDIDATE cells — cells with ``cell >= T`` where
    ``T`` is the k-th largest EXACT count (computed by the bounded
    two-phase top-k and broadcast as one row).  ``est >= exact``
    gives ``T <= T*`` (the k-th largest estimate), and a top-k term
    has every cell ``>= est >= T* >= T``, so requiring all
    ``CMS_ROWS`` cells to survive the filter (the ``n_cells``
    check) can never drop a top-k term — only the long tail, which
    at 100 TB is the whole vocabulary minus ~k terms.  (b) the final
    rank runs through skew.global_topk_desc instead of a
    partition-less ROW_NUMBER window, so the candidate relation is
    never single-task-sorted either.  Hashing uses the repo's
    portable 60-bit md5 (`sketches.hash60`) so Spark and DuckDB
    agree bucket-by-bucket; the DuckDB oracle keeps the direct
    all-terms form — value-identical by the argument above."""
    from chain_sync_spark.operators.skew import global_topk_desc

    dw = _docs_words(spark, sf_dir)
    tc = (
        dw.select(F.explode("w").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    rows = tc.select(
        "term",
        "exact_cnt",
        F.explode(F.array(*[F.lit(r) for r in range(CMS_ROWS)])).alias("r"),
    ).withColumn(
        "bucket",
        F.pmod(
            sk.hash60(
                F.concat(
                    F.lit("cms"), F.col("r").cast("string"),
                    F.lit(":"), F.col("term"),
                )
            ),
            F.lit(CMS_WIDTH),
        ),
    )
    sketch = rows.groupBy("r", "bucket").agg(F.sum("exact_cnt").alias("cell"))
    # threshold = k-th largest exact count (or the smallest count
    # when fewer than k terms exist) — a 1-row broadcast
    thresh = (
        global_topk_desc(tc, "exact_cnt", "term", CMS_TOP_K)
        .agg(F.min("exact_cnt").alias("t"))
    )
    heavy_cells = (
        sketch.join(F.broadcast(thresh))
        .filter(F.col("cell") >= F.col("t"))
        .select("r", "bucket", "cell")
    )
    est = (
        rows.join(F.broadcast(heavy_cells), ["r", "bucket"])
        .groupBy("term", "exact_cnt")
        .agg(
            F.min("cell").alias("est_cnt"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        # a term missing any cell has est < T there, hence not top-k
        .filter(F.col("n_cells") == CMS_ROWS)
        .drop("n_cells")
    )
    return global_topk_desc(est, "est_cnt", "term", CMS_TOP_K).select(
        "term",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).alias("overestimate"),
        "rk",
    )


_CMS_ROWS_SQL = ", ".join(str(r) for r in range(CMS_ROWS))
_CMS_ORACLE = f"""
WITH {_NORM_CTE},
tc AS (
  SELECT t AS term, COUNT(*) AS exact_cnt
  FROM docs_words, UNNEST(w) AS u(t) GROUP BY t
),
cells AS (
  SELECT term, exact_cnt, r,
         {sk.hash60_sql("'cms' || r::VARCHAR || ':' || term")} % {CMS_WIDTH}
           AS bucket
  FROM tc, UNNEST([{_CMS_ROWS_SQL}]) AS rr(r)
),
sketch AS (
  SELECT r, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS cell
  FROM cells GROUP BY r, bucket
),
est AS (
  SELECT term, exact_cnt, MIN(cell) AS est_cnt
  FROM cells JOIN sketch USING (r, bucket)
  GROUP BY term, exact_cnt
)
SELECT term, exact_cnt, est_cnt, est_cnt - exact_cnt AS overestimate, rk
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY est_cnt DESC, term) AS INT) AS rk
  FROM est
) WHERE rk <= {CMS_TOP_K}
"""


# ---------------------------------------------------------------------------
# BPE pair-merge step
# ---------------------------------------------------------------------------

BPE_TOP_MERGES = 20


def bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One byte-pair-encoding TRAINING iteration over the corpus: the
    adjacent-symbol-pair frequencies that pick the next merge (initial
    symbol state = single characters, the classic first round).
    Output: the top {BPE_TOP_MERGES} merge candidates as
    (pair, cnt, rk) — integers and strings only.

    Scale: one corpus pass aggregates tokens to (word, n_occurrences)
    — the VOCABULARY — and only distinct words explode into character
    pairs, weighted by corpus frequency; pair counting is then
    vocabulary-sized, not corpus-sized (the standard BPE-training
    optimization), and the pair aggregate map-side combines. Full BPE
    training repeats merge→re-segment rounds of exactly this
    aggregate, a driver-side loop like k-means/connected-components;
    this operator is one round, the certifiable unit.
    """
    toks = _docs_words(spark, sf_dir).select(F.explode("w").alias("word"))
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_occ"))
    # adjacent char pairs of each distinct word; words shorter than 2
    # chars contribute nothing (the WHEN also dodges Spark's
    # descending sequence(1, 0) edge for 1-char words)
    pairs = vocab.select(
        "n_occ",
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("n_occ").alias("cnt"))
    # global window is bounded: input is one row per distinct char
    # PAIR (<= alphabet^2 = 36^2 rows here), never words or tokens
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= BPE_TOP_MERGES)
        .select("pair", "cnt", "rk")
    )


# ---------------------------------------------------------------------------
# Full BPE training loop + subword encoder (round 7)
# ---------------------------------------------------------------------------

BPE_TRAIN_MERGES = 24
BPE_CHECKPOINT_EVERY = 8


def _word_chars(word: F.Column) -> F.Column:
    """Deterministic char split (1-based substr, no regex edge cases).
    Empty words map to an empty array — sequence(1, 0) would otherwise
    yield the DESCENDING [1, 0] and two empty-string symbols."""
    return F.when(
        F.length(word) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(word)), lambda i: word.substr(i, F.lit(1))
        )
    )


def _sym_pair_counts(syms: DataFrame) -> DataFrame:
    """(l, r, cnt): adjacent-symbol-pair frequencies of a (s, n_occ)
    symbol-array vocabulary, weighted by corpus occurrence count —
    vocabulary-sized, map-side combining, per-row generation."""
    pair_structs = F.expr(
        "transform(slice(s, 1, greatest(size(s) - 1, 0)),"
        " (x, i) -> struct(x AS l, element_at(s, i + 2) AS r))"
    )
    return (
        syms.select("n_occ", F.explode(pair_structs).alias("p"))
        .groupBy("p.l", "p.r")
        .agg(F.sum("n_occ").alias("cnt"))
    )


def _apply_merge(s: F.Column, left: str, right: str) -> F.Column:
    """Replace adjacent [left, right] symbol pairs with the merged
    symbol, greedy left-to-right non-overlapping — the reference BPE
    apply step (Sennrich et al. 2016, public algorithm) — as ONE
    engine-side fold (F.aggregate) with a (done-prefix, held-symbol)
    accumulator: no UDF, whole-stage evaluable, one pass per row."""
    nul = F.lit(None).cast("string")
    init = F.struct(
        F.array().cast("array<string>").alias("out"), nul.alias("cur")
    )

    def step(acc, x):
        out, cur = acc["out"], acc["cur"]
        return (
            F.when(cur.isNull(), F.struct(out.alias("out"), x.alias("cur")))
            .when(
                (cur == F.lit(left)) & (x == F.lit(right)),
                F.struct(
                    F.concat(out, F.array(F.lit(left + right))).alias("out"),
                    nul.alias("cur"),
                ),
            )
            .otherwise(
                F.struct(F.concat(out, F.array(cur)).alias("out"), x.alias("cur"))
            )
        )

    def finish(acc):
        return F.when(acc["cur"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["cur"]))
        )

    return F.aggregate(s, init, step, finish)


def bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_TRAIN_MERGES,
) -> DataFrame:
    """FULL iterative BPE training over the documents corpus — the
    repeat-until-vocab-size loop whose single certifiable round is
    :func:`bpe_pair_merges`: per iteration, count adjacent symbol
    pairs over the vocabulary, take the argmax pair as the next merge,
    and rewrite every word's symbol sequence with it.  Returns the
    merge TABLE (rank, left, right, merged, cnt) — the trained
    tokenizer artifact a pipeline stores once and ships to
    :func:`bpe_encode`, the same frozen-artifact contract as the PQ
    codebook and the k-means centroids.  Ties break (cnt DESC, l, r),
    pinned so training is deterministic.

    Library operator (pytest-certified against a from-scratch Python
    replica): the merge table is data-dependent state, so there is no
    closed-form SQL oracle — the iterative loop is the k-means shape,
    per SURVEY §2's custom-operator ladder.

    Scale: every iteration is ONE vocabulary-sized pair aggregate
    (never the corpus — words carry their corpus counts) plus a
    bounded 1-row collect (the argmax merge); the symbol relation
    persists round-over-round and localCheckpoints every
    {BPE_CHECKPOINT_EVERY} rounds so plan lineage stays bounded
    (the connected-components discipline)."""
    from chain_sync_spark.operators.llm_pipeline import _scoped_checkpoint

    toks = _docs_words(spark, sf_dir).select(F.explode("w").alias("word"))
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_occ"))
    syms = vocab.select(_word_chars(F.col("word")).alias("s"), "n_occ").persist()
    merges: list[tuple[int, str, str, str, int]] = []
    # The parent of a lazily-persisted relation must stay cached until
    # the child materializes (the next round's collect) — unpersisting
    # earlier would silently recompute the whole fold chain back to the
    # last localCheckpoint each round.
    prev: DataFrame | None = None
    try:
        for rank in range(1, n_merges + 1):
            # bounded collect: exactly one row — the argmax merge pair.
            # This action also populates syms' persist, so its parent
            # (last round's relation) can be released now.
            top = (
                _sym_pair_counts(syms)
                .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top:
                break  # every word is a single symbol — vocabulary exhausted
            l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
            merges.append((rank, l, r, l + r, cnt))
            nxt = syms.select(_apply_merge(F.col("s"), l, r).alias("s"), "n_occ")
            if rank % BPE_CHECKPOINT_EVERY == 0:
                # truncate lineage: plan depth resets to zero here, and
                # the eager checkpoint materializes nxt — the parent
                # cache can drop immediately.  Scope-pooled so the
                # checkpoint blocks free deterministically at the next
                # release_caches instead of at an eventual driver GC.
                nxt = _scoped_checkpoint(nxt)
                syms.unpersist()
            else:
                nxt = nxt.persist()
                prev = syms  # release after nxt materializes next round
            syms = nxt
    finally:
        syms.unpersist()
        if prev is not None:
            prev.unpersist()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, cnt bigint"
    )


def bpe_apply_merges(
    words: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """Segment each DISTINCT word into subword symbols by applying a
    trained merge list in rank order — adds an ``s array<string>``
    column.  Entirely engine-side: one :func:`_apply_merge` fold per
    merge, lineage localCheckpoint'ed every {BPE_CHECKPOINT_EVERY}
    merges so the chained-fold plan stays codegen-sized.  Input is
    the VOCABULARY (distinct words), never the token stream — the
    standard word-cache trick, so the per-merge pass is
    vocabulary-sized at any corpus scale.

    SCOPE CONTRACT: with >= {BPE_CHECKPOINT_EVERY} merges the
    returned relation is built on scope-pooled checkpoint blocks —
    consume it before the next release_caches() (the next query's
    start), the same lifetime every scoped persist in this package
    already has; unlike a persist, a checkpointed relation is
    unreadable after release (lineage was truncated away)."""
    from chain_sync_spark.operators.llm_pipeline import _scoped_checkpoint

    syms = words.withColumn("s", _word_chars(F.col(word_col)))
    for i, (l, r) in enumerate(merges):
        syms = syms.withColumn("s", _apply_merge(F.col("s"), l, r))
        # EAGER checkpoint, the r12-certified shape.  An r14 attempt
        # to skip the checkpoint when < CHECKPOINT_EVERY folds remain
        # (so the frozen 12-merge path built fully lazily) moved the
        # whole 12-fold chain into EVERY action: warm noop write
        # ~2 s -> ~21 s in the full bench, both AQE arms — the chained
        # fold evaluated in one projection is far more expensive than
        # the per-block pieces (codegen-size fallback), and with no
        # blocks each action re-pays it.  A lazy (eager=False)
        # checkpoint just shifts the same materialization into the
        # first timed action because the scope pool frees blocks at
        # every query open.  Reverted; measured r14, do not re-try
        # without per-action evidence.
        if (i + 1) % BPE_CHECKPOINT_EVERY == 0 and i + 1 < len(merges):
            # scope-pooled: blocks free at the next release_caches
            syms = _scoped_checkpoint(syms)
    return syms


def bpe_encode(docs: DataFrame, merges_df: DataFrame) -> DataFrame:
    """Serving side of BPE: tokenize documents into trained subwords.
    Returns (doc_id, subword, n) — per-document subword counts, the
    input shape token-budget accounting and subword-frequency analysis
    consume.  ``merges_df`` is a trained :func:`bpe_train` output; the
    frozen-artifact contract applies (subword ids are only comparable
    under one merge table).

    Scale: the merge table is rank-bounded (a bounded collect), the
    segmentation runs on DISTINCT words (vocabulary-sized), and the
    corpus only pays one token→vocab join — broadcast when the
    segmented vocabulary fits, shuffle-on-word otherwise — plus the
    final (doc_id, subword) count aggregate."""
    # bounded collect: the merge table is <= n_merges rows by
    # construction (the trained artifact, never corpus-sized)
    ranked = [
        (row["left"], row["right"])
        for row in merges_df.orderBy("rank").collect()
    ]
    toks = docs.select(
        "doc_id", F.explode(sk.words(sk.normalize_text(F.col("text")))).alias("word")
    )
    vocab = toks.select("word").distinct()
    seg = bpe_apply_merges(vocab, ranked)
    return (
        toks.join(seg, "word")
        .select("doc_id", F.explode("s").alias("subword"))
        .groupBy("doc_id", "subword")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_BPE_ORACLE = f"""
WITH {_NORM_CTE.lstrip()},
tok AS (SELECT UNNEST(w) AS word FROM docs_words),
vocab AS (SELECT word, COUNT(*) AS n_occ FROM tok GROUP BY word),
pairs AS (
  SELECT u.p AS pair, n_occ
  FROM vocab, UNNEST(
    CASE WHEN length(word) >= 2
         THEN list_transform(range(1, length(word)), i -> substr(word, i, 2))
         ELSE [] END) AS u(p)
),
agg AS (
  SELECT pair, CAST(SUM(n_occ) AS BIGINT) AS cnt FROM pairs GROUP BY pair
)
SELECT pair, cnt, rk FROM (
  SELECT pair, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rk
  FROM agg
) WHERE rk <= {BPE_TOP_MERGES}
"""

# ---------------------------------------------------------------------------
# Frozen-merge BPE encoding + quantile-sketch serving (round 8)
# ---------------------------------------------------------------------------

# A FROZEN merge table — the first 12 merges bpe_train produced on the
# sf0.01 corpus, hardcoded as the trained artifact (the frozen-codebook
# contract: IVF seeds, PQ codebooks and k-means centroids all ship the
# same way).  Includes chained merges whose left/right are themselves
# merged symbols (mer = m+er, par = p+ar, join = jo+in), so the apply
# path is exercised on multi-char symbols, not just char pairs.  Every
# pair has left != right — with distinct sides, two candidate sites can
# never overlap (a site needs s[p]=l, s[p+1]=r; adjacency would force
# r = l), which is what lets the SQL oracle below apply each merge with
# plain window functions instead of a sequential greedy scan.
BPE_FROZEN_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("j", "o"),
    ("jo", "in"),
]


def bpe_encode_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable serving side of the BPE tokenizer family:
    :func:`bpe_encode` under the FROZEN merge table above — the
    deterministic half of train/serve, exactly how a production
    pipeline tokenizes (the merge table is trained offline once;
    encoding replays it verbatim).  Output (doc_id, subword, n) is
    integer/string only.

    Scale: inherited from bpe_encode — rank-bounded merge table,
    vocabulary-sized segmentation, one token→vocab join, one count
    aggregate."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    mdf = spark.createDataFrame(
        [
            (i, l, r, l + r, 0)
            for i, (l, r) in enumerate(BPE_FROZEN_MERGES, start=1)
        ],
        "rank int, left string, right string, merged string, cnt bigint",
    )
    return bpe_encode(docs, mdf)


def _bpe_encode_oracle() -> str:
    """The frozen merge list unrolled as SQL (the _kmeans_oracle()
    precedent): per merge k, pK tags each symbol with its neighbours
    and sK rewrites — a symbol becomes the merged pair when (sym=l,
    next=r), and is dropped when it was the right half (prev=l,
    sym=r).  Sound only because every frozen merge has left != right
    (no overlapping candidate sites — see BPE_FROZEN_MERGES); an
    assert enforces that and the alphabet (no quoting hazards)."""
    steps = []
    prev = "s0"
    for k, (l, r) in enumerate(BPE_FROZEN_MERGES, start=1):
        assert l != r and (l + r).isalnum(), (l, r)
        steps.append(f"""
p{k} AS (
  SELECT word, pos, sym,
         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
         LAG(sym)  OVER (PARTITION BY word ORDER BY pos) AS prv
  FROM {prev}
),
s{k} AS (
  SELECT word,
         CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         CASE WHEN sym = '{l}' AND nxt = '{r}' THEN '{l}{r}' ELSE sym END AS sym
  FROM p{k}
  WHERE (prv IS DISTINCT FROM '{l}') OR (sym <> '{r}')
)""")
        prev = f"s{k}"
    return f"""
WITH {_NORM_CTE.lstrip()},
toks AS (SELECT doc_id, UNNEST(w) AS word FROM docs_words),
vocab AS (SELECT DISTINCT word FROM toks),
s0 AS (
  SELECT word, CAST(t.i AS BIGINT) AS pos, substr(word, t.i, 1) AS sym
  FROM vocab, LATERAL (SELECT UNNEST(range(1, length(word) + 1)) AS i) t
),{",".join(steps)}
SELECT t.doc_id, s.sym AS subword, CAST(COUNT(*) AS BIGINT) AS n
FROM toks t JOIN {prev} s ON t.word = s.word
GROUP BY t.doc_id, s.sym
"""


# Quantile permilles the sketch-serving query reports (probe targets).
QSK_PERMILLE = [250, 500, 750, 900, 990]


def quantile_sketch_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch certifier for the streaming quantile-sketch family
    (streaming/stream_sync.run_stream_histogram + probe_quantiles):
    build the base-2 log-histogram (operators/incremental.hist_stats)
    over order totals in one pass, then serve the QSK_PERMILLE
    quantile probes from the constant-size sketch — the exact state a
    streamed store holds after folding the same rows in, so this IS
    the serving math under a driver-green certificate.

    The probe is pure integer arithmetic (the round-5 output
    contract): bin b serves quantile q/1000 when cum(b)·1000 ≥
    q·total, and the output row is (q_permille, est_bin, cum_cnt,
    total) — bin ids instead of the geometric-midpoint double that
    hist_bin_value reports (pytest pins the two forms together).

    Scale: ONE map-side-combined aggregate over the corpus produces
    the ≤ 2·HIST_RANGE+3-row sketch; everything after (cumulative
    window, probe join) runs on that constant-size relation —
    single-partition windows over ≤ 83 rows by construction."""
    from chain_sync_spark.operators.incremental import hist_stats

    orders = table(spark, sf_dir, "orders")
    hist = hist_stats(orders, "o_totalprice")
    # bounded window: the sketch is <= 2*HIST_RANGE+3 rows by construction
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bin", F.sum("cnt").over(w).alias("cum"))
    tot = hist.agg(F.sum("cnt").alias("total"))
    qs = spark.createDataFrame(
        [(q,) for q in QSK_PERMILLE], "q_permille int"
    )
    return (
        qs.crossJoin(F.broadcast(cum))
        .crossJoin(F.broadcast(tot))
        .filter(
            F.col("cum") * F.lit(1000)
            >= F.col("q_permille").cast("long") * F.col("total")
        )
        .groupBy("q_permille")
        .agg(
            F.min_by(F.struct("bin", "cum"), "bin").alias("m"),
            F.max("total").alias("total"),
        )
        .select(
            "q_permille",
            F.col("m.bin").alias("est_bin"),
            F.col("m.cum").alias("cum_cnt"),
            "total",
        )
    )


# Oracle bin id: for v >= 1 (every o_totalprice — TPC-H totals are
# ~1e3..5e5) the signed log2 bin is 1 + floor(log2(v)) + HIST_RANGE,
# and floor(log2(v)) is computed EXACTLY as length(bin(floor(v))) - 1
# — a bit-length, immune to libm log2 rounding at power-of-two
# boundaries (the Spark side's F.log2 is certified against it by this
# very comparison).
_QSK_ORACLE = f"""
WITH h AS (
  SELECT CAST(length(bin(CAST(FLOOR(CAST(o_totalprice AS DOUBLE)) AS BIGINT)))
              + {HIST_RANGE} AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
),
c AS (SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM h),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM h),
q AS (SELECT CAST(UNNEST({QSK_PERMILLE}) AS INT) AS q_permille)
SELECT q_permille, est_bin, cum_cnt, total FROM (
  SELECT q.q_permille, c.bin AS est_bin, c.cum AS cum_cnt, t.total,
         ROW_NUMBER() OVER (PARTITION BY q.q_permille ORDER BY c.bin) AS rn
  FROM q CROSS JOIN c CROSS JOIN t
  WHERE c.cum * 1000 >= q.q_permille * t.total
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct-count estimator audit
# ---------------------------------------------------------------------------

K_KMV = 64             # sketch size (k minimum hash values kept)
_KMV_SPACE = 1 << 60   # hash60 range; est = (k-1) * space / kth_min


def kmv_distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct-count estimator (Bar-Yossef et al.
    2002) audited against exact truth, per source: the {K_KMV}
    smallest hash60 values of the source's distinct word-3-shingles
    yield est = ({K_KMV}-1) x 2^60 / kth_min; sources with fewer than
    {K_KMV} distinct shingles are exact by construction (the sketch
    holds every value).  Output (source, n_distinct, kth_min, est_kmv,
    err_micros) — the calibration-table shape of
    minhash_estimate_error_audit, here for the cardinality sketch the
    profile tier would run where exact COUNT(DISTINCT) is too
    expensive.  Unlike HLL++ (profile_column_stats_sketch), KMV is
    DETERMINISTIC given the hash, hence oracle-able cross-engine; the
    wide product (63 x 2^60) runs in DECIMAL(38,0) with integral div,
    floor-identical to DuckDB's HUGEINT //.

    Scale: distinct is one shuffle on (source, h); the bottom-k uses
    the TWO-PHASE salted plan of sample_exact_k_per_lang (phase 1
    windows over (source, spark_partition_id), so a giant source
    never pins one task; phase 2 ranks <= k x tasks survivors);
    n_distinct is a map-side-combinable count of the same distinct
    relation.  Sketch state is k longs per group regardless of corpus
    size — the 100 TB path is this plan with the exact count column
    dropped."""
    d = _docs_words(spark, sf_dir)
    dist = kmv_hashes(d)
    exact = dist.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_distinct")
    )
    sketch = kmv_estimate(kmv_bottomk(dist))
    return (
        exact.join(sketch, "source")
        .select(
            "source",
            "n_distinct",
            "kth_min",
            "est_kmv",
            sk.ratio_micros(
                "abs(est_kmv - n_distinct)", "n_distinct"
            ).alias("err_micros"),
        )
    )


def kmv_hashes(d: DataFrame) -> DataFrame:
    """Distinct (source, h) KMV hash rows of a docs_words relation —
    ONE definition of the sketch's hash domain (salted hash60 over
    word-3-shingles), shared verbatim by the batch audit above and
    the streaming maintainer (streaming/stream_sync.run_stream_kmv),
    so the audit's driver green certifies the streamed store's
    arithmetic."""
    return (
        d.select(
            "source", F.explode(sk.word_shingles(F.col("w"), 3)).alias("g")
        )
        .select(
            "source",
            sk.hash60(F.concat(F.lit("kmv:"), F.col("g"))).alias("h"),
        )
        .distinct()
    )


def kmv_bottomk(dist: DataFrame) -> DataFrame:
    """Bottom-{K_KMV} hash rows per source — the KMV sketch state.
    Two-phase salted top-k-per-group plan (see
    sample_exact_k_per_lang): phase 1 bounds each (source, input
    partition) locally so a giant source never pins one window task;
    phase 1.5 re-salts the survivors into (source, 64 hash buckets)
    so the per-source phase-2 group holds <= 64·k rows regardless of
    cluster size (the r11 fan-in bound); phase 2 ranks those bounded
    survivors.  Merging sketches is just this function over their
    union — bottom-k is associative and idempotent, which is what
    makes the streamed store exact."""
    from chain_sync_spark.operators.skew import _GTK_MID_BUCKETS

    w_local = Window.partitionBy("source", "pid").orderBy("h")
    w_mid = Window.partitionBy("source", "mid").orderBy("h")
    w_global = Window.partitionBy("source").orderBy("h")
    return (
        dist.withColumn("pid", F.spark_partition_id())
        .withColumn("lrn", F.row_number().over(w_local))
        .filter(F.col("lrn") <= K_KMV)
        .drop("lrn", "pid")
        .withColumn("mid", F.pmod(F.xxhash64("h"), F.lit(_GTK_MID_BUCKETS)))
        .withColumn("mrn", F.row_number().over(w_mid))
        .filter(F.col("mrn") <= K_KMV)
        .drop("mrn", "mid")
        .withColumn("rk", F.row_number().over(w_global))
        .filter(F.col("rk") <= K_KMV)
        .select("source", "h")
    )


def kmv_estimate(kept: DataFrame) -> DataFrame:
    """(source, kth_min, est_kmv) from a bottom-k sketch relation:
    est = ({K_KMV}-1) x 2^60 / kth_min once the sketch is saturated,
    exact row count below that (an unsaturated sketch holds every
    value seen).  DECIMAL(38,0) integral div — floor-identical to
    DuckDB's HUGEINT //."""
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth_min")
    )
    est = F.when(F.col("n_kept") < K_KMV, F.col("n_kept")).otherwise(
        F.expr(
            f"CAST((CAST({K_KMV - 1} AS DECIMAL(38,0)) * {_KMV_SPACE})"
            " div CAST(kth_min AS DECIMAL(38,0)) AS BIGINT)"
        )
    )
    return agg.select("source", "kth_min", est.alias("est_kmv"))


_KMV_ORACLE = f"""
WITH {_NORM_CTE},
dist AS (
  SELECT DISTINCT source, {sk.hash60_sql("'kmv:' || g")} AS h
  FROM (
    SELECT source, unnest({sk.word_shingles_sql('w', 3)}) AS g
    FROM docs_words
  )
),
exact AS (SELECT source, COUNT(*) AS n_distinct FROM dist GROUP BY 1),
kth AS (
  SELECT source, MAX(h) AS kth_min FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
    FROM dist
  ) WHERE rk <= {K_KMV} GROUP BY source
),
j AS (
  SELECT e.source, e.n_distinct, k.kth_min,
         CASE WHEN e.n_distinct < {K_KMV} THEN e.n_distinct
              ELSE CAST({K_KMV - 1}::HUGEINT * {_KMV_SPACE} // k.kth_min
                        AS BIGINT)
         END AS est_kmv
  FROM exact e JOIN kth k USING (source)
)
SELECT source, n_distinct, kth_min, est_kmv,
       {sk.ratio_micros_sql('abs(est_kmv - n_distinct)', 'n_distinct')}
         AS err_micros
FROM j
"""


# ---------------------------------------------------------------------------
# CMS probe serving
# ---------------------------------------------------------------------------

# Fixed probe list — includes terms of very different frequency and
# one that never occurs in any corpus tier.  The LEFT join reads
# cells no term ever filled as 0 (exactly like
# streaming/stream_sync.probe_cms); with the deliberately narrow demo
# width the absent term's cells typically still collide with real
# terms, so its estimate demonstrates the CMS's one-sided bound
# (est >= exact = 0) rather than exact zero.
CMS_PROBE_TERMS = ["join", "window", "stream", "quantile", "zz_absent_term"]


def cms_probe_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch certifier of the CMS SERVING path (the read side that
    streaming/stream_sync.probe_cms runs against a streamed store):
    build the rows×width sketch from the raw token stream in one
    map-side-combined pass, then serve point-frequency estimates for
    the fixed CMS_PROBE_TERMS list — each probe hashes into its
    CMS_ROWS cells, the estimate is the MIN, and cells no term ever
    filled read as 0 through the LEFT join.  heavy_hitters_cms
    certifies the sketch's ≥-exact bound over the whole vocabulary;
    this certifies the point-probe join a monitor actually serves,
    absent-term path included.  A pytest pins this output equal to
    probe_cms over a store maintained by run_stream_cms on the same
    rows.

    Scale: the sketch is CONSTANT-size and broadcast; the probe side
    is len(CMS_PROBE_TERMS)·CMS_ROWS rows. Nothing here grows with
    the corpus except the one sketch-building aggregate."""
    # Aggregate the token stream to per-term counts FIRST (one
    # map-side-combined aggregate), so the md5 bucketing runs over the
    # vocabulary-sized relation instead of 3x per raw token — the same
    # shape cms_stats and heavy_hitters_cms use; cells are sums, so
    # the sketch is value-identical.
    tc = (
        _docs_words(spark, sf_dir)
        .select(F.explode("w").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cells = tc.select(
        "term",
        "cnt",
        F.explode(F.array(*[F.lit(r) for r in range(CMS_ROWS)])).alias("r"),
    ).withColumn(
        "bucket",
        F.pmod(
            sk.hash60(
                F.concat(
                    F.lit("cms"), F.col("r").cast("string"),
                    F.lit(":"), F.col("term"),
                )
            ),
            F.lit(CMS_WIDTH),
        ),
    )
    sketch = cells.groupBy("r", "bucket").agg(F.sum("cnt").alias("cell"))
    probes = spark.createDataFrame(
        [(t,) for t in CMS_PROBE_TERMS], "term string"
    ).select(
        "term",
        F.explode(F.array(*[F.lit(r) for r in range(CMS_ROWS)])).alias("r"),
    ).withColumn(
        "bucket",
        F.pmod(
            sk.hash60(
                F.concat(
                    F.lit("cms"), F.col("r").cast("string"),
                    F.lit(":"), F.col("term"),
                )
            ),
            F.lit(CMS_WIDTH),
        ),
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy("term")
        .agg(
            F.min(F.coalesce("cell", F.lit(0).cast("long"))).alias("est_cnt")
        )
    )


_CMS_PROBE_LIST_SQL = ", ".join(f"'{t}'" for t in CMS_PROBE_TERMS)
_CMS_PROBE_ORACLE = f"""
WITH {_NORM_CTE},
tok AS (SELECT t AS term FROM docs_words, UNNEST(w) AS u(t)),
cells AS (
  SELECT term, r,
         {sk.hash60_sql("'cms' || r::VARCHAR || ':' || term")} % {CMS_WIDTH}
           AS bucket
  FROM tok, UNNEST([{_CMS_ROWS_SQL}]) AS rr(r)
),
sketch AS (
  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cell
  FROM cells GROUP BY r, bucket
),
pc AS (
  SELECT p.term, rr.r,
         {sk.hash60_sql("'cms' || rr.r::VARCHAR || ':' || p.term")} % {CMS_WIDTH}
           AS bucket
  FROM (SELECT UNNEST([{_CMS_PROBE_LIST_SQL}]) AS term) p,
       UNNEST([{_CMS_ROWS_SQL}]) AS rr(r)
)
SELECT pc.term, CAST(MIN(COALESCE(s.cell, 0)) AS BIGINT) AS est_cnt
FROM pc LEFT JOIN sketch s ON pc.r = s.r AND pc.bucket = s.bucket
GROUP BY pc.term
"""


SKETCH_FOLD_BATCHES = 3


def sketch_fold_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch certifier of the sketch maintainers' INCREMENTAL FOLD —
    the one streamed-store path without driver visibility (VERDICT
    r10 item 4): cms_probe_terms / quantile_sketch_orders certify
    the one-pass build + serve arithmetic, run_stream_cms /
    run_stream_histogram fold per-batch PARTIALS through merge_cms /
    merge_hist instead, and only pytest pinned fold == one-pass
    until now.  This query splits the inputs into
    {SKETCH_FOLD_BATCHES} micro-batch stand-ins (orders by
    o_orderkey, documents by doc_id — any disjoint split works, the
    merges are order-independent integer sums), builds each batch's
    partial with the maintainers' own builders
    (operators/incremental.cms_stats / hist_stats) and folds them
    pairwise exactly as a trigger sequence would; the DuckDB oracle
    recomputes both sketches in ONE pass, so a green row certifies
    fold == truth for both maintainers end-to-end.  Output one row
    per sketch cell: (family, k, v) with k = r·width+bucket for the
    CMS and the signed bin id for the histogram.

    The cluster maintainer (run_stream_cluster_assign) needs no fold
    certificate: its arithmetic is the frozen-codebook assignment
    already driver-green via kmeans_embedding_clusters /
    kmeans_assign_serving, and its first-assignment-wins protocol is
    replay-pinned by pytest (test_streaming).

    Scale: each partial is a constant-size relation built by one
    map-side-combined aggregate over its batch; the folds union and
    re-aggregate constant-size relations.  Nothing grows with the
    corpus except the per-batch scans — and the tokenized relation is
    computed ONCE under a scoped persist (the three batch filters
    read cached rows instead of re-tokenizing; a REAL maintainer
    scans each trigger's batch exactly once, so the certifier should
    not pay more than the one pass either)."""
    from chain_sync_spark.operators.incremental import (
        cms_stats,
        hist_stats,
        merge_cms,
        merge_hist,
    )
    from chain_sync_spark.operators.llm_pipeline import (
        _scoped_persist,
        release_caches,
    )

    release_caches()  # previous query's scope ends here
    orders = table(spark, sf_dir, "orders")
    hist = None
    for b in range(SKETCH_FOLD_BATCHES):
        delta = hist_stats(
            orders.filter(F.col("o_orderkey") % SKETCH_FOLD_BATCHES == b),
            "o_totalprice",
        )
        hist = delta if hist is None else merge_hist(hist, delta)

    tok = _scoped_persist(
        _docs_words(spark, sf_dir).select(
            "doc_id", F.explode("w").alias("term")
        )
    )
    cms = None
    for b in range(SKETCH_FOLD_BATCHES):
        delta = cms_stats(
            tok.filter(F.col("doc_id") % SKETCH_FOLD_BATCHES == b), "term"
        )
        cms = delta if cms is None else merge_cms(cms, delta)

    return (
        cms.select(
            F.lit("cms").alias("family"),
            (F.col("r").cast("long") * CMS_WIDTH + F.col("bucket")).alias("k"),
            F.col("cell").cast("long").alias("v"),
        )
        .unionByName(
            hist.select(
                F.lit("hist").alias("family"),
                F.col("bin").cast("long").alias("k"),
                F.col("cnt").cast("long").alias("v"),
            )
        )
    )


# One-pass oracle: the histogram bin via the exact bit-length form
# (immune to libm log2 rounding — the quantile_sketch_orders
# precedent; every o_totalprice >= 1), the CMS via the portable md5
# bucketing. A hash match therefore certifies the Spark side's
# batch-split FOLD against single-pass ground truth.
_SKETCH_FOLD_ORACLE = f"""
WITH {_NORM_CTE},
tc AS (
  SELECT t AS term, COUNT(*) AS cnt
  FROM docs_words, UNNEST(w) AS u(t) GROUP BY t
),
cmscells AS (
  SELECT r,
         {sk.hash60_sql("'cms' || r::VARCHAR || ':' || term")} % {CMS_WIDTH}
           AS bucket,
         CAST(SUM(cnt) AS BIGINT) AS cell
  FROM tc, UNNEST([{_CMS_ROWS_SQL}]) AS rr(r)
  GROUP BY 1, 2
),
hist AS (
  SELECT CAST(length(bin(CAST(FLOOR(CAST(o_totalprice AS DOUBLE)) AS BIGINT)))
              + {HIST_RANGE} AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
)
SELECT 'cms' AS family, CAST(r * {CMS_WIDTH} + bucket AS BIGINT) AS k, cell AS v
FROM cmscells
UNION ALL
SELECT 'hist' AS family, bin AS k, cnt AS v FROM hist
"""


QUERIES = {
    "chunk_documents_overlap": chunk_documents_overlap,
    "tfidf_top_terms": tfidf_top_terms,
    "ngram_lm_topk": ngram_lm_topk,
    "dedup_incremental_batch": dedup_incremental_batch,
    "neardup_incremental_minhash": neardup_incremental_minhash,
    "lm_known_bigram_score": lm_known_bigram_score,
    "segment_dedup_ratio": segment_dedup_ratio,
    "dedup_segment_rewrite": dedup_segment_rewrite,
    "mixture_resample_documents": mixture_resample_documents,
    "profile_column_stats": profile_column_stats,
    "bm25_topk_documents": bm25_topk_documents,
    "vocab_coverage_oov": vocab_coverage_oov,
    "heavy_hitters_cms": heavy_hitters_cms,
    "bpe_pair_merges": bpe_pair_merges,
    # tokenizer serving + quantile sketch
    "bpe_encode_frozen": bpe_encode_frozen,
    "quantile_sketch_orders": quantile_sketch_orders,
}

ORACLE = {
    "chunk_documents_overlap": _CHUNK_ORACLE,
    "tfidf_top_terms": _TFIDF_ORACLE,
    "ngram_lm_topk": _LM_ORACLE,
    "dedup_incremental_batch": _INCR_ORACLE,
    "neardup_incremental_minhash": _incr_neardup_oracle(),
    "lm_known_bigram_score": _LM_SCORE_ORACLE,
    "segment_dedup_ratio": _SEG_DEDUP_ORACLE,
    "dedup_segment_rewrite": _SEG_REWRITE_ORACLE,
    "mixture_resample_documents": _MIX_RESAMPLE_ORACLE,
    "profile_column_stats": _PROFILE_ORACLE,
    "bm25_topk_documents": _BM25_ORACLE,
    "vocab_coverage_oov": _VOCAB_ORACLE,
    "heavy_hitters_cms": _CMS_ORACLE,
    "bpe_pair_merges": _BPE_ORACLE,
    "bpe_encode_frozen": _bpe_encode_oracle(),
    "quantile_sketch_orders": _QSK_ORACLE,
}

# ---------------------------------------------------------------------------
# Bloom membership probe
# ---------------------------------------------------------------------------

BLOOM_ABSENT_PROBES = 50


def bloom_probe_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-sketch serving (classical Bloom filter, Bloom 1970):
    build the occupied-bit set over the corpus's exact-dedup
    fingerprints (md5 of normalized text) in one pass, then probe a
    derived batch — every 7th document's fingerprint (true members)
    plus {BLOOM_ABSENT_PROBES} synthetic keys that never occur.  A key
    hits iff ALL of its K bit positions are occupied, so members can
    NEVER miss (bloom_hit >= present row-by-row) while absent keys
    may false-positive at the m/n-determined rate — the pre-screen an
    incremental dedup pipeline runs before paying the exact anti-join
    (dedup_incremental_batch), skipping the full probe for the
    overwhelmingly-common novel case.  Output (key, bloom_hit,
    present) is string/integer only; `present` is TRUE membership
    (recomputed by joining the corpus keys), so the false-positive
    rows are visible as bloom_hit=1, present=0.

    Scale: the sketch is the <= BLOOM_BITS-row occupied-bit set —
    constant-size, broadcast to the probes; `present` is one
    key-keyed join against the corpus fingerprints; nothing here is
    all-pairs and the sketch never grows with history (the streaming
    maintainer merges by bit-set union)."""
    from chain_sync_spark.operators.incremental import (
        bloom_bits,
        bloom_positions,
    )

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(sk.normalize_text(F.col("text"))).alias("fp")
    )
    corpus_keys = d.select("fp").distinct()
    occ = bloom_bits(corpus_keys, "fp").withColumn("occ", F.lit(1))
    present_probes = (
        d.filter(F.col("doc_id") % 7 == 0).select(F.col("fp").alias("key"))
    )
    absent_probes = spark.range(BLOOM_ABSENT_PROBES).select(
        F.md5(F.concat(F.lit("absent:"), F.col("id").cast("string"))).alias(
            "key"
        )
    )
    probes = present_probes.unionByName(absent_probes).distinct()
    pb = probes.select(
        "key", F.explode(bloom_positions(F.col("key"))).alias("bit")
    )
    hits = (
        pb.join(F.broadcast(occ), "bit", "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("occ", F.lit(0))).alias("bloom_hit"))
    )
    member = corpus_keys.select(
        F.col("fp").alias("key"), F.lit(1).alias("present")
    )
    return hits.join(member, "key", "left").select(
        "key",
        "bloom_hit",
        F.coalesce("present", F.lit(0)).alias("present"),
    )


def _bloom_probe_oracle() -> str:
    from chain_sync_spark.operators.incremental import BLOOM_BITS, BLOOM_K

    ks = ", ".join(str(k) for k in range(BLOOM_K))
    norm = sk.NORMALIZE_SQL.format(c="text")
    return f"""
WITH d AS (SELECT doc_id, md5({norm}) AS fp FROM documents),
ck AS (SELECT DISTINCT fp FROM d),
bits AS (
  SELECT DISTINCT
         ({sk.hash60_sql("'bloom' || k::VARCHAR || ':' || fp")})
           % {BLOOM_BITS} AS bit
  FROM ck, UNNEST([{ks}]) AS kk(k)
),
probes AS (
  SELECT DISTINCT key FROM (
    SELECT fp AS key FROM d WHERE doc_id % 7 = 0
    UNION ALL
    SELECT md5('absent:' || i::VARCHAR) AS key
    FROM (SELECT UNNEST(range(0, {BLOOM_ABSENT_PROBES})) AS i)
  )
),
pb AS (
  SELECT key,
         ({sk.hash60_sql("'bloom' || k::VARCHAR || ':' || key")})
           % {BLOOM_BITS} AS bit
  FROM probes, UNNEST([{ks}]) AS kk(k)
),
hits AS (
  SELECT key,
         CAST(MIN(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS INT)
           AS bloom_hit
  FROM pb LEFT JOIN bits b USING (bit) GROUP BY key
)
SELECT h.key, h.bloom_hit,
       CAST(CASE WHEN c.fp IS NULL THEN 0 ELSE 1 END AS INT) AS present
FROM hits h LEFT JOIN ck c ON h.key = c.fp
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility under the frozen merge table
# ---------------------------------------------------------------------------

def bpe_fertility_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility report under the FROZEN merge
    table — the metric a mixture designer actually sizes corpora with:
    training budgets are set in TOKENS, not characters, and
    chars-per-token (tokenizer fertility) varies by domain, so the
    per-source token totals + fertility ratios here are the input to
    token-weighted mixture design (domain_mixture_weights weighs by
    doc counts; this weighs by what the model will actually see).

    Output is the round-5 integer contract: (source, n_docs,
    total_tokens, total_chars, chars_per_token_micros,
    tokens_per_doc_micros) — ratios in BIGINT micro-units via pure
    integer arithmetic. Sources whose documents produce zero tokens
    are absent by construction (no denominator exists).

    Scale: bpe_encode_frozen's cost profile (vocabulary-sized
    segmentation + one token→vocab join) followed by ONE map-side-
    combined aggregate keyed on source — the report side adds no
    corpus-sized shuffle beyond the encode itself. total_chars is
    exact normalized-word chars reconstructed as sum(n·len(subword)):
    BPE merges never cross word boundaries, so subword lengths
    partition each word's characters."""
    enc = bpe_encode_frozen(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    agg = (
        enc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.sum(F.col("n") * F.length("subword")).alias("total_chars"),
        )
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "total_tokens",
        "total_chars",
        sk.ratio_micros("total_chars", "total_tokens").alias(
            "chars_per_token_micros"
        ),
        sk.ratio_micros("total_tokens", "n_docs").alias(
            "tokens_per_doc_micros"
        ),
    )


def _bpe_fertility_oracle() -> str:
    return f"""
WITH enc AS (SELECT * FROM ({_bpe_encode_oracle()}) e0),
agg AS (
  SELECT d.source,
         CAST(COUNT(DISTINCT enc.doc_id) AS BIGINT) AS n_docs,
         CAST(SUM(enc.n) AS BIGINT) AS total_tokens,
         CAST(SUM(enc.n * length(enc.subword)) AS BIGINT) AS total_chars
  FROM enc JOIN documents d ON enc.doc_id = d.doc_id
  GROUP BY d.source
)
SELECT source, n_docs, total_tokens, total_chars,
       {sk.ratio_micros_sql('total_chars', 'total_tokens')}
         AS chars_per_token_micros,
       {sk.ratio_micros_sql('total_tokens', 'n_docs')}
         AS tokens_per_doc_micros
FROM agg
"""


# ---------------------------------------------------------------------------
# Per-source quality report
# ---------------------------------------------------------------------------

def quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation table a mixture designer reads next to
    domain_mixture_weights: per SOURCE, how much of the corpus the
    LM-backed quality gate (lm_known_bigram_score) would keep and how
    "known" the source's text is to the corpus LM overall.  Output
    (source, n_docs, keep_docs, keep_rate_micros, mean_known_micros)
    — pure integers (rates via the fixed-point contract; the mean is
    the integer ratio of summed per-doc micros over docs).  A source
    with a low keep rate is noise/garble-heavy; a very high
    mean_known score flags boilerplate.  Documents with zero bigrams
    are outside the gate's domain and excluded (exactly the rows
    lm_known_bigram_score does not emit).

    Scale: rides the scorer's plan (one pair shuffle + per-doc
    aggregate), then ONE source-keyed map-side-combined aggregate
    over the doc-level rows — the report adds no corpus-sized work."""
    scored = lm_known_bigram_score(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    agg = (
        scored.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("keep_docs"),
            F.sum("known_micros").alias("sum_known"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "keep_docs",
        sk.ratio_micros("keep_docs", "n_docs").alias("keep_rate_micros"),
        (F.expr("(sum_known * 2 + n_docs) div (n_docs * 2)")).alias(
            "mean_known_micros"
        ),
    )


_QUALITY_BY_SOURCE_ORACLE = f"""
WITH scored AS (SELECT * FROM ({_LM_SCORE_ORACLE}) s),
agg AS (
  SELECT d.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN scored.keep THEN 1 ELSE 0 END) AS BIGINT)
           AS keep_docs,
         CAST(SUM(scored.known_micros) AS BIGINT) AS sum_known
  FROM scored JOIN documents d ON scored.doc_id = d.doc_id
  GROUP BY d.source
)
SELECT source, n_docs, keep_docs,
       {sk.ratio_micros_sql('keep_docs', 'n_docs')} AS keep_rate_micros,
       CAST((sum_known * 2 + n_docs) // (n_docs * 2) AS BIGINT)
         AS mean_known_micros
FROM agg
"""


def ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): within
    each LANGUAGE, split documents into head / middle / tail thirds
    by language-model fluency — CCNet orders by Kneser-Ney perplexity
    and cuts at the 1/3 and 2/3 marks; here the fluency signal is the
    engine-exact lm_known_bigram_score (higher known_micros = more
    fluent, so HEAD = the most-known third).  The cut is the
    value-grain rule a windowless plan can express: with n_ge = docs
    in the language scoring >= s (inclusive, descending CDF), a doc
    is head iff 3·n_ge <= n_lang, middle iff 3·n_ge <= 2·n_lang,
    else tail — a whole tie group lands in one bucket (CCNet's
    per-doc cut inside a tie group is order-arbitrary; this rule is
    the deterministic refinement).  Output (doc_id, lang,
    known_micros, cume_micros, bucket) over docs with >= 1 bigram;
    bucket derives from the exact integers, never the rounded cume.

    Scale: the textbook form — NTILE(3) OVER (PARTITION BY lang
    ORDER BY score) — sorts the whole corpus in one unsplittable
    task per language.  Here the only window runs over the DISTINCT
    (lang, known_micros) relation, which is bounded by the micros
    range (<= 1e6 + 1 values per language at ANY corpus size — a
    tighter bound than length_percentile's distinct-lengths); the
    corpus-sized side sees one map-side-combinable count and one
    AQE-broadcastable join back on (lang, known_micros)."""
    # two consumers (per-score counts, the final join-back) read the
    # scored relation; a _scoped_persist pin was measured
    # flat-to-worse at sf0.1 (3.12 s unpinned vs 3.27 pinned) —
    # ReusedExchange already dedupes the LM chain, the overlap-matrix
    # precedent — so the plan stays unpinned.  The per-lang totals
    # derive from the BOUNDED per-score relation (sum of its counts
    # is the language's doc count by construction), not a third
    # corpus-side aggregate.
    scored = lm_known_bigram_score(spark, sf_dir).select("doc_id", "known_micros")
    lang = table(spark, sf_dir, "documents").select("doc_id", "lang")
    d = scored.join(lang, "doc_id")
    per_score = d.groupBy("lang", "known_micros").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cdf = (
        Window.partitionBy("lang")
        .orderBy(F.desc("known_micros"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = per_score.select(
        "lang", "known_micros", F.sum("cnt").over(w_cdf).alias("n_ge")
    )
    totals = per_score.groupBy("lang").agg(F.sum("cnt").alias("n_lang"))
    return (
        d.join(cdf, ["lang", "known_micros"])
        .join(F.broadcast(totals), "lang")
        .select(
            "doc_id",
            "lang",
            "known_micros",
            sk.ratio_micros("n_ge", "n_lang").alias("cume_micros"),
            F.when(F.col("n_ge") * 3 <= F.col("n_lang"), F.lit("head"))
            .when(F.col("n_ge") * 3 <= F.col("n_lang") * 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


_CCNET_BUCKETS_ORACLE = f"""
WITH scored AS (SELECT doc_id, known_micros FROM ({_LM_SCORE_ORACLE}) s),
d AS (
  SELECT scored.doc_id, dd.lang, scored.known_micros
  FROM scored JOIN documents dd ON scored.doc_id = dd.doc_id
),
per_score AS (
  SELECT lang, known_micros, COUNT(*) AS cnt FROM d GROUP BY 1, 2
),
cdf AS (
  SELECT lang, known_micros,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY known_micros DESC
                        ROWS UNBOUNDED PRECEDING) AS n_ge
  FROM per_score
),
tot AS (SELECT lang, COUNT(*) AS n_lang FROM d GROUP BY 1)
SELECT d.doc_id, d.lang, d.known_micros,
       {sk.ratio_micros_sql('n_ge', 'n_lang')} AS cume_micros,
       CASE WHEN n_ge * 3 <= n_lang THEN 'head'
            WHEN n_ge * 3 <= n_lang * 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM d JOIN cdf USING (lang, known_micros) JOIN tot USING (lang)
"""


CLS_TRAIN_MOD = 2        # doc_id % MOD == 0 is the labeled training half
CLS_PRIOR_MICROS = 500_000   # weight for terms unseen in training
CLS_KEEP_MICROS = 500_000    # keep at margin >= this


def quality_classifier_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distilled linear quality classifier — the fastText-shaped
    filter (Joulin et al. 2017) production curation serves when the
    teacher rule is too expensive to run on everything (the
    GPT-3/DCLM recipe: label a slice with the expensive signal,
    train a cheap linear model, serve it corpus-wide).  TRAIN: docs
    with doc_id % {CLS_TRAIN_MOD} == 0 take the LM gate's keep
    verdict (lm_known_bigram_score, the registered teacher) as the
    label; each distinct normalized term's weight is the integer-
    micros fraction of labeled docs containing it that the teacher
    kept — the log-free Naive-Bayes-ish odds (production logistic
    weights need float training; the engine-exact contract keeps
    integer class odds, which preserves the margin ORDER the filter
    thresholds on).  SERVE: every document scores the round-half-up
    mean weight of its distinct terms, unseen terms at the
    {CLS_PRIOR_MICROS}-micros prior; keep at margin >=
    {CLS_KEEP_MICROS}.  Output (doc_id, n_terms, n_seen,
    margin_micros, keep) over docs with >= 1 term, integers only.

    Scale: the teacher runs on the labeled HALF only (at production
    scale: a fixed sample, not a corpus pass); the weight table is
    vocabulary-bounded and map-side-combined; serving is one
    distinct-(doc, term) map pass, one AQE-broadcastable join on
    term against the weight table, one map-side-combinable per-doc
    aggregate.  No corpus-wide key, no window, no float."""
    # the weight build and the serving side both consume the distinct
    # (doc, term) relation; a _scoped_persist pin measured
    # flat-to-worse at sf0.1 (2.56 s unpinned vs 2.76 pinned —
    # ReusedExchange dedupes the distinct), so the plan stays unpinned
    d = _docs_words(spark, sf_dir)
    doc_terms = d.select("doc_id", F.explode("w").alias("t")).distinct()
    is_train = F.col("doc_id") % CLS_TRAIN_MOD == 0
    labels = (
        lm_known_bigram_score(spark, sf_dir)
        .filter(is_train)
        .select("doc_id", F.col("keep").cast("long").alias("y"))
    )
    weights = (
        doc_terms.join(labels, "doc_id")
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("df_all"),
            F.sum("y").alias("df_keep"),
        )
        .select("t", sk.ratio_micros("df_keep", "df_all").alias("w"))
    )
    scored = (
        doc_terms.join(F.broadcast(weights), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.count("w").alias("n_seen"),
            F.sum(F.coalesce("w", F.lit(CLS_PRIOR_MICROS))).alias("sum_w"),
        )
    )
    return scored.select(
        "doc_id",
        "n_terms",
        "n_seen",
        F.expr("(sum_w * 2 + n_terms) div (n_terms * 2)").alias("margin_micros"),
        (
            F.expr("(sum_w * 2 + n_terms) div (n_terms * 2)")
            >= CLS_KEEP_MICROS
        ).alias("keep"),
    )


_CLS_MARGIN_ORACLE = f"""
WITH {_NORM_CTE},
doc_terms AS (
  SELECT DISTINCT doc_id, unnest(w) AS t FROM docs_words
),
labels AS (
  SELECT doc_id, CAST(keep AS BIGINT) AS y FROM ({_LM_SCORE_ORACLE}) s
  WHERE doc_id % {CLS_TRAIN_MOD} = 0
),
weights AS (
  SELECT t, {sk.ratio_micros_sql('CAST(SUM(y) AS BIGINT)',
                                 'CAST(COUNT(*) AS BIGINT)')} AS w
  FROM doc_terms JOIN labels USING (doc_id)
  GROUP BY t
),
scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(COUNT(w) AS BIGINT) AS n_seen,
         CAST(SUM(COALESCE(w, {CLS_PRIOR_MICROS})) AS BIGINT) AS sum_w
  FROM doc_terms LEFT JOIN weights USING (t)
  GROUP BY doc_id
)
SELECT doc_id, n_terms, n_seen,
       CAST((sum_w * 2 + n_terms) // (n_terms * 2) AS BIGINT)
         AS margin_micros,
       CAST((sum_w * 2 + n_terms) // (n_terms * 2) AS BIGINT)
         >= {CLS_KEEP_MICROS} AS keep
FROM scored
"""


QUERIES.update(
    {
        "cms_probe_terms": cms_probe_terms,
        "bloom_probe_fingerprints": bloom_probe_fingerprints,
        "bpe_fertility_frozen": bpe_fertility_frozen,
        "quality_by_source": quality_by_source,
        "lm_probe_newdocs": lm_probe_newdocs,
        "lm_stupid_backoff_newdocs": lm_stupid_backoff_newdocs,
        "kmv_distinct_shingles": kmv_distinct_shingles,
        "sketch_fold_digest": sketch_fold_digest,
        "ccnet_quality_buckets": ccnet_quality_buckets,
        "quality_classifier_margin": quality_classifier_margin,
    }
)

ORACLE.update(
    {
        "cms_probe_terms": _CMS_PROBE_ORACLE,
        "bloom_probe_fingerprints": _bloom_probe_oracle(),
        "bpe_fertility_frozen": _bpe_fertility_oracle(),
        "quality_by_source": _QUALITY_BY_SOURCE_ORACLE,
        "lm_probe_newdocs": _LM_PROBE_ORACLE,
        "lm_stupid_backoff_newdocs": _SB_ORACLE,
        "kmv_distinct_shingles": _KMV_ORACLE,
        "sketch_fold_digest": _SKETCH_FOLD_ORACLE,
        "ccnet_quality_buckets": _CCNET_BUCKETS_ORACLE,
        "quality_classifier_margin": _CLS_MARGIN_ORACLE,
    }
)

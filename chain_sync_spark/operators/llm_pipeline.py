"""LLM-training-data pipeline operators (north-star ⊕ family).

Deduplication, near-duplicate detection, embedding similarity search,
and text analysis over the `documents` / `embeddings` tables — the
operator family a 100 TB training-data pipeline needs on top of the
relational surface. Reference parity: the reference engine
(hive-discover/chain-sync) has no analog; these are mandated by the
north star (BASELINE.json) and SURVEY.md §2.8 ⊕.

Scale design (the whole point of this family):

* Candidate generation is ALWAYS bucketed — MinHash band-bucket
  self-join, SimHash band buckets, LSH hyperplane buckets, df-capped
  inverted lists. Never an all-pairs cartesian: at N documents the
  candidate join is O(N · bucket_width), not O(N²).
* Per-document sketches (MinHash sigs, SimHash fingerprints, n-gram
  sets, quality stats) are pure column expressions — embarrassingly
  parallel, whole-stage codegen, zero shuffle.
* The only shuffles are the bucket joins and final aggregations, all
  on high-cardinality keys (band hash, bucket id) that distribute
  evenly by construction (they are hashes).

Cross-engine determinism: every constant (seeds, band layout,
stopword sets, hyperplanes) lives in this module and is rendered into
BOTH the Spark plan and the DuckDB oracle SQL, and all hashing goes
through the portable md5-based primitives in functions/sketches.py.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chain_sync_spark.functions import multimodal as mm
from chain_sync_spark.functions import sketches as sk
from chain_sync_spark.tables import table

# ---------------------------------------------------------------------------
# Shared constants (rendered into both engines)
# ---------------------------------------------------------------------------

N_MINHASH = 16          # MinHash signatures
N_BANDS = 4             # LSH bands (rows per band = N_MINHASH / N_BANDS)
ROWS_PER_BAND = N_MINHASH // N_BANDS

SIMHASH_BAND_BITS = 15  # 60-bit fingerprint → 4 bands of 15 bits
SIMHASH_BANDS = sk.HASH_BITS // SIMHASH_BAND_BITS

NGRAM_N = 4             # char n-gram size
NGRAM_DF_CAP = 50       # drop n-grams appearing in more docs (stop-grams)
NGRAM_MIN_JACCARD = 0.5

ANN_QUERIES = 10        # vec_id < ANN_QUERIES form the query set
ANN_TOPK = 5
LSH_PLANES = 12         # random-hyperplane bits → 4096 buckets
EMB_DIM = 64

STOPWORDS = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "los", "de", "que", "y"),
    "fr": ("le", "la", "les", "et", "des", "un"),
}
LANG_PRIORITY = ("en", "de", "es", "fr")  # deterministic tie-break order


# ---------------------------------------------------------------------------
# Scoped cache pool
# ---------------------------------------------------------------------------
# Query functions return LAZY DataFrames, so relations they persist for
# intra-job reuse must outlive the function call (the caller runs the
# action). Scoping rule: a cache registered here lives until the next
# persisting llm_pipeline query starts (by which point the previous
# query's action has run) or until release_caches(). This bounds a
# registry-wide sweep's cache footprint at ONE query's working set
# instead of accumulating every query's. Releasing is always safe for
# correctness: unpersist only drops cached partitions, lineage remains.
# (For CHECKPOINTED pool entries the blocks ARE the data — see
# _scoped_checkpoint — so release additionally means "this relation's
# life is over", which holds by the same protocol: the driver consumes
# a query's result before the next query opens a new scope.)

_SCOPED_CACHES: list[DataFrame] = []


def release_caches() -> None:
    """Unpersist every scoped cache (call after consuming a result).
    Checkpointed entries get their blocks dropped too — deterministic
    scope-end release instead of waiting on the ContextCleaner's next
    driver GC (which a long-lived process may not run for hours)."""
    while _SCOPED_CACHES:
        df = _SCOPED_CACHES.pop()
        df.unpersist()
        _free_checkpoint_blocks(df)


def _free_checkpoint_blocks(df: DataFrame) -> None:
    """Drop a localCheckpoint'ed relation's blocks NOW.

    DataFrame.unpersist is a CacheManager call, and checkpoint blocks
    don't live in the cache manager — they belong to the truncated-
    lineage RDD inside the plan's LogicalRDD leaf, so without this the
    blocks linger until the driver JVM happens to GC the RDD handle
    (ContextCleaner). Harmless no-op for plain persisted relations
    (their analyzed plan has no LogicalRDD leaf to reach). The
    relation is UNREADABLE afterwards — lineage was truncated away at
    checkpoint time, so there is nothing to recompute from; callers
    only reach here at true end-of-scope."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort; the ContextCleaner remains the backstop


def _scoped_persist(df: DataFrame) -> DataFrame:
    _SCOPED_CACHES.append(df)
    return df.persist()


def escape_scope(df: DataFrame) -> DataFrame:
    """Materialize a result OUT of the scope pool's lifetime.

    Scope-pooled checkpoints free their blocks at the next
    release_caches() (lineage was truncated at checkpoint time, so
    there is nothing to recompute from), and any relation derived
    from one — a connected_components labeling, a neardup_clusters
    result — dies with them: a later action fails with Spark's
    cryptic "Block rdd_N not found".  An external caller that needs
    a result ACROSS query boundaries calls this instead of holding
    the raw relation: the returned DataFrame owns fresh blocks with
    a caller-controlled lifetime.  Release them with
    ``release_escaped(df)`` when done — NOT ``df.unpersist()``,
    which is a CacheManager call and a silent no-op for checkpoint
    blocks (they belong to the LogicalRDD leaf, not the cache
    manager; without an explicit release they linger until the
    driver JVM garbage-collects the RDD handle — ADVICE r11).
    In-repo consumers never need it — the driver protocol consumes
    each result before the next query opens a scope (ADVICE r10)."""
    return df.localCheckpoint(eager=True)


def release_escaped(df: DataFrame) -> None:
    """Free an escape_scope() result's blocks NOW (the explicit
    release helper ADVICE r11 asked for).  ``df.unpersist()`` cannot
    do this — checkpoint blocks are not cache-manager entries — so
    this reaches the truncated-lineage RDD inside the plan and
    unpersists it directly.  The relation is UNREADABLE afterwards
    (lineage was truncated at checkpoint time; there is nothing to
    recompute from)."""
    _free_checkpoint_blocks(df)


def _scoped_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager) registered with the scope pool: lineage
    truncation for loop relations (connected components, BPE training)
    whose blocks are then freed DETERMINISTICALLY at the next
    release_caches() instead of at an eventual driver GC. Bounded:
    loops checkpoint every few rounds and are themselves
    max_iters-bounded, so a scope holds at most a handful of
    checkpoint generations."""
    ck = df.localCheckpoint(eager=True)
    _SCOPED_CACHES.append(ck)
    return ck


def _hyperplane(h: int, d: int) -> int:
    """Deterministic ±1 hyperplane entry from md5 — the same literal
    matrix is embedded in the Spark plan and the oracle SQL."""
    return 1 if hashlib.md5(f"hp{h}:{d}".encode()).digest()[0] & 1 else -1


HYPERPLANES = [[_hyperplane(h, d) for d in range(EMB_DIM)] for h in range(LSH_PLANES)]


def lsh_bucket(col: str = "e") -> Column:
    """Sign-bit bucket id of an array<double> embedding column over
    the shared {LSH_PLANES} hyperplanes — the ONE definition all four
    hyperplane-LSH consumers (ann pairs, multi-probe, recall audit,
    semantic dedup) build their bucket from.

    Rendered as a SINGLE SQL expression string instead of the old
    per-element F.lit/F.when Column chain: the chain cost ~2 300 py4j
    round-trips per construct (the 12×64 plane literals alone were
    1 560 — measured r13, ~18 s of DataFrame-construction time under
    host load, ~3.5 s idle), while one ``F.expr`` parse is 2 calls
    (~0.5 s → the whole bucket now analyzes in well under a second).
    Value-identical by construction: ``aggregate(zip_with(..))`` is
    exactly the expression :func:`sketches.dot` builds (same
    left-to-right double fold), every plane entry is an EXACT ±1.0
    double literal, and the CASE/shift arithmetic is unchanged —
    re-verified bucket-for-bucket against the old chain at sf0.01
    and against the unchanged DuckDB oracles at sf0.01/sf0.1."""
    terms = []
    for h in range(LSH_PLANES):
        arr = "array(" + ",".join(f"{float(v)}D" for v in HYPERPLANES[h]) + ")"
        dot = (
            f"aggregate(zip_with({col}, {arr}, (x, y) -> x * y), 0.0D,"
            " (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << h} ELSE 0 END)")
    return F.expr("(" + " + ".join(terms) + ")")


# ---------------------------------------------------------------------------
# Shared building blocks
# ---------------------------------------------------------------------------

def _docs_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + normalized text + word tokens."""
    docs = table(spark, sf_dir, "documents")
    return docs.withColumn("t", sk.normalize_text(F.col("text"))).withColumn(
        "w", sk.words(F.col("t"))
    )


_NORM_CTE = f"""
docs_norm AS (
  SELECT doc_id, text, lang, source, n_chars,
         {sk.NORMALIZE_SQL.format(c='text')} AS t
  FROM documents
),
docs_words AS (
  SELECT *, {sk.WORDS_SQL.format(c='t')} AS w FROM docs_norm
)"""


def _docs_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct word-trigram shingle set (docs with ≥ 3 words).

    The eligibility filter runs on the cheap precondition (word
    count), NOT on the shingle array: filtering on size(sh) makes
    Catalyst evaluate the whole shingle expression once for the
    predicate and again for the projection (measured 10× slower)."""
    d = _docs_norm(spark, sf_dir).filter(F.size("w") >= 3)
    return d.select("doc_id", sk.word_shingles(F.col("w"), 3).alias("sh"))


_SHINGLE_CTE = (
    _NORM_CTE
    + f""",
docs_sh AS (
  SELECT doc_id, {sk.word_shingles_sql('w', 3)} AS sh FROM docs_words
),
sh AS (
  SELECT doc_id, sh FROM docs_sh WHERE len(sh) > 0
)"""
)


# ---------------------------------------------------------------------------
# 1. Exact deduplication
# ---------------------------------------------------------------------------

def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 over normalized text groups byte-identical
    documents; keep the lowest doc_id per group, report group size.

    Scale: one hash-partitioned groupBy on a 128-bit key — partial
    aggregation map-side, so the shuffle carries ONE row per distinct
    key (the window form it replaced shuffled every input row and
    sorted whole partitions by (dup_key, doc_id)). The string-typed
    min_by buffers make Spark pick SortAggregate over HashAggregate,
    so a local map-side sort on dup_key remains — but it runs before
    the shuffle and the reduce side only sorts the collapsed
    one-row-per-key stream. The shuffle-volume win is what matters at
    100 TB.
    """
    d = _docs_norm(spark, sf_dir).withColumn("dup_key", F.md5(F.col("t")))
    return d.groupBy("dup_key").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("source", "doc_id").alias("source"),
    ).select("doc_id", "dup_key", "n_copies", "lang", "source")


_DEDUP_EXACT_SQL = f"""
WITH {_NORM_CTE.lstrip()}
SELECT doc_id, md5(t) AS dup_key,
       COUNT(*) OVER (PARTITION BY md5(t)) AS n_copies, lang, source
FROM docs_norm
QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
"""


# ---------------------------------------------------------------------------
# 2. Near-dup: MinHash + LSH band-bucket join
# ---------------------------------------------------------------------------

def _band_collisions(sigs):
    """(doc_a, doc_b) DISTINCT banded-LSH collision candidates from a
    (doc_id, sig) relation — THE one banding definition for every
    MinHash consumer (neardup_minhash_bands, the estimator audit,
    containment), so a banding-layout change (N_BANDS, row layout,
    key separator) lands everywhere at once.  Self-join on the
    uniform (band_idx, bkey), doc_a < doc_b."""
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
    bands = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "bkey")
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _sig_band_sql():
    """(sig_exprs, band_selects) — the DuckDB rendering of the same
    banding _band_collisions runs engine-side; sigs CTE columns
    sig_0..sig_{N_MINHASH-1} computed from `sh`."""
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
    return sig_exprs, band_selects


def neardup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs with exact-Jaccard
    verification: shingle → {N_MINHASH} md5-min signatures → {N_BANDS}
    band keys → band-bucket self-join (candidates = docs sharing a
    band) → exact Jaccard over the shingle sets.

    Scale: the self-join key is (band_idx, band_hash) — uniformly
    distributed; candidate volume is O(N · collisions), never O(N²).
    The exact-Jaccard verify re-joins the (doc_id, shingles) relation
    only for candidate ids (a semi-join-sized input at scale).
    """
    release_caches()  # previous query's scope ends here
    # Pinned at the SIGNED grain (doc_id, sh, sig), not the shingle
    # grain: the banding self-join consumes the {N_MINHASH}-hash
    # signature fold on BOTH sides, and with the pin below the fold
    # the executed plan ran the fold TWICE over the full corpus
    # (plans/r13/neardup_minhash_bands_before.txt nodes 8+13) — the
    # exact duplication minhash_estimate_error_audit's signed pin
    # already measured away (4.05 → 2.9 s, its docstring).  The pin
    # grows by one {N_MINHASH}-int array per doc (~128 B — noise next
    # to the shingle array it sits beside), and the verify sides read
    # `sh` from the same cache, column-pruned.
    shingled = _scoped_persist(
        _docs_shingled(spark, sf_dir).select(
            "doc_id",
            "sh",
            sk.minhash_sigs(F.col("sh"), N_MINHASH).alias("sig"),
        )
    )
    cand = _band_collisions(shingled)
    sa, sb = shingled.alias("sa"), shingled.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
    )


def _minhash_oracle() -> str:
    sig_exprs, band_selects = _sig_band_sql()
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
    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
FROM cand
JOIN sh sa ON cand.doc_a = sa.doc_id
JOIN sh sb ON cand.doc_b = sb.doc_id
"""


def minhash_estimate_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the MinHash estimator — the LSH family's
    analog of ann_recall_audit ("measure the dial, don't assert it"):
    for every band-collision candidate pair, the signature-agreement
    Jaccard estimate (equal positions / {N_MINHASH} — the unbiased
    MinHash estimator) next to the EXACT shingle-set Jaccard and the
    absolute error, all in integer micros.  This is the table that
    justifies N_MINHASH/N_BANDS choices: expected |error| scales as
    1/sqrt(N_MINHASH), and a drifting error distribution (e.g. after
    a tokenizer change) flags a mis-tuned sketch before it costs
    recall in production.

    Scale: rides neardup_minhash_bands' exact plan shape (banded
    self-join — candidates O(N · collisions), never all-pairs; the
    signature fold is one pass over the persisted shingle relation);
    the audit adds only a {N_MINHASH}-element zip_with per candidate
    pair.  Output (doc_a, doc_b, est_micros, true_micros,
    err_micros), integer-only per the round-5 boundary contract.

    The pin sits on the SIGNED relation: three consumers (band keys +
    both verify sides) need the signatures, so pinning below the fold
    would run the {N_MINHASH}-way aggregate three times — measured
    4.05 → 2.9 s at sf0.1 from moving the pin (r13-opt extended the
    same signed pin to neardup_minhash_bands / containment /
    incremental, whose band self-joins paid the fold twice)."""
    release_caches()  # previous query's scope ends here
    sigs = _scoped_persist(
        _docs_shingled(spark, sf_dir).select(
            "doc_id",
            "sh",
            sk.minhash_sigs(F.col("sh"), N_MINHASH).alias("sig"),
        )
    )
    cand = _band_collisions(sigs)
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    eq_n = F.size(
        F.filter(
            F.zip_with(F.col("sa.sig"), F.col("sb.sig"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    est = sk.ratio_micros("eq_n", str(N_MINHASH))
    tru = sk.ratio_micros("i_n", "u_n")
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            eq_n.alias("eq_n"),
            inter.alias("i_n"),
            union.alias("u_n"),
        )
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_micros"),
            tru.alias("true_micros"),
            F.abs(est - tru).alias("err_micros"),
        )
    )


def _minhash_err_oracle() -> str:
    sig_exprs, band_selects = _sig_band_sql()
    eq_sum = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    )
    est = sk.ratio_micros_sql("eq_n", str(N_MINHASH))
    tru = sk.ratio_micros_sql("i_n", "u_n")
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
    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
m AS (
  SELECT doc_a, doc_b,
         CAST({eq_sum} AS BIGINT) AS eq_n,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS i_n,
         CAST(len(sa.sh) + len(sb.sh)
              - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS u_n
  FROM cand
  JOIN sigs sa ON cand.doc_a = sa.doc_id
  JOIN sigs sb ON cand.doc_b = sb.doc_id
)
SELECT doc_a, doc_b,
       {est} AS est_micros,
       {tru} AS true_micros,
       CAST(ABS({est} - {tru}) AS BIGINT) AS err_micros
FROM m
"""


CLUSTER_MIN_JACCARD = 0.5
CLUSTER_MAX_ITERS = 12
CLUSTER_CHECKPOINT_EVERY = 4


def connected_components(
    edges: DataFrame,
    *,
    max_iters: int = CLUSTER_MAX_ITERS,
    checkpoint_every: int = CLUSTER_CHECKPOINT_EVERY,
) -> DataFrame:
    """Connected components by iterative min-label propagation over a
    SYMMETRIC edge list (src, dst): each round every node takes the min
    label among itself and its neighbors; the fixpoint is the component
    minimum. Returns (doc_id, label).

    Scale: each round is one shuffle join on node id; rounds needed =
    graph diameter (near-dup components are small and dense, ~2-3
    rounds). Every ``checkpoint_every`` rounds the label relation is
    localCheckpoint'ed so adversarially long chain graphs don't grow
    unbounded plan lineage (plan depth stays <= checkpoint_every
    rounds; the common short-diameter path never checkpoints). Raises
    RuntimeError if no fixpoint is reached within ``max_iters`` —
    a truncated component labeling is silently wrong, so failing loudly
    is the only safe behavior.

    The convergence test is FREE of extra shuffles: a label changed
    this round iff its neighborhood minimum undercut it, which the
    propagation join already knows — the ``changed`` flag rides the
    persisted label relation, so the per-round convergence count is a
    partial-aggregate over cached rows instead of the label-vs-label
    shuffle join the first version paid (one full shuffle per round
    removed; same fixpoint, same labels).

    All intermediate persists are released inside the loop; the final
    labels relation is materialized before the intermediates are freed.

    The FIRST propagation round is folded into the initialization
    (r14 action census): from identity labels, round 1 computes
    label(v) = min(v, min N(v)) — which is one groupBy over the
    symmetric edge list, no label relation needed yet.  The old shape
    paid a distinct + a two-join propagation round for the identical
    relation; rounds 2+ and the convergence protocol are unchanged,
    so the fixpoint (and every label) is the same by construction.
    """
    labels = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("nlabel"))
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.col("nlabel")).alias("label"),
            (F.col("nlabel") < F.col("doc_id")).alias("changed"),
        )
        .persist()
    )
    try:
        # materializes the init AND reads round 1's convergence signal
        converged = labels.filter("changed").count() == 0
        for i in range(1, max_iters):
            if converged:
                break
            neigh = (
                edges.join(labels, edges.dst == labels.doc_id)
                .groupBy("src")
                .agg(F.min("label").alias("nlabel"))
            )
            new_labels = (
                labels.select("doc_id", "label")
                .join(neigh, F.col("doc_id") == neigh.src, "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("label"), F.coalesce("nlabel", "label")
                    ).alias("label"),
                    # changed iff a neighbor's label undercut ours —
                    # known from this same join, no second pass needed
                    F.coalesce(
                        F.col("nlabel") < F.col("label"), F.lit(False)
                    ).alias("changed"),
                )
            )
            if (i + 1) % checkpoint_every == 0:
                # truncate lineage: plan depth resets to zero here;
                # blocks freed at scope end (release_caches)
                new_labels = _scoped_checkpoint(new_labels)
            else:
                new_labels = new_labels.persist()
            # materializes new_labels AND reads the convergence signal
            # in one action — no shuffle, just a cached-row filter
            n_changed = new_labels.filter("changed").count()
            labels.unpersist()  # previous round's relation — consumed
            labels = new_labels
            if n_changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} rounds "
                "(graph diameter exceeds max_iters); raise max_iters"
            )
    except BaseException:
        labels.unpersist()
        raise
    # Truncate the FINAL relation's lineage before handing it out:
    # unless the last round happened to checkpoint, the persisted
    # labels still carry up to checkpoint_every rounds of nested
    # adaptive join plans, and EVERY downstream query over them
    # (cluster_size count + join-back, canonical keep-first, funnel
    # stages) re-orchestrates that tree — measured ~1.1 s per scan of
    # a 560-row cached relation at sf0.1, vs ~0.2 s flat; the winnow
    # agc tail scans it twice (r11 VERDICT finding #2).  One eager
    # localCheckpoint (~0.3 s) flattens it to a LogicalRDD for every
    # consumer; the pre-checkpoint blocks are released immediately.
    # (identity scan: DataFrame.__eq__ builds a Column, so `in` would
    # raise rather than compare)
    if any(labels is c for c in _SCOPED_CACHES):
        # final round checkpointed: already flat and pool-registered
        return labels.select("doc_id", "label")
    try:
        out = _scoped_checkpoint(labels.select("doc_id", "label"))
    except BaseException:
        # the eager checkpoint job itself failed: without this the
        # persisted labels are neither pool-registered nor released
        # and leak until driver GC (r12 review finding)
        labels.unpersist()
        raise
    labels.unpersist()
    return out


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs — the step an actual
    training-data pipeline needs after candidate generation: connected
    components over the MinHash pair graph (jaccard ≥
    {CLUSTER_MIN_JACCARD}), so each group of mutual near-duplicates
    collapses to one canonical doc (the min doc_id). Components are
    computed by iterative min-label propagation: each round every
    node takes the min label among itself and its neighbors; the
    fixpoint is the component minimum.

    Scale: each round is one shuffle join on node id; rounds needed =
    graph diameter, and near-dup components are small and dense
    (diameter ~2-3), so the loop is a handful of rounds — this is the
    standard large-scale CC recipe (cf. small-star/large-star for
    adversarially long chains). The oracle reproduces the fixpoint
    declaratively with a recursive CTE."""
    pairs = neardup_minhash_bands(spark, sf_dir).filter(
        F.col("jaccard") >= CLUSTER_MIN_JACCARD
    )
    half = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # CHECKPOINTED, not just persisted: the CC loop joins edges every
    # round, and a persisted relation still carries the whole minhash
    # chain's nested plan — each round's query re-plans that tree
    # driver-side (~1 s/round at sf0.1; the same pathology the final
    # labels checkpoint fixed).  Lineage truncation costs the same
    # one materialization the first loop action paid anyway, and the
    # blocks free at scope end like every pool entry.
    edges = _scoped_checkpoint(
        half.union(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    labels = connected_components(edges)
    # cluster_size via attach_group_count, not COUNT OVER (PARTITION
    # BY cluster_id): a boilerplate dup-cluster is corpus-sized, and
    # the window would pin its whole member list in one task (the
    # r10 hot-key class; the count + join-back is map-side
    # combinable and AQE-splittable)
    from chain_sync_spark.operators.skew import attach_group_count

    base = labels.select("doc_id", F.col("label").alias("cluster_id"))
    return attach_group_count(base, ["cluster_id"], "cluster_size").withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


def _clusters_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh
  WHERE jaccard >= {CLUSTER_MIN_JACCARD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
walk(doc_id, label) AS (
  SELECT doc_id, doc_id AS label FROM nodes
  UNION
  SELECT e.dst AS doc_id, w.label
  FROM walk w JOIN edges e ON w.doc_id = e.src
),
comp AS (SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM comp
"""


# ---------------------------------------------------------------------------
# 3. Near-dup: SimHash band buckets + Hamming distance
# ---------------------------------------------------------------------------

def neardup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit tf-weighted fingerprint per document
    (pure column fold, no shuffle), split into {SIMHASH_BANDS} bands of
    {SIMHASH_BAND_BITS} bits; documents sharing any band are candidate
    pairs, scored by Hamming distance (bit_count of xor).

    Scale: identical shape to MinHash-LSH — banded bucket join. The
    fingerprint computation itself is one codegen'd expression.
    """
    release_caches()  # previous query's scope ends here
    # persisted: the fingerprint fold would otherwise run once per
    # side of the band self-join
    d = _scoped_persist(
        _docs_norm(spark, sf_dir).select("doc_id", sk.simhash60("w").alias("fp"))
    )
    band_cols = [
        (F.shiftright(F.col("fp"), b * SIMHASH_BAND_BITS).bitwiseAND(
            F.lit((1 << SIMHASH_BAND_BITS) - 1)
        )).alias(f"band_{b}")
        for b in range(SIMHASH_BANDS)
    ]
    bands = d.select("doc_id", "fp", *band_cols).select(
        "doc_id",
        "fp",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(SIMHASH_BANDS)])).alias(
            "band_idx", "bval"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .distinct()
    )


def _simhash_oracle() -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, fingerprint, {b} AS band_idx,"
        f" (fingerprint >> {b * SIMHASH_BAND_BITS}) & {mask} AS bval FROM sh_fp"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH {_NORM_CTE.lstrip()},
{sk.simhash60_sql('docs_words', 'w').lstrip()},
bands AS (
{band_selects}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.bval = b.bval AND a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# 4. Near-dup: char n-gram Jaccard via df-capped inverted index
# ---------------------------------------------------------------------------

def neardup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-{NGRAM_N}-gram Jaccard similarity join: distinct
    n-gram sets per doc; candidate pairs from an inverted index with a
    document-frequency cap (n-grams in > {NGRAM_DF_CAP} docs are
    stop-grams and generate no candidates — the classic posting-list
    prefilter); exact Jaccard over the full sets; keep pairs ≥
    {NGRAM_MIN_JACCARD}.

    Scale: candidate volume is Σ_g C(df_g, 2) with df_g ≤ cap, i.e.
    bounded per posting list; the full-set verify joins only candidate
    ids. All-pairs never materializes. The gram relation is persisted:
    it feeds four consumers (df counts, the capped posting join, both
    verify sides), and exploding an unpersisted derived array makes
    the generator re-evaluate the whole array expression per output
    row (measured 40× slower).
    """
    release_caches()  # previous query's scope ends here
    # filter on the cheap precondition, not on the built array (see
    # _docs_shingled)
    d = _scoped_persist(
        _docs_norm(spark, sf_dir)
        .filter(F.length("t") >= NGRAM_N)
        .select("doc_id", sk.char_ngrams(F.col("t"), NGRAM_N).alias("g"))
    )
    posting = d.select("doc_id", F.explode("g").alias("gram"))
    rare = (
        posting.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= NGRAM_DF_CAP)
        .select("gram")
    )
    rare_posting = posting.join(rare, "gram", "left_semi")
    a, b = rare_posting.alias("a"), rare_posting.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ga, gb = d.alias("ga"), d.alias("gb")
    inter = F.size(F.array_intersect(F.col("ga.g"), F.col("gb.g")))
    union = F.size(F.col("ga.g")) + F.size(F.col("gb.g")) - inter
    return (
        cand.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= NGRAM_MIN_JACCARD)
    )


_NGRAM_ORACLE = f"""
WITH {_NORM_CTE.lstrip()},
grams AS (
  SELECT doc_id, {sk.char_ngrams_sql('t', NGRAM_N)} AS g FROM docs_norm
),
g_ok AS (SELECT doc_id, g FROM grams WHERE len(g) > 0),
posting AS (SELECT doc_id, unnest(g) AS gram FROM g_ok),
rare AS (
  SELECT gram FROM posting GROUP BY gram HAVING COUNT(*) <= {NGRAM_DF_CAP}
),
rare_posting AS (
  SELECT p.doc_id, p.gram FROM posting p JOIN rare r ON p.gram = r.gram
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare_posting a JOIN rare_posting b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
           / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))) AS jaccard
  FROM cand
  JOIN g_ok ga ON cand.doc_a = ga.doc_id
  JOIN g_ok gb ON cand.doc_b = gb.doc_id
)
SELECT * FROM scored WHERE jaccard >= {NGRAM_MIN_JACCARD}
"""


# ---------------------------------------------------------------------------
# 5. Similarity search: brute-force cosine top-k (baseline)
# ---------------------------------------------------------------------------

def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{ANN_TOPK}: vectors with vec_id <
    {ANN_QUERIES} are the query set, scanned against the full
    embeddings table. Cosine runs in double via zip_with + sequential
    fold; ranking uses the ROUNDED score (4 dp) with vec_id
    tie-break so ordering is engine-independent.

    Scale: the query side is broadcast (bounded), the corpus side is
    a single pass — the correct baseline plan at any corpus size.
    For large query sets, switch to the LSH variant below.
    """
    # Query-side L2 norms hoisted out of the per-pair expression: the
    # projection under the broadcast exchange is materialized once at
    # broadcast build, so qnrm is computed per QUERY vector, not per
    # pair. (The corpus-side norm is left inline — persisting the
    # corpus to pin it would be the wrong trade at scale; a stored
    # norms column is the production form.)
    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", sk.vec_double(F.col("embedding")).alias("e"))
        .select("vec_id", "e", sk.l2norm(F.col("e")).alias("nrm"))
    )
    q = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sk.round_sim(
                sk.cos_prenorm(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANN_TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


_COSINE_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {ANN_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {sk.round_sim_sql(sk.cosine_sql('q.qe', 'e.embedding'))} AS cos_sim
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= {ANN_TOPK}
"""


# ---------------------------------------------------------------------------
# 6. Similarity search: random-hyperplane LSH buckets (scale path)
# ---------------------------------------------------------------------------

def embedding_ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: {LSH_PLANES} deterministic ±1
    hyperplanes → sign bits → bucket id; candidate pairs only within
    a bucket, scored with exact cosine. This is the embedding
    near-duplicate / ANN scale path: bucket count grows 2^planes, the
    per-bucket join is tiny, and no all-pairs product ever forms.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    # nrm rides through the shuffle exchange (computed once per row at
    # shuffle write — CollapseProject cannot cross an Exchange), so the
    # per-candidate-pair work is just the dot + one division
    bucketed = _scoped_persist(
        emb.withColumn("bucket", lsh_bucket("e")).withColumn(
            "nrm", sk.l2norm(F.col("e"))
        )
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sk.round_sim(
                sk.cos_prenorm(
                    F.col("a.e"), F.col("b.e"), F.col("a.nrm"), F.col("b.nrm")
                )
            ).alias("cos_sim"),
        )
    )


def _ann_lsh_oracle() -> str:
    bits = " + ".join(
        f"CASE WHEN {sk.dot_sql('embedding', f'({HYPERPLANES[h]}::DOUBLE[])')} > 0"
        f" THEN {1 << h} ELSE 0 END"
        for h in range(LSH_PLANES)
    )
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {bits} AS bucket FROM embeddings
)
SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sk.round_sim_sql(sk.cosine_sql('a.embedding', 'b.embedding'))} AS cos_sim
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
"""


def embedding_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: single-probe (exact-bucket) hyperplane LSH
    misses near-duplicate vectors that land ONE sign bit apart — low
    recall at scale. Multi-probe recovers them by also probing every
    Hamming-1 neighbor bucket: each vector explodes into {LSH_PLANES}+1
    probe keys (home bucket + each single-bit flip), and candidates are
    an ordinary equi-join of probes against home buckets, i.e. all
    pairs with Hamming(bucket_a, bucket_b) <= 1.

    Scale: still no all-pairs product — a (planes+1)x fan-out on one
    join side, hash-shuffled on the probe key exactly like the
    single-probe join. Probe fan-out is the standard recall/cost dial
    (probe Hamming-2 for more recall). Recall@k against brute-force
    cosine is measured in tests/test_llm_pipeline.py.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    # nrm rides through the shuffle exchange (see embedding_ann_lsh_pairs)
    bucketed = emb.withColumn("bucket", lsh_bucket("e")).withColumn(
        "nrm", sk.l2norm(F.col("e"))
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << h)) for h in range(LSH_PLANES)],
    )
    a = bucketed.withColumn("probe", F.explode(probes)).alias("a")
    b = bucketed.alias("b")
    # exactly one probe of a matches b's home bucket when Hamming<=1,
    # so the a<b guard alone dedups the unordered pair
    return (
        a.join(
            b,
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.bit_count(F.col("a.bucket").bitwiseXOR(F.col("b.bucket")))
            .cast("int")
            .alias("hamming"),
            sk.round_sim(
                sk.cos_prenorm(
                    F.col("a.e"), F.col("b.e"), F.col("a.nrm"), F.col("b.nrm")
                )
            ).alias("cos_sim"),
        )
    )


def _ann_multiprobe_oracle() -> str:
    bits = " + ".join(
        f"CASE WHEN {sk.dot_sql('embedding', f'({HYPERPLANES[h]}::DOUBLE[])')} > 0"
        f" THEN {1 << h} ELSE 0 END"
        for h in range(LSH_PLANES)
    )
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {bits} AS bucket FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(bit_count(xor(a.bucket, b.bucket)) AS INT) AS hamming,
       {sk.round_sim_sql(sk.cosine_sql('a.embedding', 'b.embedding'))} AS cos_sim
FROM bucketed a JOIN bucketed b
  ON a.vec_id < b.vec_id AND bit_count(xor(a.bucket, b.bucket)) <= 1
"""


# ---------------------------------------------------------------------------
# 7–11. Text analysis
# ---------------------------------------------------------------------------

def text_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): doc counts, char and token
    statistics. Single hash aggregate with map-side partials."""
    d = _docs_norm(spark, sf_dir).withColumn("n_tokens", F.size("w"))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


_TEXT_STATS_ORACLE = f"""
WITH {_NORM_CTE.lstrip()},
d AS (SELECT *, CAST(len(w) AS INT) AS n_tokens FROM docs_words)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
       MAX(n_tokens) AS max_tokens
FROM d GROUP BY 1, 2
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, type-token ratio,
    stopword ratio, average token length, and a composite score —
    the standard pre-training corpus filters, all builtin columns."""
    stop = STOPWORDS["en"]
    d = _docs_norm(spark, sf_dir)
    n_tok = F.size("w")
    n_uniq = F.size(F.array_distinct("w"))
    n_stop = F.size(F.filter(F.col("w"), lambda t: t.isin(*stop)))
    # normalized text has single spaces: chars = length - (n_tok - 1)
    avg_len = (F.length("t") - (n_tok - 1)) / n_tok
    stop_ratio = n_stop / n_tok
    score = F.round(
        F.least(n_tok.cast("double") / 400.0, F.lit(1.0)) * (F.lit(1.0) - stop_ratio), 4
    )
    return d.filter(n_tok > 0).select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (n_uniq / n_tok).alias("type_token_ratio"),
        stop_ratio.alias("stopword_ratio"),
        avg_len.alias("avg_token_len"),
        score.alias("quality_score"),
    )


_QUALITY_ORACLE = f"""
WITH {_NORM_CTE.lstrip()},
d AS (
  SELECT doc_id, t, w, len(w) AS n_tok,
         len(list_distinct(w)) AS n_uniq,
         len(list_filter(w, x -> x IN {STOPWORDS['en']!r})) AS n_stop
  FROM docs_words
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
       CAST(n_uniq AS DOUBLE) / n_tok AS type_token_ratio,
       CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio,
       CAST(length(t) - (n_tok - 1) AS DOUBLE) / n_tok AS avg_token_len,
       round(least(CAST(n_tok AS DOUBLE) / 400.0, 1.0)
             * (1.0 - CAST(n_stop AS DOUBLE) / n_tok), 4) AS quality_score
FROM d WHERE n_tok > 0
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-profile hit counts per language
    with a fixed priority tie-break; output is the (labelled lang ×
    predicted lang) confusion matrix. Integer hit counts share one
    denominator, so the argmax is exact — no float comparisons."""
    d = _docs_norm(spark, sf_dir)

    def _hits(st: tuple[str, ...]):
        # single-arg lambda: F.filter treats 2-arg lambdas as (elem, idx)
        return F.size(F.filter(F.col("w"), lambda t: t.isin(*st)))

    hits = {lang: _hits(st) for lang, st in STOPWORDS.items()}
    pred = F.lit("und")
    # build CASE from lowest to highest priority
    for i, lang in enumerate(reversed(LANG_PRIORITY)):
        later = list(LANG_PRIORITY)[len(LANG_PRIORITY) - i:]
        cond = (hits[lang] > 0)
        for other in later:
            cond = cond & (hits[lang] >= hits[other])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    # highest priority wins ties because it is applied last (outermost)
    return (
        d.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_id_oracle() -> str:
    hit_cols = ",\n         ".join(
        f"len(list_filter(w, x -> x IN {st!r})) AS hits_{lang}"
        for lang, st in STOPWORDS.items()
    )
    cases = []
    for i, lang in enumerate(LANG_PRIORITY):
        others = [o for o in LANG_PRIORITY[i + 1:]]
        conds = [f"hits_{lang} > 0"] + [f"hits_{lang} >= hits_{o}" for o in others]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
WITH {_NORM_CTE.lstrip()},
h AS (
  SELECT lang, w,
         {hit_cols}
  FROM docs_words
)
SELECT lang, {case_sql} AS pred_lang, COUNT(*) AS n_docs
FROM h GROUP BY 1, 2
"""


def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways per document: whitespace tokens and a
    BPE-style regex tokenization (letter runs / digit runs / single
    other symbols) — the cheap proxy for tokenizer budgeting."""
    pattern = r"[a-z0-9]+|[^a-z0-9\s]"
    docs = table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    re_toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(pattern), 0)
    return docs.select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.size(re_toks).alias("n_re_tokens"),
    )


_TOKEN_COUNT_ORACLE = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS INT) AS n_re_tokens
FROM documents
"""


def doc_fingerprint_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: bottom-4 sketch of word-trigram shingle
    hashes (the order-statistics variant of winnowing fingerprints) —
    a compact, mergeable identity for near-dup indexing."""
    d = _docs_norm(spark, sf_dir).withColumn("sh", sk.word_shingles(F.col("w"), 3))
    hashes = F.sort_array(F.transform(F.col("sh"), lambda s: F.md5(s)))
    return d.select(
        "doc_id",
        F.when(
            F.size("sh") > 0, F.array_join(F.slice(hashes, 1, 4), "|")
        ).alias("fingerprint"),
    )


_FINGERPRINT_ORACLE = f"""
WITH {_NORM_CTE.lstrip()},
s AS (
  SELECT doc_id, {sk.word_shingles_sql('w', 3)} AS sh FROM docs_words
)
SELECT doc_id,
       CASE WHEN len(sh) > 0 THEN
         array_to_string(list_sort(list_transform(sh, x -> md5(x)))[1:4], '|')
       END AS fingerprint
FROM s
"""


IVF_CLUSTERS = 8


def embedding_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization — the other ANN scale path next to
    hyperplane LSH: {IVF_CLUSTERS} seed vectors (vec_id <
    {IVF_CLUSTERS}, the deterministic stand-in for trained k-means
    centroids; embedding_label_centroids is the training step) are
    broadcast against the corpus, every vector joins its max-cosine
    centroid. A probe then searches only its cluster's bucket — the
    same bucket-join shape as LSH, with learned buckets.

    Plan: one broadcast nested pass over the corpus + an argmax
    window on (vec_id) — no shuffle of the embedding payload beyond
    the argmax key."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    seeds = emb.filter(F.col("vec_id") < IVF_CLUSTERS).select(
        F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
    )
    scored = emb.join(F.broadcast(seeds)).select(
        "vec_id",
        "centroid_id",
        sk.round_sim(sk.cosine(F.col("e"), F.col("ce"))).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("centroid_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "centroid_id", "cos_sim")
    )


_IVF_ORACLE = f"""
WITH seeds AS (
  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
  WHERE vec_id < {IVF_CLUSTERS}
),
scored AS (
  SELECT e.vec_id, s.centroid_id,
         {sk.round_sim_sql(sk.cosine_sql('e.embedding', 's.ce'))} AS cos_sim
  FROM embeddings e CROSS JOIN seeds s
)
SELECT vec_id, centroid_id, cos_sim FROM scored
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id) = 1
"""


IVF_PROBES = 2


def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF probe search — the query path on top of
    embedding_ivf_assign: every corpus vector sits in the inverted
    list of its max-cosine centroid; a query ranks the {IVF_CLUSTERS}
    centroids, keeps its {IVF_PROBES} nearest (nprobe), and scores
    exact cosine ONLY against those cells' members. Recall trades off
    against nprobe; no all-pairs product ever forms.

    Scale plan: centroids broadcast twice (corpus assignment + query
    probing), the bounded query set broadcasts into the cell join, so
    the corpus is never shuffled — one pass to assign, one
    broadcast-hash probe join, then a per-query top-k window over
    candidate rows only. On a real deployment the assignment
    (inverted index) is precomputed once and reused across queries.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    seeds = emb.filter(F.col("vec_id") < IVF_CLUSTERS).select(
        F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
    )
    aw = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
    assigned = (
        emb.join(F.broadcast(seeds))
        .select(
            "vec_id",
            "e",
            "centroid_id",
            F.round(sk.cosine(F.col("e"), F.col("ce")), 4).alias("c_sim"),
        )
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "e")
    )
    q = emb.filter(
        (F.col("vec_id") >= IVF_CLUSTERS) & (F.col("vec_id") < IVF_CLUSTERS + ANN_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
    pw = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
    probes = (
        q.join(F.broadcast(seeds))
        .select(
            "query_id",
            "qe",
            "centroid_id",
            F.round(sk.cosine(F.col("qe"), F.col("ce")), 4).alias("c_sim"),
        )
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= IVF_PROBES)
        .select("query_id", "qe", "centroid_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sk.round_sim(sk.cosine(F.col("qe"), F.col("e"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANN_TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def _ivf_topk_oracle() -> str:
    return f"""
WITH seeds AS (
  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
  WHERE vec_id < {IVF_CLUSTERS}
),
assigned AS (
  SELECT vec_id, centroid_id, embedding FROM (
    SELECT e.vec_id, s.centroid_id, e.embedding,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY round({sk.cosine_sql('e.embedding', 's.ce')}, 4) DESC,
                      s.centroid_id) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id >= {IVF_CLUSTERS} AND vec_id < {IVF_CLUSTERS + ANN_QUERIES}
),
probes AS (
  SELECT query_id, qe, centroid_id FROM (
    SELECT q.query_id, q.qe, s.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY round({sk.cosine_sql('q.qe', 's.ce')}, 4) DESC,
                      s.centroid_id) AS rn
    FROM q CROSS JOIN seeds s
  ) WHERE rn <= {IVF_PROBES}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {sk.round_sim_sql(sk.cosine_sql('p.qe', 'a.embedding'))} AS cos_sim
  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= {ANN_TOPK}
"""


# ---------------------------------------------------------------------------
# Near-dup: prefix-filtering set-similarity join (SSJoin/PPJoin family)
# ---------------------------------------------------------------------------

PREFIX_MIN_JACCARD = CLUSTER_MIN_JACCARD  # same threshold as the MinHash family


def neardup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering — the
    published SSJoin/PPJoin candidate-generation strategy, and the
    zero-false-negative counterpart to the MinHash/SimHash families:
    under a global rare-token-first order (df asc, token asc), two
    shingle sets with Jaccard >= t MUST share a token within each
    set's first ``n - ceil(t*n) + 1`` tokens, so candidates are an
    ordinary equi-join on prefix tokens only; the length filter
    ``min >= t*max`` prunes size-incompatible pairs before the join.
    Output is every pair with exact shingle Jaccard >= t — ground
    truth the probabilistic families can be measured against.

    PPJoin's POSITIONAL filter then prunes candidates before the
    expensive verify: the globally-smallest shared prefix token has
    the minimum rank in BOTH docs simultaneously (each doc's rank
    order is a restriction of the one global order), and a pair whose
    first shared token sits at positions (i, j) can overlap at most
    ``1 + min(n_a - i, n_b - j)`` — below the required
    ``alpha = ceil(t/(1+t)·(n_a+n_b))`` it cannot reach Jaccard t
    (measured 2.5x candidate reduction on the synthetic corpus).

    Scale: prefix tokens are BY CONSTRUCTION the rare ones, so the
    inverted lists the join shuffles are short (contrast a naive
    token join, where one stopword-shaped shingle produces a
    quadratic bucket); the verify join touches
    positionally-surviving candidates only. Token df comes from
    skew.attach_group_count — a map-side-combinable groupBy count
    joined back on the token, NOT ``COUNT(*) OVER (PARTITION BY
    tok)``: a boilerplate shingle shared by millions of docs would
    pin its whole occurrence list in one unsplittable window task,
    while the agg+join-back form ships one row per task per token
    through the shuffle and lets AQE broadcast or skew-split the
    join (round-10 hardening swap; value-identity pinned by
    tests/test_scale_patterns.py and re-certified against the DuckDB
    oracle).  Remaining stages: one per-doc window (bounded by doc
    length), one prefix-token equi-join with a pair-grain aggregate,
    one candidate-bounded verify."""
    from chain_sync_spark.operators.skew import attach_group_count

    release_caches()  # previous query's scope ends here
    t = PREFIX_MIN_JACCARD
    shingled = _scoped_persist(_docs_shingled(spark, sf_dir))
    tok = shingled.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("tok")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("df", "tok")
    # PERSISTED (r13 optimization): both self-join sides consume the
    # prefix relation, and the sides are planned as separate subtrees
    # — AQE stage reuse does NOT fire across them (verified in the
    # executed plan: every ShuffleQueryStage id distinct), so the
    # explode + df-count + join-back + per-doc window chain ran TWICE.
    # The pin is scale-safe: prefix tokens only (~(1-t)·n + 1 per doc
    # — by construction the small rare-token head of each doc), far
    # below the full token relation the window already shuffles.
    pref = _scoped_persist(
        attach_group_count(tok, ["tok"], "df")
        .withColumn("rn", F.row_number().over(wdoc))
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        .select("doc_id", "n", "tok", "rn")
    )
    a, b = pref.alias("a"), pref.alias("b")
    alpha = F.ceil(F.lit(t / (1 + t)) * (F.col("na") + F.col("nb")))
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") >= F.lit(t) * F.col("b.n"))
            & (F.col("b.n") >= F.lit(t) * F.col("a.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            F.col("a.rn").alias("rna"),
            F.col("b.rn").alias("rnb"),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.min("rna").alias("ia"), F.min("rnb").alias("jb"))
        .filter(
            F.lit(1) + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
            >= alpha
        )
        .select("doc_a", "doc_b")
    )
    sa, sb = shingled.alias("sa"), shingled.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter_n"),
            union.alias("union_n"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


def _prefix_filter_oracle() -> str:
    t = PREFIX_MIN_JACCARD
    return f"""
WITH {_SHINGLE_CTE.lstrip()},
tok AS (SELECT doc_id, len(sh) AS n, UNNEST(sh) AS tok FROM sh),
dfs AS (
  SELECT doc_id, n, tok, COUNT(*) OVER (PARTITION BY tok) AS df FROM tok
),
pref AS (
  SELECT doc_id, n, tok, rn FROM (
    SELECT doc_id, n, tok,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, tok) AS rn
    FROM dfs
  ) WHERE rn <= n - CEIL({t} * n) + 1
),
cand AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
           MIN(a.rn) AS ia, MIN(b.rn) AS jb
    FROM pref a JOIN pref b
      ON a.tok = b.tok AND a.doc_id < b.doc_id
     AND a.n >= {t} * b.n AND b.n >= {t} * a.n
    GROUP BY 1, 2, 3, 4
  )
  WHERE 1 + LEAST(na - ia, nb - jb) >= CEIL({t} / (1 + {t}) * (na + nb))
)
SELECT doc_a, doc_b, inter_n, union_n, jaccard FROM (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS INT) AS inter_n,
         CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS INT)
           AS union_n,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
                  AS DOUBLE) AS jaccard
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id
)
WHERE jaccard >= {t}
"""


# ---------------------------------------------------------------------------
# Similarity search: int8 quantization (shuffle-bytes lever)
# ---------------------------------------------------------------------------

QUANT_LEVELS = 127  # symmetric int8: codes in [-127, 127]


def _maxabs_fold(e):
    return F.aggregate(e, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))


def _quant_codes(e):
    """Symmetric max-abs int8 quantization of a double array column:
    scale = max|x| / 127, code = floor(x/scale + 0.5) — floor-of-
    shifted rather than round() because floor is defined identically
    in Spark and DuckDB while round() half-ties differ (HALF_UP vs
    HALF_EVEN). Zero vectors quantize to all-zero codes.

    The max|x| fold is bound through ``aggregate``'s finish lambda —
    NOT a separate projection column — because projection collapse
    inlines aliased expressions into transform lambdas, which would
    re-evaluate the O(d) max once per ELEMENT (O(d²) per row; ~30x
    slower at d=64, measured). A lambda variable evaluates once."""
    scale = _maxabs_fold(e) / QUANT_LEVELS
    codes = F.aggregate(
        e,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)),
        lambda m: F.transform(
            e,
            lambda x: F.when(m == 0.0, F.lit(0)).otherwise(
                F.floor(x / (m / QUANT_LEVELS) + F.lit(0.5)).cast("int")
            ),
        ),
    )
    return scale, codes


_QUANT_CODES_SQL = (
    "list_transform(e, x -> CASE WHEN scale = 0 THEN 0"
    " ELSE CAST(FLOOR(x / scale + 0.5) AS INT) END)"
)
_QUANT_SCALE_CTE = f"""
ed AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
),
sc AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / {QUANT_LEVELS} AS scale
  FROM ed
),
codes AS (
  SELECT vec_id, scale, {_QUANT_CODES_SQL} AS c FROM sc
)"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column
    — the storage/shuffle-bytes lever for every ANN stage: codes are
    4x smaller than float32 (16x smaller than the double math they
    replace in flight), and downstream scoring becomes EXACT integer
    arithmetic (associative, engine-independent — no float summation
    order to pin). Output is the per-vector audit row: scale, code
    sum / sum-of-squares (the reconstruction norms), and an md5 over
    the serialized codes so the oracle certifies every code without
    shipping an array column through the driver canon.

    Scale: pure per-row column work — zero shuffles, zero joins; at
    100 TB this is a map-only pass whose output is the compact
    representation every later stage reads instead of the floats."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    scale, codes = _quant_codes(F.col("e"))
    c = F.col("c")
    return emb.select("vec_id", scale.alias("scale"), codes.alias("c")).select(
        "vec_id",
        F.size(c).alias("dim"),
        "scale",
        F.aggregate(c, F.lit(0).cast("long"), lambda a, x: a + x).alias("code_sum"),
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("code_sq_sum"),
        F.md5(F.array_join(F.transform(c, lambda x: x.cast("string")), ",")).alias(
            "codes_md5"
        ),
    )


_QUANTIZE_ORACLE = f"""
WITH {_QUANT_SCALE_CTE.lstrip()}
SELECT vec_id, CAST(len(c) AS INT) AS dim, scale,
       CAST(list_sum(c) AS BIGINT) AS code_sum,
       CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS code_sq_sum,
       md5(array_to_string(c, ',')) AS codes_md5
FROM codes
"""


def embedding_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-{ANN_TOPK} over the int8-quantized vectors —
    the quantized sibling of embedding_cosine_topk: the dot product
    and both norms are integer sums over codes (exact in both
    engines), so the only float op is the final single division.
    The per-vector scale cancels out of the cosine, which is why
    symmetric quantization needs no dequantize step here.

    Scale: identical plan shape to the float baseline — query side
    broadcast, one corpus pass — but every vector in flight is int8
    codes, 4x less shuffle/broadcast traffic than float32. A pytest
    measures recall@{ANN_TOPK} against the exact float ranking."""
    release_caches()  # previous query's scope ends here
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    _, codes = _quant_codes(F.col("e"))
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, x: a + x
    )
    # codes + norm sums hoisted OUT of the per-pair work and pinned
    # with a scoped persist: projection collapse would otherwise
    # re-inline the quantization into the join output and recompute it
    # once per PAIR instead of once per vector. In production this
    # persist is the stored codes table every ANN stage reads
    # (DEPLOY.md); the join's inner loop is then just the integer dot.
    quant = _scoped_persist(
        emb.select("vec_id", codes.alias("c")).select(
            "vec_id", "c", isum(F.transform(F.col("c"), lambda x: x * x)).alias("csq")
        )
    )
    q = quant.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("c").alias("qc"),
        F.col("csq").alias("qsq"),
    )
    dot_i = isum(F.zip_with(F.col("qc"), F.col("c"), lambda x, y: x * y))
    scored = quant.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot_i.cast("double")
            / (F.sqrt(F.col("qsq").cast("double")) * F.sqrt(F.col("csq").cast("double"))),
            4,
        ).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANN_TOPK)
        .select("query_id", "neighbor_id", "qcos", "rk")
    )


_QUANT_DOT_SQL = (
    "list_sum(list_transform(range(1, len(q.qc) + 1), i -> q.qc[i] * c.c[i]))"
)
_QUANT_SQ_SQL = "list_sum(list_transform({v}, x -> x * x))"
_QUANT_TOPK_ORACLE = f"""
WITH {_QUANT_SCALE_CTE.lstrip()},
q AS (
  SELECT vec_id AS query_id, c AS qc FROM codes WHERE vec_id < {ANN_QUERIES}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(CAST({_QUANT_DOT_SQL} AS DOUBLE)
               / (sqrt(CAST({_QUANT_SQ_SQL.format(v='q.qc')} AS DOUBLE))
                  * sqrt(CAST({_QUANT_SQ_SQL.format(v='c.c')} AS DOUBLE))),
               4) AS qcos
  FROM codes c, q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, qcos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= {ANN_TOPK}
"""


# ---------------------------------------------------------------------------
# Two-stage re-rank serving (SCaNN / FAISS refine shape)
# ---------------------------------------------------------------------------

RERANK_CAND = 25  # stage-1 candidate pool per query (5x the final k)


def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving — the SCaNN/FAISS "refine" shape
    (Guo et al. 2020): stage 1 scores the whole corpus with the CHEAP
    int8-quantized integer cosine and keeps {RERANK_CAND} candidates
    per query; stage 2 re-scores ONLY those candidates with the exact
    float cosine and emits the final top-{ANN_TOPK}.  Output
    (query_id, neighbor_id, cos_sim, rk, cand_rk) — cos_sim/rk are
    exact-arithmetic and directly comparable to embedding_cosine_topk
    (a pytest pins per-pair score equality and recall), cand_rk keeps
    the stage-1 position so the reordering the refine pass performs
    is visible in the output.

    Scale: stage 1 is the quantized brute-force pass (4x less
    broadcast/shuffle bytes than float); stage 2 touches only
    queries x {RERANK_CAND} rows — the candidate list broadcasts to
    one indexed pass over the corpus for the float vectors, so the
    expensive exact arithmetic runs on a relation bounded by the
    query sample, not the corpus.  With the IVF/PQ stages in front
    this is the full production serving chain; the refine math here
    is identical either way."""
    release_caches()
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    _, codes = _quant_codes(F.col("e"))
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, x: a + x
    )
    # stage 1: integer cosine over persisted codes (see
    # embedding_quantized_topk for why the persist pins the
    # once-per-vector quantization out of the per-pair loop)
    quant = _scoped_persist(
        emb.select("vec_id", codes.alias("c")).select(
            "vec_id", "c", isum(F.transform(F.col("c"), lambda x: x * x)).alias("csq")
        )
    )
    q1 = quant.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("c").alias("qc"),
        F.col("csq").alias("qsq"),
    )
    dot_i = isum(F.zip_with(F.col("qc"), F.col("c"), lambda x, y: x * y))
    s1 = quant.join(F.broadcast(q1), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot_i.cast("double")
            / (F.sqrt(F.col("qsq").cast("double")) * F.sqrt(F.col("csq").cast("double"))),
            4,
        ).alias("qcos"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    cand = (
        s1.withColumn("cand_rk", F.row_number().over(w1))
        .filter(F.col("cand_rk") <= RERANK_CAND)
        .select("query_id", "neighbor_id", "cand_rk")
    )
    # stage 2: exact float cosine on the candidate pairs only
    emb_n = emb.select("vec_id", "e", sk.l2norm(F.col("e")).alias("nrm"))
    qf = emb_n.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    s2 = (
        emb_n.join(F.broadcast(cand), F.col("vec_id") == F.col("neighbor_id"))
        .join(F.broadcast(qf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "cand_rk",
            sk.round_sim(
                sk.cos_prenorm(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        s2.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= ANN_TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rk", "cand_rk")
    )


_RERANK_ORACLE = f"""
WITH {_QUANT_SCALE_CTE.lstrip()},
q1 AS (
  SELECT vec_id AS query_id, c AS qc FROM codes WHERE vec_id < {ANN_QUERIES}
),
s1 AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(CAST({_QUANT_DOT_SQL} AS DOUBLE)
               / (sqrt(CAST({_QUANT_SQ_SQL.format(v='q.qc')} AS DOUBLE))
                  * sqrt(CAST({_QUANT_SQ_SQL.format(v='c.c')} AS DOUBLE))),
               4) AS qcos
  FROM codes c, q1 q
  WHERE c.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, neighbor_id, rk AS cand_rk FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rk
    FROM s1
  ) WHERE rk <= {RERANK_CAND}
),
qf AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id < {ANN_QUERIES}
),
s2 AS (
  SELECT cand.query_id, cand.neighbor_id, cand.cand_rk,
         {sk.round_sim_sql(sk.cosine_sql('qf.qe', 'e.embedding'))} AS cos_sim
  FROM cand
  JOIN embeddings e ON e.vec_id = cand.neighbor_id
  JOIN qf ON qf.query_id = cand.query_id
)
SELECT query_id, neighbor_id, cos_sim, rk, cand_rk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM s2
) WHERE rk <= {ANN_TOPK}
"""


# ---------------------------------------------------------------------------
# Product quantization (round 4 continuation)
# ---------------------------------------------------------------------------

PQ_M = 4                       # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M    # dims per subspace (64 / 4 = 16)
PQ_K = 16                      # codewords per subspace (4 bits)
PQ_DIST_SCALE = 1_000_000      # 6-dp fixed-point micros for distances


def _pq_subvectors(df: DataFrame, id_col: str) -> DataFrame:
    """(id, m, sub) — every vector split into its PQ_M contiguous
    subvectors. Pure per-row generate+inline: zero joins, zero
    shuffles; only the PQ_SUBDIM-float slice travels, not the full
    vector."""
    subs = F.expr(
        f"transform(sequence(0, {PQ_M - 1}), m -> struct("
        f"cast(m as int) as m, slice(e, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) as sub))"
    )
    return df.select(F.col("vec_id").alias(id_col), F.inline(subs))


def _pq_dist_micro(a, b):
    """Squared-L2 subvector distance in exact 6-dp fixed point
    (BIGINT micros). The float fold is sequential left-to-right in
    both engines; the single floor-of-shifted conversion makes every
    downstream SUM exact integer arithmetic — no float summation
    order to pin across engines (same trick as BM25's DECIMAL sum)."""
    sq = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.floor(sq * PQ_DIST_SCALE + F.lit(0.5)).cast("long")


_PQ_DIST_MICRO_SQL = (
    "CAST(FLOOR(list_sum(list_transform(range(1, {n} + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    f" * {PQ_DIST_SCALE} + 0.5) AS BIGINT)"
)

_PQ_BASE_CTE = f"""
ed AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
),
subs AS (
  SELECT vec_id, CAST(m AS INT) AS m,
         e[m * {PQ_SUBDIM} + 1 : m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sub
  FROM ed, UNNEST(range(0, {PQ_M})) AS u(m)
),
cb AS (
  SELECT vec_id AS code_id, m, sub AS csub FROM subs WHERE vec_id < {PQ_K}
),
assigned AS (
  SELECT vec_id, m, code_id, dmicro FROM (
    SELECT s.vec_id, s.m, c.code_id,
           {_PQ_DIST_MICRO_SQL.format(n=PQ_SUBDIM, a='s.sub', b='c.csub')} AS dmicro,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_PQ_DIST_MICRO_SQL.format(n=PQ_SUBDIM, a='s.sub', b='c.csub')},
                                       c.code_id) AS rn
    FROM subs s JOIN cb c USING (m)
  ) WHERE rn = 1
)"""


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """(code_id, m, csub) — PQ_K seed vectors (vec_id < PQ_K, the
    deterministic stand-in for per-subspace k-means training, same
    convention as embedding_ivf_assign's seeds) sliced into subspace
    codewords. PQ_K * PQ_M rows — always broadcast."""
    return _pq_subvectors(emb.filter(F.col("vec_id") < PQ_K), "code_id").select(
        "code_id", "m", F.col("sub").alias("csub")
    )


def _pq_assigned(emb: DataFrame, codebook: DataFrame | None = None) -> DataFrame:
    """(vec_id, m, code_id, dmicro) — nearest codeword per subspace,
    against ``codebook`` (a frozen one trained on another relation —
    pq_probe_newvecs passes the stored side's) or the deterministic
    seed codebook derived from ``emb`` itself.

    Plan: per-row subvector generate → broadcast codebook join (the
    corpus never shuffles for the join) → argmin via a map-side
    combinable min(struct(dmicro, code_id)) hash aggregate keyed on
    (vec_id, m). The only shuffle carries one 24-byte row per
    (vector, subspace) — never the floats."""
    cb = _pq_codebook(emb) if codebook is None else codebook
    scored = (
        _pq_subvectors(emb, "vec_id")
        .join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            "code_id",
            _pq_dist_micro(F.col("sub"), F.col("csub")).alias("dmicro"),
        )
    )
    best = scored.groupBy("vec_id", "m").agg(
        F.min(F.struct(F.col("dmicro").alias("d"), F.col("code_id").alias("cid"))).alias("b")
    )
    return best.select(
        "vec_id", "m", F.col("b.cid").alias("code_id"), F.col("b.d").alias("dmicro")
    )


def embedding_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the high-compression sibling of
    embedding_quantize_int8: each vector's {PQ_M} contiguous
    {PQ_SUBDIM}-dim subvectors are replaced by the id of their
    nearest subspace codeword ({PQ_K} codewords → 4 bits per
    subspace, 16 bits per vector vs 2048 for float32). Output per
    vector: the per-subspace codes, the packed single-BIGINT code
    (the ANN bucket / storage key), and the exact-integer total
    reconstruction error.

    Scale: one broadcast codebook join + one map-side-combinable
    hash aggregate per (vector, subspace) + one per-vector pivot
    aggregate — the corpus floats are read once and never shuffled.
    At 100 TB the codes table (2 bytes/vector + key) IS the ANN
    index every query stage reads instead of the embeddings."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    best = _pq_assigned(emb)
    code_m = [
        F.max(F.when(F.col("m") == i, F.col("code_id"))).alias(f"code_{i}")
        for i in range(PQ_M)
    ]
    out = best.groupBy("vec_id").agg(
        *code_m, F.sum("dmicro").alias("recon_micro")
    )
    packed = F.lit(0).cast("long")
    for i in range(PQ_M):
        packed = packed * PQ_K + F.col(f"code_{i}")
    return out.select(
        "vec_id",
        *[F.col(f"code_{i}").cast("int").alias(f"code_{i}") for i in range(PQ_M)],
        packed.cast("long").alias("pq_code"),
        (F.col("recon_micro").cast("double") / PQ_DIST_SCALE).alias("recon_dist"),
    )


def _pq_assign_oracle() -> str:
    code_cols = ",\n       ".join(
        f"CAST(MAX(CASE WHEN m = {i} THEN code_id END) AS INT) AS code_{i}"
        for i in range(PQ_M)
    )
    packed = "0"
    for i in range(PQ_M):
        packed = f"({packed} * {PQ_K} + MAX(CASE WHEN m = {i} THEN code_id END))"
    return f"""
WITH {_PQ_BASE_CTE.lstrip()}
SELECT vec_id,
       {code_cols},
       CAST({packed} AS BIGINT) AS pq_code,
       CAST(SUM(dmicro) AS DOUBLE) / {PQ_DIST_SCALE} AS recon_dist
FROM assigned
GROUP BY vec_id
"""


def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-{ANN_TOPK} search over the PQ
    codes — the query path on top of embedding_pq_assign: each query
    precomputes a {PQ_M}×{PQ_K} lookup table of exact
    query-subvector→codeword distances, and every database vector is
    scored as the SUM of {PQ_M} table entries selected by its codes —
    never touching the database floats. Distances stay in 6-dp
    fixed-point BIGINT so the sum is exact integer math (engine- and
    order-independent); the single final division produces the
    reported double.

    Scale: the LUT is queries×{PQ_M}×{PQ_K} rows — broadcast; the
    codes relation (built once by embedding_pq_assign, scoped-persist
    here standing in for the stored codes table) is the ONLY corpus-
    sized input, 3 ints per row. One broadcast join + one hash
    aggregate keyed (query, vector) + a top-k window over scored rows.
    Queries are vec_id in [{PQ_K}, {PQ_K + ANN_QUERIES}) — disjoint
    from the codebook seeds, mirroring embedding_ivf_topk."""
    release_caches()  # previous query's scope ends here
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    codes = _scoped_persist(
        _pq_assigned(emb).select("vec_id", "m", "code_id")
    )
    q = emb.filter(
        (F.col("vec_id") >= PQ_K) & (F.col("vec_id") < PQ_K + ANN_QUERIES)
    )
    lut = (
        _pq_subvectors(q, "query_id")
        .join(F.broadcast(_pq_codebook(emb)), "m")
        .select(
            "query_id",
            "m",
            "code_id",
            _pq_dist_micro(F.col("sub"), F.col("csub")).alias("dmicro"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "code_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dmicro").alias("admicro"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("admicro"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANN_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("admicro").cast("double") / PQ_DIST_SCALE).alias("adc_dist"),
            "rk",
        )
    )


def _pq_adc_oracle() -> str:
    return f"""
WITH {_PQ_BASE_CTE.lstrip()},
qsubs AS (
  SELECT vec_id AS query_id, m, sub FROM subs
  WHERE vec_id >= {PQ_K} AND vec_id < {PQ_K + ANN_QUERIES}
),
lut AS (
  SELECT q.query_id, q.m, c.code_id,
         {_PQ_DIST_MICRO_SQL.format(n=PQ_SUBDIM, a='q.sub', b='c.csub')} AS dmicro
  FROM qsubs q JOIN cb c USING (m)
),
scored AS (
  SELECT l.query_id, a.vec_id AS neighbor_id, SUM(l.dmicro) AS admicro
  FROM assigned a JOIN lut l ON a.m = l.m AND a.code_id = l.code_id
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id
)
SELECT query_id, neighbor_id,
       CAST(admicro AS DOUBLE) / {PQ_DIST_SCALE} AS adc_dist, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY admicro, neighbor_id) AS rk
  FROM scored
) WHERE rk <= {ANN_TOPK}
"""


LEV_NEIGHBORS = 5  # sorted-neighborhood width w
LEV_MAX_DIST = 10


def neardup_levenshtein_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string dedup via edit distance, scale-bounded by
    sorted-neighborhood blocking: within each (brand, type) block,
    names are sorted and each name is compared only to its next
    ``LEV_NEIGHBORS`` neighbors in sort order.

    Pair-count bound: <= N * LEV_NEIGHBORS TOTAL, independent of block
    cardinality — unlike pure key blocking, whose (p_brand, p_type)
    key has FIXED cardinality (~3,750 values), so per-block pairs grow
    O((N/3750)^2) with data size. Sorted-neighborhood is the standard
    recall/cost trade for fuzzy dedup: near-identical strings sort
    adjacently, so a small window captures the true duplicates while
    the candidate count stays linear in N.

    Measured candidate-pair growth, sf0.01 -> sf0.1 (10x rows):
    pure key blocking 13,491 -> 1,333,422 pairs (99x, quadratic);
    sorted-neighborhood 7,751 -> 97,750 pairs (12.6x ~= N*w, linear).

    Plan shape: ONE window sort (the only shuffle), neighbors gathered
    with lead() into an array, explode, then levenshtein only on the
    N*w candidates — no self-join, no second shuffle of the relation.
    A |len(a)-len(b)| <= threshold pre-filter skips hopeless pairs for
    free (lossless: edit distance >= length difference).
    """
    parts = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type", "p_name")
    w = Window.partitionBy("p_brand", "p_type").orderBy("p_name", "p_partkey")
    nbrs = F.array(*[
        F.struct(
            F.lead("p_partkey", i).over(w).alias("pk"),
            F.lead("p_name", i).over(w).alias("nm"),
        )
        for i in range(1, LEV_NEIGHBORS + 1)
    ])
    cand = (
        # window expressions must be materialized before the generator:
        # project the lead() array first, then explode it
        parts.withColumn("nbrs", nbrs)
        .withColumn("nbr", F.explode("nbrs"))
        .filter(F.col("nbr.pk").isNotNull())
        # lossless pre-filter: edit distance >= |length difference|
        .filter(
            F.abs(F.length("p_name") - F.length("nbr.nm")) <= LEV_MAX_DIST
        )
    )
    dist = F.levenshtein(F.col("p_name"), F.col("nbr.nm"))
    return (
        cand.select(
            F.least("p_partkey", F.col("nbr.pk")).alias("part_a"),
            F.greatest("p_partkey", F.col("nbr.pk")).alias("part_b"),
            dist.alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= LEV_MAX_DIST)
    )


_LEVENSHTEIN_ORACLE = f"""
WITH ranked AS (
  SELECT p_partkey, p_brand, p_type, p_name,
         ROW_NUMBER() OVER (
           PARTITION BY p_brand, p_type ORDER BY p_name, p_partkey) AS rn
  FROM part
)
SELECT least(a.p_partkey, b.p_partkey) AS part_a,
       greatest(a.p_partkey, b.p_partkey) AS part_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_distance
FROM ranked a JOIN ranked b
  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
 AND b.rn BETWEEN a.rn + 1 AND a.rn + {LEV_NEIGHBORS}
WHERE levenshtein(a.p_name, b.p_name) <= {LEV_MAX_DIST}
"""


# ---------------------------------------------------------------------------
# Sampling / vector aggregation
# ---------------------------------------------------------------------------

SAMPLE_PER_STRATUM = 20


def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: {SAMPLE_PER_STRATUM} docs
    per language, selected by a hash-derived sample key — the
    reproducible alternative to rand() for training-data splits
    (same rows on every run, every engine, any partitioning).

    Scale: one window top-k per stratum — partial top-k per partition
    before the shuffle; the hash key is uniform so strata don't skew.
    """
    docs = table(spark, sf_dir, "documents")
    keyed = docs.withColumn(
        "sample_key", sk.hash60(F.concat(F.lit("smp:"), F.col("doc_id").cast("string")))
    )
    w = Window.partitionBy("lang").orderBy("sample_key", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_PER_STRATUM)
        .select("doc_id", "lang", "source", "rk")
    )


_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source, rk FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {sk.hash60_sql("'smp:' || doc_id::VARCHAR")}, doc_id) AS rk
  FROM documents
) WHERE rk <= {SAMPLE_PER_STRATUM}
"""


SPLIT_BOUNDS = (80, 90)  # train < 80, val < 90, test < 100


def split_assign_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split — the other sampling verb a
    training pipeline needs: each doc hashes to a bucket in [0,100)
    and the 80/10/10 boundaries assign the split. Hash-keyed (not
    rand()) so the assignment is stable across runs, engines, and
    repartitioning, and adding documents never reshuffles existing
    assignments. Output is per (lang, split) counts — the sanity
    check that the split is balanced within every stratum."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.pmod(
        sk.hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), F.lit(100)
    )
    split = (
        F.when(bucket < SPLIT_BOUNDS[0], "train")
        .when(bucket < SPLIT_BOUNDS[1], "val")
        .otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT lang,
         {sk.hash60_sql("'split:' || doc_id::VARCHAR")} % 100 AS bucket
  FROM documents
)
SELECT lang,
       CASE WHEN bucket < {SPLIT_BOUNDS[0]} THEN 'train'
            WHEN bucket < {SPLIT_BOUNDS[1]} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM b GROUP BY 1, 2
"""


SAMPLE_K = 25  # exact per-class sample size


def sample_exact_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic sample per language — the third sampling
    verb next to rate-based acceptance (kmeans_balanced_sample) and
    bucketed splits (split_assign_documents): each language
    contributes its {SAMPLE_K} documents with the smallest sampling
    hash (all of them when it has fewer), the class-balanced
    selection an SFT/eval-set builder runs.  Hash-ranked (not
    rand()) so the sample is stable across runs, engines and
    repartitioning.  Output (lang, doc_id, rk).

    Scale — the TWO-PHASE top-k-per-group plan: languages are few
    and groups are huge, so a single ROW_NUMBER window over lang
    would pin each language's entire corpus in one unsplittable
    task.  Phase 1 salts the window with the input partition id
    (every (lang, pid) group lives in exactly one scan task, so the
    shuffle spreads a hot language across the cluster) and keeps a
    local top-{SAMPLE_K}; phase 1.5 re-salts the survivors into
    (lang, 64 hash buckets of doc_id) and keeps a per-bucket top-k,
    so the per-lang phase-2 group holds <= 64·k rows REGARDLESS of
    cluster size (without it a 100k-task scan hands one phase-2 task
    k × 100k rows per language — the r11 global_topk_desc fan-in
    bound, applied to the grouped form); phase 2 ranks those bounded
    survivors per language.  Neither salt ever affects the RESULT
    (any disjoint grouping yields the same per-group top-k); they
    only shape the plan."""
    from chain_sync_spark.operators.skew import _GTK_MID_BUCKETS

    d = table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        sk.hash60(
            F.concat(F.lit("samp:"), F.col("doc_id").cast("string"))
        ).alias("skey"),
        F.spark_partition_id().alias("pid"),
    )
    w_local = Window.partitionBy("lang", "pid").orderBy("skey", "doc_id")
    survivors = (
        d.withColumn("lrn", F.row_number().over(w_local))
        .filter(F.col("lrn") <= SAMPLE_K)
        .drop("lrn", "pid")
    )
    w_mid = Window.partitionBy("lang", "mid").orderBy("skey", "doc_id")
    survivors = (
        survivors.withColumn(
            "mid", F.pmod(F.xxhash64("doc_id"), F.lit(_GTK_MID_BUCKETS))
        )
        .withColumn("mrn", F.row_number().over(w_mid))
        .filter(F.col("mrn") <= SAMPLE_K)
        .drop("mrn", "mid")
    )
    w_global = Window.partitionBy("lang").orderBy("skey", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(w_global))
        .filter(F.col("rk") <= SAMPLE_K)
        .select("lang", "doc_id", "rk")
    )


_SAMPLE_K_ORACLE = f"""
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {sk.hash60_sql("'samp:' || doc_id::VARCHAR")}, doc_id
         ) AS INT) AS rk
  FROM documents
)
WHERE rk <= {SAMPLE_K}
"""


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors — the training
    step of an IVF index (and the reduce shape of any vector
    aggregation): posexplode to (label, dim) cells, exact-decimal
    mean per cell. Sums run in DECIMAL so the result is independent
    of aggregation order (cross-engine and cross-partitioning
    deterministic); one shuffle on (label, dim)."""
    emb = table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    return cells.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("double").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


_CENTROID_ORACLE = """
WITH cells AS (
  SELECT label, t.i - 1 AS dim, embedding[t.i] AS x
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
)
SELECT label, CAST(dim AS INT) AS dim,
       round(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS centroid,
       COUNT(*) AS n_vectors
FROM cells GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# 12–13. Multimodal columns (binary payload + typed metadata)
# ---------------------------------------------------------------------------

def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, fully engine-side: documents viewed
    through the media layout (payload = UTF-8 bytes + metadata
    struct), with byte length, content hash, and metadata projection.
    Binary payloads stay opaque — no shuffle touches their content."""
    media = mm.documents_as_media(table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "kind",
        F.length("payload").cast("int").alias("size_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.width").alias("meta_width"),
        F.col("meta.format").alias("meta_format"),
    )


_MM_STATS_ORACLE = """
SELECT doc_id AS media_id, 'text' AS kind,
       CAST(octet_length(encode(text)) AS INT) AS size_bytes,
       md5(text) AS payload_md5,
       CAST(n_chars AS INT) AS meta_width,
       'utf-8' AS meta_format
FROM documents
"""


def multimodal_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode/feature-extract stage: Arrow-batched mapInPandas
    over (media_id, kind, payload) emitting fixed-width float feature
    vectors (functions/multimodal.py — the codec call is stubbed with
    a deterministic md5-based fake, so this exact pipeline is
    oracle-checkable while the real codec slots in unchanged).

    The feature vector is serialized to a comma-joined fixed-point
    string at the output boundary (the driver canon cannot sort list
    cells; round-trip float→string rendering is engine-specific, so
    each component is scaled to an integer first — exact in both
    engines). extract_features itself still returns array<float>."""
    media = mm.documents_as_media(table(spark, sf_dir, "documents"))
    feats = mm.extract_features(media)
    fixed = F.transform(
        F.col("features"),
        lambda x: F.round(x.cast("double") * 100000).cast("long").cast("string"),
    )
    return feats.select(
        "media_id", "n_bytes", F.array_join(fixed, ",").alias("features")
    )


_MM_FEATURES_ORACLE = f"""
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       array_to_string(
         list_transform(range(0, {mm.FEATURE_DIM}),
           i -> (round(((('0x' || substr(md5(text), i*2 + 1, 2))::INT / 255.0)::FLOAT::DOUBLE) * 100000))::BIGINT::VARCHAR),
         ',') AS features
FROM documents
"""


PREP_MIN_TOKENS = 10


def training_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep — the composition the individual
    operators exist for, as one declarative plan: (1) quality gate
    (≥ {PREP_MIN_TOKENS} tokens), (2) exact dedup on normalized-text
    md5 keeping the lowest doc_id, (3) deterministic stratified
    sample of {SAMPLE_PER_STRATUM} docs per language by hash key.

    Scale: the gate is a scan-level filter, dedup is one hash
    shuffle, sampling is a per-stratum top-k window — three stages,
    two shuffles, no driver round-trips; Catalyst pipelines the
    whole thing into one job."""
    d = _docs_norm(spark, sf_dir).filter(F.size("w") >= PREP_MIN_TOKENS)
    keyed = d.withColumn("dup_key", F.md5("t"))
    wd = Window.partitionBy("dup_key").orderBy("doc_id")
    deduped = keyed.withColumn("rn", F.row_number().over(wd)).filter(F.col("rn") == 1)
    ws = Window.partitionBy("lang").orderBy("sample_key", "doc_id")
    return (
        deduped.withColumn(
            "sample_key",
            sk.hash60(F.concat(F.lit("prep:"), F.col("doc_id").cast("string"))),
        )
        .withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") <= SAMPLE_PER_STRATUM)
        .select("doc_id", "lang", "source", F.size("w").alias("n_tokens"), "rk")
    )


_PREP_ORACLE = f"""
WITH {_NORM_CTE.lstrip()},
elig AS (
  SELECT doc_id, lang, source, t, w FROM docs_words
  WHERE len(w) >= {PREP_MIN_TOKENS}
),
deduped AS (
  SELECT doc_id, lang, source, w FROM elig
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
)
SELECT doc_id, lang, source, CAST(len(w) AS INT) AS n_tokens, rk FROM (
  SELECT doc_id, lang, source, w,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {sk.hash60_sql("'prep:' || doc_id::VARCHAR")}, doc_id) AS rk
  FROM deduped
) WHERE rk <= {SAMPLE_PER_STRATUM}
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (functions/multimodal.sample_frames):
    one row per 64-byte 'frame' offset of each payload — the
    1→N explode shape video frame extraction produces; the per-frame
    decode plugs into decode_media. Pure column ops (sequence +
    posexplode), no UDF; the payload itself is never shuffled, only
    (media_id, offset) rows fan out."""
    media = mm.documents_as_media(table(spark, sf_dir, "documents"))
    return mm.sample_frames(media, every_n_bytes=64)


_FRAME_SAMPLE_ORACLE = """
SELECT doc_id AS media_id, CAST(t.i AS INT) AS frame_idx,
       CAST(t.i * 64 AS INT) AS byte_offset
FROM documents,
     LATERAL (SELECT unnest(range(0,
       greatest((octet_length(encode(text)) + 63) // 64, 1))) AS i) t
"""


# ---------------------------------------------------------------------------
# K-means clustering (Lloyd's algorithm)
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3
_KM_SCALE = 1_000_000


def _km_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, ei array<bigint>) — embeddings quantized to integer
    micro-units (floor(x·10⁶ + 0.5), identical on every engine), so
    ALL k-means arithmetic below is exact integer math: sums are
    order-independent, argmins cannot tie-break differently across
    engine versions, and the output boundary is integer-only (the
    round-5 output contract, applied from the start here)."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _KM_SCALE + F.lit(0.5)),
        ).alias("ei"),
    )


def _km_dist(ei: Column, c: Column) -> Column:
    """Exact integer squared-L2 distance between two micro-unit
    vectors. Bound: dims · (2 · max|x| · 10⁶)² ≈ 64 · 1.5e14 ≈ 1e16
    « 2^63, so BIGINT never overflows (ANSI mode would throw loudly
    if the data ever violated that)."""
    return F.aggregate(
        F.zip_with(ei, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _km_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the K centroids against
    the corpus, integer-argmin with cid as the deterministic
    tie-break. Expressed as min_by over a (d, cid) struct — a hash
    aggregate with MAP-SIDE partial argmin, so the K-fanned rows
    combine 8:1 before the (vec_id) shuffle and nothing sorts (the
    row_number-window form shuffles all n·K rows into a sort). The
    struct ordering (d first, cid second) IS the tie-break."""
    return (
        vecs.join(F.broadcast(cents))
        .select(
            "vec_id", "ei", "cid", _km_dist(F.col("ei"), F.col("c")).alias("d")
        )
        .groupBy("vec_id")
        .agg(
            F.min_by(F.struct("cid", "ei"), F.struct("d", "cid")).alias("m")
        )
        .select("vec_id", F.col("m.ei").alias("ei"), F.col("m.cid").alias("cid"))
    )


def _km_update(assigned: DataFrame, prior: DataFrame) -> DataFrame:
    """Centroid recompute: posexplode to (cid, pos) cells, exact
    BIGINT sums (order-independent), then floor-division integer mean
    — (s - mod(s, n)) div n with the sign-safe double-% mod, which
    both engines evaluate identically.  A cluster that lost every
    member keeps its prior centroid (deterministic, mirrored in the
    oracle).  Shuffle volume after map-side combine is K·dims rows."""
    cells = assigned.select("cid", F.posexplode("ei").alias("pos", "v"))
    means = (
        cells.groupBy("cid", "pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "cid", "pos", F.expr("(s - ((s % n + n) % n)) div n").alias("cv")
        )
    )
    fresh = means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda s: s["cv"],
        ).alias("c")
    )
    return (
        prior.alias("p")
        .join(F.broadcast(fresh.alias("f")), "cid", "left")
        .select("cid", F.coalesce(F.col("f.c"), F.col("p.c")).alias("c"))
    )


def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised k-means over the embeddings table — the TRAINED
    counterpart of the IVF coarse quantizer (embedding_ivf_assign uses
    raw seed vectors; this runs {KMEANS_ITERS} Lloyd iterations from
    those same seeds, deterministically): assign → integer-exact
    centroid update → … → final assignment.  Output is integer-only:
    (vec_id, cluster_id, cluster_size).

    Scale plan: centroids are always K·dims integers (broadcast); each
    iteration is one narrow corpus pass for assignment plus a
    K·dims-row centroid shuffle after map-side combine — the corpus
    embedding payload itself is never shuffled.  The {KMEANS_ITERS}
    iterations chain lazily here (the cached corpus is scanned once
    per pass); a production run at 100 TB materializes the tiny
    centroid table between passes — same DAG, explicit barrier.
    Quantizing vectors to micro-units first makes every distance and
    every mean exact integer arithmetic: results are reproducible
    across engines, partitionings, and retry orders by construction.
    """
    release_caches()  # previous query's scope ends here
    vecs = _scoped_persist(_km_vecs(spark, sf_dir))
    cents = _km_trained_centroids(spark, sf_dir, vecs)
    final = _km_assign(vecs, cents).select("vec_id", "cid")
    sizes = final.groupBy("cid").agg(F.count(F.lit(1)).alias("cluster_size"))
    return final.join(F.broadcast(sizes), "cid").select(
        "vec_id", F.col("cid").cast("int").alias("cluster_id"), "cluster_size"
    )


def _km_train(vecs: DataFrame) -> DataFrame:
    """{KMEANS_ITERS} Lloyd iterations over a (vec_id, ei) relation,
    seeded from vec_id < {KMEANS_K} — the one training loop behind the
    batch query and the stored-centroid exporter.

    Each pass MATERIALIZES the centroid table (collect the K·dims
    integer rows — ≤ K·dims BIGINTs, a few KB — and re-create a local
    relation): an explicit barrier between Lloyd iterations, so pass
    N+1's job never re-executes pass N's assignment→update DAG and the
    final returned relation embeds the trained centroids as a literal
    (downstream actions cost one corpus pass, not {KMEANS_ITERS}+1).
    This is the production shape at any scale — centroids are always
    K·dims values regardless of corpus size."""
    spark = vecs.sparkSession
    cents = vecs.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("ei").alias("c")
    )
    for _ in range(KMEANS_ITERS):
        nxt = _km_update(_km_assign(vecs, cents), cents)
        # bounded collect: K centroid rows (K·dims BIGINTs, a few KB)
        # regardless of corpus size — never copy onto an unbounded
        # relation
        cents = spark.createDataFrame(nxt.collect(), schema=nxt.schema)
    return cents


# Frozen-codebook store: trained centroid rows keyed by (corpus dir +
# every training parameter).  Each entry is K Row objects of K·dims
# BIGINTs — a few KB — so the store is bounded by the number of
# distinct sf dirs the process touches (one or two in practice).
_KM_CODEBOOK_STORE: dict[tuple, tuple[list, object]] = {}


def _km_trained_centroids(
    spark: SparkSession, sf_dir: str, vecs: DataFrame | None = None
) -> DataFrame:
    """The trained centroid codebook for ``sf_dir`` — trained once per
    process, served from the store thereafter.

    The artifact is DETERMINISTIC: integer micro-unit Lloyd from fixed
    seeds (vec_id < {KMEANS_K}) is exact arithmetic, so every caller
    would recompute byte-identical rows — the docstrings below already
    state the production contract ("store once, reuse for serving",
    the frozen-PQ-codebook discipline), and this memo IS that stored
    table for the in-process case.  First caller trains ({KMEANS_ITERS}
    corpus passes); the fixedpoint exporter, serving assigner, and
    balanced sampler then recreate the literal K-row relation from the
    stored rows instead of re-running identical training.  Pass
    ``vecs`` when the caller already holds the quantized corpus
    relation (avoids a second scoped persist on a store miss)."""
    # normpath so 'dir/' and 'dir' share one entry (ADVICE r10).
    # PER-PROCESS STALENESS: the store assumes the parquet under
    # sf_dir is immutable for the process lifetime — a caller that
    # regenerates test data in place must clear the store.
    key = (os.path.normpath(str(sf_dir)), KMEANS_K, KMEANS_ITERS, _KM_SCALE)
    hit = _KM_CODEBOOK_STORE.get(key)
    if hit is None:
        if vecs is None:
            vecs = _scoped_persist(_km_vecs(spark, sf_dir))
        cents = _km_train(vecs)
        # cents is already a local-literal relation (_km_train barrier)
        hit = (cents.collect(), cents.schema)
        _KM_CODEBOOK_STORE[key] = hit
    rows, schema = hit
    return spark.createDataFrame(rows, schema=schema)


def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED centroids (cid, c array<bigint> micro-units) after
    {KMEANS_ITERS} Lloyd iterations — the artifact a production
    pipeline stores once and reuses for serving-time assignment
    (kmeans_assign), exactly like the frozen PQ codebook: cluster ids
    are only comparable under one centroid set, so retraining is an
    explicit offline job, never an incremental mutation."""
    release_caches()
    return _km_trained_centroids(spark, sf_dir)


def kmeans_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Serving-time assignment: (vec_id, embedding array<float>)
    against STORED centroids → (vec_id, cluster_id). One broadcast
    pass (map-side argmin, no sort) over any batch size; a pytest
    proves corpus-wide parity with the training run's own final
    assignment."""
    vecs = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _KM_SCALE + F.lit(0.5)),
        ).alias("ei"),
    )
    return _km_assign(vecs, centroids).select(
        "vec_id", F.col("cid").cast("int").alias("cluster_id")
    )


def kmeans_centroids_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable form of :func:`kmeans_centroids`: the
    trained centroid ARTIFACT itself — (cid, centroid_fp), each
    centroid's micro-unit integer components comma-joined into one
    string (the embed_hashing_fixedpoint serialization pattern; the
    driver canon cannot hash array columns, and the components are
    already exact BIGINTs so the string is engine-identical by
    construction).  With kmeans_assign_serving this completes the
    frozen-codebook story under driver certificates: the stored
    artifact AND the serving assignment both hold green rows.

    Scale: the output is K rows regardless of corpus size — the whole
    point of shipping centroids instead of assignments."""
    release_caches()
    cents = _km_trained_centroids(spark, sf_dir)
    return cents.select(
        F.col("cid").cast("int").alias("cid"),
        F.concat_ws(
            ",", F.transform(F.col("c"), lambda x: x.cast("string"))
        ).alias("centroid_fp"),
    )


def _km_centroids_oracle() -> str:
    chain, cent = _km_cte_chain()
    return f"""WITH {chain}
SELECT CAST(cid AS INT) AS cid,
       string_agg(CAST(cv AS VARCHAR), ',' ORDER BY pos) AS centroid_fp
FROM {cent}
GROUP BY cid"""


def kmeans_assign_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable form of the serving tier: train centroids
    once ({KMEANS_ITERS} Lloyd iterations, the frozen-codebook
    contract), then run :func:`kmeans_assign` on a batch the training
    run never saw — each embedding element-REVERSED, a deterministic
    derivation both engines can replay — so the assignment is a real
    recomputation under frozen centroids, not an echo of the training
    run's own final assignment.  Output (vec_id, cluster_id) is
    integer-only.

    Scale: identical to the batch query — centroids are K·dims
    integers broadcast against the serving batch, map-side argmin, no
    sort; serving cost is one narrow pass over the batch regardless of
    corpus size."""
    release_caches()
    cents = _km_trained_centroids(spark, sf_dir)
    batch = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    return kmeans_assign(batch, cents)


HASH_EMB_DIM = 64


def embed_hashing_trick(docs: DataFrame, dim: int = HASH_EMB_DIM) -> DataFrame:
    """Feature-hashing ("hashing trick") document embeddings — the
    classical, model-free text→vector bridge (public: Weinberger et
    al. 2009; scikit-learn's HashingVectorizer): each token hashes to
    a dimension index and an independent ±1 sign, the document vector
    is the signed token-count sum per dimension, L2-normalized.
    Deterministic, vocabulary-free (no fitted state to ship), and
    entirely engine-side: one explode + one hash aggregate + a dense
    rebuild — the embedding column these vectors feed is the same
    array<double> shape every ANN/dedup operator here consumes.

    Scale: the aggregate is map-side combining on (doc_id, pos) and
    the output is one row per document; no shuffle carries raw token
    streams past the partial agg. Documents with zero tokens emit no
    row (no direction to normalize) — callers left-join if they need
    explicit nulls.
    """
    toks = docs.select(
        "doc_id",
        F.explode(sk.words(sk.normalize_text(F.col("text")))).alias("tok"),
    )
    cells = (
        toks.select(
            "doc_id",
            F.pmod(sk.hash60(F.col("tok")), F.lit(dim)).cast("int").alias("pos"),
            F.when(
                F.pmod(sk.hash60(F.concat(F.lit("sign:"), F.col("tok"))), F.lit(2))
                == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("s"),
        )
        .groupBy("doc_id", "pos")
        .agg(F.sum("s").alias("v"))
    )
    dense = cells.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("pos", "v"))).alias("m")
    ).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(F.element_at("m", i), F.lit(0)).cast("double"),
        ).alias("raw"),
    )
    # bind the raw vector once, then the L2 norm once more: the norm
    # is itself a COMPUTED scalar referenced inside the per-element
    # division lambda, so binding raw alone still re-evaluates the
    # O(dim) fold once per ELEMENT (the bind1 trap, O(dim²)/row).  The
    # zero guard reuses the same bound scalar: exact sign-cancellation
    # across every dimension leaves no direction to normalize — such
    # rows yield NULL and are dropped, like token-less docs.
    emb = sk.bind1(
        F.col("raw"),
        lambda r: sk.bind1(
            F.sqrt(sk.dot(r, r)),
            lambda nrm: F.when(nrm > 0.0, F.transform(r, lambda x: x / nrm)),
        ),
    )
    return dense.select("doc_id", emb.alias("embedding")).filter(
        F.col("embedding").isNotNull()
    )


def embed_hashing_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable form of :func:`embed_hashing_trick`: the
    normalized vector serialized to ONE comma-joined string of
    fixed-point micro-units per document (floor(x·10⁶ + 0.5) per
    component — the multimodal-features serialization pattern, since
    the driver canon cannot hash array columns and raw double
    formatting is engine-specific).

    Cross-engine determinism chain: the signed token counts are
    integers, so the L2 norm is sqrt(exact integer) on both engines;
    each component is one double division + one multiply + tie-safe
    floor — bit-identical IEEE ops in both engines, no
    order-dependent float summation anywhere."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = embed_hashing_trick(docs)
    return emb.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5))
                .cast("bigint")
                .cast("string"),
            ),
        ).alias("emb_fp"),
    )


_HASH_EMB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({sk.WORDS_SQL.format(c=sk.NORMALIZE_SQL.format(c='text'))}) AS tok
  FROM documents
),
cells AS (
  SELECT doc_id,
         CAST((({sk.hash60_sql('tok')}) % {HASH_EMB_DIM}
               + {HASH_EMB_DIM}) % {HASH_EMB_DIM} AS INT) AS pos,
         CASE WHEN ({sk.hash60_sql("'sign:' || tok")}) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM toks
),
agg AS (
  SELECT doc_id, pos, CAST(SUM(s) AS BIGINT) AS v
  FROM cells GROUP BY doc_id, pos
),
grid AS (
  SELECT d.doc_id, r.p
  FROM (SELECT DISTINCT doc_id FROM agg) d
  CROSS JOIN (SELECT unnest(range(0, {HASH_EMB_DIM})) AS p) r
),
dense AS (
  SELECT g.doc_id, g.p AS pos, COALESCE(a.v, 0) AS v
  FROM grid g LEFT JOIN agg a ON a.doc_id = g.doc_id AND a.pos = g.p
),
nrm AS (
  SELECT doc_id, sqrt(CAST(SUM(v * v) AS DOUBLE)) AS n
  FROM dense GROUP BY doc_id
)
SELECT d.doc_id,
       string_agg(
         CAST(CAST(FLOOR(d.v / n.n * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
         ',' ORDER BY d.pos) AS emb_fp
FROM dense d JOIN nrm n USING (doc_id)
WHERE n.n > 0
GROUP BY d.doc_id
"""


KM_BAL_MOD = 1_000_000


def kmeans_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus curation: down-sample every
    over-represented k-means cluster to the uniform target share with
    per-vector hash acceptance — the cluster-level twin of
    mixture_resample_documents (source-level), the standard
    topic-balancing step between clustering and training-set export.
    A vector survives when ``hash('kmbal:' || vec_id) % 1e6 <
    keep_micros`` where ``keep_micros = min(1e6,
    ratio_micros(total div K, cluster_n))`` — hash-keyed (stable
    across runs/partitionings) and PURE integer arithmetic end to end
    (the round-5 output contract: no double forms at any boundary).

    Output is the per-cluster audit row: cluster_id, n_before,
    keep_micros, n_after.

    Scale: the assignment relation aggregates to cluster grain (K
    rows), the plan broadcasts back onto the assignments, and both
    aggregates map-side combine — no shuffle carries vector rows."""
    asg = kmeans_embedding_clusters(spark, sf_dir).select("vec_id", "cluster_id")
    per = asg.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_before"))
    totals = per.agg(
        F.sum("n_before").alias("tot"), F.count(F.lit(1)).alias("k")
    )
    plan = per.crossJoin(F.broadcast(totals)).select(
        "cluster_id",
        "n_before",
        F.least(
            F.lit(KM_BAL_MOD).cast("long"),
            sk.ratio_micros("tot div k", "n_before"),
        ).alias("keep_micros"),
    )
    bucket = F.pmod(
        sk.hash60(F.concat(F.lit("kmbal:"), F.col("vec_id").cast("string"))),
        F.lit(KM_BAL_MOD),
    )
    kept = (
        asg.join(F.broadcast(plan.select("cluster_id", "keep_micros")), "cluster_id")
        .filter(bucket < F.col("keep_micros"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return plan.join(kept, "cluster_id", "left").select(
        "cluster_id",
        "n_before",
        "keep_micros",
        F.coalesce("n_after", F.lit(0).cast("long")).alias("n_after"),
    )


def _km_balance_oracle() -> str:
    return f"""
WITH km AS ({_kmeans_oracle()}),
per AS (
  SELECT cluster_id, COUNT(*) AS n_before FROM km GROUP BY cluster_id
),
tot AS (
  SELECT CAST(SUM(n_before) AS BIGINT) AS t, COUNT(*) AS k FROM per
),
plan AS (
  SELECT cluster_id, n_before,
         LEAST({KM_BAL_MOD},
               {sk.ratio_micros_sql('(t // k)', 'n_before')}) AS keep_micros
  FROM per CROSS JOIN tot
),
kept AS (
  SELECT m.cluster_id, COUNT(*) AS n_after
  FROM km m JOIN plan p ON m.cluster_id = p.cluster_id
  WHERE ({sk.hash60_sql("'kmbal:' || CAST(vec_id AS VARCHAR)")})
          % {KM_BAL_MOD} < p.keep_micros
  GROUP BY m.cluster_id
)
SELECT p.cluster_id, p.n_before, p.keep_micros,
       COALESCE(k.n_after, 0) AS n_after
FROM plan p LEFT JOIN kept k ON p.cluster_id = k.cluster_id
"""


def _km_cte_chain() -> tuple[str, str]:
    """The Lloyd-training CTE chain shared by every k-means oracle:
    ev = micro-quantized cells, then per iteration dN (integer
    distances) → aN (argmin assignment) → mN (floor-div integer means)
    → cN (empty clusters keep prior).  Returns (cte_sql, final_centroid
    _cte_name) so serving oracles can consume the TRAINED centroids
    without duplicating the unroll.  DuckDB widens integer SUMs to
    HUGEINT, so every mean folds back through CAST(... AS BIGINT)
    before it feeds the next join."""
    ev = f"""
ev AS (
  SELECT vec_id, t.i - 1 AS pos,
         CAST(FLOOR(embedding[t.i]::DOUBLE * {_KM_SCALE} + 0.5) AS BIGINT) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
),
c0 AS (
  SELECT vec_id AS cid, pos, v AS cv FROM ev WHERE vec_id < {KMEANS_K}
)"""
    steps = []
    prev = "c0"
    for t in range(1, KMEANS_ITERS + 1):
        steps.append(f"""
d{t} AS (
  SELECT e.vec_id, c.cid, SUM((e.v - c.cv) * (e.v - c.cv)) AS d
  FROM ev e JOIN {prev} c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cid
),
a{t} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d{t}
  ) WHERE rn = 1
),
m{t} AS (
  SELECT a.cid, e.pos,
         CAST((SUM(e.v) - ((SUM(e.v) % COUNT(*) + COUNT(*)) % COUNT(*)))
              // COUNT(*) AS BIGINT) AS cv
  FROM a{t} a JOIN ev e ON a.vec_id = e.vec_id
  GROUP BY a.cid, e.pos
),
c{t} AS (
  SELECT p.cid, p.pos, COALESCE(n.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN m{t} n ON p.cid = n.cid AND p.pos = n.pos
)""")
        prev = f"c{t}"
    return ev + "," + ",".join(steps), prev


def _kmeans_oracle() -> str:
    """Full training query: the shared Lloyd chain plus the final
    corpus assignment and cluster sizes."""
    chain, cent = _km_cte_chain()
    return f"""WITH {chain},
dF AS (
  SELECT e.vec_id, c.cid, SUM((e.v - c.cv) * (e.v - c.cv)) AS d
  FROM ev e JOIN {cent} c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cid
),
aF AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dF
  ) WHERE rn = 1
)
SELECT a.vec_id, CAST(a.cid AS INT) AS cluster_id, s.cluster_size
FROM aF a JOIN (
  SELECT cid, COUNT(*) AS cluster_size FROM aF GROUP BY cid
) s ON a.cid = s.cid"""


def _km_serve_oracle() -> str:
    """Serving-side oracle: train through the shared chain, then
    assign the REVERSED-embedding batch (micro-quantization commutes
    with element reversal, so rv just re-indexes ev's cells) under the
    frozen centroids — same integer argmin, (d, cid) tie-break."""
    chain, cent = _km_cte_chain()
    return f"""WITH {chain},
rv AS (
  SELECT vec_id, mx - pos AS pos, v
  FROM (SELECT vec_id, pos, v,
               MAX(pos) OVER (PARTITION BY vec_id) AS mx FROM ev)
),
dS AS (
  SELECT e.vec_id, c.cid, SUM((e.v - c.cv) * (e.v - c.cv)) AS d
  FROM rv e JOIN {cent} c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cid
)
SELECT vec_id, CAST(cid AS INT) AS cluster_id FROM (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM dS
) WHERE rn = 1"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES = {
    "dedup_exact_documents": dedup_exact_documents,
    "neardup_minhash_bands": neardup_minhash_bands,
    "neardup_clusters": neardup_clusters,
    "neardup_simhash_pairs": neardup_simhash_pairs,
    "neardup_ngram_jaccard": neardup_ngram_jaccard,
    "embedding_cosine_topk": embedding_cosine_topk,
    "embedding_ann_lsh_pairs": embedding_ann_lsh_pairs,
    "embedding_ann_multiprobe": embedding_ann_multiprobe,
    "text_stats_profile": text_stats_profile,
    "text_quality_score": text_quality_score,
    "lang_id_confusion": lang_id_confusion,
    "token_count_regex": token_count_regex,
    "doc_fingerprint_bottomk": doc_fingerprint_bottomk,
    "multimodal_binary_stats": multimodal_binary_stats,
    "multimodal_media_features": multimodal_media_features,
    "multimodal_frame_sample": multimodal_frame_sample,
    "sample_stratified_documents": sample_stratified_documents,
    "training_prep_pipeline": training_prep_pipeline,
    "split_assign_documents": split_assign_documents,
    "embedding_label_centroids": embedding_label_centroids,
    "neardup_levenshtein_names": neardup_levenshtein_names,
    "embedding_ivf_assign": embedding_ivf_assign,
    "embedding_ivf_topk": embedding_ivf_topk,
    "neardup_prefix_filter_pairs": neardup_prefix_filter_pairs,
    "embedding_quantize_int8": embedding_quantize_int8,
    "embedding_quantized_topk": embedding_quantized_topk,
    "embedding_pq_assign": embedding_pq_assign,
    "embedding_pq_adc_topk": embedding_pq_adc_topk,
    "kmeans_embedding_clusters": kmeans_embedding_clusters,
    "embed_hashing_fixedpoint": embed_hashing_fixedpoint,
    "kmeans_balanced_sample": kmeans_balanced_sample,
    # the serving tier: assign new vectors to the trained centroids
    "kmeans_assign_serving": kmeans_assign_serving,
}

ORACLE = {
    "dedup_exact_documents": _DEDUP_EXACT_SQL,
    "neardup_minhash_bands": _minhash_oracle(),
    "neardup_clusters": _clusters_oracle(),
    "neardup_simhash_pairs": _simhash_oracle(),
    "neardup_ngram_jaccard": _NGRAM_ORACLE,
    "embedding_cosine_topk": _COSINE_TOPK_ORACLE,
    "embedding_ann_lsh_pairs": _ann_lsh_oracle(),
    "embedding_ann_multiprobe": _ann_multiprobe_oracle(),
    "text_stats_profile": _TEXT_STATS_ORACLE,
    "text_quality_score": _QUALITY_ORACLE,
    "lang_id_confusion": _lang_id_oracle(),
    "token_count_regex": _TOKEN_COUNT_ORACLE,
    "doc_fingerprint_bottomk": _FINGERPRINT_ORACLE,
    "multimodal_binary_stats": _MM_STATS_ORACLE,
    "multimodal_media_features": _MM_FEATURES_ORACLE,
    "multimodal_frame_sample": _FRAME_SAMPLE_ORACLE,
    "sample_stratified_documents": _SAMPLE_ORACLE,
    "training_prep_pipeline": _PREP_ORACLE,
    "split_assign_documents": _SPLIT_ORACLE,
    "embedding_label_centroids": _CENTROID_ORACLE,
    "neardup_levenshtein_names": _LEVENSHTEIN_ORACLE,
    "embedding_ivf_assign": _IVF_ORACLE,
    "embedding_ivf_topk": _ivf_topk_oracle(),
    "neardup_prefix_filter_pairs": _prefix_filter_oracle(),
    "embedding_quantize_int8": _QUANTIZE_ORACLE,
    "embedding_quantized_topk": _QUANT_TOPK_ORACLE,
    "embedding_pq_assign": _pq_assign_oracle(),
    "embedding_pq_adc_topk": _pq_adc_oracle(),
    "kmeans_embedding_clusters": _kmeans_oracle(),
    "embed_hashing_fixedpoint": _HASH_EMB_ORACLE,
    "kmeans_balanced_sample": _km_balance_oracle(),
    "kmeans_assign_serving": _km_serve_oracle(),
}

# ---------------------------------------------------------------------------
# ANN recall audit
# ---------------------------------------------------------------------------

def ann_recall_audit(
    spark: SparkSession, sf_dir: str, *, max_hamming: int = 1
) -> DataFrame:
    """Recall@{ANN_TOPK} certification of the multi-probe LSH index
    against brute-force cosine — the quality audit a production ANN
    deployment runs before trusting the approximate path: for each
    query, how many of the TRUE top-{ANN_TOPK} neighbors does the
    Hamming<=1 probe set even reach?  Output (query_id, topk_n, hits,
    recall_micros) is pure integer (hits = true neighbors whose
    bucket is within Hamming 1 of the query's; recall_micros the
    fixed-point ratio), so the audit is engine-exact, not a float
    summary.

    This is the measurement half of embedding_ann_multiprobe's
    recall/cost dial: ``max_hamming`` IS the dial (the registry form
    audits the default Hamming<=1 probe set; re-run at 2 and the
    recall_micros delta prices the extra fan-out — recall is
    monotone in the radius, a pytest-pinned property).

    Scale: the ground-truth side is the bounded query sample
    (ANN_QUERIES × ANN_TOPK rows — the standard sampled-recall
    audit; exhaustive ground truth would be the all-pairs scan the
    index exists to avoid). Buckets are one corpus map pass; the
    50-row truth relation broadcasts to it, the query buckets
    broadcast again, one tiny aggregate ends it. No corpus-sized
    shuffle at all."""
    topk = embedding_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    bucketed = emb.select("vec_id", lsh_bucket("e").alias("bucket"))
    qb = bucketed.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("bucket").alias("qbucket")
    )
    j = (
        bucketed.join(
            F.broadcast(topk), bucketed.vec_id == topk.neighbor_id
        )
        .select("query_id", F.col("bucket").alias("nbucket"))
        .join(F.broadcast(qb), "query_id")
    )
    agg = j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("topk_n"),
        F.sum(
            F.when(
                F.bit_count(F.col("qbucket").bitwiseXOR(F.col("nbucket")))
                <= F.lit(max_hamming),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("hits"),
    )
    return agg.select(
        "query_id",
        "topk_n",
        "hits",
        sk.ratio_micros("hits", "topk_n").alias("recall_micros"),
    )


def _ann_recall_oracle() -> str:
    bits = " + ".join(
        f"CASE WHEN {sk.dot_sql('embedding', f'({HYPERPLANES[h]}::DOUBLE[])')} > 0"
        f" THEN {1 << h} ELSE 0 END"
        for h in range(LSH_PLANES)
    )
    return f"""
WITH topk AS (
  SELECT query_id, neighbor_id FROM ({_COSINE_TOPK_ORACLE}) t
),
bucketed AS (
  SELECT vec_id, {bits} AS bucket FROM embeddings
),
j AS (
  SELECT t.query_id,
         CASE WHEN bit_count(xor(qb.bucket, nb.bucket)) <= 1
              THEN 1 ELSE 0 END AS hit
  FROM topk t
  JOIN bucketed nb ON nb.vec_id = t.neighbor_id
  JOIN bucketed qb ON qb.vec_id = t.query_id
),
agg AS (
  SELECT query_id,
         CAST(COUNT(*) AS BIGINT) AS topk_n,
         CAST(SUM(hit) AS BIGINT) AS hits
  FROM j GROUP BY query_id
)
SELECT query_id, topk_n, hits,
       {sk.ratio_micros_sql('hits', 'topk_n')} AS recall_micros
FROM agg
"""


MR_DIMS = (8, 16, 32)  # audited prefix lengths (full = EMB_DIM baseline)


def matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022, MRL): for
    each query, cosine top-{ANN_TOPK} using only the FIRST d
    dimensions (d in {MR_DIMS}) versus the full-{EMB_DIM} baseline —
    the table that tells you whether a cheap dim-prefix prefilter is
    safe for YOUR embedding column before you ship it (an
    MRL-trained model front-loads information, so low-d recall stays
    high; a model that doesn't — or isotropic noise — shows
    near-chance recall here, which is exactly what this synthetic
    corpus honestly reports).  Output (query_id, dims, n_overlap,
    recall_micros), integers plus the audit grain.

    Scale: the query side is broadcast (bounded); the corpus side is
    ONE pass with the dims grain exploded per row (|MR_DIMS|+1 score
    rows per (query, vector) — the audit's sample-sized cost, like
    ann_recall_audit); ranking follows embedding_cosine_topk's
    engine-independent convention (4-dp rounded cosine, vec_id
    tie-break).

    A single-pass variant (one 64-term running fold cut at each
    prefix) was considered and REJECTED: float addition is not
    associative, so per-chunk partial sums are not bit-identical to
    the per-prefix sequential folds both engines run — the 4x explode
    stays because cross-engine exactness outranks a 2x float-work cut
    on an audit query."""
    release_caches()  # previous query's scope ends here
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    all_dims = list(MR_DIMS) + [EMB_DIM]
    dims_col = F.explode(
        F.array(*[F.lit(d) for d in all_dims])
    ).alias("dims")
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "e", "qe", dims_col
    )
    te = F.expr("slice(e, 1, dims)")
    tq = F.expr("slice(qe, 1, dims)")
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        "dims",
        sk.round_sim(sk.cosine(tq, te)).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id", "dims").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    topk = _scoped_persist(
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANN_TOPK)
        .select("query_id", "dims", "neighbor_id")
    )
    base = topk.filter(F.col("dims") == EMB_DIM).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    # every (query, dims) group holds exactly ANN_TOPK rows, so the
    # left-join marker keeps zero-overlap groups without re-attachment
    return (
        topk.filter(F.col("dims") != EMB_DIM)
        .join(F.broadcast(base), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id", "dims")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_overlap"))
        .select(
            "query_id",
            "dims",
            "n_overlap",
            sk.ratio_micros("n_overlap", str(ANN_TOPK)).alias("recall_micros"),
        )
    )


def _matryoshka_oracle() -> str:
    all_dims = ", ".join(str(d) for d in list(MR_DIMS) + [EMB_DIM])
    cos = sk.cosine_sql("list_slice(q.qe, 1, d.dims)", "list_slice(e.e, 1, d.dims)")
    return f"""
WITH ed AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, e AS qe FROM ed WHERE vec_id < {ANN_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, d.dims,
         {sk.round_sim_sql(cos)} AS cos_sim
  FROM ed e, q, (SELECT unnest([{all_dims}]) AS dims) d
  WHERE e.vec_id <> q.query_id
),
topk AS (
  SELECT query_id, dims, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id, dims ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM scored
  ) WHERE rk <= {ANN_TOPK}
),
base AS (
  SELECT query_id, neighbor_id FROM topk WHERE dims = {EMB_DIM}
),
ov AS (
  SELECT t.query_id, t.dims, COUNT(b.neighbor_id) AS n_overlap
  FROM topk t LEFT JOIN base b
    ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
  WHERE t.dims <> {EMB_DIM}
  GROUP BY 1, 2
)
SELECT query_id, dims, CAST(n_overlap AS BIGINT) AS n_overlap,
       {sk.ratio_micros_sql('n_overlap', str(ANN_TOPK))} AS recall_micros
FROM ov
"""


def split_assign_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test splitting — the step that makes a
    held-out set actually held out: hashing each DOCUMENT into a
    split (split_assign_documents' rule) puts near-duplicates of a
    training doc into val/test, silently inflating eval (the
    dedup-then-split discipline of Lee et al. 2021 / the Pile's
    decontamination analyses).  Here the split hash runs on the
    near-dup CLUSTER id (neardup_clusters' component minimum;
    singletons hash their own doc_id — identical to the naive rule,
    so the fix only moves docs that have near-duplicates).  Output
    per document: (doc_id, group_id, split, naive_split,
    leak_prevented) — the flag marks docs whose naive assignment
    differed, making the fix's blast radius observable (at sf0.001
    real clusters DO straddle naive splits).

    Scale: the cluster relation is the LSH + iterative-CC chain and
    contains only near-dup members — the corpus side takes one
    AQE-broadcastable left join on doc_id and a map; the hash split
    itself stays stable under corpus growth (adding docs never
    reshuffles existing groups).  Measured sf0.1 warm: 10.2 s, of
    which neardup_clusters alone is 7.1 — the split adds only the
    corpus join, the cost IS the cluster chain (which this query
    gives a transitive bench reading, as clusters is not separately
    in the extended set)."""
    release_caches()  # previous query's scope ends here
    docs = table(spark, sf_dir, "documents").select("doc_id")
    clusters = neardup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    gid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))

    def _split(key):
        bucket = F.pmod(
            sk.hash60(F.concat(F.lit("split:"), key.cast("string"))), F.lit(100)
        )
        return (
            F.when(bucket < SPLIT_BOUNDS[0], "train")
            .when(bucket < SPLIT_BOUNDS[1], "val")
            .otherwise("test")
        )

    out = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        gid.alias("group_id"),
        _split(gid).alias("split"),
        _split(F.col("doc_id")).alias("naive_split"),
    )
    return out.withColumn(
        "leak_prevented", F.col("split") != F.col("naive_split")
    )


def _split_safe_oracle() -> str:
    def split_sql(key: str) -> str:
        h = sk.hash60_sql("'split:' || " + key + "::VARCHAR")
        b = f"{h} % 100"
        return (
            f"CASE WHEN {b} < {SPLIT_BOUNDS[0]} THEN 'train'"
            f" WHEN {b} < {SPLIT_BOUNDS[1]} THEN 'val'"
            f" ELSE 'test' END"
        )

    return f"""
WITH clus AS (SELECT doc_id, cluster_id FROM ({_clusters_oracle()}) c),
g AS (
  SELECT d.doc_id, COALESCE(clus.cluster_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN clus ON d.doc_id = clus.doc_id
)
SELECT doc_id, group_id,
       {split_sql('group_id')} AS split,
       {split_sql('doc_id')} AS naive_split,
       {split_sql('group_id')} <> {split_sql('doc_id')} AS leak_prevented
FROM g
"""


PROTO_PRUNE_BELOW_MICROS = 950_000  # dist/mean below this = cluster core
# (a DIAL, like ANN probe radius: isotropic high-dim data concentrates
# the ratio near 1.0 with ~sqrt(2/dims) relative spread, so the core
# cut sits just under 1 — real clustered corpora spread far wider)


def embedding_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality-based data pruning (Sorscher et al. 2022,
    "Beyond neural scaling laws"): each vector's squared-L2 distance
    to its own LABEL centroid, the per-label mean distance, and the
    ratio — the metric that ranks examples easy (cluster core,
    redundant when data is abundant) to hard (cluster edge).
    ``prune_easy`` flags vectors at ratio < {PROTO_PRUNE_BELOW_MICROS}µ
    — the keep-hard-examples pruning rule at the abundant-data end of
    the paper's regime.  Output (vec_id, label, dist_micros,
    label_mean_micros, ratio_micros, prune_easy), integers only.

    Exactness: the centroid rides embedding_label_centroids'
    arithmetic verbatim (DECIMAL(28,10) sums → one rounded double per
    cell — aggregation-order independent); per-(vector, dim) squared
    deviations convert to 6-dp fixed point INDIVIDUALLY (one IEEE
    multiply + floor each — deterministic cross-engine), so every
    downstream SUM and mean is exact integer arithmetic with no float
    summation order to pin.

    Scale: centroid relation = labels × dims rows — broadcast; the
    corpus side is one posexplode (no shuffle), the broadcast join,
    and a map-side-combinable per-vector integer sum; the label mean
    is a second labels-sized aggregate.  No window, no all-pairs; a
    single-vector label guards the ratio denominator at 1."""
    emb = table(spark, sf_dir, "embeddings")
    cells = emb.select("vec_id", "label", F.posexplode("embedding").alias("dim", "x"))
    cents = cells.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("double").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    dev = F.col("x").cast("double") - F.col("c")
    per_vec = (
        cells.join(F.broadcast(cents), ["label", "dim"])
        .select(
            "vec_id",
            "label",
            F.floor(dev * dev * PQ_DIST_SCALE + F.lit(0.5))
            .cast("long")
            .alias("dmicro"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("dmicro").alias("dist_micros"))
    )
    means = per_vec.groupBy("label").agg(
        F.expr(
            "(sum(dist_micros) * 2 + count(*)) div (count(*) * 2)"
        ).alias("label_mean_micros")
    )
    ratio = sk.ratio_micros("dist_micros", "GREATEST(label_mean_micros, 1)")
    return per_vec.join(F.broadcast(means), "label").select(
        "vec_id",
        "label",
        "dist_micros",
        "label_mean_micros",
        ratio.alias("ratio_micros"),
        (ratio < PROTO_PRUNE_BELOW_MICROS).alias("prune_easy"),
    )


def _prototypicality_oracle() -> str:
    ratio = sk.ratio_micros_sql("dist_micros", "GREATEST(label_mean_micros, 1)")
    return f"""
WITH cells AS (
  SELECT vec_id, label, t.i - 1 AS dim, embedding[t.i] AS x
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
),
cents AS (
  SELECT label, dim,
         round(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM cells GROUP BY 1, 2
),
per_vec AS (
  SELECT vec_id, cells.label,
         CAST(SUM(CAST(FLOOR((CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)
                             * {PQ_DIST_SCALE} + 0.5) AS BIGINT)) AS BIGINT)
           AS dist_micros
  FROM cells JOIN cents USING (label, dim)
  GROUP BY 1, 2
),
means AS (
  SELECT label,
         CAST((SUM(dist_micros) * 2 + COUNT(*)) // (COUNT(*) * 2) AS BIGINT)
           AS label_mean_micros
  FROM per_vec GROUP BY 1
)
SELECT vec_id, per_vec.label, dist_micros, label_mean_micros,
       {ratio} AS ratio_micros,
       {ratio} < {PROTO_PRUNE_BELOW_MICROS} AS prune_easy
FROM per_vec JOIN means USING (label)
"""


PQ_PROBE_MOD = 5  # vec_id >= PQ_K with vec_id % MOD == 0 is the probe batch


def pq_adc_topk_against(
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    topk: int = ANN_TOPK,
) -> DataFrame:
    """The PQ SERVING arithmetic behind pq_probe_newvecs: ADC
    top-``topk`` of ``queries`` (vec_id, e float arrays) against stored
    ``codes`` (vec_id, m, code_id) under a frozen ``codebook``.
    Distances are 6-dp fixed-point BIGINT (exact integer sums,
    engine- and order-independent); output (query_id, neighbor_id,
    adc_micros, rk).

    Scale: LUT = queries×{PQ_M}×{PQ_K} rows — broadcast; the codes
    relation is the only corpus-sized input (3 ints per row); one
    broadcast join + one map-side-combinable hash aggregate + the
    top-k window over scored rows (bounded by queries × corpus)."""
    lut = (
        _pq_subvectors(queries, "query_id")
        .join(F.broadcast(codebook), "m")
        .select(
            "query_id",
            "m",
            "code_id",
            _pq_dist_micro(F.col("sub"), F.col("csub")).alias("dmicro"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "code_id"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dmicro").alias("adc_micros"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_micros"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("query_id", "neighbor_id", "adc_micros", "rk")
    )


def pq_probe_newvecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifier of the PQ-index SERVING path (the lm_probe_newdocs /
    winnow_probe_newdocs pattern): vectors with
    vec_id >= {PQ_K} and vec_id % {PQ_PROBE_MOD} == 0 are the
    new-arrival probe batch; the REST is the stored index (codebook
    trained on the stored side's seed vectors — identical to the
    full-corpus codebook since all seeds vec_id < {PQ_K} are stored
    by construction: the codebook is trained once and then frozen).
    Each probe vector exercises BOTH serving paths: the APPEND path
    (its own code assignment under the frozen codebook, packed to the
    single-BIGINT pq_code) and the READ path (ADC top-{ANN_TOPK}
    against the stored codes through pq_adc_topk_against).  Output
    (query_id, pq_code, neighbor_id, adc_micros, rk), integers only.

    Scale: codebook broadcast; stored codes are the only
    corpus-sized relation (3 ints/row, scoped-persisted across the
    ADC join); the probe side is O(batch)."""
    release_caches()  # previous query's scope ends here
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", sk.vec_double(F.col("embedding")).alias("e")
    )
    is_probe = (F.col("vec_id") >= PQ_K) & (F.col("vec_id") % PQ_PROBE_MOD == 0)
    stored, probe = emb.filter(~is_probe), emb.filter(is_probe)
    cb = _pq_codebook(stored)
    codes = _scoped_persist(_pq_assigned(stored, cb).select("vec_id", "m", "code_id"))
    packed = F.lit(0).cast("long")
    for i in range(PQ_M):
        packed = packed * PQ_K + F.col(f"code_{i}")
    own = (
        _pq_assigned(probe, cb)
        .groupBy(F.col("vec_id").alias("query_id"))
        .agg(
            *[
                F.max(F.when(F.col("m") == i, F.col("code_id"))).alias(f"code_{i}")
                for i in range(PQ_M)
            ]
        )
        .select("query_id", packed.cast("long").alias("pq_code"))
    )
    adc = pq_adc_topk_against(codes, probe, cb)
    return adc.join(F.broadcast(own), "query_id").select(
        "query_id", "pq_code", "neighbor_id", "adc_micros", "rk"
    )


def _pq_probe_oracle() -> str:
    packed = "0"
    for i in range(PQ_M):
        packed = f"({packed} * {PQ_K} + MAX(CASE WHEN m = {i} THEN code_id END))"
    return f"""
WITH {_PQ_BASE_CTE.lstrip()},
own AS (
  SELECT vec_id AS query_id, CAST({packed} AS BIGINT) AS pq_code
  FROM assigned
  WHERE vec_id >= {PQ_K} AND vec_id % {PQ_PROBE_MOD} = 0
  GROUP BY vec_id
),
qsubs AS (
  SELECT vec_id AS query_id, m, sub FROM subs
  WHERE vec_id >= {PQ_K} AND vec_id % {PQ_PROBE_MOD} = 0
),
lut AS (
  SELECT q.query_id, q.m, c.code_id,
         {_PQ_DIST_MICRO_SQL.format(n=PQ_SUBDIM, a='q.sub', b='c.csub')} AS dmicro
  FROM qsubs q JOIN cb c USING (m)
),
scored AS (
  SELECT l.query_id, a.vec_id AS neighbor_id,
         CAST(SUM(l.dmicro) AS BIGINT) AS adc_micros
  FROM assigned a JOIN lut l ON a.m = l.m AND a.code_id = l.code_id
  WHERE NOT (a.vec_id >= {PQ_K} AND a.vec_id % {PQ_PROBE_MOD} = 0)
  GROUP BY l.query_id, a.vec_id
)
SELECT s.query_id, own.pq_code, s.neighbor_id, s.adc_micros, s.rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adc_micros, neighbor_id) AS rk
  FROM scored
) s JOIN own USING (query_id)
WHERE s.rk <= {ANN_TOPK}
"""


CONTAIN_MICROS = 800_000   # containment >= this flags a direction


def neardup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT dedup — Broder (1997) distinguishes
    resemblance (Jaccard, what the minhash/simhash/prefix-filter
    family verifies) from containment c(A,B) = |A∩B| / |A|: a
    license block or nav template pasted into a long page has LOW
    Jaccard (the union is big) but containment ≈ 1 in one direction
    — the subset-duplication case a resemblance-only pipeline
    misses.  Candidates ride the SAME banded MinHash self-join as
    neardup_minhash_bands (band collision is containment-sensitive
    too: a contained doc shares its minima with the container);
    verification computes EXACT shingle-set containment in BOTH
    directions as integer micros plus the relation class:
    'mutual' (both >= {CONTAIN_MICROS}µ), 'a_in_b' / 'b_in_a'
    (one direction), 'partial'.  Output (doc_a, doc_b, n_common,
    cont_a_micros, cont_b_micros, relation).

    Scale: identical shape to neardup_minhash_bands — banded
    self-join on uniform keys (candidates O(N · collisions), never
    all-pairs), then the exact verify joins the shingle relation
    only for candidate ids.  The directional micros are
    ratio_micros over set sizes — pure integers."""
    release_caches()  # previous query's scope ends here
    # signed pin — same duplication and same fix as
    # neardup_minhash_bands (the fold ran once per band self-join
    # side with the pin below it; see that docstring's measurement)
    shingled = _scoped_persist(
        _docs_shingled(spark, sf_dir).select(
            "doc_id",
            "sh",
            sk.minhash_sigs(F.col("sh"), N_MINHASH).alias("sig"),
        )
    )
    cand = _band_collisions(shingled)
    sa, sb = shingled.alias("sa"), shingled.alias("sb")
    verified = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
            .cast("long")
            .alias("n_common"),
            F.size(F.col("sa.sh")).cast("long").alias("na"),
            F.size(F.col("sb.sh")).cast("long").alias("nb"),
        )
    )
    ca = sk.ratio_micros("n_common", "na")
    cb = sk.ratio_micros("n_common", "nb")
    return verified.select(
        "doc_a",
        "doc_b",
        "n_common",
        ca.alias("cont_a_micros"),
        cb.alias("cont_b_micros"),
        F.when(
            (ca >= CONTAIN_MICROS) & (cb >= CONTAIN_MICROS), F.lit("mutual")
        )
        .when(ca >= CONTAIN_MICROS, F.lit("a_in_b"))
        .when(cb >= CONTAIN_MICROS, F.lit("b_in_a"))
        .otherwise(F.lit("partial"))
        .alias("relation"),
    )


def _containment_oracle() -> str:
    sig_exprs, band_selects = _sig_band_sql()
    ca = sk.ratio_micros_sql("n_common", "na")
    cb = sk.ratio_micros_sql("n_common", "nb")
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
    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common,
         CAST(len(sa.sh) AS BIGINT) AS na,
         CAST(len(sb.sh) AS BIGINT) AS nb
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, n_common,
       {ca} AS cont_a_micros,
       {cb} AS cont_b_micros,
       CASE WHEN {ca} >= {CONTAIN_MICROS} AND {cb} >= {CONTAIN_MICROS}
              THEN 'mutual'
            WHEN {ca} >= {CONTAIN_MICROS} THEN 'a_in_b'
            WHEN {cb} >= {CONTAIN_MICROS} THEN 'b_in_a'
            ELSE 'partial' END AS relation
FROM verified
"""


QUERIES.update(
    {
        "kmeans_centroids_fixedpoint": kmeans_centroids_fixedpoint,
        "ann_recall_audit": ann_recall_audit,
        "minhash_estimate_error_audit": minhash_estimate_error_audit,
        "sample_exact_k_per_lang": sample_exact_k_per_lang,
        "pq_probe_newvecs": pq_probe_newvecs,
        "ann_two_stage_rerank": ann_two_stage_rerank,
        "neardup_containment_pairs": neardup_containment_pairs,
        "embedding_prototypicality": embedding_prototypicality,
        "split_assign_leakage_safe": split_assign_leakage_safe,
        "matryoshka_recall_audit": matryoshka_recall_audit,
    }
)

ORACLE.update(
    {
        "kmeans_centroids_fixedpoint": _km_centroids_oracle(),
        "ann_recall_audit": _ann_recall_oracle(),
        "minhash_estimate_error_audit": _minhash_err_oracle(),
        "sample_exact_k_per_lang": _SAMPLE_K_ORACLE,
        "pq_probe_newvecs": _pq_probe_oracle(),
        "ann_two_stage_rerank": _RERANK_ORACLE,
        "neardup_containment_pairs": _containment_oracle(),
        "embedding_prototypicality": _prototypicality_oracle(),
        "split_assign_leakage_safe": _split_safe_oracle(),
        "matryoshka_recall_audit": _matryoshka_oracle(),
    }
)

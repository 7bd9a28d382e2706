"""Training-data pipeline extras (⊕ family, round 3).

Five operators a production-scale LLM data pipeline needs beyond the
core dedup/ANN/text-analysis family in operators/llm_pipeline.py:
PII scrubbing, URL extraction/normalization, repetition-based quality
filtering (Gopher-style), benchmark-contamination screening, and
domain mixture weighting. Reference parity: the reference engine has
no analog; mandated by the north-star ⊕ scope (SURVEY.md §2.8).

The synthetic documents corpus contains no natural PII/URLs, so the
PII and URL queries append deterministic synthetic spans (a pure
function of doc_id, rendered identically into the Spark plan and the
DuckDB oracle) — the regex/normalization machinery is exercised on
real matches while results stay engine-independent.

Scale design: every operator is per-row column work plus at most one
hash aggregation or one broadcast join against a bounded eval set.
No self-joins, no all-pairs, nothing quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chain_sync_spark.functions import sketches as sk
from chain_sync_spark.tables import table

# ---------------------------------------------------------------------------
# 1. PII scrubbing
# ---------------------------------------------------------------------------

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


def _pii_augmented(text, doc_id):
    """Append deterministic synthetic PII spans: every 7th doc gains
    an email, every 11th an IPv4 — pure function of doc_id."""
    email = F.concat(F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com"))
    ip = F.concat(F.lit(" from 10.0."), (doc_id % 256).cast("string"), F.lit(".1"))
    return F.concat(
        text,
        F.when(doc_id % 7 == 0, email).otherwise(F.lit("")),
        F.when(doc_id % 11 == 0, ip).otherwise(F.lit("")),
    )


def pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails and IPv4 addresses per
    document. Counts via regexp_extract_all (vectorized, codegen);
    redaction replaces matches with typed placeholders; the scrubbed
    text is reported as an md5 so the result row stays narrow.

    Scale: embarrassingly parallel per-row column work — zero
    shuffles; at 100 TB this is bounded by scan bandwidth.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = _pii_augmented(F.col("text"), F.col("doc_id"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(IPV4_RE), 0)).alias("n_ipv4"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


def _pii_aug_sql(text: str, doc_id: str) -> str:
    return (
        f"{text} || CASE WHEN {doc_id} % 7 = 0 THEN"
        f" ' contact user' || {doc_id}::VARCHAR || '@example.com' ELSE '' END"
        f" || CASE WHEN {doc_id} % 11 = 0 THEN"
        f" ' from 10.0.' || ({doc_id} % 256)::VARCHAR || '.1' ELSE '' END"
    )


_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, {_pii_aug_sql('text', 'doc_id')} AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS INT) AS n_ipv4,
       md5(regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{IPV4_RE}', '<IP>', 'g')) AS scrub_hash
FROM aug
"""

# ---------------------------------------------------------------------------
# 2. URL extraction + normalization
# ---------------------------------------------------------------------------

URL_RE = "https?://[^ ]+"


def url_extract_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL inventory: extract URLs, normalize (lowercase, strip
    scheme, leading www., trailing slash), report per-URL document
    frequency — the first step of URL-level dedup / blocklist
    filtering in a crawl pipeline.

    Scale: extract+explode is linear in match count; the aggregation
    shuffles on the normalized URL (high-cardinality, uniform). Every
    5th doc gains two deterministic synthetic URLs that normalize to
    the same key — exercising the fold."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    doc_id = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            doc_id % 5 == 0,
            F.concat(
                F.lit(" see https://Example.com/p/"), (doc_id % 3).cast("string"),
                F.lit("/ and http://www.example.com/p/"), (doc_id % 3).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    urls = d.select(
        "doc_id", F.explode(F.regexp_extract_all(aug, F.lit(URL_RE), 0)).alias("url")
    )
    norm = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.lower(F.col("url")), "^https?://", ""), "^www\\.", ""),
        "/$",
        "",
    )
    return (
        urls.select("doc_id", norm.alias("url"))
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


_URL_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0 THEN
           ' see https://Example.com/p/' || (doc_id % 3)::VARCHAR ||
           '/ and http://www.example.com/p/' || (doc_id % 3)::VARCHAR
         ELSE '' END AS t
  FROM documents
),
urls AS (
  SELECT doc_id, unnest(regexp_extract_all(t, '{URL_RE}')) AS url FROM aug
)
SELECT regexp_replace(regexp_replace(regexp_replace(lower(url),
         '^https?://', ''), '^www\\.', ''), '/$', '') AS url,
       COUNT(*) AS n_mentions,
       COUNT(DISTINCT doc_id) AS n_docs
FROM urls GROUP BY 1
"""

# ---------------------------------------------------------------------------
# 3. Repetition-based quality filter (Gopher-style)
# ---------------------------------------------------------------------------

TOP_TOKEN_MAX_MICROS = 80_000  # 0.08 as fixed-point micro-units


def quality_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: token count,
    distinct-token count, top-token ratio (most frequent token's share
    of all tokens, as BIGINT micro-units), and the keep/drop flag at
    {TOP_TOKEN_MAX_MICROS} micros.  Highly repetitive documents
    (boilerplate, keyword stuffing) are the classic web-crawl failure
    mode this screens out.

    Output contract (round 5): the ratio is ``top_ratio_micros``
    BIGINT computed in pure integer arithmetic (sketches.ratio_micros)
    and ``keep`` derives from the integer — engine-version-proof where
    the round-4 DOUBLE boundary was not (VERDICT r4 item 1).

    Scale: one explode + two-level hash aggregation keyed by
    (doc_id, token) then doc_id — both map-side combinable, uniform
    keys; no joins."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.explode(sk.words(F.col("text"))).alias("tok"))
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_cnt"),
    )
    micros = sk.ratio_micros("top_cnt", "n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        micros.alias("top_ratio_micros"),
        (micros <= TOP_TOKEN_MAX_MICROS).alias("keep"),
    )


_QUALITY_REP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({sk.WORDS_SQL.format(c='text')}) AS tok FROM documents
),
per_tok AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct, MAX(c) AS top_cnt
  FROM per_tok GROUP BY 1
)
SELECT doc_id, n_tokens, n_distinct,
       {sk.ratio_micros_sql('top_cnt', 'n_tokens')} AS top_ratio_micros,
       {sk.ratio_micros_sql('top_cnt', 'n_tokens')} <= {TOP_TOKEN_MAX_MICROS}
         AS keep
FROM per_doc
"""

# ---------------------------------------------------------------------------
# 2b. Temperature-scaled language mixture (mT5-style alpha sampling)
# ---------------------------------------------------------------------------

def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling weights (the mT5 /
    XLM-R exponential-smoothing recipe, Xue et al. 2021 §3.1) at
    alpha = 1/2: the smoothed share of language l is
    sqrt(n_tokens_l) / sum_m sqrt(n_tokens_m), boosting low-resource
    languages relative to their raw token share, and the sampling
    boost q_l / p_l is what a mixture resampler multiplies each
    language's acceptance rate by.  alpha = 1/2 is the one
    temperature with an engine-exact path: s_l = floor(sqrt(n)) on
    integer token counts <= 2^52 is bit-identical everywhere (IEEE
    sqrt is correctly rounded and both engines floor the same
    double), after which every ratio is sketches.ratio_micros integer
    arithmetic — fractional alphas in general need pow(), whose
    cross-engine determinism we do not assume.  The boost is the
    algebraic rewrite q/p = (s_l x tot_tokens)/(sum_s x n_tokens) so
    no intermediate micro-ratio divides another (the
    domain_mixture_weights precedent).

    Scale: one map-side-combinable aggregate to language grain
    (bounded cardinality), then a broadcast of the 1-row totals —
    the corpus is scanned once and never shuffled at row grain.
    Numerator bound: s_l x tot_tokens < 2^63/2e6 holds to ~1e9-token
    corpora per the ratio_micros bound; larger corpora widen to
    DECIMAL, documented there."""
    return temperature_weights_from_counts(
        lang_token_counts(table(spark, sf_dir, "documents"))
    )


def lang_token_counts(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, n_tokens) of a documents-shaped frame — the
    count grain the temperature weights derive from.  Sum-mergeable:
    counts of disjoint batches add up to the counts of their union."""
    return (
        docs.select("lang", F.size(sk.words(F.col("text"))).alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


def temperature_weights_from_counts(per_lang: DataFrame) -> DataFrame:
    """The alpha = 1/2 weight arithmetic over a (lang, n_docs,
    n_tokens) relation, applied by the query above."""
    s_col = per_lang.withColumn(
        "s", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    )
    totals = s_col.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("s").alias("sum_s")
    )
    return s_col.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        "n_tokens",
        sk.ratio_micros("n_tokens", "tot_tokens").alias("share_micros"),
        sk.ratio_micros("s", "sum_s").alias("temp_share_micros"),
        sk.ratio_micros("s * tot_tokens", "sum_s * n_tokens").alias(
            "boost_micros"
        ),
    )


_TEMP_MIX_ORACLE = f"""
WITH per_lang AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len({sk.WORDS_SQL.format(c='text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
s AS (
  SELECT lang, n_docs, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s
  FROM per_lang
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         CAST(SUM(s) AS BIGINT) AS sum_s
  FROM s
)
SELECT lang, n_docs, n_tokens,
       {sk.ratio_micros_sql('n_tokens', 'tot_tokens')} AS share_micros,
       {sk.ratio_micros_sql('s', 'sum_s')} AS temp_share_micros,
       {sk.ratio_micros_sql('s * tot_tokens', 'sum_s * n_tokens')}
         AS boost_micros
FROM s CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# 3b. Gopher duplicate-n-gram character-fraction profile
# ---------------------------------------------------------------------------

# Gopher repetition thresholds (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", table
# A1): top-3-gram character fraction <= 0.18, duplicate-6-gram
# character fraction <= 0.14.  Fixed-point micro-units per the
# round-5 integer-boundary contract.
GOPHER_TOP_N = 3
GOPHER_DUP_N = 6
GOPHER_TOP_MAX_MICROS = 180_000
GOPHER_DUP_MAX_MICROS = 140_000


def _gopher_masses(d: DataFrame) -> DataFrame:
    """Per-doc character mass of repeated word n-grams, BOTH gram
    sizes in one pass: a single explode of (n, gram) tagged
    occurrences, one count per (doc, n, gram), one per-doc aggregate
    with conditional MAX (top-{GOPHER_TOP_N}-gram mass) and SUM over
    duplicated {GOPHER_DUP_N}-grams.  The tag keeps the two gram
    populations disjoint by key, so fusing them is value-identical
    to two separate passes (re-verified against the unchanged
    oracle) at half the scan/explode/shuffle cost.  Both
    aggregations are map-side combinable on uniform
    (doc_id, n, gram) keys — the skew profile of a per-document
    grouping, never a corpus-wide window."""
    tag = lambda col, n: F.transform(  # noqa: E731
        col, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.concat(
                tag(sk.word_ngrams_all(F.col("w"), GOPHER_TOP_N), GOPHER_TOP_N),
                tag(sk.word_ngrams_all(F.col("w"), GOPHER_DUP_N), GOPHER_DUP_N),
            )
        ).alias("t"),
    ).select("doc_id", F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    cnt = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    mass = F.col("c") * F.length("g")
    return cnt.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == GOPHER_TOP_N, mass))
        .cast("long")
        .alias("top_mass"),
        F.sum(
            F.when(
                (F.col("n") == GOPHER_DUP_N) & (F.col("c") > 1), mass
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dup_mass"),
    )


def gopher_dup_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screen on n-gram CHARACTER mass — the
    signal class quality_repetition_filter's single-token ratio cannot
    see (a document cycling a 6-word boilerplate block has a low
    top-token share but a huge duplicate-n-gram mass).  Per document:
    the character fraction of the most frequent {GOPHER_TOP_N}-gram
    (count x gram length over total token-stream characters) and the
    character fraction of all duplicated {GOPHER_DUP_N}-grams, both as
    BIGINT micros capped at 1_000_000 (overlapping occurrences can
    push raw mass past the total — the cap is part of the documented
    contract; Gopher's non-double-counted coverage needs per-position
    interval union, which buys nothing at the filter thresholds), plus
    the keep flag at the Gopher table-A1 thresholds.

    Scale: ONE explode+count pass over (n, gram)-tagged occurrences
    for both gram sizes (see _gopher_masses — fused from two passes,
    value-identity re-verified), aggregated per (doc_id, n, gram)
    then per doc_id — map-side combinable, no corpus-wide key ever
    groups more than one document's rows, so a hot boilerplate gram
    never concentrates (the span family's round-9 skew lesson applied
    from birth).  Docs shorter than n words contribute no gram rows
    and re-enter via the left join with mass 0."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", sk.words(F.col("text")).alias("w")
    )
    base = d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.greatest(
            F.length(F.array_join("w", " ")).cast("long"), F.lit(1)
        ).alias("total_chars"),
    )
    joined = base.join(_gopher_masses(d), "doc_id", "left").fillna(
        {"top_mass": 0, "dup_mass": 0}
    )
    top_micros = F.least(
        F.lit(1_000_000).cast("long"),
        sk.ratio_micros("top_mass", "total_chars"),
    )
    dup_micros = F.least(
        F.lit(1_000_000).cast("long"),
        sk.ratio_micros("dup_mass", "total_chars"),
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        top_micros.alias("top3_char_micros"),
        dup_micros.alias("dup6_char_micros"),
        (
            (top_micros <= GOPHER_TOP_MAX_MICROS)
            & (dup_micros <= GOPHER_DUP_MAX_MICROS)
        ).alias("keep"),
    )


_GOPHER_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {sk.WORDS_SQL.format(c='text')} AS w FROM documents
),
base AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         GREATEST(CAST(length(array_to_string(w, ' ')) AS BIGINT), 1)
           AS total_chars
  FROM d
),
c3 AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({sk.word_ngrams_all_sql('w', GOPHER_TOP_N)}) AS g FROM d)
  GROUP BY 1, 2
),
a3 AS (
  SELECT doc_id, CAST(MAX(c * length(g)) AS BIGINT) AS top_mass
  FROM c3 GROUP BY 1
),
c6 AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({sk.word_ngrams_all_sql('w', GOPHER_DUP_N)}) AS g FROM d)
  GROUP BY 1, 2
),
a6 AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS BIGINT)
           AS dup_mass
  FROM c6 GROUP BY 1
),
j AS (
  SELECT base.doc_id, base.n_tokens, base.total_chars,
         COALESCE(a3.top_mass, 0) AS top_mass,
         COALESCE(a6.dup_mass, 0) AS dup_mass
  FROM base LEFT JOIN a3 USING (doc_id) LEFT JOIN a6 USING (doc_id)
)
SELECT doc_id, n_tokens,
       LEAST(1000000, {sk.ratio_micros_sql('top_mass', 'total_chars')})
         AS top3_char_micros,
       LEAST(1000000, {sk.ratio_micros_sql('dup_mass', 'total_chars')})
         AS dup6_char_micros,
       (LEAST(1000000, {sk.ratio_micros_sql('top_mass', 'total_chars')})
          <= {GOPHER_TOP_MAX_MICROS}
        AND LEAST(1000000, {sk.ratio_micros_sql('dup_mass', 'total_chars')})
          <= {GOPHER_DUP_MAX_MICROS}) AS keep
FROM j
"""

# ---------------------------------------------------------------------------
# 3c. Composite quality verdict (FineWeb-style rule stack)
# ---------------------------------------------------------------------------

MIN_DOC_TOKENS = 20       # Gopher-style length gate (prod: 50)
MAX_DOC_TOKENS = 100_000


def quality_composite_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed quality VERDICT a curation pipeline actually
    ships (the FineWeb/Gopher rule-stack shape): one row per document
    with each rule's keep flag — token-repetition
    (quality_repetition_filter), duplicate-n-gram mass
    (gopher_dup_ngram_profile), length bounds, corpus-LM known-bigram
    score (lm_known_bigram_score) — and the conjunction, so a reader
    can attribute every drop to the rule that caused it.  The
    component relations are the REGISTERED operators called verbatim
    (their driver greens certify the pieces; this query certifies the
    composition): gopher covers every document and anchors the join;
    repetition/LM rows are absent only for token-free or bigram-free
    documents, which read as rule failures through COALESCE(false).

    Scale: the components are map-side aggregates joined back on
    doc_id — three hash joins on the uniform doc_id key, AQE-handled;
    nothing here adds a corpus-wide key to what the components
    already do."""
    from chain_sync_spark.operators.corpus_ops import lm_known_bigram_score

    gop = gopher_dup_ngram_profile(spark, sf_dir).select(
        "doc_id", "n_tokens", F.col("keep").alias("keep_gopher")
    )
    rep = quality_repetition_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_repetition")
    )
    lm = lm_known_bigram_score(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_lm")
    )
    j = (
        gop.join(rep, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("keep_repetition", F.lit(False)).alias("keep_repetition"),
            "keep_gopher",
            F.col("n_tokens").between(MIN_DOC_TOKENS, MAX_DOC_TOKENS).alias(
                "keep_length"
            ),
            F.coalesce("keep_lm", F.lit(False)).alias("keep_lm"),
        )
    )
    return j.withColumn(
        "keep",
        F.col("keep_repetition")
        & F.col("keep_gopher")
        & F.col("keep_length")
        & F.col("keep_lm"),
    )


def _composite_oracle() -> str:
    from chain_sync_spark.operators.corpus_ops import _LM_SCORE_ORACLE

    return f"""
SELECT doc_id, n_tokens, keep_repetition, keep_gopher, keep_length,
       keep_lm,
       (keep_repetition AND keep_gopher AND keep_length AND keep_lm)
         AS keep
FROM (
  SELECT g.doc_id, g.n_tokens,
         COALESCE(r.keep, FALSE) AS keep_repetition,
         g.keep AS keep_gopher,
         g.n_tokens BETWEEN {MIN_DOC_TOKENS} AND {MAX_DOC_TOKENS}
           AS keep_length,
         COALESCE(l.keep, FALSE) AS keep_lm
  FROM ({_GOPHER_ORACLE}) g
  LEFT JOIN ({_QUALITY_REP_ORACLE}) r USING (doc_id)
  LEFT JOIN ({_LM_SCORE_ORACLE}) l USING (doc_id)
)
"""


# ---------------------------------------------------------------------------
# 3d. Dedup + quality funnel report
# ---------------------------------------------------------------------------

def dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-dashboard FUNNEL: how many documents survive each
    pipeline stage in sequence — total → exact dedup (keep-first per
    normalized-text hash) → near-dup canonicalization (drop MinHash
    cluster members that are not their cluster's quality-chosen
    canonical) → composite quality verdict.  Output is one row per
    stage (stage_id, stage, n_docs, n_dropped) — four rows however
    large the corpus, the shape an operator actually monitors.  The
    stage relations are the REGISTERED operators called verbatim
    (dedup_exact_documents, neardup_clusters /
    neardup_cluster_canonical, quality_composite_filter's rule
    stack): their driver greens certify the stage semantics; this
    query certifies the sequential set algebra.

    A cluster's canonical can itself be an exact-dedup casualty (an
    identical-text group is also a near-dup cluster, and the
    quality tie-break may pick a non-minimal doc_id); the funnel is
    defined as SEQUENTIAL filters, so such a cluster loses all its
    members at stage 3 — deterministic, documented, and exactly what
    "apply these filters in order" means.

    Scale: each stage is a semi/anti join on the uniform doc_id key
    against relations the components already compute.  The four
    counts run as SEQUENTIAL actions over scoped-persisted
    survivor-id relations (doc_id only — KBs at any corpus size) and
    the 4-row report is rebuilt driver-side: a lazy union of count
    branches re-ran the minhash chain once per downstream counter
    (in-job branches race the cache before it materializes —
    measured 15-19 s at sf0.1), while sequential actions pin each
    cache before the next stage reads it.  The driver state is four
    longs — the bounded-collect budget kmeans' K-row centroid loop
    set.  Wall-clock is, by construction, ~the SUM of the component
    pipelines (clusters' connected-components loop runs its
    iterations at plan-build time, ~6 s of the ~15 s sf0.1 total);
    each component is individually benched, so the funnel stays out
    of the per-round bench set (the exact-profile precedent,
    VERDICT r6 item 4) — it is an end-to-end audit you run per
    curation release, not per trigger."""
    from chain_sync_spark.operators.llm_pipeline import (
        _scoped_persist,
        dedup_exact_documents,
        neardup_clusters,
        release_caches,
    )

    from chain_sync_spark.operators.llm_pipeline import text_quality_score

    # build every component plan BEFORE taking our persists: the
    # minhash chain inside neardup_clusters calls release_caches()
    # at build time, which would pop a persist taken earlier
    s1 = table(spark, sf_dir, "documents").select("doc_id")
    exact = dedup_exact_documents(spark, sf_dir).select("doc_id")
    # non-canonical members computed from ONE clusters relation:
    # rank > 1 under neardup_cluster_canonical's exact ordering
    # (quality desc, doc_id) — calling the canonical operator here
    # would re-run the whole minhash+connected-components chain a
    # second time (~6 s of the funnel's cost at sf0.1, measured).
    # The complement-of-canonical invariant is pytest-pinned against
    # the component's own output at sf0.001.
    clusters = neardup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = text_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    # rank > 1 as members MINUS the keep-first winner (r11 hardening:
    # the rank window pinned a corpus-sized boilerplate cluster in
    # one task; the MIN(struct) winner is map-side combinable and
    # the complement is a hash anti-join on doc_id)
    from chain_sync_spark.operators.skew import keep_first_by_key

    members = clusters.join(quality, "doc_id").withColumn(
        "negq", -F.col("quality_score")
    )
    winners = keep_first_by_key(
        members, ["cluster_id"], ["negq", "doc_id"]
    ).select("doc_id")
    noncanon = members.select("doc_id").join(winners, "doc_id", "left_anti")
    keepq = (
        quality_composite_filter(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    # no release here: the minhash build above already dropped the
    # previous query's scope, and the cluster chain's own edge
    # persist (consumed iteratively by connected components) must
    # stay pinned — our persists stack on top and the final
    # release_caches() drops everything together
    s2 = _scoped_persist(exact)
    s3 = _scoped_persist(s2.join(noncanon, "doc_id", "left_anti"))
    s4 = s3.join(keepq, "doc_id", "left_semi")
    ns = [
        s1.count(),  # materializes nothing extra
        s2.count(),  # pins the exact-survivor cache
        s3.count(),  # reads cached s2, pins the near-dup-survivor cache
        s4.count(),  # reads cached s3
    ]
    release_caches()
    labels = ["total", "exact_dedup", "neardup_canonical", "quality"]
    rows = [
        (i + 1, lab, n, 0 if i == 0 else ns[i - 1] - n)
        for i, (lab, n) in enumerate(zip(labels, ns))
    ]
    return spark.createDataFrame(
        rows, "stage_id int, stage string, n_docs long, n_dropped long"
    )


def _funnel_oracle() -> str:
    from chain_sync_spark.operators.llm_pipeline import (
        _clusters_oracle,
        _DEDUP_EXACT_SQL,
    )

    return f"""
WITH s2 AS (SELECT doc_id FROM ({_DEDUP_EXACT_SQL}) x),
noncanon AS (
  SELECT doc_id FROM ({_clusters_oracle()}) c
  WHERE doc_id NOT IN (
    SELECT canonical_doc FROM ({_canonical_oracle()}) k
  )
),
s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM noncanon)),
s4 AS (
  SELECT doc_id FROM s3
  WHERE doc_id IN (
    SELECT doc_id FROM ({_composite_oracle()}) q WHERE q.keep
  )
),
counts AS (
  SELECT 1 AS stage_id, 'total' AS stage, COUNT(*) AS n_docs FROM documents
  UNION ALL
  SELECT 2, 'exact_dedup', COUNT(*) FROM s2
  UNION ALL
  SELECT 3, 'neardup_canonical', COUNT(*) FROM s3
  UNION ALL
  SELECT 4, 'quality', COUNT(*) FROM s4
)
SELECT CAST(stage_id AS INT) AS stage_id, stage, n_docs,
       COALESCE(LAG(n_docs) OVER (ORDER BY stage_id) - n_docs, 0)
         AS n_dropped
FROM counts
"""


# ---------------------------------------------------------------------------
# 3e. Inter-document n-gram novelty
# ---------------------------------------------------------------------------

NOVELTY_N = 8  # shingle width — the span family's SD_N grain


def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document novelty: the fraction of a document's distinct
    {NOVELTY_N}-gram shingles that appear in NO other document — the
    memorization/duplication-risk metric train-set analyses report
    (a doc of df=1 shingles is unique prose; a doc of high-df
    shingles is assembled from corpus boilerplate).  Distinct from
    the intra-doc repetition screens (gopher/top-token), the
    eval-set contamination screen, and the span family (which marks
    and cuts exact spans): this is the per-document corpus-grain
    SUMMARY of shared n-gram mass.  Output (doc_id, n_shingles,
    n_novel, novelty_micros) over docs with >= 1 shingle, integer
    micros.

    Scale: per-doc distinct shingles (map pass) → document frequency
    via skew.attach_group_count — a map-side-combinable groupBy on
    the shingle hash joined back, the round-10 hardening primitive,
    so a boilerplate shingle costs one row per task in the count
    shuffle and the join-back is AQE skew-splittable; never a window
    over the raw hash.  Per-doc aggregate map-side combines."""
    from chain_sync_spark.operators.corpus_ops import _docs_words
    from chain_sync_spark.operators.skew import attach_group_count

    d = _docs_words(spark, sf_dir)
    sh = d.select(
        "doc_id",
        F.explode(sk.word_shingles(F.col("w"), NOVELTY_N)).alias("g"),
    ).select("doc_id", sk.hash60(F.concat(F.lit("nv:"), F.col("g"))).alias("h"))
    per_doc = (
        attach_group_count(sh, ["h"], "df")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        sk.ratio_micros("n_novel", "n_shingles").alias("novelty_micros"),
    )


def _novelty_oracle() -> str:
    from chain_sync_spark.operators.corpus_ops import _NORM_CTE

    return f"""
WITH {_NORM_CTE},
sh AS (
  SELECT doc_id, {sk.hash60_sql("'nv:' || g")} AS h
  FROM (
    SELECT doc_id, unnest({sk.word_shingles_sql('w', NOVELTY_N)}) AS g
    FROM docs_words
  )
),
df AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h),
per_doc AS (
  SELECT sh.doc_id, COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM sh JOIN df USING (h)
  GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_novel,
       {sk.ratio_micros_sql('n_novel', 'n_shingles')} AS novelty_micros
FROM per_doc
"""


# ---------------------------------------------------------------------------
# 3f. Windowless exact percentile rank (CDF join)
# ---------------------------------------------------------------------------

def length_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENT_RANK of each document's token length within its
    language — WITHOUT a corpus-wide window: per-(lang, length)
    counts (bounded by distinct lengths), a running-sum CDF over
    that small relation, and a join back on (lang, length).
    percent_rank = (#strictly shorter) / (n_lang - 1), identical to
    SQL PERCENT_RANK with RANK-tie semantics, emitted as integer
    micros (den floored at 1 for single-doc languages).  Output
    (doc_id, lang, n_tokens, pct_rank_micros).

    Scale: `PERCENT_RANK() OVER (PARTITION BY lang ORDER BY len)` is
    the textbook form and the textbook trap — 5 languages = 5
    unsplittable window tasks sorting the whole corpus.  The CDF
    form's only window runs over the DISTINCT-LENGTH relation
    (thousands of rows at any corpus size); the corpus-sized side
    sees one map-side-combinable count and one AQE-broadcastable
    join.  This is the windowless-rank pattern scaled analytics
    engines (e.g. BigQuery/Presto approx variants) make you hand

    build; here it is exact."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(sk.words(F.col("text"))).cast("long").alias("n_tokens")
    )
    per_len = d.groupBy("lang", "n_tokens").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cdf = (
        Window.partitionBy("lang")
        .orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = per_len.select(
        "lang",
        "n_tokens",
        (F.sum("cnt").over(w_cdf) - F.col("cnt")).alias("n_smaller"),
    )
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        d.join(cdf, ["lang", "n_tokens"])
        .join(F.broadcast(totals), "lang")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            sk.ratio_micros("n_smaller", "GREATEST(n_lang - 1, 1)").alias(
                "pct_rank_micros"
            ),
        )
    )


_PCT_RANK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang,
         CAST(len({sk.WORDS_SQL.format(c='text')}) AS BIGINT) AS n_tokens
  FROM documents
),
per_len AS (
  SELECT lang, n_tokens, COUNT(*) AS cnt FROM d GROUP BY 1, 2
),
cdf AS (
  SELECT lang, n_tokens,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY n_tokens
                        ROWS UNBOUNDED PRECEDING) - cnt AS n_smaller
  FROM per_len
),
tot AS (SELECT lang, COUNT(*) AS n_lang FROM d GROUP BY 1)
SELECT d.doc_id, d.lang, d.n_tokens,
       {sk.ratio_micros_sql('n_smaller', 'GREATEST(n_lang - 1, 1)')}
         AS pct_rank_micros
FROM d JOIN cdf USING (lang, n_tokens) JOIN tot USING (lang)
"""


# ---------------------------------------------------------------------------
# 4. Benchmark-contamination screen
# ---------------------------------------------------------------------------

EVAL_DOCS_BELOW = 5       # doc_id < 5 form the frozen "benchmark" set
CONTAM_MIN_OVERLAP = 10   # shared shingles to flag a training doc


def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: word-3-gram shingles of a
    frozen eval set (here: doc_id < {EVAL_DOCS_BELOW}) are matched
    against every candidate training document; documents sharing >=
    {CONTAM_MIN_OVERLAP} shingles with the eval set are flagged. The
    standard n-gram-overlap decontamination step before training.

    Scale: the eval shingle set is bounded and BROADCAST; the corpus
    is exploded to (doc, shingle) and semi-joined — one pass over the
    corpus, no corpus self-join. distinct shingles per doc keep the
    overlap a set size, not a bag count."""
    # word_shingles binds its input internally since the round-5
    # migration (sketches.py) — the computed tokenize expression
    # evaluates once per row, not once per shingle element.
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        sk.word_shingles(sk.words(sk.normalize_text(F.col("text")))).alias("sh"),
    )
    posting = d.select("doc_id", F.explode("sh").alias("g"))
    eval_set = (
        posting.filter(F.col("doc_id") < EVAL_DOCS_BELOW).select("g").distinct()
    )
    train = posting.filter(F.col("doc_id") >= EVAL_DOCS_BELOW)
    return (
        train.join(F.broadcast(eval_set), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= CONTAM_MIN_OVERLAP)
        .withColumn("contaminated", F.lit(True))
    )


_NORM_SQL = sk.NORMALIZE_SQL.format(c="text")
_CONTAM_ORACLE = f"""
WITH shingled AS (
  SELECT doc_id,
         {sk.word_shingles_sql(sk.WORDS_SQL.format(c=_NORM_SQL))} AS sh
  FROM documents
),
posting AS (
  SELECT doc_id, unnest(sh) AS g FROM shingled
),
eval_set AS (
  SELECT DISTINCT g FROM posting WHERE doc_id < {EVAL_DOCS_BELOW}
)
SELECT doc_id, COUNT(*) AS n_overlap, TRUE AS contaminated
FROM posting
WHERE doc_id >= {EVAL_DOCS_BELOW} AND g IN (SELECT g FROM eval_set)
GROUP BY doc_id
HAVING COUNT(*) >= {CONTAM_MIN_OVERLAP}
"""

# ---------------------------------------------------------------------------
# 5. Domain mixture weighting
# ---------------------------------------------------------------------------


def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: per-source token counts, corpus share, and the
    sampling weight that re-balances every source to a uniform target
    mixture (weight = target_share / actual_share) — the knob a
    training pipeline turns to up/down-weight domains.

    Output contract (round 5): both shares are BIGINT micro-units from
    pure integer arithmetic (sketches.ratio_micros).  actual_share =
    n_tokens/tot_tokens; sampling_weight = (1/n_sources)/share =
    tot_tokens/(n_sources·n_tokens) — the algebraic rewrite keeps the
    whole computation in integers (VERDICT r4 item 1).

    Scale: one hash aggregation to source grain (bounded cardinality),
    then shares via a broadcast join against the 1-row corpus total —
    the full corpus is scanned once, never shuffled at row grain."""
    d = table(spark, sf_dir, "documents").select(
        "source", F.size(sk.words(F.col("text"))).alias("n_tok")
    )
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.count(F.lit(1)).alias("n_sources")
    )
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        sk.ratio_micros("n_tokens", "tot_tokens").alias("share_micros"),
        sk.ratio_micros("tot_tokens", "n_sources * n_tokens").alias(
            "weight_micros"
        ),
    )


_MIXTURE_ORACLE = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({sk.WORDS_SQL.format(c='text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         COUNT(*) AS n_sources
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       {sk.ratio_micros_sql('n_tokens', 'tot_tokens')} AS share_micros,
       {sk.ratio_micros_sql('tot_tokens', 'n_sources * n_tokens')}
         AS weight_micros
FROM per_src, tot
"""


# ---------------------------------------------------------------------------
# 6. Context-window sequence packing
# ---------------------------------------------------------------------------

PACK_BUDGET = 512   # tokens per packed training sequence
PACK_SHARDS = 8     # independent packing shards (parallelism unit)


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign documents to fixed-budget
    training sequences by running token count — the step that turns a
    deduped corpus into model-ready samples. Sequential (greedy
    in-order) packing: within a shard, docs are concatenated in
    doc_id order and a new sequence starts whenever the running total
    crosses the {PACK_BUDGET}-token budget; documents never split.

    Scale: packing is per-SHARD (hash of doc_id, {PACK_SHARDS} here,
    thousands in production) so the running-total window parallelizes
    — a single global packing order would serialize the corpus
    through one task. Shards pack independently, which is exactly how
    production packers shard too; sequence ids are (shard, seq_in_
    shard) so they never collide."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(sk.words(F.col("text"))).alias("n_tok")
    )
    shard = F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).cast("int")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        d.withColumn("shard", shard)
        .withColumn("cum_tok", F.sum("n_tok").over(w))
        # sequence index = budget-bins of the tokens BEFORE this doc
        .withColumn(
            "seq_in_shard",
            F.floor((F.col("cum_tok") - F.col("n_tok")) / PACK_BUDGET).cast("int"),
        )
    )
    return packed.select(
        "doc_id",
        "n_tok",
        "shard",
        "seq_in_shard",
        (F.col("cum_tok") - F.col("n_tok")
         - F.col("seq_in_shard") * PACK_BUDGET).cast("int").alias("offset_in_seq"),
    )


_PACK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, len({sk.WORDS_SQL.format(c='text')}) AS n_tok,
         CAST(doc_id % {PACK_SHARDS} AS INT) AS shard
  FROM documents
),
packed AS (
  SELECT doc_id, n_tok, shard,
         SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM d
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tok, shard,
       CAST(FLOOR((cum_tok - n_tok) / {PACK_BUDGET}) AS INT) AS seq_in_shard,
       CAST(cum_tok - n_tok
            - FLOOR((cum_tok - n_tok) / {PACK_BUDGET}) * {PACK_BUDGET} AS INT)
         AS offset_in_seq
FROM packed
"""


# ---------------------------------------------------------------------------
# 7. Embedding-cosine near-dup dedup (semantic dedup)
# ---------------------------------------------------------------------------

SEMANTIC_MIN_COS = 0.2  # near-dup threshold on 4-dp-rounded cosine


def dedup_embedding_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP: drop every vector that
    has a candidate near-duplicate (cosine ≥ {SEMANTIC_MIN_COS}) with
    a smaller vec_id; survivors are the semantically-deduped corpus.
    Candidates come from MULTI-PROBE random-hyperplane LSH — the same
    Hamming-1 probe fan-out as embedding_ann_multiprobe (each vector
    probes its home bucket plus every single-bit-flip neighbor), so a
    near-dup pair landing one sign bit apart is still caught; no
    all-pairs product forms.

    Greedy min-id rule (drop b for every near-dup pair a<b) rather
    than connected-components canonicalization: one pass, no
    iteration; neardup_clusters covers the transitive variant for
    text. The threshold compares the 4-dp-rounded cosine so the
    boundary decision is engine-independent.

    Scale: the probe join is a (planes+1)x fan-out equi-join on
    uniform hash keys — O(N·collisions), probe depth is the
    recall/cost dial; the dropped set is tiny relative to the corpus,
    so the final anti-join broadcasts its build side under AQE.
    """
    from chain_sync_spark.operators.llm_pipeline import LSH_PLANES, lsh_bucket

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", sk.vec_double(F.col("embedding")).alias("e")
    )
    # nrm rides through the shuffle exchange (computed once per row at
    # shuffle write), so the per-candidate work is the dot + a division
    bucketed = emb.withColumn("bucket", lsh_bucket("e")).withColumn(
        "nrm", sk.l2norm(F.col("e"))
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << h)) for h in range(LSH_PLANES)],
    )
    a = bucketed.withColumn("probe", F.explode(probes)).alias("a")
    b = bucketed.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            F.round(
                sk.cos_prenorm(
                    F.col("a.e"), F.col("b.e"), F.col("a.nrm"), F.col("b.nrm")
                ),
                4,
            )
            >= SEMANTIC_MIN_COS
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        bucketed.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "label")
    )


def _semantic_dedup_oracle() -> str:
    from chain_sync_spark.operators.llm_pipeline import HYPERPLANES, LSH_PLANES

    bits = " + ".join(
        f"CASE WHEN {sk.dot_sql('embedding', f'({HYPERPLANES[h]}::DOUBLE[])')} > 0"
        f" THEN {1 << h} ELSE 0 END"
        for h in range(LSH_PLANES)
    )
    return f"""
WITH bucketed AS (
  SELECT vec_id, label, embedding, {bits} AS bucket FROM embeddings
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM bucketed a JOIN bucketed b
    ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
  WHERE round({sk.cosine_sql('a.embedding', 'b.embedding')}, 4) >= {SEMANTIC_MIN_COS}
)
SELECT e.vec_id, e.label FROM bucketed e
ANTI JOIN dropped d ON e.vec_id = d.vec_id
"""


# ---------------------------------------------------------------------------
# 8. Quality-aware canonical pick per near-dup cluster
# ---------------------------------------------------------------------------

def neardup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization: for each MinHash near-dup
    cluster (neardup_clusters), keep the HIGHEST-QUALITY member
    (text_quality_score composite; doc_id breaks ties) — what a real
    pipeline ships instead of min-id, which can keep the worst copy.

    Scale: clusters ⋈ quality is a join on doc_id restricted to
    cluster members (a tiny fraction of the corpus), then a
    keep-first MIN(struct) aggregate per cluster (r11 hardening:
    a boilerplate dup-cluster is corpus-sized, so the per-cluster
    top-1 window this replaced would pin its whole member list in
    one task; the aggregate is map-side combinable — quality DESC
    encoded by negation, score is non-null by construction).
    """
    from chain_sync_spark.operators.llm_pipeline import (
        neardup_clusters,
        text_quality_score,
    )
    from chain_sync_spark.operators.skew import keep_first_by_key

    clusters = neardup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    quality = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    members = clusters.join(quality, "doc_id").withColumn(
        "negq", -F.col("quality_score")
    )
    return keep_first_by_key(
        members, ["cluster_id"], ["negq", "doc_id"]
    ).select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc"),
        "cluster_size",
        F.col("quality_score").alias("best_quality"),
    )


def _canonical_oracle() -> str:
    from chain_sync_spark.operators.llm_pipeline import (
        _clusters_oracle,
        _QUALITY_ORACLE,
    )

    return f"""
WITH clus AS (SELECT * FROM ({_clusters_oracle()}) c),
qual AS (SELECT * FROM ({_QUALITY_ORACLE}) q0)
SELECT cluster_id, doc_id AS canonical_doc, cluster_size, quality_score AS best_quality
FROM (
  SELECT clus.cluster_id, clus.doc_id, clus.cluster_size, qual.quality_score,
         ROW_NUMBER() OVER (PARTITION BY clus.cluster_id
                            ORDER BY qual.quality_score DESC, clus.doc_id) AS rk
  FROM clus JOIN qual ON clus.doc_id = qual.doc_id
)
WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# 9. Duplicated token-span audit
# ---------------------------------------------------------------------------

SD_N = 8  # tokens per shingle; a merged span is a maximal duplicated run


def _shingle_pos(d: DataFrame) -> DataFrame:
    """(doc_id, pos, h): one row per {SD_N}-token shingle position of
    a (doc_id, text) relation.  Hash-hoisted via bind1 (the token
    array binds once per row, so the per-position slice never
    re-evaluates the tokenizer); sequence(1, 0) is DESCENDING in
    Spark (the _word_chars trap), so docs shorter than one shingle
    take the explicit empty branch.

    ``h`` is ENGINE-INTERNAL: no span query outputs a hash, so this
    uses native xxhash64 (whole-stage codegen) instead of the
    cross-engine md5-based hash60 the oracles use in their own CTEs
    — measured ~20% off the span family's wall clock at sf0.1, and
    at 100 TB the md5-hex path would be the dominant map-side CPU.
    Both engines mark duplicates through their own hash of the SAME
    shingle string, so outputs agree exactly short of a 64-bit
    collision (~n²/2⁶⁴; value-hash parity re-verified at sf0.001 and
    sf0.01 after the switch)."""
    sh_arr = sk.bind1(
        sk.words(sk.normalize_text(F.col("text"))),
        lambda w: F.when(
            F.size(w) < F.lit(SD_N), F.array().cast("array<bigint>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - F.lit(SD_N - 1)),
                lambda i: F.xxhash64(
                    F.concat(
                        F.lit("sd:"), F.concat_ws(" ", F.slice(w, i, SD_N))
                    )
                ),
            )
        ),
    )
    return d.select("doc_id", F.posexplode(sh_arr).alias("pos", "h"))


def _rebuild_after_cut(d: DataFrame, cut_hits: DataFrame) -> DataFrame:
    """Rewrite step shared by the cut operators: expand each cut
    shingle hit into its {SD_N} covered token positions (bounded 8x
    the hit count — duplicated text only), anti-join the token
    stream, and rebuild (doc_id, n_tokens, cut_tokens, kept_md5) with
    the kept stream fingerprinted in position order.

    n_tokens is DERIVED, not re-tokenized: every covered position is
    a real token position (a cut shingle starts at pos <= n - SD_N,
    so pos..pos+SD_N-1 stay in range) and covered is distinct, so
    n_tokens = kept_tokens + |covered per doc| exactly — which
    removes a whole corpus tokenization pass the old per-doc
    size(words()) spine cost (value-identity re-verified).  The doc
    spine joins from the raw (doc_id) projection so token-less and
    fully-cut documents still emit their zero rows."""
    toks = d.select(
        "doc_id",
        F.posexplode(sk.words(sk.normalize_text(F.col("text")))).alias(
            "pos", "word"
        ),
    )
    # not pinned: on query_mix, persisting it ran 2 more jobs and was no faster
    covered = cut_hits.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(SD_N - 1))
        ).alias("pos"),
    ).distinct()
    cut_per_doc = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("cut_tokens")
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
            )
        ).alias("kept_md5"),
    )
    kept_n = F.coalesce("kept_tokens", F.lit(0).cast("long"))
    cut_n = F.coalesce("cut_tokens", F.lit(0).cast("long"))
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(cut_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            # INT like the old size(words()) spine (the oracles CAST
            # AS INT); the sum itself is exact in long first
            (kept_n + cut_n).cast("int").alias("n_tokens"),
            cut_n.alias("cut_tokens"),
            # a fully-cut (or token-less) doc keeps the empty stream:
            # md5('') on both engines (DuckDB string_agg over zero
            # rows is NULL — the oracles COALESCE to '' to match)
            F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
        )
    )


def dedup_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-SPAN audit — the token-level analog of
    exact substring deduplication (public: Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"):
    every {SD_N}-token shingle that occurs more than once ANYWHERE in
    the corpus (across documents or repeated within one) marks its
    token interval as duplicated, and overlapping/adjacent marked
    intervals merge into maximal spans per document — the spans a
    dedup pass would cut, where the existing dedup family only scores
    whole documents (exact/minhash) or pairs (jaccard).  Output per
    document: (doc_id, n_tokens, n_spans, dup_tokens, dup_micros) —
    integer-only (dup_micros per the ratio contract; 0 for token-less
    docs).

    Scale: narrow map passes build per-position shingle hashes
    (hash-hoisted via bind1 — the token array binds once per row, so
    the per-position slice never re-evaluates the tokenizer); the
    duplicate set is ONE hash aggregate keyed on the shingle hash
    (map-side combined, one row per distinct shingle shuffled); the
    hit join is hash-keyed; span merging is a per-document window
    (partitioned, never global).  No self-join, no all-pairs — the
    suffix-array construction the paper uses single-node is replaced
    by the shuffle-friendly shingle-hash form."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    pos = _shingle_pos(d)
    # Duplicate marking is groupBy(h) + semi-join-back, NOT a
    # count-over-h window: a window pins a hot shingle's ENTIRE
    # occurrence list (a 100 TB boilerplate header occurs millions of
    # times) in one task with no skew mitigation, while the aggregate
    # is map-side combined to one row per distinct h and the join
    # gets AQE skew-split (small dup sets broadcast outright — the
    # measured sf plan — so the probe side never shuffles at all).
    # The price is a second tokenize+hash pass for the aggregate side
    # (measured ~1.6x the window form's wall clock at sf0.1, mostly
    # recovered by the xxhash64 switch in _shingle_pos): embarrass-
    # ingly parallel map CPU traded for removing the one unsplittable
    # straggler at scale. (Hardened from the window form in round 9 —
    # value-identity re-verified against the unchanged oracle; the
    # A/B is recorded in BENCH.md.)
    # r14 re-audit (VERDICT r13 item 4): sharing the shingle pass
    # through ONE explicit repartition("h") exchange (guide §2.4) was
    # implemented and REJECTED on plan evidence
    # (plans/r14/experiments/): ColumnPruning pushes a Project[h]
    # below the aggregate side's copy of the exchange while the probe
    # side keeps (doc_id, pos, h), so the two exchanges never
    # canonicalize equal (no ReusedExchange), and
    # PushDownLeftSemiAntiJoin hoists the probe-side repartition
    # ABOVE the semi join where it is immediately re-shuffled by
    # doc_id — net effect is two ADDED exchanges plus a lost map-side
    # combine, strictly worse than the recompute.  The only true
    # sharing mechanisms Spark has are cache/checkpoint, i.e. the
    # corpus-sized pin this docstring already rejects.
    dup_h = (
        pos.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    hits = pos.join(dup_h, "h", "left_semi").select("doc_id", "pos")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "new_span",
        F.when(
            F.col("pos") - F.lag("pos").over(wdoc) <= F.lit(SD_N), F.lit(0)
        ).otherwise(F.lit(1)),
    )
    spans = (
        flagged.withColumn("sid", F.sum("new_span").over(wdoc))
        .groupBy("doc_id", "sid")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(SD_N - 1)).alias("e"),
        )
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + F.lit(1)).alias("dup_tokens"),
    )
    base = d.select(
        "doc_id",
        F.size(sk.words(sk.normalize_text(F.col("text")))).alias("n_tokens"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0).cast("long")).alias(
                "dup_tokens"
            ),
        )
        .withColumn(
            "dup_micros",
            F.when(F.col("n_tokens") == 0, F.lit(0).cast("long")).otherwise(
                sk.ratio_micros("dup_tokens", "n_tokens")
            ),
        )
    )


_SPAN_ORACLE = f"""
WITH dw AS (
  SELECT doc_id, {sk.WORDS_SQL.format(c=_NORM_SQL)} AS w FROM documents
),
sh AS (
  SELECT doc_id, u.i - 1 AS pos,
         {sk.hash60_sql(f"'sd:' || array_to_string(w[u.i : u.i + {SD_N - 1}], ' ')")} AS h
  FROM dw, UNNEST(range(1, GREATEST(len(w) - {SD_N - 1}, 0) + 1)) AS u(i)
),
hits AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS c FROM sh
  ) WHERE c > 1
),
flag AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {SD_N} THEN 0 ELSE 1 END AS f
  FROM hits
),
sp AS (
  SELECT doc_id, pos,
         SUM(f) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
  FROM flag
),
spans AS (
  SELECT doc_id, sid, MIN(pos) AS s, MAX(pos) + {SD_N - 1} AS e
  FROM sp GROUP BY doc_id, sid
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id, CAST(len(d.w) AS INT) AS n_tokens,
       COALESCE(p.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       COALESCE(p.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
       CASE WHEN len(d.w) = 0 THEN CAST(0 AS BIGINT)
            ELSE {sk.ratio_micros_sql("COALESCE(p.dup_tokens, 0)", "len(d.w)")}
       END AS dup_micros
FROM dw d LEFT JOIN per_doc p USING (doc_id)
"""


def dedup_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION half of the span audit — the keep-first cut of
    exact substring deduplication (Lee et al. 2021): for every
    duplicated {SD_N}-token shingle, the globally FIRST occurrence
    (minimal (doc_id, pos)) keeps its text; every other occurrence's
    token interval is cut from its document.  Output per document:
    (doc_id, n_tokens, cut_tokens, kept_md5) — the md5 of the kept
    token stream is the rewritten document's fingerprint, so the
    result row stays narrow while still pinning the exact rewritten
    content cross-engine.

    Scale: the shingle pass and h-keyed shuffle are shared shape with
    dedup_token_spans; the keep-first rule is ONE map-side-combinable
    aggregate (count + min over an integer (doc_id, pos) code) joined
    back on the same exchange; covered positions explode each cut
    shingle into {SD_N} rows (bounded 8x the hit count, duplicated
    text only); the final rebuild is one per-document anti-join +
    ordered aggregate."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # occurrence code: doc_id * 2^20 + pos — an integer total order on
    # (doc_id, pos) both engines can MIN over a window (pos < 2^20 by
    # far; doc ids < 2^43 keep the product inside BIGINT)
    coded = _shingle_pos(d).withColumn(
        "code", F.col("doc_id") * F.lit(1 << 20) + F.col("pos")
    )
    # Keep-first marking via groupBy(h) + join-back, not windows over
    # the raw hash: count and min(code) are both map-side combinable
    # (one row per distinct shingle shuffled), and the occurrence-list
    # skew of a hot boilerplate shingle lands in a join AQE can split
    # instead of a window task it can't. The aggregate side re-derives
    # the shingle pass (see the dedup_token_spans comment for the
    # measured trade AND the r14 shared-exchange rejection — the same
    # plan evidence applies here). (Hardened from the window form in
    # round 9 — value-identity re-verified.)
    firsts = (
        coded.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("code").alias("first_code"),
        )
        .filter(F.col("c") > 1)
        .select("h", "first_code")
    )
    cut_hits = (
        coded.join(firsts, "h")
        .filter(F.col("code") != F.col("first_code"))
        .select("doc_id", "pos")
    )
    return _rebuild_after_cut(d, cut_hits)


SPAN_BATCH_MOD = 5  # doc_id % MOD == 0 is the newly-crawled batch


def dedup_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-crawl form of the span cut: the historical corpus
    (doc_id % {SPAN_BATCH_MOD} != 0) is already ingested, and every
    new-batch document (doc_id % {SPAN_BATCH_MOD} == 0) cuts the
    token intervals whose {SD_N}-token shingle ALREADY EXISTS in
    history — history always wins, so re-crawled boilerplate is cut
    from the new data without ever rewriting the ingested corpus
    (the daily companion of dedup_span_cut's full-corpus keep-first
    pass, exactly as dedup_incremental_batch companions
    dedup_exact_documents).  Batch-internal duplication is left to
    the full pass.  Output covers batch docs only: (doc_id,
    n_tokens, cut_tokens, kept_md5).

    Scale: history contributes ONE distinct-shingle-hash relation
    (vocabulary-of-shingles-sized, shuffled on h — never broadcast);
    the batch side is O(batch); the cut join is a hash-keyed
    semi-join.  Nothing rescans history text beyond its one shingle
    pass — and against a STREAMED shingle store the history pass
    amortizes to O(batch) per day (the neardup-index pattern)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % SPAN_BATCH_MOD == 0
    hist_h = _shingle_pos(docs.filter(~is_new)).select("h").distinct()
    batch = docs.filter(is_new)
    cut_hits = (
        _shingle_pos(batch)
        .join(hist_h, "h", "left_semi")
        .select("doc_id", "pos")
    )
    return _rebuild_after_cut(batch, cut_hits)


_INCR_SPAN_ORACLE = f"""
WITH dw AS (
  SELECT doc_id, {sk.WORDS_SQL.format(c=_NORM_SQL)} AS w FROM documents
),
sh AS (
  SELECT doc_id, u.i - 1 AS pos,
         {sk.hash60_sql(f"'sd:' || array_to_string(w[u.i : u.i + {SD_N - 1}], ' ')")} AS h
  FROM dw, UNNEST(range(1, GREATEST(len(w) - {SD_N - 1}, 0) + 1)) AS u(i)
),
hist AS (SELECT DISTINCT h FROM sh WHERE doc_id % {SPAN_BATCH_MOD} <> 0),
toks AS (
  SELECT doc_id, u.i - 1 AS pos, w[u.i] AS word
  FROM dw, UNNEST(range(1, len(w) + 1)) AS u(i)
  WHERE doc_id % {SPAN_BATCH_MOD} = 0
),
cut_hits AS (
  SELECT s.doc_id, s.pos
  FROM sh s JOIN hist USING (h)
  WHERE s.doc_id % {SPAN_BATCH_MOD} = 0
),
covered AS (
  SELECT DISTINCT doc_id, pos + k AS pos
  FROM cut_hits, UNNEST(range(0, {SD_N})) AS kk(k)
),
kept AS (
  SELECT t.doc_id, t.pos, t.word
  FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         md5(string_agg(word, ' ' ORDER BY pos)) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, CAST(len(d.w) AS INT) AS n_tokens,
       CAST(len(d.w) - COALESCE(p.kept_tokens, 0) AS BIGINT) AS cut_tokens,
       COALESCE(p.kept_md5, md5('')) AS kept_md5
FROM dw d LEFT JOIN per_doc p USING (doc_id)
WHERE d.doc_id % {SPAN_BATCH_MOD} = 0
"""


_CUT_ORACLE = f"""
WITH dw AS (
  SELECT doc_id, {sk.WORDS_SQL.format(c=_NORM_SQL)} AS w FROM documents
),
toks AS (
  SELECT doc_id, u.i - 1 AS pos, w[u.i] AS word
  FROM dw, UNNEST(range(1, len(w) + 1)) AS u(i)
),
sh AS (
  SELECT doc_id, u.i - 1 AS pos,
         doc_id * {1 << 20} + (u.i - 1) AS code,
         {sk.hash60_sql(f"'sd:' || array_to_string(w[u.i : u.i + {SD_N - 1}], ' ')")} AS h
  FROM dw, UNNEST(range(1, GREATEST(len(w) - {SD_N - 1}, 0) + 1)) AS u(i)
),
cut_hits AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, code,
           COUNT(*) OVER (PARTITION BY h) AS c,
           MIN(code) OVER (PARTITION BY h) AS first_code
    FROM sh
  ) WHERE c > 1 AND code <> first_code
),
covered AS (
  SELECT DISTINCT doc_id, pos + k AS pos
  FROM cut_hits, UNNEST(range(0, {SD_N})) AS kk(k)
),
kept AS (
  SELECT t.doc_id, t.pos, t.word
  FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         md5(string_agg(word, ' ' ORDER BY pos)) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, CAST(len(d.w) AS INT) AS n_tokens,
       CAST(len(d.w) - COALESCE(p.kept_tokens, 0) AS BIGINT) AS cut_tokens,
       COALESCE(p.kept_md5, md5('')) AS kept_md5
FROM dw d LEFT JOIN per_doc p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# 10. Winnowing fingerprints
# ---------------------------------------------------------------------------

WN_K = 4        # tokens per gram
WN_W = 4        # grams per winnowing window
WN_MIN_SHARED = 2   # fingerprints two docs must share to pair
WN_MAX_DF = 50  # drop boilerplate fingerprints present in > this many docs


def _winnow_grams(d: DataFrame) -> DataFrame:
    """(doc_id, pos, h): one row per {WN_K}-token gram — the span
    machinery's builder at gram granularity ('wn:' hash domain, so
    winnowing fingerprints never collide with span shingles)."""
    g_arr = sk.bind1(
        sk.words(sk.normalize_text(F.col("text"))),
        lambda w: F.when(
            F.size(w) < F.lit(WN_K), F.array().cast("array<bigint>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - F.lit(WN_K - 1)),
                lambda i: sk.hash60(
                    F.concat(
                        F.lit("wn:"), F.concat_ws(" ", F.slice(w, i, WN_K))
                    )
                ),
            )
        ),
    )
    return d.select("doc_id", F.posexplode(g_arr).alias("pos", "h"))


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, h): each document's winnowing fingerprint set —
    the DISTINCT window-minimum gram hashes over every full window of
    {WN_W} consecutive {WN_K}-token grams (public algorithm:
    Schleimer, Wilkerson & Aiken 2003, "Winnowing: Local Algorithms
    for Document Fingerprinting" — the MOSS fingerprinter).
    Guarantee: any shared token run of >= WN_W + WN_K - 1 tokens
    contains a full shared window in both documents, whose minimum
    hash lands in BOTH fingerprint sets — alignment-independent,
    while storing ~1/{WN_W} of the gram hashes (the sampled
    alternative to dedup_token_spans' every-position index)."""
    wcnt = Window.partitionBy("doc_id")
    wfwd = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WN_W - 1)
    )
    return (
        _winnow_grams(d)
        .withColumn("n_grams", F.count(F.lit(1)).over(wcnt))
        .withColumn("wmin", F.min("h").over(wfwd))
        .filter(F.col("pos") <= F.col("n_grams") - F.lit(WN_W))
        .select("doc_id", F.col("wmin").alias("h"))
        .distinct()
    )


def neardup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-based near-duplicate candidate pairs: documents
    sharing >= {WN_MIN_SHARED} fingerprints after dropping
    boilerplate fingerprints present in > {WN_MAX_DF} documents (the
    standard stop-fingerprint cap, same fanout bound as the LSH band
    family).  Output (doc_a, doc_b, shared_fps), doc_a < doc_b.

    Scale: the fingerprint relation is ~1/{WN_W} of the gram stream
    (the winnowing win — the index a plagiarism/dedup service stores);
    the pair join is hash-keyed with per-key fanout capped by
    WN_MAX_DF, so candidates are O(N · capped collisions) — no
    all-pairs path, exactly the banded-LSH cost class but with a
    DETERMINISTIC match guarantee for runs >= WN_W + WN_K - 1
    tokens instead of a probabilistic one."""
    from chain_sync_spark.operators.llm_pipeline import (
        _scoped_persist,
        release_caches,
    )

    release_caches()  # previous query's scope ends here (no-op when a
    # caller like winnow_dup_clusters already opened the scope)
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # PERSISTED (r13 optimization): the fingerprint relation feeds
    # THREE consumers (the df cap aggregate + both self-join sides),
    # and only partial stage reuse fired across them (executed plan:
    # the gram Generate + double-window chain ran more than once).
    # The pin is exactly the relation a winnow service STORES —
    # ~1/{WN_W} of the gram stream by the sampling guarantee — so it
    # is scale-safe where pinning the gram stream itself would not be.
    # Callers inherit the scope-pool protocol: winnow_dup_clusters
    # opens its scope before calling here, and its CC loop consumes
    # the checkpointed edge relation, not this pin.
    fp = _scoped_persist(winnow_fingerprints(d))
    cap = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WN_MAX_DF)
        .select("h")
    )
    fpc = fp.join(cap, "h", "left_semi")
    a, b = fpc.alias("a"), fpc.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= WN_MIN_SHARED)
    )


# Shared CTE text: documents → per-doc winnowing fingerprint sets
# (the SQL rendering of winnow_fingerprints) — ONE definition for
# every winnow-family oracle, so a tokenizer/windowing fix lands in
# all of them at once.
_WINNOW_FP_CTE = f"""dw AS (
  SELECT doc_id, {sk.WORDS_SQL.format(c=_NORM_SQL)} AS w FROM documents
),
g AS (
  SELECT doc_id, u.i - 1 AS pos,
         {sk.hash60_sql(f"'wn:' || array_to_string(w[u.i : u.i + {WN_K - 1}], ' ')")} AS h
  FROM dw, UNNEST(range(1, GREATEST(len(w) - {WN_K - 1}, 0) + 1)) AS u(i)
),
c AS (
  SELECT doc_id, pos, h,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WN_W - 1} FOLLOWING)
           AS wmin
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id, wmin AS h FROM c WHERE pos <= n_grams - {WN_W}
)"""

_WINNOW_ORACLE = f"""
WITH {_WINNOW_FP_CTE},
cap AS (SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= {WN_MAX_DF}),
fpc AS (SELECT fp.doc_id, fp.h FROM fp JOIN cap USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {WN_MIN_SHARED}
"""


WN_PROBE_MOD = 5  # doc_id % MOD == 0 is the probe batch; rest is stored


def winnow_match_pairs(idx: DataFrame, docs: DataFrame) -> DataFrame:
    """The MOSS SERVING arithmetic behind winnow_probe_newdocs:
    fingerprint the probe documents
    and match them against a stored (already boilerplate-capped)
    index relation ``idx`` (doc_id, h).  Output (doc_a stored,
    doc_b probed, shared_fps >= {WN_MIN_SHARED}).

    Scale: hash-keyed join with per-key fanout capped upstream by
    WN_MAX_DF — the same O(N · capped collisions) class as
    neardup_winnow_pairs, no all-pairs path."""
    fp_b = winnow_fingerprints(docs.select("doc_id", "text"))
    return (
        idx.alias("a")
        .join(fp_b.alias("b"), F.col("a.h") == F.col("b.h"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= WN_MIN_SHARED)
    )


def winnow_probe_newdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifier of the winnow-index SERVING path ("which stored
    documents does this submission overlap?"): the stored corpus
    (doc_id % {WN_PROBE_MOD} != 0) builds the boilerplate-capped
    fingerprint index — df counted over the STORED corpus only — and
    every new-batch document (doc_id % {WN_PROBE_MOD} == 0) matches
    against it through winnow_match_pairs, so this query's oracle
    certifies the read side of the index.

    Scale: index build is the capped winnow shape
    (neardup_winnow_pairs); the probe side is O(batch)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % WN_PROBE_MOD == 0
    stored = winnow_fingerprints(docs.filter(~is_new))
    cap = (
        stored.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WN_MAX_DF)
        .select("h")
    )
    idx = stored.join(cap, "h", "left_semi")
    return winnow_match_pairs(idx, docs.filter(is_new))


_WINNOW_PROBE_ORACLE = f"""
WITH {_WINNOW_FP_CTE},
stored AS (SELECT doc_id, h FROM fp WHERE doc_id % {WN_PROBE_MOD} <> 0),
cap AS (SELECT h FROM stored GROUP BY h HAVING COUNT(*) <= {WN_MAX_DF}),
idx AS (SELECT s.doc_id, s.h FROM stored s JOIN cap USING (h)),
probe AS (SELECT doc_id, h FROM fp WHERE doc_id % {WN_PROBE_MOD} = 0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM idx a JOIN probe b ON a.h = b.h
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {WN_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# 11. Winnow family cluster step
# ---------------------------------------------------------------------------

def winnow_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the winnowing pair graph — the
    cluster step that completes the winnow family exactly as
    neardup_clusters completes MinHash-LSH: each group of documents
    transitively linked by >= {WN_MIN_SHARED} shared fingerprints
    collapses to one component, labeled by its min doc_id. Output
    (doc_id, cluster_id, cluster_size, is_canonical).

    Unlike the probabilistic MinHash graph, winnow edges carry the
    deterministic guarantee (any shared run of >= WN_W + WN_K - 1
    tokens produces an edge), so the components are the documents a
    MOSS-style service would report as one reuse group.

    Scale: pair generation is the capped-fanout fingerprint join
    (neardup_winnow_pairs); components use the shared
    iterative min-label loop — one node-keyed shuffle join per round,
    rounds = component diameter (reuse groups are small and dense),
    lineage checkpointed. The oracle replays the fixpoint with a
    recursive CTE."""
    from chain_sync_spark.operators.llm_pipeline import (
        _scoped_checkpoint,
        connected_components,
        release_caches,
    )

    release_caches()  # previous query's scope ends here
    pairs = neardup_winnow_pairs(spark, sf_dir)
    half = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # CHECKPOINTED: the CC loop consumes edges every round (neighbor
    # join + convergence count) — unpinned, each round re-ran the
    # whole winnow-pairs chain (13.4 s construct at sf0.1); merely
    # PERSISTED, each round still re-planned the chain's nested tree
    # driver-side (7.9 s warm construct vs 4.4 s with the flat
    # checkpoint, interleaved A/B) — same blocks either way, freed at
    # scope end.
    edges = _scoped_checkpoint(
        half.union(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    labels = connected_components(edges)
    # cluster_size via attach_group_count (the r10 hot-key class):
    # a boilerplate dup-cluster is corpus-sized and the count window
    # would pin it in one task
    from chain_sync_spark.operators.skew import attach_group_count

    base = labels.select("doc_id", F.col("label").alias("cluster_id"))
    return attach_group_count(base, ["cluster_id"], "cluster_size").withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


_WINNOW_CLUSTERS_ORACLE = f"""
WITH RECURSIVE wpairs AS (
  SELECT doc_a, doc_b FROM ({_WINNOW_ORACLE}) wp
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM wpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM wpairs
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
# 12. Cross-source overlap matrix
# ---------------------------------------------------------------------------

def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE containment matrix over winnowing fingerprints —
    the corpus-curation view above the per-document pair reports:
    for each ordered source pair (src_a, src_b), how much of src_a's
    distinct fingerprint set also appears in src_b
    (containment(A→B) = |fp(A) ∩ fp(B)| / |fp(A)|).  This is how a
    crawl pipeline decides which snapshot/feed is redundant before
    paying document-level dedup: a source 90%-contained in another is
    a near-subset, and the asymmetry (A→B high, B→A low) says WHICH
    one is the subset.  Output (src_a, src_b, shared_fps, a_fps,
    contain_micros) — string/integer only; pairs sharing zero
    fingerprints are absent by construction.

    Scale: the fingerprint relation is the stored ~1/{WN_W}-sampled
    winnow index; lifting it to SOURCE grain (distinct (source, h))
    collapses per-document multiplicity FIRST, so the self-join's
    per-hash fanout is bounded by the number of SOURCES, not
    documents, and the result is at most sources² rows — corpus size
    only enters through the one distinct pass.  The source-grain
    relation feeds three plan branches (both self-join sides + the
    totals) as IDENTICAL subplans, which Spark dedupes via
    ReusedExchange — measured at sf0.1, an explicit persist adds
    materialization cost and saves nothing, so the plan stays
    unpinned on purpose."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sfp = (
        winnow_fingerprints(d.select("doc_id", "text"))
        .join(d.select("doc_id", "source"), "doc_id")
        .select("source", "h")
        .distinct()
    )
    tot = sfp.groupBy("source").agg(F.count(F.lit(1)).alias("a_fps"))
    a, b = sfp.alias("a"), sfp.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    return shared.join(
        F.broadcast(tot.withColumnRenamed("source", "src_a")), "src_a"
    ).select(
        "src_a",
        "src_b",
        "shared_fps",
        "a_fps",
        sk.ratio_micros("shared_fps", "a_fps").alias("contain_micros"),
    )


_SOURCE_OVERLAP_ORACLE = f"""
WITH {_WINNOW_FP_CTE},
sfp AS (
  SELECT DISTINCT d.source, fp.h
  FROM fp JOIN documents d USING (doc_id)
),
tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS a_fps
  FROM sfp GROUP BY source
),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS shared_fps
  FROM sfp a JOIN sfp b ON a.h = b.h AND a.source <> b.source
  GROUP BY a.source, b.source
)
SELECT s.src_a, s.src_b, s.shared_fps, t.a_fps,
       {sk.ratio_micros_sql('s.shared_fps', 't.a_fps')} AS contain_micros
FROM shared s JOIN tot t ON s.src_a = t.source
"""


QUERIES = {
    "pii_scrub_documents": pii_scrub_documents,
    "url_extract_normalize": url_extract_normalize,
    "quality_repetition_filter": quality_repetition_filter,
    "contamination_ngram_overlap": contamination_ngram_overlap,
    "domain_mixture_weights": domain_mixture_weights,
    "pack_training_sequences": pack_training_sequences,
    "dedup_embedding_semantic": dedup_embedding_semantic,
    "neardup_cluster_canonical": neardup_cluster_canonical,
    # the exact substring-span dedup family and the MOSS winnowing
    # family
    "dedup_token_spans": dedup_token_spans,
    "dedup_span_cut": dedup_span_cut,
    "dedup_incremental_spans": dedup_incremental_spans,
    "neardup_winnow_pairs": neardup_winnow_pairs,
    "winnow_dup_clusters": winnow_dup_clusters,
    # the cross-source fingerprint-overlap matrix and the
    # winnow-index serving certifier
    "source_overlap_matrix": source_overlap_matrix,
    "winnow_probe_newdocs": winnow_probe_newdocs,
    # the Gopher duplicate-n-gram char-fraction repetition screen
    "gopher_dup_ngram_profile": gopher_dup_ngram_profile,
    # the mT5 temperature-scaled mixture weights and the
    # FineWeb-style composed quality verdict
    "mixture_temperature_weights": mixture_temperature_weights,
    "quality_composite_filter": quality_composite_filter,
    # the sequential dedup+quality funnel report, the inter-document
    # n-gram novelty summary, and the windowless exact percent_rank
    # (CDF join)
    "dedup_funnel_report": dedup_funnel_report,
    "ngram_novelty_score": ngram_novelty_score,
    "length_percentile_by_lang": length_percentile_by_lang,
}

ORACLE = {
    "pii_scrub_documents": _PII_ORACLE,
    "url_extract_normalize": _URL_ORACLE,
    "quality_repetition_filter": _QUALITY_REP_ORACLE,
    "contamination_ngram_overlap": _CONTAM_ORACLE,
    "domain_mixture_weights": _MIXTURE_ORACLE,
    "pack_training_sequences": _PACK_ORACLE,
    "dedup_embedding_semantic": _semantic_dedup_oracle(),
    "neardup_cluster_canonical": _canonical_oracle(),
    "dedup_token_spans": _SPAN_ORACLE,
    "dedup_span_cut": _CUT_ORACLE,
    "dedup_incremental_spans": _INCR_SPAN_ORACLE,
    "neardup_winnow_pairs": _WINNOW_ORACLE,
    "winnow_dup_clusters": _WINNOW_CLUSTERS_ORACLE,
    "source_overlap_matrix": _SOURCE_OVERLAP_ORACLE,
    "winnow_probe_newdocs": _WINNOW_PROBE_ORACLE,
    "gopher_dup_ngram_profile": _GOPHER_ORACLE,
    "mixture_temperature_weights": _TEMP_MIX_ORACLE,
    "quality_composite_filter": _composite_oracle(),
    "dedup_funnel_report": _funnel_oracle(),
    "ngram_novelty_score": _novelty_oracle(),
    "length_percentile_by_lang": _PCT_RANK_ORACLE,
}

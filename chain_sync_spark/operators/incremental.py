"""Mergeable per-batch summaries (the materialized-rollup pattern).

Each builder turns one micro-batch into a constant-size PARTIAL
summary (count-min-sketch cells, log-scale histogram bins, Bloom bit
positions), and each ``merge_*`` folds two partials in any order, so
a summary maintained round by round costs O(batch), not O(history),
and equals the summary of the union. This is the decomposition Spark
itself uses for partial+final hash aggregation — applied across
rounds instead of across tasks. ``build_profile`` is the single-pass
column profile behind corpus_ops.profile_column_stats.

Reference parity: the reference maintains running per-account
aggregates (last_active, vote sets) incrementally on every block
batch (handlers/comments.js:179-180, handlers/votes.js:26-27) —
these summaries are that idea generalized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_profile(batch: DataFrame, cols: list[str]) -> DataFrame:
    """Single-pass column profile: ONE aggregate computes every
    column's stats (row count, null count, exact distinct count via
    multi-COUNT(DISTINCT), lexicographic min/max as strings so one
    schema covers every type), then a ``stack`` projection unpivots to
    a row per column. Used by corpus_ops.profile_column_stats."""
    aggs = []
    for c in cols:
        s = F.col(c).cast("string")
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(s).alias(f"{c}__min"),
            F.max(s).alias(f"{c}__max"),
        ]
    one = batch.agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col_name, n_nulls, n_distinct, min_val, max_val)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


def cms_stats(batch: DataFrame, term_col: str) -> DataFrame:
    """Mergeable count-min-sketch partial of one batch's term stream:
    (r, bucket, cell) over ``corpus_ops.CMS_ROWS`` hash rows x
    ``CMS_WIDTH`` buckets. Cells are SUMS, so partials merge by
    cell-wise addition in any order — the sketch is the canonical
    algebraic summary (constant size however large the batch or the
    history), which is what makes heavy-hitter tracking maintainable
    per micro-batch when exact per-term counts would mean a
    vocabulary-sized state store.

    Same md5 bucketing as the batch operator
    (corpus_ops.heavy_hitters_cms), so a sketch folded batch-by-batch
    equals the sketch built in one pass over the union."""
    from chain_sync_spark.functions import sketches as sk
    from chain_sync_spark.operators.corpus_ops import CMS_ROWS, CMS_WIDTH

    per_term = batch.groupBy(F.col(term_col).alias("term")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rows = per_term.select(
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
    return rows.groupBy("r", "bucket").agg(F.sum("cnt").alias("cell"))


def merge_cms(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Cell-wise addition of two sketch partials — O(rows x width)
    regardless of history size; merge order never changes the result."""
    return (
        existing.unionByName(delta)
        .groupBy("r", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )


# --- mergeable log-histogram (quantile sketch) -----------------------------
#
# Exact percentiles are holistic — they need the raw data — so the
# maintainable form is a sketch. A base-2 exponential histogram gives a
# constant-size (≤ 2·HIST_RANGE+3 bins), order-independently mergeable
# summary whose quantiles carry a bounded RELATIVE error: a value
# landing in bin [2^e, 2^(e+1)) is reported as 1.5·2^e, within a factor
# of 1.5 of any true quantile inside the bin. The log-histogram is the
# same trade HDRHistogram/DDSketch make (public designs); merging is
# bin-wise count addition, exactly like the CMS cells above.

HIST_RANGE = 40  # covers |v| in [2^-40, 2^40); beyond clamps to edge bins


def hist_bin(v: F.Column) -> F.Column:
    """Signed log₂ bin id of a double: 0 for zero, ±(1 + clamped
    exponent offset) otherwise. NULLs AND NaNs map to NULL (dropped by
    the aggregate). Accounting contract: NULL counts live in the
    profile's n_nulls; NaN values are dropped from ALL accounting —
    they appear in neither the histogram nor n_nulls (build_profile
    counts isNull() only), so on a column containing NaNs, n_rows >
    n_nulls + histogram total by exactly the NaN count. Both are
    guarded EXPLICITLY: greatest/least skip NULL operands in
    Spark so the clamp would funnel NULLs into the bottom negative
    bin, and Spark orders NaN greater than every double so an
    unguarded NaN passes ``v > 0.0`` and the clamp would silently
    inflate the TOP positive bin (log2(NaN) is NaN; greatest/least
    propagate it as the maximum)."""
    mag = F.floor(F.log2(F.abs(v))) + F.lit(HIST_RANGE)
    clamped = F.greatest(F.lit(0), F.least(F.lit(2 * HIST_RANGE), mag)) + 1
    return (
        F.when(v.isNull() | F.isnan(v), F.lit(None))
        .when(v == 0.0, F.lit(0))
        .when(v > 0.0, clamped)
        .otherwise(-clamped)
        .cast("int")
    )


def hist_stats(batch: DataFrame, value_col: str) -> DataFrame:
    """Mergeable histogram partial of one batch: (bin, cnt). Constant
    size however large the batch — one map-side-combined aggregate."""
    v = F.col(value_col).cast("double")
    return (
        batch.select(hist_bin(v).alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_hist(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Bin-wise count addition — O(bins) regardless of history size;
    merge order never changes the result."""
    return (
        existing.unionByName(delta).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    )


def hist_bin_value(bin_id: int) -> float:
    """Representative value of a bin (its geometric midpoint 1.5·2^e;
    0 for the zero bin) — the value quantile queries report."""
    if bin_id == 0:
        return 0.0
    e = abs(bin_id) - 1 - HIST_RANGE
    rep = 1.5 * (2.0 ** e)
    return rep if bin_id > 0 else -rep


def quantile_from_hist(bins: list[tuple[int, int]], q: float) -> float:
    """q-quantile from (bin, cnt) pairs: walk the bins in value order
    until the cumulative count covers q·total. Driver-side over the
    constant-size sketch (≤ 2·HIST_RANGE+3 rows)."""
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile must be in [0, 1], got {q}")
    ordered = sorted(bins)  # bin id order IS value order (signed log bins)
    total = sum(c for _, c in ordered)
    if total == 0:
        raise ValueError("empty histogram")
    target = q * total
    cum = 0
    for b, c in ordered:
        cum += c
        if cum >= target:
            return hist_bin_value(b)
    return hist_bin_value(ordered[-1][0])


# --- mergeable Bloom filter (membership sketch) ----------------------------
#
# The classical Bloom filter (public: Bloom 1970): K hash positions per
# key in an m-bit space; a key "hits" iff all K positions are occupied.
# No false negatives ever; false positives at a rate set by m/n and K.
# Represented here as the SET of occupied bit positions (<= BLOOM_BITS
# rows) instead of a packed bitmap — the set form makes the merge a
# plain distinct-union (append-only friendly, order-independent) and
# the probe a join, with no bit-twiddling to keep cross-engine.

BLOOM_BITS = 4096
BLOOM_K = 3


def bloom_positions(key: F.Column) -> F.Column:
    """The K bit positions of one key: independent md5-domain hashes
    ('bloom0:'..'bloomK-1:' prefixes) mod BLOOM_BITS — identical in
    Spark and DuckDB via the portable hash60."""
    from chain_sync_spark.functions import sketches as sk

    return F.array(
        *[
            F.pmod(
                sk.hash60(F.concat(F.lit(f"bloom{k}:"), key)),
                F.lit(BLOOM_BITS),
            ).cast("int")
            for k in range(BLOOM_K)
        ]
    )


def bloom_bits(batch: DataFrame, key_col: str) -> DataFrame:
    """Mergeable Bloom partial of one batch's keys: the distinct
    occupied bit positions, (bit int). Constant-size (<= BLOOM_BITS
    rows) however large the batch."""
    return (
        batch.select(
            F.explode(bloom_positions(F.col(key_col))).alias("bit")
        )
        .distinct()
    )

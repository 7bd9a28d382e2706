"""Incremental aggregate maintenance (materialized-rollup pattern).

The 100 TB version of "recompute the dashboard": a per-key aggregate
table is maintained by merging each new micro-batch's PARTIAL
aggregate into the stored totals, so per-round cost is O(batch), not
O(history). This is the batch analog of Structured Streaming's
stateful aggregation (state store = the stored aggregate table), and
the same decomposition Spark itself uses for partial+final hash
aggregation — applied across rounds instead of across tasks.

Only algebraic aggregates participate (sum, count, min, max, and
anything derivable from them like avg); holistic aggregates (exact
median) need the raw data by definition. Sums run in DECIMAL so
merge order never changes the result.

Reference parity: the reference maintains running per-account
aggregates (last_active, vote sets) incrementally on every block
batch (handlers/comments.js:179-180, handlers/votes.js:26-27) —
this operator is that idea generalized to arbitrary keyed rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: aggregate schema: key cols -> (n_events, sum_value DECIMAL, min_ts, max_ts)
AGG_COLS = ("n_events", "sum_value", "min_ts", "max_ts")


def rollup_events(batch: DataFrame, keys: list[str]) -> DataFrame:
    """Partial aggregate of one batch — the map-side combine shape.
    sum_value stays DECIMAL until the final read so cross-batch merge
    order cannot perturb the total."""
    return batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


def merge_rollup(existing: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Merge a batch's partial aggregate into the stored rollup:
    full-outer on the keys, combine with the aggregate's own merge
    function (+/min/max). Cost is O(|existing keys touched| + |delta|)
    rows through one join — at scale the stored side is partitioned
    by key so only matching partitions are read (same
    partition-pruned path as sync/merge.py)."""
    e = existing.alias("e")
    d = delta.alias("d")
    joined = e.join(d, keys, "full_outer")

    def _both(col: str, combine) -> F.Column:
        ec, dc = F.col(f"e.{col}"), F.col(f"d.{col}")
        return (
            F.when(ec.isNull(), dc)
            .when(dc.isNull(), ec)
            .otherwise(combine(ec, dc))
            .alias(col)
        )

    return joined.select(
        *keys,
        _both("n_events", lambda a, b: a + b),
        _both("sum_value", lambda a, b: a + b),
        _both("min_ts", F.least),
        _both("max_ts", F.greatest),
    )


def build_profile(
    batch: DataFrame,
    cols: list[str],
    include_distinct: bool = False,
    approx_distinct: bool = False,
) -> DataFrame:
    """Single-pass column profile: ONE aggregate computes every
    column's stats (row count, null count, lexicographic min/max as
    strings so one schema covers every type; optionally a distinct
    count), then a ``stack`` projection unpivots to a row per column.
    Shared by corpus_ops.profile_column_stats and
    profile_column_stats_sketch.

    Distinct counting has two modes: exact (multi-COUNT(DISTINCT) via
    Expand — row multiplication by the number of distinct aggregates;
    the oracle-matchable form) and ``approx_distinct=True``
    (HyperLogLog++ ``approx_count_distinct`` — NO Expand, constant
    sketch state per column, the 100 TB path; VERDICT r4 item 7).
    The sketch mode is within ~2.3% relative standard deviation of
    exact and is deliberately not oracle-registered."""
    aggs = []
    for c in cols:
        s = F.col(c).cast("string")
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        if include_distinct:
            d = (
                F.approx_count_distinct(c)
                if approx_distinct
                else F.countDistinct(c)
            )
            aggs.append(d.alias(f"{c}__distinct"))
        aggs += [F.min(s).alias(f"{c}__min"), F.max(s).alias(f"{c}__max")]
    one = batch.agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    mid = "__distinct, " if include_distinct else ""
    stack = ", ".join(
        f"'{c}', {c}__nulls, " + (f"{c}{mid}" if include_distinct else "")
        + f"{c}__min, {c}__max"
        for c in cols
    )
    fields = (
        "(col_name, n_nulls, "
        + ("n_distinct, " if include_distinct else "")
        + "min_val, max_val)"
    )
    out = ["col_name", "n_rows", "n_nulls"]
    if include_distinct:
        out.append("n_distinct")
    out += ["min_val", "max_val"]
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) AS {fields}", "n_rows"
    ).select(*out)


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


def merge_bloom(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Occupied-bit union — O(bits) regardless of history; merge order
    never changes the result (bit sets are idempotent unions)."""
    return existing.unionByName(delta).distinct()


def finalize_rollup(agg: DataFrame) -> DataFrame:
    """Read-side projection: derived measures (avg) computed from the
    algebraic state; DECIMAL sums surface as double."""
    return agg.select(
        *[c for c in agg.columns if c not in AGG_COLS],
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        (F.col("sum_value").cast("double") / F.col("n_events")).alias("avg_value"),
        "min_ts",
        "max_ts",
    )

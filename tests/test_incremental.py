"""Mergeable sketch partials (operators/incremental.py): histogram
partials folded in any batch split equal the one-pass sketch, the
quantiles served from them stay within the bin bound, and the Bloom
positions of every key are occupied bits."""

from pyspark.sql import functions as F

from chain_sync_spark.tables import table

SF_DIR = "/root/testdata/sf0.001"


def test_hist_sketch_fold_and_quantile_bounds(spark):
    """Log-histogram sketch invariants: (1) partials folded in any
    batch split equal the one-pass sketch; (2) every quantile served
    from the sketch is within the bin's relative-error bound of the
    exact percentile; (3) signed/zero bins order correctly."""
    import math

    from chain_sync_spark.operators.incremental import (
        HIST_RANGE,
        hist_bin_value,
        hist_stats,
        merge_hist,
        quantile_from_hist,
    )

    ev = table(spark, "/root/testdata/sf0.001", "events").select("value")
    one_pass = {r.bin: r.cnt for r in hist_stats(ev, "value").collect()}

    # fold three arbitrary splits — must equal the one-pass sketch
    parts = ev.randomSplit([1.0, 1.0, 1.0], seed=7)
    folded_df = hist_stats(parts[0], "value")
    for p in parts[1:]:
        folded_df = merge_hist(folded_df, hist_stats(p, "value"))
    folded = {r.bin: r.cnt for r in folded_df.collect()}
    assert folded == one_pass and sum(one_pass.values()) == ev.count()

    # quantile estimates: relative error bounded by the bin width
    # (representative = geometric midpoint 1.5·2^e of [2^e, 2^(e+1)))
    vals = sorted(r.value for r in ev.collect() if r.value is not None)
    bins = sorted(one_pass.items())
    for q in (0.1, 0.5, 0.9, 0.99):
        est = quantile_from_hist(bins, q)
        exact = vals[min(len(vals) - 1, max(0, math.ceil(q * len(vals)) - 1))]
        if exact == 0.0:
            assert est == 0.0
        else:
            assert est * exact > 0  # same sign
            assert 0.75 <= abs(est) / abs(exact) <= 1.5, (q, est, exact)

    # signed bins order by value: negative < zero < positive reps
    assert hist_bin_value(-1 - HIST_RANGE) < 0 < hist_bin_value(1 + HIST_RANGE)
    assert hist_bin_value(0) == 0.0
    assert hist_bin_value(1 + HIST_RANGE) == 1.5  # bin of [1, 2)


def test_hist_bin_clamps_extremes_and_mirrors_sign(spark):
    """Magnitudes beyond 2^±HIST_RANGE clamp to the edge bins instead
    of overflowing the id space, and negative values mirror exactly.
    NaN drops like NULL: Spark orders NaN greater than every double, so
    an unguarded NaN would pass v > 0.0 and clamp into the TOP positive
    bin, silently inflating the high-quantile tail."""
    from chain_sync_spark.operators.incremental import HIST_RANGE, hist_bin

    cases = [1e300, 1e-300, -1e300, -1e-300, 1.0, -1.0, 0.0, None,
             float("nan")]
    df = spark.createDataFrame([(v,) for v in cases], "v double")
    got = [r.b for r in df.select(hist_bin(F.col("v")).alias("b")).collect()]
    top, bottom = 2 * HIST_RANGE + 1, 1
    assert got == [top, bottom, -top, -bottom, HIST_RANGE + 1,
                   -(HIST_RANGE + 1), 0, None, None]


def test_quantile_rejects_empty_and_bad_q():
    import pytest

    from chain_sync_spark.operators.incremental import quantile_from_hist

    with pytest.raises(ValueError, match="empty"):
        quantile_from_hist([], 0.5)
    with pytest.raises(ValueError, match="quantile"):
        quantile_from_hist([(0, 1)], 1.5)


def test_quantile_sketch_orders_serves_quantile_from_hist(spark):
    """The registry form (integer bin-id probes) and the library
    serving walk (quantile_from_hist's float target) must pick the
    SAME bin for every probed permille — the integer comparison
    cum·1000 >= q·total is exactly the float walk's cum >= (q/1000)
    ·total when q/1000·total has no fractional tie, and the test run
    proves no tie flips the pick on this data."""
    from chain_sync_spark.operators.corpus_ops import (
        QSK_PERMILLE,
        quantile_sketch_orders,
    )
    from chain_sync_spark.operators.incremental import (
        hist_bin_value,
        hist_stats,
        quantile_from_hist,
    )

    orders = table(spark, SF_DIR, "orders")
    bins = [
        (r["bin"], r["cnt"])
        for r in hist_stats(orders, "o_totalprice").collect()
    ]
    total = sum(c for _, c in bins)
    got = {
        r["q_permille"]: r
        for r in quantile_sketch_orders(spark, SF_DIR).collect()
    }
    assert set(got) == set(QSK_PERMILLE)
    for q in QSK_PERMILLE:
        rec = got[q]
        assert rec["total"] == total
        # same bin as the library walk
        assert hist_bin_value(rec["est_bin"]) == quantile_from_hist(
            bins, q / 1000.0
        )
        # cum_cnt is the cumulative count at est_bin and covers the target
        cum = sum(c for b, c in sorted(bins) if b <= rec["est_bin"])
        assert rec["cum_cnt"] == cum
        assert cum * 1000 >= q * total


def test_bloom_fold_order_invariant_and_no_false_negatives(spark):
    """Every key's K positions are occupied bits of the batch's Bloom
    partial (no false negatives, ever), and the state never exceeds
    BLOOM_BITS."""
    from chain_sync_spark.operators.incremental import (
        BLOOM_BITS,
        BLOOM_K,
        bloom_bits,
        bloom_positions,
    )

    docs = table(spark, SF_DIR, "documents").select(
        F.md5(F.col("text")).alias("fp")
    )
    one_pass = {r.bit for r in bloom_bits(docs, "fp").collect()}
    assert len(one_pass) <= BLOOM_BITS

    # no false negatives: every key's K positions are occupied
    missing = (
        docs.select(F.explode(bloom_positions(F.col("fp"))).alias("bit"))
        .distinct()
        .collect()
    )
    assert {r.bit for r in missing} <= one_pass
    assert all(0 <= r.bit < BLOOM_BITS for r in missing)
    # K distinct hash domains actually used
    pos = docs.select(bloom_positions(F.col("fp")).alias("p")).first()["p"]
    assert len(pos) == BLOOM_K

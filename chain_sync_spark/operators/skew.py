"""Skew mitigation: salted joins (SURVEY §4 / 100 TB mandate).

A join key with few distinct values (or a power-law hot key) lands
whole key-groups on single tasks. AQE's skew-join splitting handles
the sort-merge case at runtime; salting is the explicit, planner-
independent form: the big side spreads each key over `n_salts`
sub-keys derived from a deterministic per-row expression, the small
side is replicated n_salts times, and the join runs on
(key, salt) — every hot key now occupies n_salts tasks.

The salt must be deterministic (a hash of stable row columns, never
rand()) so retried tasks and replayed batches salt identically.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SALT_COL = "_salt"


def _debug_contracts() -> bool:
    """Opt-in runtime contract verification for the shared top-k /
    keep-first primitives (VERDICT r11 item 5).  Their value-identity
    to the window forms they replace holds only under docstring
    preconditions (non-null measure/tiebreak, unique tiebreak,
    duplicate-free order cols); every production caller satisfies
    them by construction (aggregated counts keyed by the tiebreak),
    so the check is not in the hot path — set
    ``CHAIN_SYNC_DEBUG_CONTRACTS=1`` (pytest does) and each call
    verifies its precondition with one extra aggregate job, raising
    ``ValueError`` naming the violated clause instead of silently
    returning window-divergent rows."""
    return os.environ.get("CHAIN_SYNC_DEBUG_CONTRACTS", "") not in ("", "0")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    salt_from: Column,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join `big` ⋈ `small` on `on`, spreading each key over
    `n_salts` sub-partitions. `salt_from` is any expression over
    `big`'s stable columns (e.g. a unique id) — hashed into the salt.
    `small` is replicated n_salts× (it must be small; that is the
    point of the pattern)."""
    spark = small.sparkSession
    big_s = big.withColumn(
        SALT_COL, F.pmod(F.xxhash64(salt_from), F.lit(n_salts)).cast("int")
    )
    salts = spark.range(n_salts).select(F.col("id").cast("int").alias(SALT_COL))
    small_s = small.crossJoin(salts)
    return big_s.join(small_s, on + [SALT_COL], how).drop(SALT_COL)


def keep_first_by_key(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Keep-first-per-key WITHOUT a window: one MIN(struct(order,
    payload)) aggregate per key, re-exploded to columns.  Value-
    identical to ``ROW_NUMBER() OVER (PARTITION BY key ORDER BY
    order_cols) = 1`` whenever ``order_cols`` are duplicate-free
    within a key (struct comparison is lexicographic; null keys
    group like a window partition, and null order fields sort first
    exactly like the window's ASC NULLS FIRST — both property-tested
    on nullable data; under ``CHAIN_SYNC_DEBUG_CONTRACTS=1`` the
    duplicate-free clause is verified at entry and a violating input
    raises instead of returning an arbitrary-but-deterministic
    keep), but the aggregate is MAP-SIDE COMBINABLE: each scan task emits one
    candidate row per key it saw, so a boilerplate key occurring
    millions of times costs one row per task in the shuffle instead
    of pinning its whole occurrence list in one unsplittable window
    task (used by dedup_segment_rewrite's seg_md5 and
    dedup_incremental_batch's content_md5 keep-first).  Output
    column order: key_cols + order_cols +
    remaining columns, one row per key."""
    if _debug_contracts():
        dup = (
            df.groupBy(*key_cols, *order_cols)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "keep_first_by_key contract violated: order_cols "
                f"{order_cols!r} are not duplicate-free within key "
                f"{key_cols!r} — the kept payload row would be "
                "arbitrary where ROW_NUMBER()=1 is deterministic"
            )
    payload = [c for c in df.columns if c not in key_cols]
    ordered = order_cols + [c for c in payload if c not in order_cols]
    agg = df.groupBy(*key_cols).agg(
        F.min(F.struct(*ordered)).alias("_first")
    )
    return agg.select(
        *key_cols, *[F.col(f"_first.{c}").alias(c) for c in ordered]
    )


def attach_group_count(
    df: DataFrame, key_cols: list[str], out: str
) -> DataFrame:
    """``COUNT(*) OVER (PARTITION BY key)`` without the window: a
    map-side-combinable groupBy count joined back on the key.  The
    join is AQE-visible (broadcast when the distinct-key relation is
    small, skew-split when a key is hot) where a window partition is
    an indivisible task — the fix queued for tfidf_top_terms'
    term-df and neardup_prefix_filter_pairs' token-df at round 10.

    The join-back is NULL-SAFE (``<=>``): a window partitions null
    keys into a group like any other, and a plain equi-join-back
    would silently DROP those rows — none of the production callers
    feed nullable keys (md5/token/shingle hashes), but the primitive
    keeps the window's exact semantics so a future caller can't be
    bitten (property-tested on null keys).  ``<=>`` is still a plain
    equi-join to the planner — hash/broadcast strategies and AQE
    skew-split all apply.  Value-identical to the window; column
    order is preserved with ``out`` appended.  The join-side key
    renames are derived fresh against the input's columns, so a
    caller whose relation already carries an ``_agc_``-prefixed
    column can't hit an ambiguous reference or lose a column to the
    final drop."""
    if out in df.columns:
        # the join-back would yield two columns named `out` and every
        # downstream reference would turn silently ambiguous
        raise ValueError(f"column {out!r} already exists in the input")
    taken = set(df.columns) | {out}

    def _fresh(c: str) -> str:
        cand = f"_agc_{c}"
        while cand in taken:
            cand = "_" + cand
        taken.add(cand)
        return cand

    ren = {c: _fresh(c) for c in key_cols}
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias(out))
    counts = counts.select(
        *[F.col(c).alias(ren[c]) for c in key_cols], out
    )
    cond = None
    for c in key_cols:
        eq = F.col(c).eqNullSafe(F.col(ren[c]))
        cond = eq if cond is None else cond & eq
    return df.join(counts, cond).drop(*ren.values())


# Fan-in of global_topk_desc's middle phase: the final sort-slice
# aggregate never sees more than k x this many rows, however many
# scan tasks phase 1 ran.
_GTK_MID_BUCKETS = 64


def global_topk_desc(
    df: DataFrame, measure: str, tiebreak: str, k: int, rank_col: str = "rk"
) -> DataFrame:
    """Global ``ORDER BY measure DESC, tiebreak ASC LIMIT k`` with
    ROW_NUMBER ranks, WITHOUT a global-window single-partition sort —
    the round-11 hardening for the last partition-less WindowExec
    sites (bm25 final top-k, vocab top-V, CMS heavy-hitter top-k),
    whose inputs are vocabulary-sized: bounded by DISTINCT-TERM
    count, which grows with the corpus, so a one-task sort over them
    is a 100 TB scale-killer.

    Two phases, the ``sample_exact_k_per_lang`` plan generalized to
    an empty group key:

    - phase 1 windows inside each scan partition (salted by
      ``spark_partition_id()`` — every pid group lives in exactly one
      task, and Spark's WindowGroupLimit prunes to k before the
      per-pid sort), keeping a local top-k: at most ``k x
      n_partitions`` survivors, independent of input size;
    - phase 1.5 re-salts the survivors into ``_GTK_MID_BUCKETS``
      hash buckets and keeps a per-bucket top-k, so what reaches the
      final aggregate is <= k x {buckets} rows REGARDLESS of cluster
      size — without it, a 100k-task scan would hand the final merge
      a k x 100k struct array (a multi-hundred-MB single-row value);
      the extra shuffle moves only the <= k x n_partitions phase-1
      survivors, which is noise;
    - phase 2 ranks the bounded survivors with ONE sort-slice
      aggregate (``array_sort`` + ``slice`` over a collected struct
      array) — the final merge handles <= k x {buckets} rows, so no
      WindowExec (and no full-relation shuffle-and-sort) appears
      anywhere in the plan.

    Value-identical to ``ROW_NUMBER() OVER (ORDER BY measure DESC,
    tiebreak ASC) <= k`` PROVIDED ``tiebreak`` is unique within
    ``df`` and both columns are non-null (every call site feeds
    aggregated counts/scores keyed by the tiebreak column; the salt
    never affects the RESULT, only the plan).  NaN measures ARE
    covered by the identity: Spark's DESC orders NaN as the largest
    double, so phases 1/1.5 rank NaN rows first, and the phase-2
    sort struct carries an explicit NaN-first flag because negation
    alone would invert their position (``-NaN`` is NaN, which sorts
    LAST ascending) — property-tested against the window form on
    NaN-bearing data.  Under ``CHAIN_SYNC_DEBUG_CONTRACTS=1`` the
    non-null and tiebreak-uniqueness clauses are verified at entry
    (one extra aggregate job) and a violating input raises.
    ``measure`` must be numeric — descending order is encoded by
    negation inside the sort struct.  Output: the input columns plus
    ``rank_col`` (INT, 1-based)."""
    if rank_col in df.columns:
        raise ValueError(f"column {rank_col!r} already exists in the input")
    if _debug_contracts():
        bad = df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.count(measure).alias("_nm"),
            F.count(tiebreak).alias("_nt"),
            F.count_distinct(F.col(tiebreak)).alias("_dt"),
        ).collect()[0]
        if bad["_nm"] != bad["_n"] or bad["_nt"] != bad["_n"]:
            raise ValueError(
                "global_topk_desc contract violated: measure "
                f"{measure!r} / tiebreak {tiebreak!r} must be "
                "non-null (null rows rank NULLS LAST under the "
                "window form but would be cut or misplaced here)"
            )
        if bad["_dt"] != bad["_n"]:
            raise ValueError(
                "global_topk_desc contract violated: tiebreak "
                f"{tiebreak!r} is not unique — ROW_NUMBER ties would "
                "break arbitrarily and the phase boundaries could "
                "cut different tied rows than the window form"
            )
    taken = set(df.columns) | {rank_col}

    def _fresh(c: str) -> str:
        while c in taken:
            c = "_" + c
        taken.add(c)
        return c

    pid = _fresh("_gtk_pid")
    lrn = _fresh("_gtk_lrn")
    mid = _fresh("_gtk_mid")
    mrn = _fresh("_gtk_mrn")
    w_local = Window.partitionBy(pid).orderBy(
        F.desc(measure), F.asc(tiebreak)
    )
    survivors = (
        df.withColumn(pid, F.spark_partition_id())
        .withColumn(lrn, F.row_number().over(w_local))
        .filter(F.col(lrn) <= k)
        .drop(pid, lrn)
    )
    # deterministic re-salt (hash of the unique tiebreak, never the
    # partition id again — phase-1 output partitioning is pid-skewed)
    w_mid = Window.partitionBy(mid).orderBy(F.desc(measure), F.asc(tiebreak))
    survivors = (
        survivors.withColumn(
            mid,
            F.pmod(F.xxhash64(F.col(tiebreak)), F.lit(_GTK_MID_BUCKETS)),
        )
        .withColumn(mrn, F.row_number().over(w_mid))
        .filter(F.col(mrn) <= k)
        .drop(mid, mrn)
    )
    # the window's DESC puts NaN first (Spark orders NaN as the
    # largest double); negation alone would flip that (-NaN is NaN,
    # sorting LAST ascending), so a leading flag pins NaN rows first
    # and ties among them fall through to the tiebreak — keeping the
    # phase-2 ordering identical to phases 1/1.5 and the window form.
    nan_first = (
        F.when(F.isnan(F.col(measure).cast("double")), F.lit(0))
        .otherwise(F.lit(1))
        .alias("_nanf")
    )
    top = survivors.agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        nan_first,
                        (-F.col(measure)).alias("_neg"),
                        F.col(tiebreak).alias("_tb"),
                        F.struct(*df.columns).alias("_row"),
                    )
                )
            ),
            1,
            k,
        ).alias("_top")
    )
    return top.select(
        F.posexplode("_top").alias("_pos", "_t")
    ).select(
        F.col("_t._row.*"),
        (F.col("_pos") + 1).cast("int").alias(rank_col),
    )

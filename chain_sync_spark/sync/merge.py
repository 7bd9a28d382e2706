"""Keyed MERGE over plain parquet tables (reference S9–S12).

The reference's sink is OpenSearch bulk update-with-upsert plus
painless scripts (set-add, field reset, flag set). Without Delta we
implement MERGE as: full-outer join target⋈updates on the key, per-
column merge expressions, a staging write, then the commit by
`sources.checkpoint.swap_dir`, the one recoverable swap of every store
(`recover_table` is its `recover_swap`).

Scale design (100 TB): when the table is partitioned, only the
partitions touched by the update batch are read and rewritten
(partition-pruned read → `swap_dir` at the partition depth swaps in
just the staged leaf directories). The upsert batch per sync round is
tiny relative to the table, so cost is proportional to touched
partitions, not table size. A swap replaces a leaf directory whole,
so a leaf holds only the files of the round that last wrote it: file
counts do not accumulate. On a real cluster the same logic maps 1:1
onto Delta/Iceberg MERGE INTO — the handler outputs are unchanged.

Merge expressions receive (target_col, source_col) Columns and
return the merged Column — e.g. the vote set-add painless script
(handlers/votes.js:13-24) becomes
``array_union(coalesce(tgt, array()), coalesce(src, array()))``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chain_sync_spark.sources.checkpoint import recover_swap as recover_table
from chain_sync_spark.sources.checkpoint import swap_dir

MergeExpr = Callable[[Column, Column], Column]


def take_source(t: Column, s: Column) -> Column:
    """Default: source wins when present (update-with-upsert doc)."""
    return F.coalesce(s, t)


def keep_target(t: Column, s: Column) -> Column:
    """Insert-only column: existing value preserved."""
    return F.coalesce(t, s)


def max_of(t: Column, s: Column) -> Column:
    """A2 last-active: monotone max."""
    return F.greatest(t, s)


def set_union(t: Column, s: Column) -> Column:
    """A1/S11 scripted set-add: create-if-absent, add-if-missing."""
    return F.array_distinct(
        F.array_union(F.coalesce(t, F.array()), F.coalesce(s, F.array()))
    )


def set_add(t: Column, s: Column) -> Column:
    """`set_union` for a source that also carries rows with nothing to
    add: a null source keeps the target as it is, so a row nobody voted
    on keeps null arrays instead of turning them into `[]`."""
    return F.when(s.isNull(), t).otherwise(set_union(t, s))


def merge_parquet(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    merge_exprs: dict[str, MergeExpr] | None = None,
    partition_cols: list[str] | None = None,
    partition_source: DataFrame | None = None,
    *,
    target_schema: str,
) -> None:
    """MERGE `updates` into the parquet table at `target_dir`.

    Columns present in target but not in updates are preserved;
    columns in updates but not target are added (NULL for old rows).

    `partition_source` (optional): a slim (key_cols + partition_cols)
    mapping of where each existing key currently lives — e.g. a
    maintained index table. An update for a key it holds lands in
    that key's partition. When omitted, the updates already carry
    their partition columns (a hash bucket of the key, or values read
    from the target rows).

    `target_schema` (DDL string): the target's declared schema,
    partition columns included, so the target read runs no
    schema-inference job.

    NB (partitioned targets): merges rewrite only touched partition
    directories, so a column added by a later merge would reach only
    those partitions. Writers must emit the complete table schema
    from the first write (typed nulls for not-yet-filled columns) —
    the sync handlers do (see comments_to_post_upserts).
    """
    merge_exprs = merge_exprs or {}
    partition_cols = partition_cols or []
    depth = len(partition_cols)
    recover_table(target_dir, depth)

    if not os.path.exists(target_dir):
        # First write: the updates ARE the table. Written once and
        # committed by swap_dir as one rename of the whole staging dir,
        # so a crash never leaves a partial table.
        swap_dir(target_dir, _staged_write(updates, partition_cols, key_cols), depth)
        return

    target = spark.read.schema(target_schema).parquet(target_dir)

    cached = None
    if partition_cols:
        if partition_source is not None:
            # An update for an existing key must land in the partition
            # the key currently lives in — otherwise a post edited in a
            # later month would be merged only into the new partition
            # and the stale copy in the old one would survive
            # (duplicate key).
            part_map = partition_source.alias("pm")
            u = updates.alias("u")
            cond = [F.col(f"u.{k}").eqNullSafe(F.col(f"pm.{k}")) for k in key_cols]
            updates = u.join(part_map, cond, "left").select(
                *[
                    F.coalesce(F.col(f"pm.{c}"), F.col(f"u.{c}")).alias(c)
                    if c in partition_cols
                    else F.col(f"u.{c}").alias(c)
                    for c in updates.columns
                ]
            )
        # The updates plan is consumed twice (touched-partition scan +
        # final merge write): cache it so handler pipelines upstream
        # run once per round.
        cached = updates.persist()
        updates = cached
        # Partition-pruned merge: only read/rewrite touched partitions.
        touched = [r.asDict() for r in updates.select(*partition_cols).distinct().collect()]
        if not touched:
            cached.unpersist()
            return
        pred = None
        for vals in touched:
            clause = F.lit(True)
            for c in partition_cols:
                clause = clause & (F.col(c) == F.lit(vals[c]))
            pred = clause if pred is None else (pred | clause)
        # Only touched partitions are read AND written: the merged
        # rows for touched partitions are staged and their partition
        # directories swapped in place; untouched partitions are never
        # opened. Per-round cost is O(touched), not O(table).
        target = target.filter(pred)

    t_cols = set(target.columns)
    s_cols = set(updates.columns)
    all_cols = list(dict.fromkeys(target.columns + updates.columns))

    t = target.alias("t")
    s = updates.alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols]
    joined = t.join(s, cond, "full_outer")

    def pick(c: str) -> Column:
        tc = F.col(f"t.{c}") if c in t_cols else F.lit(None)
        sc = F.col(f"s.{c}") if c in s_cols else F.lit(None)
        if c in key_cols:
            return F.coalesce(sc, tc).alias(c)
        expr = merge_exprs.get(c, take_source)
        return expr(tc, sc).alias(c)

    merged = joined.select(*[pick(c) for c in all_cols])

    try:
        swap_dir(target_dir, _staged_write(merged, partition_cols, key_cols), depth)
    finally:
        if cached is not None:
            cached.unpersist()


def _staged_write(
    df: DataFrame, partition_cols: list[str], key_cols: list[str]
) -> Callable[[str], bool]:
    """The `swap_dir` write of a merge result: stage `df`, and commit it
    only if it holds rows. A zero-row table is never materialized — a
    partitioned overwrite of 0 rows writes only _SUCCESS and later
    reads fail with UNABLE_TO_INFER_SCHEMA. Emptiness is read off the
    staged output on the driver, so the plan runs once."""

    def write(staging: str) -> bool:
        writer = _sorted(df, partition_cols, key_cols).write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(staging)
        return _staged_has_rows(staging, partition_cols)

    return write


def _staged_has_rows(staging: str, partition_cols: list[str]) -> bool:
    """Did a staged write produce any rows?  Partitioned: zero
    rows leave no `col=value` dirs at all.  Unpartitioned: part files
    exist either way, so read row counts from the parquet footers
    (driver-side, a handful of files — no Spark job)."""
    if partition_cols:
        prefix = f"{partition_cols[0]}="
        return any(e.startswith(prefix) for e in os.listdir(staging))
    import pyarrow.parquet as pq

    return any(
        pq.ParquetFile(os.path.join(staging, f)).metadata.num_rows > 0
        for f in os.listdir(staging)
        if f.endswith(".parquet")
    )


def _sorted(df: DataFrame, partition_cols: list[str], key_cols: list[str]) -> DataFrame:
    """Cluster rows by key inside each written file: parquet row-group
    min/max stats then prune point lookups (the existence probe) to a
    few row groups instead of whole files."""
    cols = [c for c in partition_cols + key_cols if c in df.columns]
    return df.sortWithinPartitions(*cols) if cols else df

"""Keyed MERGE over plain parquet tables (reference S9–S12).

The reference's sink is OpenSearch bulk update-with-upsert plus
painless scripts (set-add, field reset, flag set). Without Delta we
implement MERGE as: full-outer join target⋈updates on the key, per-
column merge expressions, staging write, atomic swap.

Scale design (100 TB): when the table is partitioned, only the
partitions touched by the update batch are read and rewritten
(partition-pruned read → dynamic-partition-style replace). The
upsert batch per sync round is tiny relative to the table, so cost
is proportional to touched partitions, not table size. On a real
cluster the same logic maps 1:1 onto Delta/Iceberg MERGE INTO —
the handler outputs are unchanged.

Merge expressions receive (target_col, source_col) Columns and
return the merged Column — e.g. the vote set-add painless script
(handlers/votes.js:13-24) becomes
``array_union(coalesce(tgt, array()), coalesce(src, array()))``.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MergeExpr = Callable[[Column, Column], Column]

# Reserved suffixes for swap staging/backup dirs. Double-underscore
# wrapped so they can never collide with a `col=value` partition
# directory name (partition values would need a literal '.__bak__'
# suffix AND the walk only inspects dirs at the partition depth).
BACKUP_SUFFIX = ".__bak__"
STAGING_SUFFIX = ".__staging__"


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


def recover_table(target_dir: str, partition_depth: int | None = None) -> None:
    """Crash recovery for the swap windows: restore a whole-table
    backup if the table itself is absent, restore any partition-level
    `<dir>.__bak__` backups whose live dir is absent (partition-swap
    crash), and discard stale staging output.

    ``partition_depth``: number of partition levels (len of the
    table's partition_cols). When given, only directories at exactly
    that depth are inspected — the walk is O(partition dirs at that
    depth), never O(all table dirs/files), and a partition VALUE that
    happens to end in the suffix at another depth can't be mistaken
    for a backup. When None (unknown layout), the full recursive walk
    runs as a fallback."""
    staging = target_dir.rstrip("/") + STAGING_SUFFIX
    backup = target_dir.rstrip("/") + BACKUP_SUFFIX
    if not os.path.exists(target_dir) and os.path.exists(backup):
        os.rename(backup, target_dir)
    for leftover in (staging, backup):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    if not os.path.exists(target_dir):
        return
    def restore(root: str, names: list[str]) -> None:
        for d in names:
            if not d.endswith(BACKUP_SUFFIX):
                continue
            bak = os.path.join(root, d)
            live = bak[: -len(BACKUP_SUFFIX)]
            if os.path.exists(live):
                shutil.rmtree(bak)
            else:
                os.rename(bak, live)

    for root, dirs, _files in os.walk(target_dir, topdown=True):
        rel = os.path.relpath(root, target_dir)
        depth = 0 if rel == "." else rel.count(os.sep) + 1
        if partition_depth is None:
            restore(root, list(dirs))
            dirs[:] = [d for d in dirs if not d.endswith(BACKUP_SUFFIX)]
        elif depth + 1 == partition_depth:
            restore(root, list(dirs))
            dirs[:] = []  # backups live at leaf depth only — stop here
        elif depth >= partition_depth:
            dirs[:] = []


def merge_parquet(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    merge_exprs: dict[str, MergeExpr] | None = None,
    partition_cols: list[str] | None = None,
    partition_source: DataFrame | None = None,
    partition_stable: bool = False,
    target_schema: str | None = None,
) -> None:
    """MERGE `updates` into the parquet table at `target_dir`.

    Columns present in target but not in updates are preserved;
    columns in updates but not target are added (NULL for old rows).

    `partition_source` (optional): a slim (key_cols + partition_cols)
    mapping of where each existing key currently lives — e.g. a
    maintained index table. When omitted it is derived from the
    target (column-pruned scan).

    `partition_stable`: set when the partition columns are a pure
    function of the key (e.g. a hash bucket) — an update can never
    move a key across partitions, so the resolution join is skipped.

    `target_schema` (optional DDL string): the target's declared
    schema, partition columns included. The target read then runs no
    schema-inference job; when omitted, Spark infers it.

    NB (partitioned targets): merges rewrite only touched partition
    directories, so a column added by a later merge would reach only
    those partitions. Writers must emit the complete table schema
    from the first write (typed nulls for not-yet-filled columns) —
    the sync handlers do (see comments_to_post_upserts).
    """
    merge_exprs = merge_exprs or {}
    partition_cols = partition_cols or []
    recover_table(target_dir, len(partition_cols) or None)

    if not os.path.exists(target_dir):
        # First write runs ONCE through staging + rename instead of an
        # isEmpty() probe followed by the real write: the probe
        # evaluated the whole handler pipeline a second time just to
        # decide emptiness (r13 action census: 3 first-writes per
        # fresh store, each paying the pipeline twice). Emptiness is
        # now read off the STAGED OUTPUT on the driver — and a
        # zero-row table is still never materialized: a partitioned
        # overwrite of 0 rows writes only _SUCCESS and later reads
        # fail with UNABLE_TO_INFER_SCHEMA. A crash between write and
        # rename leaves only a staging dir, which recover_table
        # already discards.
        staging = target_dir.rstrip("/") + STAGING_SUFFIX
        writer = _sorted(updates, partition_cols, key_cols).write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(staging)
        if _staged_has_rows(staging, partition_cols):
            os.rename(staging, target_dir)
        else:
            shutil.rmtree(staging)
        return

    reader = spark.read if target_schema is None else spark.read.schema(target_schema)
    target = reader.parquet(target_dir)

    cached = None
    if partition_cols:
        if not partition_stable:
            # An update for an existing key must land in the partition
            # the key currently lives in — otherwise a post edited in a
            # later month would be merged only into the new partition
            # and the stale copy in the old one would survive
            # (duplicate key).
            part_map = (
                partition_source
                if partition_source is not None
                else target.select(*key_cols, *partition_cols)
            ).alias("pm")
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

    merged = _sorted(merged, partition_cols, key_cols)
    try:
        if partition_cols:
            _swap_touched_partitions(spark, target_dir, merged, partition_cols)
        else:
            _atomic_overwrite(spark, target_dir, merged, partition_cols)
    finally:
        if cached is not None:
            cached.unpersist()


def _staged_has_rows(staging: str, partition_cols: list[str]) -> bool:
    """Did a staged first write produce any rows?  Partitioned: zero
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


def _atomic_overwrite(
    spark: SparkSession, target_dir: str, df: DataFrame, partition_cols: list[str]
) -> None:
    """Stage the result, then swap directories. Two writes, but never
    reads and deletes the same files in one job (lazy-eval hazard).
    On Delta/Iceberg this whole function is a transactional MERGE."""
    staging = target_dir.rstrip("/") + STAGING_SUFFIX
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(staging)
    backup = target_dir.rstrip("/") + BACKUP_SUFFIX
    if os.path.exists(backup):
        shutil.rmtree(backup)
    os.rename(target_dir, backup)
    os.rename(staging, target_dir)
    shutil.rmtree(backup)


def compact_partitions(
    spark: SparkSession,
    target_dir: str,
    partition_cols: list[str],
    max_files_per_partition: int = 8,
) -> int:
    """Small-file maintenance for merge-heavy tables: every sync
    round rewrites its touched partitions with fresh files, so hot
    partitions accumulate file counts over time. This rewrites each
    partition whose file count exceeds the threshold into a single
    coalesced file (same per-partition swap machinery as the merge —
    untouched partitions are never opened). Returns the number of
    partitions compacted. The reference has no analog (OpenSearch
    segment merging does this implicitly); on Delta/Iceberg this is
    OPTIMIZE / rewrite_data_files."""
    recover_table(target_dir, len(partition_cols) or None)
    if not os.path.exists(target_dir):
        return 0
    # find leaf partition dirs with too many data files
    crowded: list[str] = []
    for root, dirs, files in os.walk(target_dir):
        rel = os.path.relpath(root, target_dir)
        depth = 0 if rel == "." else rel.count(os.sep) + 1
        if depth == len(partition_cols):
            dirs[:] = []
            n = sum(1 for f in files if f.endswith(".parquet"))
            if n > max_files_per_partition:
                crowded.append(rel)
    staging_root = target_dir.rstrip("/") + STAGING_SUFFIX
    for rel in crowded:
        live = os.path.join(target_dir, rel)
        # staging lives OUTSIDE the table root — a sibling dir inside
        # the table would be picked up by partition discovery
        staging = os.path.join(staging_root, rel)
        spark.read.parquet(live).coalesce(1).write.mode("overwrite").parquet(staging)
        bak = live + BACKUP_SUFFIX
        if os.path.exists(bak):
            shutil.rmtree(bak)
        os.rename(live, bak)
        os.rename(staging, live)
        shutil.rmtree(bak)
    if os.path.exists(staging_root):
        shutil.rmtree(staging_root)
    return len(crowded)


def _swap_touched_partitions(
    spark: SparkSession, target_dir: str, merged: DataFrame, partition_cols: list[str]
) -> None:
    """Write only the merged (touched) partitions to staging, then
    swap each partition directory into the live table with a
    per-partition backup. Untouched partition directories are never
    opened, so write cost is proportional to the update batch, not
    the table. A crash mid-swap leaves `<partition>.__bak__` backups that
    recover_table restores. On Delta/Iceberg this is MERGE INTO with
    dynamic partition overwrite."""
    staging = target_dir.rstrip("/") + STAGING_SUFFIX
    merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(staging)
    # leaf partition dirs, relative to the staging root
    leaves: list[str] = []
    for root, dirs, _files in os.walk(staging):
        rel = os.path.relpath(root, staging)
        depth = 0 if rel == "." else rel.count(os.sep) + 1
        if depth == len(partition_cols):
            leaves.append(rel)
            dirs[:] = []  # don't descend into data files
    for rel in leaves:
        src = os.path.join(staging, rel)
        dst = os.path.join(target_dir, rel)
        bak = dst + BACKUP_SUFFIX
        if os.path.exists(bak):
            shutil.rmtree(bak)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.exists(dst):
            os.rename(dst, bak)
        os.rename(src, dst)
        if os.path.exists(bak):
            shutil.rmtree(bak)
    shutil.rmtree(staging)

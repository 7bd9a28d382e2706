"""Checkpoint cursor table (reference S3/S4).

The reference persists a single `{block_num}` doc under id
`chain-sync-block-number` (config.js:39, listener.js:16-42) and
advances it only after a fully successful batch. Here: a one-row
parquet table, rewritten atomically per sync round. A dry-run flag
(reference `DISABLE_UPDATE_SETTINGS`, listener.js:35-36) skips the
write.

r13 optimization: the cursor is ONE row, but it was read and written
through full Spark jobs — a per-round driver barrier costing a job
each way (the write alone measured ~0.3 s idle / 8 s under host load
in the r13 action census). Both paths now go through pyarrow on the
driver: the on-disk format is unchanged (a directory holding one
parquet file, exactly what `coalesce(1).write.parquet` produced — a
store written by either revision reads back under the other) and zero
Spark jobs run. The `spark` parameter stays in both signatures so
every caller is source-compatible.

The cursor directory is replaced with `swap_dir`, the recoverable
directory swap the streaming merged-state stores commit through too:
a crash at any step leaves either the new or the previous cursor,
never none, and `recover_swap` (run by both cursor functions) repairs
the leftover state.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import SparkSession


def recover_swap(path: str) -> None:
    """Repair any crash window of `swap_dir(path, ...)` (idempotent):
    leftover staging is discarded (its write never committed), a
    missing `path` with `path.old` present is restored (crash between
    the two renames), and a `path.old` beside a committed `path` is
    cleared (crash before cleanup)."""
    staging, old = path + ".staging", path + ".old"
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    if os.path.isdir(old):
        if os.path.isdir(path):
            shutil.rmtree(old)
        else:
            os.replace(old, path)


def swap_dir(path: str, write: Callable[[str], None]) -> None:
    """Replace directory `path` with the one `write(staging)` builds.
    Commit order: write staging → rename path → path.old → rename
    staging → path → remove path.old. The previous directory is
    renamed aside, never removed before the new one is in place, so
    every crash window is one `recover_swap` repairs."""
    recover_swap(path)
    staging, old = path + ".staging", path + ".old"
    write(staging)
    if os.path.isdir(path):
        os.replace(path, old)
    os.replace(staging, path)
    if os.path.isdir(old):
        shutil.rmtree(old)


def read_cursor(spark: SparkSession, path: str, default: int = 0) -> int:
    recover_swap(path)
    if not os.path.exists(path):
        return default
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        tbl = pq.read_table(os.path.join(path, name), columns=["block_num"])
        if tbl.num_rows:
            return int(tbl.column("block_num")[0].as_py())
    return default


def write_cursor(spark: SparkSession, path: str, block_num: int, dry_run: bool = False) -> None:
    if dry_run:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    def _write(staging: str) -> None:
        os.makedirs(staging)
        pq.write_table(
            pa.table({"block_num": pa.array([block_num], type=pa.int64())}),
            os.path.join(staging, "part-00000.parquet"),
        )

    swap_dir(path, _write)

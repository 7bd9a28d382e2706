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

The cursor directory is replaced with `swap_dir`, the one
recoverable directory swap of the repo: the sync tables commit
through it too, in partition form (`depth` > 0). A crash at any
step leaves either the new or the previous cursor, never none, and
`recover_swap` (run by both cursor functions) repairs the leftover
state.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import SparkSession


def _leaves(root: str, depth: int) -> list[tuple[str, ...]]:
    """The `col=value` dirs `depth` levels below `root`, as relative
    path parts; depth 0 is `root` itself, `[()]`."""
    leaves: list[tuple[str, ...]] = [()]
    for _ in range(depth):
        leaves = [
            (*leaf, e.name)
            for leaf in leaves
            for e in os.scandir(os.path.join(root, *leaf))
            if "=" in e.name and e.is_dir()
        ]
    return leaves


def _move(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(src, dst)


def recover_swap(path: str, depth: int = 0) -> None:
    """Repair any crash window of `swap_dir(path, ..., depth)`
    (idempotent): leftover staging is discarded (its write never
    committed); a missing `path` with `path.old` present is restored
    (crash inside a whole-directory swap); otherwise each leaf of
    `path.old` whose live leaf is missing is moved back (crash between
    a leaf's two renames) and `path.old` is cleared."""
    path = path.rstrip("/")
    staging, old = path + ".staging", path + ".old"
    # Upgrade from the engine revision whose sync tables ran their own
    # swaps (up to commit 95b3dc6): its crash leftovers
    # `path.__staging__`, `path.__bak__` and `path/<leaf>.__bak__` are
    # moved onto this swap's names and repaired by the steps below.
    if os.path.isdir(path + ".__staging__"):
        shutil.rmtree(path + ".__staging__")
    if os.path.isdir(path + ".__bak__"):
        os.replace(path + ".__bak__", old)
    if depth and os.path.isdir(path):
        for *parent, name in _leaves(path, depth):
            if name.endswith(".__bak__"):
                _move(os.path.join(path, *parent, name),
                      os.path.join(old, *parent, name.removesuffix(".__bak__")))
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    if not os.path.isdir(old):
        return
    if not os.path.isdir(path):
        os.replace(old, path)
        return
    for leaf in _leaves(old, depth):
        if not os.path.isdir(os.path.join(path, *leaf)):
            _move(os.path.join(old, *leaf), os.path.join(path, *leaf))
    shutil.rmtree(old)


def swap_dir(path: str, write: Callable[[str], bool | None], depth: int = 0) -> None:
    """Replace directory `path` with the one `write(staging)` builds
    (`write` returning False abandons the swap). `depth` > 0 swaps only
    the `col=value` leaves that many levels down that staging holds;
    other leaves of `path` stay. Per staged leaf: rename path/leaf →
    path.old/leaf, rename staging/leaf → path/leaf; then remove
    path.old and staging. Depth 0 is the same with the whole directory
    as the one leaf, and an absent `path` is always created by one
    rename of staging, so no crash leaves a partial table. Nothing is
    removed before its replacement is in place, and backups sit beside
    `path`, never in it: a reader listing `path` sees only live leaves,
    and every crash window is one `recover_swap` repairs."""
    path = path.rstrip("/")
    recover_swap(path, depth)
    staging, old = path + ".staging", path + ".old"
    if write(staging) is False:
        shutil.rmtree(staging)
        return
    if not os.path.isdir(path):
        os.replace(staging, path)
        return
    for leaf in _leaves(staging, depth):
        live = os.path.join(path, *leaf)
        if os.path.isdir(live):
            _move(live, os.path.join(old, *leaf))
        _move(os.path.join(staging, *leaf), live)
    for leftover in (old, staging):
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)


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

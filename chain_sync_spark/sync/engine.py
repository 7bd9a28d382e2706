"""The batch-sync engine (reference listener.js main loop, §3.1).

Per round: read ops for ``[cursor, cursor + batch)`` → classify →
handler transforms → MERGE into posts/accounts tables → advance
cursor. Delivery is at-least-once with idempotent keyed MERGE
(re-running a round is a no-op), exactly the reference's
crash-replay contract (SURVEY.md §1.3).

Scale design (100 TB):

* **posts_index** — a slim, hash-bucketed (post_id → year, month)
  table maintained alongside the posts table. The per-round vote
  existence probe (J1) and all partition resolution run against this
  index, never against the full posts table. The index merge itself
  is partition-pruned on `pmod(post_id, N_INDEX_BUCKETS)`.
* **O(batch) partition resolution, merges that read only their own
  target** — the round's stats job already collects the (post_id,
  bucket) of every post the batch can write, so the driver reads
  just those rows of just those ``bucket=`` dirs of posts_index (a
  row-group-pruned pyarrow read, no Spark job) before any merge
  starts. That slice resolves partitions and votes, so a merge reads
  its own target and driver-held frames only, never a directory
  another merge swaps, and the posts, posts_index and accounts
  merges of a round run concurrently. Per-round read cost is
  O(batch), not O(index).
* **accounts bucketing** — accounts are partitioned by a stable hash
  bucket of the name, so the per-round accounts MERGE rewrites only
  the buckets the batch touches instead of the whole table.
* **one commit protocol** — every table write is staged and swapped
  in by ``sources.checkpoint.swap_dir`` (touched partition leaves
  only; backups sit beside the table, never in it), the swap the
  cursor commits through too; ``recover_table`` (its
  ``recover_swap``) repairs any crash window before a read or merge.
* **store reads start no Spark job** — the store is a POSIX tree the
  driver already renames and lists (``recover_table`` lists the same
  directories before every read), so the engine lists it on the
  driver: it raises Spark's
  parallel-partition-discovery threshold to the widest directory
  level it writes (the bucket count), where the default would start
  a distributed listing job for the 64 ``bucket=`` dirs. Every read
  of posts, posts_index and accounts passes its declared schema
  (``POSTS_SCHEMA`` / ``INDEX_SCHEMA`` / ``ACCOUNTS_SCHEMA``), so no
  footer is read to infer one.
* **no Python on the scan path, no recompiles in a warm round** — a
  round scans its batch about 15 times (the ``max(block_num)``
  pre-scan, the stats fold, every handler and merge plan), so every
  relation built from driver-side rows (the RPC batch, the roles
  snapshot, the index slice, the typed empty tables) goes through
  ``sources.frames.driver_frame``: an Arrow-backed local relation
  that lives in the JVM, where a ``createDataFrame(list)`` relation
  would start Python-worker tasks on each scan. ``session.get_spark``
  sizes the codegen cache above a round's ~135 generated classes, so
  a warm round reuses them (performance only; results never depend
  on it).
* Each merge consumes its updates plan once (merge.py caches across
  the touched-partition scan and the final write), and a batch with
  no post or vote skips the posts-side merges.
* P3/P4 stream guards (listener.js:114,128-132): empty batches skip
  handler work; malformed ops (null payload/type) abort the round
  before any merge, so the cursor never advances past bad data.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chain_sync_spark.sources.checkpoint import read_cursor, write_cursor
from chain_sync_spark.sources.checkpoint import recover_swap as recover_table
from chain_sync_spark.sources.frames import driver_frame
from chain_sync_spark.sync.classify import COMMENT_SCHEMA, VOTE_SCHEMA, classify
from chain_sync_spark.functions.hashing import surrogate_id
from chain_sync_spark.sync.handlers import (
    PROFILE_SCHEMA,
    account_activity_upserts,
    comments_to_post_upserts,
    votes_to_vote_upserts,
)
from chain_sync_spark.sync.merge import (
    keep_target,
    max_of,
    merge_parquet,
    set_add,
    take_source,
)

# Full posts-table schema (comments.js:150-160 upsert doc + the
# mutable fields added by later merges) so an engine that has not yet
# written any posts still exposes a typed empty relation — the
# reference tolerates votes arriving before any post exists.
POSTS_SCHEMA = (
    "post_id long, author string, permlink string, text_title string,"
    " text_body string, parent_permlink string, tags array<string>,"
    " image array<string>, stockimage_tags string, timestamp timestamp,"
    " jobs map<string,string>, upvotes array<string>,"
    " downvotes array<string>, muted_in_community boolean,"
    " year int, month int"
)

INDEX_SCHEMA = "post_id long, year int, month int, bucket int"

ACCOUNTS_SCHEMA = f"name string, last_active timestamp, {PROFILE_SCHEMA}, bucket int"

# Bucket counts are layout constants: sized so one bucket of the
# target table fits an executor comfortably at the design scale
# (1e9 accounts / 64 ≈ 16M rows/bucket; the posts index is 3 columns,
# 1e9 posts / 64 ≈ 16M rows/bucket ≈ a few hundred MB).
N_INDEX_BUCKETS = 64
N_ACCOUNT_BUCKETS = 64

# Above this many subdirectories in one directory level, Spark lists a
# table with a distributed job; the engine keeps its listings on the
# driver by raising it to the widest level it writes.
_LISTING_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _bucket(col: str | Column, n: int) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


@dataclass
class SyncEngine:
    spark: SparkSession
    store_dir: str
    dry_run: bool = False  # reference DISABLE_UPDATE_SETTINGS
    # J3 authoritative snapshot ("authoritative store wins",
    # comments.js:123-142): a posts-content relation whose non-null
    # columns override op-derived content for posts it contains. The
    # engine prunes it to the batch's post ids before the join.
    authoritative: DataFrame | None = None
    # S13 heartbeat (listener.js:44-56): the reference GETs a
    # monitoring URL with the batch's elapsed ms after every round.
    # Here: an optional callable invoked with per-round stats
    # {"cursor", "batch_lo", "batch_hi", "n_ops", "elapsed_s"} after
    # the cursor commits — wire it to HTTP/StatsD/logging as needed.
    heartbeat: Callable[[dict], None] | None = None

    def __post_init__(self) -> None:
        widest = max(N_INDEX_BUCKETS, N_ACCOUNT_BUCKETS)
        if int(self.spark.conf.get(_LISTING_THRESHOLD_CONF)) < widest:
            self.spark.conf.set(_LISTING_THRESHOLD_CONF, str(widest))

    @property
    def posts_dir(self) -> str:
        return os.path.join(self.store_dir, "posts")

    @property
    def posts_index_dir(self) -> str:
        return os.path.join(self.store_dir, "posts_index")

    @property
    def accounts_dir(self) -> str:
        return os.path.join(self.store_dir, "accounts")

    @property
    def cursor_path(self) -> str:
        return os.path.join(self.store_dir, "checkpoint")

    def existing_posts(self) -> DataFrame:
        recover_table(self.posts_dir, depth=2)
        if os.path.exists(self.posts_dir):
            return self.spark.read.schema(POSTS_SCHEMA).parquet(self.posts_dir)
        return driver_frame(self.spark, [], POSTS_SCHEMA)

    def posts_index(self) -> DataFrame:
        """The slim (post_id, year, month) location index. Bootstraps
        from the posts table for stores created before the index
        existed, through merge_parquet's staged first write, so a crash
        mid-bootstrap leaves no partial index behind."""
        recover_table(self.posts_index_dir, depth=1)
        if not os.path.exists(self.posts_index_dir) and os.path.exists(self.posts_dir):
            merge_parquet(
                self.spark,
                self.posts_index_dir,
                self.existing_posts().select(
                    "post_id", "year", "month", _bucket("post_id", N_INDEX_BUCKETS).alias("bucket")
                ),
                key_cols=["post_id"],
                partition_cols=["bucket"],
                target_schema=INDEX_SCHEMA,
            )
        if os.path.exists(self.posts_index_dir):
            return self.spark.read.schema(INDEX_SCHEMA).parquet(self.posts_index_dir)
        return driver_frame(self.spark, [], INDEX_SCHEMA)

    def process_batch(
        self, ops: DataFrame, post_keys: list[tuple[int, int]]
    ) -> None:
        """One sync round over an op-stream micro-batch: one posts
        merge (comment upserts and vote set-adds together), the
        posts_index merge and the accounts merge, run CONCURRENTLY.

        The three merges write disjoint tables, and none reads a table
        another one swaps: partition resolution and the vote existence
        probe (J1) read a slice of posts_index taken on the driver
        before any merge starts (``_index_slice``), so each merge reads
        only its own target and driver-held frames. Replay safety is
        unchanged: the caller advances the cursor only after all three
        commit, and every merge is idempotent.

        ``post_keys``: the batch's ``batch_stats`` keys."""
        typed = classify(ops)
        comments, votes, accounts = typed["comment"], typed["vote"], typed["account_update"]

        with ThreadPoolExecutor(max_workers=3) as pool:
            # accounts first: it is the round's longest merge
            futures = [pool.submit(self._merge_accounts, comments, votes, accounts)]
            if post_keys:
                futures += self._submit_posts_merges(pool, comments, votes, post_keys)
            for future in futures:
                future.result()  # re-raises merge errors before commit

    def _merge_accounts(self, comments, votes, accounts) -> None:
        # accounts: last_active max + latest profile (A2/F9), hash-
        # bucketed so the merge rewrites only touched buckets.
        acct_upserts = account_activity_upserts(comments, votes, accounts).withColumn(
            "bucket", _bucket("name", N_ACCOUNT_BUCKETS)
        )
        merge_parquet(
            self.spark,
            self.accounts_dir,
            acct_upserts,
            key_cols=["name"],
            merge_exprs={"last_active": max_of, "profile": take_source},
            partition_cols=["bucket"],
            target_schema=ACCOUNTS_SCHEMA,
        )

    def _index_slice(self, post_keys: list[tuple[int, int]]) -> DataFrame:
        """The posts_index rows of ``post_keys`` (post_id, bucket), read
        on the driver from only the bucket directories the keys hash
        to; ``merge._sorted`` clusters each file by post_id, so the
        filter prunes row groups. O(batch), not O(index), and it starts
        no Spark job."""
        import pyarrow.parquet as pq

        self.posts_index()  # recovery, and the bootstrap of an old store
        ids: dict[int, list[int]] = defaultdict(list)
        for post_id, bucket in post_keys:
            ids[bucket].append(post_id)
        rows: list[tuple] = []
        for bucket, wanted in ids.items():
            leaf = os.path.join(self.posts_index_dir, f"bucket={bucket}")
            if os.path.isdir(leaf):
                found = pq.read_table(
                    leaf, columns=["post_id", "year", "month"], filters=[("post_id", "in", wanted)]
                )
                rows += zip(*(col.to_pylist() for col in found.columns))
        return driver_frame(self.spark, rows, "post_id long, year int, month int")

    def _submit_posts_merges(
        self, pool: ThreadPoolExecutor, comments: DataFrame, votes: DataFrame,
        post_keys: list[tuple[int, int]],
    ) -> list[Future]:
        """Build the round's posts and posts_index merges and submit
        both to ``pool``."""
        located = self._index_slice(post_keys)
        batch_ids = comments.filter(F.col("parent_author") == "").select(
            surrogate_id("author", "permlink").alias("post_id")
        )
        auth = None
        if self.authoritative is not None:
            # prune the snapshot to the batch's post ids so the J3
            # override join stays O(batch) — the set-based analog of
            # the reference's per-id getContent fetch
            auth = self.authoritative.join(batch_ids, "post_id", "left_semi")
        post_upserts = comments_to_post_upserts(comments, authoritative=auth)
        # votes (S11/A1): a vote counts when its post exists (J1): in the
        # index, or among this batch's own posts (a same-batch comment +
        # vote, the reference's handler order)
        known = located.select("post_id").unionByName(batch_ids)
        vote_upserts = votes_to_vote_upserts(votes, known).select(
            "post_id",
            F.col("upvotes_add").alias("upvotes"),
            F.col("downvotes_add").alias("downvotes"),
        )
        # one row per touched post: its upsert, its vote set-adds, or
        # both. A vote-only row carries nulls elsewhere (take_source
        # keeps the target) and no year/month (resolved from the slice).
        updates = (
            post_upserts.drop("upvotes", "downvotes")
            .join(vote_upserts, "post_id", "full_outer")
            .select(*post_upserts.columns)
        )
        return [
            pool.submit(
                merge_parquet,
                self.spark,
                self.posts_dir,
                updates,
                key_cols=["post_id"],
                # votes accumulate across rounds; a null source (a post
                # upserted with no votes this round) keeps the target
                merge_exprs={"upvotes": set_add, "downvotes": set_add},
                partition_cols=["year", "month"],
                partition_source=located,
                target_schema=POSTS_SCHEMA,
            ),
            # the index is insert-only: the resolved location of an
            # existing post never changes
            pool.submit(
                merge_parquet,
                self.spark,
                self.posts_index_dir,
                post_upserts.select("post_id", "year", "month").withColumn(
                    "bucket", _bucket("post_id", N_INDEX_BUCKETS)
                ),
                key_cols=["post_id"],
                merge_exprs={"year": keep_target, "month": keep_target},
                partition_cols=["bucket"],
                target_schema=INDEX_SCHEMA,
            ),
        ]

    def run(self, source: DataFrame, batch_size: int = 30, stop_block: int | None = None) -> int:
        """Reference main loop (listener.js:157-195): consume
        `source` from the checkpoint cursor in `batch_size` block
        rounds; advance the cursor only after all merges commit.
        With `stop_block`, cover `[cursor, stop_block)` whatever the
        source holds (a block with no ops is an empty round); without
        it, stop after the source's last block. Returns the final
        cursor."""
        if batch_size < 1:
            # a round of 0 blocks never advances the cursor; a negative
            # one moves it backwards
            raise ValueError(f"batch_size must be >= 1, got {batch_size}")
        cursor = read_cursor(self.spark, self.cursor_path, default=0)
        if stop_block is not None:
            last = stop_block - 1
        else:
            max_block_row = source.agg(F.max("block_num")).first()
            if max_block_row is None or max_block_row[0] is None:
                return cursor
            last = int(max_block_row[0])
        while cursor <= last:
            t0 = time.perf_counter()
            hi = min(cursor + batch_size, last + 1)
            batch = source.filter(
                (F.col("block_num") >= cursor) & (F.col("block_num") < hi)
            )
            n_ops, n_bad, post_keys = batch_stats(batch)
            if n_bad:
                # reference exits hard on failed blocks (listener.js:128-132)
                raise ValueError(f"failed batch [{cursor}, {hi}): {n_bad} malformed ops")
            if n_ops:
                self.process_batch(batch, post_keys=post_keys)
            # P3: an empty batch skips all work but still advances the
            # cursor and beats: the reference pings its monitor after
            # EVERY round (listener.js:145), so a liveness monitor must
            # not see silence across long empty block spans
            lo, cursor = cursor, hi
            write_cursor(self.spark, self.cursor_path, cursor, dry_run=self.dry_run)
            if self.heartbeat is not None:
                # after the commit, like the reference (listener.js:145)
                self.heartbeat(
                    {
                        "cursor": cursor,
                        "batch_lo": lo,
                        "batch_hi": hi,
                        "n_ops": n_ops,
                        "elapsed_s": round(time.perf_counter() - t0, 3),
                    }
                )
        return cursor


def batch_stats(batch: DataFrame) -> tuple[int, int, list[tuple[int, int]]]:
    """One Spark job over an op batch: its row count, its malformed
    rows (null payload or type: the P4 guard), and the distinct
    (post_id, bucket) of every post the round may write: each root
    comment and each vote target. The keys come from the raw
    payload through classify's schemas and the handlers' key arithmetic
    (``surrogate_id`` → xxhash64 → pmod), so they are exactly the keys
    the handlers derive."""
    kind = F.col("op_type")
    c = F.from_json("op", COMMENT_SCHEMA)
    v = F.from_json("op", VOTE_SCHEMA)
    post_id = F.when(kind == "vote", surrogate_id(v["author"], v["permlink"])).when(
        (kind == "comment") & (c["parent_author"] == ""), surrogate_id(c["author"], c["permlink"])
    )
    row = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("op").isNull() | kind.isNull(), 1)).alias("bad"),
        F.collect_set(
            F.when(
                post_id.isNotNull(),
                F.struct(post_id.alias("post_id"), _bucket(post_id, N_INDEX_BUCKETS).alias("bucket")),
            )
        ).alias("post_keys"),
    ).first()
    return row["n"], row["bad"], [(k["post_id"], k["bucket"]) for k in row["post_keys"]]

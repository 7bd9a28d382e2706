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
  index, never against the full posts table: per-round read cost is
  O(index), not O(posts). The index merge itself is partition-pruned
  on `pmod(post_id, N_INDEX_BUCKETS)`.
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
  snapshot, the typed empty tables) goes through
  ``sources.frames.driver_frame``: an Arrow-backed local relation
  that lives in the JVM, where a ``createDataFrame(list)`` relation
  would start Python-worker tasks on each scan. ``session.get_spark``
  sizes the codegen cache above a round's ~135 generated classes, so
  a warm round reuses them (performance only; results never depend
  on it).
* Each merge consumes its updates plan once (merge.py caches across
  the touched-partition scan and the final write), and empty op
  sub-streams short-circuit before any join.
* P3/P4 stream guards (listener.js:114,128-132): empty batches skip
  handler work; malformed ops (null payload/type) abort the round
  before any merge, so the cursor never advances past bad data.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chain_sync_spark.sources.checkpoint import read_cursor, write_cursor
from chain_sync_spark.sources.checkpoint import recover_swap as recover_table
from chain_sync_spark.sources.frames import driver_frame
from chain_sync_spark.sync.classify import VOTE_SCHEMA, classify
from chain_sync_spark.functions.hashing import surrogate_id
from chain_sync_spark.sync.handlers import (
    PROFILE_SCHEMA,
    account_activity_upserts,
    comments_to_post_upserts,
    replies_to_tag_updates,
    votes_to_vote_upserts,
)
from chain_sync_spark.sync.merge import (
    keep_target,
    max_of,
    merge_parquet,
    set_union,
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


def _bucket(col: str, n: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("int")


@dataclass
class SyncEngine:
    spark: SparkSession
    store_dir: str
    dry_run: bool = False  # reference DISABLE_UPDATE_SETTINGS
    # Reply-driven stockimage_tags updates are DEAD CODE in the shipped
    # reference (the handleReply call site is commented out,
    # comments.js:115, and its allowlist check is a tautology). Default
    # matches the shipped behavior (off); enabling runs the intended
    # handleReply semantics implemented in replies_to_tag_updates.
    enable_reply_tag_updates: bool = False
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
                partition_stable=True,
            )
        if os.path.exists(self.posts_index_dir):
            return self.spark.read.schema(INDEX_SCHEMA).parquet(self.posts_index_dir)
        return driver_frame(self.spark, [], INDEX_SCHEMA)

    def process_batch(
        self,
        ops: DataFrame,
        type_counts: dict[str, int] | None = None,
        vote_buckets: list[int] | None = None,
    ) -> None:
        """One sync round over an op-stream micro-batch.

        The accounts merge runs CONCURRENTLY with the posts/index/
        votes chain: it touches a disjoint store and derives only from
        the batch, so the Spark scheduler overlaps its jobs with the
        chain's (thread-submitted jobs interleave; on a cluster the
        two stores' IO overlaps the same way). Replay safety is
        unchanged — the cursor advances only after BOTH paths commit,
        and every merge is idempotent. The posts chain itself is
        order-dependent (posts → index → vote set-add on the same
        tables) and stays sequential.

        ``type_counts``: optional exact per-op_type row counts for
        this batch (keys matching classify's types). When provided —
        run() folds them into the batch-stats aggregate it already
        pays — the posts chain's two emptiness probes come from the
        dict instead of one Spark job each (classify filters on
        exactly ``op_type == <type>``, so the counts are the probe,
        r13 action census). Direct callers may omit it; the probes
        then run as before.

        ``vote_buckets``: optional distinct posts_index bucket ids of
        this batch's vote keys (bounded by N_INDEX_BUCKETS).  When
        provided — run() folds the collect_set into the same stats
        aggregate (identical key arithmetic: from_json op → surrogate
        author/permlink hash → pmod, r14 action census) — the vote
        path's per-round distinct+collect job is skipped.  Direct
        callers may omit it; the collect then runs as before."""
        from concurrent.futures import ThreadPoolExecutor

        typed = classify(ops)
        comments, votes, accounts = typed["comment"], typed["vote"], typed["account_update"]

        with ThreadPoolExecutor(max_workers=1) as pool:
            acct_future = pool.submit(self._merge_accounts, comments, votes, accounts)
            self._process_posts_chain(comments, votes, type_counts, vote_buckets)
            acct_future.result()  # re-raises merge errors before commit

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
            partition_stable=True,
            target_schema=ACCOUNTS_SCHEMA,
        )

    def _process_posts_chain(
        self,
        comments: DataFrame,
        votes: DataFrame,
        type_counts: dict[str, int] | None = None,
        vote_buckets: list[int] | None = None,
    ) -> None:
        idx = self.posts_index()
        slim_idx = idx.select("post_id", "year", "month")

        # posts: comment upserts (month/year partitioned, S9/S12).
        # Partition resolution against the slim index — the full posts
        # table is never scanned on the write path.
        auth = None
        if self.authoritative is not None:
            # prune the snapshot to the batch's post ids so the J3
            # override join stays O(batch) — the set-based analog of
            # the reference's per-id getContent fetch
            batch_ids = comments.filter(F.col("parent_author") == "").select(
                surrogate_id("author", "permlink").alias("post_id")
            )
            auth = self.authoritative.join(batch_ids, "post_id", "left_semi")
        post_upserts = comments_to_post_upserts(comments, authoritative=auth)
        have_comments = (
            type_counts["comment"] > 0
            if type_counts is not None
            else not comments.isEmpty()
        )
        if have_comments:
            # DELIBERATELY SEQUENTIAL: a round-9 experiment ran this
            # merge concurrently with the index merge below (the
            # accounts-path pattern; both derive from post_upserts)
            # and measured ~11% off a 300-block round, noise-band at
            # 1000 — but the posts merge's partition RESOLUTION reads
            # posts_index (slim_idx) while the index merge SWAPS those
            # bucket directories: a rename-under-reader race Spark's
            # lazy file listing turns into FileNotFoundException task
            # failures under load. The stores are not disjoint, unlike
            # the accounts path, so the fold was reverted (BENCH.md
            # round 9 records the measurement and the decision).
            merge_parquet(
                self.spark,
                self.posts_dir,
                post_upserts,
                key_cols=["post_id"],
                merge_exprs={
                    # votes accumulate across rounds; a re-upserted post
                    # must not clear them (scripted set-add semantics)
                    "upvotes": keep_target,
                    "downvotes": keep_target,
                },
                partition_cols=["year", "month"],
                partition_source=slim_idx,
                target_schema=POSTS_SCHEMA,
            )
            # maintain the index (insert-only: the resolved location of
            # an existing post never changes)
            merge_parquet(
                self.spark,
                self.posts_index_dir,
                post_upserts.select("post_id", "year", "month").withColumn(
                    "bucket", _bucket("post_id", N_INDEX_BUCKETS)
                ),
                key_cols=["post_id"],
                merge_exprs={"year": keep_target, "month": keep_target},
                partition_cols=["bucket"],
                partition_stable=True,
                target_schema=INDEX_SCHEMA,
            )
            idx = self.posts_index()  # same-batch comment+vote resolves
            slim_idx = idx.select("post_id", "year", "month")

            if self.enable_reply_tag_updates:
                # reply-driven tag updates (intended handleReply,
                # P7/J5): update-only — a reply to a nonexistent post
                # is dropped. Off by default: dead code in the shipped
                # reference (see the dataclass field note).
                tag_updates = replies_to_tag_updates(comments).join(slim_idx, "post_id")
                merge_parquet(
                    self.spark,
                    self.posts_dir,
                    tag_updates,
                    key_cols=["post_id"],
                    partition_cols=["year", "month"],
                    partition_stable=True,  # year/month come from the index
                    target_schema=POSTS_SCHEMA,
                )

        # votes: set-add into the posts table (S11/A1). The existence
        # probe (J1) runs against the slim index, not the posts table —
        # and only against the index BUCKETS the batch's keys hash to,
        # so probe cost is O(touched buckets), not O(index). (On a
        # warehouse with dynamic partition pruning / Delta this filter
        # is derived automatically from the join.)
        have_votes = (
            type_counts["vote"] > 0
            if type_counts is not None
            else not votes.isEmpty()
        )
        if have_votes:
            if vote_buckets is None:
                vote_buckets = [
                    r["b"]
                    for r in votes.select(
                        F.pmod(
                            F.xxhash64(surrogate_id("author", "permlink")),
                            F.lit(N_INDEX_BUCKETS),
                        ).cast("int").alias("b")
                    )
                    .distinct()
                    .collect()
                ]
            probe_idx = idx.filter(F.col("bucket").isin(vote_buckets)).select(
                "post_id", "year", "month"
            )
            vote_upserts = votes_to_vote_upserts(votes, probe_idx).select(
                "post_id",
                F.col("upvotes_add").alias("upvotes"),
                F.col("downvotes_add").alias("downvotes"),
            )
            keyed = vote_upserts.join(probe_idx, "post_id")
            merge_parquet(
                self.spark,
                self.posts_dir,
                keyed,
                key_cols=["post_id"],
                merge_exprs={"upvotes": set_union, "downvotes": set_union},
                partition_cols=["year", "month"],
                partition_stable=True,  # year/month come from the index
                target_schema=POSTS_SCHEMA,
            )

    def run(self, source: DataFrame, batch_size: int = 30, stop_block: int | None = None) -> int:
        """Reference main loop (listener.js:157-195): consume
        `source` from the checkpoint cursor in `batch_size` block
        rounds; advance the cursor only after all merges commit.
        Returns the final cursor."""
        cursor = read_cursor(self.spark, self.cursor_path, default=0)
        max_block_row = source.agg(F.max("block_num")).first()
        if max_block_row is None or max_block_row[0] is None:
            return cursor
        last = int(max_block_row[0])
        if stop_block is not None:
            last = min(last, stop_block - 1)
        while cursor <= last:
            t0 = time.perf_counter()
            hi = min(cursor + batch_size, last + 1)
            batch = source.filter(
                (F.col("block_num") >= cursor) & (F.col("block_num") < hi)
            )
            # P3/P4 guards in one pass: count rows + malformed rows —
            # plus the per-type counts the posts chain's emptiness
            # probes need, so the same single job replaces the two
            # isEmpty() jobs process_batch used to run (r13) — plus
            # the distinct vote-key index buckets (bounded by
            # N_INDEX_BUCKETS), so the vote path's per-round
            # distinct+collect job folds in here too (r14).  The
            # bucket arithmetic is byte-identical to the probe path:
            # from_json(op) → surrogate author/permlink key →
            # xxhash64 → pmod (classify extracts the same fields from
            # the same payload; a test pins the equivalence).
            vp = F.from_json("op", VOTE_SCHEMA)
            vbucket = F.pmod(
                F.xxhash64(surrogate_id(vp["author"], vp["permlink"])),
                F.lit(N_INDEX_BUCKETS),
            ).cast("int")
            stats = batch.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(F.col("op").isNull() | F.col("op_type").isNull(), 1).otherwise(0)
                ).alias("bad"),
                F.count(F.when(F.col("op_type") == "comment", 1)).alias("n_comment"),
                F.count(F.when(F.col("op_type") == "vote", 1)).alias("n_vote"),
                F.collect_set(
                    F.when(F.col("op_type") == "vote", vbucket)
                ).alias("vote_buckets"),
            ).first()
            if stats["bad"]:
                # reference exits hard on failed blocks (listener.js:128-132)
                raise ValueError(
                    f"failed batch [{cursor}, {hi}): {stats['bad']} malformed ops"
                )
            if stats["n"] == 0:
                # P3: empty batch — advance the cursor, skip all work,
                # but still beat: the reference pings its monitor after
                # EVERY round (listener.js:145), so a liveness monitor
                # must not see silence across long empty block spans
                lo, cursor = cursor, hi
                write_cursor(self.spark, self.cursor_path, cursor, dry_run=self.dry_run)
                if self.heartbeat is not None:
                    self.heartbeat(
                        {
                            "cursor": cursor,
                            "batch_lo": lo,
                            "batch_hi": hi,
                            "n_ops": 0,
                            "elapsed_s": round(time.perf_counter() - t0, 3),
                        }
                    )
                continue
            self.process_batch(
                batch,
                type_counts={
                    "comment": int(stats["n_comment"]),
                    "vote": int(stats["n_vote"]),
                },
                vote_buckets=[int(b) for b in stats["vote_buckets"]],
            )
            lo, cursor = cursor, hi
            write_cursor(self.spark, self.cursor_path, cursor, dry_run=self.dry_run)
            if self.heartbeat is not None:
                # after the commit, like the reference (listener.js:145)
                self.heartbeat(
                    {
                        "cursor": cursor,
                        "batch_lo": lo,
                        "batch_hi": hi,
                        "n_ops": int(stats["n"]),
                        "elapsed_s": round(time.perf_counter() - t0, 3),
                    }
                )
        return cursor

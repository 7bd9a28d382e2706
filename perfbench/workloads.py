"""The benchmark workloads.

Each workload has ``setup(seconds)`` (timed into ``setup_s``),
``measure(seconds)`` (one measured phase; a traced run measures three),
``instrument(tracer)`` (the layer patches of a traced phase),
``layer_metrics`` and ``check()`` (output checks, outside every timed
section).

* ``sync_tail`` — open loop. Setup lands 12 months of history as
  JSON-lines files and drains them into a fresh store with one
  catch-up ``SyncEngine.run`` (the restart/backfill path; its rate is
  the workload's throughput). Live blocks then arrive every
  ``TAIL_INTERVAL_S``; the listener polls every ``POLL_PERIOD_S`` (at
  once when a cycle overran), fetches the arrived blocks through
  ``NodePool.fetch`` + ``ops_from_rpc`` and runs one round (batch 30);
  the fixed store reads follow each commit and the muting job runs
  after every ``MUTE_EVERY``-th poll.
* ``query_mix`` — closed loop, one client: the ``metrics.QUERIES``
  list, each timed construct + execute, in whole passes after a
  warm-up query.
"""

from __future__ import annotations

import math
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import opgen
import oracle
import tablegen
from metrics import ANALYTICS_QUERIES, MERGE_TARGETS, QUERIES, READ_KINDS, median, tail
from tracing import Tracer, parquet_files, rewritten

from chain_sync_spark.functions.hashing import surrogate_id
from chain_sync_spark.plans import audit
from chain_sync_spark.registry import all_oracles, all_queries, pending_queries
from chain_sync_spark.sources import blocks as blocks_mod
from chain_sync_spark.sources import rpc as rpc_mod
from chain_sync_spark.sync import engine as engine_mod
from chain_sync_spark.sync import merge as merge_mod
from chain_sync_spark.sync import mutings as mutings_mod

HISTORY_BLOCKS = 1000  # 12 months of history, drained in one catch-up round
TAIL_BATCH = 30  # blocks per live round (the reference's batch)
# Live block arrival interval (the open-loop rate). A live cycle (round
# + reads + muting) takes about 10 s on 4 cores and can take 30 blocks,
# so 1.7 blocks a second fill about two thirds of the listener's
# capacity, and a 20 s phase has 50 blocks: enough for a freshness tail.
TAIL_INTERVAL_S = 0.6
# Blocks already waiting when a measured phase starts (what one cycle
# leaves behind in the steady state); the first poll takes them at once.
TAIL_BACKLOG = 18
POLL_PERIOD_S = 3.0  # listener poll period (the reference's)
MUTE_EVERY = 2  # the muting job runs after polls 1, 3, 5, ...
READS_PER_KIND = 2  # store reads of each kind after each commit


@dataclass
class Phase:
    """Samples of one measured phase."""

    units: int = 0  # rounds / queries completed
    busy_s: float = 0.0  # their summed time (poll to commit / construct + execute)
    latency: list[float] = field(default_factory=list)
    reads: list[tuple[str, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rounds: list[dict] = field(default_factory=list)  # per round / per query
    polls: list[dict] = field(default_factory=list)


def job_mark(spark: SparkSession) -> int:
    """Highest Spark job id started so far (StatusTracker)."""
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


def latency_metrics(phase: Phase) -> dict[str, float]:
    reads = [dt for _k, dt in phase.reads]
    return {
        "latency_p50_s": median(phase.latency),
        "latency_tail_s": tail(phase.latency)[0],
        "read_p50_s": median(reads),
        "read_tail_s": tail(reads)[0],
    }


class SyncTail:
    name = "sync_tail"
    history_blocks = HISTORY_BLOCKS
    ops_per_block = opgen.OpMix.ops_per_block

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.rng = random.Random(seed)
        self.store_dir = os.path.join(work_dir, "store")
        self.beats: list[tuple[float, dict]] = []
        self.engine = engine_mod.SyncEngine(spark, self.store_dir, heartbeat=self._beat)
        self.cursor = 0
        self.mute_cursor = 0
        self.failures: list[str] = []
        self.tracer: Tracer | None = None
        # expected state, advanced as blocks commit
        self._last_active: dict[str, datetime] = {}
        self._months: list[tuple[int, int]] = []
        self._n_posts = 0

    def _beat(self, stats: dict) -> None:
        self.beats.append((time.perf_counter(), stats))

    def _set_ctx(self, ctx) -> None:
        if self.tracer is not None:
            self.tracer.context = ctx

    def setup(self, seconds: float) -> None:
        # live blocks for the three phases of a traced run, with a margin
        n_live = 3 * (TAIL_BACKLOG + math.ceil(seconds / TAIL_INTERVAL_S)) + TAIL_BATCH
        self.stream = opgen.generate(self.seed, HISTORY_BLOCKS, n_live)
        self.transport = opgen.BlockTransport(opgen.rpc_results(self.stream))
        self.pool = rpc_mod.NodePool(["http://node-a.invalid", "http://node-b.invalid"])
        self.roles = self.spark.createDataFrame(self.stream.roles(), "account string, role string")
        src = os.path.join(self.work_dir, "history")
        self.history_bytes = opgen.land_json(self.stream, src, 0, HISTORY_BLOCKS)
        t0 = time.perf_counter()
        self.engine.run(blocks_mod.ops_from_json(self.spark, src), batch_size=HISTORY_BLOCKS)
        self.catchup_blocks_per_s = HISTORY_BLOCKS / (time.perf_counter() - t0)
        self._advance(HISTORY_BLOCKS)

    # -- expected state -------------------------------------------------
    def _advance(self, new_cursor: int) -> None:
        for b in self.stream.blocks[self.cursor:new_cursor]:
            ym = (b.ts.year, b.ts.month)
            if not self._months or self._months[-1] != ym:
                self._months.append(ym)
            for t, p in b.ops:
                key = {"comment": "author", "vote": "voter", "account_update": "account"}.get(t)
                if key:
                    acct = p[key]
                    if acct not in self._last_active or self._last_active[acct] < b.ts:
                        self._last_active[acct] = b.ts
        posts = self.stream.posts
        while self._n_posts < len(posts) and posts[self._n_posts][2] < new_cursor:
            self._n_posts += 1
        self.cursor = new_cursor

    def _round_upserts(self, lo: int, hi: int) -> dict[str, int]:
        """Rows each merge target must take for blocks [lo, hi): the
        base of the merge useful-ratio."""
        posts, accounts, voted = set(), set(), set()
        existing = {(a, p) for a, p, blk in self.stream.posts if blk < hi}
        for b in self.stream.blocks[lo:hi]:
            for t, p in b.ops:
                if t == "comment":
                    accounts.add(p["author"])
                    if p["parent_author"] == "":
                        posts.add((p["author"], p["permlink"]))
                elif t == "vote":
                    accounts.add(p["voter"])
                    if (p["author"], p["permlink"]) in existing:
                        voted.add((p["author"], p["permlink"]))
                elif t == "account_update":
                    accounts.add(p["account"])
        return {"posts": len(posts), "posts_index": len(posts),
                "accounts": len(accounts), "votes": len(voted)}

    # -- store reads ----------------------------------------------------
    def _post_lookup(self, author: str, permlink: str) -> bool:
        pid = surrogate_id(F.lit(author), F.lit(permlink))
        loc = self.engine.posts_index().filter(F.col("post_id") == pid).select("year", "month").collect()
        if len(loc) != 1:
            return False
        y, m = loc[0]
        rows = (
            self.engine.existing_posts()
            .filter((F.col("year") == y) & (F.col("month") == m) & (F.col("post_id") == pid))
            .select("author", "permlink")
            .collect()
        )
        return len(rows) == 1 and tuple(rows[0]) == (author, permlink)

    def _month_top_tags(self, year: int, month: int) -> bool:
        rows = (
            self.engine.existing_posts()
            .filter((F.col("year") == year) & (F.col("month") == month))
            .select(F.explode("tags").alias("tag"))
            .groupBy("tag")
            .count()
            .orderBy(F.desc("count"), "tag")
            .limit(10)
            .collect()
        )
        counts = [r["count"] for r in rows]
        return 0 < len(rows) <= 10 and counts == sorted(counts, reverse=True)

    def _account_lookup(self, name: str) -> bool:
        bucket = F.pmod(F.xxhash64(F.lit(name)), F.lit(engine_mod.N_ACCOUNT_BUCKETS))
        rows = (
            self.spark.read.parquet(self.engine.accounts_dir)
            .filter((F.col("bucket") == bucket) & (F.col("name") == name))
            .select("last_active")
            .collect()
        )
        return len(rows) == 1 and rows[0][0] == self._last_active[name]

    def _read_targets(self) -> list[tuple[str, tuple]]:
        """Per kind: the newest state first (a recent post, the current
        month), then the older store."""
        posts = self.stream.posts[: self._n_posts]
        names = sorted(self._last_active)
        out: list[tuple[str, tuple]] = []
        for i in range(READS_PER_KIND):
            lo = max(0, len(posts) - 100) if i == 0 else 0
            a, p, _ = posts[self.rng.randrange(lo, len(posts))]
            out.append(("post_lookup", (a, p)))
            out.append(("month_top_tags", self._months[-1] if i == 0 else self.rng.choice(self._months)))
            out.append(("account_lookup", (self.rng.choice(names),)))
        return out

    def _read_after_commit(self, phase: Phase) -> None:
        fns = {"post_lookup": self._post_lookup, "month_top_tags": self._month_top_tags,
               "account_lookup": self._account_lookup}
        for i, (kind, args) in enumerate(self._read_targets()):
            self._set_ctx(("read", self.cursor, i))
            t0 = time.perf_counter()
            try:
                ok = fns[kind](*args)
                error = "wrong result"
            except Exception as e:  # a failed read is counted; the run goes on
                ok, error = False, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            phase.attempted += 1
            if ok:
                phase.reads.append((kind, dt))
            else:
                phase.failed += 1
                self.failures.append(f"{kind}{args}: {error}")

    # -- the listener loop ------------------------------------------------
    def _poll(self, phase: Phase, arrived: int, sched: dict[int, float]) -> None:
        lo, hi = self.cursor, min(arrived, self.cursor + TAIL_BATCH)
        self._set_ctx(("round", lo))
        t0 = time.perf_counter()
        responses = self.pool.fetch(self.transport, rpc_mod.build_block_requests(lo, hi - lo))
        ops = rpc_mod.ops_from_rpc(self.spark, lo, responses)
        t_fetched = time.perf_counter()
        self.engine.run(ops, batch_size=TAIL_BATCH)
        t_commit, stats = self.beats[-1]
        phase.rounds.append({"lo": lo, "hi": hi, "elapsed_s": stats["elapsed_s"],
                             "upserts": self._round_upserts(lo, hi) if self.tracer else None})
        phase.polls.append({"backlog": arrived - lo, "fetch_s": t_fetched - t0,
                            "ops": sum(len(r["result"]) for r in responses)})
        phase.attempted += 1
        phase.units += 1
        phase.busy_s += t_commit - t0
        phase.latency += [t_commit - sched[b] for b in range(lo, hi)]
        self._advance(hi)

    def _mute(self) -> None:
        self._set_ctx(("muting", self.cursor))
        mutings_mod.apply_community_mutings(
            self.spark, self.engine.posts_dir, self.roles, opgen.COMMUNITY
        )
        self.mute_cursor = self.cursor

    def measure(self, seconds: float) -> Phase:
        """A backlog of ``TAIL_BACKLOG`` blocks plus the blocks arriving
        over ``seconds``, polled until every one of them is committed.
        Freshness runs from a block's scheduled arrival to the commit of
        its round."""
        phase = Phase()
        first = self.cursor
        t0 = time.perf_counter()
        n_offered = TAIL_BACKLOG + math.ceil(seconds / TAIL_INTERVAL_S)
        sched = {first + i: t0 + (i - TAIL_BACKLOG) * TAIL_INTERVAL_S for i in range(n_offered)}
        next_poll = t0
        while self.cursor < first + n_offered:
            time.sleep(max(0.0, next_poll - time.perf_counter()))
            next_poll += POLL_PERIOD_S
            waited = int((time.perf_counter() - t0) / TAIL_INTERVAL_S) + 1
            arrived = first + min(n_offered, TAIL_BACKLOG + waited)
            try:
                self._poll(phase, arrived, sched)
                self._read_after_commit(phase)
                if len(phase.polls) % MUTE_EVERY == 1:
                    self._mute()
            except Exception as e:  # the store cannot move on: count it and stop
                phase.attempted += 1
                phase.failed += 1
                self.failures.append(f"poll at block {self.cursor}: {type(e).__name__}: {e}")
                break
        self._set_ctx(None)
        return phase

    def end_to_end(self, phase: Phase) -> dict[str, float]:
        return {"throughput_per_s": self.catchup_blocks_per_s, **latency_metrics(phase)}

    def check(self, inject_mismatch: bool = False) -> list[str]:
        expected = oracle.expected_store(
            self.stream.rows(0, self.cursor), self.cursor, self.stream.muted, self.mute_cursor
        )
        if inject_mismatch:
            posts, accounts = expected
            expected = (set(sorted(posts)[1:]), accounts)
        return oracle.store_mismatches(self.store_dir, expected)

    # -- tracing ----------------------------------------------------------
    def instrument(self, tracer: Tracer) -> None:
        self.tracer = tracer
        spark = self.spark
        eng = engine_mod.SyncEngine

        def jobs_before(*_a, **_k):
            return job_mark(spark)

        def jobs_after(sp, mark, *_a, **_k):
            sp.attrs["jobs"] = job_mark(spark) - mark

        def merge_label(*args, **kwargs) -> str:
            target = os.path.basename(args[1].rstrip("/"))
            exprs = kwargs.get("merge_exprs") or (args[4] if len(args) > 4 else None) or {}
            if target == "posts" and "muted_in_community" in exprs:
                return "sync.merge.mutings"
            if target == "posts" and exprs.get("upvotes") is merge_mod.set_union:
                return "sync.merge.votes"
            return f"sync.merge.{target}"

        def merge_before(*args, **_k):
            return parquet_files(args[1])

        def merge_after(sp, snap, _res, *args, **_k):
            parts, n_bytes, rows = rewritten(args[1], snap)
            sp.attrs.update(partitions=parts, bytes=n_bytes, rows=rows)

        tracer.patch(eng, "run", "sync.engine.run", jobs_before, jobs_after)
        tracer.patch(eng, "process_batch", "sync.engine.process_batch")
        tracer.patch(eng, "posts_index", "sync.engine.posts_index")
        tracer.patch(eng, "existing_posts", "sync.engine.existing_posts")
        tracer.patch(engine_mod, "classify", "sync.classify.construct")
        for fn in ("comments_to_post_upserts", "votes_to_vote_upserts", "account_activity_upserts"):
            tracer.patch(engine_mod, fn, "sync.handlers.construct")
        for mod in (engine_mod, mutings_mod):
            tracer.patch(mod, "merge_parquet", merge_label, merge_before, merge_after)
        for mod in (engine_mod, merge_mod, mutings_mod):
            tracer.patch(mod, "recover_table", "sync.merge.recover")
        for fn in ("read_cursor", "write_cursor"):
            tracer.patch(engine_mod, fn, "sources.checkpoint")
        tracer.patch(rpc_mod.NodePool, "fetch", "sources.rpc.fetch")
        tracer.patch(rpc_mod, "ops_from_rpc", "sources.rpc.ops_from_rpc")
        tracer.patch(mutings_mod, "apply_community_mutings", "sync.mutings.apply")

    def layer_metrics(self, tracer: Tracer, phase: Phase) -> dict[str, float]:
        rounds = max(len(phase.rounds), 1)
        own = tracer.self_times()

        def in_rounds(name: str) -> list:
            return [s for s in tracer.named(name) if isinstance(s.ctx, tuple) and s.ctx[0] == "round"]

        def per_round(name: str) -> float:
            return sum(s.duration for s in in_rounds(name)) / rounds

        runs = in_rounds("sync.engine.run")
        out = {
            "sources.rpc.fetch_parse_s": sum(p["fetch_s"] for p in phase.polls) / rounds,
            "sources.rpc.ops": sum(p["ops"] for p in phase.polls) / rounds,
            "sources.backlog_max_blocks": float(max((p["backlog"] for p in phase.polls), default=0)),
            "sources.json.input_bytes_per_round": float(self.history_bytes),
            "sources.checkpoint.s": per_round("sources.checkpoint"),
            "sync.engine.round_s": sum(r["elapsed_s"] for r in phase.rounds) / rounds,
            "sync.engine.jobs_per_round": sum(s.attrs.get("jobs", 0) for s in runs) / rounds,
            "sync.engine.stats_s": sum(own[s.id] for s in runs) / rounds,
            "sync.engine.process_batch_s": per_round("sync.engine.process_batch"),
            "sync.engine.posts_index_s": per_round("sync.engine.posts_index"),
            "sync.handlers.construct_s": (
                per_round("sync.classify.construct") + per_round("sync.handlers.construct")
            ),
            "sync.merge.recover_s": per_round("sync.merge.recover"),
        }
        for t in MERGE_TARGETS:
            spans = in_rounds(f"sync.merge.{t}")
            rows = sum(s.attrs.get("rows", 0) for s in spans)
            useful = sum(r["upserts"][t] for r in phase.rounds)
            out[f"sync.merge.{t}.s"] = sum(s.duration for s in spans) / rounds
            out[f"sync.merge.{t}.partitions_rewritten"] = sum(s.attrs.get("partitions", 0) for s in spans) / rounds
            out[f"sync.merge.{t}.bytes_rewritten"] = sum(s.attrs.get("bytes", 0) for s in spans) / rounds
            out[f"sync.merge.{t}.useful_ratio"] = useful / rows if rows else 0.0
        applies = tracer.named("sync.mutings.apply")
        mute_merges = tracer.named("sync.merge.mutings")
        if applies:
            out["sync.mutings.apply_s"] = sum(s.duration for s in applies) / len(applies)
            out["sync.mutings.partitions_rewritten"] = (
                sum(s.attrs.get("partitions", 0) for s in mute_merges) / len(applies)
            )
        for kind in READ_KINDS:
            times = [dt for k, dt in phase.reads if k == kind]
            out[f"store.read.{kind}_s"] = sum(times) / len(times) if times else 0.0
        for table in ("posts", "posts_index"):
            files = parquet_files(os.path.join(self.store_dir, table))
            out[f"store.{table}.files"] = float(sum(len(f) for f in files.values()))
        return out


class QueryMix:
    name = "query_mix"

    def __init__(self, spark: SparkSession, work_dir: str, seed: int, root: str):
        self.spark = spark
        self.sf_dir = os.path.join(work_dir, "tables")
        self.seed = seed
        self.root = root
        self.tracer: Tracer | None = None
        queries, oracles = dict(all_queries()), dict(all_oracles())
        staged_queries, staged_oracles = pending_queries()
        queries.update(staged_queries)
        oracles.update(staged_oracles)
        self.fns = {q: queries[q] for q in QUERIES}
        self.oracles = {q: oracles[q] for q in QUERIES}
        self.samples: list[tuple[str, list[str], list[tuple]]] = []  # checked later
        self.failures: list[str] = []

    def setup(self, seconds: float) -> None:
        tablegen.write_tables(self.seed, self.sf_dir)
        # Warm-up: the JVM's first query pays class loading and JIT
        # (about 6 s on 4 cores, ten times a warm run); later queries
        # pay little of it, so one query stands in for a warm-up pass.
        self.fns[QUERIES[0]](self.spark, self.sf_dir).collect()

    def _one(self, phase: Phase, q: str) -> None:
        mark = job_mark(self.spark) if self.tracer else 0
        span = self.tracer.span if self.tracer else (lambda _name: nullcontext())
        t0 = time.perf_counter()
        try:
            with span(f"op.{q}.construct"):
                df = self.fns[q](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with span(f"op.{q}.execute"):
                rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
        except Exception as e:  # a failed query is counted; the run goes on
            phase.attempted += 1
            phase.failed += 1
            self.failures.append(f"{q}: {type(e).__name__}: {e}")
            return
        phase.attempted += 1
        phase.units += 1
        phase.busy_s += t2 - t0
        phase.latency.append(t2 - t0)
        if q in ANALYTICS_QUERIES:
            phase.reads.append((q, t2 - t0))
        rec = {"query": q, "construct_s": t1 - t0, "execute_s": t2 - t1}
        if self.tracer is not None:
            rec["jobs"] = job_mark(self.spark) - mark
            rec["exchanges"] = audit.exchanges(df)
        phase.rounds.append(rec)
        self.samples.append((q, df.columns, rows))

    def measure(self, seconds: float) -> Phase:
        """Whole passes over QUERIES until ``seconds`` have elapsed."""
        phase = Phase()
        t_end = time.perf_counter() + seconds
        while True:
            for q in QUERIES:
                self._one(phase, q)
            if time.perf_counter() >= t_end:
                return phase

    def check(self, inject_mismatch: bool = False) -> list[str]:
        checker = oracle.QueryChecker(self.root, self.sf_dir, self.oracles)
        problems = []
        try:
            for i, (q, cols, rows) in enumerate(self.samples):
                if inject_mismatch and i == 0:
                    rows = rows[1:]
                if checker.canon(cols, rows) != checker.expected(q):
                    problems.append(f"{q}: result differs from its DuckDB oracle")
        finally:
            checker.close()
        return problems

    def end_to_end(self, phase: Phase) -> dict[str, float]:
        return {"throughput_per_s": phase.units / phase.busy_s, **latency_metrics(phase)}

    def instrument(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def layer_metrics(self, tracer: Tracer, phase: Phase) -> dict[str, float]:
        out: dict[str, float] = {}
        for q in QUERIES:
            recs = [r for r in phase.rounds if r["query"] == q]
            n = max(len(recs), 1)
            for k in ("construct_s", "execute_s", "jobs", "exchanges"):
                out[f"op.{q}.{k}"] = sum(r[k] for r in recs) / n
            mod = "operators." + self.fns[q].__module__.rsplit(".", 1)[-1] + ".s"
            out[mod] = out.get(mod, 0.0) + out[f"op.{q}.construct_s"] + out[f"op.{q}.execute_s"]
        return out

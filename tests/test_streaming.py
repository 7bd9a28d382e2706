"""Structured Streaming runtime tests: the sync engine driven by
micro-batches reaches the same state as the batch loop, and windowed
aggregation with a watermark drops late rows and emits closed
windows."""

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from chain_sync_spark.streaming.stream_sync import (
    dedup_ops_within_watermark,
    join_votes_to_comments_stream,
    run_stream_sync,
    stream_ops_from_json,
    windowed_op_counts,
)
from chain_sync_spark.sync.engine import SyncEngine


def _write_ops_file(path, rows):
    with open(path, "w") as f:
        for block, ts, op_type, payload in rows:
            f.write(
                json.dumps(
                    {"block_num": block, "ts": ts, "op_type": op_type,
                     "op": json.dumps(payload)}
                )
                + "\n"
            )


def _comment(author, permlink, parent_author=""):
    return {
        "author": author, "permlink": permlink, "parent_author": parent_author,
        "parent_permlink": "cat1", "title": "T", "body": "hello #x",
        "json_metadata": json.dumps({"tags": ["a"], "image": []}),
    }


def test_stream_sync_matches_batch_engine(spark, tmp_path):
    src = tmp_path / "ops"
    src.mkdir()
    _write_ops_file(
        src / "part-0.json",
        [
            (1, "2024-03-05T12:00:00Z", "comment", _comment("alice", "p1")),
            (2, "2024-03-05T12:00:03Z", "vote",
             {"voter": "v1", "author": "alice", "permlink": "p1", "weight": 100}),
        ],
    )
    _write_ops_file(
        src / "part-1.json",
        [
            (3, "2024-03-05T12:00:06Z", "comment", _comment("bob", "p2")),
            (4, "2024-03-05T12:00:09Z", "vote",
             {"voter": "v2", "author": "bob", "permlink": "p2", "weight": -10}),
        ],
    )
    eng = SyncEngine(spark, str(tmp_path / "store"))
    ops = stream_ops_from_json(spark, str(src), max_files_per_trigger=1)
    q = run_stream_sync(eng, ops, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    posts = {r["permlink"]: r for r in
             spark.read.parquet(f"{tmp_path}/store/posts").collect()}
    assert set(posts) == {"p1", "p2"}
    assert posts["p1"]["upvotes"] == ["v1"]
    assert posts["p2"]["downvotes"] == ["v2"]
    accts = {r["name"] for r in
             spark.read.parquet(f"{tmp_path}/store/accounts").collect()}
    assert {"alice", "bob", "v1", "v2"} <= accts


def test_stateful_running_activity_survives_restart(spark, tmp_path):
    """applyInPandasWithState: per-account running totals accumulate
    in the state store and persist across availableNow restarts via
    the checkpoint."""
    from chain_sync_spark.streaming.stateful import running_account_activity

    src = tmp_path / "ops"
    src.mkdir()
    out = str(tmp_path / "activity")

    def _run():
        ops = stream_ops_from_json(spark, str(src))
        running = running_account_activity(ops)
        q = (
            running.writeStream.foreachBatch(
                lambda batch_df, _id: batch_df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_ops_file(
        src / "a.json",
        [
            (1, "2024-03-05T12:00:00Z", "comment", _comment("alice", "p1")),
            (2, "2024-03-05T12:00:03Z", "vote",
             {"voter": "alice", "author": "alice", "permlink": "p1", "weight": 1}),
            (2, "2024-03-05T12:00:04Z", "vote",
             {"voter": "bob", "author": "alice", "permlink": "p1", "weight": 1}),
        ],
    )
    _run()
    # second run: one more alice op — state must carry the prior count
    _write_ops_file(
        src / "b.json",
        [(3, "2024-03-06T08:00:00Z", "comment", _comment("alice", "p2"))],
    )
    _run()
    rows = spark.read.parquet(out).collect()
    alice_counts = sorted(r["n_ops"] for r in rows if r["name"] == "alice")
    assert alice_counts == [2, 3]              # run1 total, then run2 total
    alice_last = max(r["last_active"] for r in rows if r["name"] == "alice")
    assert str(alice_last).startswith("2024-03-06")
    assert [r["n_ops"] for r in rows if r["name"] == "bob"] == [1]


@pytest.mark.slow
def test_stream_stream_join_within_lag(spark, tmp_path):
    """Stream-stream join: a vote within the lag window matches its
    comment; a vote on a different post does not; a vote far past
    the lag bound is excluded by the range condition."""
    src = tmp_path / "ops"
    src.mkdir()
    _write_ops_file(
        src / "a.json",
        [
            (1, "2024-03-05T12:00:00Z", "comment", _comment("alice", "p1")),
            (2, "2024-03-05T12:10:00Z", "vote",
             {"voter": "v1", "author": "alice", "permlink": "p1", "weight": 1}),
            (3, "2024-03-05T12:20:00Z", "vote",
             {"voter": "v2", "author": "bob", "permlink": "p9", "weight": 1}),
            (4, "2024-03-05T14:30:00Z", "vote",
             {"voter": "v3", "author": "alice", "permlink": "p1", "weight": 1}),
        ],
    )
    ops = stream_ops_from_json(spark, str(src))
    joined = join_votes_to_comments_stream(ops, "1 hour")
    out = str(tmp_path / "joined")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert [(r["voter"], r["permlink"]) for r in rows] == [("v1", "p1")]


def test_stream_static_dim_join(spark, tmp_path):
    """Stream-static join: each micro-batch enriches against a static
    dimension natively (no foreachBatch needed) — Spark re-plans the
    static side per batch, the streaming side stays incremental."""
    src = tmp_path / "ops"
    src.mkdir()
    _write_ops_file(
        src / "a.json",
        [
            (1, "2024-03-05T12:00:00Z", "comment", _comment("alice", "p1")),
            (2, "2024-03-05T12:00:03Z", "vote",
             {"voter": "v1", "author": "alice", "permlink": "p1", "weight": 1}),
            (3, "2024-03-05T12:00:06Z", "unknown_op", {}),
        ],
    )
    dim = spark.createDataFrame(
        [("comment", "content"), ("vote", "engagement")],
        "op_type string, category string",
    )
    ops = stream_ops_from_json(spark, str(src))
    enriched = ops.join(dim, "op_type", "left_outer").select(
        "block_num", "op_type", F.coalesce("category", F.lit("other")).alias("category")
    )
    out = str(tmp_path / "enriched")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["block_num"], r["category"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "content"), (2, "engagement"), (3, "other")}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: an op delivered twice in one
    batch is emitted once, and a whole-block redelivery in a later
    run (crash replay) is dropped via state carried in the
    checkpoint."""
    src = tmp_path / "ops"
    src.mkdir()
    out = str(tmp_path / "deduped")
    vote1 = {"voter": "v1", "author": "alice", "permlink": "p1", "weight": 100}

    def _run():
        ops = stream_ops_from_json(spark, str(src))
        q = (
            dedup_ops_within_watermark(ops, "30 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: block 1's vote arrives twice in the same batch
    _write_ops_file(
        src / "a.json",
        [
            (1, "2024-03-05T12:00:00Z", "vote", vote1),
            (1, "2024-03-05T12:00:00Z", "vote", vote1),
            (2, "2024-03-05T12:00:03Z", "comment", _comment("alice", "p1")),
        ],
    )
    _run()
    # run 2: block 1 redelivered wholesale, plus one genuinely new op
    _write_ops_file(
        src / "b.json",
        [
            (1, "2024-03-05T12:00:00Z", "vote", vote1),
            (3, "2024-03-05T12:00:06Z", "vote",
             {"voter": "v2", "author": "alice", "permlink": "p1", "weight": 50}),
        ],
    )
    _run()
    rows = spark.read.parquet(out).collect()
    assert sorted(r["block_num"] for r in rows) == [1, 2, 3]


@pytest.mark.slow
def test_windowed_stream_drops_late_rows(spark, tmp_path):
    """Watermark semantics across restarts: the watermark persists in
    the streaming checkpoint, so a row arriving in a later run that is
    older than the watermark is dropped and the closed window's count
    stays at the on-time rows."""
    src = tmp_path / "ops"
    src.mkdir()

    out = str(tmp_path / "win_counts")

    def _run(_name):
        ops = stream_ops_from_json(spark, str(src))
        agg = windowed_op_counts(ops, window="10 minutes", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).collect()

    # run 1: events up to 13:00 → watermark advances to 12:50
    _write_ops_file(
        src / "a.json",
        [
            (1, "2024-03-05T12:00:00Z", "vote", {}),
            (2, "2024-03-05T12:04:00Z", "vote", {}),
            (3, "2024-03-05T13:00:00Z", "comment", {}),
        ],
    )
    _run("wm_run1")
    # run 2: a row at 12:01 is far behind the checkpointed watermark
    _write_ops_file(
        src / "b.json",
        [(4, "2024-03-05T12:01:00Z", "vote", {})],
    )
    rows = _run("wm_run2")
    got = {(str(r["win_start"]), r["op_type"]): r["n_ops"] for r in rows}
    # the closed 12:00 window emitted with the on-time rows only —
    # the late 12:01 row was dropped, not merged and not re-emitted
    assert got.get(("2024-03-05 12:00:00", "vote")) == 2
    assert ("2024-03-05 12:01:00", "vote") not in got


def test_stream_rollup_matches_full_recompute_and_replay_contract(spark, tmp_path):
    """Incremental rollup maintenance under foreachBatch: merging each
    micro-batch's partial aggregate reproduces the full-recompute
    rollup exactly (DECIMAL sums — merge-order independent). The
    replay mark is keyed on (checkpoint identity, batch id) and
    commits atomically with the table: a restart on the SAME
    checkpoint re-delivers nothing, and the documented contract for a
    FRESH checkpoint is store-reset-together (re-pointing an existing
    store at a new checkpoint over an already-ingested source
    re-merges by design — the caller asserts the source is new data)."""
    import os

    from chain_sync_spark.operators.incremental import finalize_rollup, rollup_events
    from chain_sync_spark.streaming.stream_sync import (
        _read_commit_meta,
        run_stream_rollup,
    )
    from chain_sync_spark.tables import table

    keys = ["user_id", "event_type"]
    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_type", "value", "ts"
    )
    src = str(tmp_path / "src")
    ev.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "rollup_store")

    def _stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    ckpt1 = str(tmp_path / "ckpt1")
    q = run_stream_rollup(_stream(), store, keys, ckpt1)
    q.awaitTermination(120)

    def _canon(df):
        return sorted(map(str, df.select(sorted(df.columns)).collect()))

    # parity vs a batch full-recompute over the SAME json files (the
    # json sink stores millisecond timestamps, so compare post-sink)
    ev_json = spark.read.schema(ev.schema).json(src)
    got = finalize_rollup(spark.read.parquet(store))
    exp = finalize_rollup(rollup_events(ev_json, keys))
    assert _canon(got) == _canon(exp)

    # the mark committed atomically inside the store, keyed to ckpt1
    meta = _read_commit_meta(store)
    assert meta["checkpoint"] == os.path.realpath(ckpt1)
    assert meta["batch_id"] == 2  # 3 single-file micro-batches: 0,1,2

    # restart on the SAME checkpoint: offsets are committed, nothing
    # re-delivers, store unchanged
    q2 = run_stream_rollup(_stream(), store, keys, ckpt1)
    q2.awaitTermination(120)
    assert _canon(finalize_rollup(spark.read.parquet(store))) == _canon(exp)

    # fresh checkpoint, store reset together (the documented contract)
    # → exact same result
    import shutil

    shutil.rmtree(store)
    q3 = run_stream_rollup(_stream(), store, keys, str(tmp_path / "ckpt2"))
    q3.awaitTermination(120)
    assert _canon(finalize_rollup(spark.read.parquet(store))) == _canon(exp)


@pytest.mark.slow
def test_stream_rollup_replay_mark_skips_redelivered_batch(spark, tmp_path):
    """foreachBatch at-least-once redelivery: a batch id at-or-below
    the committed high-water mark under the SAME checkpoint must be a
    no-op, while the same batch id under a DIFFERENT checkpoint merges
    (batch ids restart at 0 on checkpoint reset — the round-3 advice
    hazard: new data must not be silently skipped)."""
    from chain_sync_spark.operators.incremental import finalize_rollup
    from chain_sync_spark.streaming.stream_sync import run_stream_rollup

    rows = [(1, "vote", 2.0, "2024-03-05 12:00:00")]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, value double, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    ev.coalesce(1).write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    keys = ["user_id", "event_type"]

    def _run(ckpt):
        q = run_stream_rollup(
            spark.readStream.schema(ev.schema).json(src), store, keys, str(ckpt)
        )
        q.awaitTermination(60)

    _run(tmp_path / "ck_a")  # batch 0 merges: sum=2.0

    def _sum():
        row = finalize_rollup(spark.read.parquet(store)).collect()[0]
        return float(row["sum_value"])

    assert _sum() == 2.0
    # same data, FRESH checkpoint, store NOT reset → batch 0 again, but
    # under a new checkpoint identity: merges again (documented
    # double-count — proves new-data-under-new-checkpoint is not lost)
    _run(tmp_path / "ck_b")
    assert _sum() == 4.0


def test_stream_rollup_crash_recovery_windows(spark, tmp_path):
    """_recover_store repairs every crash window of the store swap:
    leftover staging is discarded, a half-swapped store (old aside,
    new never landed) restores the previous table, and a stale .old
    beside a committed store is cleared."""
    import os
    import shutil

    from chain_sync_spark.streaming.stream_sync import _recover_store

    store = str(tmp_path / "store")
    df = spark.range(3).withColumnRenamed("id", "k")

    # window 1: crash mid-staging-write → staging removed, no store
    os.makedirs(store + ".staging")
    _recover_store(store)
    assert not os.path.exists(store + ".staging")

    # window 2: crash between store→old and staging→store → restore old
    df.write.mode("overwrite").parquet(store)
    os.replace(store, store + ".old")
    os.makedirs(store + ".staging")  # half-written new table
    _recover_store(store)
    assert os.path.isdir(store) and not os.path.exists(store + ".old")
    assert spark.read.parquet(store).count() == 3

    # window 3: crash after commit, before .old cleanup → clear .old
    shutil.copytree(store, store + ".old")
    _recover_store(store)
    assert os.path.isdir(store) and not os.path.exists(store + ".old")


@pytest.mark.slow
def test_stream_neardup_index_maintains_and_flags(spark, tmp_path):
    """Streaming near-dup index maintenance: batch 1's docs seed the
    index; batch 2's near-copy of doc 0 is flagged against the STORED
    index (cross-batch), its bands never enter the index, and distinct
    docs survive. Same-checkpoint restart changes nothing."""
    import json as _json
    import os

    from chain_sync_spark.streaming.stream_sync import (
        read_store_table,
        run_stream_neardup_index,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain keeps falling on the quiet grey town tonight")
    near = base.replace("dog", "cat")
    other = ("completely different words about spark shuffles parquet files "
             "and the costs of wide joins at terabyte scale in production")
    third = ("fresh unrelated sentence mentioning gardens rivers mountains "
             "painting music chess and long walks beside the autumn shore")

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    def _write(name, rows, mtime):
        path = os.path.join(src, name)
        with open(path, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")
        os.utime(path, (mtime, mtime))

    _write("b0.json", [{"doc_id": 0, "text": base},
                       {"doc_id": 1, "text": other}], 1_700_000_000)
    _write("b1.json", [{"doc_id": 2, "text": near},
                       {"doc_id": 3, "text": third}], 1_700_000_100)

    store = str(tmp_path / "nd_store")
    ckpt = str(tmp_path / "nd_ckpt")

    def _stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    q = run_stream_neardup_index(_stream(), store, ckpt)
    q.awaitTermination(120)

    _DEC = "doc_id long, is_dup boolean, dup_of long, batch_id long"
    dec = {r["doc_id"]: r for r in
           read_store_table(spark, store, "decisions", _DEC).collect()}
    assert len(dec) == 4
    assert not dec[0]["is_dup"] and not dec[1]["is_dup"] and not dec[3]["is_dup"]
    assert dec[2]["is_dup"] and dec[2]["dup_of"] == 0      # cross-batch, via stored index
    assert dec[0]["batch_id"] == 0 and dec[2]["batch_id"] == 1

    # duplicates never enter the index; survivors do
    indexed = {r["doc_id"] for r in read_store_table(
        spark, store, "shingles", "doc_id long, sh array<string>").collect()}
    assert indexed == {0, 1, 3}
    bands = read_store_table(
        spark, store, "bands", "doc_id long, band_idx int, bkey string")
    assert bands.filter(F.col("doc_id") == 2).count() == 0

    # append-only layout: one delta dir per batch under each table
    for t in ("bands", "shingles", "decisions"):
        assert os.path.isdir(f"{store}/{t}/delta-00000000")
        assert os.path.isdir(f"{store}/{t}/delta-00000001")

    # restart on the same checkpoint: no redelivery, store unchanged
    before = sorted(map(str, read_store_table(spark, store, "decisions", _DEC).collect()))
    q2 = run_stream_neardup_index(_stream(), store, ckpt)
    q2.awaitTermination(120)
    after = sorted(map(str, read_store_table(spark, store, "decisions", _DEC).collect()))
    assert before == after


def test_stream_profile_matches_batch_profile_and_replays_safely(spark, tmp_path):
    """Streaming profile maintenance: merging per-micro-batch partial
    profiles reproduces the single-pass batch profile over the same
    rows (all stats algebraic — counts add, min/max fold), and a
    replayed batch under the same checkpoint is a no-op."""
    from chain_sync_spark.operators.incremental import profile_stats
    from chain_sync_spark.streaming.stream_sync import run_stream_profile
    from chain_sync_spark.tables import table

    cols = ["user_id", "event_type", "value"]
    ev = table(spark, "/root/testdata/sf0.001", "events").select(*cols)
    src = str(tmp_path / "src")
    ev.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "profile_store")

    def _stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    ckpt = str(tmp_path / "ckpt")
    run_stream_profile(_stream(), store, cols, ckpt).awaitTermination(120)

    def _canon(df):
        return sorted(map(str, df.select(sorted(df.columns)).collect()))

    ev_json = spark.read.schema(ev.schema).json(src)
    exp = profile_stats(ev_json, cols)
    got = spark.read.parquet(store)
    assert _canon(got) == _canon(exp)
    assert got.count() == len(cols)

    # restart on the SAME checkpoint: no new files, nothing re-merges
    run_stream_profile(_stream(), store, cols, ckpt).awaitTermination(120)
    assert _canon(spark.read.parquet(store)) == _canon(exp)


def test_stream_pq_index_frozen_codebook_and_replay(spark, tmp_path):
    """Streaming PQ index: batch 0 trains the codebook and indexes its
    vectors; batch 1 is coded against the STORED (frozen) codebook; a
    re-delivered vec_id keeps its first codes; the resulting codes
    table equals the batch operator's assignment under the same
    codebook; restart on the same checkpoint changes nothing."""
    import json as _json
    import os

    import numpy as np

    from chain_sync_spark.operators import llm_pipeline as lp
    from chain_sync_spark.functions import sketches as sk
    from chain_sync_spark.streaming.stream_sync import (
        read_store_table,
        run_stream_pq_index,
    )

    rng = np.random.default_rng(5)
    vecs = {i: [float(x) for x in rng.normal(size=lp.EMB_DIM)] for i in range(24)}

    src = str(tmp_path / "emb_src")
    os.makedirs(src)

    def _write(name, ids, mtime):
        with open(os.path.join(src, name), "w") as fh:
            for i in ids:
                fh.write(_json.dumps({"vec_id": i, "embedding": vecs[i]}) + "\n")
        os.utime(os.path.join(src, name), (mtime, mtime))

    _write("b0.json", range(20), 1_700_000_000)
    _write("b1.json", [20, 21, 22, 23, 0], 1_700_000_100)  # 0 re-delivered

    store = str(tmp_path / "pq_store")
    ckpt = str(tmp_path / "pq_ckpt")

    def _stream():
        return (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    run_stream_pq_index(_stream(), store, ckpt).awaitTermination(120)

    _CODES = "vec_id long, m int, code_id long, batch_id long"
    codes = read_store_table(spark, store, "codes", _CODES)
    rows = codes.collect()
    # every vector coded exactly once per subspace; redelivery kept batch-0 rows
    per_vec = {}
    for r in rows:
        per_vec.setdefault(r.vec_id, []).append(r)
    assert set(per_vec) == set(range(24))
    assert all(len(v) == lp.PQ_M for v in per_vec.values())
    assert all(r.batch_id == 0 for r in per_vec[0])
    assert all(r.batch_id == 1 for r in per_vec[20])

    # codebook is frozen batch-0 training output: PQ_K * PQ_M codewords
    cb = spark.read.parquet(f"{store}/codebook")
    assert cb.count() == lp.PQ_K * lp.PQ_M
    assert {r.code_id for r in cb.select("code_id").distinct().collect()} == set(
        range(lp.PQ_K)
    )

    # codes equal the batch operator's assignment under the same codebook
    all_emb = spark.createDataFrame(
        [(i, vecs[i]) for i in range(24)], "vec_id long, embedding array<float>"
    ).select("vec_id", sk.vec_double(F.col("embedding")).alias("e"))
    want = {
        (r.vec_id, r.m): r.code_id
        for r in lp._pq_assigned(all_emb, codebook=cb).collect()
    }
    got = {(r.vec_id, r.m): r.code_id for r in rows}
    assert got == want

    # restart on the same checkpoint: replay mark short-circuits
    before = sorted(map(str, rows))
    run_stream_pq_index(_stream(), store, ckpt).awaitTermination(120)
    after = sorted(map(str, read_store_table(spark, store, "codes", _CODES).collect()))
    assert before == after


def test_stream_pq_index_rejects_seedless_first_batch(spark, tmp_path):
    """A first micro-batch without the seed vectors would train a
    partial (here: empty) codebook and freeze it, after which every
    batch silently indexes nothing — the guard must fail the query
    loudly instead (ADVICE r4)."""
    import json as _json
    import os

    import numpy as np
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from chain_sync_spark.operators import llm_pipeline as lp
    from chain_sync_spark.streaming.stream_sync import run_stream_pq_index

    rng = np.random.default_rng(7)
    src = str(tmp_path / "emb_src")
    os.makedirs(src)
    # all vec_ids >= PQ_K: zero seed vectors in the only batch
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for i in range(lp.PQ_K, lp.PQ_K + 8):
            vec = [float(x) for x in rng.normal(size=lp.EMB_DIM)]
            fh.write(_json.dumps({"vec_id": i, "embedding": vec}) + "\n")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = run_stream_pq_index(
        stream, str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    with pytest.raises(StreamingQueryException, match="codebook"):
        q.awaitTermination(120)
    # nothing was committed: no degenerate index on disk
    assert not os.path.isdir(str(tmp_path / "store" / "codes"))


@pytest.mark.slow
def test_search_pq_index_matches_batch_adc(spark, tmp_path):
    """The streamed PQ store must serve queries identically to the
    batch operator: index the whole embeddings table in one batch
    (same deterministic codebook), search with the batch operator's
    query set, and require exact result equality — neighbors,
    distances, ranks."""
    import json as _json
    import os

    import numpy as np

    from chain_sync_spark.operators import llm_pipeline as lp
    from chain_sync_spark.streaming.stream_sync import (
        run_stream_pq_index,
        search_pq_index,
    )

    rng = np.random.default_rng(13)
    n = lp.PQ_K + lp.ANN_QUERIES + 40
    vecs = {i: [float(x) for x in rng.normal(size=lp.EMB_DIM)] for i in range(n)}
    emb_df = spark.createDataFrame(
        [(i, vecs[i], 0) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    emb_df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    src = str(tmp_path / "emb_src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for i in range(n):
            fh.write(_json.dumps({"vec_id": i, "embedding": vecs[i]}) + "\n")

    store = str(tmp_path / "pq_store")
    run_stream_pq_index(
        spark.readStream.schema("vec_id long, embedding array<float>").json(src),
        store,
        str(tmp_path / "pq_ckpt"),
    ).awaitTermination(120)

    queries = emb_df.filter(
        (F.col("vec_id") >= lp.PQ_K) & (F.col("vec_id") < lp.PQ_K + lp.ANN_QUERIES)
    ).select("vec_id", "embedding")
    got = {(r.query_id, r.neighbor_id, r.adc_dist, r.rk)
           for r in search_pq_index(spark, store, queries).collect()}
    want = {(r.query_id, r.neighbor_id, r.adc_dist, r.rk)
            for r in lp.embedding_pq_adc_topk(spark, str(tmp_path)).collect()}
    assert got == want and len(got) == lp.ANN_QUERIES * lp.ANN_TOPK
    lp.release_caches()  # the batch ADC comparator scope-persists


@pytest.mark.slow
def test_probe_neardup_index_readonly_parity(spark, tmp_path):
    """The read-only probe must (1) agree with the maintenance
    stream's decisions for a batch with no in-batch duplicates and
    (2) leave the store byte-identical."""
    import json as _json
    import os

    from chain_sync_spark.streaming.stream_sync import (
        probe_neardup_index,
        run_stream_neardup_index,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain keeps falling on the quiet grey town tonight")
    near = base.replace("dog", "cat")
    other = ("completely different words about spark shuffles parquet files "
             "and the costs of wide joins at terabyte scale in production")

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for r in [{"doc_id": 0, "text": base}, {"doc_id": 1, "text": other}]:
            fh.write(_json.dumps(r) + "\n")

    store = str(tmp_path / "nd_store")
    run_stream_neardup_index(
        spark.readStream.schema("doc_id long, text string").json(src),
        store,
        str(tmp_path / "nd_ckpt"),
    ).awaitTermination(120)

    def _store_state():
        return sorted(
            (p, os.path.getsize(os.path.join(dp, p)))
            for dp, _, fs in os.walk(store) for p in fs
        )

    before = _store_state()
    batch2 = spark.createDataFrame(
        [(2, near), (3, "fresh unrelated sentence about gardens and rivers "
                        "painting music chess and long autumn walks")],
        "doc_id long, text string",
    )
    probed = {r.doc_id: r for r in
              probe_neardup_index(spark, store, batch2).collect()}
    assert probed[2].is_dup and probed[2].dup_of == 0
    assert not probed[3].is_dup and probed[3].dup_of is None
    assert _store_state() == before  # read-only: store untouched

    # the maintenance stream reaches the same decisions for this batch
    with open(os.path.join(src, "b1.json"), "w") as fh:
        for r in [{"doc_id": 2, "text": near},
                  {"doc_id": 3, "text": "fresh unrelated sentence about gardens"
                                        " and rivers painting music chess and"
                                        " long autumn walks"}]:
            fh.write(_json.dumps(r) + "\n")
    run_stream_neardup_index(
        spark.readStream.schema("doc_id long, text string").json(src),
        store,
        str(tmp_path / "nd_ckpt"),
    ).awaitTermination(120)
    from chain_sync_spark.streaming.stream_sync import read_store_table
    dec = {r.doc_id: r for r in
           read_store_table(
               spark, store, "decisions",
               "doc_id long, is_dup boolean, dup_of long, batch_id long"
           ).collect()
           if r.doc_id in (2, 3)}
    assert (dec[2].is_dup, dec[2].dup_of) == (True, 0)
    assert (dec[3].is_dup, dec[3].dup_of) == (False, None)


@pytest.mark.slow
def test_append_store_commit_is_o_batch_and_crash_safe(spark, tmp_path):
    """The append-only store contract (the r4-ADVICE scale fix):
    (1) committing a later batch leaves every earlier delta dir
    byte-identical — commit IO is O(batch), not O(history);
    (2) a delta written without a marker update (the crash window) is
    invisible to read_store_table and deleted by recovery, after which
    the replayed batch lands cleanly."""
    import json as _json
    import os

    from chain_sync_spark.streaming.stream_sync import (
        _recover_append_store,
        read_store_table,
        run_stream_neardup_index,
    )

    texts = {
        0: ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain keeps falling on the quiet grey town tonight"),
        1: ("completely different words about spark shuffles parquet files "
            "and the costs of wide joins at terabyte scale in production"),
        2: ("fresh unrelated sentence mentioning gardens rivers mountains "
            "painting music chess and long walks beside the autumn shore"),
    }
    src = str(tmp_path / "src")
    os.makedirs(src)

    def _write(name, ids, mtime):
        path = os.path.join(src, name)
        with open(path, "w") as fh:
            for i in ids:
                fh.write(_json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
        os.utime(path, (mtime, mtime))

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        run_stream_neardup_index(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src),
            store,
            ckpt,
        ).awaitTermination(120)

    def _delta0_state():
        out = []
        for t in ("bands", "shingles", "decisions"):
            d = f"{store}/{t}/delta-00000000"
            for dp, _, fs in os.walk(d):
                for p in fs:
                    fp = os.path.join(dp, p)
                    out.append((fp, os.path.getsize(fp), os.path.getmtime(fp)))
        return sorted(out)

    _write("b0.json", [0, 1], 1_700_000_000)
    _run()
    state0 = _delta0_state()
    assert state0  # batch 0 landed as delta-00000000

    # a later batch appends its own delta and touches nothing else
    _write("b1.json", [2], 1_700_000_100)
    _run()
    assert _delta0_state() == state0  # paths, sizes, mtimes all unchanged
    assert os.path.isdir(f"{store}/decisions/delta-00000001")

    _DEC = "doc_id long, is_dup boolean, dup_of long, batch_id long"
    committed = sorted(
        r.doc_id for r in read_store_table(spark, store, "decisions", _DEC).collect()
    )
    assert committed == [0, 1, 2]

    # crash window: a delta beyond the marker is invisible + recovered away
    orphan = f"{store}/decisions/delta-00000099"
    spark.createDataFrame([(99, False, None, 99)], _DEC).write.parquet(orphan)
    after_orphan = sorted(
        r.doc_id for r in read_store_table(spark, store, "decisions", _DEC).collect()
    )
    assert after_orphan == [0, 1, 2]  # uncommitted rows never served
    _recover_append_store(store)
    assert not os.path.isdir(orphan)
    assert _delta0_state() == state0  # recovery touches only the orphan


@pytest.mark.slow
def test_append_store_rejects_foreign_checkpoint(spark, tmp_path):
    """A stream started on a FRESH checkpoint against an existing
    append store fails fast instead of corrupting it: delta dirs are
    keyed by batch_id alone and batch ids restart at 0 under a new
    checkpoint, so an unguarded run would silently overwrite the old
    stream's delta-00000000 while leaving later deltas intact — a mixed
    history.  The commit path refuses, and the store is untouched."""
    import json as _json
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from chain_sync_spark.streaming.stream_sync import (
        read_store_table,
        run_stream_neardup_index,
    )

    text = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain keeps falling on the quiet grey town tonight")
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as fh:
        fh.write(_json.dumps({"doc_id": 0, "text": text}) + "\n")

    store = str(tmp_path / "store")

    def _run(ckpt):
        run_stream_neardup_index(
            spark.readStream.schema("doc_id long, text string").json(src),
            store,
            str(tmp_path / ckpt),
        ).awaitTermination(120)

    _run("ckpt_a")
    _DEC = "doc_id long, is_dup boolean, dup_of long, batch_id long"
    before = sorted(
        map(str, read_store_table(spark, store, "decisions", _DEC).collect())
    )
    marker_before = open(os.path.join(store, "_rollup_commit.json")).read()

    with pytest.raises(StreamingQueryException, match="bound to checkpoint"):
        _run("ckpt_b")

    # store unchanged: marker still binds checkpoint A, rows identical
    assert open(os.path.join(store, "_rollup_commit.json")).read() == marker_before
    after = sorted(
        map(str, read_store_table(spark, store, "decisions", _DEC).collect())
    )
    assert after == before


@pytest.mark.slow
def test_compact_store_folds_deltas_and_stream_resumes(spark, tmp_path):
    """compact_store (the lakehouse-OPTIMIZE analogue): folds all
    committed deltas into one compact base per table, serves the SAME
    rows afterwards, physically removes the per-batch dirs, preserves
    the replay marker, and a resumed stream keeps appending deltas on
    top of the base; orphan state from a crashed compaction is
    invisible and recovered."""
    import json as _json
    import os

    from chain_sync_spark.streaming.stream_sync import (
        _recover_append_store,
        compact_store,
        read_store_table,
        run_stream_neardup_index,
    )

    texts = {
        0: ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain keeps falling on the quiet grey town tonight"),
        1: ("completely different words about spark shuffles parquet files "
            "and the costs of wide joins at terabyte scale in production"),
        2: ("fresh unrelated sentence mentioning gardens rivers mountains "
            "painting music chess and long walks beside the autumn shore"),
        3: ("yet another disjoint text on compilers register allocation "
            "garbage collection and the joys of deterministic builds"),
    }
    src = str(tmp_path / "src")
    os.makedirs(src)

    def _write(name, ids, mtime):
        path = os.path.join(src, name)
        with open(path, "w") as fh:
            for i in ids:
                fh.write(_json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
        os.utime(path, (mtime, mtime))

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    TABLES = {
        "bands": "doc_id long, band_idx int, bkey string",
        "shingles": "doc_id long, sh array<string>",
        "decisions": "doc_id long, is_dup boolean, dup_of long, batch_id long",
    }

    def _run():
        run_stream_neardup_index(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src),
            store,
            ckpt,
        ).awaitTermination(120)

    def _rows(name):
        return sorted(
            map(str, read_store_table(spark, store, name, TABLES[name]).collect())
        )

    _write("b0.json", [0, 1], 1_700_000_000)
    _write("b1.json", [2], 1_700_000_100)
    _run()
    before = {t: _rows(t) for t in TABLES}

    assert compact_store(spark, store, TABLES) == 1
    # same served rows, per-batch dirs folded into one compact base
    assert {t: _rows(t) for t in TABLES} == before
    for t in TABLES:
        entries = sorted(os.listdir(f"{store}/{t}"))
        assert entries == ["compact-00000001"]
    # idempotent when nothing new committed
    assert compact_store(spark, store, TABLES) == 1

    # the resumed stream appends a delta on top of the compact base
    _write("b2.json", [3], 1_700_000_200)
    _run()
    assert sorted(os.listdir(f"{store}/decisions")) == [
        "compact-00000001", "delta-00000002"
    ]
    dec = {r.doc_id: r for r in
           read_store_table(spark, store, "decisions", TABLES["decisions"]).collect()}
    assert set(dec) == {0, 1, 2, 3} and not dec[3].is_dup
    # marker carries both watermarks forward
    meta = _json.load(open(f"{store}/_rollup_commit.json"))
    assert meta["batch_id"] == 2 and meta["compacted_through"] == 1

    # crashed-compaction orphans: unreferenced compact dir + staging
    spark.createDataFrame([(99, False, None, 99)], TABLES["decisions"]) \
        .write.parquet(f"{store}/decisions/compact-00000002")
    os.makedirs(f"{store}/decisions/compact-staging")
    served = {r.doc_id for r in
              read_store_table(spark, store, "decisions", TABLES["decisions"]).collect()}
    assert served == {0, 1, 2, 3}  # orphans invisible
    _recover_append_store(store)
    assert sorted(os.listdir(f"{store}/decisions")) == [
        "compact-00000001", "delta-00000002"
    ]

    # a second compaction folds base + new delta
    assert compact_store(spark, store, TABLES) == 2
    assert sorted(os.listdir(f"{store}/decisions")) == ["compact-00000002"]
    assert {r.doc_id for r in
            read_store_table(spark, store, "decisions", TABLES["decisions"]).collect()
            } == {0, 1, 2, 3}


def test_stream_cms_matches_one_pass_sketch_and_probe_bounds(spark, tmp_path):
    """Streaming count-min maintenance: folding per-micro-batch sketch
    partials cell-wise reproduces the one-pass sketch over the same
    term stream (cells are sums — merge-order invariant), a replayed
    run on the same checkpoint is a no-op, and the read-only probe's
    estimate is >= the true count for present terms and >= 0 with
    missing cells read as zero for absent ones."""
    from chain_sync_spark.operators.incremental import cms_stats
    from chain_sync_spark.streaming.stream_sync import probe_cms, run_stream_cms
    from chain_sync_spark.tables import table

    terms = (
        table(spark, "/root/testdata/sf0.001", "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
        .limit(2000)
    )
    src = str(tmp_path / "src")
    terms.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "cms_store")

    def _stream():
        return (
            spark.readStream.schema(terms.schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    ckpt = str(tmp_path / "ckpt")
    run_stream_cms(_stream(), store, "term", ckpt).awaitTermination(120)

    def _canon(df):
        return sorted(map(str, df.select(sorted(df.columns)).collect()))

    all_terms = spark.read.schema(terms.schema).json(src)
    exp = cms_stats(all_terms, "term")
    assert _canon(spark.read.parquet(store)) == _canon(exp)

    # restart on the SAME checkpoint: no new files, nothing re-merges
    run_stream_cms(_stream(), store, "term", ckpt).awaitTermination(120)
    assert _canon(spark.read.parquet(store)) == _canon(exp)

    exact = {
        r.term: r.cnt
        for r in all_terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    some = sorted(exact)[:3] + ["never-seen-term"]
    est = {r.term: r.est_cnt for r in probe_cms(spark, store, some).collect()}
    for t in some[:3]:
        assert est[t] >= exact[t]
    assert est["never-seen-term"] >= 0


def test_stream_histogram_matches_one_pass_and_serves_quantiles(spark, tmp_path):
    """Streaming quantile-sketch maintenance: batch-by-batch folding
    equals the one-pass histogram over the same rows, replay under the
    same checkpoint is a no-op, and probe_quantiles serves medians
    within the sketch's relative-error bound."""
    from chain_sync_spark.operators.incremental import hist_stats
    from chain_sync_spark.streaming.stream_sync import (
        probe_quantiles,
        run_stream_histogram,
    )
    from chain_sync_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events").select("value")
    src = str(tmp_path / "src")
    ev.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "hist_store")
    ckpt = str(tmp_path / "ckpt")

    def _stream():
        return (
            spark.readStream.schema("value double")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    run_stream_histogram(_stream(), store, "value", ckpt).awaitTermination(120)

    got = {r.bin: r.cnt for r in spark.read.parquet(store).collect()}
    ev_json = spark.read.schema("value double").json(src)
    want = {r.bin: r.cnt for r in hist_stats(ev_json, "value").collect()}
    assert got == want

    # replay on the same checkpoint: nothing re-merges
    run_stream_histogram(_stream(), store, "value", ckpt).awaitTermination(120)
    assert {r.bin: r.cnt for r in spark.read.parquet(store).collect()} == want

    # served quantiles bracket the exact ones within the bin bound
    vals = sorted(r.value for r in ev_json.collect() if r.value is not None)
    est = probe_quantiles(spark, store, [0.5, 0.9])
    for q in (0.5, 0.9):
        exact = vals[int(q * (len(vals) - 1))]
        assert est[q] * exact > 0 and 0.75 <= abs(est[q]) / abs(exact) <= 1.5


@pytest.mark.slow
def test_stream_cluster_assign_frozen_centroids_and_replay(spark, tmp_path):
    """Streaming k-means index: batch 0 trains (full Lloyd loop on the
    first batch) and freezes the centroids; batch 1 assigns against
    the STORED centroids identically to the batch serving path
    (kmeans_assign); a re-delivered vec_id keeps its first row;
    restart on the same checkpoint changes nothing; a seedless first
    batch fails fast and commits nothing."""
    import json as _json
    import os

    import numpy as np
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from chain_sync_spark.operators import llm_pipeline as lp
    from chain_sync_spark.streaming.stream_sync import (
        read_store_table,
        run_stream_cluster_assign,
    )

    rng = np.random.default_rng(11)
    n = lp.KMEANS_K + 12
    vecs = {i: [float(x) for x in rng.normal(size=lp.EMB_DIM)] for i in range(n)}

    src = str(tmp_path / "src")
    os.makedirs(src)

    def _write(name, ids, mtime):
        with open(os.path.join(src, name), "w") as fh:
            for i in ids:
                fh.write(_json.dumps({"vec_id": i, "embedding": vecs[i]}) + "\n")
        os.utime(os.path.join(src, name), (mtime, mtime))

    _write("b0.json", range(lp.KMEANS_K + 6), 1_700_000_000)
    _write("b1.json", [lp.KMEANS_K + 6 + j for j in range(6)] + [0], 1_700_000_100)

    store = str(tmp_path / "km_store")
    ckpt = str(tmp_path / "km_ckpt")

    def _stream():
        return (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    run_stream_cluster_assign(_stream(), store, ckpt).awaitTermination(120)

    _A = "vec_id long, cluster_id int, batch_id long"
    rows = read_store_table(spark, store, "assignments", _A).collect()
    got = {r.vec_id: r for r in rows}
    assert set(got) == set(range(n))
    assert got[0].batch_id == 0                      # redelivery kept first row
    assert got[lp.KMEANS_K + 6].batch_id == 1        # batch-1 vector appended

    # batch-1 assignments equal the batch serving path on the frozen set
    cents = spark.read.parquet(f"{store}/centroids")
    b1 = spark.createDataFrame(
        [(i, vecs[i]) for i in range(lp.KMEANS_K + 6, n)],
        "vec_id long, embedding array<float>",
    )
    want = {r.vec_id: r.cluster_id for r in lp.kmeans_assign(b1, cents).collect()}
    assert {i: got[i].cluster_id for i in want} == want

    # replay: marker short-circuits, store unchanged
    before = sorted(map(str, rows))
    run_stream_cluster_assign(_stream(), store, ckpt).awaitTermination(120)
    after = sorted(map(str, read_store_table(spark, store, "assignments", _A).collect()))
    assert before == after

    # seedless first batch: loud failure, nothing committed
    src2 = str(tmp_path / "src2")
    os.makedirs(src2)
    with open(os.path.join(src2, "b0.json"), "w") as fh:
        for i in range(lp.KMEANS_K, lp.KMEANS_K + 4):
            fh.write(_json.dumps({"vec_id": i, "embedding": vecs[i]}) + "\n")
    q = run_stream_cluster_assign(
        spark.readStream.schema("vec_id long, embedding array<float>").json(src2),
        str(tmp_path / "store2"),
        str(tmp_path / "ckpt2"),
    )
    with pytest.raises(StreamingQueryException, match="seed"):
        q.awaitTermination(120)
    assert not os.path.isdir(str(tmp_path / "store2" / "centroids"))


def test_cms_probe_terms_matches_streamed_store_probe(spark, tmp_path):
    """The staged batch certifier (corpus_ops.cms_probe_terms) and
    the streaming serving path (probe_cms over a run_stream_cms
    store) compute the same estimates when the store has folded the
    same normalized token stream — the batch registry form IS the
    serving math under a driver certificate, absent-term path
    included."""
    from chain_sync_spark.operators.corpus_ops import (
        CMS_PROBE_TERMS,
        _docs_words,
        cms_probe_terms,
    )
    from chain_sync_spark.streaming.stream_sync import probe_cms, run_stream_cms

    sf = "/root/testdata/sf0.001"
    toks = _docs_words(spark, sf).select(F.explode("w").alias("term"))
    src = str(tmp_path / "src")
    toks.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    run_stream_cms(stream, store, "term", ckpt).awaitTermination(120)
    served = {
        r.term: r.est_cnt
        for r in probe_cms(spark, store, CMS_PROBE_TERMS).collect()
    }
    batch = {r.term: r.est_cnt for r in cms_probe_terms(spark, sf).collect()}
    assert batch == served
    # CMS bound: estimate >= exact for every probe (the absent term's
    # exact count is 0; with the deliberately narrow demo width its
    # cells still collide, so only the bound holds, not equality)
    exact = {
        r.term: r.n
        for r in toks.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for t in CMS_PROBE_TERMS:
        assert batch[t] >= exact.get(t, 0)


def test_stream_bloom_matches_one_pass_and_serves_probes(spark, tmp_path):
    """Streaming Bloom maintenance: the folded store equals the
    one-pass occupied-bit set, a replayed run on the same checkpoint
    is a no-op, and probe_bloom over the store agrees with the batch
    certifier's bloom_hit for the exact same probe keys (members all
    hit; absent keys only ever over-report)."""
    from chain_sync_spark.operators.corpus_ops import bloom_probe_fingerprints
    from chain_sync_spark.operators.incremental import bloom_bits
    from chain_sync_spark.streaming.stream_sync import probe_bloom, run_stream_bloom
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    from chain_sync_spark.functions import sketches as sk

    fps = tbl(spark, sf, "documents").select(
        sk.normalize_text(F.col("text")).alias("norm")
    ).select(F.md5("norm").alias("fp"))
    src = str(tmp_path / "src")
    fps.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def _stream():
        return (
            spark.readStream.schema(fps.schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    run_stream_bloom(_stream(), store, "fp", ckpt).awaitTermination(120)
    one_pass = {r.bit for r in bloom_bits(fps, "fp").collect()}
    assert {r.bit for r in spark.read.parquet(store).collect()} == one_pass

    # replay on the same checkpoint: nothing re-merges (union is
    # idempotent anyway — this asserts the cost guard, not correctness)
    run_stream_bloom(_stream(), store, "fp", ckpt).awaitTermination(120)
    assert {r.bit for r in spark.read.parquet(store).collect()} == one_pass

    batch = {
        r.key: (r.bloom_hit, r.present)
        for r in bloom_probe_fingerprints(spark, sf).collect()
    }
    served = {
        r.key: r.bloom_hit
        for r in probe_bloom(spark, store, sorted(batch)).collect()
    }
    assert served == {k: h for k, (h, _) in batch.items()}
    for k, (hit, present) in batch.items():
        assert hit >= present  # no false negatives, row by row


@pytest.mark.slow
def test_stream_shingle_index_matches_batch_incremental(spark, tmp_path):
    """Streamed shingle index: history docs ingested first (empty
    store — nothing cut), then the new batch cut against the stored
    history reproduces the batch certifier
    (pipeline_extras.dedup_incremental_spans) decision-for-decision;
    the read-only probe agrees; a replay on the same checkpoint is a
    no-op; the store holds each distinct shingle hash once."""
    from chain_sync_spark.operators.pipeline_extras import (
        SPAN_BATCH_MOD,
        _shingle_pos,
        dedup_incremental_spans,
    )
    from chain_sync_spark.streaming.stream_sync import (
        SHINGLE_STORE_TABLES,
        probe_shingle_index,
        read_store_table,
        run_stream_shingle_index,
    )
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % SPAN_BATCH_MOD == 0
    hist, batch = docs.filter(~is_new), docs.filter(is_new)

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        run_stream_shingle_index(stream, store, ckpt).awaitTermination(180)

    import glob
    import shutil

    def _add(df, stage, name):
        df.coalesce(1).write.mode("overwrite").json(str(tmp_path / stage))
        part = glob.glob(str(tmp_path / stage / "part-*.json"))[0]
        shutil.copy(part, str(src / name))

    _add(hist, "stage_h", "h.json")
    _run()                      # batch 1: history into the empty store

    # read-only probe BEFORE the batch is ingested: history-only store
    want = {
        r.doc_id: (r.n_tokens, r.cut_tokens, r.kept_md5)
        for r in dedup_incremental_spans(spark, sf).collect()
    }
    probed = {
        r.doc_id: (r.n_tokens, r.cut_tokens, r.kept_md5)
        for r in probe_shingle_index(spark, store, batch).collect()
    }
    assert probed == want

    _add(batch, "stage_b", "b.json")
    _run()                      # batch 2: the new crawl vs stored history

    dec = read_store_table(
        spark, store, "decisions", SHINGLE_STORE_TABLES["decisions"]
    )
    # history batch saw an empty store: nothing cut
    h_rows = dec.filter(F.col("batch_id") == 0).collect()
    assert h_rows and all(r.cut_tokens == 0 for r in h_rows)
    # the new batch reproduces the batch certifier exactly
    got = {
        r.doc_id: (r.n_tokens, r.cut_tokens, r.kept_md5)
        for r in dec.filter(F.col("batch_id") == 1).collect()
    }
    assert got == want
    # replay on the same checkpoint: no new deltas
    n_dec = dec.count()
    _run()
    assert read_store_table(
        spark, store, "decisions", SHINGLE_STORE_TABLES["decisions"]
    ).count() == n_dec
    # store holds each distinct shingle hash exactly once
    stored = read_store_table(
        spark, store, "shingles", SHINGLE_STORE_TABLES["shingles"]
    )
    assert stored.count() == stored.distinct().count()
    all_h = _shingle_pos(docs).select("h").distinct().count()
    assert stored.count() == all_h
    # compact_store works verbatim on the shingle schema dict: deltas
    # fold into one base, probe results and decision rows unchanged
    import os

    from chain_sync_spark.streaming.stream_sync import compact_store

    assert compact_store(spark, store, SHINGLE_STORE_TABLES) == 1
    for name in SHINGLE_STORE_TABLES:
        dirs = os.listdir(os.path.join(store, name))
        assert [d for d in dirs if d.startswith("delta-")] == []
    assert read_store_table(
        spark, store, "shingles", SHINGLE_STORE_TABLES["shingles"]
    ).count() == all_h
    post = {
        r.doc_id: (r.n_tokens, r.cut_tokens, r.kept_md5)
        for r in read_store_table(
            spark, store, "decisions", SHINGLE_STORE_TABLES["decisions"]
        ).filter(F.col("batch_id") == 1).collect()
    }
    assert post == want


@pytest.mark.slow
def test_stream_winnow_index_serves_and_records_pairs(spark, tmp_path):
    """Streamed winnowing index (the MOSS service shape): batch 2's
    recorded pairs against the stored batch-1 fingerprints equal a
    Python replica of capped-index matching; the pre-ingest read-only
    probe agrees; replay appends nothing; the stored df deltas sum to
    the true per-hash document frequencies."""
    from collections import Counter

    from chain_sync_spark.operators.pipeline_extras import (
        WN_MAX_DF,
        WN_MIN_SHARED,
        winnow_fingerprints,
    )
    from chain_sync_spark.streaming.stream_sync import (
        WINNOW_STORE_TABLES,
        probe_winnow_index,
        read_store_table,
        run_stream_winnow_index,
    )
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents").select("doc_id", "text")
    first, second = docs.filter("doc_id < 250"), docs.filter("doc_id >= 250")

    fp1, fp2 = {}, {}
    for r in winnow_fingerprints(first).collect():
        fp1.setdefault(r.doc_id, set()).add(r.h)
    for r in winnow_fingerprints(second).collect():
        fp2.setdefault(r.doc_id, set()).add(r.h)
    df1 = Counter(h for s in fp1.values() for h in s)
    idx = {d: {h for h in s if df1[h] <= WN_MAX_DF} for d, s in fp1.items()}
    want = {}
    for a, sa in idx.items():
        for b, sb in fp2.items():
            shared = len(sa & sb)
            if shared >= WN_MIN_SHARED:
                want[(a, b)] = shared

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    import glob
    import shutil

    def _add(df, stage, name):
        df.coalesce(1).write.mode("overwrite").json(str(tmp_path / stage))
        part = glob.glob(str(tmp_path / stage / "part-*.json"))[0]
        shutil.copy(part, str(src / name))

    def _run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        run_stream_winnow_index(stream, store, ckpt).awaitTermination(180)

    _add(first, "stage_1", "a.json")
    _run()
    probed = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in probe_winnow_index(spark, store, second).collect()
    }
    assert probed == want
    _add(second, "stage_2", "b.json")
    _run()
    pairs = read_store_table(
        spark, store, "pairs", WINNOW_STORE_TABLES["pairs"]
    )
    got = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in pairs.filter(F.col("batch_id") == 1).collect()
    }
    assert got == want
    assert pairs.filter(F.col("batch_id") == 0).count() == 0  # empty store
    n_pairs = pairs.count()
    _run()  # replay: no-op
    assert read_store_table(
        spark, store, "pairs", WINNOW_STORE_TABLES["pairs"]
    ).count() == n_pairs
    # df deltas sum to the true per-hash document frequencies
    df_all = Counter(df1)
    for s in fp2.values():
        for h in s:
            df_all[h] += 1
    hdf = read_store_table(spark, store, "hdf", WINNOW_STORE_TABLES["hdf"])
    got_df = {
        r.h: r.total
        for r in hdf.groupBy("h").agg(F.sum("df").alias("total")).collect()
    }
    assert got_df == dict(df_all)


def test_stream_lm_matches_batch_scorer(spark, tmp_path):
    """Streamed bigram LM: a store that folded the whole corpus in
    file-sized micro-batches scores every document decision-identical
    to the batch scorer (lm_known_bigram_score), a replayed run on the
    same checkpoint appends nothing, and compact_store folds the
    deltas with every probe row unchanged."""
    from chain_sync_spark.operators.corpus_ops import lm_known_bigram_score
    from chain_sync_spark.streaming.stream_sync import (
        _LM_STORE_SCHEMA,
        compact_store,
        probe_lm,
        read_store_table,
        run_stream_lm,
    )
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        run_stream_lm(stream, store, ckpt).awaitTermination(120)

    _run()
    batch = {
        r.doc_id: (r.n_bigrams, r.n_known, r.known_micros, r.keep)
        for r in lm_known_bigram_score(spark, sf).collect()
    }
    served = {
        r.doc_id: (r.n_bigrams, r.n_known, r.known_micros, r.keep)
        for r in probe_lm(spark, store, docs).collect()
    }
    assert served == batch

    n_rows = read_store_table(spark, store, "bigrams", _LM_STORE_SCHEMA).count()
    _run()  # replay under the same checkpoint: no-op
    assert (
        read_store_table(spark, store, "bigrams", _LM_STORE_SCHEMA).count()
        == n_rows
    )

    # compaction folds the three deltas into one base; probes unchanged
    compact_store(spark, store, {"bigrams": _LM_STORE_SCHEMA})
    assert {
        r.doc_id: (r.n_bigrams, r.n_known, r.known_micros, r.keep)
        for r in probe_lm(spark, store, docs).collect()
    } == batch


def test_stream_lm_scores_unseen_batch_against_history(spark, tmp_path):
    """The rolling-quality-filter shape: the store holds only the
    HISTORY corpus; a new doc made of stock history bigrams scores
    keep=True, a garble doc of never-seen tokens scores 0 known — and
    neither probe mutates the store."""
    from chain_sync_spark.operators.corpus_ops import LM_MIN_COUNT
    from chain_sync_spark.streaming.stream_sync import (
        _LM_STORE_SCHEMA,
        probe_lm,
        read_store_table,
        run_stream_lm,
    )

    # history: one stock bigram repeated past the known threshold
    stock = " ".join(["alpha beta"] * LM_MIN_COUNT)
    hist = spark.createDataFrame(
        [(1, stock)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    hist.write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(hist.schema).json(src)
    run_stream_lm(stream, store, ckpt).awaitTermination(120)

    probe = spark.createDataFrame(
        [(100, "alpha beta alpha beta"), (101, "zzq qqz zzq qqz")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_bigrams, r.n_known, r.keep)
        for r in probe_lm(spark, store, probe).collect()
    }
    # 'alpha beta' x2 + 'beta alpha' (count LM_MIN_COUNT-1, unknown)
    assert got[100] == (3, 2, True)
    assert got[101] == (3, 0, False)
    n_rows = read_store_table(spark, store, "bigrams", _LM_STORE_SCHEMA).count()
    assert n_rows == 2  # (alpha,beta), (beta,alpha) — probes appended nothing


def test_stream_lm_orphan_delta_invisible_and_recovered(spark, tmp_path):
    """Crash window for the LM store: a delta dir written past the
    committed marker (data landed, marker replace never ran) is
    invisible to probes — its counts must not push a bigram over the
    known threshold — and recovery deletes it so the replayed batch
    can rewrite it cleanly."""
    import os

    from chain_sync_spark.operators.corpus_ops import LM_MIN_COUNT
    from chain_sync_spark.streaming.stream_sync import (
        _recover_append_store,
        probe_lm,
        run_stream_lm,
    )

    hist = spark.createDataFrame(
        [(1, " ".join(["alpha beta"] * LM_MIN_COUNT))],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    hist.write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(hist.schema).json(src)
    run_stream_lm(stream, store, ckpt).awaitTermination(120)

    # orphan: enough 'gamma delta' mass to cross the threshold — but
    # uncommitted, so the probe must keep scoring it unknown
    orphan = f"{store}/bigrams/delta-00000099"
    spark.createDataFrame(
        [("gamma", "delta", LM_MIN_COUNT * 2)], "w1 string, w2 string, cnt bigint"
    ).write.parquet(orphan)
    probe = spark.createDataFrame(
        [(7, "gamma delta gamma delta")], "doc_id long, text string"
    )
    got = probe_lm(spark, store, probe).collect()[0]
    assert (got.n_bigrams, got.n_known, bool(got.keep)) == (3, 0, False)
    _recover_append_store(store)
    assert not os.path.isdir(orphan)


def test_compact_lm_store_collapses_keys_probe_unchanged(spark, tmp_path):
    """The key-collapsing LM compaction: after 3 overlapping batches
    the compacted base holds exactly the GLOBAL-distinct bigrams (not
    the sum of per-batch distincts), total mass is conserved, and
    probe decisions are identical before/after."""
    from chain_sync_spark.streaming.stream_sync import (
        _LM_STORE_SCHEMA,
        compact_lm_store,
        probe_lm,
        read_store_table,
        run_stream_lm,
    )
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    run_stream_lm(stream, store, ckpt).awaitTermination(120)

    def _counts():
        return {
            (r.w1, r.w2): r.total
            for r in read_store_table(spark, store, "bigrams", _LM_STORE_SCHEMA)
            .groupBy("w1", "w2")
            .agg(F.sum("cnt").alias("total"))
            .collect()
        }

    before_rows = read_store_table(spark, store, "bigrams", _LM_STORE_SCHEMA).count()
    before_counts = _counts()
    before_probe = {
        r.doc_id: (r.n_bigrams, r.n_known, r.known_micros, r.keep)
        for r in probe_lm(spark, store, docs).collect()
    }
    assert before_rows > len(before_counts)  # overlap across batches

    assert compact_lm_store(spark, store) == 2  # 3 batches: 0..2
    after_rows = read_store_table(spark, store, "bigrams", _LM_STORE_SCHEMA).count()
    assert after_rows == len(before_counts)  # one row per distinct key
    assert _counts() == before_counts       # mass conserved
    assert {
        r.doc_id: (r.n_bigrams, r.n_known, r.known_micros, r.keep)
        for r in probe_lm(spark, store, docs).collect()
    } == before_probe


def test_lm_probe_newdocs_equals_streamed_probe(spark, tmp_path):
    """The batch certifier lm_probe_newdocs (registry/staged form) is
    row-identical to probe_lm over a store that run_stream_lm
    maintained from the SAME stored split (doc_id % LM_PROBE_MOD != 0)
    in file-sized micro-batches — the driver green earned by the
    certifier covers the streamed-LM serving path, unknown-bigram
    branch included."""
    from chain_sync_spark.operators.corpus_ops import (
        LM_PROBE_MOD,
        lm_probe_newdocs,
    )
    from chain_sync_spark.streaming.stream_sync import probe_lm, run_stream_lm
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents").select("doc_id", "text")
    stored = docs.filter(F.col("doc_id") % LM_PROBE_MOD != 0)
    batch = docs.filter(F.col("doc_id") % LM_PROBE_MOD == 0)

    src = str(tmp_path / "src")
    stored.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    run_stream_lm(stream, store, ckpt).awaitTermination(120)

    served = {
        r.doc_id: (r.n_bigrams, r.n_known, r.known_micros, r.keep)
        for r in probe_lm(spark, store, batch).collect()
    }
    certified = {
        r.doc_id: (r.n_bigrams, r.n_known, r.known_micros, r.keep)
        for r in lm_probe_newdocs(spark, sf).collect()
    }
    assert certified == served
    # the unknown-bigram path is actually exercised: some probed doc
    # scores below a self-scored corpus's floor (cnt 0 < LM_MIN_COUNT)
    assert any(k[1] < k[0] for k in certified.values())


def test_winnow_probe_newdocs_equals_streamed_probe(spark, tmp_path):
    """The batch certifier winnow_probe_newdocs is row-identical to
    probe_winnow_index over a store that run_stream_winnow_index
    maintained from the SAME stored split in micro-batches — the
    certifier's driver green covers the streamed MOSS serving path,
    boilerplate cap included."""
    import glob
    import shutil

    from chain_sync_spark.operators.pipeline_extras import (
        WN_PROBE_MOD,
        winnow_probe_newdocs,
    )
    from chain_sync_spark.streaming.stream_sync import (
        probe_winnow_index,
        run_stream_winnow_index,
    )
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents").select("doc_id", "text")
    stored = docs.filter(F.col("doc_id") % WN_PROBE_MOD != 0)
    probe = docs.filter(F.col("doc_id") % WN_PROBE_MOD == 0)

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def _add(df, stage, name):
        df.coalesce(1).write.mode("overwrite").json(str(tmp_path / stage))
        part = glob.glob(str(tmp_path / stage / "part-*.json"))[0]
        shutil.copy(part, str(src / name))

    # two micro-batches so the df cap really sums hdf deltas
    _add(stored.filter("doc_id < 250"), "stage_1", "a.json")
    _add(stored.filter("doc_id >= 250"), "stage_2", "b.json")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    run_stream_winnow_index(stream, store, ckpt).awaitTermination(180)

    served = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in probe_winnow_index(spark, store, probe).collect()
    }
    certified = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in winnow_probe_newdocs(spark, sf).collect()
    }
    assert certified == served and certified


def test_stream_kmv_matches_one_pass_and_serves_estimates(spark, tmp_path):
    """Streamed KMV store: folding the corpus in 3 micro-batches
    produces EXACTLY the one-pass bottom-k rows (bottom-k min-merge is
    associative + idempotent), a replayed run is a no-op, and
    probe_kmv serves the same (kth_min, est_kmv) the batch audit
    kmv_distinct_shingles reports for every source."""
    from chain_sync_spark.operators.corpus_ops import (
        _docs_words,
        kmv_bottomk,
        kmv_distinct_shingles,
        kmv_hashes,
    )
    from chain_sync_spark.streaming.stream_sync import probe_kmv, run_stream_kmv
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents")
    src = str(tmp_path / "src")
    docs.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def _stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    run_stream_kmv(_stream(), store, ckpt).awaitTermination(120)
    one_pass = {
        (r.source, r.h)
        for r in kmv_bottomk(kmv_hashes(_docs_words(spark, sf))).collect()
    }
    assert {(r.source, r.h) for r in spark.read.parquet(store).collect()} == one_pass

    # replay on the same checkpoint: the high-water mark skips it
    run_stream_kmv(_stream(), store, ckpt).awaitTermination(120)
    assert {(r.source, r.h) for r in spark.read.parquet(store).collect()} == one_pass

    audit = {
        r.source: (r.kth_min, r.est_kmv)
        for r in kmv_distinct_shingles(spark, sf).collect()
    }
    served = {
        r.source: (r.kth_min, r.est_kmv) for r in probe_kmv(spark, store).collect()
    }
    assert served == audit


def test_stream_lang_counts_matches_one_pass_and_serves_weights(spark, tmp_path):
    """Streamed language-counts store: 3-batch sum-merge equals the
    one-pass counts, a replayed run is a no-op (the high-water mark —
    sums are NOT idempotent, so this is the correctness guard, not
    just cost), and probe_temperature_mixture serves exactly what the
    batch query mixture_temperature_weights reports."""
    from chain_sync_spark.operators.pipeline_extras import (
        lang_token_counts,
        mixture_temperature_weights,
    )
    from chain_sync_spark.streaming.stream_sync import (
        probe_temperature_mixture,
        run_stream_lang_counts,
    )
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents")
    src = str(tmp_path / "src")
    docs.repartition(3).write.mode("overwrite").json(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def _stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    run_stream_lang_counts(_stream(), store, ckpt).awaitTermination(120)
    one_pass = {
        r.lang: (r.n_docs, r.n_tokens) for r in lang_token_counts(docs).collect()
    }
    stored = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(store).collect()
    }
    assert stored == one_pass

    # replay on the same checkpoint must not double-count
    run_stream_lang_counts(_stream(), store, ckpt).awaitTermination(120)
    assert {
        r.lang: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(store).collect()
    } == one_pass

    batch = {
        r.lang: (r.share_micros, r.temp_share_micros, r.boost_micros)
        for r in mixture_temperature_weights(spark, sf).collect()
    }
    served = {
        r.lang: (r.share_micros, r.temp_share_micros, r.boost_micros)
        for r in probe_temperature_mixture(spark, store).collect()
    }
    assert served == batch


def test_stream_pq_index_in_batch_duplicate_row(spark, tmp_path):
    """An at-least-once source can repeat a record WITHIN one
    micro-batch: the keyed stores must not double the key's rows
    (a doubled PQ vector doubles every ADC sum that touches it,
    permanently).  Feed batch 0 with one vec_id duplicated and
    assert the store holds exactly PQ_M code rows per vector."""
    import json as _json
    import os

    import numpy as np

    from chain_sync_spark.operators import llm_pipeline as lp
    from chain_sync_spark.streaming.stream_sync import (
        PQ_STORE_TABLES,
        read_store_table,
        run_stream_pq_index,
    )

    rng = np.random.default_rng(11)
    vecs = {i: [float(x) for x in rng.normal(size=lp.EMB_DIM)] for i in range(18)}
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for i in list(range(18)) + [17]:  # vec 17 re-delivered in-batch
            fh.write(_json.dumps({"vec_id": i, "embedding": vecs[i]}) + "\n")
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema("vec_id long, embedding array<float>").json(src)
    run_stream_pq_index(stream, store, ckpt).awaitTermination(120)
    rows = read_store_table(
        spark, store, "codes", PQ_STORE_TABLES["codes"]
    ).collect()
    per_vec = {}
    for r in rows:
        per_vec[r.vec_id] = per_vec.get(r.vec_id, 0) + 1
    assert per_vec == {i: lp.PQ_M for i in range(18)}


def test_stream_winnow_index_in_batch_duplicate_doc(spark, tmp_path):
    """Same in-batch redelivery class for the winnow store: a doc
    row repeated inside one batch must not double its fingerprints
    or its hdf document frequencies (doubled df would push innocent
    fingerprints over the boilerplate cap and double shared_fps)."""
    import json as _json
    import os

    from chain_sync_spark.streaming.stream_sync import (
        WINNOW_STORE_TABLES,
        read_store_table,
        run_stream_winnow_index,
    )

    text = " ".join(f"tok{i}" for i in range(30))
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for row in [(1, text), (1, text), (2, "different words " * 10)]:
            fh.write(_json.dumps({"doc_id": row[0], "text": row[1]}) + "\n")
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    run_stream_winnow_index(stream, store, ckpt).awaitTermination(120)
    fps = read_store_table(
        spark, store, "fps", WINNOW_STORE_TABLES["fps"]
    ).collect()
    doc1 = [(r.doc_id, r.h, getattr(r, "pos", None)) for r in fps if r.doc_id == 1]
    assert len(doc1) == len(set(doc1)) > 0
    hdf = read_store_table(
        spark, store, "hdf", WINNOW_STORE_TABLES["hdf"]
    ).collect()
    doc1_h = {h for _, h, _ in doc1}
    only_doc1 = doc1_h - {r.h for r in fps if r.doc_id == 2}
    assert only_doc1
    for r in hdf:
        if r.h in only_doc1:
            assert r.df == 1


@pytest.mark.slow
def test_stream_cluster_assign_in_batch_duplicate_row(spark, tmp_path):
    """In-batch redelivery for the cluster store: a vec_id repeated
    inside one micro-batch must yield exactly ONE assignment row."""
    import json as _json
    import os

    import numpy as np

    from chain_sync_spark.operators import llm_pipeline as lp
    from chain_sync_spark.streaming.stream_sync import (
        CLUSTER_STORE_TABLES,
        read_store_table,
        run_stream_cluster_assign,
    )

    rng = np.random.default_rng(13)
    n = lp.KMEANS_K + 4
    vecs = {i: [float(x) for x in rng.normal(size=lp.EMB_DIM)] for i in range(n)}
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for i in list(range(n)) + [n - 1, n - 2]:  # two in-batch repeats
            fh.write(_json.dumps({"vec_id": i, "embedding": vecs[i]}) + "\n")
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema("vec_id long, embedding array<float>").json(src)
    run_stream_cluster_assign(stream, store, ckpt).awaitTermination(120)
    rows = read_store_table(
        spark, store, "assignments", CLUSTER_STORE_TABLES["assignments"]
    ).collect()
    seen = [r.vec_id for r in rows]
    assert sorted(seen) == list(range(n))


def test_stream_neardup_index_in_batch_duplicate_doc(spark, tmp_path):
    """In-batch redelivery for the neardup store: a doc row repeated
    inside one micro-batch gets ONE decision row and single band
    rows — and, critically, is NOT flagged as a duplicate of itself
    (an undeduped batch would see its own copy as an in-batch
    collision candidate pair only for distinct ids, but its bands
    and shingles would double in the stored index)."""
    import json as _json
    import os

    from chain_sync_spark.streaming.stream_sync import (
        NEARDUP_STORE_TABLES,
        read_store_table,
        run_stream_neardup_index,
    )

    text = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain keeps falling on the quiet grey town tonight")
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for row in [(1, text), (1, text), (2, "other words entirely here")]:
            fh.write(_json.dumps({"doc_id": row[0], "text": row[1]}) + "\n")
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    run_stream_neardup_index(stream, store, ckpt).awaitTermination(120)
    dec = read_store_table(
        spark, store, "decisions", NEARDUP_STORE_TABLES["decisions"]
    ).collect()
    by_doc = {}
    for r in dec:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert {d: len(v) for d, v in by_doc.items()} == {1: 1, 2: 1}
    assert not by_doc[1][0].is_dup
    bands = read_store_table(
        spark, store, "bands", NEARDUP_STORE_TABLES["bands"]
    ).collect()
    doc1_bands = [(r.band_idx, r.bkey) for r in bands if r.doc_id == 1]
    assert len(doc1_bands) == len(set(doc1_bands)) > 0


def test_stream_shingle_index_in_batch_duplicate_doc(spark, tmp_path):
    """In-batch redelivery for the shingle store: a doc repeated
    inside one batch keeps ONE decision row (an undeduped batch
    emitted two identical rewrite decisions per doc)."""
    import json as _json
    import os

    from chain_sync_spark.streaming.stream_sync import (
        SHINGLE_STORE_TABLES,
        read_store_table,
        run_stream_shingle_index,
    )

    text = " ".join(f"w{i}" for i in range(25))
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for row in [(1, text), (1, text)]:
            fh.write(_json.dumps({"doc_id": row[0], "text": row[1]}) + "\n")
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    run_stream_shingle_index(stream, store, ckpt).awaitTermination(120)
    dec = read_store_table(
        spark, store, "decisions", SHINGLE_STORE_TABLES["decisions"]
    ).collect()
    assert len(dec) == 1 and dec[0].doc_id == 1

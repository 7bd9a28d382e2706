"""Sync-engine semantics tests — edge cases lifted from the reference
(SURVEY.md §5): reply dropped, double-encoded metadata, invalid
metadata defaults, duplicate vote no-op, vote on missing post
dropped, idempotent re-run, cross-batch vote accumulation,
last_active monotone max."""

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from chain_sync_spark.sources.blocks import OP_STREAM_SCHEMA
from chain_sync_spark.sync.engine import SyncEngine, batch_stats


def _op(block, ts, op_type, payload):
    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts)
    return (block, ts, op_type, json.dumps(payload))


def _comment(author, permlink, body="hello", meta=None, parent_author="", title="T",
             parent_permlink="cat1"):
    return {
        "author": author, "permlink": permlink, "parent_author": parent_author,
        "parent_permlink": parent_permlink, "title": title, "body": body,
        "json_metadata": meta if meta is not None else json.dumps({"tags": ["a"], "image": []}),
    }


def _vote(voter, author, permlink, weight):
    return {"voter": voter, "author": author, "permlink": permlink, "weight": weight}


TS = "2024-03-05 12:00:00"

# The swap names of the engine revision before the sync tables
# committed through sources.checkpoint.swap_dir; recovery still
# repairs a store that revision left mid-swap.
LEGACY_BACKUP, LEGACY_STAGING = ".__bak__", ".__staging__"


@pytest.fixture()
def ops_batch1(spark):
    rows = [
        _op(1, TS, "comment", _comment("alice", "p1", body="Post *one* #tag1 #Tag2")),
        # reply — must be dropped (comments.js:113)
        _op(1, TS, "comment", _comment("bob", "r1", parent_author="alice")),
        # double-encoded metadata (comments.js:28-29)
        _op(2, TS, "comment", _comment("carol", "p2", meta=json.dumps(json.dumps({"tags": ["x"], "image": ["http://i/1"]})))),
        # invalid metadata → defaults (comments.js:37-40)
        _op(2, TS, "comment", _comment("dave", "p3", meta="{not json")),
        _op(3, TS, "vote", _vote("v1", "alice", "p1", 100)),
        _op(3, TS, "vote", _vote("v1", "alice", "p1", 100)),      # duplicate in batch
        _op(3, TS, "vote", _vote("v2", "alice", "p1", -50)),
        _op(3, TS, "vote", _vote("v3", "ghost", "nope", 10)),     # missing post → dropped
        _op(3, TS, "account_update",
            {"account": "alice", "json_metadata": json.dumps({"profile": {"name": "Alice", "about": "hi"}})}),
    ]
    return spark.createDataFrame(rows, OP_STREAM_SCHEMA)


def _posts(spark, d):
    return spark.read.parquet(f"{d}/posts")


def _accounts(spark, d):
    return spark.read.parquet(f"{d}/accounts")


def test_sync_round_semantics(spark, tmp_path, ops_batch1):
    eng = SyncEngine(spark, str(tmp_path))
    eng.run(ops_batch1, batch_size=10)

    posts = {r["permlink"]: r for r in _posts(spark, tmp_path).collect()}
    # reply dropped
    assert set(posts) == {"p1", "p2", "p3"}
    # double-decoded metadata
    assert posts["p2"]["tags"] == ["x"]
    assert posts["p2"]["image"] == ["http://i/1"]
    # invalid metadata → defaults
    assert posts["p3"]["tags"] == []
    # markdown stripped
    assert "*" not in posts["p1"]["text_body"]
    # votes: duplicate collapsed, sign-routed
    assert posts["p1"]["upvotes"] == ["v1"]
    assert posts["p1"]["downvotes"] == ["v2"]
    # partition columns
    assert posts["p1"]["year"] == 2024 and posts["p1"]["month"] == 3

    accts = {r["name"]: r for r in _accounts(spark, tmp_path).collect()}
    assert accts["alice"]["profile"]["name"] == "Alice"
    assert str(accts["v1"]["last_active"]).startswith("2024-03-05")


def test_idempotent_replay(spark, tmp_path, ops_batch1):
    eng = SyncEngine(spark, str(tmp_path))
    eng.run(ops_batch1, batch_size=10)
    before_posts = sorted(map(str, _posts(spark, tmp_path).collect()))
    before_accts = sorted(map(str, _accounts(spark, tmp_path).collect()))
    # replay the same batch (at-least-once delivery)
    eng.process_batch(ops_batch1, post_keys=batch_stats(ops_batch1)[2])
    assert sorted(map(str, _posts(spark, tmp_path).collect())) == before_posts
    assert sorted(map(str, _accounts(spark, tmp_path).collect())) == before_accts


def test_cross_batch_vote_accumulation_and_last_active(spark, tmp_path, ops_batch1):
    eng = SyncEngine(spark, str(tmp_path))
    eng.run(ops_batch1, batch_size=10)
    ts2 = "2024-03-06 12:00:00"
    batch2 = spark.createDataFrame(
        [
            _op(10, ts2, "vote", _vote("v1", "alice", "p1", 80)),   # dup across batches → no-op
            _op(10, ts2, "vote", _vote("v4", "alice", "p1", 80)),   # new upvote
            # re-upsert of existing post must not clear votes
            _op(11, ts2, "comment", _comment("alice", "p1", body="edited")),
        ],
        OP_STREAM_SCHEMA,
    )
    eng.run(batch2, batch_size=10)
    p1 = _posts(spark, tmp_path).filter(F.col("permlink") == "p1").first()
    assert p1["upvotes"] == ["v1", "v4"]
    assert p1["downvotes"] == ["v2"]
    assert p1["text_body"] == "edited"
    alice = _accounts(spark, tmp_path).filter(F.col("name") == "alice").first()
    assert str(alice["last_active"]).startswith("2024-03-06")
    # cursor advanced past the max block
    from chain_sync_spark.sources.checkpoint import read_cursor
    assert read_cursor(spark, f"{tmp_path}/checkpoint") == 12


def test_vote_only_first_round(spark, tmp_path):
    """Votes arriving before any post exists must be dropped without
    crashing, and no zero-row posts table may be materialized."""
    import os
    eng = SyncEngine(spark, str(tmp_path))
    ops = spark.createDataFrame(
        [_op(1, TS, "vote", _vote("v1", "alice", "p1", 100))], OP_STREAM_SCHEMA
    )
    eng.run(ops, batch_size=10)
    assert not os.path.exists(f"{tmp_path}/posts")
    # the voter's last_active still lands in accounts
    assert _accounts(spark, tmp_path).filter(F.col("name") == "v1").count() == 1
    # a later round with a real post works against the absent table
    ops2 = spark.createDataFrame(
        [_op(2, TS, "comment", _comment("alice", "p1"))], OP_STREAM_SCHEMA
    )
    eng.run(ops2, batch_size=10)
    assert _posts(spark, tmp_path).count() == 1


def test_cross_partition_edit_keeps_single_row(spark, tmp_path, ops_batch1):
    """An edit whose timestamp falls in a later month must land in the
    partition the post already lives in — one row per post_id."""
    eng = SyncEngine(spark, str(tmp_path))
    eng.run(ops_batch1, batch_size=10)
    batch2 = spark.createDataFrame(
        [_op(20, "2024-05-02 09:00:00", "comment", _comment("alice", "p1", body="moved"))],
        OP_STREAM_SCHEMA,
    )
    eng.run(batch2, batch_size=10)
    p1 = _posts(spark, tmp_path).filter(F.col("permlink") == "p1").collect()
    assert len(p1) == 1
    assert p1[0]["text_body"] == "moved"
    # stays in the original (2024, 3) partition; votes preserved
    assert (p1[0]["year"], p1[0]["month"]) == (2024, 3)
    assert p1[0]["upvotes"] == ["v1"]


@pytest.mark.slow
def test_crash_recovery_restores_backup(spark, tmp_path, ops_batch1):
    """A crash between the two renames of the previous revision's
    whole-table swap leaves only its backup; the next round must
    restore it and proceed."""
    import os
    import shutil
    eng = SyncEngine(spark, str(tmp_path))
    eng.run(ops_batch1, batch_size=10)
    posts_dir = f"{tmp_path}/posts"
    os.rename(posts_dir, posts_dir + LEGACY_BACKUP)      # simulate mid-swap crash
    os.makedirs(posts_dir + LEGACY_STAGING + "/garbage")  # stale staging output
    batch2 = spark.createDataFrame(
        [_op(20, TS, "vote", _vote("v9", "alice", "p1", 100))], OP_STREAM_SCHEMA
    )
    eng.run(batch2, batch_size=10)
    assert not os.path.exists(posts_dir + LEGACY_BACKUP)
    assert not os.path.exists(posts_dir + LEGACY_STAGING)
    p1 = _posts(spark, tmp_path).filter(F.col("permlink") == "p1").first()
    assert "v9" in p1["upvotes"]
    shutil.rmtree(posts_dir + LEGACY_STAGING, ignore_errors=True)


def test_synthesize_ops_smoke(spark):
    """The demo op-stream source must produce parseable payloads of
    every type, including double-encoded metadata (reference F2)."""
    import json as _json
    from chain_sync_spark.sources.blocks import synthesize_ops
    from chain_sync_spark.sync.classify import classify
    ops = synthesize_ops(spark, n_blocks=20, ops_per_block=10)
    rows = ops.collect()
    assert len(rows) == 200
    kinds = {r["op_type"] for r in rows}
    assert kinds == {"comment", "vote", "account_update", "custom_json"}
    typed = classify(ops)
    comments = typed["comment"].collect()
    assert comments and all(c["author"] for c in comments)
    metas = [c["json_metadata"] for c in comments]
    double_encoded = [m for m in metas if m and m.startswith('"')]
    assert double_encoded, "expected some double-encoded json_metadata"
    inner = _json.loads(_json.loads(double_encoded[0]))
    assert "tags" in inner and "image" in inner


def _file_states(root):
    import os
    out = {}
    for r, _d, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            out[p] = os.path.getmtime(p)
    return out


@pytest.mark.slow
def test_bounded_rewrite_touched_partitions_only(spark, tmp_path, ops_batch1):
    """The 100 TB contract: a merge rewrites only the partition
    directories its batch touches — posts in other months and account
    buckets of other users keep their exact files."""
    eng = SyncEngine(spark, str(tmp_path))
    eng.run(ops_batch1, batch_size=10)
    # second round: one post in a different month, one vote by a new voter
    batch2 = spark.createDataFrame(
        [
            _op(20, "2024-07-01 10:00:00", "comment", _comment("zed", "zp1")),
            _op(20, "2024-07-01 10:00:01", "vote", _vote("newvoter", "zed", "zp1", 10)),
        ],
        OP_STREAM_SCHEMA,
    )
    posts_before = _file_states(f"{tmp_path}/posts")
    accounts_before = _file_states(f"{tmp_path}/accounts")
    eng.run(batch2, batch_size=10)
    posts_after = _file_states(f"{tmp_path}/posts")
    accounts_after = _file_states(f"{tmp_path}/accounts")

    # all March post files are bit-for-bit untouched (same path+mtime)
    for p, mt in posts_before.items():
        if "year=2024/month=3" in p:
            assert posts_after.get(p) == mt, f"untouched partition rewritten: {p}"
    # the new July partition exists
    assert any("year=2024/month=7" in p for p in posts_after)

    # accounts: only the buckets of {zed, newvoter} changed
    from chain_sync_spark.sync.engine import N_ACCOUNT_BUCKETS, _bucket
    touched = {
        r["b"]
        for r in spark.createDataFrame([("zed",), ("newvoter",)], "name string")
        .select(_bucket("name", N_ACCOUNT_BUCKETS).alias("b"))
        .collect()
    }
    changed = {
        p for p in set(accounts_before) | set(accounts_after)
        if accounts_before.get(p) != accounts_after.get(p)
    }
    for p in changed:
        assert any(f"bucket={b}/" in p or p.endswith(f"bucket={b}") for b in touched), (
            f"file outside touched buckets changed: {p} (touched {touched})"
        )


def test_stock_post_tags_without_command(spark, tmp_path):
    """handleStockImagePost runs unconditionally on top-level stock
    posts (comments.js:146) — no command required."""
    eng = SyncEngine(spark, str(tmp_path))
    ops = spark.createDataFrame(
        [
            _op(1, TS, "comment", _comment("bob", "s1", body="pic #Sea #sky",
                                           parent_permlink="hivestockimages")),
            _op(1, TS, "comment", _comment("bob", "n1", body="pic #Sea",
                                           parent_permlink="cat1")),
        ],
        OP_STREAM_SCHEMA,
    )
    eng.run(ops, batch_size=10)
    posts = {r["permlink"]: r for r in _posts(spark, tmp_path).collect()}
    assert posts["s1"]["stockimage_tags"] == "sea sky"
    assert posts["n1"]["stockimage_tags"] is None


@pytest.mark.slow
def test_stream_guards_and_stop_block(spark, tmp_path):
    """P3 empty batches advance the cursor without work; P4 malformed
    ops abort before any merge; stop_block bounds the replay."""
    import os
    eng = SyncEngine(spark, str(tmp_path))
    # blocks 0-1 have ops, 2-9 empty (absent), 10 has ops
    rows = [
        _op(0, TS, "comment", _comment("alice", "p1")),
        _op(1, TS, "vote", _vote("v1", "alice", "p1", 5)),
        _op(10, TS, "comment", _comment("bob", "p2")),
    ]
    ops = spark.createDataFrame(rows, OP_STREAM_SCHEMA)
    # stop_block=5: only blocks < 5 processed
    cur = eng.run(ops, batch_size=2, stop_block=5)
    assert cur == 5
    assert {r["permlink"] for r in _posts(spark, tmp_path).collect()} == {"p1"}
    # resume without stop: processes block 10
    cur = eng.run(ops, batch_size=4)
    assert cur == 11
    assert {r["permlink"] for r in _posts(spark, tmp_path).collect()} == {"p1", "p2"}
    # P4: malformed op (null payload) aborts and leaves cursor put
    bad = spark.createDataFrame(
        [(12, None, "comment", None)], OP_STREAM_SCHEMA
    )
    import pytest as _pytest
    with _pytest.raises(ValueError, match="malformed"):
        eng.run(bad, batch_size=4)
    from chain_sync_spark.sources.checkpoint import read_cursor
    assert read_cursor(spark, f"{tmp_path}/checkpoint") == 11


def test_row_order_invariance(spark, tmp_path, ops_batch1):
    """Set-based handlers must not depend on the source DataFrame's
    row order: a reversed op stream produces the identical store
    (dedup/sign-routing key on (block_num, timestamp), never on
    physical order) — SURVEY §5.4's reorder property."""
    eng_a = SyncEngine(spark, str(tmp_path / "a"))
    eng_a.run(ops_batch1, batch_size=10)
    reversed_ops = spark.createDataFrame(
        list(reversed(ops_batch1.collect())), ops_batch1.schema
    )
    eng_b = SyncEngine(spark, str(tmp_path / "b"))
    eng_b.run(reversed_ops, batch_size=10)
    for tbl in ["posts", "accounts"]:
        a = sorted(map(str, spark.read.parquet(f"{tmp_path}/a/{tbl}").collect()))
        b = sorted(map(str, spark.read.parquet(f"{tmp_path}/b/{tbl}").collect()))
        assert a == b, tbl


def test_mutings(spark, tmp_path):
    import os

    eng = SyncEngine(spark, str(tmp_path))
    ops = spark.createDataFrame(
        [
            _op(1, TS, "comment", _comment("alice", "s1", parent_permlink="hive-118554")),
            _op(1, TS, "comment", _comment("bob", "s2", parent_permlink="hive-118554")),
            _op(1, TS, "comment", _comment("alice", "other", parent_permlink="cat1")),
        ],
        OP_STREAM_SCHEMA,
    )
    eng.run(ops, batch_size=10)
    from chain_sync_spark.sync.mutings import apply_community_mutings
    roles = spark.createDataFrame(
        [("alice", "muted"), ("bob", "member")], "account string, role string"
    )
    apply_community_mutings(spark, f"{tmp_path}/posts", roles, "hive-118554")
    rows = {r["permlink"]: r["muted_in_community"] for r in _posts(spark, tmp_path).collect()}
    assert rows == {"s1": True, "s2": None, "other": None}

    # already-flagged posts are left out of the merge: a re-run with
    # unchanged roles rewrites no posts partition
    def posts_files():
        return sorted(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(eng.posts_dir)
            for f in files
            if f.endswith(".parquet")
        )

    before = posts_files()
    apply_community_mutings(spark, f"{tmp_path}/posts", roles, "hive-118554")
    assert posts_files() == before


def test_reply_tag_updates_off_by_default(spark, tmp_path):
    """The shipped reference never runs handleReply (call site
    commented out, comments.js:115), and neither does the engine: a
    command reply never changes the parent post's stockimage_tags."""
    eng = SyncEngine(spark, str(tmp_path))
    ops = spark.createDataFrame(
        [
            _op(1, TS, "comment", _comment("alice", "p1", body="photo #original",
                                           parent_permlink="hive-118554")),
            _op(2, TS, "comment", _comment("crosheille", "r1", parent_author="alice",
                                           parent_permlink="p1",
                                           body="!update-stock-image-tags #Fixed")),
        ],
        OP_STREAM_SCHEMA,
    )
    eng.run(ops, batch_size=10)
    p1 = _posts(spark, tmp_path).filter(F.col("permlink") == "p1").first()
    assert p1["stockimage_tags"] == "original"


def test_authoritative_snapshot_wins(spark, tmp_path):
    """J3 'authoritative store wins' (comments.js:123-142): when the
    engine is given an authoritative snapshot, its non-null content
    overrides the op's for posts it contains; other posts and columns
    keep op-derived content."""
    from chain_sync_spark.functions.hashing import surrogate_id

    auth = spark.createDataFrame(
        [("alice", "p1", "Authoritative title")],
        "author string, permlink string, text_title string",
    ).select(
        surrogate_id("author", "permlink").alias("post_id"),
        "text_title",
        F.lit(None).cast("string").alias("text_body"),  # null → op wins
    )
    eng = SyncEngine(spark, str(tmp_path), authoritative=auth)
    ops = spark.createDataFrame(
        [
            _op(1, TS, "comment", _comment("alice", "p1", body="op body", title="Op title")),
            _op(1, TS, "comment", _comment("bob", "p2", body="other", title="Bob title")),
        ],
        OP_STREAM_SCHEMA,
    )
    eng.run(ops, batch_size=10)
    posts = {r["permlink"]: r for r in _posts(spark, tmp_path).collect()}
    assert posts["p1"]["text_title"] == "Authoritative title"   # snapshot wins
    assert posts["p1"]["text_body"] == "op body"                # null col → op wins
    assert posts["p2"]["text_title"] == "Bob title"             # not in snapshot


def test_heartbeat_fires_per_committed_round(spark, tmp_path):
    """S13 parity (listener.js:44-56,145): the heartbeat hook fires
    once per committed round — EMPTY rounds included (the reference
    pings its monitor after every round; silence across empty block
    spans would trip a liveness monitor) — after the cursor advance,
    with the round's block span, op count, and elapsed time."""
    from chain_sync_spark.sources.blocks import synthesize_ops
    from chain_sync_spark.sync.engine import SyncEngine

    beats = []
    ops = synthesize_ops(spark, n_blocks=20, ops_per_block=5)
    engine = SyncEngine(spark, str(tmp_path / "store"), heartbeat=beats.append)
    final = engine.run(ops, batch_size=10)
    assert len(beats) == 2
    assert [b["batch_lo"] for b in beats] == [0, 10]
    assert beats[-1]["cursor"] == final
    assert all(b["n_ops"] == 50 and b["elapsed_s"] > 0 for b in beats)

    # empty rounds still beat: drop blocks 0-9 → round one has no ops
    beats2 = []
    sparse = ops.filter(F.col("block_num") >= 10)
    engine2 = SyncEngine(spark, str(tmp_path / "store2"), heartbeat=beats2.append)
    engine2.run(sparse, batch_size=10)
    assert [b["n_ops"] for b in beats2] == [0, 50]
    assert [b["batch_lo"] for b in beats2] == [0, 10]


def test_run_with_stop_block_covers_blocks_without_ops(spark, tmp_path):
    """With `stop_block`, run() covers [cursor, stop_block) whatever the
    source holds: a source with no rows, or one that ends early, still
    advances the cursor through empty rounds, each with its beat. (The
    listener polls a block range; a range whose blocks carry no ops
    must not look like silence to a liveness monitor.)"""
    from chain_sync_spark.sources.checkpoint import read_cursor

    beats = []
    eng = SyncEngine(spark, str(tmp_path), heartbeat=beats.append)
    empty = spark.createDataFrame([], OP_STREAM_SCHEMA)
    assert eng.run(empty, batch_size=10, stop_block=25) == 25
    assert [(b["batch_lo"], b["batch_hi"], b["n_ops"]) for b in beats] == [
        (0, 10, 0), (10, 20, 0), (20, 25, 0)
    ]
    assert read_cursor(spark, f"{tmp_path}/checkpoint") == 25
    ops = spark.createDataFrame([_op(26, TS, "comment", _comment("alice", "p1"))], OP_STREAM_SCHEMA)
    assert eng.run(ops, batch_size=10, stop_block=40) == 40
    assert [(b["batch_lo"], b["n_ops"]) for b in beats[3:]] == [(25, 1), (35, 0)]
    assert _posts(spark, tmp_path).count() == 1


def test_run_rejects_batch_size_below_one(spark, tmp_path, ops_batch1):
    """A round of 0 blocks would never advance the cursor (run() loops
    forever) and a negative one would move it backwards, so run()
    raises before it reads or writes the checkpoint."""
    import os

    eng = SyncEngine(spark, str(tmp_path))
    for bad in (0, -1):
        with pytest.raises(ValueError, match="batch_size"):
            eng.run(ops_batch1, batch_size=bad)
    assert not os.path.exists(eng.cursor_path)


@pytest.mark.slow
def test_accounts_merge_failure_aborts_round(spark, tmp_path, ops_batch1, monkeypatch):
    """The accounts merge runs in a worker thread concurrent with the
    posts chain; its failure must still fail the ROUND before the
    cursor advances (replay then redoes the whole batch — merges are
    idempotent, so the half-committed posts chain is safe)."""
    from chain_sync_spark.sources.checkpoint import read_cursor
    from chain_sync_spark.sync.engine import SyncEngine

    eng = SyncEngine(spark, str(tmp_path))

    def boom(*a, **k):
        raise RuntimeError("accounts store unavailable")

    monkeypatch.setattr(eng, "_merge_accounts", boom)
    with pytest.raises(RuntimeError, match="accounts store unavailable"):
        eng.run(ops_batch1.withColumn("block_num", F.lit(0)), batch_size=10)
    # cursor never advanced: the batch replays in full on restart
    assert read_cursor(spark, f"{tmp_path}/checkpoint", default=0) == 0

    # restart with the real merge: round completes and converges to
    # the same store state a clean run produces (idempotent replay
    # over the posts chain's partial commit)
    eng2 = SyncEngine(spark, str(tmp_path))
    cur = eng2.run(ops_batch1.withColumn("block_num", F.lit(0)), batch_size=10)
    assert cur == 1
    accounts = {r["name"] for r in _accounts(spark, tmp_path).collect()}
    assert "alice" in accounts


def test_cursor_format_cross_compat(spark, tmp_path):
    """r13: cursor I/O moved from Spark jobs to driver-side pyarrow.
    The on-disk contract is unchanged — a directory holding one
    parquet file — so a store written by either revision must read
    back under the other."""
    import os

    from chain_sync_spark.sources.checkpoint import read_cursor, write_cursor

    # new writer → Spark reader (the old read path)
    p1 = f"{tmp_path}/ck_new"
    write_cursor(spark, p1, 42)
    assert spark.read.parquet(p1).first()["block_num"] == 42
    # Spark writer (the old write path, reproduced verbatim) → new reader
    p2 = f"{tmp_path}/ck_old"
    tmp = p2 + ".tmp"
    spark.createDataFrame([(7,)], "block_num long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    os.rename(tmp, p2)
    assert read_cursor(spark, p2) == 7
    # overwrite via the new writer stays atomic + re-readable
    write_cursor(spark, p2, 9)
    assert read_cursor(spark, p2) == 9
    assert read_cursor(spark, f"{tmp_path}/absent", default=3) == 3


def test_cursor_write_crash_before_new_cursor_lands(spark, tmp_path, monkeypatch):
    """A crash inside write_cursor after the live cursor was moved or
    removed, but before the new one is renamed into place, must not
    lose the cursor: read_cursor returns the previous value (not the
    genesis default, which would replay from block 0) and the next
    write_cursor succeeds."""
    import os

    from chain_sync_spark.sources.checkpoint import read_cursor, write_cursor

    path = f"{tmp_path}/checkpoint"
    write_cursor(spark, path, 7)

    def _crash_on_install(real):
        def _rename(src, dst, *a, **kw):
            if os.fspath(dst) == path:
                raise OSError("injected crash before the new cursor lands")
            return real(src, dst, *a, **kw)

        return _rename

    monkeypatch.setattr(os, "rename", _crash_on_install(os.rename))
    monkeypatch.setattr(os, "replace", _crash_on_install(os.replace))
    with pytest.raises(OSError, match="injected crash"):
        write_cursor(spark, path, 8)
    monkeypatch.undo()

    assert read_cursor(spark, path, default=0) == 7
    write_cursor(spark, path, 9)
    assert read_cursor(spark, path, default=0) == 9


def test_first_write_empty_updates_materializes_no_table(spark, tmp_path):
    """r13: the first-write path stages once instead of probing
    isEmpty() first — but a zero-row update batch must STILL leave no
    table behind (partitioned zero-row dirs would later fail reads
    with UNABLE_TO_INFER_SCHEMA), and no staging turd either."""
    import os

    from chain_sync_spark.sync.merge import merge_parquet

    schema = "k long, v string, part int"
    empty = spark.createDataFrame([], schema)
    tgt_part = f"{tmp_path}/t_part"
    merge_parquet(spark, tgt_part, empty, key_cols=["k"], partition_cols=["part"],
                  target_schema=schema)
    assert not os.path.exists(tgt_part)
    tgt_flat = f"{tmp_path}/t_flat"
    merge_parquet(spark, tgt_flat, empty.drop("part"), key_cols=["k"],
                  target_schema="k long, v string")
    assert not os.path.exists(tgt_flat)
    assert not [e for e in os.listdir(tmp_path) if e.endswith(".staging")]
    # and a NON-empty first write lands with rows intact
    rows = spark.createDataFrame([(1, "a", 3), (2, "b", 4)], schema)
    merge_parquet(spark, tgt_part, rows, key_cols=["k"], partition_cols=["part"],
                  target_schema=schema)
    assert spark.read.parquet(tgt_part).count() == 2


def test_batch_stats_post_keys_match_classify(spark, ops_batch1):
    """run()'s one stats job collects the (post_id, bucket) of every
    post a round may write, from the raw op payload. They must be
    exactly the keys the handlers derive from classify's columns: the
    root comments' and the vote targets', through the same surrogate
    key, xxhash64 and pmod. A key missed here would leave its post out
    of the round's index slice (a vote dropped, an edit written to a
    second partition)."""
    from chain_sync_spark.functions.hashing import surrogate_id
    from chain_sync_spark.sync.classify import classify
    from chain_sync_spark.sync.engine import N_INDEX_BUCKETS

    n_ops, n_bad, post_keys = batch_stats(ops_batch1)
    assert (n_ops, n_bad) == (9, 0)
    got = set(post_keys)

    typed = classify(ops_batch1)
    roots = typed["comment"].filter(F.col("parent_author") == "")
    ids = roots.select(surrogate_id("author", "permlink").alias("post_id")).union(
        typed["vote"].select(surrogate_id("author", "permlink"))
    )
    want = {
        (r[0], r[1])
        for r in ids.select(
            "post_id", F.pmod(F.xxhash64("post_id"), F.lit(N_INDEX_BUCKETS)).cast("int")
        ).collect()
    }
    # alice/p1, carol/p2, dave/p3 and the vote target ghost/nope; the
    # reply bob/r1 writes no post
    assert got == want and len(got) == 4


def _store_rows(spark, store, table):
    df = spark.read.parquet(f"{store}/{table}")
    return sorted(repr(r) for r in df.select(sorted(df.columns)).collect())


def test_posts_merge_reads_no_table_another_merge_swaps(spark, tmp_path, ops_batch1, monkeypatch):
    """The posts merge runs beside the posts_index merge, which swaps
    index bucket directories, so it must not read posts_index: partition
    resolution and the vote existence probe use the slice read on the
    driver before the merges start. Moving posts_index aside for exactly
    the span of each posts merge (merges run one at a time here) leaves
    the store equal to that of an undisturbed run."""
    import os
    import threading

    from chain_sync_spark.sync import engine as engine_mod

    batch2 = spark.createDataFrame(
        [
            _op(10, "2024-05-02 09:00:00", "comment", _comment("alice", "p1", body="moved")),
            _op(10, "2024-05-02 09:00:00", "comment", _comment("erin", "p4")),
            _op(11, "2024-05-02 09:00:00", "vote", _vote("v5", "carol", "p2", 100)),
            _op(11, "2024-05-02 09:00:00", "vote", _vote("v6", "erin", "p4", -1)),
        ],
        OP_STREAM_SCHEMA,
    )

    def sync(store):
        eng = SyncEngine(spark, store)
        eng.run(ops_batch1, batch_size=10)
        eng.run(batch2, batch_size=10)

    clean, moved = str(tmp_path / "clean"), str(tmp_path / "moved")
    sync(clean)

    real = engine_mod.merge_parquet
    one_at_a_time = threading.Lock()
    index = os.path.join(moved, "posts_index")

    def index_aside_during_posts_merge(spark_, target_dir, *args, **kwargs):
        with one_at_a_time:
            if os.path.basename(target_dir) != "posts" or not os.path.isdir(index):
                return real(spark_, target_dir, *args, **kwargs)
            os.rename(index, index + ".aside")
            try:
                return real(spark_, target_dir, *args, **kwargs)
            finally:
                os.rename(index + ".aside", index)

    monkeypatch.setattr(engine_mod, "merge_parquet", index_aside_during_posts_merge)
    sync(moved)
    monkeypatch.undo()
    for table in ("posts", "posts_index", "accounts"):
        assert _store_rows(spark, moved, table) == _store_rows(spark, clean, table), table


def test_folded_posts_merge_matches_store_oracle(spark, tmp_path, monkeypatch):
    """Comment upserts and vote set-adds reach posts in one merge. Over
    two rounds: a vote before its post exists (dropped), a same-batch
    comment and vote, a vote on an unknown post (dropped), and an edit
    plus votes on a post of an older month (one row, in the old
    partition). The store must equal the independent DuckDB oracle, and
    a post nobody voted on keeps null vote arrays."""
    import pathlib

    monkeypatch.syspath_prepend(str(pathlib.Path(__file__).resolve().parent.parent / "perfbench"))
    import oracle

    jan, mar = "2024-01-10 08:00:00", "2024-03-05 12:00:00"
    rows = [
        (1, jan, "comment", _comment("alice", "old")),
        (1, jan, "comment", _comment("bob", "quiet")),
        (2, jan, "vote", _vote("v0", "carol", "late", 100)),       # before its post
        (10, mar, "comment", _comment("carol", "late")),
        (10, mar, "comment", _comment("dave", "new")),
        (10, mar, "vote", _vote("v1", "dave", "new", 100)),        # same batch as its post
        (11, mar, "vote", _vote("v2", "ghost", "none", 100)),      # unknown post
        (11, mar, "comment", _comment("alice", "old", body="edited")),
        (12, mar, "vote", _vote("v3", "alice", "old", 100)),
        (12, mar, "vote", _vote("v4", "alice", "old", -10)),
        (12, mar, "comment", _comment("erin", "reply", parent_author="alice",
                                      parent_permlink="old")),
    ]
    rows = [(b, ts, t, json.dumps(p)) for b, ts, t, p in rows]
    ops = spark.createDataFrame(
        rows, "block_num long, ts string, op_type string, op string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store = str(tmp_path)
    assert SyncEngine(spark, store).run(ops, batch_size=10) == 13

    assert oracle.store_mismatches(store, oracle.expected_store(rows, 13, [])) == []
    posts = {r["permlink"]: r for r in _posts(spark, tmp_path).collect()}
    assert (posts["old"]["year"], posts["old"]["month"], posts["old"]["text_body"]) == (
        2024, 1, "edited")
    assert (posts["old"]["upvotes"], posts["old"]["downvotes"]) == (["v3"], ["v4"])
    for unvoted in ("quiet", "late"):
        assert posts[unvoted]["upvotes"] is None and posts[unvoted]["downvotes"] is None


def test_posts_index_bootstrap_crash_leaves_no_partial_index(spark, tmp_path, ops_batch1, monkeypatch):
    """A store that predates the index bootstraps it from posts. The
    bootstrap writes through staging + rename, so a crash mid-write
    leaves no live index directory (a partial one would be read as the
    whole index: votes for missing posts dropped, posts routed to the
    wrong partition) and the next call bootstraps the full index."""
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    eng = SyncEngine(spark, str(tmp_path))
    eng.run(ops_batch1, batch_size=10)
    shutil.rmtree(eng.posts_index_dir)
    real_parquet = DataFrameWriter.parquet

    def crash_midway(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if os.path.basename(path.rstrip("/")).startswith("posts_index"):
            buckets = sorted(e for e in os.listdir(path) if e.startswith("bucket="))
            for b in buckets[::2]:
                shutil.rmtree(os.path.join(path, b))
            raise OSError("simulated crash mid-write")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_midway)
    with pytest.raises(OSError, match="simulated crash"):
        eng.posts_index()
    monkeypatch.undo()
    assert not os.path.exists(eng.posts_index_dir)
    got = sorted(r[0] for r in eng.posts_index().select("post_id").collect())
    want = sorted(r[0] for r in eng.existing_posts().select("post_id").collect())
    assert len(want) == 3 and got == want


@pytest.fixture(scope="module")
def wide_store(spark, tmp_path_factory):
    """An engine-written store whose posts_index and accounts occupy
    more than 32 of their bucket directories: over Spark's default
    threshold for listing a directory level with a distributed job."""
    rows = [
        _op(1, "2024-03-05 12:00:00" if i % 2 else "2024-04-05 12:00:00", "comment",
            _comment(f"u{i}", f"p{i}"))
        for i in range(120)
    ]
    rows += [
        _op(2, TS, "vote", _vote("v1", "u0", "p0", 100)),
        _op(2, TS, "account_update",
            {"account": "u1", "json_metadata": json.dumps({"profile": {"name": "U", "about": "a"}})}),
    ]
    eng = SyncEngine(spark, str(tmp_path_factory.mktemp("wide_store")))
    eng.run(spark.createDataFrame(rows, OP_STREAM_SCHEMA), batch_size=10)
    return eng


def test_store_reads_start_no_spark_jobs(spark, wide_store):
    """Store tables are listed on the driver and read with their
    declared schemas, so opening one starts no listing job and no
    schema-inference job."""
    import os

    for d in (wide_store.posts_index_dir, wide_store.accounts_dir):
        assert sum(e.startswith("bucket=") for e in os.listdir(d)) > 32
    tracker = spark.sparkContext.statusTracker()

    def jobs_started(open_table):
        mark = max(tracker.getJobIdsForGroup(), default=-1)
        open_table()
        return max(tracker.getJobIdsForGroup(), default=-1) - mark

    assert jobs_started(wide_store.posts_index) == 0
    assert jobs_started(wide_store.existing_posts) == 0
    # no declared schema here: only the footer-inference job remains
    assert jobs_started(lambda: spark.read.parquet(wide_store.accounts_dir)) <= 1


def test_declared_schemas_match_inferred(spark, wide_store):
    """Guard against drift: a declared schema silently reads a renamed
    or retyped column as null, so each must equal what Spark infers
    from an engine-written store (names and types; nullability aside)."""
    from chain_sync_spark.sync.engine import ACCOUNTS_SCHEMA, INDEX_SCHEMA, POSTS_SCHEMA

    def shape(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    for table_dir, declared in (
        (wide_store.posts_dir, POSTS_SCHEMA),
        (wide_store.posts_index_dir, INDEX_SCHEMA),
        (wide_store.accounts_dir, ACCOUNTS_SCHEMA),
    ):
        inferred = spark.read.parquet(table_dir).schema
        assert shape(inferred) == shape(spark.createDataFrame([], declared).schema), table_dir


def test_partition_missing_mutable_columns_reads_nulls_and_is_rewritten(spark, tmp_path):
    """A posts partition written without the mutable columns (jobs,
    upvotes, downvotes, muted_in_community) reads them as typed nulls
    through the declared schema, and the next round that upserts into
    that month rewrites the partition with the complete schema."""
    import glob

    import pyarrow.parquet as pq

    from chain_sync_spark.functions.hashing import surrogate_id
    from chain_sync_spark.sync.engine import POSTS_SCHEMA

    spark.createDataFrame(
        [("olduser", "oldpost", "T", "b", "cat1", ["a"], [], None,
          datetime.fromisoformat("2024-03-01 00:00:00"), 2024, 3)],
        "author string, permlink string, text_title string,"
        " text_body string, parent_permlink string, tags array<string>,"
        " image array<string>, stockimage_tags string, timestamp timestamp,"
        " year int, month int",
    ).select(surrogate_id("author", "permlink").alias("post_id"), "*").write.partitionBy(
        "year", "month"
    ).parquet(f"{tmp_path}/posts")
    mutable = {"jobs", "upvotes", "downvotes", "muted_in_community"}

    eng = SyncEngine(spark, str(tmp_path))
    posts = eng.existing_posts()
    assert posts.schema == spark.createDataFrame([], POSTS_SCHEMA).schema
    old = posts.filter(F.col("permlink") == "oldpost").first()
    assert all(old[c] is None for c in mutable)

    eng.run(spark.createDataFrame(
        [_op(1, TS, "comment", _comment("alice", "p1")),
         _op(1, TS, "vote", _vote("v1", "olduser", "oldpost", 100))],
        OP_STREAM_SCHEMA,
    ), batch_size=10)
    files = glob.glob(f"{tmp_path}/posts/year=2024/month=3/*.parquet")
    assert files and all(mutable <= set(pq.read_schema(f).names) for f in files)
    rows = {r["permlink"]: r for r in _posts(spark, tmp_path).collect()}
    assert set(rows) == {"oldpost", "p1"}
    assert rows["oldpost"]["upvotes"] == ["v1"] and rows["oldpost"]["jobs"] is None


def _table_layout_ok(table, partition_cols):
    """Does `table` hold only `col=<int>` partition dirs, level by level
    (plus the `_`/`.`-prefixed files every reader skips)?"""
    import os
    import re

    level = [table]
    for col in partition_cols:
        nxt = []
        for d in level:
            for e in os.listdir(d):
                p = os.path.join(d, e)
                if e.startswith(("_", ".")) and os.path.isfile(p):
                    continue
                if not (os.path.isdir(p) and re.fullmatch(rf"{col}=\d+", e)):
                    return False
                nxt.append(p)
        level = nxt
    return True


def test_partition_swap_crash_at_every_step_converges(spark, tmp_path, monkeypatch):
    """Crash a partitioned merge at each filesystem step of its swap in
    turn: after staging, after each live→old and staging→live rename,
    before the cleanup. At every crash point the live table holds only
    partition dirs (no backup inside it), and recovery plus a re-run of
    the same merge yields the table of a merge that never crashed."""
    import os
    import shutil

    from chain_sync_spark.sync.merge import merge_parquet, recover_table

    schema = "k long, v string, year int, month int"
    parts = ["year", "month"]
    base = str(tmp_path / "base")
    merge_parquet(spark, base, spark.createDataFrame(
        [(1, "a", 2023, 1), (2, "b", 2023, 2), (3, "c", 2024, 1), (4, "d", 2023, 5)], schema
    ), key_cols=["k"], partition_cols=parts, target_schema=schema)
    # three live leaves touched, one new leaf, 2023/5 untouched
    updates = spark.createDataFrame(
        [(1, "A", 2023, 1), (2, "B", 2023, 2), (5, "e", 2023, 2), (3, "C", 2024, 1),
         (6, "f", 2024, 2)], schema
    )

    def merge(table):
        merge_parquet(spark, table, updates, key_cols=["k"], partition_cols=parts,
                      target_schema=schema)

    def rows(table):
        return sorted(spark.read.parquet(table).select("k", "v", "year", "month").collect())

    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    merge(clean)
    want = rows(clean)

    table = str(tmp_path / "t")
    real = {"replace": os.replace, "rename": os.rename, "rmtree": shutil.rmtree}
    step = 0
    while True:
        step += 1
        shutil.rmtree(table, ignore_errors=True)
        shutil.copytree(base, table)
        calls = []

        def inject(name):
            def fs_step(path, *a, **kw):
                if os.fspath(path).startswith(table):
                    calls.append(name)
                    if len(calls) == step:
                        raise OSError(f"injected crash before {name} #{step}")
                return real[name](path, *a, **kw)
            return fs_step

        for name, owner in (("replace", os), ("rename", os), ("rmtree", shutil)):
            monkeypatch.setattr(owner, name, inject(name))
        try:
            merge(table)
            crashed = False
        except OSError:
            crashed = True
        finally:
            monkeypatch.undo()
        if not crashed:
            break
        assert _table_layout_ok(table, parts), (step, calls, os.listdir(table))
        recover_table(table, len(parts))
        assert _table_layout_ok(table, parts), step
        merge(table)
        assert rows(table) == want, step
        assert sorted(os.listdir(tmp_path)) == ["base", "clean", "t"], step
    # 3 live→old + 4 staging→live renames and the cleanup were all hit
    assert step > 8, step


@pytest.mark.parametrize("leftover", [
    "table_staging", "table_backup_table_missing", "table_backup_table_present",
    "leaf_backup_leaf_missing", "leaf_backup_leaf_present",
])
def test_recovery_repairs_previous_revision_leftovers(tmp_path, leftover):
    """A store left mid-swap by the previous revision's own swaps
    (`T.__staging__`, `T.__bak__`, `T/<leaf>.__bak__`) is repaired by
    the one recovery to the same table, with nothing left beside it."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from chain_sync_spark.sync.merge import recover_table

    table = str(tmp_path / "posts")
    for year, month in ((2023, 12), (2024, 1), (2024, 2)):
        leaf = f"{table}/year={year}/month={month}"
        os.makedirs(leaf)
        pq.write_table(pa.table({"k": [year * 100 + month]}), f"{leaf}/part-0.parquet")

    def snapshot():
        return {
            os.path.relpath(os.path.join(r, f), table): open(os.path.join(r, f), "rb").read()
            for r, _d, files in os.walk(table) for f in files
        }

    want = snapshot()
    leaf = f"{table}/year=2024/month=2"
    if leftover == "table_staging":
        os.makedirs(f"{table}{LEGACY_STAGING}/year=2024/month=2")
    elif leftover == "table_backup_table_missing":
        os.rename(table, table + LEGACY_BACKUP)
    elif leftover == "table_backup_table_present":
        shutil.copytree(table, table + LEGACY_BACKUP)
        os.remove(f"{table}{LEGACY_BACKUP}/year=2024/month=2/part-0.parquet")
    elif leftover == "leaf_backup_leaf_missing":
        os.rename(leaf, leaf + LEGACY_BACKUP)
    else:
        shutil.copytree(leaf, leaf + LEGACY_BACKUP)
        os.remove(f"{leaf}{LEGACY_BACKUP}/part-0.parquet")

    recover_table(table, 2)
    assert snapshot() == want
    assert os.listdir(tmp_path) == ["posts"]
    assert _table_layout_ok(table, ["year", "month"])


def test_warm_live_round_reuses_compiled_code(spark, tmp_path):
    """A live round's generated classes stay in the codegen cache
    between rounds: after one warm-up round, a second round of the
    same shape compiles only the few classes whose code inlines a
    round-specific literal. With Spark's default 100-entry cache the
    round's ~135 classes evict each other and every round recompiles
    all of them."""
    from chain_sync_spark.sources.rpc import ops_from_rpc

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled():
        return codegen.METRIC_COMPILATION_TIME().getCount()

    def poll(lo, n=5):
        stamp = lambda b: f"2024-03-05T12:{b // 60:02d}:{b % 60:02d}"  # noqa: E731
        meta = json.dumps({"profile": {"name": "n"}})
        return [
            {"id": k, "result": [
                {"op": ["comment", _comment(f"u{b % 7}", f"p{b}")], "timestamp": stamp(b)},
                {"op": ["vote", _vote(f"v{b % 5}", f"u{(b - 1) % 7}", f"p{b - 1}", 100)],
                 "timestamp": stamp(b)},
                {"op": ["account_update", {"account": f"u{b % 7}", "json_metadata": meta}],
                 "timestamp": stamp(b)},
            ]}
            for k, b in enumerate(range(lo, lo + n))
        ]

    eng = SyncEngine(spark, str(tmp_path))
    for lo in (0, 5):  # the first round creates the store; the second warms up
        eng.run(ops_from_rpc(spark, lo, poll(lo)))
    before = compiled()
    assert eng.run(ops_from_rpc(spark, 10, poll(10))) == 15
    assert compiled() - before < 30

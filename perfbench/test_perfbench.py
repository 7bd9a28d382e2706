"""Tests of the benchmark's own parts: the seeded generators, the
DuckDB store oracle and the metric definitions.

    python3 -m pytest perfbench -q            # fast tests
    python3 -m pytest perfbench -q -m slow    # engine vs oracle (starts Spark)
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import metrics  # noqa: E402
import opgen  # noqa: E402
import oracle  # noqa: E402
import tablegen  # noqa: E402


def test_opgen_same_seed_same_stream():
    a, b = opgen.generate(7, 120, 30), opgen.generate(7, 120, 30)
    assert a.rows() == b.rows()
    assert a.posts == b.posts and a.muted == b.muted
    assert opgen.rpc_results(a) == opgen.rpc_results(b)
    assert opgen.generate(8, 120, 30).rows() != a.rows()


def test_opgen_history_spans_twelve_months_and_live_follows():
    s = opgen.generate(1, 200, 20)
    first, last = s.blocks[0].ts, s.blocks[199].ts
    assert (last.year - first.year) * 12 + last.month - first.month >= 11
    live = [b.ts for b in s.blocks[200:]]
    assert all((t2 - t1).total_seconds() == opgen.LIVE_BLOCK_SECONDS for t1, t2 in zip(live, live[1:]))
    assert all(b1.ts < b2.ts for b1, b2 in zip(s.blocks, s.blocks[1:]))


def test_opgen_votes_target_earlier_posts_or_ghosts():
    s = opgen.generate(3, 300, 50)
    created = {(a, p): blk for a, p, blk in s.posts}
    n_ghost = n_old = 0
    for b in s.blocks:
        for t, p in b.ops:
            if t != "vote":
                continue
            key = (p["author"], p["permlink"])
            if p["permlink"].startswith("ghost-"):
                n_ghost += 1
                assert key not in created
            else:
                assert created[key] < b.num
                n_old += created[key] < b.num - 100
    assert n_ghost > 0 and n_old > 0


def test_opgen_metadata_shapes_present():
    metas = [
        p["json_metadata"]
        for b in opgen.generate(5, 200).blocks
        for t, p in b.ops
        if t == "comment" and p["parent_author"] == ""
    ]
    assert "{not json" in metas
    assert any(isinstance(json.loads(m), str) for m in metas if m != "{not json")


def test_land_json_matches_rows(tmp_path):
    s = opgen.generate(2, 250)
    n_bytes = opgen.land_json(s, str(tmp_path), 0, 250)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 3
    assert n_bytes == sum(os.path.getsize(tmp_path / f) for f in files)
    got = [json.loads(line) for f in files for line in open(tmp_path / f)]
    assert [(r["block_num"], r["ts"], r["op_type"], r["op"]) for r in got] == s.rows(0, 250)


def test_tablegen_same_seed_same_tables():
    a, b = tablegen.generate_tables(4), tablegen.generate_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(tablegen.generate_tables(5)["orders"])


def _row(block: int, op_type: str, **op) -> tuple[int, str, str, str]:
    ts = datetime(2024, 1 + block // 10, 1 + block % 10, 12).strftime("%Y-%m-%dT%H:%M:%S")
    return block, ts, op_type, json.dumps(op)


def test_oracle_tiny_hand_stream():
    post = dict(parent_author="", title="t", body="b", json_metadata="{}")
    profile = json.dumps({"profile": {"name": "Bo", "about": "x"}})
    rows = [
        _row(0, "comment", author="ann", permlink="p1", parent_permlink=opgen.COMMUNITY, **post),
        _row(1, "vote", voter="bob", author="ann", permlink="p1", weight=100),
        _row(2, "vote", voter="cy", author="ann", permlink="p1", weight=-5),
        _row(2, "vote", voter="dee", author="ann", permlink="ghost-1", weight=100),
        _row(3, "comment", author="ann", permlink="p1", parent_permlink=opgen.COMMUNITY, **post),
        _row(11, "comment", author="bob", permlink="p2", parent_permlink="cat1", **post),
        _row(12, "account_update", account="bob", json_metadata=json.dumps(profile)),
        _row(13, "account_update", account="cy", json_metadata="{not json"),
        _row(14, "vote", voter="ann", author="bob", permlink="p2", weight=1),
    ]
    posts, accounts = oracle.expected_store(rows, cursor=14, muted=["ann"], mute_cursor=12)
    assert posts == {
        ("ann", "p1", 2024, 1, ("bob",), ("cy",), True),
        ("bob", "p2", 2024, 2, (), (), False),
    }
    us = {name: last for name, last, _n, _a in accounts}
    assert us["bob"] == us["cy"] - 86400 * 10**6  # blocks 12 and 13: a day apart
    assert {(n, pn, pa) for n, _l, pn, pa in accounts} == {
        ("ann", None, None), ("bob", "Bo", "x"), ("cy", None, None), ("dee", None, None),
    }
    # a mute that ran before the post existed leaves it unmuted
    early, _ = oracle.expected_store(rows, cursor=14, muted=["ann"], mute_cursor=0)
    assert all(not p[-1] for p in early)


def test_tail_rule():
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 1.0)
    assert metrics.tail([float(i) for i in range(12)]) == (10.0, 11 / 12)
    xs = [float(i) for i in range(1, 101)]
    value, pct = metrics.tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 0.9


def test_benchmark_json_is_generated_from_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()
    names = [m["name"] for m in metrics.benchmark_json()["per_layer"]]
    assert len(names) == len(set(names))
    assert all(metrics.moves(n) for n in names)


@pytest.mark.slow
@pytest.mark.parametrize("batch", [7, 40])
def test_engine_store_matches_oracle_for_any_batch(tmp_path, batch):
    from pyspark.sql import SparkSession

    from chain_sync_spark.sources.blocks import ops_from_json
    from chain_sync_spark.sync.engine import SyncEngine
    from chain_sync_spark.sync.mutings import apply_community_mutings

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s = opgen.generate(9, 40, mix=opgen.OpMix(months=3))
    src, store = str(tmp_path / "src"), str(tmp_path / "store")
    opgen.land_json(s, src, 0, 40)
    engine = SyncEngine(spark, store)
    engine.run(ops_from_json(spark, src), batch_size=batch)
    roles = spark.createDataFrame(s.roles(), "account string, role string")
    apply_community_mutings(spark, engine.posts_dir, roles, opgen.COMMUNITY)
    expected = oracle.expected_store(s.rows(), 40, s.muted, mute_cursor=40)
    assert any(p[-1] for p in expected[0])  # the stream exercises the muting
    assert oracle.store_mismatches(store, expected) == []

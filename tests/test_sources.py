"""Source-stage parity tests: RPC request building/parsing + node
failover (S1/S2, listener.js:58-146) and paginated REST draining
(S8, handle_mutings.js:5-24), end-to-end into the sync engine."""

import json

import pytest

from chain_sync_spark.sources.paginated import fetch_all_pages, roles_snapshot
from chain_sync_spark.sources.rpc import (
    GET_OPS_METHOD,
    NodePool,
    build_block_requests,
    ops_from_rpc,
    parse_rpc_responses,
)


def _responses(start):
    """Two blocks: one with a comment+vote, one empty (P3 parity)."""
    return [
        {"id": 0, "result": [
            {"op": ["comment", {"author": "a", "permlink": "p",
                                "parent_author": "", "parent_permlink": "c",
                                "title": "t", "body": "b", "json_metadata": "{}"}],
             "timestamp": "2024-03-05T12:00:00"},
            {"op": ["vote", {"voter": "v", "author": "a", "permlink": "p",
                             "weight": 100}],
             "timestamp": "2024-03-05T12:00:01"},
        ]},
        {"id": 1, "result": []},
    ]


def test_build_block_requests_shape():
    reqs = build_block_requests(1000, 3)
    assert [r["params"][0] for r in reqs] == [1000, 1001, 1002]
    assert all(r["method"] == GET_OPS_METHOD and r["jsonrpc"] == "2.0" for r in reqs)
    assert [r["id"] for r in reqs] == [0, 1, 2]


def test_parse_rpc_responses_rows():
    rows = parse_rpc_responses(1000, _responses(1000))
    assert len(rows) == 2                      # empty block yields no rows
    assert rows[0][0] == 1000 and rows[0][2] == "comment"
    assert json.loads(rows[1][3])["voter"] == "v"


def test_parse_rpc_failed_block_raises():
    with pytest.raises(ValueError, match="failed block"):
        parse_rpc_responses(0, [{"id": 0, "result": None}])


def test_node_pool_failover_and_exhaustion():
    calls = []

    def flaky(node, payload):
        calls.append(node)
        if node != "good":
            raise ConnectionError(node)
        return _responses(0)

    pool = NodePool(["bad1", "bad2", "good"])
    out = pool.fetch(flaky, build_block_requests(0, 2))
    assert len(out) == 2
    assert calls == ["bad1", "bad2", "good"]
    assert pool.nodes == ["good"]              # failing nodes removed

    pool2 = NodePool(["bad1"])
    with pytest.raises(RuntimeError, match="no RPC nodes"):
        pool2.fetch(flaky, [])


@pytest.mark.slow
def test_ops_from_rpc_feeds_engine(spark, tmp_path):
    from chain_sync_spark.sync.engine import SyncEngine
    ops = ops_from_rpc(spark, 1000, _responses(1000))
    eng = SyncEngine(spark, str(tmp_path))
    eng.run(ops, batch_size=10)
    posts = spark.read.parquet(f"{tmp_path}/posts").collect()
    assert len(posts) == 1 and posts[0]["upvotes"] == ["v"]


def test_paginated_drain_and_snapshot(spark):
    data = [(f"acct{i:03d}", "muted" if i % 3 == 0 else "member", "") for i in range(250)]

    def fetch_page(cursor):
        after = [r for r in data if r[0] > cursor]
        return after[:100]

    rows = fetch_all_pages(fetch_page)
    assert len(rows) == 250                    # 100 + 100 + 50 + empty
    assert rows == sorted(data)

    snap = roles_snapshot(spark, lambda c: [r[:2] for r in fetch_page(c)])
    assert snap.count() == 250
    assert snap.filter("role = 'muted'").count() == len([r for r in data if r[1] == "muted"])


def test_paginated_never_drains_guard():
    with pytest.raises(RuntimeError, match="did not drain"):
        fetch_all_pages(lambda c: [("same", "x")], max_pages=5)


# ---------------------------------------------------------------------------
# Live-socket transport: S1/S2/S8 over a real local HTTP server
# ---------------------------------------------------------------------------

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from chain_sync_spark.sources.blocks import OP_STREAM_SCHEMA
from chain_sync_spark.sources.rpc import http_transport, json_rpc_call


class _RpcHandler(BaseHTTPRequestHandler):
    """Answers JSON-RPC batches the way a block-ops node does: one
    op per requested block; the roles method pages 2 rows at a time."""

    fail = False
    roles = [(f"acct{i:02d}", "muted" if i % 3 == 0 else "member") for i in range(5)]

    def do_POST(self):
        if self.fail:
            self.send_response(500)
            self.end_headers()
            return
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        out = []
        for req in body:
            if req["method"] == "condenser_api.get_ops_in_block":
                block = req["params"][0]
                out.append({
                    "id": req["id"],
                    "result": [{
                        "timestamp": "2024-03-05T12:00:00",
                        "op": ["vote", {"voter": f"u{block}", "author": "a",
                                        "permlink": f"p{block}", "weight": 100}],
                    }],
                })
            elif req["method"] == "bridge.list_community_roles":
                last = req["params"][1]
                names = [r[0] for r in self.roles]
                start = names.index(last) + 1 if last else 0
                out.append({"id": req["id"],
                            "result": self.roles[start:start + 2]})
            else:
                out.append({"id": req["id"], "error": "unknown method"})
        payload = json.dumps(out).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):  # keep pytest output clean
        pass


class _FailHandler(_RpcHandler):
    fail = True


@pytest.fixture()
def rpc_servers():
    """One healthy and one always-500 local node."""
    servers = []
    urls = []
    for handler in (_FailHandler, _RpcHandler):
        srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        urls.append(f"http://127.0.0.1:{srv.server_address[1]}/")
    yield urls  # [bad, good]
    for srv in servers:
        srv.shutdown()
        srv.server_close()


def test_http_transport_end_to_end_with_failover(spark, rpc_servers):
    """S1+S2 over real sockets: the pool tries the 500-node, drops it,
    and the healthy node's batch response flows through parse →
    DataFrame with the exact op-stream schema."""
    bad, good = rpc_servers
    pool = NodePool([bad, good])
    payload = build_block_requests(start_block=7, n_blocks=3)
    responses = pool.fetch(http_transport(timeout=5.0), payload)
    assert pool.nodes == [good]  # failing node dropped over the wire
    df = ops_from_rpc(spark, 7, responses)
    rows = {r["block_num"]: r for r in df.collect()}
    assert sorted(rows) == [7, 8, 9]
    assert json.loads(rows[8]["op"])["voter"] == "u8"
    assert df.schema.simpleString() == spark.createDataFrame(
        [], OP_STREAM_SCHEMA
    ).schema.simpleString()


def test_http_transport_exhausted_pool_raises(rpc_servers):
    bad, _ = rpc_servers
    pool = NodePool([bad])
    with pytest.raises(RuntimeError, match="no RPC nodes left"):
        pool.fetch(http_transport(timeout=5.0), build_block_requests(0, 1))


def test_paginated_roles_over_http(spark, rpc_servers):
    """S8 over real sockets: cursor pagination via repeated
    bridge.list_community_roles calls, 2 rows per page, drained into
    the roles snapshot."""
    _, good = rpc_servers

    def fetch_page(cursor):
        return [
            tuple(r)
            for r in json_rpc_call(
                good, "bridge.list_community_roles", ["comm", cursor, 2]
            )
        ]

    snap = roles_snapshot(spark, fetch_page)
    got = {r["account"]: r["role"] for r in snap.collect()}
    assert len(got) == 5
    assert got["acct00"] == "muted" and got["acct01"] == "member"


# ---------------------------------------------------------------------------
# Driver-built relations (sources.frames): JVM-resident, session-TZ parse
# ---------------------------------------------------------------------------

import time


def _lineage(df):
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.fixture()
def new_york_process_tz(monkeypatch):
    """The driver process in a non-UTC local zone (the session stays UTC)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_rpc_and_json_sources_yield_equal_rows(spark, tmp_path, new_york_process_tz):
    """Both op sources parse block timestamps in the session time zone,
    whatever the driver process's local zone: an end-of-month block
    stays in its month, tz-aware stamps keep their instant, a missing
    stamp stays null."""
    from chain_sync_spark.sources.blocks import ops_from_json

    stamps = [
        "2024-01-31T23:30:00",          # one hour from a month edge
        "2024-01-31T23:30:00.123456",
        "2024-01-31T23:30:00Z",
        "2024-02-01T01:30:00+05:00",     # = 2024-01-31 20:30 UTC
        None,
    ]
    responses = []
    with open(tmp_path / "ops.json", "w") as f:
        for k, ts in enumerate(stamps):
            payload = {"voter": f"v{k}", "author": "a", "permlink": "p", "weight": 1}
            item = {"op": ["vote", payload]}
            if ts is not None:
                item["timestamp"] = ts
            responses.append({"id": k, "result": [item]})
            f.write(json.dumps({"block_num": 40 + k, "ts": ts, "op_type": "vote",
                                "op": json.dumps(payload)}) + "\n")

    def shown(df):
        return sorted(
            df.selectExpr("block_num", "cast(ts as string) AS ts", "op_type", "op").collect()
        )

    rpc = shown(ops_from_rpc(spark, 40, responses))
    assert rpc == shown(ops_from_json(spark, str(tmp_path / "ops.json")))
    assert [r["ts"] for r in rpc] == [
        "2024-01-31 23:30:00", "2024-01-31 23:30:00.123456", "2024-01-31 23:30:00",
        "2024-01-31 20:30:00", None,
    ]


def test_malformed_rpc_timestamp_aborts_before_any_write(spark, tmp_path):
    """An RPC block timestamp Spark cannot parse fails run()'s first
    query, before any merge or cursor write."""
    import os

    from chain_sync_spark.sync.engine import SyncEngine

    bad = [{"id": 0, "result": [{"op": ["vote", {"voter": "v", "author": "a",
                                                  "permlink": "p", "weight": 1}],
                                 "timestamp": "not a time"}]}]
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        SyncEngine(spark, str(tmp_path)).run(ops_from_rpc(spark, 0, bad))
    assert os.listdir(tmp_path) == []


def test_driver_built_relations_run_no_python(spark, tmp_path):
    """The relations the sync path builds from driver rows live in the
    JVM: no scan of them starts a Python worker."""
    from chain_sync_spark.sync.engine import SyncEngine

    eng = SyncEngine(spark, str(tmp_path / "store"))
    frames = {
        "ops_from_rpc": ops_from_rpc(spark, 1000, _responses(1000)),
        "roles_snapshot": roles_snapshot(
            spark, lambda c: [] if c else [("acct1", "muted"), ("acct2", "member")]
        ),
        "existing_posts": eng.existing_posts(),
        "posts_index": eng.posts_index(),
    }
    for name, df in frames.items():
        assert "PythonRDD" not in _lineage(df), name
    assert frames["ops_from_rpc"].count() == 2
    assert frames["roles_snapshot"].count() == 2


def test_rpc_batch_without_ops_is_typed_and_skipped(spark, tmp_path):
    """A poll whose blocks carry no ops gives a typed empty frame, and
    run() passes over empty blocks by the P3 path: the cursor advances
    and the heartbeat fires with no ops; no merge runs for them."""
    import os

    from chain_sync_spark.sync.engine import SyncEngine

    empty = ops_from_rpc(spark, 500, [{"id": k, "result": []} for k in range(3)])
    assert empty.schema == spark.createDataFrame([], OP_STREAM_SCHEMA).schema
    assert empty.count() == 0 and "PythonRDD" not in _lineage(empty)
    beats = []
    eng = SyncEngine(spark, str(tmp_path), heartbeat=beats.append)
    assert eng.run(empty) == 0 and beats == []  # nothing to consume

    # blocks 0-1 are empty, block 2 holds the ops
    responses = [{"id": 0, "result": []}, {"id": 1, "result": []}]
    responses += [{**r, "id": 2} for r in _responses(2)[:1]]
    assert eng.run(ops_from_rpc(spark, 0, responses), batch_size=1) == 3
    assert [(b["batch_lo"], b["n_ops"]) for b in beats] == [(0, 0), (1, 0), (2, 2)]
    assert os.path.isdir(tmp_path / "posts")

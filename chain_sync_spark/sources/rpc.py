"""Block-ops RPC fetch stage (reference S1/S2, listener.js:58-146).

The reference builds one JSON-RPC batch of `condenser_api.
get_ops_in_block` calls per fetch round, POSTs it to a random node,
drops failing nodes from the pool, and hard-exits when the pool is
empty. Network IO stays OUTSIDE the Spark job (a fetch step writes
rows; Spark reads rows) — request building, response parsing, and the
failover pool take an injected transport, and the output is exactly
the op-stream rows (`OP_STREAM_SCHEMA`) the sync engine consumes.
`http_transport` is the real wire implementation (stdlib urllib,
JSON-RPC-over-HTTP POST — tested against a live local HTTP server in
tests/test_sources.py); everything else stays pure.

Scale note: on a real deployment this stage runs as a thin feeder
(or a Structured Streaming custom source) whose only job is to land
`(block_num, ts, op_type, op)` rows in object storage; executor
parallelism then comes from Spark splitting those files, never from
per-executor RPC fan-out against public nodes.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chain_sync_spark.sources.frames import driver_frame

GET_OPS_METHOD = "condenser_api.get_ops_in_block"
# OP_STREAM_SCHEMA with the block timestamp still an ISO string
_RAW_OP_SCHEMA = "block_num long, ts string, op_type string, op string"


def build_block_requests(start_block: int, n_blocks: int) -> list[dict]:
    """The JSON-RPC batch payload for [start_block, start_block + n)
    (listener.js:61-62): one get_ops_in_block call per block, id =
    offset so responses can be matched back."""
    return [
        {
            "jsonrpc": "2.0",
            "method": GET_OPS_METHOD,
            "params": [start_block + k, False],
            "id": k,
        }
        for k in range(n_blocks)
    ]


def parse_rpc_responses(
    start_block: int, responses: Sequence[dict]
) -> list[tuple[int, Any, str, str]]:
    """JSON-RPC batch responses → op-stream rows.

    Mirrors the reference post-processing: match response id back to
    the block number, keep non-empty blocks (P3, listener.js:114),
    stamp the block timestamp into each payload's row (P2,
    listener.js:164), and project `[op_type, payload]`. A response
    with no result (failed block) raises — the caller's failover /
    abort decision (P4, listener.js:128-132)."""
    rows: list[tuple[int, Any, str, str]] = []
    for resp in responses:
        if "result" not in resp or resp["result"] is None:
            raise ValueError(f"failed block response: {resp.get('id')}")
        block_num = start_block + int(resp["id"])
        for item in resp["result"]:
            op_type, payload = item["op"]
            ts = item.get("timestamp")
            rows.append((block_num, ts, op_type, json.dumps(payload)))
    return rows


def ops_from_rpc(
    spark: SparkSession,
    start_block: int,
    responses: Sequence[dict],
) -> DataFrame:
    """Parsed responses as an op-stream DataFrame (``OP_STREAM_SCHEMA``),
    held in the JVM (``sources.frames``). Spark casts the ISO block
    timestamps in the session time zone, the same parse as
    ``blocks.ops_from_json``, so both sources yield the same rows."""
    rows = parse_rpc_responses(start_block, responses)
    return driver_frame(spark, rows, _RAW_OP_SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def http_transport(timeout: float = 10.0) -> Callable[[str, list[dict]], list[dict]]:
    """A REAL JSON-RPC-over-HTTP transport (the network half of S1,
    listener.js:63-76): POST the batch to the node URL, return the
    parsed JSON list. stdlib urllib only — plug it into
    ``NodePool.fetch`` as ``do_request``. Any HTTP error, timeout, or
    malformed body raises, which is exactly the signal NodePool's
    failover consumes (S2).

    Deployment note (module docstring): this runs in the thin feeder
    process that lands rows in object storage — never inside Spark
    executors."""
    from urllib.request import Request, urlopen

    def do_request(node: str, payload: list[dict]) -> list[dict]:
        req = Request(
            node,
            data=json.dumps(payload).encode("utf-8"),
            headers={"Content-Type": "application/json"},
        )
        with urlopen(req, timeout=timeout) as resp:
            if resp.status != 200:
                raise RuntimeError(f"HTTP {resp.status} from {node}")
            body = json.loads(resp.read().decode("utf-8"))
        if not isinstance(body, list):
            raise ValueError(f"expected JSON-RPC batch list from {node}")
        return body

    return do_request


def json_rpc_call(
    node: str,
    method: str,
    params: Sequence,
    *,
    transport: Callable[[str, list[dict]], list[dict]] | None = None,
) -> Any:
    """One non-batched JSON-RPC call (the shape the paginated roles
    source S8 uses per page, handle_mutings.js:8-14). Returns the
    `result`; raises on an error response."""
    transport = transport or http_transport()
    payload = [{"jsonrpc": "2.0", "method": method, "params": list(params), "id": 0}]
    (resp,) = transport(node, payload)
    if "result" not in resp or resp["result"] is None:
        raise ValueError(f"rpc error from {node}: {resp.get('error')}")
    return resp["result"]


class NodePool:
    """S2 failover: try nodes until one succeeds; a failing node is
    removed from the pool (listener.js:78-111); an empty pool raises
    (the reference exits -1). Deterministic order instead of the
    reference's random choice — retry behavior is identical, node
    selection is reproducible."""

    def __init__(self, nodes: Sequence[str]):
        self.nodes = list(nodes)

    def fetch(
        self, do_request: Callable[[str, list[dict]], Sequence[dict]], payload: list[dict]
    ) -> Sequence[dict]:
        while self.nodes:
            node = self.nodes[0]
            try:
                return do_request(node, payload)
            except Exception:
                self.nodes.pop(0)  # drop the failing node, try the next
        raise RuntimeError("no RPC nodes left to try")

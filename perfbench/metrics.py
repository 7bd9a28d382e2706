"""Metric definitions: the single source of BENCHMARK.json's metric
lists, plus the percentile rule every timing uses.

Regenerate BENCHMARK.json after editing this file:

    python3 perfbench/metrics.py > BENCHMARK.json
"""

from __future__ import annotations

import json
import math
import statistics
import sys

WORKLOADS = [
    ("sync_tail", "catch-up drain of 12 months of history into a fresh store, then an open-loop "
                  "live tail: RPC polls (batch 30), store reads after each commit, periodic muting"),
    ("query_mix", "closed-loop analytics + LLM-data operators over seeded tables; "
                  "read-only, so it is the control for sync changes"),
]

# (name, unit, better, bound). What each name measures per workload
# (run.py prints them under the per-workload names too):
#   sync_tail  throughput = catch-up blocks drained per second,
#              latency = block freshness, read = store read after a commit
#   query_mix  throughput = queries per second, latency = one query,
#              read = one of the ten analytics queries
# Every bound is wide: on a 4-vCPU VM whole runs drift by ~10% together
# (host load), which medians inside a run cannot remove.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("latency_p50_s", "s", "lower", 0.25),
    ("latency_tail_s", "s", "lower", 0.25),
    ("read_p50_s", "s", "lower", 0.25),
]
# read_tail_s is printed but not gated: with ~18 reads (sync_tail) or 10
# analytics queries (query_mix) a run has too few samples for a steady
# tail (quartile spread up to 0.2 over ten seeds).

# The ten queries the repository's bench.py BASELINE_SET names (the
# "reads" of query_mix), then ten LLM-data operators.
ANALYTICS_QUERIES = (
    "flagship_sync_digest",
    "tpch_q1_pricing_summary",
    "join_multiway_revenue",
    "join_broadcast_dims",
    "join_asof_purchase_prior_view",
    "window_topk_orders_per_customer",
    "window_running_revenue",
    "set_ops_segments",
    "json_extract_events_props",
    "date_partition_buckets",
)
QUERIES = ANALYTICS_QUERIES + (
    "dedup_exact_documents",
    "neardup_minhash_bands",
    "embedding_cosine_topk",
    "embedding_ivf_topk",
    "dedup_span_cut",
    "bm25_topk_documents",
    "tfidf_top_terms",
    "bpe_encode_frozen",
    "winnow_dup_clusters",
    "training_prep_pipeline",
)

MERGE_TARGETS = ("posts", "posts_index", "accounts", "votes")
READ_KINDS = ("post_lookup", "month_top_tags", "account_lookup")
QUERY_MODULES = ("relational", "llm_pipeline", "pipeline_extras", "corpus_ops")


def per_layer(queries: tuple[str, ...] = QUERIES) -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric of a traced run."""
    m = [
        ("session.start_s", "s", "lower"),
        ("jvm.gc_ms", "ms", "lower"),
        ("sources.rpc.fetch_parse_s", "s", "lower"),
        ("sources.rpc.ops", "count", "higher"),
        ("sources.backlog_max_blocks", "count", "lower"),
        ("sources.json.input_bytes_per_round", "bytes", "lower"),
        ("sources.checkpoint.s", "s", "lower"),
        ("sync.engine.round_s", "s", "lower"),
        ("sync.engine.jobs_per_round", "count", "lower"),
        ("sync.engine.stats_s", "s", "lower"),
        ("sync.engine.process_batch_s", "s", "lower"),
        ("sync.engine.posts_index_s", "s", "lower"),
        ("sync.handlers.construct_s", "s", "lower"),
    ]
    for t in MERGE_TARGETS:
        m += [
            (f"sync.merge.{t}.s", "s", "lower"),
            (f"sync.merge.{t}.partitions_rewritten", "count", "lower"),
            (f"sync.merge.{t}.bytes_rewritten", "bytes", "lower"),
            (f"sync.merge.{t}.useful_ratio", "ratio", "higher"),
        ]
    m += [
        ("sync.merge.recover_s", "s", "lower"),
        ("sync.mutings.apply_s", "s", "lower"),
        ("sync.mutings.partitions_rewritten", "count", "lower"),
        ("store.posts.files", "count", "lower"),
        ("store.posts_index.files", "count", "lower"),
    ]
    m += [(f"store.read.{k}_s", "s", "lower") for k in READ_KINDS]
    for q in queries:
        m += [
            (f"op.{q}.construct_s", "s", "lower"),
            (f"op.{q}.execute_s", "s", "lower"),
            (f"op.{q}.jobs", "count", "lower"),
            (f"op.{q}.exchanges", "count", "lower"),
        ]
    m += [(f"operators.{mod}.s", "s", "lower") for mod in QUERY_MODULES]
    m.append(("trace.overhead_ratio", "ratio", "lower"))
    return m


# Which end-to-end figure (by its per-workload name, see run.py) each
# per-layer metric should move, keyed by metric-name prefix. The
# BENCHMARK.json schema has no room for it, so it lives here;
# ``python3 perfbench/metrics.py --moves`` prints it.
LAYER_MOVES = {
    "session.": "setup_s on both workloads; query_tail_s on query_mix",
    "jvm.": "setup_s on both workloads; query_tail_s on query_mix",
    "sources.": "freshness_p50_s, freshness_tail_s and catchup_blocks_per_s on sync_tail",
    "sync.engine.": "catchup_blocks_per_s and freshness_p50_s on sync_tail; nothing on query_mix",
    "sync.handlers.": "catchup_blocks_per_s and freshness_p50_s on sync_tail; nothing on query_mix "
                      "(plan building only: their execution lands in the sync.merge spans)",
    "sync.merge.": "freshness_p50_s on sync_tail; little on catchup_blocks_per_s (small store)",
    "sync.mutings.": "freshness_tail_s on sync_tail",
    "store.": "read_p50_s and read_tail_s on sync_tail",
    "op.": "query_mix_s, query_p50_s and query_tail_s on query_mix",
    "operators.": "query_mix_s, query_p50_s and query_tail_s on query_mix "
                  "(a functions.* change also moves sync_tail)",
    "trace.": "none: the cost of tracing itself",
}


def moves(name: str) -> str:
    return next(v for k, v in LAYER_MOVES.items() if name.startswith(k))


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 21 samples no percentile above the median
    has ten beyond it; there the nearest-rank p90 stands in (with
    12 samples the second largest), which one outlier does not move."""
    xs = sorted(samples)
    n = len(xs)
    if n < 21:
        k = math.ceil(0.9 * n)
        return xs[k - 1], k / n
    return xs[n - 11], (n - 10) / n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 20,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in per_layer()],
    }


if __name__ == "__main__":
    if sys.argv[1:] == ["--moves"]:
        for n, _u, _b in per_layer():
            print(f"{n}: {moves(n)}")
    else:
        print(json.dumps(benchmark_json(), indent=2))

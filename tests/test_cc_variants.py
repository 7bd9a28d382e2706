"""Ground-truth tests for connected_components (min-label
propagation, rounds = graph diameter): its labels equal a union-find
replica's component minimum on fixtures, random graphs and the real
near-dup pair graph, and it hands out a lineage-truncated relation."""

import random

import pytest
from pyspark.sql import functions as F

from chain_sync_spark.operators.llm_pipeline import (
    connected_components,
    release_caches,
)


def _sym_edges(spark, pairs):
    """Symmetric (src, dst) edge relation — the shape every caller
    builds (both directions of each undirected pair)."""
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def _py_components(pairs):
    """Ground truth: union-find, labels = component min."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comp.values() for x in members}


GRAPHS = {
    # the diameter stress: one 40-node chain (label propagation's
    # worst case per round budget)
    "chain": [(i, i + 1) for i in range(40)],
    # two cliques bridged by one edge + a separate pair
    "cliques": [(a, b) for a in range(5) for b in range(a + 1, 5)]
    + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    + [(4, 10), (100, 101)],
    # star already rooted at its min (fixpoint from round zero)
    "star": [(0, i) for i in range(1, 9)],
    # star rooted at its MAX (every edge must re-point)
    "inverted_star": [(100, i) for i in range(1, 9)],
    # self-contained duplicate pair list with redundant parallel edges
    "parallel": [(1, 2), (2, 1), (1, 2), (2, 3)],
}


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_propagation_matches_union_find_on_fixtures(spark, name):
    pairs = GRAPHS[name]
    edges = _sym_edges(spark, pairs)
    # propagation needs a diameter-sized budget on the chain fixture
    got = {
        r.doc_id: r.label
        for r in connected_components(edges, max_iters=45).collect()
    }
    release_caches()
    assert got == _py_components(pairs)


@pytest.mark.slow
def test_propagation_matches_union_find_on_random_graphs(spark):
    rng = random.Random(20260815)
    for trial in range(5):
        n = rng.randrange(20, 80)
        m = rng.randrange(n // 2, 2 * n)
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        edges = _sym_edges(spark, pairs)
        # a diameter never exceeds n - 1, so n rounds always converge
        got = {
            r.doc_id: r.label
            for r in connected_components(edges, max_iters=n).collect()
        }
        release_caches()
        assert got == _py_components(pairs), f"trial {trial}"


@pytest.mark.slow
def test_propagation_on_real_neardup_graph(spark):
    """Labels on the real MinHash near-dup pair graph at sf0.001 — the
    production input shape — equal the union-find replica's."""
    from chain_sync_spark.operators.llm_pipeline import (
        CLUSTER_MIN_JACCARD,
        neardup_minhash_bands,
    )

    pairs = neardup_minhash_bands(spark, "/root/testdata/sf0.001").filter(
        F.col("jaccard") >= CLUSTER_MIN_JACCARD
    )
    half = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    want = _py_components([(r.src, r.dst) for r in half.collect()])
    got = {r.doc_id: r.label for r in connected_components(edges).collect()}
    release_caches()
    assert got == want and got


def test_cc_output_plan_is_flat(spark):
    """connected_components must hand out a lineage-truncated labels
    relation (LogicalRDD scan, no nested join tree): a merely
    persisted result re-plans up to checkpoint_every rounds of
    adaptive joins on EVERY downstream query — measured ~1.1 s per
    scan of a 560-row cached relation at sf0.1 (the r11 winnow warm
    regression's actual cause). Guards the r12 flatten for both the
    converged-naturally and final-round-checkpointed paths."""
    edges = _sym_edges(spark, GRAPHS["cliques"])
    labels = connected_components(edges)
    plan = labels._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan, "labels must be checkpoint-backed"
    assert "Join" not in plan, f"nested plan leaked through:\n{plan[:500]}"
    release_caches()
    # a path that ends ON an in-loop checkpoint round exercises the
    # already-checkpointed branch — range(7) converges exactly on a
    # checkpoint round (range(8) lands one past it and takes the same
    # final-flatten branch as the cliques case; instrumented)
    chain = _sym_edges(spark, [(i, i + 1) for i in range(7)])
    labels = connected_components(chain)
    plan = labels._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan and "Join" not in plan
    release_caches()


def test_propagation_labels_match_union_find_fast(spark):
    """FAST-TIER ground truth for connected_components (the slow tier
    adds the chain fixture and random graphs): every
    small fixture's labels must equal the union-find component minimum.
    Covers the r14 init fold (round 1 computed as one groupBy over the
    symmetric edges) — the 'star' fixture converges AT the init (no
    loop round runs), 'inverted_star'/'parallel'/'cliques' need the
    loop, so both the folded round and the loop protocol are pinned."""
    for name in ("star", "inverted_star", "parallel", "cliques"):
        pairs = GRAPHS[name]
        edges = _sym_edges(spark, pairs)
        got = {
            r.doc_id: r.label
            for r in connected_components(edges).collect()
        }
        release_caches()
        assert got == _py_components(pairs), name

"""Whole-registry oracle parity (dual transport) plus known-answer
tests for the LLM-data operators: k-means, SCD2, BPE, sketches, ANN
audits, dedup and quality screens.  Two unregistered query/oracle
pairs (markdown_lists_blocks, sync_mutings_digest) get the same
parity check by name."""

from datetime import datetime

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from chain_sync_spark.operators import llm_pipeline as lp
from chain_sync_spark.operators import temporal as tp
from chain_sync_spark.registry import all_oracles, all_queries

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# kmeans_embedding_clusters
# ---------------------------------------------------------------------------

def _py_kmeans(vectors: dict[int, np.ndarray]) -> dict[int, int]:
    """From-scratch integer-Lloyd replica: same micro-quantization,
    same floor-div means, same (distance, cid) tie-break."""
    v = {
        i: np.floor(x.astype(np.float64) * lp._KM_SCALE + 0.5).astype(np.int64)
        for i, x in vectors.items()
    }
    cents = {c: v[c].copy() for c in range(lp.KMEANS_K) if c in v}

    def assign():
        out = {}
        for i, x in v.items():
            best = min(
                (int(((x - c) * (x - c)).sum()), cid) for cid, c in cents.items()
            )
            out[i] = best[1]
        return out

    for _ in range(lp.KMEANS_ITERS):
        a = assign()
        for cid in cents:
            members = [v[i] for i, c in a.items() if c == cid]
            if members:
                s = np.sum(members, axis=0, dtype=np.int64)
                n = len(members)
                # python % is floor-mod and // floors: identical to the
                # engines' (s - ((s % n + n) % n)) div n
                cents[cid] = (s - (s % n)) // n
    return assign()


def test_kmeans_matches_python_replica_at_sf0001(spark):
    tbl = pq.read_table(f"{SF}/embeddings.parquet")
    vecs = {
        int(i): np.asarray(e, dtype=np.float32)
        for i, e in zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist())
    }
    want = _py_kmeans(vecs)
    rows = lp.kmeans_embedding_clusters(spark, SF).collect()
    got = {r.vec_id: r.cluster_id for r in rows}
    assert got == want
    sizes = {}
    for c in want.values():
        sizes[c] = sizes.get(c, 0) + 1
    assert {r.cluster_id: r.cluster_size for r in rows} == sizes


@pytest.mark.slow
def test_kmeans_tiny_blobs_converge(spark, tmp_path):
    """8 spread seeds + satellites around seeds 0 and 3: the
    satellites join their seed's cluster and sizes add up."""
    dim = 4
    base = {i: [float(10 * i + 1)] * dim for i in range(lp.KMEANS_K)}
    rows = [(i, base[i], 0) for i in range(lp.KMEANS_K)]
    rows += [(8, [1.4] * dim, 0), (9, [0.8] * dim, 0)]      # near seed 0
    rows += [(10, [31.3] * dim, 0), (11, [30.9] * dim, 0)]  # near seed 3
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r.vec_id: r for r in
           lp.kmeans_embedding_clusters(spark, str(tmp_path)).collect()}
    assert len(out) == 12
    assert out[8].cluster_id == out[9].cluster_id == out[0].cluster_id == 0
    assert out[10].cluster_id == out[11].cluster_id == out[3].cluster_id == 3
    assert out[0].cluster_size == 3 and out[3].cluster_size == 3
    for i in (1, 2, 4, 5, 6, 7):
        assert out[i].cluster_id == i and out[i].cluster_size == 1


# ---------------------------------------------------------------------------
# scd2_event_type_history
# ---------------------------------------------------------------------------

def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_scd2_runs_versions_and_validity(spark, tmp_path):
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    d = _write_events(spark, tmp_path, [
        # user 1: A A B A -> versions 1(A,2) 2(B,1) 3(A,1)
        (1, t(0), 1, "A", 0.0, "{}"),
        (2, t(1), 1, "A", 0.0, "{}"),
        (3, t(2), 1, "B", 0.0, "{}"),
        (4, t(3), 1, "A", 0.0, "{}"),
        # user 2: same-ts tie ordered by event_id -> X then Y
        (10, t(0), 2, "X", 0.0, "{}"),
        (11, t(0), 2, "Y", 0.0, "{}"),
    ])
    out = {(r.user_id, r.version): r
           for r in tp.scd2_event_type_history(spark, d).collect()}
    assert len(out) == 5
    r11, r12, r13 = out[(1, 1)], out[(1, 2)], out[(1, 3)]
    assert (r11.event_type, r11.n_events) == ("A", 2)
    assert (r12.event_type, r12.n_events) == ("B", 1)
    assert (r13.event_type, r13.n_events) == ("A", 1)
    # validity chains: each valid_to equals the next valid_from; open row NULL
    assert r11.valid_from == t(0) and r11.valid_to == t(2)
    assert r12.valid_from == t(2) and r12.valid_to == t(3)
    assert r13.valid_to is None and r13.is_current
    assert not r11.is_current and not r12.is_current
    # tie pinned by event_id: X (event 10) precedes Y (event 11)
    assert out[(2, 1)].event_type == "X" and not out[(2, 1)].is_current
    assert out[(2, 2)].event_type == "Y" and out[(2, 2)].is_current


def test_scd2_every_user_chain_is_well_formed(spark):
    """Structural invariants at sf0.001: versions are 1..n per user,
    exactly one open row per user, validity intervals chain without
    gaps, and run n_events sum to the user's event count."""
    rows = tp.scd2_event_type_history(spark, SF).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    ev_counts = {
        r.user_id: r.n
        for r in tp.table(spark, SF, "events")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(by_user) == set(ev_counts)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r.n_events for r in rs) == ev_counts[uid]
        assert sum(1 for r in rs if r.is_current) == 1
        assert rs[-1].is_current and rs[-1].valid_to is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from > a.valid_from
            assert a.event_type != b.event_type  # runs are maximal


# ---------------------------------------------------------------------------
# Driver-faithful certification (dual transport, as tools/oracle_check)
# ---------------------------------------------------------------------------

def _dual_transport_parity(spark, name, fn, oracle):
    """Spark vs DuckDB through BOTH driver transports (object path and
    pandas path) via the exact canonicalizer tools/oracle_check shares
    with the driver emulation."""
    import tools.oracle_check as oc
    from chain_sync_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    sdf = fn(spark, SF).persist()
    try:
        assert not oc._complex_cols(sdf), name
        spdf_obj = pd.DataFrame(
            [tuple(r) for r in sdf.collect()], columns=sdf.columns
        )
        spdf_pd = sdf.toPandas()
    finally:
        sdf.unpersist()
    res = con.execute(oracle)
    dcols = [d[0] for d in res.description]
    dpdf_obj = pd.DataFrame(res.fetchall(), columns=dcols)
    dpdf_pd = con.execute(oracle).df()
    assert len(spdf_obj) == len(dpdf_obj)
    assert sorted(spdf_obj.columns) == sorted(dcols)
    assert oc._canon(spdf_obj) == oc._canon(dpdf_obj), "object path"
    assert oc._canon(spdf_pd) == oc._canon(dpdf_pd), "pandas path"


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(all_oracles()))
def test_registry_oracle_parity_dual_transport(spark, name):
    """Every registered query with an oracle matches it at sf0.001
    through both transports tools/oracle_check.py compares."""
    _dual_transport_parity(spark, name, all_queries()[name], all_oracles()[name])


def test_prepared_markdown_lists_blocks_parity_dual_transport(spark):
    """Lists + blockquotes + fenced-code stripping: an unregistered
    query/oracle pair, checked like a registered one."""
    from chain_sync_spark.operators.sync_queries import (
        _MD_BLOCKS_ORACLE,
        markdown_lists_blocks,
    )

    _dual_transport_parity(
        spark, "markdown_lists_blocks", markdown_lists_blocks, _MD_BLOCKS_ORACLE
    )


def test_markdown_lists_blocks_fence_semantics(spark):
    """Known-answer pin on the strip-before-extract semantics: a
    bullet/ordered/quote line INSIDE a fence never counts; the
    bullet after the closing fence does; two fences in one body both
    strip (the DuckDB 'g'-flag divergence this oracle documents)."""
    from chain_sync_spark.functions.text_funcs import (
        count_fenced_blocks,
        extract_blockquotes,
        extract_bullet_items,
        extract_ordered_items,
        strip_fenced_code,
    )

    body = (
        "intro\n```\n- fenced bullet\n1. fenced ordered\n> fenced quote\n```\n"
        "- real one\n```\nx = 1\n```\n1. real two\n> real quote"
    )
    df = spark.createDataFrame([(body,)], "b string")
    s = strip_fenced_code(F.col("b"))
    row = df.select(
        count_fenced_blocks(F.col("b")).alias("nf"),
        extract_bullet_items(s).alias("bu"),
        extract_ordered_items(s).alias("od"),
        extract_blockquotes(s).alias("qu"),
    ).collect()[0]
    assert row["nf"] == 2
    assert row["bu"] == ["real one"]
    assert row["od"] == ["real two"]
    assert row["qu"] == ["real quote"]
    # DuckDB agrees on the identical input (RE2 side of the parity)
    got = duckdb.sql(
        "SELECT len(regexp_extract_all(?, '```[^`]*```')) AS nf, "
        "regexp_extract_all(regexp_replace(?, '```[^`]*```', ' ', 'g'), "
        "'(^|\\n)[ \\t]*([-*+])[ \\t]+([^\\n]+)', 3) AS bu",
        params=[body, body],
    ).fetchone()
    assert got[0] == 2
    assert got[1] == ["real one"]


def test_prepared_sync_mutings_digest_parity_dual_transport(spark):
    """An unregistered query/oracle pair: the real community-mutings
    side-job run end-to-end against a deterministic posts store — P9
    role filter, J4 two-key update join, S10 update-by-query MERGE,
    and the periodic-job replay (third application is a verbatim
    repeat whose no-op-ness the oracle certifies, since it derives
    final state from single applications)."""
    from chain_sync_spark.operators.sync_queries import (
        _MUTINGS_DIGEST_ORACLE,
        sync_mutings_digest,
    )

    _dual_transport_parity(
        spark, "sync_mutings_digest", sync_mutings_digest, _MUTINGS_DIGEST_ORACLE
    )


def test_sync_mutings_digest_flags_expected_posts(spark):
    """Known-answer pin: exactly the cat1 posts by idx%3 accounts and
    cat2 posts by idx%4 accounts are muted, nothing else — and the
    muted set is non-empty (an all-False store would vacuously pass
    parity if the oracle regressed the same way)."""
    from chain_sync_spark.operators.sync_queries import sync_mutings_digest

    rows = sync_mutings_digest(spark, SF).collect()
    assert rows, "digest emitted no posts"
    n_muted = 0
    for r in rows:
        idx = int(r.author.removeprefix("acct"))
        want = (r.community == "cat1" and idx % 3 == 0) or (
            r.community == "cat2" and idx % 4 == 0
        )
        assert bool(r.muted) == want, (r.post_id, r.author, r.community)
        n_muted += bool(r.muted)
    assert n_muted > 0


def test_staged_names_not_yet_registered():
    """Nothing is staged (pending_queries() is perfbench's empty shim),
    and the two unregistered query/oracle pairs stay out of the
    registry until a change registers them on purpose."""
    from chain_sync_spark.registry import pending_queries

    pending_q, pending_o = pending_queries()
    assert set(pending_q) == set(pending_o)
    assert not set(pending_q) & set(all_queries())
    assert not set(pending_o) & set(all_oracles())
    for name in ("markdown_lists_blocks", "sync_mutings_digest"):
        assert name not in all_queries() and name not in all_oracles()


# ---------------------------------------------------------------------------
# bpe_pair_merges
# ---------------------------------------------------------------------------

def test_bpe_pair_counts_hand_computed(spark, tmp_path):
    """Known answer: 'aaab aaab cd' per doc over two docs. Distinct
    words: 'aaab' (4 occurrences), 'cd' (2). Pairs: aa ×2 per 'aaab'
    occurrence = 8, ab ×1 = 4, cd ×1 = 2. Single-char words
    contribute nothing."""
    from chain_sync_spark.operators import corpus_ops as co

    text = "aaab aaab cd x"
    spark.createDataFrame(
        [(1, text, "en", "s", len(text)), (2, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = co.bpe_pair_merges(spark, str(tmp_path)).collect()
    got = {r.pair: (r.cnt, r.rk) for r in rows}
    assert got == {"aa": (8, 1), "ab": (4, 2), "cd": (2, 3)}


# ---------------------------------------------------------------------------
# Serving-side companions (library surface)
# ---------------------------------------------------------------------------

def test_kmeans_assign_matches_training_assignment(spark):
    """The stored-centroid serving path reproduces the training run's
    own final assignment over the whole corpus (the frozen-PQ-codebook
    contract applied to k-means)."""
    from chain_sync_spark.tables import table

    cents = lp.kmeans_centroids(spark, SF)
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    served = {r.vec_id: r.cluster_id
              for r in lp.kmeans_assign(emb, cents).collect()}
    trained = {r.vec_id: r.cluster_id
               for r in lp.kmeans_embedding_clusters(spark, SF).collect()}
    assert served == trained
    lp.release_caches()


def test_kmeans_assign_serving_recomputes_not_echoes(spark):
    """The registry serving form assigns a batch the training run
    never saw (element-reversed embeddings): it must cover every
    vec_id and must NOT equal the training assignment wholesale —
    proof the serving path recomputes distances under the frozen
    centroids instead of echoing training output."""
    served = {r.vec_id: r.cluster_id
              for r in lp.kmeans_assign_serving(spark, SF).collect()}
    trained = {r.vec_id: r.cluster_id
               for r in lp.kmeans_embedding_clusters(spark, SF).collect()}
    assert set(served) == set(trained)
    assert served != trained
    lp.release_caches()


def test_scd2_asof_lookup_point_in_time(spark, tmp_path):
    """Each fact maps to exactly the version whose interval contains
    its timestamp; facts on a boundary take the NEW version
    (valid_from <= ts < valid_to); facts before the first version
    drop."""
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    d = _write_events(spark, tmp_path, [
        (1, t(0), 1, "A", 0.0, "{}"),
        (2, t(2), 1, "B", 0.0, "{}"),
        (3, t(4), 1, "A", 0.0, "{}"),
    ])
    hist = tp.scd2_event_type_history(spark, d)
    facts = spark.createDataFrame(
        [(100, 1, t(1)), (101, 1, t(2)), (102, 1, datetime(2024, 1, 1, 5, 0)),
         (103, 1, datetime(2023, 1, 1))],
        "fact_id long, user_id long, ts timestamp",
    )
    out = {r.fact_id: r for r in
           tp.scd2_asof_lookup(hist, facts).collect()}
    assert set(out) == {100, 101, 102}          # 103 precedes the dimension
    assert (out[100].dim_version, out[100].dim_event_type) == (1, "A")
    assert (out[101].dim_version, out[101].dim_event_type) == (2, "B")  # boundary -> new
    assert (out[102].dim_version, out[102].dim_event_type) == (3, "A")  # open row
    # every sf0.001 event lands in exactly one interval of its own history
    hist_full = tp.scd2_event_type_history(spark, SF)
    ev = tp.table(spark, SF, "events").select(
        F.col("event_id").alias("fact_id"), "user_id", "ts"
    )
    looked = tp.scd2_asof_lookup(hist_full, ev)
    assert looked.count() == ev.count()
    assert looked.groupBy("fact_id").count().filter("count > 1").count() == 0


# ---------------------------------------------------------------------------
# embed_hashing_fixedpoint
# ---------------------------------------------------------------------------

def _py_hash_embed(text: str, dim: int) -> list[int] | None:
    """From-scratch replica of the hashing-trick embedding, down to
    the fixed-point serialization: md5-based 60-bit hash, pmod
    position, independent sign hash, integer signed counts, L2
    normalize, floor(x*1e6 + 0.5)."""
    import hashlib
    import re

    norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
    toks = [t for t in norm.split(" ") if t]
    if not toks:
        return None
    h60 = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    v = [0] * dim
    for t in toks:
        pos = h60(t) % dim
        v[pos] += 1 if h60("sign:" + t) % 2 == 0 else -1
    n2 = sum(x * x for x in v)
    if n2 == 0:
        return None
    import math

    n = math.sqrt(float(n2))
    return [math.floor(x / n * 1_000_000 + 0.5) for x in v]


def test_embed_hashing_fixedpoint_matches_python_replica(spark, tmp_path):
    from chain_sync_spark.operators import llm_pipeline as lp2

    docs = [
        (1, "The quick brown fox jumps over the lazy dog!"),
        (2, "spark spark spark duckdb"),
        (3, "???"),                       # normalizes to empty -> no row
        (4, "one two three four five six seven eight nine ten"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r.emb_fp for r in
           lp2.embed_hashing_fixedpoint(spark, str(tmp_path)).collect()}
    want = {
        i: ",".join(str(x) for x in _py_hash_embed(t, lp2.HASH_EMB_DIM))
        for i, t in docs
        if _py_hash_embed(t, lp2.HASH_EMB_DIM) is not None
    }
    assert out == want
    assert 3 not in out


def test_embed_hashing_fixedpoint_is_the_trick_serialized(spark):
    """The query is exactly embed_hashing_trick + fixed-point
    serialization — same doc set, and each string deserializes to the
    micro-rounded embedding (unit-norm within rounding error)."""
    from chain_sync_spark.operators import llm_pipeline as lp2
    from chain_sync_spark.tables import table

    docs = table(spark, SF, "documents").select("doc_id", "text")
    emb = {r.doc_id: r.embedding
           for r in lp2.embed_hashing_trick(docs).collect()}
    fp = {r.doc_id: [int(x) for x in r.emb_fp.split(",")]
          for r in lp2.embed_hashing_fixedpoint(spark, SF).collect()}
    assert set(emb) == set(fp)
    for d, vec in fp.items():
        assert len(vec) == lp2.HASH_EMB_DIM
        n2 = sum(x * x for x in vec)
        # unit norm in micros: |2·Σx·e| ≤ 2·0.5·Σ|x| ≤ sqrt(dim)·1e6
        assert abs(n2 - 1_000_000 ** 2) < 10_000_000
        micro = [int(np.floor(x * 1_000_000 + 0.5)) for x in emb[d]]
        assert micro == vec


# ---------------------------------------------------------------------------
# kmeans_balanced_sample
# ---------------------------------------------------------------------------

def test_kmeans_balanced_sample_matches_python_replica(spark):
    """Isolates the balance+acceptance logic: take the (already
    replica-certified) cluster assignment as ground truth, then
    replicate the integer keep-rate and the hash acceptance with
    hashlib — keep_micros = min(1e6, round-half-up((tot//K)/n · 1e6)
    in pure integer arithmetic), survive when
    md5-hash60('kmbal:'+vec_id) % 1e6 < keep_micros."""
    import hashlib

    asg = {r.vec_id: r.cluster_id
           for r in lp.kmeans_embedding_clusters(spark, SF).collect()}
    n_before: dict[int, int] = {}
    for c in asg.values():
        n_before[c] = n_before.get(c, 0) + 1
    tot, k = len(asg), len(n_before)
    target = tot // k
    keep = {
        c: min(1_000_000, (target * 1_000_000 * 2 + n) // (2 * n))
        for c, n in n_before.items()
    }
    h60 = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    n_after: dict[int, int] = {c: 0 for c in n_before}
    for v, c in asg.items():
        if h60(f"kmbal:{v}") % 1_000_000 < keep[c]:
            n_after[c] += 1
    got = {r.cluster_id: (r.n_before, r.keep_micros, r.n_after)
           for r in lp.kmeans_balanced_sample(spark, SF).collect()}
    assert got == {c: (n_before[c], keep[c], n_after[c]) for c in n_before}
    # the plan actually balances: no under-represented cluster is cut
    for c, n in n_before.items():
        if n <= target:
            assert keep[c] == 1_000_000
        else:
            assert keep[c] < 1_000_000


# ---------------------------------------------------------------------------
# kmeans_centroids_fixedpoint
# ---------------------------------------------------------------------------

def test_kmeans_centroids_fixedpoint_serializes_centroids(spark):
    """The fixed-point registry form is exactly the stored-centroid
    artifact (kmeans_centroids) serialized: same cids, and each
    centroid_fp is the comma-join of the micro-unit components."""
    cents = {r.cid: list(r.c) for r in lp.kmeans_centroids(spark, SF).collect()}
    fp = {
        r.cid: r.centroid_fp
        for r in lp.kmeans_centroids_fixedpoint(spark, SF).collect()
    }
    assert set(fp) == set(cents)
    for cid, comps in cents.items():
        assert fp[cid] == ",".join(str(x) for x in comps)
    lp.release_caches()


# ---------------------------------------------------------------------------
# winnow_dup_clusters
# ---------------------------------------------------------------------------

def test_winnow_clusters_hand_computed(spark, tmp_path):
    """Known answer: A == B (20 shared tokens -> 6 shared fps), C
    shares A/B's 10-token suffix run (>= WN_W + WN_K - 1 = 7 tokens,
    so the winnowing guarantee forces shared fingerprints -> 2 each),
    D is disjoint. Components: {1,2,3} labeled by min doc_id 1; D has
    no edges and is absent (a cluster report lists linked docs only)."""
    from chain_sync_spark.operators import pipeline_extras as px

    w = [f"tok{i:02d}" for i in range(20)]
    a = " ".join(w)
    c = " ".join(w[10:] + [f"uniq{i}" for i in range(10)])
    d = " ".join(f"zzz{i}" for i in range(20))
    spark.createDataFrame(
        [(1, a, "en", "s", len(a)), (2, a, "en", "s", len(a)),
         (3, c, "en", "s", len(c)), (4, d, "en", "s", len(d))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    pairs = sorted(
        (r.doc_a, r.doc_b, r.shared_fps)
        for r in px.neardup_winnow_pairs(spark, str(tmp_path)).collect()
    )
    assert pairs == [(1, 2, 6), (1, 3, 2), (2, 3, 2)]
    got = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size, r.is_canonical)
        for r in px.winnow_dup_clusters(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 1, 3, True), (2, 1, 3, False), (3, 1, 3, False)]
    lp.release_caches()


# ---------------------------------------------------------------------------
# ann_recall_audit
# ---------------------------------------------------------------------------

def test_ann_recall_audit_replica(spark):
    """From-scratch float64 replica over the sf0.001 embeddings:
    brute-force rounded-cosine top-k (left-fold dot, HALF_UP 4 dp,
    neighbor-id tie-break — the op's exact ranking) and hyperplane
    sign buckets, then per-query Hamming<=1 hit counts. Pins hits,
    topk_n and the integer recall ratio."""
    import math

    t = pq.read_table(f"{SF}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    embs = {
        i: [float(x) for x in e]
        for i, e in zip(ids, t.column("embedding").to_pylist())
    }

    def dot(a, b):
        return sum(a[i] * b[i] for i in range(len(a)))  # left fold, f64

    def rcos(a, b):
        c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        return math.floor(c * 10_000 + 0.5) / 10_000

    bucket = {}
    for i, e in embs.items():
        bucket[i] = sum(
            1 << h
            for h in range(lp.LSH_PLANES)
            if dot(e, [float(v) for v in lp.HYPERPLANES[h]]) > 0
        )
    expected = {}
    for q in range(lp.ANN_QUERIES):
        scored = sorted(
            ((-rcos(embs[q], embs[v]), v) for v in embs if v != q)
        )[: lp.ANN_TOPK]
        hits = sum(
            1
            for _, v in scored
            if bin(bucket[q] ^ bucket[v]).count("1") <= 1
        )
        n = len(scored)
        expected[q] = (n, hits, (hits * 1_000_000 * 2 + n) // (2 * n))
    got = {
        r.query_id: (r.topk_n, r.hits, r.recall_micros)
        for r in lp.ann_recall_audit(spark, SF).collect()
    }
    assert got == expected
    assert all(0 <= rec <= 1_000_000 for (_, _, rec) in got.values())


# ---------------------------------------------------------------------------
# bpe_fertility_frozen
# ---------------------------------------------------------------------------

def test_bpe_fertility_hand_computed(spark, tmp_path):
    """Known answer under the frozen merges: 'er er in' -> tokens
    [er, er, in] (3 tokens, 6 chars); 'stat' -> s,t,a,t --(s,t)-->
    [st,a,t] --(a,t)--> [st,at] (2 tokens, 4 chars). Integer ratios
    in micro-units."""
    from chain_sync_spark.operators import corpus_ops as co

    spark.createDataFrame(
        [(1, "er er in", "en", "s1", 8), (2, "stat", "en", "s2", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: (
            r.n_docs,
            r.total_tokens,
            r.total_chars,
            r.chars_per_token_micros,
            r.tokens_per_doc_micros,
        )
        for r in co.bpe_fertility_frozen(spark, str(tmp_path)).collect()
    }
    assert got == {
        "s1": (1, 3, 6, 2_000_000, 3_000_000),
        "s2": (1, 2, 4, 2_000_000, 2_000_000),
    }


def test_ann_recall_monotone_in_probe_radius(spark):
    """The recall/cost dial: per query, hits at Hamming<=2 >= hits at
    Hamming<=1 >= hits at Hamming<=0, and the full-radius audit
    (max_hamming = LSH_PLANES) reaches recall 1.0 for every query —
    every bucket is within LSH_PLANES bit flips of any other."""
    by_radius = {
        r: {
            row.query_id: row.hits
            for row in lp.ann_recall_audit(spark, SF, max_hamming=r).collect()
        }
        for r in (0, 1, 2, lp.LSH_PLANES)
    }
    for q in by_radius[1]:
        assert by_radius[0][q] <= by_radius[1][q] <= by_radius[2][q]
    full = {
        row.query_id: row.recall_micros
        for row in lp.ann_recall_audit(
            spark, SF, max_hamming=lp.LSH_PLANES
        ).collect()
    }
    assert all(v == 1_000_000 for v in full.values())


# ---------------------------------------------------------------------------
# quality_by_source
# ---------------------------------------------------------------------------

def test_quality_by_source_hand_computed(spark, tmp_path):
    """Known answer against the LM gate's exact thresholds: doc1's
    'alpha beta'×30 makes alpha→beta corpus-known (count 31 with
    doc3), beta→alpha stays at 29 < LM_MIN_COUNT; doc1 scores
    30/59 known (508475 micros, keep), the garble doc scores 0,
    doc3 scores 1/1; a bigram-less single-token source is outside
    the gate's domain and absent."""
    from chain_sync_spark.operators import corpus_ops as co

    assert co.LM_MIN_COUNT == 30 and co.LM_KEEP_MICROS == 500_000
    d1 = " ".join(["alpha beta"] * 30)
    rows = [
        (1, d1, "en", "s1", len(d1)),
        (2, "zz qq zz", "en", "s1", 8),
        (3, "alpha beta", "en", "s2", 10),
        (4, "solo", "en", "s3", 4),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: (r.n_docs, r.keep_docs, r.keep_rate_micros, r.mean_known_micros)
        for r in co.quality_by_source(spark, str(tmp_path)).collect()
    }
    d1_micros = (30 * 1_000_000 * 2 + 59) // (2 * 59)   # 508475
    assert got == {
        "s1": (2, 1, 500_000, (d1_micros * 2 + 2) // 4),
        "s2": (1, 1, 1_000_000, 1_000_000),
    }


# ---------------------------------------------------------------------------
# minhash_estimate_error_audit
# ---------------------------------------------------------------------------

def test_minhash_error_audit_matches_python_replica(spark, tmp_path):
    """From-scratch replica of the whole audit arithmetic: md5-based
    60-bit hash -> 31-bit base hash -> affine min-signatures -> band
    md5 keys -> candidate pairs -> signature-agreement estimate vs
    exact shingle Jaccard, all in round-half-up integer micros.  The
    fixture carries an identical pair (est = true = 1e6, err 0), a
    near-identical pair, and a disjoint doc that must pair with
    nothing."""
    import hashlib
    import re

    from chain_sync_spark.functions import sketches as sk2
    from chain_sync_spark.operators import llm_pipeline as lp2

    base = "the quick brown fox jumps over the lazy dog again and again " \
           "until the very end of the story arrives"
    texts = {
        1: base,
        2: base,                                   # exact duplicate of 1
        3: base.replace("lazy", "sleepy"),         # near duplicate
        4: " ".join(f"zz{i} yy{i} xx{i}" for i in range(12)),  # disjoint
    }

    def norm(t):
        t = re.sub(r"[^a-z0-9 ]", " ", t.lower())
        return re.sub(r" +", " ", t).strip()

    def shingles(t):
        w = [x for x in norm(t).split(" ") if x]
        out, seen = [], set()
        for i in range(len(w) - 2):
            g = " ".join(w[i : i + 3])
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    h60 = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    MOD = 2_147_483_647
    coeffs = sk2.minhash_coeffs(lp2.N_MINHASH)

    def sig(sh):
        basehash = [h60(s) & 0x7FFFFFFF for s in sh]
        return [min((h * a + b) % MOD for h in basehash) for a, b in coeffs]

    def band_keys(s):
        rp = lp2.ROWS_PER_BAND
        return {
            (b, hashlib.md5(
                "|".join(str(v) for v in s[b * rp : (b + 1) * rp]).encode()
            ).hexdigest())
            for b in range(lp2.N_BANDS)
        }

    rm = lambda n, d: (n * 1_000_000 * 2 + d) // (2 * d)  # noqa: E731
    sh = {i: shingles(t) for i, t in texts.items()}
    sg = {i: sig(s) for i, s in sh.items()}
    bk = {i: band_keys(s) for i, s in sg.items()}
    want = {}
    for a in texts:
        for b in texts:
            if a < b and bk[a] & bk[b]:
                eq = sum(1 for x, y in zip(sg[a], sg[b]) if x == y)
                i_n = len(set(sh[a]) & set(sh[b]))
                u_n = len(set(sh[a]) | set(sh[b]))
                est, tru = rm(eq, lp2.N_MINHASH), rm(i_n, u_n)
                want[(a, b)] = (est, tru, abs(est - tru))

    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): (r.est_micros, r.true_micros, r.err_micros)
        for r in lp2.minhash_estimate_error_audit(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert got[(1, 2)] == (1_000_000, 1_000_000, 0)   # identical pair
    assert (1, 3) in got and got[(1, 3)][1] < 1_000_000  # near-dup pair
    assert not any(4 in p for p in got)               # disjoint never pairs
    lp2.release_caches()


def test_minhash_error_audit_bounds_at_sf0001(spark):
    """Structural invariants over the real corpus: micros stay in
    [0, 1e6], err is exactly |est - true|, and the mean absolute
    error sits inside a few sigma of the 1/sqrt(N_MINHASH) binomial
    scale (N=16 -> sigma <= 125000 micros per pair at j=0.5)."""
    from chain_sync_spark.operators import llm_pipeline as lp2

    rows = lp2.minhash_estimate_error_audit(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 0 <= r.est_micros <= 1_000_000
        assert 0 <= r.true_micros <= 1_000_000
        assert r.err_micros == abs(r.est_micros - r.true_micros)
    mean_err = sum(r.err_micros for r in rows) / len(rows)
    assert mean_err < 250_000  # 2x the worst-case per-pair sigma
    lp2.release_caches()


# ---------------------------------------------------------------------------
# sample_exact_k_per_lang
# ---------------------------------------------------------------------------

def test_sample_exact_k_replica_and_partition_invariance(spark, tmp_path):
    """Python replica of the deterministic exact-k sample (md5-hash
    rank, doc_id tie-break) AND proof the result is independent of
    the physical partitioning the salted phase-1 window keys on: the
    same corpus written as 1 file and as 7 files yields identical
    rows."""
    import hashlib

    from chain_sync_spark.operators import llm_pipeline as lp2
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = [(r.doc_id, r.lang)
            for r in tbl(spark, sf, "documents").select("doc_id", "lang").collect()]
    h60 = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    by_lang = {}
    for doc_id, lang in docs:
        by_lang.setdefault(lang, []).append((h60(f"samp:{doc_id}"), doc_id))
    want = {}
    for lang, rows in by_lang.items():
        for rk, (_, doc_id) in enumerate(sorted(rows)[: lp2.SAMPLE_K], 1):
            want[(lang, doc_id)] = rk
    got = {(r.lang, r.doc_id): r.rk
           for r in lp2.sample_exact_k_per_lang(spark, sf).collect()}
    assert got == want
    # per-lang sizes: min(K, n_lang)
    sizes = {}
    for lang, _ in got:
        sizes[lang] = sizes.get(lang, 0) + 1
    assert sizes == {
        lang: min(lp2.SAMPLE_K, len(rows)) for lang, rows in by_lang.items()
    }

    # partition invariance: 1-file vs 7-file layouts agree
    full = tbl(spark, sf, "documents")
    for nparts, sub in ((1, "p1"), (7, "p7")):
        full.repartition(nparts).write.mode("overwrite").parquet(
            f"{tmp_path}/{sub}/documents.parquet"
        )
    a = {(r.lang, r.doc_id, r.rk) for r in
         lp2.sample_exact_k_per_lang(spark, f"{tmp_path}/p1").collect()}
    b = {(r.lang, r.doc_id, r.rk) for r in
         lp2.sample_exact_k_per_lang(spark, f"{tmp_path}/p7").collect()}
    assert a == b == {(lg, d, rk) for (lg, d), rk in want.items()}


# ---------------------------------------------------------------------------
# gopher_dup_ngram_profile
# ---------------------------------------------------------------------------

def _py_gopher(texts: dict[int, str]):
    """From-scratch replica of the Gopher n-gram char-mass profile:
    whitespace tokens, ALL n-gram occurrences, top-3-gram mass = max
    cnt*len, dup-6-gram mass = sum cnt*len over cnt>1, round-half-up
    integer micros over the joined token-stream length, capped 1e6."""
    from collections import Counter

    from chain_sync_spark.operators import pipeline_extras as px

    out = {}
    for i, t in texts.items():
        w = [x for x in t.split(" ") if x]
        total = max(len(" ".join(w)), 1)

        def grams(n):
            if len(w) < n:
                return []
            return [" ".join(w[j : j + n]) for j in range(len(w) - n + 1)]

        c3 = Counter(grams(px.GOPHER_TOP_N))
        c6 = Counter(grams(px.GOPHER_DUP_N))
        top = max((c * len(g) for g, c in c3.items()), default=0)
        dup = sum(c * len(g) for g, c in c6.items() if c > 1)
        mic = lambda num: min(  # noqa: E731
            1_000_000, (num * 1_000_000 * 2 + total) // (total * 2)
        )
        tm, dm = mic(top), mic(dup)
        keep = tm <= px.GOPHER_TOP_MAX_MICROS and dm <= px.GOPHER_DUP_MAX_MICROS
        out[i] = (len(w), tm, dm, keep)
    return out


def test_gopher_profile_matches_python_replica_at_sf0001(spark):
    from chain_sync_spark.operators import pipeline_extras as px

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    texts = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    want = _py_gopher(texts)
    got = {
        r.doc_id: (r.n_tokens, r.top3_char_micros, r.dup6_char_micros, r.keep)
        for r in px.gopher_dup_ngram_profile(spark, SF).collect()
    }
    assert got == want
    # the screen must actually discriminate on real data: both keeps
    # and at least one non-trivial repetition mass present
    assert any(v[3] for v in got.values())
    assert any(v[1] > 0 for v in got.values())


def test_gopher_profile_hand_computed_edges(spark, tmp_path):
    """Pinned edge semantics: a boilerplate cycler is dropped with the
    dup-6-gram mass capped at 1e6; a no-repetition doc keeps with dup
    mass 0; a doc shorter than either n emits zeros via the left-join
    re-entry path and keeps."""
    from chain_sync_spark.operators import pipeline_extras as px

    distinct = " ".join(f"w{i:02d}" for i in range(60))  # no repeated grams
    rows = [
        (1, "a b c a b c a b c a b c", "en", "s", 23),
        (2, distinct, "en", "s", len(distinct)),
        (3, "hi", "en", "s", 2),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.top3_char_micros, r.dup6_char_micros, r.keep)
        for r in px.gopher_dup_ngram_profile(spark, str(tmp_path)).collect()
    }
    want = _py_gopher({1: rows[0][1], 2: rows[1][1], 3: rows[2][1]})
    assert got == want
    assert got[1][2] == 1_000_000 and got[1][3] is False  # capped, dropped
    assert got[2][2] == 0 and got[2][3] is True           # no repetition
    assert got[2][1] == (11 * 2_000_000 + 239) // (2 * 239)  # one 3-gram of 11 chars
    assert got[3] == (1, 0, 0, True)                      # < n tokens


# ---------------------------------------------------------------------------
# lm_stupid_backoff_newdocs
# ---------------------------------------------------------------------------

def _py_stupid_backoff(texts: dict[int, str], mod: int):
    """From-scratch Stupid Backoff replica: normalize/split, bigram
    and unigram counts from the stored split, S in round-half-up
    integer micros with the 4/10 backoff rational, doc score =
    round-half-up mean."""
    import re
    from collections import Counter

    def words(t):
        t = re.sub(r"[^a-z0-9 ]", " ", t.lower())
        return [x for x in t.split(" ") if x]

    toks = {i: words(t) for i, t in texts.items()}
    stored = {i: w for i, w in toks.items() if i % mod != 0}
    new = {i: w for i, w in toks.items() if i % mod == 0}
    c2 = Counter(
        (w[j], w[j + 1]) for w in stored.values() for j in range(len(w) - 1)
    )
    c1 = Counter(t for w in stored.values() for t in w)
    n_total = sum(c1.values())
    rm = lambda num, den: (num * 1_000_000 * 2 + den) // (den * 2)  # noqa: E731
    out = {}
    for i, w in new.items():
        ss, nb = [], 0
        for j in range(len(w) - 1):
            bg = (w[j], w[j + 1])
            if bg in c2:
                ss.append(rm(c2[bg], c1[w[j]]))
            else:
                nb += 1
                ss.append(rm(c1[w[j + 1]] * 4, n_total * 10) if w[j + 1] in c1 else 0)
        if ss:
            out[i] = (len(ss), nb, (sum(ss) * 2 + len(ss)) // (len(ss) * 2))
    return out


def test_stupid_backoff_matches_python_replica_at_sf0001(spark):
    from chain_sync_spark.operators import corpus_ops as co

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    texts = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    want = _py_stupid_backoff(texts, co.LM_PROBE_MOD)
    got = {
        r.doc_id: (r.n_bigrams, r.n_backoff, r.sb_score_micros)
        for r in co.lm_stupid_backoff_newdocs(spark, SF).collect()
    }
    assert got == want
    # scores are micros in [0, 1e6] and genuinely discriminate; the
    # backoff/zero paths are pinned by the hand fixture below (this
    # corpus's probe split shares the full model vocabulary)
    assert all(0 <= v[2] <= 1_000_000 for v in got.values())
    assert len({v[2] for v in got.values()}) > 1


def test_stupid_backoff_all_three_paths_hand_computed(spark, tmp_path):
    """One fixture hits every scoring branch: doc 0 carries a
    model-known bigram (alpha beta: S = 2/3), a backed-off-to-unigram
    bigram (beta gamma unseen, gamma known: 0.4 x 2/8), and a
    zero-path bigram (gamma zzz, zzz out of vocabulary)."""
    from chain_sync_spark.operators import corpus_ops as co

    rows = [
        (0, "alpha beta gamma zzz", "en", "s", 20),
        (1, "alpha beta delta gamma", "en", "s", 22),
        (2, "alpha beta alpha gamma", "en", "s", 22),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.n_bigrams, r.n_backoff, r.sb_score_micros)
        for r in co.lm_stupid_backoff_newdocs(spark, str(tmp_path)).collect()
    }
    # stored split: docs 1, 2 -> c2: (alpha,beta)=2, (beta,delta)=1,
    # (delta,gamma)=1, (alpha,gamma)=1, (beta,alpha)=1;
    # c1: alpha=3, beta=2, delta=1, gamma=2, N=8
    s_known = (2 * 2_000_000 + 3) // 6       # 2/3 -> 666667
    s_backoff = (8 * 2_000_000 + 80) // 160  # 0.4 x 2/8 -> 100000
    want_mean = (s_known + s_backoff + 0) * 2
    want_mean = (want_mean + 3) // 6
    assert got == {0: (3, 2, want_mean)}
    assert _py_stupid_backoff(
        {i: t for i, t, *_ in rows}, co.LM_PROBE_MOD
    ) == got


# ---------------------------------------------------------------------------
# kmv_distinct_shingles
# ---------------------------------------------------------------------------

def _py_kmv(texts_by_source: dict[str, list[str]]):
    """From-scratch KMV replica: normalize/split, distinct 3-shingles,
    md5-top-60-bit hashes, bottom-k, (k-1)*2^60 // kth estimate with
    the exact-below-k branch, round-half-up error micros."""
    import hashlib
    import re

    from chain_sync_spark.operators import corpus_ops as co

    out = {}
    for src, texts in texts_by_source.items():
        sh = set()
        for t in texts:
            w = [x for x in re.sub(r"[^a-z0-9 ]", " ", t.lower()).split(" ") if x]
            sh.update(" ".join(w[j : j + 3]) for j in range(len(w) - 2))
        hs = sorted(
            int(hashlib.md5(f"kmv:{g}".encode()).hexdigest()[:15], 16)
            for g in sh
        )
        if not hs:
            continue
        n = len(hs)
        kth = hs[min(co.K_KMV, n) - 1]
        est = n if n < co.K_KMV else (co.K_KMV - 1) * (1 << 60) // kth
        err = (abs(est - n) * 1_000_000 * 2 + n) // (n * 2)
        out[src] = (n, kth, est, err)
    return out


def test_kmv_matches_python_replica_at_sf0001(spark):
    from chain_sync_spark.operators import corpus_ops as co

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["source", "text"])
    by_src = {}
    for s, t in zip(tbl["source"].to_pylist(), tbl["text"].to_pylist()):
        by_src.setdefault(s, []).append(t)
    want = _py_kmv(by_src)
    got = {
        r.source: (r.n_distinct, r.kth_min, r.est_kmv, r.err_micros)
        for r in co.kmv_distinct_shingles(spark, SF).collect()
    }
    assert got == want
    # the estimator branch must actually run (population >> k) and
    # land within a plausible band for k=64 (rse ~ 12.5%)
    assert all(v[0] > co.K_KMV for v in got.values())
    assert all(v[3] < 500_000 for v in got.values())


def test_kmv_exact_branch_below_k(spark, tmp_path):
    """A source with fewer than K distinct shingles is exact: est =
    n_distinct, err 0; kth_min is the max (= last) kept hash."""
    from chain_sync_spark.operators import corpus_ops as co

    rows = [
        (0, "a b c d e", "en", "tiny", 9),   # 3 distinct shingles
        (1, "a b c d", "en", "tiny", 7),     # subset: adds nothing new
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: (r.n_distinct, r.kth_min, r.est_kmv, r.err_micros)
        for r in co.kmv_distinct_shingles(spark, str(tmp_path)).collect()
    }
    want = _py_kmv({"tiny": [rows[0][1], rows[1][1]]})
    assert got == want
    assert got["tiny"][0] == 3 and got["tiny"][2] == 3 and got["tiny"][3] == 0


# ---------------------------------------------------------------------------
# ann_two_stage_rerank
# ---------------------------------------------------------------------------

def test_rerank_scores_are_exact_and_recall_high(spark):
    """Stage-2 scores must EQUAL the brute-force float cosine for
    every emitted pair (the refine pass is exact arithmetic, not an
    approximation), and recall@k against the exact top-k must beat
    the quantized-only ranking's measured floor (0.9)."""
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in lp.embedding_cosine_topk(spark, SF).collect()
    }
    got = lp.ann_two_stage_rerank(spark, SF).collect()
    for r in got:
        if (r.query_id, r.neighbor_id) in exact:
            assert r.cos_sim == exact[(r.query_id, r.neighbor_id)]
    hits = sum(1 for k in exact if k in {(r.query_id, r.neighbor_id) for r in got})
    assert hits / len(exact) >= 0.9
    # stage-1 ordering is visibly present and within the pool bound
    assert all(1 <= r.cand_rk <= lp.RERANK_CAND for r in got)


def test_rerank_equals_exact_when_pool_covers_corpus(spark, tmp_path):
    """With n - 1 <= RERANK_CAND the candidate pool is the whole
    corpus and the two-stage result must equal brute-force cosine
    top-k exactly (same pairs, same scores, same ranks)."""
    rng = np.random.default_rng(7)
    n = lp.RERANK_CAND  # n - 1 < RERANK_CAND candidates per query
    rows = [
        (i, [float(x) for x in rng.normal(size=8)], int(i % 3)) for i in range(n)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    sf = str(tmp_path)
    exact = {
        (r.query_id, r.rk): (r.neighbor_id, r.cos_sim)
        for r in lp.embedding_cosine_topk(spark, sf).collect()
    }
    got = {
        (r.query_id, r.rk): (r.neighbor_id, r.cos_sim)
        for r in lp.ann_two_stage_rerank(spark, sf).collect()
    }
    assert got == exact


# ---------------------------------------------------------------------------
# mixture_temperature_weights
# ---------------------------------------------------------------------------

def test_temperature_mixture_replica_and_boost_direction(spark):
    """From-scratch replica (isqrt smoothing + integer micros), plus
    the defining property of temperature sampling: a language is
    boosted above 1.0 exactly when its raw share is below its
    smoothed share (low-resource), and the smoothed distribution is
    flatter than the raw one."""
    import math

    from chain_sync_spark.operators import pipeline_extras as px

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["lang", "text"])
    nt, nd = {}, {}
    for lang, t in zip(tbl["lang"].to_pylist(), tbl["text"].to_pylist()):
        toks = [x for x in t.split(" ") if x]
        nt[lang] = nt.get(lang, 0) + len(toks)
        nd[lang] = nd.get(lang, 0) + 1
    s = {lg: math.isqrt(n) for lg, n in nt.items()}
    tot, sum_s = sum(nt.values()), sum(s.values())
    rm = lambda num, den: (num * 1_000_000 * 2 + den) // (den * 2)  # noqa: E731
    want = {
        lg: (
            nd[lg],
            nt[lg],
            rm(nt[lg], tot),
            rm(s[lg], sum_s),
            rm(s[lg] * tot, sum_s * nt[lg]),
        )
        for lg in nt
    }
    got = {
        r.lang: (
            r.n_docs,
            r.n_tokens,
            r.share_micros,
            r.temp_share_micros,
            r.boost_micros,
        )
        for r in px.mixture_temperature_weights(spark, SF).collect()
    }
    assert got == want
    for lg, (_, _, p, q, boost) in got.items():
        assert (boost > 1_000_000) == (p < q) or boost == 1_000_000
    # flatter: the smoothed max share never exceeds the raw max share
    assert max(v[3] for v in got.values()) <= max(v[2] for v in got.values())


# ---------------------------------------------------------------------------
# quality_composite_filter
# ---------------------------------------------------------------------------

def test_composite_filter_is_the_conjunction_of_its_components(spark):
    """The composite must agree row-by-row with its components called
    independently (the certification leverage: driver-green pieces,
    this query certifies only the composition), keep must equal the
    conjunction, and every rule must have at least one sole-cause
    drop or a pass at sf0.001 so the attribution is demonstrably
    live."""
    from chain_sync_spark.operators import corpus_ops as co
    from chain_sync_spark.operators import pipeline_extras as px

    rep = {r.doc_id: r.keep for r in
           px.quality_repetition_filter(spark, SF).collect()}
    gop = {r.doc_id: r.keep for r in
           px.gopher_dup_ngram_profile(spark, SF).collect()}
    lm = {r.doc_id: r.keep for r in
          co.lm_known_bigram_score(spark, SF).collect()}
    rows = px.quality_composite_filter(spark, SF).collect()
    assert len(rows) == len(gop)
    for r in rows:
        assert r.keep_repetition == rep.get(r.doc_id, False)
        assert r.keep_gopher == gop[r.doc_id]
        assert r.keep_lm == lm.get(r.doc_id, False)
        assert r.keep_length == (
            px.MIN_DOC_TOKENS <= r.n_tokens <= px.MAX_DOC_TOKENS
        )
        assert r.keep == (
            r.keep_repetition and r.keep_gopher and r.keep_length and r.keep_lm
        )
    assert any(r.keep for r in rows) and any(not r.keep for r in rows)
    assert any(not r.keep_length for r in rows)  # the new rule is live


# ---------------------------------------------------------------------------
# dedup_funnel_report
# ---------------------------------------------------------------------------

def test_funnel_counts_match_components_and_monotone(spark):
    """The funnel rows must equal set algebra over the components run
    independently, counts must be monotone non-increasing with
    n_dropped the exact differences, and at sf0.001 every stage must
    drop at least one document (the funnel is demonstrably live)."""
    from chain_sync_spark.operators import pipeline_extras as px

    total = 500
    exact = {r.doc_id for r in lp.dedup_exact_documents(spark, SF).collect()}
    members = {r.doc_id for r in lp.neardup_clusters(spark, SF).collect()}
    canon = {
        r.canonical_doc
        for r in px.neardup_cluster_canonical(spark, SF).collect()
    }
    s3 = exact - (members - canon)
    keep = {
        r.doc_id
        for r in px.quality_composite_filter(spark, SF).collect()
        if r.keep
    }
    s4 = s3 & keep
    want = [
        (1, "total", total, 0),
        (2, "exact_dedup", len(exact), total - len(exact)),
        (3, "neardup_canonical", len(s3), len(exact) - len(s3)),
        (4, "quality", len(s4), len(s3) - len(s4)),
    ]
    got = [
        (r.stage_id, r.stage, r.n_docs, r.n_dropped)
        for r in px.dedup_funnel_report(spark, SF)
        .orderBy("stage_id")
        .collect()
    ]
    assert got == want
    # this corpus has no byte-identical pairs (stage 2 drops 0 by
    # data, not by bug); the near-dup and quality stages must bite
    assert got[2][3] > 0 and got[3][3] > 0


# ---------------------------------------------------------------------------
# ngram_novelty_score + length_percentile_by_lang
# ---------------------------------------------------------------------------

def test_novelty_matches_python_replica_and_discriminates(spark):
    """From-scratch replica (normalize/split, distinct 8-shingles,
    df over the corpus, df==1 novelty fraction in micros), plus: the
    metric must discriminate on real data and a doc whose shingles
    all have df >= 2 must score 0."""
    import re

    from chain_sync_spark.operators import pipeline_extras as px

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    texts = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))

    def shingles(t):
        t = re.sub(r"[^a-z0-9 ]", " ", t.lower())
        w = [x for x in t.split(" ") if x]
        n = px.NOVELTY_N
        return {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)}

    sh = {i: shingles(t) for i, t in texts.items()}
    df = {}
    for gs in sh.values():
        for g in gs:
            df[g] = df.get(g, 0) + 1
    want = {}
    for i, gs in sh.items():
        if not gs:
            continue
        novel = sum(1 for g in gs if df[g] == 1)
        want[i] = (
            len(gs),
            novel,
            (novel * 2_000_000 + len(gs)) // (2 * len(gs)),
        )
    got = {
        r.doc_id: (r.n_shingles, r.n_novel, r.novelty_micros)
        for r in px.ngram_novelty_score(spark, SF).collect()
    }
    assert got == want
    vals = {v[2] for v in got.values()}
    assert len(vals) > 2  # discriminates
    assert min(vals) == 0 or max(vals) == 1_000_000


def test_length_percentile_matches_sql_percent_rank(spark):
    """The CDF-join form must equal PERCENT_RANK's RANK-tie
    semantics computed independently in python, including ties and
    the single-doc-language guard."""
    from chain_sync_spark.operators import pipeline_extras as px

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "lang", "text"])
    rows = list(
        zip(tbl["doc_id"].to_pylist(), tbl["lang"].to_pylist(), tbl["text"].to_pylist())
    )
    by_lang = {}
    for i, lang, t in rows:
        n = len([x for x in t.split(" ") if x])
        by_lang.setdefault(lang, []).append((i, n))
    want = {}
    for lang, ds in by_lang.items():
        nl = len(ds)
        for i, n in ds:
            smaller = sum(1 for _, m in ds if m < n)
            den = max(nl - 1, 1)
            want[i] = (lang, n, (smaller * 2_000_000 + den) // (2 * den))
    got = {
        r.doc_id: (r.lang, r.n_tokens, r.pct_rank_micros)
        for r in px.length_percentile_by_lang(spark, SF).collect()
    }
    assert got == want
    # endpoints: every language has a 0; the max is < 1e6 only on ties
    for lang, ds in by_lang.items():
        ranks = [got[i][2] for i, _ in ds]
        assert min(ranks) == 0


def test_length_percentile_single_doc_lang(spark, tmp_path):
    """One-document language: denominator floors at 1, rank 0."""
    from chain_sync_spark.operators import pipeline_extras as px

    rows = [(1, "solo doc here", "xx", "s", 13), (2, "a b", "en", "s", 3),
            (3, "a b c d", "en", "s", 7)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.lang, r.pct_rank_micros)
        for r in px.length_percentile_by_lang(spark, str(tmp_path)).collect()
    }
    assert got == {1: ("xx", 0), 2: ("en", 0), 3: ("en", 1_000_000)}


# ---------------------------------------------------------------------------
# ccnet_quality_buckets
# ---------------------------------------------------------------------------

def _py_lm_scores(texts):
    """From-scratch replica of lm_known_bigram_score's known_micros:
    normalize/split, corpus bigram counts, known = cnt >= LM_MIN_COUNT,
    round-half-up integer micros.  Docs with zero bigrams are absent."""
    import re

    from chain_sync_spark.operators import corpus_ops as co

    words = {
        i: [x for x in re.sub(r"[^a-z0-9 ]", " ", t.lower()).split(" ") if x]
        for i, t in texts.items()
    }
    cnt = {}
    for w in words.values():
        for j in range(len(w) - 1):
            cnt[(w[j], w[j + 1])] = cnt.get((w[j], w[j + 1]), 0) + 1
    out = {}
    for i, w in words.items():
        pairs = [(w[j], w[j + 1]) for j in range(len(w) - 1)]
        if not pairs:
            continue
        known = sum(1 for p in pairs if cnt[p] >= co.LM_MIN_COUNT)
        out[i] = (known * 2_000_000 + len(pairs)) // (2 * len(pairs))
    return out


def test_ccnet_buckets_match_python_replica(spark):
    """From-scratch replica of the whole chain (LM score -> per-lang
    descending inclusive CDF -> integer third cuts), plus: every
    language must populate all three buckets on real data (the cut
    discriminates) and bucket must always derive from the exact
    integers, never the rounded cume."""
    from chain_sync_spark.operators import corpus_ops as co

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "lang", "text"])
    langs = dict(zip(tbl["doc_id"].to_pylist(), tbl["lang"].to_pylist()))
    texts = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    scores = _py_lm_scores(texts)
    by_lang = {}
    for i, s in scores.items():
        by_lang.setdefault(langs[i], []).append((i, s))
    want = {}
    for lang, ds in by_lang.items():
        n = len(ds)
        for i, s in ds:
            n_ge = sum(1 for _, t in ds if t >= s)
            cume = (n_ge * 2_000_000 + n) // (2 * n)
            bucket = (
                "head" if 3 * n_ge <= n
                else "middle" if 3 * n_ge <= 2 * n
                else "tail"
            )
            want[i] = (lang, s, cume, bucket)
    got = {
        r.doc_id: (r.lang, r.known_micros, r.cume_micros, r.bucket)
        for r in co.ccnet_quality_buckets(spark, SF).collect()
    }
    assert got == want
    for lang, ds in by_lang.items():
        buckets = {got[i][3] for i, _ in ds}
        assert buckets == {"head", "middle", "tail"}, lang


def test_ccnet_buckets_tie_group_rule(spark, tmp_path):
    """The documented value-grain tie rule: a whole tie group takes
    the bucket of its inclusive boundary — an all-tied language is
    entirely 'tail' (n_ge = n for every doc), and a 2-doc language
    splits middle/tail (top doc: 3*1 <= 2*2; bottom: neither cut)."""
    from chain_sync_spark.operators import corpus_ops as co

    fluent = "a b " * 20  # (a,b) and (b,a) corpus counts clear LM_MIN_COUNT
    noise = " ".join(f"u{k}" for k in range(40))  # every bigram df=1
    rows = [
        (1, fluent, "xx", "s", len(fluent)),
        (2, fluent, "xx", "s", len(fluent)),
        (3, fluent, "xx", "s", len(fluent)),
        (4, fluent, "en", "s", len(fluent)),
        (5, noise, "en", "s", len(noise)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.known_micros, r.bucket)
        for r in co.ccnet_quality_buckets(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (1_000_000, "tail"),
        2: (1_000_000, "tail"),
        3: (1_000_000, "tail"),
        4: (1_000_000, "middle"),
        5: (0, "tail"),
    }


# ---------------------------------------------------------------------------
# quality_classifier_margin
# ---------------------------------------------------------------------------

def _py_classifier_margin(texts):
    """From-scratch replica: distinct normalized terms per doc,
    teacher labels on the even half via _py_lm_scores, integer-odds
    term weights, prior for unseen, round-half-up mean micros."""
    import re

    from chain_sync_spark.operators import corpus_ops as co

    terms = {
        i: {x for x in re.sub(r"[^a-z0-9 ]", " ", t.lower()).split(" ") if x}
        for i, t in texts.items()
    }
    scores = _py_lm_scores(texts)
    labels = {
        i: 1 if s >= co.LM_KEEP_MICROS else 0
        for i, s in scores.items()
        if i % co.CLS_TRAIN_MOD == 0
    }
    df_all, df_keep = {}, {}
    for i, y in labels.items():
        for t in terms[i]:
            df_all[t] = df_all.get(t, 0) + 1
            df_keep[t] = df_keep.get(t, 0) + y
    w = {
        t: (df_keep[t] * 2_000_000 + df_all[t]) // (2 * df_all[t])
        for t in df_all
    }
    out = {}
    for i, ts in terms.items():
        if not ts:
            continue
        sw = sum(w.get(t, co.CLS_PRIOR_MICROS) for t in ts)
        seen = sum(1 for t in ts if t in w)
        n = len(ts)
        margin = (sw * 2 + n) // (2 * n)
        out[i] = (n, seen, margin, margin >= co.CLS_KEEP_MICROS)
    return out


def test_classifier_margin_matches_python_replica(spark):
    """Replica equality at sf0.001, plus: the margin must
    discriminate (multiple distinct values) and the distilled
    classifier must agree with the teacher on the HELD-OUT half far
    better than chance (the distillation actually transfers)."""
    from chain_sync_spark.operators import corpus_ops as co

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    texts = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    want = _py_classifier_margin(texts)
    got = {
        r.doc_id: (r.n_terms, r.n_seen, r.margin_micros, r.keep)
        for r in co.quality_classifier_margin(spark, SF).collect()
    }
    assert got == want
    assert len({v[2] for v in got.values()}) > 3
    teacher = {
        i: s >= co.LM_KEEP_MICROS for i, s in _py_lm_scores(texts).items()
    }
    held = [i for i in teacher if i % co.CLS_TRAIN_MOD != 0 and i in got]
    agree = sum(1 for i in held if got[i][3] == teacher[i])
    assert agree / len(held) > 0.7, (agree, len(held))


def test_classifier_margin_unseen_term_prior(spark, tmp_path):
    """A serving doc made entirely of terms absent from the training
    half scores exactly the prior (the left-join branch is live),
    and n_seen counts only trained terms."""
    from chain_sync_spark.operators import corpus_ops as co

    fluent = "a b " * 40  # (a,b)/(b,a) counts clear LM_MIN_COUNT alone
    rows = [
        (0, fluent, "en", "s", 10),        # train, teacher keeps
        (2, "z9 z8 z7", "en", "s", 8),     # train, teacher drops
        (1, "q1 q2 q3 q4", "en", "s", 11), # serve: all terms unseen
        (3, "a b q1", "en", "s", 5),       # serve: 2 seen, 1 unseen
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.n_terms, r.n_seen, r.margin_micros)
        for r in co.quality_classifier_margin(spark, str(tmp_path)).collect()
    }
    assert got[1] == (4, 0, co.CLS_PRIOR_MICROS)
    # doc 3: a,b trained with weight 1e6 (kept doc 0 contains them),
    # q1 unseen at prior -> mean of (1e6, 1e6, 5e5)
    assert got[3] == (3, 2, (2_500_000 * 2 + 3) // 6)


# ---------------------------------------------------------------------------
# neardup_containment_pairs
# ---------------------------------------------------------------------------

def test_containment_pairs_match_oracle_math_at_sf0001(spark):
    """Exact-containment verification: every emitted pair's micros
    must equal the set arithmetic over independently-computed shingle
    sets, candidates must be a subset of band collisions (no
    all-pairs leak), and on this corpus every candidate is 'mutual'
    (asymmetry is covered by the directional fixture test)."""
    import re

    from chain_sync_spark.operators import llm_pipeline as lp

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    texts = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))

    def sh(t):
        t = re.sub(r"[^a-z0-9 ]", " ", t.lower())
        w = [x for x in t.split(" ") if x]
        return {" ".join(w[j : j + 3]) for j in range(len(w) - 2)}

    sets = {i: sh(t) for i, t in texts.items() if len(sh(t)) > 0}
    rows = lp.neardup_containment_pairs(spark, SF).collect()
    for r in rows:
        a, b = sets[r.doc_a], sets[r.doc_b]
        inter = len(a & b)
        assert r.n_common == inter
        assert r.cont_a_micros == (inter * 2_000_000 + len(a)) // (2 * len(a))
        assert r.cont_b_micros == (inter * 2_000_000 + len(b)) // (2 * len(b))
        want_rel = (
            "mutual"
            if r.cont_a_micros >= lp.CONTAIN_MICROS
            and r.cont_b_micros >= lp.CONTAIN_MICROS
            else "a_in_b"
            if r.cont_a_micros >= lp.CONTAIN_MICROS
            else "b_in_a"
            if r.cont_b_micros >= lp.CONTAIN_MICROS
            else "partial"
        )
        assert r.relation == want_rel
    assert len(rows) > 0


def test_containment_directional_fixture(spark, tmp_path):
    """The case resemblance dedup misses: doc 2 = doc 1's text plus a
    junk tail — containment 1.0 one way, < 0.8 the other, and the
    pair still band-collides (verified empirically against the real
    hash chain), so the operator must emit it as 'a_in_b'."""
    from chain_sync_spark.operators import llm_pipeline as lp

    base = " ".join(f"w{i}" for i in range(20))
    junk = " ".join(f"junk3x{k}" for k in range(8))
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base + " " + junk, "en", "s", len(base) + len(junk) + 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.cont_a_micros, r.cont_b_micros, r.relation)
        for r in lp.neardup_containment_pairs(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in got, got
    n_common, ca, cb, rel = got[(1, 2)]
    assert (n_common, ca) == (18, 1_000_000)
    assert cb == (18 * 2_000_000 + 26) // (2 * 26)
    assert rel == "a_in_b"


# ---------------------------------------------------------------------------
# pq_probe_newvecs — streamed-PQ serving certifier
# ---------------------------------------------------------------------------

def test_pq_probe_matches_streamed_store_serving(spark, tmp_path):
    """Row-identity between the batch certifier and the streamed
    read path on the same split: a run_stream_pq_index store fed the
    STORED half in three micro-batches, queried through
    search_pq_index with the probe vectors, must reproduce
    pq_probe_newvecs' ADC rows exactly (adc_dist = micros / 1e6).
    Also pins the split contract: the probe ids never contain
    codebook seeds, so the stored-side codebook equals the
    full-corpus one."""
    import json as _json
    import os

    from chain_sync_spark.operators import llm_pipeline as lp
    from chain_sync_spark.streaming.stream_sync import (
        run_stream_pq_index,
        search_pq_index,
    )

    tbl = pq.read_table(f"{SF}/embeddings.parquet", columns=["vec_id", "embedding"])
    vecs = list(zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist()))
    probe_ids = {
        i for i, _ in vecs if i >= lp.PQ_K and i % lp.PQ_PROBE_MOD == 0
    }
    assert not any(i < lp.PQ_K for i in probe_ids)
    stored = [(i, e) for i, e in vecs if i not in probe_ids]

    src = str(tmp_path / "src")
    os.makedirs(src)
    # first batch must carry all codebook seeds (train-once contract);
    # batches are disjoint — a duplicated row would double its codes
    seeds = [r for r in stored if r[0] < lp.PQ_K]
    rest = [r for r in stored if r[0] >= lp.PQ_K]
    thirds = [seeds + rest[0::3], rest[1::3], rest[2::3]]
    for b, part in enumerate(thirds):
        with open(os.path.join(src, f"b{b}.json"), "w") as fh:
            for i, e in part:
                fh.write(_json.dumps({"vec_id": i, "embedding": list(map(float, e))}) + "\n")
        os.utime(os.path.join(src, f"b{b}.json"), (1_700_000_000 + b, 1_700_000_000 + b))

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    run_stream_pq_index(stream, store, ckpt).awaitTermination(120)

    queries = spark.createDataFrame(
        [(i, list(map(float, e))) for i, e in vecs if i in probe_ids],
        "vec_id long, embedding array<float>",
    )
    served = {
        (r.query_id, r.rk): (r.neighbor_id, r.adc_dist)
        for r in search_pq_index(spark, store, queries).collect()
    }
    want = {
        (r.query_id, r.rk): (r.neighbor_id, r.adc_micros / lp.PQ_DIST_SCALE)
        for r in lp.pq_probe_newvecs(spark, SF).collect()
    }
    assert served == want
    assert len(want) > 0


# ---------------------------------------------------------------------------
# embedding_prototypicality
# ---------------------------------------------------------------------------

def test_prototypicality_matches_numpy_replica(spark):
    """From-scratch replica of the full chain (decimal-exact centroid
    stand-in via float64 mean rounded to 6dp — identical here because
    the engine centroid IS round(sum/count, 6) — per-dim floored
    micros, integer mean, ratio), plus: the metric must discriminate
    and both prune_easy branches must be live on real data."""
    import numpy as np

    from chain_sync_spark.operators import llm_pipeline as lp

    tbl = pq.read_table(f"{SF}/embeddings.parquet")
    ids = tbl["vec_id"].to_pylist()
    labels = tbl["label"].to_pylist()
    embs = tbl["embedding"].to_pylist()
    by_label = {}
    for i, lab, e in zip(ids, labels, embs):
        by_label.setdefault(lab, []).append((i, np.asarray(e, dtype=np.float64)))
    want = {}
    sums, cnts = {}, {}
    for lab, vs in by_label.items():
        # decimal-exact column sums: float64 over float32 inputs is
        # exact for these magnitudes and counts (each float32 has
        # <= 24 significand bits; n <= 500 here)
        cent = np.round(sum(v for _, v in vs) / len(vs), 6)
        dists = {}
        for i, v in vs:
            d = np.floor((v - cent) * (v - cent) * 1_000_000 + 0.5).astype(np.int64)
            dists[i] = int(d.sum())
        n = len(vs)
        mean = (sum(dists.values()) * 2 + n) // (2 * n)
        for i, dm in dists.items():
            den = max(mean, 1)
            ratio = (dm * 2_000_000 + den) // (2 * den)
            want[i] = (lab, dm, mean, ratio, ratio < lp.PROTO_PRUNE_BELOW_MICROS)
    got = {
        r.vec_id: (
            r.label, r.dist_micros, r.label_mean_micros, r.ratio_micros, r.prune_easy
        )
        for r in lp.embedding_prototypicality(spark, SF).collect()
    }
    assert got == want
    flags = {v[4] for v in got.values()}
    assert flags == {True, False}
    assert len({v[3] for v in got.values()}) > 10


def test_prototypicality_single_vector_label(spark, tmp_path):
    """A one-vector label: distance 0, mean 0, guarded denominator ->
    ratio 0, prune_easy True (the degenerate-cluster edge)."""
    from chain_sync_spark.operators import llm_pipeline as lp

    dim = lp.EMB_DIM
    rows = [
        (1, [1.0] * dim, 7),
        (2, [0.0] * dim, 3),
        (3, [2.0] * dim, 3),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = {
        r.vec_id: (r.dist_micros, r.label_mean_micros, r.ratio_micros, r.prune_easy)
        for r in lp.embedding_prototypicality(spark, str(tmp_path)).collect()
    }
    assert got[1] == (0, 0, 0, True)
    # label 3: centroid 1.0 per dim, each vec at squared dist = dim
    assert got[2] == (dim * 1_000_000, dim * 1_000_000, 1_000_000, False)
    assert got[3] == got[2]


# ---------------------------------------------------------------------------
# split_assign_leakage_safe
# ---------------------------------------------------------------------------

def test_split_leakage_safe_invariants(spark):
    """(a) one row per document; (b) every near-dup cluster's members
    share ONE split (the point of the operator); (c) singletons keep
    the naive assignment; (d) both split columns follow the hash rule
    (python md5 replica); (e) the fix is LIVE on this corpus — real
    clusters straddle naive splits, so leak_prevented fires."""
    import hashlib

    from chain_sync_spark.operators import llm_pipeline as lp

    rows = lp.split_assign_leakage_safe(spark, SF).collect()
    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id"])
    assert len(rows) == tbl.num_rows
    assert len({r.doc_id for r in rows}) == len(rows)

    def h_split(key):
        b = int(hashlib.md5(f"split:{key}".encode()).hexdigest()[:15], 16) % 100
        return "train" if b < 80 else "val" if b < 90 else "test"

    for r in rows:
        assert r.naive_split == h_split(r.doc_id)
        assert r.split == h_split(r.group_id)
        assert r.leak_prevented == (r.split != r.naive_split)
    singles = [r for r in rows if r.group_id == r.doc_id]
    assert all(not r.leak_prevented for r in singles)
    assert any(r.leak_prevented for r in rows)

    # the single-split invariant checked through INDEPENDENT grouping
    # (the cluster operator's own components, not the query's
    # group_id column — grouping by group_id would be vacuous given
    # the h_split assertion above)
    clus = {
        r.doc_id: r.cluster_id for r in lp.neardup_clusters(spark, SF).collect()
    }
    split_of = {r.doc_id: r.split for r in rows}
    by_cluster = {}
    for doc, cid in clus.items():
        by_cluster.setdefault(cid, set()).add(split_of[doc])
    assert by_cluster and all(len(s) == 1 for s in by_cluster.values())
    for r in rows:
        assert r.group_id == clus.get(r.doc_id, r.doc_id)


# ---------------------------------------------------------------------------
# matryoshka_recall_audit
# ---------------------------------------------------------------------------

def test_matryoshka_audit_matches_numpy_replica(spark):
    """From-scratch numpy replica of the full audit (4-dp rounded
    cosine, neighbor-id tie-break, per-dims top-k, overlap vs the
    full-dim baseline), plus the data-property pins: coarser
    prefixes cannot beat the widest one on average here, and the
    audit honestly reports near-chance recall on isotropic
    embeddings (every value strictly below 1.0 would overfit; just
    pin mean(32) >= mean(8))."""
    import numpy as np

    from chain_sync_spark.operators import llm_pipeline as lp

    tbl = pq.read_table(f"{SF}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = tbl["vec_id"].to_pylist()
    embs = {i: np.asarray(e, dtype=np.float64) for i, e in
            zip(ids, tbl["embedding"].to_pylist())}

    def topk(qid, d):
        qe = embs[qid][:d]
        scored = []
        for i, e in embs.items():
            if i == qid:
                continue
            te = e[:d]
            # replicate the sequential left-to-right fold the engines run
            dot = 0.0
            for a, b in zip(qe, te):
                dot += a * b
            na = 0.0
            for a in qe:
                na += a * a
            nb = 0.0
            for b in te:
                nb += b * b
            c = round(dot / ((na ** 0.5) * (nb ** 0.5)), 4)
            scored.append((-c, i))
        scored.sort()
        return [i for _, i in scored[: lp.ANN_TOPK]]

    want = {}
    qids = [i for i in embs if i < lp.ANN_QUERIES]
    for qid in qids:
        base = set(topk(qid, lp.EMB_DIM))
        for d in lp.MR_DIMS:
            ov = len(set(topk(qid, d)) & base)
            want[(qid, d)] = (ov, (ov * 2_000_000 + lp.ANN_TOPK) // (2 * lp.ANN_TOPK))
    got = {
        (r.query_id, r.dims): (r.n_overlap, r.recall_micros)
        for r in lp.matryoshka_recall_audit(spark, SF).collect()
    }
    assert got == want
    means = {
        d: sum(v[1] for (q, dd), v in got.items() if dd == d) / len(qids)
        for d in lp.MR_DIMS
    }
    assert means[32] >= means[8]

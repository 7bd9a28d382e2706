"""Known-answer tests for the corpus-preparation operators: the
oracle gate proves Spark==DuckDB on the testdata; these pin the
semantics on tiny literal fixtures — chunk offsets tile the text with
the right overlap, TF-IDF surfaces the rare repeated term, bigram
conditional probabilities sum to 1 per head, and incremental dedup
drops re-crawls through both the historical anti join and the
in-batch first-wins window."""

import hashlib

import pytest
from pyspark.sql import functions as F

from chain_sync_spark.operators import corpus_ops as co


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_chunking_tiles_with_overlap(spark, tmp_path):
    text = "x" * 199 + "Z"  # 200 chars, distinctive tail
    d = _write_docs(spark, tmp_path, [(1, text, "en", "s", len(text))])
    rows = sorted(
        co.chunk_documents_overlap(spark, d).collect(), key=lambda r: r.chunk_idx
    )
    # offsets tile by stride; substring clamps at end-of-text
    assert [(r.chunk_idx, r.chunk_off, r.chunk_len) for r in rows] == [
        (0, 0, 120),
        (1, 90, 110),
        (2, 180, 20),
    ]
    # md5 is of the actual substring (tail chunk includes the Z)
    tail = text[180:]
    assert rows[2].chunk_md5 == hashlib.md5(tail.encode()).hexdigest()
    # consecutive chunks overlap by window - stride characters
    assert rows[0].chunk_off + co.CHUNK_WINDOW - rows[1].chunk_off == (
        co.CHUNK_WINDOW - co.CHUNK_STRIDE
    )


def test_tfidf_prefers_rare_repeated_term(spark, tmp_path):
    d = _write_docs(
        spark,
        tmp_path,
        [
            (1, "common zebra zebra zebra common", "en", "s", 31),
            (2, "common filler words here", "en", "s", 24),
            (3, "common other text body", "en", "s", 22),
        ],
    )
    out = co.tfidf_top_terms(spark, d)
    top = {r.doc_id: r for r in out.filter(F.col("rank") == 1).collect()}
    # 'zebra': tf=3, df=1 → score 3*4/2 = 6.0 beats 'common' (tf=2, df=3 → 2)
    assert top[1].term == "zebra"
    assert top[1].tf == 3 and top[1].df == 1
    assert top[1].score == pytest.approx(3 * (3 + 1) / (1 + 1))
    # every doc emits at most TFIDF_TOP_K rows
    counts = out.groupBy("doc_id").count().collect()
    assert all(r["count"] <= co.TFIDF_TOP_K for r in counts)


def test_bigram_lm_counts_and_probabilities(spark, tmp_path):
    d = _write_docs(
        spark,
        tmp_path,
        [(1, "a b a b c", "en", "s", 9), (2, "a b", "en", "s", 3)],
    )
    rows = {(r.w1, r.w2): r for r in co.ngram_lm_topk(spark, d).collect()}
    # bigrams: (a,b)x3, (b,a)x1, (b,c)x1
    assert rows[("a", "b")].cnt == 3 and rows[("a", "b")].cond_p_micros == 1_000_000
    assert rows[("b", "a")].head_total == 2
    assert rows[("b", "a")].cond_p_micros == 500_000
    # conditional micro-probabilities sum to ~1e6 per head (K exceeds
    # fanout here; each term is round-half-up so the sum is within
    # fanout/2 micros of exactly 1e6)
    by_head = {}
    for (w1, _), r in rows.items():
        by_head[w1] = by_head.get(w1, 0) + r.cond_p_micros
    assert all(abs(total - 1_000_000) <= 2 for total in by_head.values())


def test_incremental_dedup_both_drop_paths(spark, tmp_path):
    rows = [
        (i, f"unique text number {i}", "en", "s", 20) for i in range(14)
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = co.dedup_incremental_batch(spark, d)
    got = sorted(r.doc_id for r in out.collect())
    # batch = fresh {0, 10} + re-crawls {100000 (copy of 0), 100007 (copy of 7)}
    # 100007 dies in the anti join (7 is historical);
    # 100000 dies in the in-batch window (0 is the first-wins survivor)
    assert got == [0, 10]
    md5s = {r.doc_id: r.content_md5 for r in out.collect()}
    assert md5s[0] == hashlib.md5(b"unique text number 0").hexdigest()


def test_incremental_neardup_flags_hist_and_inbatch_dups(spark, tmp_path):
    """Known-answer: a new doc duplicating a HISTORICAL doc is flagged
    against it; a new doc duplicating a smaller-id IN-BATCH doc is
    flagged against that; fresh texts pass through unique."""
    text_a = " ".join(f"alpha{i:02d}" for i in range(40))
    text_b = " ".join(f"beta{i:02d}" for i in range(40))
    text_c = " ".join(f"gamma{i:02d}" for i in range(40))
    rows = [
        (3, text_a, "en", "s", len(text_a)),    # historical original
        (5, text_a, "en", "s", len(text_a)),    # new: dup of hist 3
        (10, text_b, "en", "s", len(text_b)),   # new: first of its text
        (15, text_b, "en", "s", len(text_b)),   # new: dup of in-batch 10
        (20, text_c, "en", "s", len(text_c)),   # new: unique
        (7, "totally unrelated historical words here", "en", "s", 38),
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: (r.is_dup, r.dup_of)
           for r in co.neardup_incremental_minhash(spark, d).collect()}
    from chain_sync_spark.operators import llm_pipeline as lp

    lp.release_caches()
    assert out == {
        5: (True, 3),
        10: (False, None),
        15: (True, 10),
        20: (False, None),
    }


def test_lm_score_separates_known_from_novel_bigrams(spark, tmp_path):
    # "a b" repeated >= LM_MIN_COUNT times makes (a,b) and (b,a) known;
    # every other bigram occurs once and stays novel.
    boiler = "a b " * 35
    d = _write_docs(
        spark,
        tmp_path,
        [
            (1, boiler.strip(), "en", "s", len(boiler)),
            (2, "c d e", "en", "s", 5),
            (3, "a b x y", "en", "s", 7),
        ],
    )
    out = {r.doc_id: r for r in co.lm_known_bigram_score(spark, d).collect()}
    assert out[1].n_bigrams == 69 and out[1].n_known == 69
    assert out[1].known_micros == 1_000_000 and out[1].keep
    assert out[2].n_bigrams == 2 and out[2].n_known == 0 and not out[2].keep
    # doc 3: (a,b) known (count 36), (b,x) and (x,y) novel
    assert out[3].n_bigrams == 3 and out[3].n_known == 1
    assert out[3].known_micros == round(1 / 3 * 1e6) and not out[3].keep


def test_segment_dedup_counts_cross_doc_and_self_repeats(spark, tmp_path):
    d = _write_docs(
        spark,
        tmp_path,
        [
            (1, "p q r s t u", "en", "s", 11),    # shares "p q r" with doc 2
            (2, "p q r x y z", "en", "s", 11),
            (3, "p q r p q r", "en", "s", 11),    # self-repeat
            (4, "w w", "en", "s", 3),             # < SEG_WORDS: no segments
        ],
    )
    out = {r.doc_id: r for r in co.segment_dedup_ratio(spark, d).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1].n_segs, out[1].dup_segs, out[1].dup_micros) == (2, 1, 500_000)
    assert not out[1].flagged  # strictly-greater threshold
    assert (out[2].n_segs, out[2].dup_segs) == (2, 1)
    assert (out[3].n_segs, out[3].dup_segs, out[3].dup_micros) == (2, 2, 1_000_000)
    assert out[3].flagged


def test_mixture_resample_downweights_majority_source_only(spark, tmp_path):
    rows = [(i, f"text {i}", "en", "srcA" if i < 30 else "srcB", 8)
            for i in range(40)]
    d = _write_docs(spark, tmp_path, rows)
    out = {r.source: r for r in co.mixture_resample_documents(spark, d).collect()}
    # srcB is under target share: weight clamps to 1.0, everything kept
    assert out["srcB"].n_before == 10 and out["srcB"].n_after == 10
    assert out["srcB"].weight == 1.0 and out["srcB"].keep_rate == 1.0
    # srcA is over-represented: weight = (1/2) / (30/40) = 2/3
    assert out["srcA"].n_before == 30
    assert out["srcA"].weight == pytest.approx(2 / 3, abs=1e-6)
    assert 0 < out["srcA"].n_after < 30
    # hash acceptance is deterministic: a second run decides identically
    again = {r.source: r.n_after
             for r in co.mixture_resample_documents(spark, d).collect()}
    assert again == {s: r.n_after for s, r in out.items()}


def test_profile_column_stats_single_pass_counts(spark, tmp_path):
    spark.createDataFrame(
        [
            (1, 10, "O", "p1"),
            (2, None, "F", "p1"),
            (3, 10, None, "p2"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = {r.col_name: r for r in
           co.profile_column_stats(spark, str(tmp_path)).collect()}
    assert set(out) == set(co.PROFILE_COLS)
    assert all(r.n_rows == 3 for r in out.values())
    assert (out["o_custkey"].n_nulls, out["o_custkey"].n_distinct) == (1, 1)
    assert (out["o_orderstatus"].n_nulls, out["o_orderstatus"].n_distinct) == (1, 2)
    assert (out["o_orderkey"].min_val, out["o_orderkey"].max_val) == ("1", "3")
    assert (out["o_orderpriority"].min_val, out["o_orderpriority"].max_val) == (
        "p1", "p2",
    )
    # single-pass contract: exactly one scan of the orders relation
    plan = co.profile_column_stats(
        spark, str(tmp_path)
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_bm25_ranks_rare_term_matches_first(spark, tmp_path):
    """Known-answer BM25 on a literal fixture: scores reproduce the
    hand-computed formula (log-free idf, 6-dp-rounded per-term scores
    summed), multi-term matches accumulate, non-matching docs are
    absent."""
    d = _write_docs(
        spark,
        tmp_path,
        [
            (1, "window window join x", "en", "s", 20),
            (2, "window y z a", "en", "s", 12),
            (3, "filter b c", "en", "s", 10),
            (4, "noise terms only", "en", "s", 16),
        ],
    )
    out = {r.doc_id: r for r in co.bm25_topk_documents(spark, d).collect()}
    assert set(out) == {1, 2, 3}  # doc 4 matches no query term

    def term_score(tf, df, dl, n_docs=4, avgdl=14 / 4):
        idf = (n_docs - df + 0.5) / (df + 0.5)
        k1, b = co.BM25_K1, co.BM25_B
        return round(idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)

    exp1 = term_score(2, 2, 4) + term_score(1, 1, 4)   # window x2 + join
    exp2 = term_score(1, 2, 4)                          # window
    exp3 = term_score(1, 1, 3)                          # filter (rare)
    assert out[1].score == pytest.approx(exp1, abs=1e-9)
    assert out[2].score == pytest.approx(exp2, abs=1e-9)
    assert out[3].score == pytest.approx(exp3, abs=1e-9)
    assert out[1].n_terms_matched == 2
    # two-term doc outranks both single-term docs; the rare-term match
    # outranks the common-term match at equal tf
    assert out[1].rk == 1 and out[3].score > out[2].score


def test_new_ops_edge_cases(spark, tmp_path):
    """Degenerate inputs the 100 TB versions will meet: a corpus with
    no query-term matches (BM25 → empty, not error), a single source
    (mixture weight clamps to 1.0, everything kept), and an all-null
    profiled column (distinct 0, min/max NULL)."""
    d = _write_docs(
        spark,
        tmp_path,
        [(1, "nothing relevant here", "en", "only_src", 21),
         (2, "still nothing", "en", "only_src", 13)],
    )
    assert co.bm25_topk_documents(spark, d).count() == 0

    out = {r.source: r for r in co.mixture_resample_documents(spark, d).collect()}
    assert out["only_src"].weight == 1.0
    assert out["only_src"].n_after == 2 and out["only_src"].keep_rate == 1.0

    spark.createDataFrame(
        [(1, None, None, "p"), (2, None, None, "p")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    prof = {r.col_name: r for r in
            co.profile_column_stats(spark, str(tmp_path)).collect()}
    assert (prof["o_custkey"].n_nulls, prof["o_custkey"].n_distinct) == (2, 0)
    assert prof["o_custkey"].min_val is None and prof["o_custkey"].max_val is None


def test_bm25_single_corpus_scan_plan(spark):
    """Plan evidence for the one-tokenization-pass claim: every
    branch reads the persisted (doc_id, dl, w) relation, so the
    documents parquet is only read — and the corpus only tokenized —
    once, at cache materialization.  Three InMemoryTableScans since
    the round-11 term-df swap: the tf branch, attach_group_count's
    count side over tf, and the corpus-stats branch.  (The cached
    relation's own plan is echoed inside each InMemoryTableScan, so
    counting 'Scan parquet' in the plan STRING would overcount.)"""
    from chain_sync_spark.operators import llm_pipeline as lp

    df = co.bm25_topk_documents(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    lp.release_caches()
    assert plan.count("InMemoryTableScan") == 3


def test_segment_rewrite_first_occurrence_wins(spark, tmp_path):
    """Global first-occurrence-wins rewrite: a segment duplicated
    across docs survives only in the lowest (doc_id, position); an
    in-doc repeat keeps its first copy; the sub-segment tail always
    passes through verbatim; short docs are untouched."""
    d = _write_docs(
        spark,
        tmp_path,
        [
            (1, "a b c d e f x", "en", "s", 13),     # 2 segs + tail "x"
            (2, "d e f g h i", "en", "s", 11),       # "d e f" dup of doc1
            (3, "p q r p q r", "en", "s", 11),       # in-doc repeat
            (4, "z z", "en", "s", 3),                # below SEG_WORDS
        ],
    )
    out = {r.doc_id: r for r in co.dedup_segment_rewrite(spark, d).collect()}
    assert (out[1].n_segs, out[1].kept_segs) == (2, 2)
    assert out[1].new_text == "a b c d e f x"
    assert (out[2].n_segs, out[2].kept_segs) == (2, 1)
    assert out[2].new_text == "g h i"
    assert (out[3].n_segs, out[3].kept_segs) == (2, 1)
    assert out[3].new_text == "p q r"
    assert out[3].drop_ratio == 0.5
    assert (out[4].n_segs, out[4].kept_segs) == (0, 0)
    assert out[4].new_text == "z z" and out[4].drop_ratio is None


# ---------------------------------------------------------------------------
# vocab_coverage_oov + heavy_hitters_cms — known-answer tests
# ---------------------------------------------------------------------------

def test_vocab_coverage_cuts_topv_with_term_tiebreak(spark, tmp_path):
    """17 terms tied at count 2 and V=16: the cut keeps w01..w16 by the
    (count DESC, term ASC) tie-break, so w17 is the only OOV token in
    docs 1-2 and the all-singleton doc 3 is 100% OOV."""
    common = " ".join(f"w{i:02d}" for i in range(1, 18))  # w01..w17
    d = _write_docs(
        spark,
        tmp_path,
        [
            (1, common, "en", "s", len(common)),
            (2, common, "en", "s", len(common)),
            (3, "z1 z2 z3 z4", "en", "s", 11),
        ],
    )
    out = {r.doc_id: r for r in co.vocab_coverage_oov(spark, d).collect()}
    assert (out[1].n_tok, out[1].n_oov) == (17, 1)
    assert (out[2].n_tok, out[2].n_oov) == (17, 1)
    assert (out[3].n_tok, out[3].n_oov) == (4, 4)
    # integer micro-ratio of 1/17 (round-half-up) and 4/4
    assert out[1].oov_micros == 58_824
    assert out[3].oov_micros == 1_000_000


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_cms_estimate_matches_python_replica(spark, tmp_path):
    """The count-min estimate equals a from-scratch Python replica of
    the sketch (same md5 buckets, same min-over-rows), is always >=
    the exact count, and ranks by (estimate DESC, term ASC)."""
    text = "aa aa aa bb bb cc dd dd dd dd"
    d = _write_docs(spark, tmp_path, [(1, text, "en", "s", len(text))])
    exact = {"aa": 3, "bb": 2, "cc": 1, "dd": 4}
    cells: dict[tuple[int, int], int] = {}
    for term, cnt in exact.items():
        for r in range(co.CMS_ROWS):
            b = _py_hash60(f"cms{r}:{term}") % co.CMS_WIDTH
            cells[(r, b)] = cells.get((r, b), 0) + cnt
    expect_est = {
        term: min(
            cells[(r, _py_hash60(f"cms{r}:{term}") % co.CMS_WIDTH)]
            for r in range(co.CMS_ROWS)
        )
        for term in exact
    }
    rows = co.heavy_hitters_cms(spark, d).collect()
    got = {r.term: r for r in rows}
    assert set(got) == set(exact)
    for term, r in got.items():
        assert r.exact_cnt == exact[term]
        assert r.est_cnt == expect_est[term]
        assert r.overestimate == r.est_cnt - r.exact_cnt >= 0
    ranked = sorted(rows, key=lambda r: (-r.est_cnt, r.term))
    assert [r.rk for r in ranked] == list(range(1, len(rows) + 1))



def test_r5_entrants_registered_with_oracles():
    """vocab_coverage_oov and heavy_hitters_cms stay registered with
    an oracle, and each holds a green row in some CORRECTNESS_r*.json
    round artifact (kept in the repo root as history)."""
    import json
    from pathlib import Path

    from chain_sync_spark.registry import all_oracles, all_queries

    root = Path(__file__).resolve().parent.parent
    green: set[str] = set()
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, rec in json.load(p.open()).items():
            if (rec.get("rows_match") and rec.get("schema_match")
                    and rec.get("hash_match", True)):
                green.add(name)
    for name in ("vocab_coverage_oov", "heavy_hitters_cms"):
        assert name in all_queries() and name in all_oracles()
        assert name in green, f"{name} holds no green row in any artifact"

"""Full BPE training loop + encoder (corpus_ops.bpe_train/bpe_encode)
— certified against a from-scratch Python replica of the reference
algorithm (Sennrich et al. 2016): greedy argmax pair per round with
(cnt DESC, l, r) tie-break, greedy left-to-right non-overlapping
apply. The merge table is data-dependent state (no closed-form SQL
oracle), so the replica IS the certification, the k-means precedent.
"""

import pytest
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from chain_sync_spark.operators import corpus_ops as co

SF = "/root/testdata/sf0.001"
N = 12  # merges under test (default BPE_TRAIN_MERGES covers the same loop)


def _py_words(text: str) -> list[str]:
    norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
    return [t for t in norm.split(" ") if t]


def _py_apply(s: list[str], l: str, r: str) -> list[str]:
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _py_bpe_train(word_counts: dict[str, int], n_merges: int):
    syms = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, s in syms.items():
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_counts[w]
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, l + r, cnt))
        syms = {w: _py_apply(s, l, r) for w, s in syms.items()}
    return merges, syms


def _sf_word_counts() -> dict[str, int]:
    counts: dict[str, int] = {}
    for text in pq.read_table(f"{SF}/documents.parquet")["text"].to_pylist():
        for w in _py_words(text):
            counts[w] = counts.get(w, 0) + 1
    return counts


@pytest.mark.slow
def test_bpe_train_matches_python_replica_at_sf0001(spark):
    want, _ = _py_bpe_train(_sf_word_counts(), N)
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["cnt"])
        for r in co.bpe_train(spark, SF, n_merges=N).orderBy("rank").collect()
    ]
    assert got == want


def test_bpe_train_hand_example(spark, tmp_path):
    """Classic corpus: 'low' x5, 'lower' x2, 'newest' x6, 'widest' x3
    (the Sennrich et al. worked example). First merges: es (9), est
    (9), lo (7)."""
    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = co.bpe_train(spark, str(tmp_path), n_merges=3).orderBy("rank").collect()
    got = [(r["left"], r["right"], r["cnt"]) for r in rows]
    assert got == [("e", "s", 9), ("es", "t", 9), ("l", "o", 7)]


def test_bpe_train_exhausts_and_stops_early(spark, tmp_path):
    """Single repeated 2-char word: one merge consumes the whole
    vocabulary; the loop stops instead of emitting empty-pair rows."""
    spark.createDataFrame(
        [(1, "ab ab ab", "en", "s", 8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = co.bpe_train(spark, str(tmp_path), n_merges=5).collect()
    assert [(r["rank"], r["merged"], r["cnt"]) for r in rows] == [(1, "ab", 3)]


def test_bpe_apply_merges_segments_like_replica(spark):
    """Engine-side segmentation of the sf0.001 vocabulary equals the
    replica's symbol state after the same merges, and every word
    reconstructs from its subwords."""
    merges, want_syms = _py_bpe_train(_sf_word_counts(), N)
    ranked = [(l, r) for _, l, r, _, _ in merges]
    vocab = spark.createDataFrame(
        [(w,) for w in want_syms], "word string"
    )
    seg = co.bpe_apply_merges(vocab, ranked)
    got = {r["word"]: list(r["s"]) for r in seg.collect()}
    assert got == want_syms
    recon = seg.filter(F.concat_ws("", "s") != F.col("word")).count()
    assert recon == 0


def test_bpe_apply_merges_empty_word_yields_empty_array(spark):
    """Public-helper edge case: sequence(1, 0) is DESCENDING in Spark,
    so an unguarded char split would emit two empty-string symbols for
    an empty word and silently produce garbage pairs downstream."""
    vocab = spark.createDataFrame([("",), ("ab",)], "word string")
    seg = co.bpe_apply_merges(vocab, [("a", "b")])
    got = {r["word"]: list(r["s"]) for r in seg.collect()}
    assert got == {"": [], "ab": ["ab"]}


def test_bpe_encode_counts_match_replica(spark):
    merges, word_syms = _py_bpe_train(_sf_word_counts(), N)
    tbl = pq.read_table(f"{SF}/documents.parquet")
    want: dict[tuple[int, str], int] = {}
    for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        for w in _py_words(text):
            for sub in word_syms[w]:
                want[(doc_id, sub)] = want.get((doc_id, sub), 0) + 1
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    trained = co.bpe_train(spark, SF, n_merges=N).orderBy("rank").collect()
    ranked = [(r["left"], r["right"]) for r in trained]
    got = {
        (r["doc_id"], r["subword"]): r["n"]
        for r in co.bpe_encode(docs, ranked).collect()
    }
    assert got == want


def test_bpe_encode_frozen_matches_replica(spark):
    """The frozen-merge registry form equals the replica's greedy
    left-to-right apply of the SAME hardcoded merge list — including
    the chained multi-char merges (mer, par, join) — so the SQL
    oracle's window-function unroll and the engine's fold agree with
    the reference semantics on real data."""
    frozen = co.BPE_FROZEN_MERGES
    counts = _sf_word_counts()
    word_syms = {}
    for w in counts:
        s = list(w)
        for l, r in frozen:
            s = _py_apply(s, l, r)
        word_syms[w] = s
    tbl = pq.read_table(f"{SF}/documents.parquet")
    want: dict[tuple[int, str], int] = {}
    for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        for w in _py_words(text):
            for sub in word_syms[w]:
                want[(doc_id, sub)] = want.get((doc_id, sub), 0) + 1
    got = {
        (r["doc_id"], r["subword"]): r["n"]
        for r in co.bpe_encode_frozen(spark, SF).collect()
    }
    assert got == want


def test_bpe_encode_frozen_constructs_without_jobs(spark, monkeypatch):
    """Building the frozen encoder is lazy: the merge list is a literal
    and the segmentation one column, so no collect and no checkpoint
    runs before the caller's action. The documents read (its parquet
    schema-inference job belongs to the table loader) is taken outside
    the count."""
    docs = co.table(spark, SF, "documents")
    monkeypatch.setattr(co, "table", lambda *_args: docs)
    tracker = spark.sparkContext.statusTracker()
    mark = max(tracker.getJobIdsForGroup(), default=-1)
    co.bpe_encode_frozen(spark, SF)
    assert max(tracker.getJobIdsForGroup(), default=-1) == mark


def test_bpe_encode_frozen_folds_in_one_operator(spark):
    """The merge fold is evaluated once per distinct word: it sits in
    one operator of the optimized plan. A plain explode of the symbol
    array would let the inferred size(s) > 0 filter carry the fold
    below the vocabulary distinct, onto every token."""
    plan = co.bpe_encode_frozen(spark, SF)._jdf.queryExecution().optimizedPlan()
    folds = [ln for ln in plan.toString().splitlines() if "aggregate(" in ln]
    assert len(folds) == 1, "\n".join(ln[:160] for ln in folds)

"""Property-based tests (SURVEY §5.4, hypothesis): the resilient
decode paths never throw on arbitrary input, extraction outputs stay
within their input domains, and the portable hash layer keeps its
cross-engine invariants. Spark-side properties batch all generated
examples into one DataFrame per property, so each property costs a
handful of Spark jobs, not one per example."""

import json

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from chain_sync_spark.functions.json_utils import double_decode_json
from chain_sync_spark.functions.markdown_udf import parse_post_py
from chain_sync_spark.functions.sketches import hash60, minhash_coeffs, MINHASH_MOD
from chain_sync_spark.functions.text_funcs import extract_hashtags

TEXTY = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=200
)


@settings(max_examples=200, deadline=None)
@given(TEXTY)
def test_markdown_parse_never_throws(body):
    text, images = parse_post_py(body)
    assert text is None or isinstance(text, str)
    assert isinstance(images, list)


@settings(max_examples=50, deadline=None)
@given(st.one_of(TEXTY, st.none(), st.builds(json.dumps, st.dictionaries(st.text(max_size=8), st.integers(), max_size=3))))
def test_markdown_roundtrip_types(body):
    text, images = parse_post_py(body)
    if body is None:
        assert text is None and images == []


def test_json_double_decode_never_throws_batch(spark):
    """Arbitrary garbage through the F2 decode path: always a struct
    or NULL, never an exception (reference falls back to defaults)."""
    samples = (
        ["", "{", "[1,2", "null", "0", '"\\"', '"{}"', "{}",
         '{"tags": 1}', '{"tags": ["a"], "image": "x"}',
         json.dumps(json.dumps({"tags": ["t"], "image": []})),
         json.dumps(json.dumps(json.dumps({"tags": []}))),  # triple-encoded
         "\x00bad", "ÿÿÿ", "[]", '"just a string"', None]
    )
    df = spark.createDataFrame([(s,) for s in samples], "raw string")
    out = df.select(
        double_decode_json(F.col("raw"), "tags array<string>, image array<string>").alias("m")
    ).collect()
    assert len(out) == len(samples)  # no exception = pass; values may be NULL


def test_hashtags_subset_of_tokens_batch(spark):
    """F7 invariant: every extracted hashtag is a lowercased suffix
    of some whitespace token of the body that started with '#'."""
    bodies = [
        "a #B c", "#x#y", "no tags", "#", "##double", "#tag\n#Two",
        "#MiXeD ok #1 #末尾", "   ", "#a #a #a",
    ]
    df = spark.createDataFrame([(b,) for b in bodies], "body string")
    rows = df.select("body", extract_hashtags(F.col("body")).alias("tags")).collect()
    for r in rows:
        toks = [t for t in r["body"].replace("\n", " \n ").split(" ")]
        candidates = {t[1:].lower() for t in toks if t.startswith("#") and len(t) > 1}
        for tag in r["tags"]:
            assert tag in candidates, (r["body"], tag)


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_minhash_affine_family_in_range(h):
    for a, b in minhash_coeffs(16):
        v = (h * a + b) % MINHASH_MOD
        assert 0 <= v < MINHASH_MOD
        assert h * a + b < 2**63  # no BIGINT overflow in either engine


def test_hash60_range_batch(spark):
    """Portable hash invariant: non-negative, < 2^60, stable."""
    vals = ["", "a", "ÿ", "hello world", "\n", "0", "#tag"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select("s", hash60(F.col("s")).alias("h")).collect()
    for r in rows:
        assert 0 <= r["h"] < 2**60
    again = {r["s"]: r["h"] for r in df.select("s", hash60(F.col("s")).alias("h")).collect()}
    assert {r["s"]: r["h"] for r in rows} == again


def test_floor_round_cross_engine_parity_batch(spark):
    """The tie-safe rounding contract: Spark floor_round and DuckDB
    floor_round_sql agree on EVERY p/q ratio — including the exact
    representable half-ties (q a power of two) where round()'s
    HALF_UP vs HALF_EVEN rules diverge, which is the whole reason the
    helper exists."""
    import duckdb

    from chain_sync_spark.functions.sketches import floor_round, floor_round_sql

    # every (p, q) with q in the tie-prone power-of-two family plus
    # odd/composite denominators; includes 1/128 (= 0.0078125, an
    # exact 6-dp half-tie) and friends
    cases = [(p, q) for q in (2, 3, 7, 8, 16, 64, 128, 256, 10_000)
             for p in range(1, min(q, 20))]
    df = spark.createDataFrame(cases, "p long, q long")
    got = {
        (r.p, r.q): r.r
        for r in df.select(
            "p", "q",
            floor_round(F.col("p").cast("double") / F.col("q").cast("double"), 6)
            .alias("r"),
        ).collect()
    }
    con = duckdb.connect()
    for (p, q), spark_val in got.items():
        duck_val = con.execute(
            f"SELECT {floor_round_sql(f'CAST({p} AS DOUBLE) / CAST({q} AS DOUBLE)', 6)}"
        ).fetchone()[0]
        assert spark_val == duck_val, (p, q, spark_val, duck_val)
    # and the motivating case really is a divergent round() tie
    assert got[(1, 128)] == 0.007813  # floor-of-shifted rounds the tie UP


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=0, max_value=4_000_000_000_000),
    st.integers(min_value=1, max_value=1_000_000_000),
)
def test_ratio_micros_is_exact_round_half_up(num, den):
    """The round-5 output-contract primitive: ratio_micros's pure
    integer form equals the mathematically exact round-half-up of
    num/den·10⁶ (computed via Fraction — an independent formulation),
    across the full documented domain (num < 2^63/(2·10⁶))."""
    import math
    from fractions import Fraction

    want = math.floor(Fraction(num * 10**6, den) + Fraction(1, 2))
    assert (num * 10**6 * 2 + den) // (den * 2) == want


def test_ratio_micros_cross_engine_parity_batch(spark):
    """Spark's ratio_micros and DuckDB's ratio_micros_sql agree (and
    both stay BIGINT-typed) on half-tie-prone and arbitrary
    numerator/denominator pairs — the primitive every re-earning
    round-5 ratio query leans on."""
    import duckdb

    from chain_sync_spark.functions.sketches import ratio_micros, ratio_micros_sql

    cases = [(p, q) for q in (2, 3, 7, 16, 41, 128, 10_000, 999_983)
             for p in (0, 1, q // 2, q - 1, q, 3 * q + 1)]
    df = spark.createDataFrame(cases, "p long, q long")
    got = {
        (r.p, r.q): r.r
        for r in df.select("p", "q", ratio_micros("p", "q").alias("r")).collect()
    }
    con = duckdb.connect()
    for (p, q), spark_val in got.items():
        # literals would be INT32 — oracles always feed BIGINT columns
        res = con.execute(
            f"SELECT {ratio_micros_sql(f'CAST({p} AS BIGINT)', f'CAST({q} AS BIGINT)')} AS r"
        )
        assert res.description[0][1] == "NUMBER"
        duck_val = res.fetchone()[0]
        assert spark_val == duck_val and isinstance(duck_val, int), (
            p, q, spark_val, duck_val,
        )
    assert got[(1, 2)] == 500_000 and got[(1, 128)] == 7_813  # tie rounds up


def test_bind1_transparent_for_shingles_batch(spark):
    """bind1 is a performance binding, never a semantic change: for
    arbitrary text, word_shingles over a bind1-bound tokenize
    expression equals word_shingles over the same expression passed
    raw (the slow inlined form) AND over a materialized column. The
    guard for migrating helper internals onto bind1 in round 5."""
    import random
    import string

    from chain_sync_spark.functions import sketches as sk

    rng = random.Random(99)
    words = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 6)))
             for _ in range(30)]
    rows = [
        (i, " ".join(rng.choices(words, k=rng.randint(0, 12)))
         + rng.choice(["", " !!", " Mixed.Case", " 123"]))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    tok = lambda: sk.words(sk.normalize_text(F.col("text")))  # noqa: E731

    bound = df.select(
        "id", sk.bind1(tok(), sk.word_shingles).alias("sh")
    ).collect()
    raw = df.select("id", sk.word_shingles(tok()).alias("sh")).collect()
    via_col = (
        df.withColumn("w", tok())
        .filter(F.size("w") >= 0)
        .select("id", sk.word_shingles(F.col("w")).alias("sh"))
        .collect()
    )
    canon = lambda rs: {r.id: list(r.sh) for r in rs}  # noqa: E731
    assert canon(bound) == canon(raw) == canon(via_col)


def test_bpe_apply_fold_matches_replica_random_batch(spark):
    """Random words over a 3-letter alphabet (dense repeats force
    overlapping candidate sites) against a merge chain that includes
    l==r merges and merged-symbol operands: the engine-side fold
    equals the greedy left-to-right non-overlapping replica."""
    import random

    from chain_sync_spark.operators.corpus_ops import bpe_apply_merges

    rng = random.Random(83)
    words = sorted(
        {
            "".join(rng.choice("abc") for _ in range(rng.randint(0, 12)))
            for _ in range(300)
        }
    )
    merges = [("a", "a"), ("b", "c"), ("a", "bc"), ("aa", "a"), ("c", "c")]

    def _apply(s, l, r):
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out

    want = {}
    for w in words:
        s = list(w)
        for l, r in merges:
            s = _apply(s, l, r)
        want[w] = s
    vocab = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: list(r["s"])
        for r in bpe_apply_merges(vocab, merges).collect()
    }
    assert got == want


def test_bloom_members_always_hit_random_batch(spark, tmp_path):
    """Serving-path no-false-negative property on random documents:
    every probed corpus member hits through bloom_probe_fingerprints'
    join math (not by construction); non-members may or may not hit."""
    import random
    import string

    from chain_sync_spark.operators.corpus_ops import (
        BLOOM_ABSENT_PROBES,
        bloom_probe_fingerprints,
    )

    rng = random.Random(7)

    def _key():
        return "".join(
            rng.choice(string.ascii_lowercase)
            for _ in range(rng.randint(1, 20))
        )

    # the query probes every 7th document: ~400 members
    texts = sorted({_key() for _ in range(2800)})
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = bloom_probe_fingerprints(spark, str(tmp_path)).collect()
    members = [r for r in rows if r.present == 1]
    assert all(r.bloom_hit == 1 for r in members)
    assert len(members) == len(range(0, len(texts), 7))
    assert len(rows) - len(members) == BLOOM_ABSENT_PROBES


def test_dedup_token_spans_matches_replica_random_batch(spark, tmp_path):
    """Random docs over a 6-token vocabulary (dense shingle
    collisions) — span counts, duplicated-token totals, and the
    integer ratio all equal a from-scratch replica of shingle-mark +
    interval-merge."""
    import random
    from collections import Counter

    from chain_sync_spark.operators.pipeline_extras import (
        SD_N,
        dedup_token_spans,
    )

    rng = random.Random(41)
    vocab = [f"t{i}" for i in range(6)]
    rows, toks = [], {}
    for d in range(30):
        n = rng.randint(0, 30)
        ws = [rng.choice(vocab) for _ in range(n)]
        toks[d] = ws
        text = " ".join(ws)
        rows.append((d, text, "en", "s", len(text)))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    sh = {
        (d, i): tuple(ws[i : i + SD_N])
        for d, ws in toks.items()
        for i in range(len(ws) - SD_N + 1)
    }
    cnt = Counter(sh.values())
    want = {}
    for d, ws in toks.items():
        hits = sorted(i for (dd, i), g in sh.items() if dd == d and cnt[g] > 1)
        spans = []
        for p in hits:
            if spans and p - spans[-1][1] <= SD_N:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        n_spans = len(spans)
        dup = sum(e + SD_N - 1 - s + 1 for s, e in spans)
        n = len(ws)
        micros = 0 if n == 0 else (dup * 2_000_000 + n) // (2 * n)
        want[d] = (n, n_spans, dup, micros)
    got = {
        r.doc_id: (r.n_tokens, r.n_spans, r.dup_tokens, r.dup_micros)
        for r in dedup_token_spans(spark, str(tmp_path)).collect()
    }
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=7),
    top_down=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_parse_encode_roundtrip(w, h, top_down, seed):
    """BMP codec roundtrip across every row-padding residue (w mod 4)
    and both row orders: parse∘encode is the identity on pixels and
    dims, and encode∘parse re-parses to the same pixels regardless of
    the source payload's row order."""
    import numpy as np

    from chain_sync_spark.functions import multimodal as mm

    rng = np.random.RandomState(seed % (2**31 - 1))
    px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    enc = mm._encode_bmp((w, h, 255, px))
    parsed = mm._parse_bmp(enc)
    assert parsed is not None
    pw, ph, maxval, got = parsed
    assert (pw, ph, maxval) == (w, h, 255)
    assert (got == px).all()
    # a top-down source payload parses to the same natural-order pixels
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    stored = px if top_down else px[::-1]
    body[:, : w * 3] = stored[..., ::-1].reshape(h, w * 3)
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (-h if top_down else h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(body.tobytes()).to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4
    )
    payload = (
        b"BM" + (54 + body.size).to_bytes(4, "little")
        + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little") + info
        + body.tobytes()
    )
    reparsed = mm._parse_bmp(payload)
    assert reparsed is not None and (reparsed[3] == px).all()


@settings(max_examples=40, deadline=None)
@given(
    n_colors=st.integers(min_value=2, max_value=32),
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_lzw_roundtrip_property(n_colors, w, h, seed):
    """encode∘parse identity on GIF indices across palette sizes
    (2..32 colors → min code sizes 2..5), dims, and random index
    content — every LZW width-transition boundary in range."""
    import numpy as np

    from chain_sync_spark.functions import multimodal as mm

    rng = np.random.RandomState(seed % (2**31 - 1))
    palette = bytes(rng.randint(0, 256, size=3 * n_colors, dtype=np.uint8))
    idx = rng.randint(0, n_colors, size=(h, w), dtype=np.uint8)
    parsed = mm._parse_gif_indexed(mm._encode_gif(palette, idx))
    assert parsed is not None
    pw, ph, ct, got = parsed
    assert (pw, ph) == (w, h)
    assert ct[: len(palette)] == palette
    assert (got == idx).all()


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_encode_parse_roundtrip_property(w, h, seed):
    """encode∘parse identity on 8-bit RGB PNGs across dims and random
    pixel content (stdlib-zlib deflate/inflate + filter-0 scanlines)."""
    import numpy as np

    from chain_sync_spark.functions import multimodal as mm

    rng = np.random.RandomState(seed % (2**31 - 1))
    px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    parsed = mm._parse_png(mm._encode_png((w, h, 255, px)))
    assert parsed is not None
    assert (parsed[0], parsed[1], parsed[2]) == (w, h, 255)
    assert (parsed[3] == px).all()


@settings(max_examples=30, deadline=None)
@given(
    bits=st.sampled_from([8, 16, 24, 32]),
    n=st.integers(min_value=1, max_value=200),
    rate=st.sampled_from([8000, 16000, 44100, 48000]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_parse_roundtrip_property(bits, n, rate, seed):
    """build∘parse identity on WAV samples across every supported
    encoding (8-bit unsigned, 16/24-bit signed PCM, 32-bit IEEE
    float), lengths, and rates — quantization-exact per depth."""
    import numpy as np

    from chain_sync_spark.functions import multimodal as mm

    rng = np.random.RandomState(seed % (2**31 - 1))
    f64 = rng.uniform(-1, 1, size=n)
    if bits == 8:
        raw = np.round(f64 * 127 + 128).astype(np.uint8)
        data, want, fmt_tag = raw.tobytes(), (raw.astype("float64") - 128) / 128.0, 1
    elif bits == 16:
        raw = np.round(f64 * 32767).astype("<i2")
        data, want, fmt_tag = raw.tobytes(), raw.astype("float64") / 32768.0, 1
    elif bits == 24:
        i32 = np.round(f64 * 8388607).astype("<i4")
        b = i32.view(np.uint32).astype("<u4").tobytes()
        data = b"".join(b[i * 4 : i * 4 + 3] for i in range(n))
        want, fmt_tag = i32.astype("float64") / 8388608.0, 1
    else:
        raw = f64.astype("<f4")
        data, want, fmt_tag = raw.tobytes(), raw.astype("float64"), 3
    fmt = (
        fmt_tag.to_bytes(2, "little") + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * bits // 8).to_bytes(4, "little")
        + (bits // 8).to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    chunks = (
        b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    payload = b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks
    parsed = mm._parse_wav(payload)
    assert parsed is not None
    prate, pch, s = parsed
    assert (prate, pch, len(s)) == (rate, 1, n)
    assert np.array_equal(s, want)


def test_word_ngrams_all_agrees_with_distinct_shingles(spark):
    """Cross-helper invariant: list_distinct over the counting
    generator (word_ngrams_all) must equal word_shingles for every n,
    the occurrence count must be len(w) - n + 1 (or 0 below n), and
    position order is preserved — hypothesis over arbitrary token
    lists."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from chain_sync_spark.functions import sketches as sk

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=3),
            min_size=0,
            max_size=12,
        ),
        st.integers(min_value=2, max_value=6),
    )
    def _prop(words, n):
        df = spark.createDataFrame([(words,)], "w array<string>")
        row = df.select(
            sk.word_ngrams_all(F.col("w"), n).alias("a"),
            sk.word_shingles(F.col("w"), n).alias("d"),
        ).collect()[0]
        want = (
            [" ".join(words[j : j + n]) for j in range(len(words) - n + 1)]
            if len(words) >= n
            else []
        )
        assert row.a == want
        assert len(row.a) == max(len(words) - n + 1, 0)
        seen = set()
        dedup = [g for g in want if not (g in seen or seen.add(g))]
        assert row.d == dedup

    _prop()


# ---------------------------------------------------------------------------
# Skew primitives: the round-9/10 hardening swaps replaced content-key
# windows with these — their whole legitimacy is VALUE-IDENTITY with
# the window form, so pin it on arbitrary data (null keys, null order
# values, hot keys, ties) rather than only on the corpus fixtures.
# ---------------------------------------------------------------------------

# Each hypothesis example is a BATCH of independent datasets packed
# into one DataFrame (ds id rides in the key), so one example costs
# one Spark round-trip per side — the module's batching convention —
# while still covering null keys, null order values, hot keys, ties.
_SKEW_DATASETS = st.lists(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # key
            st.one_of(
                st.none(), st.integers(min_value=-3, max_value=3)
            ),  # order
            st.integers(min_value=0, max_value=10**6),  # payload
        ),
        min_size=1,
        max_size=25,
    ),
    min_size=2,
    max_size=5,
)


def _skew_batch_df(spark, datasets):
    rows = [
        (ds, k, o, i, p)
        for ds, data in enumerate(datasets)
        for i, (k, o, p) in enumerate(data)
    ]
    return spark.createDataFrame(rows, "ds int, k int, o int, i int, p long")


@settings(max_examples=3, deadline=None)
@given(_SKEW_DATASETS)
def test_keep_first_by_key_equals_window_rn1(spark, datasets):
    """keep_first_by_key == ROW_NUMBER()=1 on arbitrary data: null
    keys form a group, null order values sort first (ASC NULLS
    FIRST), ties in the first order column break on the unique
    second. The struct-MIN aggregate must pick exactly the window's
    row, payload included."""
    from pyspark.sql import Window

    from chain_sync_spark.operators.skew import keep_first_by_key

    df = _skew_batch_df(spark, datasets)
    got = {
        tuple(r)
        for r in keep_first_by_key(df, ["ds", "k"], ["o", "i"])
        .select("ds", "k", "o", "i", "p")
        .collect()
    }
    w = Window.partitionBy("ds", "k").orderBy(F.asc("o"), F.asc("i"))
    want = {
        tuple(r)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("ds", "k", "o", "i", "p")
        .collect()
    }
    assert got == want


@settings(max_examples=3, deadline=None)
@given(_SKEW_DATASETS)
def test_attach_group_count_equals_count_window(spark, datasets):
    """attach_group_count == COUNT(*) OVER (PARTITION BY key) on
    arbitrary data — including NULL keys, which a plain equi-join-back
    would silently drop (the null-safe join is the point)."""
    from pyspark.sql import Window

    from chain_sync_spark.operators.skew import attach_group_count

    df = _skew_batch_df(spark, datasets)
    # (ds, i) is unique per row, so the row sets are duplicate-free
    # and a set compare is exact (sorted() would choke on None vs int)
    got = {
        tuple(r)
        for r in attach_group_count(df, ["ds", "k"], "cnt")
        .select("ds", "k", "i", "cnt")
        .collect()
    }
    w = Window.partitionBy("ds", "k")
    want = {
        tuple(r)
        for r in df.withColumn("cnt", F.count(F.lit(1)).over(w))
        .select("ds", "k", "i", "cnt")
        .collect()
    }
    assert got == want


@settings(max_examples=3, deadline=None)
@given(_SKEW_DATASETS, st.integers(min_value=1, max_value=30))
def test_global_topk_desc_equals_window_rank(spark, datasets, k):
    """global_topk_desc == ROW_NUMBER() OVER (ORDER BY m DESC, tb ASC)
    <= k on arbitrary non-null data, for k below, at, and beyond the
    row count (k > n returns every row ranked; the contract requires
    non-null measure + unique tiebreak, so both are synthesized
    unique per row)."""
    from pyspark.sql import Window

    from chain_sync_spark.operators.skew import global_topk_desc

    rows = [
        (ds, i, (p % 7) - 3, ds * 100 + i)
        for ds, data in enumerate(datasets)
        for i, (_, _, p) in enumerate(data)
    ]
    df = spark.createDataFrame(rows, "ds int, i int, m int, tb long")
    got = [
        tuple(r)
        for r in global_topk_desc(df, "m", "tb", k)
        .select("ds", "i", "m", "tb", "rk")
        .collect()
    ]
    w = Window.orderBy(F.desc("m"), F.asc("tb"))
    want = [
        tuple(r)
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("ds", "i", "m", "tb", "rk")
        .collect()
    ]
    assert sorted(got) == sorted(want)


def test_global_topk_desc_empty_input(spark):
    """Zero input rows yield zero output rows (the sort-slice
    aggregate over an empty collect_list), schema intact."""
    from chain_sync_spark.operators.skew import global_topk_desc

    df = spark.range(0).select(
        F.col("id").alias("m"), F.col("id").alias("tb")
    )
    out = global_topk_desc(df, "m", "tb", 5)
    assert out.columns == ["m", "tb", "rk"]
    assert out.count() == 0


def _nan_canon(v):
    # NaN != NaN in Python; canonicalize for tuple comparison
    return "NaN" if isinstance(v, float) and v != v else v


@pytest.mark.parametrize("k", [1, 3, 50])
def test_global_topk_desc_nan_measure_matches_window(spark, k):
    """NaN measures rank FIRST under the window's DESC (Spark orders
    NaN as the largest double); the phase-2 sort struct's NaN flag
    keeps the primitive identical — without it, -NaN (= NaN) would
    sort LAST ascending and NaN rows would be cut or misranked (the
    r11 ADVICE finding; bm25 feeds a computed double score)."""
    from pyspark.sql import Window

    from chain_sync_spark.operators.skew import global_topk_desc

    nan = float("nan")
    rows = [
        (0, nan), (1, 2.5), (2, nan), (3, -1.0), (4, 2.5),
        (5, 7.0), (6, nan), (7, 0.0), (8, -3.25), (9, 7.0),
    ]
    df = spark.createDataFrame(rows, "tb int, m double")
    got = sorted(
        tuple(_nan_canon(v) for v in r)
        for r in global_topk_desc(df, "m", "tb", k)
        .select("tb", "m", "rk")
        .collect()
    )
    w = Window.orderBy(F.desc("m"), F.asc("tb"))
    want = sorted(
        tuple(_nan_canon(v) for v in r)
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("tb", "m", "rk")
        .collect()
    )
    assert got == want
    # the identity's crux: every NaN row outranks every finite row
    if k >= len(rows):
        by_tb = {tb: rk for tb, _, rk in got}
        assert {by_tb[0], by_tb[2], by_tb[6]} == {1, 2, 3}


def test_skew_contract_guards_debug_mode(spark, monkeypatch):
    """CHAIN_SYNC_DEBUG_CONTRACTS=1 turns the docstring preconditions
    of the shared primitives into entry-time ValueErrors (VERDICT r11
    item 5): null measure/tiebreak and duplicate tiebreaks for
    global_topk_desc, duplicate order keys for keep_first_by_key.
    Clean inputs pass through with identical results, and with the
    flag unset the violating inputs do NOT raise (zero behavior
    change at existing call sites)."""
    from chain_sync_spark.operators.skew import (
        global_topk_desc,
        keep_first_by_key,
    )

    null_m = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 1.0)], "tb int, m double"
    )
    dup_tb = spark.createDataFrame(
        [(1, 5.0), (1, 4.0), (3, 1.0)], "tb int, m double"
    )
    dup_order = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b"), (2, 7, "c")], "key int, o int, p string"
    )
    clean = spark.createDataFrame(
        [(1, 5.0), (2, 4.0), (3, 1.0)], "tb int, m double"
    )

    monkeypatch.delenv("CHAIN_SYNC_DEBUG_CONTRACTS", raising=False)
    assert global_topk_desc(null_m, "m", "tb", 2).count() == 2
    assert global_topk_desc(dup_tb, "m", "tb", 2).count() == 2
    assert keep_first_by_key(dup_order, ["key"], ["o"]).count() == 2

    monkeypatch.setenv("CHAIN_SYNC_DEBUG_CONTRACTS", "1")
    with pytest.raises(ValueError, match="non-null"):
        global_topk_desc(null_m, "m", "tb", 2)
    with pytest.raises(ValueError, match="not unique"):
        global_topk_desc(dup_tb, "m", "tb", 2)
    with pytest.raises(ValueError, match="duplicate-free"):
        keep_first_by_key(dup_order, ["key"], ["o"])
    got = sorted(
        tuple(r)
        for r in global_topk_desc(clean, "m", "tb", 2)
        .select("tb", "m", "rk")
        .collect()
    )
    assert got == [(1, 5.0, 1), (2, 4.0, 2)]
    assert keep_first_by_key(dup_order, ["key"], ["o", "p"]).count() == 2


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0, max_codepoint=0x10FFFF,
                                   exclude_categories=("Cs",)),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_xxh64_matches_spark_jvm_at_seed_42(spark, strings):
    """The pure-Python XXH64 core equals Spark's JVM implementation
    (F.xxhash64, seed fixed at 42) on arbitrary unicode — every
    length class (empty, <4, <8, <32, >=32 stripes, tails) and
    multibyte UTF-8."""
    from chain_sync_spark.functions.hashing import xxh64

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        mine = xxh64(r["s"].encode("utf-8"), 42)
        signed = mine - (1 << 64) if mine >= (1 << 63) else mine
        assert signed == r["h"], repr(r["s"])


def test_xxh64_upstream_golden_vectors():
    """Hard-coded known-answer vectors from the upstream xxHash
    project's own sanity checks (github.com/Cyan4973/xxHash,
    xsum_sanity_check.c) — an independent pin of the XXH64 core that
    is NOT derived from this repo's code or from Spark's JVM."""
    from chain_sync_spark.functions.hashing import xxh64

    prime32 = 2654435761  # XXH PRIME32_1, the spec's alternate seed
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64(b"", prime32) == 0xAC75FDA2929B17EF


def test_markdown_links_adjacent_and_headings_crlf_parity(spark):
    """The two r12 review findings on the markdown slice, pinned:
    (1) immediately adjacent links ([a](u)[b](v)) BOTH extract — the
    old consumed-prefix image exclusion dropped the second; (2) the
    heading pattern's explicit (^|\\n) anchoring behaves identically
    in Spark (Java regex) and DuckDB (RE2) on CRLF and lone-CR input,
    where Java's (?m) would have diverged."""
    import duckdb

    from chain_sync_spark.functions.text_funcs import (
        MD_HEADING_RE,
        extract_headings,
        extract_links,
    )

    bodies = [
        (1, "[a](u)[b](v)"),                    # adjacency
        (2, "![i](p)[a](u)"),                    # image then link, adjacent
        (3, "x![i](p) mid [a](u v) end"),        # image excluded, title junk
        (4, "# Foo\r\nbody"),                    # CRLF heading
        (5, "pre\r# Bar\nafter"),                # lone CR is NOT a line start
        (6, "# A\n## B\n### C"),                 # consecutive headings
    ]
    df = spark.createDataFrame(bodies, "id int, b string")
    got = {
        r["id"]: (
            [(s["text"], s["url"]) for s in r["links"]],
            [(s["level"], s["title"]) for s in r["heads"]],
        )
        for r in df.select(
            "id",
            extract_links(F.col("b")).alias("links"),
            extract_headings(F.col("b")).alias("heads"),
        ).collect()
    }
    assert got[1][0] == [("a", "u"), ("b", "v")]      # both adjacent links
    assert got[2][0] == [("a", "u")]                  # image excluded
    assert got[3][0] == [("a", "u")]
    assert got[4][1] == [(1, "Foo\r")]                # CRLF keeps the \r
    assert got[5][1] == []                            # lone CR: no heading
    assert got[6][1] == [(1, "A"), (2, "B"), (3, "C")]
    # engine parity on the heading pattern: DuckDB (RE2) extracts the
    # exact same (marks, titles) for every fixture body
    con = duckdb.connect()
    for _id, b in bodies:
        marks, titles = con.execute(
            "SELECT regexp_extract_all(?, ?, 2), regexp_extract_all(?, ?, 3)",
            [b, MD_HEADING_RE, b, MD_HEADING_RE],
        ).fetchone()
        assert [(len(m), t) for m, t in zip(marks, titles)] == got[_id][1], b

"""Seeded generator of the query_mix tables.

Writes the ten tables ``chain_sync_spark.tables`` reads (one parquet
file per table, same names, columns and types as the repository's
testdata layout) at a fixed size, so every query in the mix runs on
inputs derived only from the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The row counts of the repository's sf0.01 testdata. At sf0.1 (ten
# times larger) one run takes ~88 s on 4 cores (pass 44 s, DuckDB
# oracles 26 s), which does not fit the benchmark's time budget.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,  # 1-7 lines each: ~60k lineitem rows
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
WORDS = (
    "a the data query table row column join key value part order line "
    "customer scan filter group agg sort hash merge window stream batch "
    "spark vector fast slow big small"
).split()
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, n) * np.timedelta64(1, "D")


def generate_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i // 5 for i in range(25)], pa.int32()),
    })
    n = SIZES["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })
    n = SIZES["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = SIZES["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    })
    n = SIZES["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, SIZES["customer"], n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })
    lines = rng.integers(1, 8, n)  # 1..7 lines per order
    okey = np.repeat(np.arange(n, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    m = len(okey)
    qty = rng.integers(1, 51, m).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, SIZES["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, SIZES["supplier"], m).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-01", 2600, m),
    })
    n = SIZES["events"]
    # unique, sorted microsecond timestamps over 30 days
    us = np.sort(rng.choice(30 * 86400 * 10**6, n, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": _money(rng, 0.01, 500.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = SIZES["documents"]
    # ~5% exact copies and ~15% near copies (a few words replaced) of
    # an earlier document, so the dedup operators find work
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.05:
            text = texts[int(rng.integers(len(texts)))]
        elif texts and r < 0.20:
            words = texts[int(rng.integers(len(texts)))].split()
            for i in rng.integers(0, len(words), 1 + len(words) // 20):
                words[i] = str(rng.choice(WORDS))
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(text)
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    n = SIZES["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

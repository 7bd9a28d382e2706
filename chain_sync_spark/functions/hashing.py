"""Surrogate-key hashing (reference F1).

The reference keys documents on
base64(xxhash64(author + "/" + permlink, seed 0xCAFEBABE))
(handlers/comments.js:14-17, handlers/votes.js:6-9). The seed is an
internal detail with no semantic weight — any stable key works.
We provide:

  surrogate_id        — Spark builtin xxhash64 (seed 42, LongType):
                        the fast path used by the sync engine.
  surrogate_id_md5    — md5 hex string: bit-identical across Spark and
                        DuckDB, used wherever an oracle compares keys.
  xxh64               — pure-Python XXH64 core, equal to Spark's
                        JVM xxhash64, for keys computed outside Spark.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def surrogate_id(*parts: Column | str) -> Column:
    cols = [F.col(p) if isinstance(p, str) else p for p in parts]
    return F.xxhash64(F.concat_ws("/", *cols))


def surrogate_id_md5(*parts: Column | str) -> Column:
    cols = [F.col(p) if isinstance(p, str) else p for p in parts]
    return F.md5(F.concat_ws("/", *cols))


# ---------------------------------------------------------------------------
# Seedable XXH64: the engine's post key computed in plain Python, with
# no Spark job (xxh64(f"{author}/{permlink}".encode(), 42) equals
# surrogate_id). Pure-Python core, pinned by fuzzing against Spark's
# own JVM implementation at seed 42 across every length class and
# against upstream xxHash's sanity vectors (tests/test_properties.py).
# ---------------------------------------------------------------------------

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _XXP2) & _M64
    return (_rotl(acc, 31) * _XXP1) & _M64


def _merge_round(h: int, acc: int) -> int:
    h ^= _round(0, acc)
    return (h * _XXP1 + _XXP4) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """Canonical XXH64 of a byte string (unsigned 64-bit int)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XXP1) & _M64
        h = (_rotl(h, 23) * _XXP2 + _XXP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _M64
        h = (_rotl(h, 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h

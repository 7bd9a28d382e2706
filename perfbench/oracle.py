"""Output checks, run outside the timed sections.

``expected_store`` computes the store the sync engine must produce
from the generated ops alone, in DuckDB SQL over the raw op JSON (no
engine code), and ``store_mismatches`` compares the actual parquet
store against it order-insensitively: post ids and locations, up/down
vote sets, muted flags, the posts index, and account last_active and
profile.

``QueryChecker`` compares query_mix results against the registry's
DuckDB oracles with the canonicalization of ``tools/oracle_check.py``.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd
import pyarrow as pa

from opgen import COMMUNITY

# the op fields the oracle needs, decoded from the raw op JSON
_OPS_SQL = """
CREATE TEMP TABLE ops AS
SELECT block_num, CAST(ts AS TIMESTAMP) AS ts, op_type, op
FROM raw_ops WHERE block_num < $cursor
"""

_POSTS_SQL = """
WITH c AS (
  SELECT block_num, ts,
         json_extract_string(op, '$.author') AS author,
         json_extract_string(op, '$.permlink') AS permlink,
         json_extract_string(op, '$.parent_author') AS parent_author,
         json_extract_string(op, '$.parent_permlink') AS parent_permlink
  FROM ops WHERE op_type = 'comment'
), p AS (
  SELECT author, permlink, min(block_num) AS first_block,
         arg_min(ts, block_num) AS first_ts,
         arg_max(parent_permlink, block_num) AS community
  FROM c WHERE parent_author = '' GROUP BY author, permlink
), v AS (
  SELECT block_num,
         json_extract_string(op, '$.voter') AS voter,
         json_extract_string(op, '$.author') AS author,
         json_extract_string(op, '$.permlink') AS permlink,
         CAST(json_extract(op, '$.weight') AS INTEGER) AS weight
  FROM ops WHERE op_type = 'vote'
), pv AS (
  SELECT p.author, p.permlink,
         list(DISTINCT v.voter) FILTER (WHERE v.weight > 0) AS up,
         list(DISTINCT v.voter) FILTER (WHERE v.weight <= 0) AS down
  FROM p JOIN v ON v.author = p.author AND v.permlink = p.permlink
                AND v.block_num >= p.first_block
  GROUP BY p.author, p.permlink
)
SELECT p.author, p.permlink, year(p.first_ts) AS year, month(p.first_ts) AS month,
       coalesce(pv.up, []) AS up, coalesce(pv.down, []) AS down,
       (p.community = $community AND list_contains($muted, p.author)
        AND p.first_block < $mute_cursor) AS muted
FROM p LEFT JOIN pv ON pv.author = p.author AND pv.permlink = p.permlink
"""

_ACCOUNTS_SQL = """
WITH a AS (
  SELECT json_extract_string(op, '$.author') AS name, ts FROM ops WHERE op_type = 'comment'
  UNION ALL
  SELECT json_extract_string(op, '$.voter'), ts FROM ops WHERE op_type = 'vote'
  UNION ALL
  SELECT json_extract_string(op, '$.account'), ts FROM ops WHERE op_type = 'account_update'
), m AS (
  SELECT json_extract_string(op, '$.account') AS name, ts,
         json_extract_string(op, '$.json_metadata') AS raw
  FROM ops WHERE op_type = 'account_update'
), d AS (  -- tolerate one extra level of JSON string encoding
  SELECT name, ts,
         CASE WHEN ltrim(raw) LIKE '"%' THEN json_extract_string(raw, '$') ELSE raw END AS meta
  FROM m
), prof AS (
  SELECT name,
         arg_max(json_extract_string(meta, '$.profile.name'), ts) AS pname,
         arg_max(json_extract_string(meta, '$.profile.about'), ts) AS pabout
  FROM d WHERE json_valid(meta) AND json_extract(meta, '$.profile') IS NOT NULL
  GROUP BY name
)
SELECT a.name, epoch_us(max(a.ts)) AS last_active, any_value(prof.pname), any_value(prof.pabout)
FROM a LEFT JOIN prof ON prof.name = a.name
GROUP BY a.name
"""


def _spark_post_id(author: str, permlink: str) -> int:
    """Spark's ``xxhash64(concat_ws('/', author, permlink))`` (seed 42)
    as a signed long."""
    from chain_sync_spark.functions.hashing import xxh64

    h = xxh64(f"{author}/{permlink}".encode("utf-8"), 42)
    return h - (1 << 64) if h >= 1 << 63 else h


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def expected_store(
    rows: list[tuple[int, str, str, str]],
    cursor: int,
    muted: list[str],
    mute_cursor: int = 0,
) -> tuple[set, set]:
    """(posts, accounts) the engine must hold after committing blocks
    [0, cursor), with the muting job last run when the cursor was
    ``mute_cursor`` (0: never). Posts are (author, permlink, year,
    month, upvoters, downvoters, muted); accounts are (name,
    last_active epoch µs, profile name, profile about)."""
    con = _connect()
    raw_ops = pa.table(  # noqa: F841 (scanned by name below)
        {
            "block_num": pa.array([r[0] for r in rows], pa.int64()),
            "ts": [r[1] for r in rows],
            "op_type": [r[2] for r in rows],
            "op": [r[3] for r in rows],
        }
    )
    con.execute(_OPS_SQL, {"cursor": cursor})
    posts = {
        (a, p, y, m, tuple(sorted(up)), tuple(sorted(down)), bool(mu))
        for a, p, y, m, up, down, mu in con.execute(
            _POSTS_SQL,
            {"community": COMMUNITY, "muted": muted, "mute_cursor": mute_cursor},
        ).fetchall()
    }
    accounts = set(con.execute(_ACCOUNTS_SQL).fetchall())
    con.close()
    return posts, accounts


def store_mismatches(store_dir: str, expected: tuple[set, set]) -> list[str]:
    """Differences between the parquet store at ``store_dir`` and
    ``expected`` (empty when they agree)."""
    want_posts, want_accounts = expected
    con = _connect()
    posts = os.path.join(store_dir, "posts", "*", "*", "*.parquet")
    index = os.path.join(store_dir, "posts_index", "*", "*.parquet")
    accounts = os.path.join(store_dir, "accounts", "*", "*.parquet")
    got_rows = con.execute(
        "SELECT author, permlink, year, month, upvotes, downvotes,"
        " coalesce(muted_in_community, false), post_id"
        f" FROM read_parquet('{posts}', hive_partitioning = true)"
    ).fetchall()
    problems: list[str] = []
    got_posts = {
        (a, p, y, m, tuple(sorted(up or [])), tuple(sorted(down or [])), mu)
        for a, p, y, m, up, down, mu, _ in got_rows
    }
    if len(got_posts) != len(got_rows):
        problems.append(f"posts: {len(got_rows) - len(got_posts)} duplicate rows")
    _diff("posts", got_posts, want_posts, problems)
    bad_ids = sum(1 for a, p, *_, pid in got_rows if pid != _spark_post_id(a, p))
    if bad_ids:
        problems.append(f"posts: {bad_ids} rows with a wrong post_id")
    got_index = set(con.execute(
        f"SELECT post_id, year, month FROM read_parquet('{index}', hive_partitioning = true)"
    ).fetchall())
    want_index = {(pid, y, m) for _a, _p, y, m, _up, _down, _mu, pid in got_rows}
    _diff("posts_index", got_index, want_index, problems)
    got_accounts = set(con.execute(
        "SELECT name, epoch_us(last_active), profile.name, profile.about"
        f" FROM read_parquet('{accounts}', hive_partitioning = true)"
    ).fetchall())
    _diff("accounts", got_accounts, want_accounts, problems)
    con.close()
    return problems


def _diff(what: str, got: set, want: set, problems: list[str]) -> None:
    missing, extra = want - got, got - want
    if missing or extra:
        sample = sorted(map(repr, missing))[:1] + sorted(map(repr, extra))[:1]
        problems.append(f"{what}: {len(missing)} missing, {len(extra)} unexpected; e.g. {sample}")


def _load_oracle_check(root: str):
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryChecker:
    """Registry DuckDB oracles over a table directory, compared with
    the canonicalization of ``tools/oracle_check.py``."""

    def __init__(self, root: str, sf_dir: str, oracles: dict[str, str]):
        self._oc = _load_oracle_check(root)
        self._oracles = oracles
        self._con = _connect()
        for t in self._oc.TABLE_NAMES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'"
            )
        self._want: dict[str, list[str]] = {}

    def canon(self, columns: list[str], rows: list[tuple]) -> list[str]:
        return self._oc._canon(pd.DataFrame(rows, columns=columns))

    def expected(self, name: str) -> list[str]:
        if name not in self._want:
            res = self._con.execute(self._oracles[name])
            cols = [d[0] for d in res.description]
            self._want[name] = self._oc._canon(pd.DataFrame(res.fetchall(), columns=cols))
        return self._want[name]

    def close(self) -> None:
        self._con.close()

"""Static type audit of every DuckDB oracle: no HUGEINT may reach an
output column.

DuckDB widens integer SUM (and SUM-backed aggregates like count_if)
to HUGEINT, and HUGEINT reaches pandas as float64 while the matching
Spark column stays int64 — the exact mechanism behind all 7 round-4
driver-red rows. The fix convention is CAST(... AS BIGINT) at the
oracle boundary (or sketches.ratio_micros_sql, which embeds it); this
test makes the convention structural: DESCRIBE plans every oracle
(no execution, so the whole registry audits in seconds) and fails on
any HUGEINT output column, naming the query and column.
"""

import duckdb
import pytest

from chain_sync_spark.registry import all_oracles
from chain_sync_spark.tables import TABLE_NAMES

SF = "/root/testdata/sf0.001"

# types whose pandas rendering diverges from the Spark-side dtype
_FORBIDDEN = {"HUGEINT", "UHUGEINT", "UBIGINT"}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLE_NAMES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def test_no_oracle_outputs_hugeint(con):
    offenders = []
    for name, sql in all_oracles().items():
        for row in con.execute(f"DESCRIBE {sql}").fetchall():
            col, typ = row[0], row[1]
            base = typ.split("(")[0].strip().upper()
            if base in _FORBIDDEN:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle output columns with pandas-divergent integer types "
        f"(CAST them to BIGINT): {offenders}"
    )



def test_no_pending_oracle_outputs_hugeint(con):
    """Oracles outside the registry (the pending_queries() shim and the
    two unregistered query/oracle pairs) obey the same boundary
    convention before they are ever registered."""
    from chain_sync_spark.operators.sync_queries import (
        _MD_BLOCKS_ORACLE,
        _MUTINGS_DIGEST_ORACLE,
    )
    from chain_sync_spark.registry import pending_queries

    pending = {
        **pending_queries()[1],
        "markdown_lists_blocks": _MD_BLOCKS_ORACLE,
        "sync_mutings_digest": _MUTINGS_DIGEST_ORACLE,
    }
    offenders = []
    for name, sql in pending.items():
        for row in con.execute(f"DESCRIBE {sql}").fetchall():
            col, typ = row[0], row[1]
            base = typ.split("(")[0].strip().upper()
            if base in _FORBIDDEN:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "unregistered oracle output columns with pandas-divergent integer "
        f"types (CAST them to BIGINT): {offenders}"
    )

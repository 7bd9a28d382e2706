"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB
over the same sf dir, then compares row count, column names, and an
order-insensitive value representation. Usage:

    python tools/oracle_check.py [sf_dir] [query_name ...]

Driver emulation (round-5 hardening)
------------------------------------
Round 4 proved the single-path emulator insufficient: 7 queries were
locally green yet driver-red, all with oracles whose output columns
came from DuckDB integer ``SUM``s / ``count_if`` — which return
HUGEINT, and HUGEINT reaches pandas as float64 through ``.df()``
("123.0") while ``fetchall()`` yields Python ints ("123").  The old
checker compared only the object path (Spark ``collect()`` vs DuckDB
``fetchall()``), which is symmetric and hid the divergence; the
driver evidently compares through dataframes.

This version therefore canonicalizes BOTH transports and requires
BOTH pairs to match:

  pair A (object path): Spark ``collect()``   vs DuckDB ``fetchall()``
  pair B (pandas path): Spark ``toPandas()``  vs DuckDB ``.df()``

A query green under both pairs is robust to either driver
implementation and to the dtype-coercion differences between engine
versions (the round-4 failure class fails pair B here first).  The
round-4 lesson stands alongside round 3's: complex top-level columns
(array/map/struct) are rejected up-front, because the driver's pandas
``sort_values`` canonicalization raises on list values.

Engine versions are printed up-front so a future local-green /
driver-red divergence is diagnosable against the recorded artifact
instead of hypothesized after the fact (VERDICT r4 item 6).
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from chain_sync_spark.registry import all_oracles, all_queries  # noqa: E402
from chain_sync_spark.session import get_spark  # noqa: E402
from chain_sync_spark.tables import TABLE_NAMES  # noqa: E402


def engine_versions() -> dict[str, str]:
    """Versions of every engine a hash can depend on — embedded in
    bench output and printed by this checker so artifacts record the
    environment they were produced under."""
    import pyarrow
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pandas": pd.__version__,
        "numpy": np.__version__,
        "pyarrow": pyarrow.__version__,
        "python": ".".join(map(str, sys.version_info[:3])),
    }


def _norm(v):
    """Render one scalar to the cross-engine comparison string.

    Deliberately REJECTS containers: by the time _norm runs, the frame
    has already been through pandas sort_values (which would have raised
    on lists), and any container that slipped through (e.g. a dict from
    a map column — dicts don't break sort_values on single-row frames)
    must still fail loudly rather than compare by repr.
    """
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise TypeError(
            f"container value in query output ({type(v).__name__}); "
            "serialize with array_join/to_json in the query + oracle"
        )
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        # DuckDB surfaces DATE as midnight datetimes in pandas while
        # Spark keeps datetime.date — render midnight as the bare date
        # so the two agree (a true midnight timestamp collapses on both
        # sides identically, so the comparison stays symmetric)
        if ts.tzinfo is None and ts == ts.normalize():
            return ts.date().isoformat()
        return ts.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def _canon(pdf: pd.DataFrame) -> list[str]:
    """Driver-faithful canonicalization: sort columns by name, then
    row-sort via pandas sort_values (raises TypeError on list columns,
    matching the driver), then render each row with _norm."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    out = ["|".join(_norm(v) for v in row) for row in pdf.itertuples(index=False)]
    # row order after sort_values is dtype-sensitive across engines
    # (e.g. int64 vs float64 NULL handling); the final sorted() makes the
    # comparison order-insensitive while keeping the driver's failure mode
    return sorted(out)


_COMPLEX_TYPES = ("array", "map", "struct")


def _complex_cols(sdf) -> list[str]:
    return [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in _COMPLEX_TYPES
    ]


def _first_diff(sc: list[str], dc: list[str]) -> str:
    diff = next((i for i, (a, b) in enumerate(zip(sc, dc)) if a != b), None)
    if diff is None:
        return "row-set size differs"
    return f"first diff row {diff}:\n  spark: {sc[diff]}\n  duck : {dc[diff]}"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    print("engine versions:", engine_versions())
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = all_queries(), all_oracles()
    failures = []
    n_run = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            sdf = fn(spark, sf_dir)
            bad = _complex_cols(sdf)
            if bad:
                raise TypeError(
                    f"complex top-level columns {bad} — the driver canon "
                    "cannot sort these; serialize via array_join/to_json"
                )
            # pair A frame: collected tuples with python-object inference
            # (symmetric with DuckDB fetchall); pair B frame: toPandas()
            # (arrow dtype coercion — symmetric with DuckDB .df()).
            # persist() so the plan executes once for both transports.
            sdf = sdf.persist()
            srows = [tuple(r) for r in sdf.collect()]
            spdf_obj = pd.DataFrame(srows, columns=sdf.columns)
            spdf_pd = sdf.toPandas()
            sdf.unpersist()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(spdf_obj)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            dpdf_obj = pd.DataFrame(res.fetchall(), columns=dcols)
            dpdf_pd = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        status = []
        if len(spdf_obj) != len(dpdf_obj):
            status.append(f"rowcount spark={len(spdf_obj)} duck={len(dpdf_obj)}")
        if sorted(spdf_obj.columns) != sorted(dpdf_obj.columns):
            status.append(
                f"cols spark={sorted(spdf_obj.columns)} "
                f"duck={sorted(dpdf_obj.columns)}"
            )
        if not status:
            for label, sp, dp in (
                ("object-path", spdf_obj, dpdf_obj),
                ("pandas-path", spdf_pd, dpdf_pd),
            ):
                try:
                    sc, dc = _canon(sp), _canon(dp)
                except TypeError as e:
                    status.append(f"{label} canon error (driver would red-row): {e}")
                    continue
                if sc != dc:
                    status.append(f"{label} values differ; " + _first_diff(sc, dc))
        if status:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(status))
        else:
            print(f"ok {name}: {len(spdf_obj)} rows")
    print(f"\n{n_run - len(failures)}/{n_run} pass")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Plan audit sweep: one summary line per registry query — shuffle
(Exchange) count, broadcast joins, sort-merge joins, parquet scans,
and whether any CartesianProduct sneaked in. The human form of
tests/test_plan_sweep.py, for plan-regression review while tuning
(SURVEY §4 "explain and iterate").

Usage: python tools/explain_all.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from chain_sync_spark.operators.llm_pipeline import release_caches  # noqa: E402
from chain_sync_spark.plans.audit import executed_plan  # noqa: E402
from chain_sync_spark.registry import all_queries  # noqa: E402
from chain_sync_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("explain-all", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in all_queries().items():
        if only and name not in only:
            continue
        try:
            plan = executed_plan(fn(spark, sf_dir))
        except Exception as exc:  # surface, keep sweeping
            rows.append((name, f"ERROR {type(exc).__name__}: {exc}"))
            continue
        # NOTE: a cached relation (InMemoryTableScan) prints its full
        # child lineage inside the plan string, so exchange/scan counts
        # OVERSTATE what executes for queries built on persisted
        # intermediates (the CC-loop family) — imts > 0 marks those.
        summary = (
            f"exchanges={plan.count('Exchange'):3d} "
            f"bhj={plan.count('BroadcastHashJoin'):3d} "
            f"smj={plan.count('SortMergeJoin'):2d} "
            f"scans={plan.count('FileScan parquet'):3d} "
            f"imts={plan.count('InMemoryTableScan'):2d}"
        )
        if "CartesianProduct" in plan:
            summary += "  !! CARTESIAN"
        rows.append((name, summary))
    release_caches()
    width = max(len(n) for n, _ in rows)
    for name, summary in rows:
        print(f"{name:<{width}}  {summary}")
    bad = [n for n, s in rows if "CARTESIAN" in s or s.startswith("ERROR")]
    print(f"\n{len(rows)} plans; {len(bad)} flagged" + (f": {bad}" if bad else ""))
    spark.stop()


if __name__ == "__main__":
    main()

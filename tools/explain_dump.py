"""Dump `.explain("formatted")` for named queries to files — the
before/after plan evidence the optimization rounds commit under
plans/r<N>/ (judge-checkable without running Spark).

Usage: python tools/explain_dump.py <out_dir> <suffix> <query> [...]
e.g.   python tools/explain_dump.py plans/r13 before neardup_minhash_bands
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from chain_sync_spark.operators.llm_pipeline import release_caches  # noqa: E402
from chain_sync_spark.registry import all_queries  # noqa: E402
from chain_sync_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    out_dir, suffix, names = Path(sys.argv[1]), sys.argv[2], sys.argv[3:]
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for name in names:
        df = queries[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = out_dir / f"{name}_{suffix}.txt"
        path.write_text(plan)
        print(f"{path}  ({plan.count('Exchange')} Exchange)")
    release_caches()
    spark.stop()


if __name__ == "__main__":
    main()

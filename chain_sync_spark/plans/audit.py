"""Physical-plan audit helpers (SURVEY §4: "explain and iterate").

Small assertions over the executed plan used by tests and by humans
tuning queries: did the filter reach the scan, did the dim join
broadcast, how many exchanges does the plan pay. These inspect
`queryExecution.executedPlan` — i.e. what will actually run,
post-AQE-planning, not the unresolved logical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan's PushedFilters contains `fragment`."""
    plan = executed_plan(df)
    return any(
        "PushedFilters" in line and fragment in line for line in plan.splitlines()
    )


def broadcasts(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastHashJoin")


def exchanges(df: DataFrame) -> int:
    """Shuffle count — the number every scale review starts from."""
    return executed_plan(df).count("Exchange")


def formatted_plan(df: DataFrame) -> str:
    """`.explain("formatted")` as a string — numbered operator list
    plus per-node detail blocks (the representation the duplicate-
    subtree detector parses)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# Expensive-work markers: a detail string is "expensive" when it is
# long AND mentions per-row generation / array folds / regex work —
# the classes whose silent duplication across plan nodes cost real
# corpus passes in rounds 11-13 (signed-minhash fold x2, prefix chain
# x2, winnow gram chain x3, LSH bucket x2).
_EXPENSIVE_MARKERS = (
    "aggregate(",
    "transform(",
    "posexplode",
    "explode",
    "regexp_replace",
)
_MIN_DETAIL_LEN = 160


def duplicate_expensive_details(formatted: str) -> dict[str, int]:
    """Expr-id-normalized expensive detail strings appearing at MORE
    than one plan node of a formatted plan -> occurrence count.

    The r13-continuation sweep, packaged (VERDICT r13 item 8): every
    detail block line longer than {_MIN_DETAIL_LEN} chars carrying an
    expensive marker is normalized (#NNN expr ids and plan_id dropped)
    and counted across nodes; >1 means the optimizer planned the same
    expensive expression tree at two places — either a documented
    recompute trade or a regression of the round-13 class."""
    import re

    counts: dict[str, int] = {}
    seen_node: set[tuple[str, int]] = set()
    node = 0
    for line in formatted.splitlines():
        m = re.match(r"^\((\d+)\) ", line)
        if m:
            node = int(m.group(1))
            continue
        detail = line.strip()
        if len(detail) < _MIN_DETAIL_LEN:
            continue
        if not any(k in detail for k in _EXPENSIVE_MARKERS):
            continue
        norm = re.sub(r"#\d+[L]?", "#N", detail)
        norm = re.sub(r"plan_id=\d+", "plan_id=N", norm)
        key = (norm, node)
        if key in seen_node:
            continue  # same node repeats its detail (Input/Arguments)
        seen_node.add(key)
        counts[norm] = counts.get(norm, 0) + 1
    return {k: c for k, c in counts.items() if c > 1}

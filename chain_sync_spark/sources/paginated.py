"""Paginated REST source (reference S8, handle_mutings.js:5-24).

The reference pages `bridge.list_community_roles` 100 rows at a time,
cursor = the last account of the previous page, until an empty page.
Pagination is an ingest-side loop, not a Spark operator: this module
drains an injected page-fetch function into one snapshot DataFrame,
which then joins like any other relation (sync/mutings.py).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from chain_sync_spark.sources.frames import driver_frame

ROLES_SCHEMA = "account string, role string"


def fetch_all_pages(
    fetch_page: Callable[[str], Sequence[tuple]],
    first_cursor: str = "",
    cursor_index: int = 0,
    max_pages: int = 10_000,
) -> list[tuple]:
    """Drain a cursor-paginated source: call `fetch_page(cursor)`
    until it returns an empty page; the next cursor is the last row's
    `cursor_index` field (the reference's `last` account). `max_pages`
    guards against a source that never drains (the reference would
    loop forever)."""
    rows: list[tuple] = []
    cursor = first_cursor
    for _ in range(max_pages):
        page = list(fetch_page(cursor))
        if not page:
            return rows
        rows.extend(page)
        cursor = page[-1][cursor_index]
    raise RuntimeError(f"paginated source did not drain in {max_pages} pages")


def roles_snapshot(
    spark: SparkSession, fetch_page: Callable[[str], Sequence[tuple]]
) -> DataFrame:
    """Community-roles snapshot as a JVM-resident DataFrame (account,
    role), ready for sync.mutings.apply_community_mutings."""
    return driver_frame(spark, fetch_all_pages(fetch_page), ROLES_SCHEMA)

"""Physical-plan inspection helpers."""

from chain_sync_spark.plans.audit import (  # noqa: F401
    broadcasts,
    exchanges,
    executed_plan,
    has_pushed_filter,
)

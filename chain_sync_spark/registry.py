"""The query registry: every operator module's ``QUERIES`` (name ->
``fn(spark, sf_dir) -> DataFrame``) and ``ORACLE`` (name -> DuckDB SQL
over the same tables) dicts, merged into one flat dict each.

A query without an oracle is rows-only; ``tests/test_registry.py``
pins which ones are.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

_MODULES = [
    "chain_sync_spark.operators.llm_pipeline",
    "chain_sync_spark.operators.temporal",
    "chain_sync_spark.operators.scalars",
    "chain_sync_spark.operators.sync_queries",
    "chain_sync_spark.operators.relational",
    "chain_sync_spark.operators.pipeline_extras",
    "chain_sync_spark.operators.tpch",
    "chain_sync_spark.operators.corpus_ops",
]


def _merged(attr: str) -> dict:
    out: dict = {}
    for mod in map(import_module, _MODULES):
        for name, value in getattr(mod, attr).items():
            if name in out:
                raise ValueError(f"duplicate {attr} name: {name}")
            out[name] = value
    return out


def all_queries() -> dict[str, Query]:
    return _merged("QUERIES")


def all_oracles() -> dict[str, str]:
    return _merged("ORACLE")


def pending_queries() -> tuple[dict[str, Query], dict[str, str]]:
    # Kept only because perfbench/workloads.py imports it; nothing is
    # staged any more. Remove with the next change to perfbench/.
    return {}, {}

"""The registry is the flat merge of every operator module's QUERIES and
ORACLE dicts. Oracle parity over the whole registry is the slow
``tests/test_staged.py::test_registry_oracle_parity_dual_transport``.
"""

import importlib.util
import sys
import types
from importlib import import_module
from pathlib import Path

import pytest

from chain_sync_spark import registry
from chain_sync_spark.registry import all_oracles, all_queries, pending_queries

_ROOT = Path(__file__).resolve().parent.parent


def _per_module(attr):
    return [(name, value) for m in registry._MODULES
            for name, value in getattr(import_module(m), attr).items()]


def test_window_is_exactly_full_and_unique():
    """The merged registry is the whole window every tool runs: each
    module's QUERIES and ORACLE entries land in it exactly once."""
    for attr, merged in (("QUERIES", all_queries()), ("ORACLE", all_oracles())):
        names = [n for n, _ in _per_module(attr)]
        assert len(names) == len(set(names)) == len(merged), attr
        assert set(names) == set(merged), attr


def test_window_names_resolve_and_lead_iteration():
    """Every name resolves to its own module's function, and iteration
    follows _MODULES order: the first module's names lead."""
    per_module = _per_module("QUERIES")
    assert list(all_queries().items()) == per_module


def test_bench_headline_names_resolve():
    """Every query perfbench's query_mix runs is registered with an
    oracle; a renamed query would otherwise fail the benchmark run."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_metrics", _ROOT / "perfbench" / "metrics.py"
    )
    metrics = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(metrics)
    missing = [n for n in metrics.QUERIES
               if n not in all_queries() or n not in all_oracles()]
    assert not missing, f"perfbench query names not resolvable: {missing}"


def test_window_and_staged_sets_are_disjoint():
    """perfbench merges pending_queries() over the registry; the shim
    stages nothing, so the merge leaves the registry as it is."""
    staged_q, staged_o = pending_queries()
    assert (staged_q, staged_o) == ({}, {})
    assert {**all_queries(), **staged_q} == all_queries()
    assert {**all_oracles(), **staged_o} == all_oracles()


def test_every_query_has_oracle_or_is_documented_rows_only():
    oracles = all_oracles()
    rows_only = {n for n in all_queries() if n not in oracles}
    assert rows_only == {"sync_markdown_parse"}, (
        f"unexpected rows-only queries: {rows_only}"
    )
    assert set(oracles) <= set(all_queries()), "oracle without a query"


def test_duplicate_name_across_modules_raises(monkeypatch):
    fake = types.ModuleType("fake_ops")
    fake.QUERIES = {"tpch_q1_pricing_summary": None}
    fake.ORACLE = {}
    monkeypatch.setitem(sys.modules, "fake_ops", fake)
    monkeypatch.setattr(registry, "_MODULES", [*registry._MODULES, "fake_ops"])
    with pytest.raises(ValueError, match="tpch_q1_pricing_summary"):
        all_queries()

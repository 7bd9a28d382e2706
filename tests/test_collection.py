"""Every test module imports cleanly: a module that fails to collect
drops all of its tests from the run without failing any of them. And
the package defines nothing that only tests reach."""

import ast
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_suite_collects_without_errors():
    res = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", "tests/"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stdout[-3000:] + res.stderr[-3000:]


# Top-level definitions under chain_sync_spark/ that nothing but tests
# reaches, each kept on purpose. Keys are module.name; each reason says
# why it stays. A kept definition is a root: what it uses is reached.
KEPT = {
    "chain_sync_spark.functions.multimodal.MEDIA_SCHEMA":
        "media-table schema the decoder tests build their frames with",
    "chain_sync_spark.functions.multimodal._encode_bmp":
        "BMP fixture encoder for the decoder round-trip tests",
    "chain_sync_spark.functions.multimodal._encode_gif":
        "GIF fixture encoder for the decoder round-trip tests",
    "chain_sync_spark.functions.multimodal._encode_png":
        "PNG fixture encoder for the decoder round-trip tests",
    "chain_sync_spark.functions.multimodal._png_chunk":
        "PNG chunk writer the hand-built PNG fixtures use",
    "chain_sync_spark.operators.corpus_ops.bpe_train":
        "trains the merges the frozen-encoder tests consume",
    "chain_sync_spark.operators.corpus_ops._sym_pair_counts":
        "pair counter the BPE replica tests compare against",
    "chain_sync_spark.operators.incremental.hist_bin_value":
        "serving-side reference for the histogram-sketch tests",
    "chain_sync_spark.operators.incremental.quantile_from_hist":
        "serving-side reference for quantile_sketch_orders",
    "chain_sync_spark.operators.llm_pipeline.kmeans_centroids":
        "float k-means reference for kmeans_centroids_fixedpoint",
    "chain_sync_spark.operators.llm_pipeline.escape_scope":
        "external-caller cache API documented in DEPLOY.md",
    "chain_sync_spark.operators.llm_pipeline.release_escaped":
        "external-caller cache API documented in DEPLOY.md",
    "chain_sync_spark.plans.audit.has_pushed_filter":
        "plan-audit helper for the plan tests",
    "chain_sync_spark.plans.audit.broadcasts":
        "plan-audit helper for the plan tests",
    "chain_sync_spark.plans.audit.formatted_plan":
        "plan-audit helper for the duplicate-work detector tests",
    "chain_sync_spark.plans.audit.duplicate_expensive_details":
        "plan-audit helper for the duplicate-work detector tests",
    "chain_sync_spark.sources.paginated.fetch_all_pages":
        "sources API: paginated RPC reader for deployments",
    "chain_sync_spark.sources.paginated.roles_snapshot":
        "sources API: community-roles snapshot for the muting job",
    "chain_sync_spark.sources.rpc.http_transport":
        "sources API: the HTTP transport a deployment passes to NodePool",
    "chain_sync_spark.sources.rpc.json_rpc_call":
        "sources API: one JSON-RPC request over a transport",
}

# What the system runs: the registry's dicts, the sync engine and the
# CLI inside the package, and every file outside it that is not a test.
_ROOT_NAMES = {"QUERIES", "ORACLE", "SyncEngine", "main"}
_ROOT_FILES = ["__spark_entry__.py", "perfbench/*.py", "tools/*.py"]


def _names_used(node) -> set[str]:
    """Every name a node could reach: bare names, attribute names, and
    identifier-shaped strings (getattr, patch-by-name). Any same-named
    reference counts, wherever it points."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _package_definitions() -> tuple[dict[str, list], set[str]]:
    """(name -> [(module, node)]) for every top-level def, class and
    assignment under chain_sync_spark/, and the names that module-level
    statements use when imported (imports and docstrings excluded)."""
    defs: dict[str, list] = {}
    used_at_import: set[str] = set()
    for path in sorted((ROOT / "chain_sync_spark").rglob("*.py")):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)) or (
                isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            ):
                continue
            else:
                used_at_import |= _names_used(stmt)
                continue
            for name in names:
                if not (name.startswith("__") and name.endswith("__")):
                    defs.setdefault(name, []).append((module, stmt))
    return defs, used_at_import


def _reached(defs: dict[str, list], roots: set[str]) -> set[str]:
    seen: set[str] = set()
    stack = list(roots)
    while stack:
        name = stack.pop()
        if name not in seen:
            seen.add(name)
            for _module, node in defs.get(name, []):
                stack.extend(_names_used(node) - seen)
    return seen


def test_package_defines_nothing_only_tests_reach():
    """Every top-level definition under chain_sync_spark/ is reached
    from what the system runs, or is in KEPT with its reason. Code that
    only tests reach goes, with those tests."""
    defs, used_at_import = _package_definitions()
    roots = set(_ROOT_NAMES) | used_at_import
    for pattern in _ROOT_FILES:
        for path in sorted(ROOT.glob(pattern)):
            if not path.name.startswith("test_"):
                roots |= _names_used(ast.parse(path.read_text()))
    reached = _reached(defs, roots | {k.rsplit(".", 1)[1] for k in KEPT})
    unreached = sorted(
        f"{module}.{name}"
        for name, found in defs.items() if name not in reached
        for module, _node in found
    )
    assert not unreached, (
        "defined under chain_sync_spark/ but reached only by tests; delete "
        f"them with their tests, or add each to KEPT with a reason: {unreached}"
    )
    defined = {f"{m}.{name}" for name, found in defs.items() for m, _node in found}
    without_kept = _reached(defs, roots)
    stale = sorted(k for k in KEPT if k not in defined or k.rsplit(".", 1)[1] in without_kept)
    assert not stale, f"KEPT entries that are gone or reached anyway: {stale}"

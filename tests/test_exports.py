"""Every name a subpackage lists in ``__all__`` must import from it, and
every function and class the package defines must be reached, by name,
from a non-test entry point."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

PACKAGES = ["functions", "operators", "plans", "sources", "streaming"]

ROOT = Path(__file__).resolve().parents[1]
PKG = "htm_streamer_spark"
ENTRY_GLOBS = [
    "__spark_entry__.py",
    f"{PKG}/cli.py",
    "bench*.py",
    "perfbench/*.py",
    "tools/*.py",
]
# test references and data generators: neither checked nor counted as
# callers
EXEMPT_DIRS = [ROOT / PKG / "fixtures"]
# names kept without a non-test caller, each for the reason given; their
# bodies count as reached, so helpers only they call need no entry here
UNREACHED_ON_PURPOSE = {
    "featurize": "native per-row features the fused flagship kernel is tested against",
    "row_check_flags": "native row-check flags the fused flagship kernel is tested against",
    "ntok_histogram": "native n_tok histogram the fused flagship kernel is tested against",
    "token_bucket_expr": "native token-bucket expression the fused flagship kernel is tested against",
    "anomaly_likelihood_exact": "sequential-parity reference the windowed likelihood operator is tested against",
    "with_observed_metrics": "zero-job run counters, to be attached to the flagship's token pass (ROADMAP D)",
    "MetricsRepository": "store for the engine's own run accounting (ROADMAP D)",
    "read_records": "ingest reader, composed end to end by test_pipeline_e2e",
    "streaming_dedup": "ingest dedup, composed end to end by test_pipeline_e2e",
    "audit_spec": "write-audit-publish gate, composed end to end by test_pipeline_e2e",
    "write_audit_publish": "write-audit-publish gate, composed end to end by test_pipeline_e2e",
    "IcebergCatalog": "ManifestCatalog's binding to the paper's table format; needs the Iceberg runtime jar",
}


@pytest.mark.parametrize("pkg", PACKAGES)
def test_all_names_import(pkg):
    mod = importlib.import_module(f"htm_streamer_spark.{pkg}")
    assert mod.__all__
    missing = [n for n in mod.__all__ if not hasattr(mod, n)]
    assert not missing, missing


def _used_names(node: ast.AST) -> set[str]:
    """Names ``node`` reads: bare names and attribute names. Imports are
    not uses, so a package ``__init__`` re-export reaches nothing."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_all(node: ast.stmt) -> bool:
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def _reached(roots: set[str], defs: dict[str, list[tuple[str, ast.AST]]]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs.get(name, []):
            todo.extend(_used_names(node) - seen)
    return seen


def test_every_package_name_has_a_non_test_caller():
    """Top-level functions and classes of the package, matched by name:
    a name is reached when an entry point, a reached definition's body
    or a module's import-time statements read it. Matching by name
    rather than by resolved module errs towards reach: a dead
    definition that shares its name with a live one goes unreported."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted((ROOT / PKG).rglob("*.py")):
        if any(d in path.parents for d in EXEMPT_DIRS):
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                loc = f"{path.relative_to(ROOT)}:{node.lineno}"
                defs.setdefault(node.name, []).append((loc, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)) and not _is_all(node):
                roots |= _used_names(node)
    for g in ENTRY_GLOBS:
        for path in ROOT.glob(g):
            roots |= _used_names(ast.parse(path.read_text()))

    reached = _reached(roots | set(UNREACHED_ON_PURPOSE), defs)
    dead = sorted(f"{loc} {name}" for name in defs.keys() - reached for loc, _ in defs[name])
    assert not dead, "definitions no entry point reaches:\n" + "\n".join(dead)
    stale = sorted(set(UNREACHED_ON_PURPOSE) - defs.keys())
    stale += sorted(set(UNREACHED_ON_PURPOSE) & _reached(roots, defs))
    assert not stale, f"allowlisted names now missing or reached: {stale}"

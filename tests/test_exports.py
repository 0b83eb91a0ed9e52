"""Every name a subpackage lists in ``__all__`` must import from it, and
every module of the package must be reached from a non-test entry point."""

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
    "bench.py",
    "bench_extra.py",
    "perfbench/*.py",
    "tools/*.py",
]
# modules kept without a non-test importer, each for the reason given
UNREACHED_ON_PURPOSE = {
    f"{PKG}.sources.wap": "write-audit-publish, composed end to end by test_pipeline_e2e",
    f"{PKG}.operators.observe": "zero-job run counters, to be attached to the flagship's token pass (ROADMAP D)",
    f"{PKG}.fixtures.likelihood_oracle": "sequential reference the likelihood operators are tested against",
    f"{PKG}.operators.schema_drift": "full landing-schema diff; to be wired beside validate_input_schema or deleted (ROADMAP C)",
    f"{PKG}.sources.layout": "Hive partition-pruning writer and probe; to be wired into a sink or deleted (ROADMAP C)",
    f"{PKG}.sources.zorder": "Z-order writer and footer-pruning probe; to be wired into a sink or deleted (ROADMAP C)",
}


@pytest.mark.parametrize("pkg", PACKAGES)
def test_all_names_import(pkg):
    mod = importlib.import_module(f"htm_streamer_spark.{pkg}")
    assert mod.__all__
    missing = [n for n in mod.__all__ if not hasattr(mod, n)]
    assert not missing, missing


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports anywhere in its body (function-local
    imports included), with every enclosing package ``__init__``."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    targets = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                mod = f"{base}.{mod}" if mod else base
            targets.add(mod)
            targets.update(f"{mod}.{a.name}" for a in node.names)
    reached = set()
    for t in targets:
        parts = t.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                reached.add(prefix)
    return reached


def test_every_module_has_a_non_test_caller():
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    entries = sorted(p for g in ENTRY_GLOBS for p in ROOT.glob(g))
    seen = {_module_name(p) for p in entries}
    todo = [m for p in entries for m in _imports(p, modules)]
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imports(modules[mod], modules))
    unreached = sorted(set(modules) - seen - set(UNREACHED_ON_PURPOSE))
    assert not unreached, f"modules no entry point reaches: {unreached}"
    stale = sorted(set(UNREACHED_ON_PURPOSE) & seen)
    assert not stale, f"allowlisted modules now reached: {stale}"

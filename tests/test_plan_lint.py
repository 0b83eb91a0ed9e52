"""Global physical-plan lint over EVERY driver query.

test_plans.py asserts per-operator plan details; this sweep pins the
repo-wide invariants that must hold for any query we ship:

- no CartesianProduct, ever (a missed join key at 100 TB);
- no BatchEvalPython, ever (row-at-a-time Python in the hot path);
- Arrow/Pandas stages only in the queries that declare a vectorized
  kernel (the ANN / multimodal / validation families);
- source-scan count bounded (plan explosion guard: a query reading
  the same table k times re-pays the scan k times at scale);
- no ``regexp_replace`` with a negated-class pattern (``[^...]``), ever
  (java.util.regex attempts a match at every kept character; extract
  the allowed runs and join them instead, see dedup.keep_chars).

The rules read explained plans only, but the ``all_plans`` fixture
first builds every query in ``queries()``, and building runs the
builders' eager ``localCheckpoint`` / ``collect`` / ``count`` jobs: the
sweep costs minutes of Spark work, whichever rules are selected.
"""

from __future__ import annotations

import importlib.util
import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"

# queries whose plan legitimately contains vectorized (Arrow/Pandas)
# stages — each has a declared mapInArrow/applyInPandas kernel
ARROW_OK = {
    "compress_ratio_docs",
    "compress_profile_docs",
    "contaminated_bloom_docs",  # map-side Bloom bit-lookup gate (mapInArrow)
    "heavy_words_docs",
    "ivf_topk_embeddings",
    "kmeans_embeddings",
    "lsh_topk_wide_embeddings",
    "multimodal_features",
    "pq_topk_embeddings",
    "semdedup_embeddings",
    "simhash_docs",
    "simhash_pairs_docs",
    "validation_verdicts",
    "validation_verdicts_drift",
}

# widest legitimate fan-in: the TPC-H Q8 shape reads seven distinct
# tables with nation twice (supplier's and customer's) = 8 scans
MAX_SCANS = 8


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_lint", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def all_plans(spark):
    sys.path.insert(0, str(REPO))
    mod = _entry_module()
    plans = {}
    for name, fn in mod.queries().items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            fn(spark, SF_DIR).explain("formatted")
        plans[name] = buf.getvalue()
    return plans


def test_no_cartesian_product(all_plans):
    bad = [n for n, p in all_plans.items() if "CartesianProduct" in p]
    assert not bad, f"cartesian product in: {bad}"


def test_no_row_at_a_time_python(all_plans):
    bad = [n for n, p in all_plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF in: {bad}"


def test_arrow_stages_only_where_declared(all_plans):
    markers = (
        "ArrowEvalPython",
        "MapInArrow",
        "FlatMapGroupsInPandas",
        "MapInPandas",
    )
    bad = [
        n
        for n, p in all_plans.items()
        if n not in ARROW_OK and any(m in p for m in markers)
    ]
    assert not bad, f"undeclared Python stage in: {bad}"


def test_scan_count_bounded(all_plans):
    bad = {
        n: len(re.findall(r"^\(\d+\) Scan parquet", p, re.M))
        for n, p in all_plans.items()
    }
    bad = {n: c for n, c in bad.items() if c > MAX_SCANS}
    assert not bad, f"scan explosion (> {MAX_SCANS} source scans): {bad}"


# Multi-table TPC-H join shapes read several DIFFERENT tables (allowed by
# MAX_SCANS above); re-reading the SAME table is the plan smell this rule
# pins — it caught the round-3 minhash 12-scan and the round-4 kmv 6-scan
# after the fact, so now it runs on every query before the driver does.
# Whitelist: per-table scan counts that are genuinely part of the shape.
SAME_TABLE_OK = {
    # TPC-H Q8: nation joined twice (supplier's and customer's nation) —
    # 2 scans of one table, below the bound; listed for documentation.
    #
    # ivm_counts_docs synthesizes its "new snapshot" FROM the documents
    # table (a fixture artifact — in production old/new snapshots are
    # two materialized tables, each read ≤2×, per the query docstring).
    # 3 of its 5 counted scans sit under persisted subtrees (new, diff)
    # whose build runs once; the formatted plan re-prints cached
    # children at every reference, so the textual count overstates the
    # executed count.
    "ivm_counts_docs": {"documents": 5},
}
MAX_SAME_TABLE_SCANS = 3


def test_same_table_scan_bounded(all_plans):
    from collections import Counter

    bad = {}
    for n, p in all_plans.items():
        tables = re.findall(r"InMemoryFileIndex(?:\(\d+ paths\))?\s*\[[^\]]*/(\w+)\.parquet", p)
        counts = Counter(tables)
        over = {t: c for t, c in counts.items() if c > MAX_SAME_TABLE_SCANS}
        allowed = SAME_TABLE_OK.get(n, {})
        over = {t: c for t, c in over.items() if c > allowed.get(t, MAX_SAME_TABLE_SCANS)}
        if over:
            bad[n] = over
    assert not bad, (
        f"same-table re-scan (> {MAX_SAME_TABLE_SCANS}x one source): {bad} — "
        "persist/localCheckpoint the shared subtree instead of re-deriving it"
    )


def _regexp_replace_patterns(plan: str) -> list[str]:
    """The pattern argument of every ``regexp_replace(subject, pattern,
    replacement, pos)`` printed in a plan: the text after the first
    comma outside parentheses."""
    out = []
    for m in re.finditer(r"regexp_replace\(", plan):
        depth, i = 0, m.end()
        while i < len(plan) and not (depth == 0 and plan.startswith(", ", i)):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[i + 2 : plan.find(", ", i + 2)])
    return out


def test_no_negated_class_regexp_replace(all_plans):
    bad = {
        n: sorted({pat for pat in _regexp_replace_patterns(p) if pat.startswith("[^")})
        for n, p in all_plans.items()
    }
    bad = {n: pats for n, pats in bad.items() if pats}
    assert not bad, (
        f"negated-class regexp_replace in: {bad} — extract the allowed "
        "runs with regexp_extract_all and array_join them instead"
    )

"""The workloads. Each ``unit`` is one closed-loop step: the next starts
only when the previous one has finished and been checked.

- ``validate_batch``: one ``run_validation_batch`` over the sequences
  table, forcing ``verdicts`` and ``violations``. Its traced run also
  sweeps the same table with ``ValidateIncremental`` for the
  ``incremental.*`` and ``table_io.*`` layers.
- ``operator_suite``: one pass over ``QUERIES`` from
  ``__spark_entry__.queries()``, each built and run to a noop sink. Its
  traced run also runs ``TRACE_QUERIES`` the same way.

``ValidateIncremental`` is one sweep of ``run_incremental`` (the CLI
``validate`` path) into a fresh ``ManifestCatalog`` until it returns
``noop``. It is not a timed workload of its own: its cold sweep costs
more set-up than the benchmark's time budget allows per run.
"""

from __future__ import annotations

import json
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

from perfbench import inputs

# Timed: a gram-hash shuffle join, an eager localCheckpoint of the
# candidates, then an unconditional broadcast into the confirm join. On
# 20,000 documents a warm pass is ~5.5 s of mostly executor work; on 500
# it was ~1.4 s of per-job latency whose median swung by a third between
# runs of the same code.
QUERIES = [
    "contaminated_ngram_docs",
]
# Measured in the traced run only, because their warm passes are long and
# unsteady on a shared 4-core host:
# - pagerank_embeddings builds with 84 eager jobs (one per iteration, so
#   the count does not follow the table size); its pass fell from 11 s to
#   4.5 s over eight passes of one process as the JIT warmed.
# - bootstrap_ci_events builds a 96-column aggregate that hits the janino
#   64 KB codegen fallback; its warm pass took 6 to 21 s across runs.
TRACE_QUERIES = [
    "pagerank_embeddings",
    "bootstrap_ci_events",
]

SCALES = {
    "bench": dict(
        seq=inputs.SeqShape(8, 1500, 100, max_partitions=4),
        ops=inputs.OpsShape(n_events=1000, n_docs=20000, n_embeddings=100),
    ),
    "tiny": dict(
        seq=inputs.SeqShape(6, 150, 10, max_partitions=4),
        ops=inputs.OpsShape(n_events=200, n_docs=60, n_embeddings=40),
    ),
}

VIOLATION_COLS = ["doc_id", "part_id", "check_id", "payload"]


@dataclass
class Unit:
    seconds: float
    ops: int
    failed: int
    problems: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)


class NullTracer:
    """Stands in for ``tracing.Tracer`` in untraced units."""

    unit = -1
    forcing = False

    def span(self, name: str):
        import contextlib

        return contextlib.nullcontext()


def release_caches(spark) -> int:
    """Clear the SQL cache, count the persistent RDDs it left behind (RDD
    persists and local checkpoints), then unpersist those too so the next
    unit starts clean. Returns the count."""
    spark.catalog.clearCache()
    left = spark.sparkContext._jsc.getPersistentRDDs()
    n = left.size()
    for rdd in list(left.values()):
        rdd.unpersist(True)
    return n


def _check_violations(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df[VIOLATION_COLS].astype({"part_id": "int64"})
        return df.sort_values(VIOLATION_COLS).reset_index(drop=True)

    a, b = canon(got), canon(want)
    if len(a) != len(b):
        return [f"violations: {len(a)} rows, oracle {len(b)}"]
    if not a.equals(b):
        return ["violations differ from the oracle"]
    return []


def _check_verdicts(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    keys = ["part_id", "verdict", "n_violations"]
    a = got.astype({"part_id": "int64", "n_violations": "int64"}).sort_values("part_id")
    b = want.astype({"part_id": "int64", "n_violations": "int64"}).sort_values("part_id")
    a, b = a.reset_index(drop=True), b.reset_index(drop=True)
    if not a[keys].equals(b[keys]):
        return ["verdicts differ from the oracle"]
    # psi / kl sum in another order than the oracle's numpy fold
    if ((a["psi"] - b["psi"]).abs().max() > 1e-9) or ((a["kl"] - b["kl"]).abs().max() > 1e-9):
        return ["drift scores differ from the oracle"]
    return []


class ValidateBatch:
    name = "validate_batch"
    isolate = True
    # a unit still speeds up by ~10% from the second to the third
    warmup_units = 2
    unit_s = 7.0  # nominal time of a warm unit; sets the timed unit count

    def __init__(self, scale: str):
        self.shape = SCALES[scale]["seq"]
        self.companion = ValidateIncremental(scale)

    def prepare(self, cache: Path, seed: int, out: Path) -> None:
        self.inp = inputs.sequences(cache, self.shape, seed)
        self.items = self.inp.n_rows

    def unit(self, spark, tr, isolate: bool = False) -> Unit:
        from htm_streamer_spark import plans
        from htm_streamer_spark.config import EngineConfig

        t0 = time.perf_counter()
        res = plans.run_validation_batch(
            spark, plans.load_sequences(spark, self.inp.table), EngineConfig()
        )
        if isolate:
            with tr.span("plan.verdict"):
                res.verdicts.collect()
        with tr.span("plan.final"):
            verdicts = res.verdicts.toPandas()
            violations = res.violations.toPandas()
        dt = time.perf_counter() - t0
        problems = _check_verdicts(verdicts, self.inp.verdicts)
        problems += _check_violations(violations, self.inp.violations)
        return Unit(dt, 1, int(bool(problems)), problems,
                    {"leaked_rdds": release_caches(spark)})

    def report(self, units: list[Unit]) -> dict:
        med = statistics.median(u.seconds for u in units)
        return {"validated_seqs_per_sec": (self.items / med, "1/s")}


class ValidateIncremental:
    name = "validate_incremental"
    isolate = True
    companion = None
    warmup_units = 1

    def __init__(self, scale: str):
        self.shape = SCALES[scale]["seq"]

    def prepare(self, cache: Path, seed: int, out: Path) -> None:
        self.inp = inputs.sequences(cache, self.shape, seed)
        self.items = self.shape.n_partitions
        self.catalogs = out / "catalogs"
        self.n = 0

    def unit(self, spark, tr, isolate: bool = False) -> Unit:
        from htm_streamer_spark.config import EngineConfig
        from htm_streamer_spark.sources.table_io import ManifestCatalog
        from htm_streamer_spark.streaming.incremental import CheckpointStore, run_incremental

        self.n += 1
        root = self.catalogs / f"c{self.n}"
        shutil.rmtree(root, ignore_errors=True)
        steps: list[tuple[str, float]] = []
        t0 = time.perf_counter()
        for _ in range(len(self.inp.batches) + 1):
            t = time.perf_counter()
            with tr.span("incremental.invocation"):
                # a fresh catalog object per invocation, as the CLI does
                summary = run_incremental(
                    spark, self.inp.table, ManifestCatalog(root), EngineConfig(),
                    max_partitions=self.shape.max_partitions,
                )
            steps.append((summary["mode"], time.perf_counter() - t))
            if summary["mode"] == "noop":
                break
        dt = time.perf_counter() - t0

        problems = []
        modes = [m for m, _ in steps]
        want_modes = ["sampling+initializing"] + ["running"] * (len(self.inp.batches) - 1) + ["noop"]
        if modes != want_modes:
            problems.append(f"invocation modes {modes}, expected {want_modes}")
        store = CheckpointStore(ManifestCatalog(root))
        verd = store.verdicts(spark).toPandas()
        metrics = verd["metrics"].map(json.loads)
        verd = pd.DataFrame({
            "part_id": verd["part_id"],
            "verdict": verd["status"],
            "n_violations": metrics.map(lambda m: m["n_violations"]),
            "psi": metrics.map(lambda m: m["psi"]),
            "kl": metrics.map(lambda m: m["kl"]),
        })
        problems += _check_verdicts(verd, self.inp.inc_verdicts)
        problems += _check_violations(store.violations(spark).toPandas(), self.inp.inc_violations)
        files = list((root / "data").rglob("*.parquet"))
        detail = {
            "steps": steps,
            "files_written": len(files),
            "bytes_written": sum(f.stat().st_size for f in files),
            "leaked_rdds": release_caches(spark),
        }
        shutil.rmtree(root, ignore_errors=True)
        return Unit(dt, 1, int(bool(problems)), problems, detail)

    def report(self, units: list[Unit]) -> dict:
        med = statistics.median(u.seconds for u in units)
        steps = [s for u in units for s in u.detail.get("steps", [])]
        first = [t for m, t in steps if m == "sampling+initializing"] or [0.0]
        running = [t for m, t in steps if m == "running"] or [0.0]
        return {
            "committed_parts_per_sec": (self.items / med, "1/s"),
            "first_increment_s": (statistics.median(first), "s"),
            "increment_s": (statistics.median(running), "s"),
        }


class OperatorSuite:
    name = "operator_suite"
    isolate = False
    # the first pass is cold (17-23 s) and checks the output; the second
    # still runs ~5% slow, which a median of three timed passes absorbs
    warmup_units = 1
    unit_s = 5.5

    def __init__(self, scale: str, queries: list[str] = QUERIES):
        self.shape = SCALES[scale]["ops"]
        self.queries = queries
        self.companion = OperatorSuite(scale, TRACE_QUERIES) if queries is QUERIES else None

    def prepare(self, cache: Path, seed: int, out: Path) -> None:
        import __spark_entry__ as entry

        self.inp = inputs.operator_tables(cache, self.shape, seed, self.queries)
        self.items = len(self.queries)
        self.builders = entry.queries()
        contract = inputs.tool("check_contract")
        self.normalize, self.bitwise_equal = contract.normalize, contract._bitwise_equal
        self.checked = False
        self.log = None  # tracing.DriverLog, set by the runner

    def _check(self, q: str, got: pd.DataFrame) -> list[str]:
        want = self.inp.answers[q]
        if len(got) != len(want):
            return [f"{q}: {len(got)} rows, oracle {len(want)}"]
        if sorted(got.columns) != sorted(want.columns):
            return [f"{q}: columns {sorted(got.columns)}, oracle {sorted(want.columns)}"]
        if not self.bitwise_equal(self.normalize(got), self.normalize(want)):
            return [f"{q}: values differ from the oracle"]
        return []

    def unit(self, spark, tr, isolate: bool = False) -> Unit:
        traced = tr.unit >= 0
        problems, failed, per_q = [], 0, {}
        elapsed = 0.0
        for q in self.queries:
            mark = self.log.offset() if self.log else 0
            df = None
            t0 = time.perf_counter()
            try:
                with tr.span(f"{q}:build"):
                    df = self.builders[q](spark, self.inp.sf_dir)
                with tr.span(f"{q}:final"):
                    df.write.format("noop").mode("overwrite").save()
                q_s = time.perf_counter() - t0
                # outputs are checked on the first pass of the process
                # (the warm-up), outside every timed region
                bad = [] if self.checked else self._check(q, df.toPandas())
            except Exception as ex:  # one failing query must not end the pass
                q_s = time.perf_counter() - t0
                bad = [f"{q}: {type(ex).__name__}: {str(ex).splitlines()[0][:200]}"]
            elapsed += q_s
            problems += bad
            failed += bool(bad)
            d = {"seconds": q_s, "leaked_rdds": release_caches(spark)}
            if traced and df is not None:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                it = qe.tracker().phases().iterator()
                ms = 0
                while it.hasNext():
                    ms += it.next()._2().durationMs()
                d["plan_ms"] = ms
                d["codegen_fallbacks"] = self.log.fallbacks(mark) if self.log else 0
            per_q[q] = d
        self.checked = True
        return Unit(elapsed, len(self.queries), failed, problems, {"queries": per_q})

    def report(self, units: list[Unit]) -> dict:
        return {"suite_s": (statistics.median(u.seconds for u in units), "s")}


WORKLOADS = {w.name: w for w in (ValidateBatch, OperatorSuite)}

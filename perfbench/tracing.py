"""Measurement taken from outside the engine: spans around calls into the
engine's modules, job-group-tagged Spark event-log metrics, resident
memory of the JVM and its Python workers, and codegen fallbacks counted
in the captured driver log. No engine code is changed; the traced run
wraps module functions for its own lifetime and restores them after.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

# (layer, module, attribute, force): one entry per name through which the
# engine or the benchmark reaches a layer's public function. ``force``
# layers are lazy DataFrame builders; the isolation unit of a traced run
# materialises their output inside the span so the span holds their work.
PATCHES = [
    ("sources.load", "htm_streamer_spark.plans", "load_sequences", False),
    ("sources.load", "htm_streamer_spark.streaming.incremental", "load_sequences", False),
    ("drift.fused_pass", "htm_streamer_spark.plans.validation_plan",
     "featurize_and_token_histogram", True),
    ("uniqueness.dup", "htm_streamer_spark.plans.validation_plan", "duplicate_violations", True),
    ("invariants.violations", "htm_streamer_spark.plans.validation_plan", "row_violations", True),
    ("stats.partition_stats", "htm_streamer_spark.plans.validation_plan", "partition_stats", True),
    ("plan.build", "htm_streamer_spark.plans", "run_validation_batch", False),
    ("plan.build", "htm_streamer_spark.streaming.incremental", "run_validation_batch", False),
    ("incremental.baseline_fit", "htm_streamer_spark.streaming.incremental",
     "compute_baseline", True),
    ("incremental.checkpoint_read", "htm_streamer_spark.streaming.incremental:CheckpointStore",
     "done_partitions", False),
    ("incremental.checkpoint_read", "htm_streamer_spark.streaming.incremental:CheckpointStore",
     "baseline", True),
    ("table_io.stage", "htm_streamer_spark.sources.table_io:ManifestCatalog", "stage_spark", False),
    ("table_io.commit", "htm_streamer_spark.sources.table_io:ManifestCatalog", "commit", False),
]

FALLBACK_MARKERS = (
    "Failed to compile the generated Java code",
    "falling back to interpreter mode",
)


def force(value) -> None:
    """Run every DataFrame in ``value`` to a noop sink."""
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        value.write.format("noop").mode("overwrite").save()
    elif isinstance(value, (tuple, list)):
        for v in value:
            force(v)
    elif isinstance(value, dict):
        for v in value.values():
            force(v)


@dataclass
class Span:
    name: str
    unit: int
    parent: str | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Spans of one process. Each span also names the Spark job group
    ``<workload>:<span>`` for its duration, so the event log attributes
    every job to the innermost span that launched it."""

    workload: str
    sc: object
    spans: list[Span] = field(default_factory=list)
    unit: int = -1
    forcing: bool = False
    _stack: list[Span] = field(default_factory=list)
    _saved: list[tuple] = field(default_factory=list)

    def group(self, name: str) -> str:
        return name if ":" in name else f"{self.workload}:{name}"

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, self.unit, self._stack[-1].name if self._stack else None,
                 time.perf_counter())
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", self.group(name))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self.group(self._stack[-1].name) if self._stack else None
            )
            self.spans.append(s)

    def install(self) -> None:
        for layer, where, attr, lazy in PATCHES:
            mod_name, _, cls_name = where.partition(":")
            owner = importlib.import_module(mod_name)
            if cls_name:
                owner = getattr(owner, cls_name)
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(layer, orig, lazy))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrap(self, layer: str, fn, lazy: bool):
        def wrapper(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
                if lazy and self.forcing:
                    force(out)
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def unit_seconds(self, units: set[int]) -> dict[str, float]:
        """Median over ``units`` of each span name's total seconds per unit."""
        per: dict[str, dict[int, float]] = defaultdict(lambda: dict.fromkeys(units, 0.0))
        for s in self.spans:
            if s.unit in units:
                per[s.name][s.unit] += s.end - s.start
        return {k: statistics.median(v.values()) for k, v in per.items()}

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([s.__dict__ for s in self.spans]))


# -- Spark event log -------------------------------------------------------


@dataclass
class Stage:
    tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_ms: list = field(default_factory=list)
    accum: dict = field(default_factory=dict)
    completed: bool = False


@dataclass
class Job:
    group: str | None
    submit_ms: int
    stages: list[Stage] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    arrow_metrics: dict[int, str]  # accumulator id -> MapInArrow metric name

    @classmethod
    def read(cls, path: Path) -> "EventLog":
        jobs: dict[int, Job] = {}
        stage_job: dict[int, int] = {}
        stages: dict[int, Stage] = defaultdict(Stage)
        arrow: dict[int, str] = {}

        def walk(node):
            if node["nodeName"] == "MapInArrow":
                for m in node.get("metrics", []):
                    arrow[m["accumulatorId"]] = m["name"]
            for c in node.get("children", []):
                walk(c)

        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerTaskEnd":
                    st, m, info = stages[e["Stage ID"]], e.get("Task Metrics") or {}, e["Task Info"]
                    st.tasks += 1
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                elif ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(props.get("spark.jobGroup.id"), e["Submission Time"])
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages[info["Stage ID"]]
                    st.completed = True
                    st.accum = {a["ID"]: a.get("Value") for a in info.get("Accumulables", [])}
                elif "sparkPlanInfo" in e:
                    walk(e["sparkPlanInfo"])
        for sid, st in stages.items():
            if st.completed and sid in stage_job:
                jobs[stage_job[sid]].stages.append(st)
        return cls(list(jobs.values()), arrow)

    def select(self, windows: list[tuple[float, float]], group: str | None = None) -> list[Job]:
        """Jobs submitted inside any of ``windows`` (epoch seconds), in
        ``group`` if given (a trailing ``*`` matches a prefix)."""
        def in_group(j: Job) -> bool:
            if group is None:
                return True
            if group.endswith("*"):
                return (j.group or "").startswith(group[:-1])
            return j.group == group

        return [
            j for j in self.jobs
            if in_group(j) and any(a <= j.submit_ms / 1000 <= b for a, b in windows)
        ]

    def arrow_total(self, jobs: list[Job], metric: str) -> float:
        ids = {i for i, n in self.arrow_metrics.items() if n == metric}
        return sum(
            float(v) for j in jobs for st in j.stages for i, v in st.accum.items()
            if i in ids and v is not None
        )


def totals(jobs: list[Job]) -> dict[str, float]:
    stages = [st for j in jobs for st in j.stages]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "executor_run_ms": sum(s.run_ms for s in stages),
        "executor_cpu_ms": sum(s.cpu_ms for s in stages),
        "gc_ms": sum(s.gc_ms for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
    }


def task_skew(jobs: list[Job]) -> float:
    """max/median task time of the busiest shuffle-writing stage."""
    cands = [st for j in jobs for st in j.stages if st.shuffle_write_bytes and st.task_ms]
    if not cands:
        return 0.0
    st = max(cands, key=lambda s: s.run_ms)
    med = statistics.median(st.task_ms)
    return max(st.task_ms) / med if med else 0.0


# -- process memory and driver log ------------------------------------------


def _pss_kb(pid: int) -> int:
    """Proportional resident set size: shared pages (the Python workers
    are forked from one daemon) count once across the processes."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class RssSampler:
    """Peak of the summed resident memory (PSS) of a process tree, the
    driver JVM and the Python workers it forks, sampled on a thread."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root, self.interval, self.peak_kb = root_pid, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in _descendants(self.root)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class DriverLog:
    """Redirects this process's stderr (inherited by the JVM it launches)
    into a file, and counts codegen fallbacks logged there."""

    def __init__(self, path: Path):
        self.path = path
        self._saved_fd = None

    def __enter__(self):
        self._saved_fd = os.dup(2)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, *exc):
        os.dup2(self._saved_fd, 2)
        os.close(self._saved_fd)

    def offset(self) -> int:
        return self.path.stat().st_size

    def fallbacks(self, start: int = 0, end: int | None = None) -> int:
        with open(self.path, "rb") as f:
            f.seek(start)
            text = f.read(None if end is None else max(end - start, 0)).decode("utf-8", "replace")
        return sum(text.count(m) for m in FALLBACK_MARKERS)

    def tail(self, n: int = 40) -> str:
        lines = self.path.read_text(errors="replace").splitlines()
        return "\n".join(lines[-n:])

"""Benchmark of the htm_streamer_spark engine, end to end and per layer.

    python3 perfbench/run.py --workload validate_batch --seed 42 --seconds 15 --trace 0

Runs one workload (see ``perfbench/workloads.py`` and ``BENCHMARK.json``)
on ``local[nproc]`` from this single process as a closed loop: one client,
each unit starting when the previous one has finished. The first
``warmup_units`` units of a workload are the warm-up and are reported
apart from the timed units, of which there are
``round(--seconds / unit_s)``. Every unit's output is checked against the
repository's oracles (``fixtures.oracle`` for the flagship, ``oracle_sql()``
on DuckDB for the operator queries).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, alternates untraced units with traced units (spans
around calls into the engine's modules, one Spark job group per span),
adds one isolation unit in which each lazily built layer is run to a noop
sink inside its span, and prints the per-layer metrics plus the span
overhead (traced minus untraced median unit time in the same session; the
event log is on for both, so this leaves out the event log's own cost).

A human-readable report comes first; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. The
exit code is 1 when any output disagrees with its oracle or a unit fails,
2 when the engine cannot be imported. Generated inputs and oracle answers
are cached under ``perfbench/.cache``; logs, spans and per-run records
(every sample, warm-up included) go to ``perfbench/.out``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
sys.path.insert(0, str(REPO))


def host_fit() -> dict:
    """Cores from the CPU affinity mask (what ``nproc`` reports) and a
    driver heap of 40% of the host's or cgroup's memory, whichever is less."""
    with open("/proc/meminfo") as f:
        mem = int(next(line for line in f if line.startswith("MemTotal:")).split()[1]) * 1024
    try:
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if limit.isdigit():
            mem = min(mem, int(limit))
    except OSError:
        pass
    return {
        "cores": len(os.sched_getaffinity(0)),
        "driver_memory": f"{max(1, int(mem * 0.4 / 2**30))}g",
        "host_memory_gb": round(mem / 2**30, 1),
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for it and its workers."""
    from pyspark import SparkContext

    from perfbench.tracing import _descendants

    proc = SparkContext._gateway.proc
    pids = _descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark

    def unit(self, tr, isolate: bool = False):
        from perfbench.workloads import Unit, release_caches

        w0, t0 = time.time(), time.perf_counter()
        try:
            u = self.wl.unit(self.spark, tr, isolate)
        except Exception as ex:  # a unit that raises counts as failed; the loop goes on
            traceback.print_exc()
            u = Unit(time.perf_counter() - t0, 1, 1,
                     [f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}"])
            try:
                release_caches(self.spark)
            except Exception:
                traceback.print_exc()
        u.detail["window"] = (w0, time.time())
        return u


def traced_unit(run, tracer, log, isolate: bool = False):
    """One unit with the engine's modules wrapped in spans; ``isolate``
    also runs each lazily built layer to a noop sink inside its span."""
    tracer.unit += 1
    tracer.forcing = isolate
    mark = log.offset()
    tracer.install()
    try:
        u = run.unit(tracer, isolate)
    finally:
        tracer.uninstall()
        tracer.forcing = False
    u.detail.update(unit=tracer.unit, codegen_fallbacks=log.fallbacks(mark))
    return u


def per_layer(name, tracer, events, res) -> dict:
    """Per-layer metrics of a traced run; 0 where a layer is not reached.
    Span times and job counts are medians or means per unit over the
    traced units (``t``), the isolation unit (``i``) and, for the
    flagship, the incremental sweeps (``ct`` traced, ``ci`` isolated)."""
    from perfbench import tracing
    from perfbench.workloads import QUERIES, TRACE_QUERIES

    sets = {
        "t": res["traced"],
        "i": [res["iso"]] if res["iso"] else [],
        "ct": res["comp_traced"],
        "ci": [res["comp_iso"]] if res["comp_iso"] else [],
    }
    spans = {k: tracer.unit_seconds({u.detail["unit"] for u in v}) for k, v in sets.items()}
    wins = {k: [u.detail["window"] for u in v] for k, v in sets.items()}

    def span(k, layer):
        return spans[k].get(layer, 0.0)

    def jobs(k, group):
        return events.select(wins[k], group if ":" in group else f"{name}:{group}")

    def jobs_per_unit(k, group):
        return len(jobs(k, group)) / (len(wins[k]) or 1)

    def med(k, key, get=lambda d, key: d.get(key, 0)):
        vals = [get(u.detail, key) for u in sets[k]]
        return statistics.median(vals) if vals else 0

    m = {
        "session.start_s": res["session_s"],
        "sources.load_s": span("t", "sources.load"),
        "drift.fused_pass_s": span("i", "drift.fused_pass"),
        "drift.kernel_rows_out": events.arrow_total(
            jobs("i", "drift.fused_pass"), "number of output rows"),
        "drift.python_eval_ms": events.arrow_total(
            jobs("i", "drift.fused_pass"), "time to run Python workers"),
        "uniqueness.dup_s": span("i", "uniqueness.dup"),
        "uniqueness.shuffle_write_bytes": tracing.totals(
            jobs("i", "uniqueness.dup"))["shuffle_write_bytes"],
        "uniqueness.task_skew": tracing.task_skew(jobs("i", "uniqueness.dup")),
        "invariants.violations_s": span("i", "invariants.violations"),
        "stats.partition_stats_s": span("i", "stats.partition_stats"),
        "plan.verdict_s": span("i", "plan.verdict"),
        "plan.build_s": span("t", "plan.build"),
        "plan.build_jobs": jobs_per_unit("t", "plan.build"),
        "plan.final_s": span("t", "plan.final"),
        "plan.final_jobs": jobs_per_unit("t", "plan.final"),
        "plan.leaked_rdds": med("t", "leaked_rdds") if res["iso"] else 0,
        "incremental.baseline_fit_s": span("ci", "incremental.baseline_fit"),
        "incremental.checkpoint_read_s": span("ci", "incremental.checkpoint_read"),
        "table_io.stage_s": span("ct", "table_io.stage"),
        "table_io.commit_s": span("ct", "table_io.commit"),
        "table_io.bytes_written": med("ct", "bytes_written"),
        "table_io.files_written": med("ct", "files_written"),
        "suite.plan_ms": med("t", "queries", lambda d, key: sum(
            q.get("plan_ms", 0) for q in d.get(key, {}).values())),
    }
    for q in QUERIES + TRACE_QUERIES:
        k = "t" if q in QUERIES else "ct"

        def qmed(key):
            return med(k, key, lambda d, key: d.get("queries", {}).get(q, {}).get(key, 0))

        m[f"q.{q}.build_s"] = span(k, f"{q}:build")
        m[f"q.{q}.build_jobs"] = jobs_per_unit(k, f"{q}:build")
        m[f"q.{q}.final_s"] = span(k, f"{q}:final")
        m[f"q.{q}.final_jobs"] = jobs_per_unit(k, f"{q}:final")
        m[f"q.{q}.codegen_fallbacks"] = qmed("codegen_fallbacks")
        m[f"q.{q}.leaked_rdds"] = qmed("leaked_rdds")
    tot = tracing.totals(events.select(wins["t"]))
    for k in ("stages", "executor_run_ms", "executor_cpu_ms", "gc_ms",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = tot[k] / len(wins["t"])
    m["spark.codegen_fallbacks"] = med("t", "codegen_fallbacks")
    t_med = statistics.median(u.seconds for u in res["traced"])
    u_med = statistics.median(u.seconds for u in res["untraced"])
    m["trace.traced_run_s"] = t_med
    m["trace.untraced_run_s"] = u_med
    m["trace.span_overhead_s"] = t_med - u_med
    return m


def measure(wl, args, host, out: Path, log) -> dict:
    from htm_streamer_spark.session import get_spark
    from perfbench import tracing
    from perfbench.workloads import NullTracer

    evdir = out / f"eventlog-{wl.name}-s{args.seed}"
    shutil.rmtree(evdir, ignore_errors=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(out / "spark-local"),
        "spark.sql.warehouse.dir": str(out / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={out / 'tmp'} -XX:-UsePerfData",
    }
    if args.trace:
        evdir.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}", cores=host["cores"],
                      driver_memory=host["driver_memory"], extra_conf=conf)
    session_s = time.perf_counter() - t
    run = Runner(wl, spark)
    null = NullTracer()
    wl.log = log
    res = {"session_s": session_s, "untraced": [], "traced": [], "iso": None,
           "comp_warmup": [], "comp_traced": [], "comp_iso": None}
    try:
        with tracing.RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            res["warmup"] = [run.unit(null) for _ in range(wl.warmup_units)]
            res["setup_s"] = time.perf_counter() - T_START - wl.prep_s
            # a fixed number of units, not as many as fit in --seconds: the
            # JIT is still warming up, so a count that floats with the
            # host's speed would shift the median
            n = max(1, round(args.seconds / wl.unit_s))
            if not args.trace:
                res["untraced"] = [run.unit(null) for _ in range(n)]
            else:
                # untraced and traced units alternate, each pair in the
                # other order than the last, so the host's drift and the
                # JIT still warming up weigh on both medians alike; a
                # quarter as many pairs as timed units keeps a traced run
                # of the flagship, with its incremental sweeps, near 2 min
                tracer = tracing.Tracer(wl.name, spark.sparkContext)
                for i in range(max(1, n // 4)):
                    pair = [lambda: res["untraced"].append(run.unit(null)),
                            lambda: res["traced"].append(traced_unit(run, tracer, log))]
                    for step in pair[:: 1 if i % 2 else -1]:
                        step()
                if wl.isolate:
                    res["iso"] = traced_unit(run, tracer, log, isolate=True)
                if wl.companion:
                    wl.companion.log = log
                    comp = Runner(wl.companion, spark)
                    res["comp_warmup"] = [comp.unit(null)]
                    res["comp_traced"] = [traced_unit(comp, tracer, log)]
                    if wl.companion.isolate:
                        res["comp_iso"] = traced_unit(comp, tracer, log, isolate=True)
                tracer.dump(out / f"spans-{wl.name}-s{args.seed}.json")
                res["tracer"] = tracer
        res["peak_rss_mb"] = rss.peak_kb / 1024
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)
    if args.trace:
        events = tracing.EventLog.read(evdir / app_id)
        shutil.rmtree(evdir, ignore_errors=True)
        res["layers"] = per_layer(wl.name, res["tracer"], events, res)
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args(argv)
    try:
        spec = json.loads((REPO / "BENCHMARK.json").read_text())
        from perfbench.workloads import QUERIES, TRACE_QUERIES, WORKLOADS
    except (ImportError, OSError) as ex:
        print(f"perfbench: cannot load the engine or BENCHMARK.json: {ex}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    out = BENCH / ".out"
    for d in ("tmp", "spark-local"):
        (out / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(out / "tmp")
    wl = WORKLOADS[args.workload](args.scale)
    t = time.perf_counter()
    wl.prepare(BENCH / ".cache", args.seed, out)
    if args.trace and wl.companion:
        wl.companion.prepare(BENCH / ".cache", args.seed, out)
    wl.prep_s = time.perf_counter() - t
    host = host_fit()

    from perfbench.tracing import DriverLog

    with DriverLog(out / f"driver-{wl.name}-s{args.seed}-t{args.trace}.log") as log:
        try:
            res = measure(wl, args, host, out, log)
        except Exception:
            traceback.print_exc()
            res = None
    if res is None:
        print(f"perfbench: run failed, see {log.path}\n{log.tail()}", file=sys.stderr)
        return 1

    all_units = [u for k in ("warmup", "untraced", "traced", "comp_warmup", "comp_traced")
                 for u in res[k]]
    all_units += [res[k] for k in ("iso", "comp_iso") if res[k]]
    attempted = sum(u.ops for u in all_units)
    failed = sum(u.failed for u in all_units)
    timed = res["untraced"]
    secs = [u.seconds for u in timed]
    q1, run_s, q3 = quartiles(secs)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "run_s": (run_s, "s"),
        "items_per_s": (wl.items / run_s, "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    named = wl.report(timed)

    lines = [
        f"workload {wl.name}  seed {args.seed}  scale {args.scale}  trace {args.trace}",
        f"host: local[{host['cores']}], driver memory {host['driver_memory']} "
        f"of {host['host_memory_gb']} GB; closed loop, 1 client",
        f"inputs prepared in {wl.prep_s:.2f} s (cached, outside setup and timing)",
    ]
    if wl.name == "operator_suite":
        lines.append("queries: " + ", ".join(QUERIES)
                     + "; traced run only: " + ", ".join(TRACE_QUERIES))
    lines.append(f"warm-up units: {[round(u.seconds, 3) for u in res['warmup']]} s")
    lines.append(f"timed units: n={len(secs)}  median {run_s:.3f} s  q1 {q1:.3f}  q3 {q3:.3f}  "
                 f"samples {[round(s, 3) for s in secs]}")
    for k, (v, unit) in {**e2e, **named}.items():
        lines.append(f"{k:28s} {v:14.4f} {unit}")
    lines.append(f"{'ops_failed/ops_attempted':28s} {failed}/{attempted}")
    for u in all_units:
        lines += [f"FAILED: {p}" for p in u.problems]

    if args.trace:
        metrics = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = res["layers"]
        if res["comp_traced"] and wl.name == "validate_batch":
            lines.append("incremental sweep (traced run only; CLI validate path):")
            for k, (v, unit) in wl.companion.report(res["comp_traced"]).items():
                lines.append(f"  {k:26s} {v:14.4f} {unit}")
        lines.append(f"span overhead: {values['trace.span_overhead_s']:+.3f} s per unit "
                     f"(traced {values['trace.traced_run_s']:.3f} s vs untraced "
                     f"{values['trace.untraced_run_s']:.3f} s; the event log is on in both, "
                     f"so its own cost is in neither)")
    else:
        metrics = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {k: v for k, (v, _) in e2e.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in metrics.items()},
    }
    record = {
        "args": vars(args), "host": host, "prep_s": wl.prep_s, "session_s": res["session_s"],
        "units": {k: [{"seconds": u.seconds, "ops": u.ops, "failed": u.failed,
                       "problems": u.problems, "detail": u.detail} for u in res[k]]
                  for k in ("warmup", "untraced", "traced", "comp_warmup", "comp_traced")},
        "named": named, "result": result,
    }
    (out / f"record-{wl.name}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

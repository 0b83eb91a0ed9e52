"""Extra benchmarks for the optimization round (guide §1.4): per-query
noop-sink isolation, repeatable best-of-N timing, and explain("formatted")
capture. ``bench.py`` stays frozen; numbers cited in OPTIMIZATION_r06.md
come from here.

Usage:
  python bench_extra.py time q1 q2 ...      # best-of-N noop timings
  python bench_extra.py plan q1 q2 ...      # write plans/r06/<q>_<tag>.txt
  python bench_extra.py all                 # time every declared bench query

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0), SPARK_GRAFT_CPUS,
BENCH_EXTRA_RUNS (default 2), BENCH_EXTRA_TAG (plan file suffix, default
"before").
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _spark():
    from htm_streamer_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    return get_spark(
        app_name="bench_extra",
        cores=cores,
        shuffle_partitions=max(cores, 16),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    runs = int(os.environ.get("BENCH_EXTRA_RUNS", "2"))
    tag = os.environ.get("BENCH_EXTRA_TAG", "before")
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]

    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    spark = _spark()
    qs = entry_mod.queries()
    if mode == "all" or not names:
        names = list(qs)

    # warmup: JVM, codegen, Arrow
    spark.range(1_000_000).select(F.sum("id")).collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    out: dict[str, float] = {}
    try:
        for name in names:
            if name not in qs:
                print(f"!! unknown query {name}", file=sys.stderr)
                continue
            if mode == "plan":
                df = qs[name](spark, sf_dir)
                p = Path("plans/r06") / f"{name}_{tag}.txt"
                p.parent.mkdir(parents=True, exist_ok=True)
                p.write_text(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                ))
                print(f"wrote {p}")
                continue
            spark.sparkContext.setJobDescription(name)
            best = float("inf")
            samples = []
            for _ in range(runs):
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                samples.append(round(dt, 3))
                best = min(best, dt)
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
            out[name] = round(best, 3)
            print(f"{name}: best {best:.3f}s of {samples}", flush=True)
    finally:
        if mode != "plan":
            print(json.dumps({"sf_dir": sf_dir, "runs": runs, "queries": out}))
        spark.stop()


if __name__ == "__main__":
    main()

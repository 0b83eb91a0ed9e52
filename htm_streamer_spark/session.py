"""SparkSession factory tuned for the validation engine.

Local-mode defaults match the sandbox (single JVM, N threads); on a real
cluster the same settings apply per-executor and AQE handles runtime
re-planning. Reference analog: the reference's only parallelism knob is a
ProcessPoolExecutor with cpu_count()-1 workers
(/root/reference/htm_streamer/model/runners.py:249-253); here Spark's task
scheduler replaces it.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def host_driver_memory() -> str:
    """40% of the host's memory or of its cgroup limit, whichever is
    less, as a JVM size string (at least ``1g``). In local mode the
    driver heap holds every executor task, so a fixed large default
    overcommits small hosts."""
    with open("/proc/meminfo") as f:
        mem = int(next(line for line in f if line.startswith("MemTotal:")).split()[1]) * 1024
    try:
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if limit.isdigit():
            mem = min(mem, int(limit))
    except OSError:
        pass
    return f"{max(1, int(mem * 0.4 / 2**30))}g"


def get_spark(
    app_name: str = "htm_streamer_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE on (runtime coalesce + skew-join splitting) — required by the
      north rule's explicit skew handling.
    - Arrow enabled for the vectorized pandas-UDF path.
    - shuffle partitions sized to cores (not the 200 default): at 100 TB
      on a real cluster this is instead set ~2-3x total executor cores by
      the submit script; AQE coalesces the excess.
    - UTC session timezone so results compare exactly against DuckDB.
    - driver heap, when not given, sized to the host by
      :func:`host_driver_memory`.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    if driver_memory is None:
        driver_memory = host_driver_memory()
    # ship the package to python workers even when the driver added it to
    # sys.path at runtime (on a cluster, spark-submit --py-files does this)
    pkg_root = str(Path(__file__).resolve().parents[1])
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # split sizing: at sandbox data sizes (hundreds of MB) the 128MB
        # default packs the whole table into a handful of scan splits and
        # caps parallelism below the core count — size splits so the scan
        # fans out to all cores. At real 100TB scale splits are abundant
        # and these settings are irrelevant (but harmless).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config(
            "spark.executorEnv.PYTHONPATH",
            pkg_root + os.pathsep + os.environ.get("PYTHONPATH", ""),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

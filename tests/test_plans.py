"""Physical-plan assertions: the optimizations SURVEY.md §4.2 claims
must actually appear in the executed plan (pushdown, pruning, broadcast,
partial aggregation, whole-stage codegen, single-shuffle windows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.operators.invariants import featurize, row_violations
from htm_streamer_spark.operators.stats import partition_stats
from htm_streamer_spark.operators.uniqueness import duplicate_violations
from htm_streamer_spark.plans.validation_plan import load_sequences, run_validation_batch


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def seq(spark, tiny_dir):
    return load_sequences(spark, tiny_dir)


def test_filter_pushdown_reaches_scan(spark, tiny_dir):
    df = spark.read.parquet(tiny_dir).filter(F.col("n_tok") > 100).select("doc_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(n_tok), GreaterThan(n_tok,100)]" in plan, plan


def test_partition_pruning_on_part_id(spark, tiny_dir):
    df = spark.read.parquet(tiny_dir).filter(F.col("part_id") == 3)
    plan = _plan(df)
    # hive partition column filter becomes a PartitionFilters entry
    assert "PartitionFilters" in plan and "part_id" in plan.split("PartitionFilters")[1][:200], plan


def test_column_pruning(spark, tiny_dir):
    df = spark.read.parquet(tiny_dir).select("doc_id", "n_tok")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in read_schema, read_schema


def test_stats_single_shuffle_partial_agg(seq, cfg):
    plan = _plan(partition_stats(featurize(seq, cfg), cfg))
    # exactly one exchange: map-side partial agg merges before the shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_" in plan.lower() or "HashAggregate" in plan, plan
    # two HashAggregate levels (partial + final)
    assert plan.count("HashAggregate") >= 2, plan


def test_duplicate_joinback_strategy_is_aqe_chosen(seq, cfg):
    """No forced broadcast hint on the unbounded duplicate-id set (2% of
    10^12 rows would OOM a forced broadcast); AQE must be free to pick.
    At this data size AQE converts the semi join to broadcast at runtime
    — assert the hint is absent from the LOGICAL plan but the runtime
    plan still ends up broadcast-sized here."""
    df = duplicate_violations(seq, cfg)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical, logical
    df.collect()  # let AQE finalize
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan or "AQEShuffleRead" in plan, plan


def test_row_checks_whole_stage_codegen(seq, cfg):
    plan = _plan(row_violations(featurize(seq, cfg), cfg))
    # '*(n)' prefixes mark whole-stage-codegen'd operators
    assert "*(" in plan, plan
    # no python UDF in the hot path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_exists_not_fullscan_of_other_columns(seq, cfg):
    """The violations projection must read only the columns it needs."""
    plan = _plan(row_violations(featurize(seq, cfg), cfg))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "ts" not in read_schema, read_schema


def test_wide_lsh_driver_query_uses_arrow_kernel(spark):
    """VERDICT r2 item 6: the driver-contract dim-256 LSH query must
    route BOTH corpus and query signatures through the Arrow matmul
    kernel (bits*dim=3072 > LSH_EXPR_MAX_LITERALS) — exactly two
    MapInArrow stages, no row-at-a-time Python anywhere."""
    import importlib.util as iu
    from pathlib import Path

    spec = iu.spec_from_file_location(
        "spark_entry_for_plan", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    mod = iu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.q_lsh_topk_wide_embeddings(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_runtime_bloom_filter_injection_on_fact_side(spark):
    """At 100 TB, a selective dim filter should prune fact-table rows
    BEFORE the shuffle: Spark's runtime bloom filter rewrites
    fact JOIN (filtered dim) into fact WHERE might_contain(...) JOIN dim.
    The injection thresholds are sized for clusters, so force them down
    and pin that the rewrite actually fires on this engine version —
    regression cover for the session defaults that enable it."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom_filter" in plan or "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Spark jobs of the flagship's verdicts action once the plan is built:
# the fused kernel pass, the salted duplicate shuffle, the per-partition
# stats and the drift exchanges, each stage one job under AQE. Scoring
# drift per histogram family in one pass, and merge-joining the
# per-partition frames, cut this from 38 to 12.
VERDICT_JOB_BUDGET = 12


def test_verdicts_job_budget(spark, seq, cfg):
    sc = spark.sparkContext
    res = run_validation_batch(spark, seq, cfg)
    group = "test_verdicts_job_budget"
    sc.setJobGroup(group, group)
    try:
        res.verdicts.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= VERDICT_JOB_BUDGET, n_jobs

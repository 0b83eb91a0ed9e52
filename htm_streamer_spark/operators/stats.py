"""Fused per-partition statistics — the engine's single-scan pass.

The reference walks the data once per model accumulating min/max samples
(/root/reference/htm_streamer/config/config.py:178-196) and separately
counts predictions/synapses per step. Here ALL per-column stats and ALL
row-level invariant counts for every partition come out of ONE
``groupBy(part_id).agg(...)`` over one parquet scan (SURVEY.md §4.2's
"multi-check single-scan fusion" — the engine's main optimizer decision).

Every aggregate used is partial-merge capable (min/max/count/sum/avg/
approx_count_distinct), so map-side combine reduces the shuffle to
``n_partitions × 1`` rows regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.operators.invariants import row_check_exprs


def partition_stats(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """One row per part_id of a featurized frame with column stats +
    per-check violation counts.

    Columns: part_id, n_rows, n_tok_min, n_tok_max, n_tok_null_rate,
    n_tok_avg, approx_distinct_source, n_<check> per enabled row check,
    n_row_violations.
    """
    exprs = row_check_exprs(cfg)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.min("n_tok").alias("n_tok_min"),
        F.max("n_tok").alias("n_tok_max"),
        F.avg(F.col("n_tok").isNull().cast("double")).alias("n_tok_null_rate"),
        F.avg("n_tok").alias("n_tok_avg"),
        F.sum(F.col("tok_len").cast("long")).alias("total_tokens"),
        F.approx_count_distinct("source").alias("approx_distinct_source"),
    ]
    any_v = None
    for name, e in exprs.items():
        aggs.append(F.sum(e.cast("long")).alias(f"n_{name}"))
        any_v = e if any_v is None else (any_v | e)
    aggs.append(
        F.sum((any_v if any_v is not None else F.lit(False)).cast("long")).alias(
            "n_rows_flagged"
        )
    )
    return df.groupBy("part_id").agg(*aggs)


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    lo: float = 0.01,
    hi: float = 0.99,
    exact: bool = False,
    accuracy: int = 10_000,
    out_col: str | None = None,
) -> DataFrame:
    """Clip ``value_col`` to its [lo, hi] quantiles (per ``group_col``
    if given) — the heavy-tail tamer applied before any mean-based
    statistic or score (one 10^9-char pathological doc otherwise owns
    the corpus mean; dropping outliers loses the rows, clipping keeps
    them at the boundary).

    Two tiers, same shape as the quantiles operators (SURVEY A1):
    ``exact=False`` (default) uses ``percentile_approx`` — a mergeable
    sketch, bounded memory at any group size, the 100-TB path;
    ``exact=True`` uses exact interpolated ``percentile`` (per-group
    value buffer — fine at oracle/test scale, engine-portable
    semantics shared with DuckDB's quantile_cont).

    Plan: one aggregation to the (group, q_lo, q_hi) frame (one row
    per group — broadcast-eligible), one join back, one codegen
    least/greatest clip. Adds the value at the boundary, never drops
    a row; nulls pass through as null.
    """
    out_col = out_col or f"{value_col}_w"
    pct = F.percentile if exact else (
        lambda c, p: F.percentile_approx(c, p, accuracy)
    )
    bounds_agg = [
        pct(F.col(value_col), lo).alias("_q_lo"),
        pct(F.col(value_col), hi).alias("_q_hi"),
    ]
    # greatest/least SKIP nulls (a null value would clip to the lower
    # bound) — gate explicitly so nulls pass through as null
    clip = F.when(
        F.col(value_col).isNotNull(),
        F.least(
            F.greatest(F.col(value_col).cast("double"), F.col("_q_lo")),
            F.col("_q_hi"),
        ),
    )
    if group_col is None:
        bounds = df.agg(*bounds_agg)
        joined = df.crossJoin(F.broadcast(bounds))
    else:
        bounds = df.groupBy(group_col).agg(*bounds_agg)
        joined = df.join(F.broadcast(bounds), group_col)
    return joined.withColumn(out_col, clip).drop("_q_lo", "_q_hi")

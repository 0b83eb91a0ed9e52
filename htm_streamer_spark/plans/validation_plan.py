"""The validation plan — composes every check into few jobs over one scan.

Batch lifecycle (reference analog: the 3-mode state machine
sampling → initializing → running, /root/reference/htm_streamer/config/
config.py:199-225 and pipeline/htm_stream.py:76-147):

1. *sampling/initializing*: fit baseline histograms on the clean rows of
   the first K partitions, from the same fused kernel the running phase
   reads (≙ the reference accumulating ``features_samples`` then
   deriving encoder ranges, config/config.py:178-196,64-79).
2. *running*: per-partition stats + invariant counts (one fused agg),
   violation rows (one explode pass + salted uniqueness + ``isin``
   referential), drift scores vs baseline, verdict assembly with the
   hard-fail override (model/htm_model.py:385-392) and probation
   (anomalylikelihood.py:440-442).

Job shape of the verdicts action: one fused Arrow pass over the token
bytes emits the narrow per-row frame and the clean-row histograms of
both drift families (token buckets and n_tok) as tagged rows. Drift is
then scored for every family at once — two exchanges on the partition
side, two plus one broadcast on the baseline side — and the stats,
violation-count and drift frames, all hash-partitioned by part_id, meet
in merge joins without another exchange. Whether the baseline
is fitted from the batch itself or passed in (the incremental
driver), it takes the same ``drift_scores`` path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htm_streamer_spark.config import EngineConfig, validate_input_schema
from htm_streamer_spark.operators.drift import (
    FAMILIES,
    _token_pass,
    drift_scores,
    family_hist,
    featurize_and_token_histogram,
)
from htm_streamer_spark.operators.invariants import row_violations
from htm_streamer_spark.operators.stats import partition_stats
from htm_streamer_spark.operators.uniqueness import (
    duplicate_content_violations,
    duplicate_violations,
)


@dataclass
class ValidationResult:
    verdicts: DataFrame    # part_id, verdict, n_violations, psi, kl
    violations: DataFrame  # doc_id, part_id, check_id, payload
    stats: DataFrame       # per-partition fused stats


def load_sequences(spark: SparkSession, path: str) -> DataFrame:
    """Read the hive-partitioned sequences table and validate its schema
    against the declared StructType (never inferred — reference analog:
    htm_batch_runner.py:66-70)."""
    df = spark.read.parquet(str(path))
    # hive partition column comes back as int; normalize narrow types
    df = df.withColumn("part_id", F.col("part_id").cast("int"))
    validate_input_schema(df.schema)
    return df.select("doc_id", "tokens", "n_tok", "source", "ts", "part_id")


def baseline_part_ids(df: DataFrame, cfg: EngineConfig) -> list[int]:
    """First K distinct part_ids in sort order (metadata-scale action)."""
    rows = df.select("part_id").distinct().sort("part_id").limit(cfg.baseline_partitions).collect()
    return [r[0] for r in rows]


def compute_baseline(
    df: DataFrame, cfg: EngineConfig, base_parts: list[int] | None = None
) -> dict[str, DataFrame]:
    """Baseline token + n_tok histograms over clean rows of the baseline
    partitions: the fused kernel's histogram rows for those partitions,
    summed per (family, bucket). Nothing is persisted. Returns
    {'tok': DF(bucket,cnt), 'ntok': DF(bucket,cnt), 'part_ids': list}."""
    if base_parts is None:
        base_parts = baseline_part_ids(df, cfg)
    hist = (
        _token_pass(df.filter(F.col("part_id").isin(base_parts)), cfg)
        .filter(F.col("kind") == 1)
        .groupBy("family", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    out = {
        name: hist.filter(F.col("family") == f).select("bucket", "cnt")
        for f, name in enumerate(FAMILIES)
    }
    return {**out, "part_ids": base_parts}


def all_violations(df: DataFrame, narrow: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Union of row-level + uniqueness violation rows (referential is the
    row-level ``isin`` check ``bad_source``). ``narrow`` is ``df``'s
    per-row feature frame (``featurize`` or the fused kernel's); every
    check reads it except the opt-in content check, which hashes the
    token arrays of ``df``."""
    parts = [row_violations(narrow, cfg)]
    if "dup_doc_id" in cfg.checks:
        parts.append(duplicate_violations(narrow, cfg))
    if "dup_content" in cfg.checks:
        # opt-in (not in the default tuple): same token array under >=2
        # distinct doc_ids — see operators/uniqueness.py
        parts.append(duplicate_content_violations(df, cfg))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_validation_batch(
    spark: SparkSession,
    df: DataFrame,
    cfg: EngineConfig | None = None,
    baseline: dict[str, DataFrame] | None = None,
) -> ValidationResult:
    """Full-suite batch validation of ``df`` (the input_hint schema).

    If ``baseline`` is None it is fitted from the first
    ``cfg.baseline_partitions`` partitions of ``df`` itself (those
    partitions receive verdict ``probation`` unless they contain
    violations — the hard-fail override).
    """
    cfg = cfg or EngineConfig()
    # ONE pass over the token bytes: a fused Arrow kernel emits the
    # narrow per-row feature frame (size + range check) and the
    # clean-row histograms of both drift families; everything
    # downstream runs on the ~1%-size result. Caching the wide frame
    # (tokens are ~99% of the bytes) was the measured bottleneck — at
    # 10^12 rows it is impossible.
    narrow, hist = featurize_and_token_histogram(df, cfg)
    fit_from_self = baseline is None
    if fit_from_self:
        base_parts = baseline_part_ids(narrow, cfg)
    else:
        base_parts = baseline.get("part_ids", [])

    # violations are ~2% of rows — persist so the verdict count and the
    # returned violation rows share one computation
    viols = all_violations(df, narrow, cfg).persist()
    n_viol = viols.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_violations"))
    stats = partition_stats(narrow, cfg)

    # stats, n_viol and drift all arrive hash-partitioned by part_id, so
    # a merge join reads n_viol in place; AQE's runtime switch to a
    # broadcast would cost one more job for a few rows
    verdicts = stats.select("part_id").join(n_viol.hint("merge"), "part_id", "left")
    drift_enabled = "drift" in cfg.checks
    if drift_enabled:
        # the self-fitted baseline is the baseline partitions' rows of
        # the same per-partition histograms; drift_scores sums them
        base_hist = (
            hist.filter(F.col("part_id").isin(base_parts)).drop("part_id")
            if fit_from_self
            else family_hist(baseline)
        )
        drift = drift_scores(
            hist, base_hist, (cfg.tok_hist_buckets, cfg.ntok_hist_buckets)
        )
        verdicts = verdicts.join(drift, "part_id", "left")
    else:
        verdicts = verdicts.withColumns(
            {"psi": F.lit(None).cast("double"), "kl": F.lit(None).cast("double")}
        )
    is_base = F.col("part_id").isin(base_parts) if base_parts else F.lit(False)
    nv = F.coalesce(F.col("n_violations"), F.lit(0)).alias("n_violations")
    psi = F.when(is_base, F.lit(0.0)).otherwise(F.coalesce(F.col("psi"), F.lit(0.0)))
    kl = F.when(is_base, F.lit(0.0)).otherwise(F.coalesce(F.col("kl"), F.lit(0.0)))
    verdict = (
        F.when(nv > 0, F.lit("fail"))
        .when(is_base, F.lit("probation"))
        .when(
            F.lit(drift_enabled)
            & ((psi > cfg.psi_threshold) | (kl > cfg.kl_threshold)),
            F.lit("fail"),
        )
        .otherwise(F.lit("pass"))
    )
    verdicts = verdicts.select(
        "part_id",
        verdict.alias("verdict"),
        nv.cast("long").alias("n_violations"),
        psi.alias("psi"),
        kl.alias("kl"),
    )
    return ValidationResult(verdicts=verdicts, violations=viols, stats=stats)

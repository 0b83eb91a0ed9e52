"""Benchmark harness — the driver runs this per round.

Times the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "validated_seqs_per_sec": ...}

The headline metric is the full-constraint-suite validation throughput
over a synthetic sequences table at the input_hint schema
(BASELINE.json "validated sequences/sec"), generated deterministically
(seed 42) and cached under .data/. Scale is tied to sf: sf0.1 → 1M
sequences (100 partitions x 10k rows), sf0.01 → 100k, sf0.001 → 10k.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

SF_SCALES = {
    "0.001": (10, 1_000),
    "0.01": (20, 5_000),
    "0.1": (100, 10_000),
}

# Healthy-host reference for the fixed pure-CPU calibration job (warm,
# local[32], measured 2026-08-17 on an unthrottled window of this VM:
# 0.31-0.48s across repeats; 0.35 is the stable middle). Used ONLY to
# derive validated_seqs_per_sec_normalized — raw numbers stay primary.
REF_CAL_PARALLEL_SEC = 0.35


def _shape(sf: str) -> tuple[int, int]:
    """(n_partitions, rows_per_partition) — sf-keyed, overridable via
    SPARK_GRAFT_SEQ_SHAPE="100x40000" (used by the scaling evidence run,
    which needs a compute-dominated input)."""
    override = os.environ.get("SPARK_GRAFT_SEQ_SHAPE")
    if override:
        a, b = override.lower().split("x")
        return int(a), int(b)
    return SF_SCALES.get(sf, (10, 1_000))


def seq_table_path(sf: str) -> Path:
    n_parts, rows = _shape(sf)
    return Path(__file__).resolve().parent / ".data" / f"seq_bench_{n_parts}x{rows}"


def ensure_seq_table(sf: str) -> tuple[Path, int]:
    from htm_streamer_spark.fixtures.generator import write_sequences_parquet

    n_parts, rows = _shape(sf)
    out = seq_table_path(sf)
    write_sequences_parquet(
        out,
        n_partitions=n_parts,
        rows_per_partition=rows,
        hot_key_copies=min(10_000, rows),
        overwrite=False,
    )
    return out, n_parts * rows


def run_bench(spark, sf_dir: str, sf: str) -> dict:
    import __spark_entry__ as entry_mod
    from htm_streamer_spark.config import EngineConfig
    from htm_streamer_spark.plans.validation_plan import (
        load_sequences,
        run_validation_batch,
    )

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    # JVM/codegen/Arrow warmup so the first timed query isn't charged
    # for session initialization
    spark.range(1_000_000).select(F.sum("id")).collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # host-CPU calibration, reported with every run: this sandbox VM is
    # CPU-throttled by its host (observed: a local[32] JVM pinned at
    # ~200% CPU), so wall-clock varies 2-5x run to run for reasons
    # outside the engine. cal_parallel_sec times a fixed pure-CPU Spark
    # job at the session's core count; cal_single_sec a fixed
    # single-thread numpy op. Readers can normalize throughput numbers
    # across rounds by these.
    import numpy as np

    def cal_parallel() -> float:
        t0 = time.time()
        spark.range(
            0, 100_000_000, 1, max(32, 2 * int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        ).select(F.count(F.when(F.xxhash64("id") % 1000 == 0, 1))).collect()
        return time.time() - t0

    cal_parallel()  # warm the cal job's codegen so cal measures the host, not JIT
    extra["cal_parallel_sec"] = round(cal_parallel(), 3)
    rng = np.random.default_rng(0)
    m = rng.random((1200, 1200))
    t0 = time.time()
    for _ in range(3):
        m = np.clip(m @ m, 0.0, 1.0) * 0.5
    extra["cal_single_sec"] = round(time.time() - t0, 3)

    # headline: full validation suite over the sequences table.
    # best of 4 with the median alongside — the sandbox VM's run-to-run
    # variance is 3-5x (documented in BENCH/BASELINE.md), so a thin
    # best-of-2 can report a noise spike as a regression (VERDICT r2
    # item 1). All runs are full cold plans (cache cleared between).
    seq_path, n_seq = ensure_seq_table(sf)
    n_runs = int(os.environ.get("SPARK_GRAFT_SEQ_RUNS", "4"))
    runs = []
    run_cals = []
    for _ in range(n_runs):
        # same-run calibration: the throttle drifts BETWEEN runs, so a
        # single session-level cal can't normalize individual runs
        run_cals.append(cal_parallel())
        t0 = time.time()
        df = load_sequences(spark, str(seq_path))
        res = run_validation_batch(spark, df, EngineConfig())
        n_verdicts = res.verdicts.count()
        n_viol = res.violations.count()
        runs.append(time.time() - t0)
        spark.catalog.clearCache()
    best = min(runs)
    best_cal = run_cals[runs.index(best)]
    srt = sorted(runs)
    median = (
        srt[len(srt) // 2]
        if len(srt) % 2
        else (srt[len(srt) // 2 - 1] + srt[len(srt) // 2]) / 2
    )
    timings["seq_validate"] = best
    extra["seq_rows"] = n_seq
    extra["seq_verdicts"] = n_verdicts
    extra["seq_violations"] = n_viol
    extra["seq_validate_runs"] = [round(x, 3) for x in runs]
    extra["seq_validate_run_cals"] = [round(x, 3) for x in run_cals]
    extra["seq_validate_median"] = round(median, 3)
    extra["validated_seqs_per_sec"] = round(n_seq / best, 1)
    extra["validated_seqs_per_sec_median"] = round(n_seq / median, 1)
    # throttle-normalized headline: best-run throughput scaled by that
    # run's own calibration vs the recorded healthy-host reference, so
    # round-over-round numbers stop being hostage to whichever throttle
    # window the driver happened to sample (raw is still published).
    # normalized = raw * (cal_same_run / REF): a throttled run (cal
    # above reference) is scaled UP to its healthy-host equivalent.
    extra["cal_parallel_ref_sec"] = REF_CAL_PARALLEL_SEC
    extra["validated_seqs_per_sec_normalized"] = round(
        (n_seq / best) * (best_cal / REF_CAL_PARALLEL_SEC), 1
    )

    # representative operator queries from the driver contract
    qs = entry_mod.queries()
    for name in (
        "likelihood_events",
        "dup_users_events",
        "pricing_summary",
        "drift_psi_events",
        "moving_average_events",
        "violations_docs",
        "minhash_pairs_docs",
        "simhash_docs",
        "embed_topk",
        "lsh_topk_embeddings",
        "lsh_topk_wide_embeddings",
        "sessionize_events",
        "session_window_events",
        "pack_docs",
        "tfidf_docs",
        "funnel_events",
        "shipping_priority",
        "region_revenue",
        "unigram_nll_docs",
        "retention_cohorts_events",
        "chunk_docs",
        "dup_spans_docs",
        "ks_drift_events",
        "trend_events",
        "order_count_dist",
        "suggested_checks_docs",
        "heavy_words_docs",
        "contaminated_ngram_docs",
        "running_zscore_events",
        "returned_revenue",
        "big_orders",
        "nation_profit",
        "supplier_cnt_parts",
        "jaccard_join_docs",
        "centroid_drift_embeddings",
        "pmi_docs",
        "wasserstein_events",
        "fdr_drift_events",
        "embed_integrity",
        "embed_dim_profile",
        "cusum_events",
        "gini_events",
        "acf_events",
        "ttr_docs",
        "zipf_docs",
        "heaps_docs",
        "mann_kendall_events",
        "truncation_docs",
        "source_overlap_docs",
        "token_budget_docs",
        "qq_drift_docs",
        "violation_bound_docs",
        "dedup_recall_docs",
        "lang_confusion_docs",
        "cube_events",
        "jsd_sources_docs",
        "bigram_nll_docs",
        "mi_events",
        "theil_sen_events",
        "ccf_events",
        "lift_events",
        "runs_test_events",
        "km_survival_events",
        "diurnal_events",
        "chao_vocab_docs",
        "cvm_drift_events",
        "readability_docs",
        "perm_entropy_events",
        "page_hinkley_events",
        "pacf_events",
        "seasonal_profile_events",
        "seasonal_anomaly_events",
        "energy_drift_events",
        "hurst_events",
        "dominant_period_events",
        "spectral_entropy_events",
        "ljung_box_events",
        "dispersion_events",
        "exp_gap_ks_events",
        "kruskal_wallis_docs",
        "brown_forsythe_docs",
        "welch_t_events",
        "arrival_profile_events",
        "embed_isotropy",
        "logrank_events",
        "transition_jsd_docs",
        "holm_drift_events",
        "json_types_events",
        "isotonic_events",
        "seasonal_mk_events",
        "pettitt_events",
        "kpss_events",
        "bm25_docs",
        "anderson_darling_docs",
        "conformal_events",
        "cochran_armitage_events",
        "bootstrap_ci_events",
        "roc_auc_events",
        "pareto_docs",
        "esd_outliers_events",
        "hill_tail_events",
        "tukey_fences_events",
        "gumbel_maxima_events",
        "hellinger_sources_docs",
        "cramers_v_events",
        "diversity_docs",
        "sprt_events",
        "wilson_events",
        "kappa_lang_docs",
        "calibration_events",
        "stuck_runs_events",
        "tail_dep_events",
        "ratio_metric_events",
        "feature_relevance_events",
        "weibull_gaps_events",
        "l_moments_events",
        "fisher_drift_events",
        "compress_ratio_docs",
        "compress_profile_docs",
        "mahalanobis_events",
        "weighted_quantiles_docs",
        "freshness_events",
        "kmv_distinct_docs",
        "kmv_overlap_docs",
        "neyman_alloc_events",
        "pagerank_embeddings",
        "dup_span_extents_docs",
        "contaminated_bloom_docs",
        "cms_est_events",
        "quantile_synopsis_events",
    ):
        # best-of-2: the host throttle varies 2-5x between moments (see
        # BENCH/BASELINE.md); seq_validate is protected by best-of-4,
        # single-shot operator queries get the same treatment cheaply
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            out = qs[name](spark, sf_dir)
            out.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = best

    total = round(sum(timings.values()), 3)
    return {
        "metric": "full validation suite + headline operators wall time",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": float(sf),
        **extra,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = Path(sf_dir).name.replace("sf", "") or "0.1"
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

    from htm_streamer_spark.session import get_spark

    spark = get_spark(app_name="bench", cores=cores, shuffle_partitions=max(cores, 16))
    try:
        result = run_bench(spark, sf_dir, sf)
        result["cores"] = cores
        print(json.dumps(result))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

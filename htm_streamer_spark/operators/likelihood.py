"""Sequential anomaly-likelihood operators (order-dependent windows).

Re-expresses the reference's stateful per-row likelihood pipeline
(/root/reference/htm_streamer/data/anomalylikelihood.py) at two tiers:

1. ``anomaly_likelihood_windowed`` — fully-native window-function form
   (one shuffle, whole-stage codegen, scales to any number of series):
   trailing moving average, trailing Gaussian fit with the reference's
   floors, Q-function via an erfc polynomial **expression**, probation
   gate, lag-based likelihood filter. Distribution is re-estimated
   continuously (every row) instead of every ``reestimationPeriod`` rows
   — the scalable engine semantics.
2. ``anomaly_likelihood_exact`` — grouped-map Arrow kernel
   (``applyInPandas`` per series, segment-vectorized numpy inside)
   reproducing the reference's exact iteration semantics: refit every
   ``reestimationPeriod`` rows from the historic deque with skipRecords
   (anomalylikelihood.py:424-467,312-328). The oracle-parity path
   (SURVEY.md §7.3.1).

Reference formula map: MA (anomalylikelihood.py:109-190), probation
flat 0.5 (:440-442), Gaussian floors (:733-742), flat-metric guard
(:530-538), Q-function 0.5*erfc(z/1.4142) with symmetric flip
(:768-788), filter (:651-680), log transform (:299-309).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from htm_streamer_spark.config import (
    FLAT_VARIANCE_GUARD,
    LOG_DENOM,
    LOG_EPS,
    MEAN_FLOOR,
    VAR_FLOOR,
)

RED_THRESHOLD = 0.99999
YELLOW_THRESHOLD = 0.999


# ---------------------------------------------------------------------------
# native expression building blocks
# ---------------------------------------------------------------------------


def erfc_expr(z: Column) -> Column:
    """Abramowitz & Stegun 7.1.26 erfc for z >= 0 as a native expression
    (codegen'd; |err| <= 1.5e-7) — same polynomial as the numpy oracle,
    so engine and oracle agree."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * z)
    poly = t * (
        F.lit(0.254829592)
        + t
        * (
            F.lit(-0.284496736)
            + t * (F.lit(1.421413741) + t * (F.lit(-1.453152027) + t * F.lit(1.061405429)))
        )
    )
    return poly * F.exp(-z * z)


def tail_probability_expr(x: Column, mean: Column, stdev: Column) -> Column:
    """Q-function with the symmetric flip below the mean
    (anomalylikelihood.py:768-788). After the flip z >= 0, so the
    single-branch erfc polynomial applies."""
    xf = F.when(x < mean, F.lit(2.0) * mean - x).otherwise(x)
    z = (xf - mean) / stdev
    return F.lit(0.5) * erfc_expr(z / F.lit(1.4142))


def log_likelihood_expr(likelihood: Column) -> Column:
    """computeLogLikelihood (anomalylikelihood.py:299-309)."""
    return F.log(F.lit(LOG_EPS) - likelihood) / F.lit(LOG_DENOM)


# ---------------------------------------------------------------------------
# tier 1: native windowed operator
# ---------------------------------------------------------------------------


def anomaly_likelihood_windowed(
    df: DataFrame,
    series_col: str = "series_id",
    order_col: str | list[str] = "ts",
    value_col: str = "value",
    score_col: str = "score",
    probation: int = 388,
    historic_window: int = 8640,
    averaging_window: int = 10,
    apply_filter: bool = True,
) -> DataFrame:
    """Windowed anomaly likelihood per series, all native expressions.

    Adds ``ma``, ``anomaly_likelihood`` and ``log_likelihood`` columns.
    All window frames share one (series, order) sort, so the physical
    plan has a single shuffle+sort feeding every window function.
    ``order_col`` may be a list — pass a tie-breaking key for
    deterministic output (W4 is order-dependent, SURVEY.md §2.5).
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w_ord = Window.partitionBy(series_col).orderBy(*order_cols)
    w_ma = w_ord.rowsBetween(-(averaging_window - 1), 0)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)

    # O(n) trailing statistics: bounded sliding frames on AVG/VAR are
    # O(n·w) in Spark's WindowExec (no retraction support — each row
    # recomputes its frame), which melts at historic_window=8640. The
    # running-sum identity sum[-w,-1] = lag(cumsum,1) - lag(cumsum,w+1)
    # turns every trailing aggregate into two O(n) cumulative sums plus
    # lags, all sharing ONE sort.
    df = df.withColumn("ma", F.avg(score_col).over(w_ma)).withColumns(
        {
            "_rn": F.row_number().over(w_ord),
            "_r1": F.sum("ma").over(w_run),
            "_r2": F.sum(F.col("ma") * F.col("ma")).over(w_run),
            "_v1": F.sum(value_col).over(w_run),
            "_v2": F.sum(F.col(value_col) * F.col(value_col)).over(w_run),
        }
    )
    h = historic_window
    df = df.withColumns(
        {
            "_l1": F.lag("_r1", 1).over(w_ord),
            "_lh1": F.lag("_r1", h + 1).over(w_ord),
            "_l2": F.lag("_r2", 1).over(w_ord),
            "_lh2": F.lag("_r2", h + 1).over(w_ord),
            "_lv1": F.lag("_v1", 1).over(w_ord),
            "_lvh1": F.lag("_v1", h + 1).over(w_ord),
            "_lv2": F.lag("_v2", 1).over(w_ord),
            "_lvh2": F.lag("_v2", h + 1).over(w_ord),
        }
    )
    cnt = F.least(F.col("_rn") - 1, F.lit(h)).cast("double")
    mean_raw = F.when(
        cnt > 0, (F.col("_l1") - F.coalesce(F.col("_lh1"), F.lit(0.0))) / cnt
    )
    var_raw = F.coalesce(
        F.when(
            cnt > 0,
            (F.col("_l2") - F.coalesce(F.col("_lh2"), F.lit(0.0))) / cnt
            - mean_raw * mean_raw,
        ),
        F.lit(0.0),
    )
    vmean = F.when(
        cnt > 0, (F.col("_lv1") - F.coalesce(F.col("_lvh1"), F.lit(0.0))) / cnt
    )
    metric_var = F.coalesce(
        F.when(
            cnt > 0,
            (F.col("_lv2") - F.coalesce(F.col("_lvh2"), F.lit(0.0))) / cnt
            - vmean * vmean,
        ),
        F.lit(0.0),
    )
    df = df.withColumns(
        {"_mean_raw": mean_raw, "_var_raw": var_raw, "_metric_var": metric_var}
    )
    is_flat = F.col("_metric_var") < F.lit(FLAT_VARIANCE_GUARD)
    mean = F.when(is_flat, F.lit(0.5)).otherwise(
        F.greatest(F.col("_mean_raw"), F.lit(MEAN_FLOOR))
    )
    stdev = F.when(is_flat, F.lit(1e3)).otherwise(
        F.sqrt(F.greatest(F.col("_var_raw"), F.lit(VAR_FLOOR)))
    )
    df = df.withColumns({"_mean": mean, "_stdev": stdev})
    raw_tail = tail_probability_expr(F.col("ma"), F.col("_mean"), F.col("_stdev"))
    lik = F.when(F.col("_rn") <= F.lit(probation), F.lit(0.5)).otherwise(
        F.lit(1.0) - raw_tail
    )
    df = df.withColumn("anomaly_likelihood_raw", lik)

    if apply_filter:
        # W4: keep only sharp increases — red-zone value whose
        # predecessor was already red is clamped to yellow (:651-680)
        red_t = 1.0 - RED_THRESHOLD
        yellow_t = 1.0 - YELLOW_THRESHOLD
        raw = F.lit(1.0) - F.col("anomaly_likelihood_raw")
        prev_raw = F.lag(raw, 1).over(w_ord)
        filtered_raw = F.when(
            (raw <= F.lit(red_t)) & (prev_raw <= F.lit(red_t)), F.lit(yellow_t)
        ).otherwise(raw)
        out = F.lit(1.0) - filtered_raw
    else:
        out = F.col("anomaly_likelihood_raw")
    return (
        df.withColumn("anomaly_likelihood", out)
        .withColumn("log_likelihood", log_likelihood_expr(F.col("anomaly_likelihood")))
        .drop(
            "anomaly_likelihood_raw",
            "_mean_raw", "_var_raw", "_metric_var", "_rn", "_mean", "_stdev",
            "_r1", "_r2", "_v1", "_v2",
            "_l1", "_lh1", "_l2", "_lh2", "_lv1", "_lvh1", "_lv2", "_lvh2",
        )
    )


# ---------------------------------------------------------------------------
# tier 2: exact grouped-map Arrow kernel
# ---------------------------------------------------------------------------


def _exact_kernel(
    probation: int,
    learning_period: int,
    historic_window: int,
    reestimation_period: int,
    averaging_window: int,
):
    """Segment-vectorized reimplementation of the per-record loop: the
    distribution only changes at refit points (i % reestimationPeriod ==
    0 or first post-probation row), so rows between refits are scored in
    one vectorized batch.

    All numeric helpers are defined INSIDE this closure so cloudpickle
    serializes them by value — the kernel runs on executors that may not
    have the package on PYTHONPATH (spark-submit without --py-files).
    """
    mean_floor, var_floor, flat_guard = MEAN_FLOOR, VAR_FLOOR, FLAT_VARIANCE_GUARD

    def _erfc(z: np.ndarray) -> np.ndarray:
        # Abramowitz & Stegun 7.1.26 — same polynomial as the oracle
        sign = np.sign(z)
        az = np.abs(z)
        t = 1.0 / (1.0 + 0.3275911 * az)
        poly = t * (
            0.254829592
            + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))
        )
        res = poly * np.exp(-az * az)
        return np.where(sign < 0, 2.0 - res, res)

    def _mov_avg(scores: np.ndarray, window: int) -> np.ndarray:
        # trailing mean incl. current, vectorized (same arithmetic order
        # as the plain-Python oracle: csum difference then divide)
        n = len(scores)
        csum = np.cumsum(scores)
        idx = np.arange(n)
        lo = np.maximum(0, idx - window + 1)
        prev = np.where(lo > 0, csum[np.maximum(lo - 1, 0)], 0.0)
        return (csum - prev) / (idx - lo + 1)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts").reset_index(drop=True)
        scores = pdf["score"].to_numpy(dtype=np.float64)
        values = pdf["value"].to_numpy(dtype=np.float64)
        n = len(pdf)
        ma = _mov_avg(scores, averaging_window)
        out = np.full(n, 0.5, dtype=np.float64)
        first = probation
        refits = [first] + [
            i for i in range(first + 1, n) if i % reestimation_period == 0
        ]
        for k, r in enumerate(refits):
            seg_end = refits[k + 1] if k + 1 < len(refits) else n
            lo = max(0, r - historic_window)
            hist_scores = scores[lo:r]
            hist_values = values[lo:r]
            shifted_out = max(0, r - historic_window)
            skip = min(r, max(0, learning_period - shifted_out))
            if len(hist_scores) == 0 or len(hist_scores) <= skip:
                mean, stdev = 0.5, 1e3
            else:
                hist_mas = _mov_avg(hist_scores, averaging_window)
                sample = hist_mas[skip:]
                mean = max(float(np.mean(sample)), mean_floor)
                var = max(float(np.var(sample)), var_floor)
                stdev = var**0.5
                if float(np.var(hist_values[skip:])) < flat_guard:
                    mean, stdev = 0.5, 1e3
            seg = ma[r:seg_end]
            flipped = np.where(seg < mean, 2 * mean - seg, seg)
            z = (flipped - mean) / stdev
            out[r:seg_end] = 1.0 - 0.5 * _erfc(z / 1.4142)
        # _filterLikelihoods (anomalylikelihood.py:651-680): the reference's
        # anomalyProbability returns 1 - FILTERED likelihood — a red-zone
        # raw tail probability whose predecessor was already red clamps to
        # yellow. Depends only on the raw sequence, so it vectorizes.
        red_t, yellow_t = 1.0 - 0.99999, 1.0 - 0.999
        raw = 1.0 - out
        prev = np.concatenate([[1.0], raw[:-1]])
        out = 1.0 - np.where((raw <= red_t) & (prev <= red_t), yellow_t, raw)
        pdf["anomaly_likelihood"] = out
        return pdf[["series_id", "ts", "value", "score", "anomaly_likelihood"]]

    return fn


def anomaly_likelihood_exact(
    df: DataFrame,
    learning_period: int = 288,
    estimation_samples: int = 100,
    historic_window: int = 8640,
    reestimation_period: int = 100,
    averaging_window: int = 10,
) -> DataFrame:
    """Reference-exact sequential likelihood via grouped-map Arrow UDF —
    one group per series (parallel across series, sequential semantics
    inside, SURVEY.md §7.3.1). Defaults match the reference
    (config--model_default.yaml:8-10; learningPeriod 288)."""
    probation = learning_period + estimation_samples
    return df.groupBy("series_id").applyInPandas(
        _exact_kernel(
            probation, learning_period, historic_window, reestimation_period, averaging_window
        ),
        schema="series_id string, ts timestamp, value double, score double, anomaly_likelihood double",
    )

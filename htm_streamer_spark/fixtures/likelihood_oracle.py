"""Plain-Python oracle for the reference's sequential anomaly-likelihood
pipeline — behavioral mirror of /root/reference/htm_streamer/data/
anomalylikelihood.py (reimplemented from its published formulas, not
copied):

- per-record iteration with probationary flat 0.5
  (anomalylikelihood.py:440-442, probationaryPeriod = learningPeriod +
  estimationSamples :273)
- distribution re-fit every ``reestimationPeriod`` iterations from the
  historic deque of (ts, value, score), with skipRecords =
  min(ingested, max(0, learningPeriod - shiftedOut)) (:312-328)
- moving-average of scores, window 10 (:109-190, 682-716)
- Gaussian fit with floors mean>=0.03, var>=0.0003 (:733-742) and the
  flat-metric guard var(metric)<1.5e-5 → null distribution (:530-538)
- tail probability = Q-function 0.5*erfc(z/1.4142), symmetric flip below
  the mean (:768-788)
- reported likelihood = 1 - tailProbability(ma) (:455-459)

Used to verify the Spark ``anomaly_likelihood_exact`` operator
row-for-row.
"""

from __future__ import annotations

import math
from collections import deque

import numpy as np

MEAN_FLOOR = 0.03
VAR_FLOOR = 0.0003
FLAT_VARIANCE_GUARD = 1.5e-5
NULL_DIST = (0.5, 1e6, 1e3)  # mean, variance, stdev


def erfc_as(z: np.ndarray | float) -> np.ndarray | float:
    """Abramowitz & Stegun 7.1.26 complementary error function
    approximation (|err| <= 1.5e-7), vectorized. Used instead of
    math.erfc so engine (Spark expression) and oracle share bit-level
    behavior."""
    z = np.asarray(z, dtype=np.float64)
    sign = np.sign(z)
    az = np.abs(z)
    t = 1.0 / (1.0 + 0.3275911 * az)
    poly = t * (
        0.254829592
        + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))
    )
    res = poly * np.exp(-az * az)
    return np.where(sign < 0, 2.0 - res, res)


def tail_probability(x: float, mean: float, stdev: float) -> float:
    """Q-function with symmetric flip below the mean
    (anomalylikelihood.py:768-788)."""
    if x < mean:
        x = 2 * mean - x
    z = (x - mean) / stdev
    return float(0.5 * erfc_as(z / 1.4142))


def estimate_normal(sample: np.ndarray, lower_bound_check: bool = True) -> tuple[float, float, float]:
    """(mean, variance, stdev) with the reference's floors
    (anomalylikelihood.py:733-742)."""
    mean = float(np.mean(sample)) if len(sample) else 0.0
    var = float(np.var(sample)) if len(sample) else 0.0
    if lower_bound_check:
        if mean < MEAN_FLOOR:
            mean = MEAN_FLOOR
        if var < VAR_FLOOR:
            var = VAR_FLOOR
    stdev = math.sqrt(var) if var > 0 else 0.0
    return mean, var, stdev


def moving_average(scores: np.ndarray, window: int = 10) -> np.ndarray:
    """Trailing mean over the last ``window`` values (incl. current) —
    MovingAverage.compute (anomalylikelihood.py:109-190)."""
    out = np.empty(len(scores), dtype=np.float64)
    csum = np.cumsum(scores)
    for i in range(len(scores)):
        lo = max(0, i - window + 1)
        out[i] = (csum[i] - (csum[lo - 1] if lo > 0 else 0.0)) / (i - lo + 1)
    return out


def fit_distribution(
    hist: deque, averaging_window: int, skip_records: int
) -> tuple[float, float, float]:
    """estimateAnomalyLikelihoods' fitting path
    (anomalylikelihood.py:470-560): MA over the historic scores, Gaussian
    over MAs[skip:], flat-metric guard on the raw values."""
    if len(hist) == 0:
        return NULL_DIST
    scores = np.array([r[2] for r in hist], dtype=np.float64)
    values = np.array([r[1] for r in hist], dtype=np.float64)
    mas = moving_average(scores, averaging_window)
    if len(mas) <= skip_records:
        return NULL_DIST
    dist = estimate_normal(mas[skip_records:])
    metric_var = estimate_normal(values[skip_records:], lower_bound_check=False)[1]
    if metric_var < FLAT_VARIANCE_GUARD:
        return NULL_DIST
    return dist


def anomaly_likelihood_series(
    values: np.ndarray,
    scores: np.ndarray,
    learning_period: int = 288,
    estimation_samples: int = 100,
    historic_window_size: int = 8640,
    reestimation_period: int = 100,
    averaging_window: int = 10,
) -> np.ndarray:
    """Sequential likelihoods for one ordered series — mirrors
    AnomalyLikelihood.anomalyProbability's per-record loop
    (anomalylikelihood.py:424-467), INCLUDING the _filterLikelihoods
    step the reference applies before returning (updateAnomalyLikelihoods
    filters, anomalyProbability returns 1 - filtered[-1]). Returns
    reported likelihood in [0,1] (closer to 1 = more anomalous)."""
    probation = learning_period + estimation_samples
    hist: deque = deque(maxlen=historic_window_size)
    ma_hist: deque = deque(maxlen=averaging_window)
    dist = None
    out = np.empty(len(scores), dtype=np.float64)
    for i in range(len(scores)):
        if i < probation:
            out[i] = 0.5
        else:
            if dist is None or i % reestimation_period == 0:
                shifted_out = max(0, i - historic_window_size)
                skip = min(i, max(0, learning_period - shifted_out))
                dist = fit_distribution(hist, averaging_window, skip)
            # current point's MA continues the historic MA state
            ma_vals = list(ma_hist) + [scores[i]]
            ma = float(np.mean(ma_vals[-averaging_window:]))
            out[i] = 1.0 - tail_probability(ma, dist[0], dist[2])
        hist.append((i, float(values[i]), float(scores[i])))
        ma_hist.append(float(scores[i]))
    return filter_likelihoods(out)


def filter_likelihoods(
    likelihoods: np.ndarray, red: float = 0.99999, yellow: float = 0.999
) -> np.ndarray:
    """_filterLikelihoods (anomalylikelihood.py:651-680): operate on raw
    tail probabilities (small = anomalous); keep only sharp increases —
    a value in the red zone whose predecessor was already red is clamped
    to yellow. Input here is the REPORTED likelihood (1 - tailprob);
    convert, filter, convert back."""
    raw = 1.0 - np.asarray(likelihoods, dtype=np.float64)
    red_t = 1.0 - red
    yellow_t = 1.0 - yellow
    out = raw.copy()
    for i in range(1, len(raw)):
        if raw[i] <= red_t and raw[i - 1] <= red_t:
            out[i] = yellow_t
    return 1.0 - out


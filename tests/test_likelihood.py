"""Order-dependent likelihood operators vs the sequential oracle
(SURVEY.md §2.4 A3-A4, §2.5 W1-W4, §2.8 F4-F6)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from htm_streamer_spark.fixtures.generator import generate_series
from htm_streamer_spark.fixtures.likelihood_oracle import (
    anomaly_likelihood_series,
    erfc_as,
    filter_likelihoods,
)
from htm_streamer_spark.operators.likelihood import (
    anomaly_likelihood_exact,
    anomaly_likelihood_windowed,
    erfc_expr,
)

PARAMS = dict(
    learning_period=288,
    estimation_samples=100,
    historic_window=8640,
    reestimation_period=100,
    averaging_window=10,
)


@pytest.fixture(scope="module")
def series_pdf() -> pd.DataFrame:
    cols = generate_series(n_series=3, rows_per_series=2000)
    return pd.DataFrame(
        {
            "series_id": cols["series_id"],
            "ts": pd.to_datetime(cols["ts"], unit="s", utc=True).tz_localize(None),
            "value": cols["value"],
            "score": cols["score"],
        }
    )


@pytest.fixture(scope="module")
def series_sdf(spark, series_pdf):
    return spark.createDataFrame(series_pdf)


def test_erfc_expr_matches_numpy(spark):
    zs = np.linspace(0, 5, 101)
    pdf = pd.DataFrame({"z": zs})
    got = (
        spark.createDataFrame(pdf)
        .select(erfc_expr(F.col("z")).alias("e"))
        .toPandas()["e"]
        .to_numpy()
    )
    np.testing.assert_allclose(got, erfc_as(zs), rtol=0, atol=1e-12)


def test_exact_operator_matches_sequential_oracle(series_sdf, series_pdf):
    got = (
        anomaly_likelihood_exact(series_sdf, **{k: v for k, v in PARAMS.items()})
        .orderBy("series_id", "ts")
        .toPandas()
    )
    for sid, grp in series_pdf.groupby("series_id"):
        grp = grp.sort_values("ts")
        want = anomaly_likelihood_series(
            grp["value"].to_numpy(),
            grp["score"].to_numpy(),
            learning_period=PARAMS["learning_period"],
            estimation_samples=PARAMS["estimation_samples"],
            historic_window_size=PARAMS["historic_window"],
            reestimation_period=PARAMS["reestimation_period"],
            averaging_window=PARAMS["averaging_window"],
        )
        have = got[got["series_id"] == sid]["anomaly_likelihood"].to_numpy()
        np.testing.assert_allclose(have, want, atol=1e-12)


def test_exact_operator_probation_flat(series_sdf):
    got = anomaly_likelihood_exact(series_sdf).toPandas()
    probation = PARAMS["learning_period"] + PARAMS["estimation_samples"]
    for _, grp in got.groupby("series_id"):
        grp = grp.sort_values("ts")
        assert (grp["anomaly_likelihood"].iloc[:probation] == 0.5).all()


def test_windowed_detects_spikes(series_sdf, series_pdf):
    got = (
        anomaly_likelihood_windowed(series_sdf, probation=388)
        .orderBy("series_id", "ts")
        .toPandas()
    )
    # injected spikes have score 0.95; normal scores are ~0.05-0.15
    post = got.groupby("series_id").apply(lambda g: g.iloc[388:], include_groups=False)
    spikes = post[post["score"] > 0.9]
    normal = post[post["score"] < 0.2]
    assert len(spikes) > 0
    assert (spikes["anomaly_likelihood"] > 0.99).mean() > 0.8
    assert (normal["anomaly_likelihood"] < 0.9).mean() > 0.95


def test_windowed_filter_matches_oracle_filter(series_sdf, series_pdf):
    unfiltered = (
        anomaly_likelihood_windowed(series_sdf, probation=388, apply_filter=False)
        .orderBy("series_id", "ts")
        .toPandas()
    )
    filtered = (
        anomaly_likelihood_windowed(series_sdf, probation=388, apply_filter=True)
        .orderBy("series_id", "ts")
        .toPandas()
    )
    for sid in unfiltered["series_id"].unique():
        raw = unfiltered[unfiltered["series_id"] == sid]["anomaly_likelihood"].to_numpy()
        want = filter_likelihoods(raw)
        have = filtered[filtered["series_id"] == sid]["anomaly_likelihood"].to_numpy()
        np.testing.assert_allclose(have, want, atol=1e-12)


def test_windowed_single_shuffle(series_sdf):
    """All window frames must share one partitionBy(series) sort — the
    physical plan should contain exactly one Exchange for the windows."""
    plan = anomaly_likelihood_windowed(series_sdf)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_exact_operator_applies_filter_clamp(spark):
    """ADVICE regression: consecutive red-zone anomalies must clamp to
    the yellow likelihood (0.999) like the reference's _filterLikelihoods
    — not report >0.99999 forever."""
    import pandas as pd

    n = 600
    scores = np.full(n, 0.05)
    scores[500:520] = 0.99  # a sustained red-zone burst
    pdf = pd.DataFrame(
        {
            "series_id": "s",
            "ts": pd.date_range("2026-01-01", periods=n, freq="min"),
            "value": np.linspace(0, 50, n) + np.tile([0, 3, -2, 5, 1], n // 5),
            "score": scores,
        }
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        anomaly_likelihood_exact(
            sdf, learning_period=288, estimation_samples=100,
            historic_window=8640, reestimation_period=100, averaging_window=10,
        )
        .orderBy("ts")
        .toPandas()["anomaly_likelihood"]
        .to_numpy()
    )
    burst = got[505:515]  # deep inside the burst: predecessors are red
    # the clamp writes the yellow likelihood EXACTLY (1 - 1e-3)
    np.testing.assert_allclose(burst, 0.999, rtol=0, atol=1e-12)
    assert got[500] > 0.99999  # the burst's FIRST red row is not clamped

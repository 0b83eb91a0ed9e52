"""Empty-input behavior pins for the round-4 operator additions —
an empty table (or empty group) must degrade to an empty/NULL result,
never a crash (the engine contract every operator shares; cf. the
pq_topk empty-query guard this round's ADVICE demanded)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.fixture(scope="module")
def empty_events(spark):
    return spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_heaps_empty(spark, empty_docs):
    from htm_streamer_spark.operators.lm import heaps_fit

    row = heaps_fit(empty_docs, n_buckets=32).collect()[0]
    assert row["n_points"] == 0 and row["beta"] is None


def test_mann_kendall_empty(spark, empty_events):
    from htm_streamer_spark.operators.stattests import mann_kendall

    assert mann_kendall(empty_events, "event_type", "ts").count() == 0


def test_histogram_spikes_empty(spark, empty_docs):
    from htm_streamer_spark.operators.stattests import histogram_spikes

    assert histogram_spikes(empty_docs, "n_chars", width=16).count() == 0


def test_quantile_qq_drift_empty(spark, empty_docs):
    from htm_streamer_spark.operators.stattests import quantile_qq_drift

    assert quantile_qq_drift(empty_docs, "source", "n_chars").count() == 0


def test_token_budget_empty(spark, empty_docs):
    from htm_streamer_spark.operators.textstats import token_budget

    assert token_budget(empty_docs).count() == 0


def test_cross_source_overlap_empty(spark, empty_docs):
    from htm_streamer_spark.operators.contamination import cross_source_overlap

    assert cross_source_overlap(empty_docs).count() == 0


def test_violation_certificate_empty(spark, empty_docs):
    from htm_streamer_spark.operators.certify import violation_rate_certificate

    out = violation_rate_certificate(
        empty_docs, {"short": F.col("n_chars") < 60}, id_col="doc_id"
    ).collect()
    assert len(out) == 1  # one row per check, even over nothing
    assert out[0]["n_sampled"] == 0
    assert out[0]["n_violations"] == 0
    assert out[0]["rate"] is None and out[0]["upper_bound"] is None


def test_winnow_empty_and_blank(spark):
    from htm_streamer_spark.operators.textstats import winnow_fingerprints

    blank = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["   "]})
    )
    assert winnow_fingerprints(blank).count() == 0
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert winnow_fingerprints(empty).count() == 0

"""Quantile binning: exact quartiles vs a pandas qcut-style oracle and
bin population balance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htm_streamer_spark.operators.binning import quantile_bins_exact


@pytest.fixture(scope="module")
def docs(spark):
    # quality = deterministic pseudo-random per doc, two strata
    return spark.range(4_000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        ((F.col("id") * 2654435761) % 10_007).cast("double").alias("quality"),
    )


def test_exact_bins_match_rank_oracle(spark, docs):
    got = {r.doc_id: r.bin for r in quantile_bins_exact(docs, "quality").collect()}
    pdf = docs.toPandas()
    for lang, g in pdf.groupby("lang"):
        g = g.sort_values(["quality", "doc_id"]).reset_index(drop=True)
        n = len(g)
        for i, doc in enumerate(g["doc_id"]):
            pr = i / (n - 1)
            want = min(int(pr * 4), 3)
            assert got[doc] == want, (doc, got[doc], want)


def test_exact_bins_balanced(spark, docs):
    out = quantile_bins_exact(docs, "quality")
    counts = out.groupBy("lang", "bin").count().collect()
    for r in counts:
        assert r["count"] == pytest.approx(500, rel=0.02), r

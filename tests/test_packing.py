"""Sequence packing: contiguous-stream ids vs a pandas cumsum oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htm_streamer_spark.operators.packing import pack_contiguous

CAP = 100


@pytest.fixture(scope="module")
def docs(spark):
    # deterministic lengths 5..96, ids zero-padded so string sort == int sort
    return spark.range(500).select(
        F.format_string("d%05d", F.col("id")).alias("doc_id"),
        ((F.col("id") * 37) % 92 + 5).cast("int").alias("n_tok"),
    )


def test_contiguous_matches_cumsum_oracle(spark, docs):
    got = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in pack_contiguous(docs, CAP).collect()
    }
    pdf = docs.toPandas().sort_values("doc_id")
    excl = pdf["n_tok"].cumsum() - pdf["n_tok"]
    want = {
        d: (int(e // CAP), int(e)) for d, e in zip(pdf["doc_id"], excl)
    }
    assert got == want

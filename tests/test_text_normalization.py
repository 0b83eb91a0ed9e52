"""The run-extracting text normalizers equal the negated-class deletes
they replace (the forms the DuckDB oracles still use), on adversarial
strings and on the sf0.001 documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htm_streamer_spark.operators.dedup import normalized_text, normalized_words
from htm_streamer_spark.operators.textstats import punctuation_count

SF_DIR = "/root/testdata/sf0.001"


def _ref_text(x):
    return F.regexp_replace(F.lower(x), r"[^a-z0-9 ]", "")


def _ref_words(x):
    return F.filter(F.split(_ref_text(x), r"\s+"), lambda w: w != "")


def _ref_punct(x):
    return F.length(F.regexp_replace(x, r"[^.,;:!?]", ""))


@pytest.fixture(scope="module")
def texts(spark, tricky_texts):
    tricky = spark.createDataFrame([(t,) for t in tricky_texts], "text string")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text")
    return tricky.unionByName(docs)


@pytest.mark.parametrize(
    "new, ref",
    [
        (normalized_text, _ref_text),
        (normalized_words, _ref_words),
        (punctuation_count, _ref_punct),
    ],
    ids=["normalized_text", "normalized_words", "punctuation_count"],
)
def test_matches_negated_class_reference(texts, new, ref):
    t = F.col("text")
    rows = texts.select("text", new(t).alias("new"), ref(t).alias("ref")).collect()
    assert len(rows) > 100  # the documents table was read
    bad = [(r.text, r.new, r.ref) for r in rows if r.new != r.ref]
    assert not bad, bad[:5]


def test_known_answers(spark):
    df = spark.createDataFrame(
        [("Don't  STOP-me\tnow, \u212aelvin!",)], "text string"
    )
    r = df.select(
        normalized_text(F.col("text")).alias("s"),
        normalized_words(F.col("text")).alias("w"),
        punctuation_count(F.col("text")).alias("p"),
    ).first()
    # the tab is dropped, not turned into a word break; the Kelvin sign
    # lowercases to ASCII k
    assert r.s == "dont  stopmenow kelvin"
    assert r.w == ["dont", "stopmenow", "kelvin"]
    assert r.p == 2

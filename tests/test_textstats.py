"""Text analysis operators on the driver's documents table + crafted rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htm_streamer_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def crafted(spark):
    rows = [
        (1, "the cat and the dog went to the house of the king in the morning"),
        (2, "der Hund und die Katze und das Haus der ist gut und der Mann"),
        (3, "le chat et les chiens et la maison des rois le matin et le soir"),
        (4, "el perro que los gatos en el jardin de la casa que los ninos"),
        (5, ""),
        (6, "xyzzy"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lang_id_crafted(crafted):
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(crafted).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "es"


def test_token_count(crafted):
    got = {r["doc_id"]: r for r in token_count(crafted).collect()}
    assert got[1]["n_ws_tokens"] == 15
    assert got[5]["n_ws_tokens"] == 0
    assert got[6]["n_ws_tokens"] == 1
    # BPE-ish >= whitespace count for any text with punctuation/digits
    assert got[1]["n_bpe_ish"] >= got[1]["n_ws_tokens"]


def test_quality_score_bounds(docs):
    got = quality_score(docs).collect()
    for r in got:
        assert 0.0 <= r["quality"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0


def test_quality_discriminates(crafted):
    got = {r["doc_id"]: r["quality"] for r in quality_score(crafted).collect()}
    assert got[1] > got[6]  # real sentence beats garbage token
    assert got[1] > got[5]  # and beats empty


def test_fingerprint_normalization(spark, tricky_texts):
    rows = [(1, "Hello, World!"), (2, "hello world"), (3, "HELLO-WORLD"), (4, "different")]
    rows += [(10 + i, t) for i, t in enumerate(tricky_texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: r["fp"] for r in fingerprint(df).collect()}
    assert fps[1] == fps[2] == fps[3]
    assert fps[4] != fps[1]
    # the md5 of the negated-class delete the DuckDB oracle computes
    ref = df.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), r"[^a-z0-9]", "")).alias("fp"),
    )
    assert fps == {r["doc_id"]: r["fp"] for r in ref.collect()}


def test_on_real_documents(docs):
    n = docs.count()
    assert lang_id(docs).count() == n
    assert token_count(docs).filter(F.col("n_ws_tokens") <= 0).count() == 0


def test_winnow_shared_substring_shares_fingerprints(spark):
    """Winnowing guarantee: documents sharing a long substring share
    fingerprints regardless of position; unrelated docs (almost surely)
    don't collide."""
    from htm_streamer_spark.operators.textstats import winnow_fingerprints

    common = "the quick brown fox jumps over the lazy dog near the river bank " * 3
    rows = [
        (1, "intro text before anything. " + common),
        (2, common + " completely different trailing content follows here"),
        (3, "spark shuffles partitions executors tasks stages metrics "
            "catalyst tungsten codegen arrow pandas numpy columns rows"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(df)
    import collections

    by_doc = collections.defaultdict(set)
    for r in fp.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    assert len(by_doc[1] & by_doc[2]) > 0  # shared substring -> shared fps
    assert len(by_doc[1] & by_doc[3]) == 0
    assert len(by_doc[2] & by_doc[3]) == 0


def test_winnow_short_and_empty_docs(spark):
    from htm_streamer_spark.operators.textstats import winnow_fingerprints

    rows = [(1, "just four little words"), (2, ""), (3, "a b"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["fp"] for r in winnow_fingerprints(df).collect()}
    assert 1 in got          # short doc -> exactly one fingerprint
    assert 2 not in got      # no grams -> no rows
    assert 3 not in got
    assert 4 not in got

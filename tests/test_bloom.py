"""Bloom-gated decontamination: exact-output equivalence to the plain
equi-join strategy, false-positive economics, and map-side pruning
evidence (operators/bloom.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from htm_streamer_spark.operators.bloom import (
    bloom_bits,
    bloom_build,
    bloom_gate,
    contaminated_pairs_bloom,
)
from htm_streamer_spark.operators.contamination import (
    _doc_grams,
    contaminated_pairs_ngram,
    derive_ngram_probes,
)

SF_DIR = "/root/testdata/sf0.001"


def _pairs(df):
    return sorted((r.doc_id, r.probe_id) for r in df.collect())


def test_bloom_equals_plain_join_on_real_docs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probes = derive_ngram_probes(docs, every=13, start=4, n=3)
    plain = _pairs(contaminated_pairs_ngram(docs, probes, n=3))
    gated = _pairs(contaminated_pairs_bloom(docs, probes, n=3))
    assert len(plain) > 0
    assert gated == plain


def test_bloom_no_false_negatives_every_member_passes(spark):
    items = spark.range(0, 2000).select(
        F.concat(F.lit("item-"), F.col("id")).alias("gram")
    )
    bits = bloom_bits(bloom_build(items, "gram", m_bits=1 << 14, k=5), 1 << 14)
    passed = bloom_gate(items, "gram", bits, 1 << 14, k=5).count()
    assert passed == 2000  # a Bloom filter NEVER drops a member


def test_bloom_false_positive_rate_near_theory(spark):
    m, k, n_items = 1 << 13, 5, 1000
    members = spark.range(0, n_items).select(
        F.concat(F.lit("m-"), F.col("id")).alias("gram")
    )
    bits = bloom_bits(bloom_build(members, "gram", m_bits=m, k=k), m)
    outsiders = spark.range(0, 20000).select(
        F.concat(F.lit("x-"), F.col("id")).alias("gram")
    )
    fp = bloom_gate(outsiders, "gram", bits, m, k=k).count()
    fpp = (1.0 - math.exp(-k * n_items / m)) ** k  # ~0.02 at these params
    assert fp / 20000 < 3 * fpp
    assert fp > 0  # params chosen so the rate is measurably nonzero


def test_gate_prunes_before_shuffle(spark):
    """The point of the operator: the gate output (what would shuffle)
    is a tiny fraction of the corpus gram stream, and the gate sits
    below any exchange in the plan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probes = derive_ngram_probes(docs, every=13, start=4, n=3)
    grams = _doc_grams(docs, "text", 3)
    bits = bloom_bits(bloom_build(probes, "gram", 1 << 20, 5), 1 << 20)
    survivors = bloom_gate(grams, "gram", bits, 1 << 20, 5)
    total, kept = grams.count(), survivors.count()
    assert kept < total * 0.01  # >99% of the shuffle traffic eliminated
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    # the only exchange is the single-file scan fan-out (round-robin,
    # BELOW the gram explode); no hash/join exchange separates the gram
    # stream from the gate — the filter is map-side where it matters
    assert plan.count("Exchange") == 1
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning" not in plan.lower()


def test_empty_probes_empty_result(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    probes = derive_ngram_probes(docs, every=13, start=4, n=3).filter(F.lit(False))
    out = contaminated_pairs_bloom(docs, probes, n=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "probe_id"]


def test_partitioning_invariance(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probes = derive_ngram_probes(docs, every=13, start=4, n=3)
    base = _pairs(contaminated_pairs_bloom(docs, probes, n=3))
    shuffled = _pairs(
        contaminated_pairs_bloom(docs.repartition(17), probes.repartition(3), n=3)
    )
    assert shuffled == base


def test_bad_m_bits_raises(spark):
    items = spark.range(1).select(F.lit("a").alias("gram"))
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(items, "gram", m_bits=100)

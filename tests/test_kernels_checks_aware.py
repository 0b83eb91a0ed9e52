"""The fused Arrow kernel must honor cfg.checks and null-token semantics.

Regression tests for two divergences: (1) the fused clean mask used to
hard-code all five row checks while the native path honored cfg.checks,
so disabling a check changed the clean-row histograms only on one path;
(2) null token arrays flattened to length 0 in Arrow (firing
len_mismatch/empty) while native F.size(NULL) is NULL. Both histogram
families the kernel emits (tokens and n_tok) are checked against their
native references, for the flagship pass and for the baseline fit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htm_streamer_spark.config import SEQUENCES_SCHEMA, EngineConfig
from htm_streamer_spark.operators.drift import (
    FAMILIES,
    featurize_and_token_histogram,
    ntok_histogram,
)
from htm_streamer_spark.operators.invariants import featurize, row_check_flags
from htm_streamer_spark.functions.array_funcs import token_bucket_expr
from htm_streamer_spark.plans.validation_plan import compute_baseline


@pytest.fixture(scope="module")
def messy(spark):
    """Small frame exercising every dirty-row species, incl. null tokens."""
    rows = [
        ("d0", [1, 2, 3], 3, "web", None, 0),          # clean
        ("d1", [5, 6], 3, "web", None, 0),             # len_mismatch
        ("d2", [99999999], 1, "web", None, 0),         # token_range
        ("d3", [], 0, "web", None, 1),                 # empty_tokens
        ("d4", [7], 1, "nope", None, 1),               # bad_source
        ("d5", [8, 9], None, "web", None, 1),          # null_n_tok
        ("d6", None, 2, "web", None, 1),               # null tokens
        ("d7", [10, 11, 12, 13], 4, "books", None, 1), # clean
        ("d8", list(range(600)), 600, "web", None, 1), # clean, n_tok > NTOK_MAX
        ("d9", [1, 2], 700, "web", None, 0),           # len_mismatch, n_tok > NTOK_MAX
        ("d10", [3], -2, "books", None, 0),            # len_mismatch, n_tok < 0
    ]
    return spark.createDataFrame(rows, schema=SEQUENCES_SCHEMA)


def _native_hists(df, cfg):
    """The non-fused references, keyed by ``FAMILIES`` name: native
    flags -> filter -> explode/count for tokens, ``ntok_histogram`` for
    n_tok. Rows are (part_id, bucket, cnt)."""
    flags = row_check_flags(featurize(df, cfg), cfg).select("doc_id", "any_violation")
    clean = df.join(flags, "doc_id").filter(~F.col("any_violation"))
    tok = (
        clean.select(
            "part_id",
            F.explode(
                F.transform(
                    "tokens",
                    lambda t: token_bucket_expr(t, cfg.tok_hist_buckets, cfg.vocab_size),
                )
            ).alias("bucket"),
        )
        .groupBy("part_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return {"tok": tok, "ntok": ntok_histogram(clean, cfg)}


def _collect(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


CHECK_SETS = [
    ("null_n_tok", "len_mismatch", "token_range", "empty_tokens", "bad_source"),
    ("len_mismatch",),
    ("token_range", "bad_source"),
    ("empty_tokens",),
    ("null_n_tok", "bad_source"),
]


@pytest.mark.parametrize("checks", CHECK_SETS, ids=["all", "len", "range+src", "empty", "null+src"])
def test_checked_hist_matches_native_per_checkset(spark, messy, checks):
    """The baseline fit reads the flagship's kernel: its per-family
    histograms equal the native references summed over part_id, and it
    persists nothing."""
    cfg = EngineConfig(checks=checks)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    base = compute_baseline(messy, cfg, [0, 1])
    assert base["part_ids"] == [0, 1]
    for name, native in _native_hists(messy, cfg).items():
        want = native.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
        assert _collect(base[name]) == _collect(want), name
    # only new ids count: the JVM's GC may drop RDDs other tests left
    # persisted from the weak-valued registry at any time
    added = set(jsc.getPersistentRDDs().keySet()) - before
    assert not added, added


def _release(spark):
    """The returned frames are filters over the kernel output that
    featurize_and_token_histogram persisted, so unpersisting them does
    nothing: drop the persisted frame from the cache manager itself."""
    spark.catalog.clearCache()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("checks", CHECK_SETS, ids=["all", "len", "range+src", "empty", "null+src"])
def test_fused_featurize_hist_matches_native_per_checkset(spark, messy, checks):
    cfg = EngineConfig(checks=checks)
    _, hist = featurize_and_token_histogram(messy, cfg)
    native = _native_hists(messy, cfg)
    for family, name in enumerate(FAMILIES):
        got = (
            hist.filter(F.col("family") == family)
            .groupBy("part_id", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        assert _collect(got) == _collect(native[name]), name
    _release(spark)


def test_fused_narrow_frame_matches_native_featurize(spark, messy):
    """tok_len must be NULL (not 0) for null token arrays; tok_oob False."""
    cfg = EngineConfig()
    narrow, _ = featurize_and_token_histogram(messy, cfg)
    fused = {r["doc_id"]: (r["tok_len"], r["tok_oob"]) for r in narrow.collect()}
    native = {r["doc_id"]: (r["tok_len"], r["tok_oob"]) for r in featurize(messy, cfg).collect()}
    assert fused == native
    assert fused["d6"] == (None, False)
    _release(spark)

"""Constraint suggestion loop (operators/suggestions.py): profile →
suggest → enforce."""

import json

import pytest

from htm_streamer_spark.operators.suggestions import (
    check_constraints,
    suggest_constraints,
)


def _clean(spark, n=500):
    rows = [
        (float(i % 100), "cat%d" % (i % 4), "id%06d" % i) for i in range(n)
    ]
    return spark.createDataFrame(rows, "v double, cat string, uid string")


def test_suggested_spec_shape(spark):
    spec = suggest_constraints(_clean(spark), ["v"], ["cat", "uid"])
    kinds = {(c["column"], c["kind"]) for c in spec}
    assert ("v", "not_null") in kinds
    assert ("v", "min_bound") in kinds and ("v", "max_bound") in kinds
    assert ("cat", "in_domain") in kinds
    # high-cardinality uid must NOT get a domain constraint
    assert ("uid", "in_domain") not in kinds
    dom = next(c for c in spec if c["kind"] == "in_domain")
    assert dom["values"] == ["cat0", "cat1", "cat2", "cat3"]
    lo = next(c for c in spec if c["kind"] == "min_bound")
    hi = next(c for c in spec if c["kind"] == "max_bound")
    assert lo["value"] < 0 < 99 < hi["value"]  # padded outward


def test_self_check_passes(spark):
    # the core property: data satisfies the spec suggested from it
    df = _clean(spark)
    spec = suggest_constraints(df, ["v"], ["cat", "uid"])
    out = check_constraints(df, spec).collect()
    assert out and all(r["passed"] for r in out)


def test_corruptions_fail_exactly_the_right_constraints(spark):
    clean = _clean(spark)
    spec = suggest_constraints(clean, ["v"], ["cat", "uid"])
    bad = spark.createDataFrame(
        [
            (None, "cat0", "idx"),      # null v
            (1e9, "cat1", "idy"),       # v over max bound
            (5.0, "catNEW", "idz"),     # out-of-domain category
            (7.0, "cat2", "idok"),      # clean row
        ],
        "v double, cat string, uid string",
    )
    res = {r["constraint_id"]: r for r in check_constraints(bad, spec).collect()}
    assert res["v.not_null"]["n_violations"] == 1
    assert res["v.max_bound"]["n_violations"] == 1
    assert res["v.min_bound"]["n_violations"] == 0
    assert res["cat.in_domain"]["n_violations"] == 1
    assert res["uid.not_null"]["passed"]


def test_pad_tolerates_fresh_edge_data(spark):
    clean = _clean(spark)  # v in [0, 99]
    spec = suggest_constraints(clean, ["v"], [], pad_frac=0.05)
    fresh = spark.createDataFrame(
        [(101.0,)], "v double"
    )  # just past old max, inside the 5% pad (99 + 4.95)
    res = {r["constraint_id"]: r for r in check_constraints(fresh, spec).collect()}
    assert res["v.max_bound"]["passed"]


def test_spec_json_roundtrip(spark):
    spec = suggest_constraints(_clean(spark), ["v"], ["cat"])
    # the spec is plain driver-side metadata: it survives JSON as is
    again = json.loads(json.dumps(spec, sort_keys=True))
    assert again == spec
    out = check_constraints(_clean(spark), again).collect()
    assert all(r["passed"] for r in out)


def test_empty_spec_empty_result(spark):
    out = check_constraints(_clean(spark), [])
    assert out.count() == 0

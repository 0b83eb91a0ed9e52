"""Count-Min sketch (operators/cms.py): estimates never undershoot, the
error bound holds, counters are additive across slices, and weights
add up."""

import math

import numpy as np
import pandas as pd

from htm_streamer_spark.operators.cms import cms_estimate, cms_sketch


def _items(n=5000, n_distinct=400, seed=3):
    rng = np.random.default_rng(seed)
    # zipf-ish skew so there are real heavy hitters
    z = rng.zipf(1.5, size=n) % n_distinct
    return pd.DataFrame({"item": [f"u{v}" for v in z]})


def test_estimate_upper_bounds_exact_and_meets_error_bound(spark):
    pdf = _items()
    d, w = 4, 1024
    df = spark.createDataFrame(pdf)
    sk = cms_sketch(df, "item", d=d, w=w)
    probes = df.distinct()
    est = cms_estimate(sk, probes, "item", d=d, w=w).toPandas().set_index("item")["est"]
    exact = pdf.value_counts("item")
    n_total = len(pdf)
    eps = math.e / w
    over = 0
    for item, ex in exact.items():
        assert est[item] >= ex  # CMS never undershoots
        if est[item] - ex > eps * n_total:
            over += 1
    # P(overshoot > eps*N) <= e^-d per item; allow 3x slack
    assert over <= max(3, 3 * math.exp(-d) * len(exact))


def test_unseen_item_estimates_from_cells_or_zero(spark):
    df = spark.createDataFrame(_items(n=300, n_distinct=20))
    sk = cms_sketch(df, "item", d=4, w=2048)
    ghosts = spark.createDataFrame(pd.DataFrame({"item": [f"ghost{i}" for i in range(50)]}))
    est = cms_estimate(sk, ghosts, "item", d=4, w=2048).toPandas()["est"]
    # wide sketch, tiny input: most ghost cells are empty -> est 0
    assert (est == 0).mean() > 0.8
    assert (est >= 0).all()


def test_sketch_is_additive_across_slices(spark):
    pdf = _items(n=2000)
    df = spark.createDataFrame(pdf)
    whole = cms_sketch(df, "item", d=4, w=256).toPandas()
    a = cms_sketch(spark.createDataFrame(pdf.iloc[:777]), "item", d=4, w=256).toPandas()
    b = cms_sketch(spark.createDataFrame(pdf.iloc[777:]), "item", d=4, w=256).toPandas()
    merged = (
        pd.concat([a, b])
        .groupby(["row_idx", "col_idx"], as_index=False)["cnt"]
        .sum()
    )
    key = ["row_idx", "col_idx"]
    got = merged.sort_values(key).reset_index(drop=True)
    want = whole.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_weighted_counts(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"item": ["a", "a", "b"], "n": [5, 2, 3]})
    )
    sk = cms_sketch(df, "item", d=4, w=4096, count_col="n")
    est = (
        cms_estimate(sk, df.select("item").distinct(), "item", d=4, w=4096)
        .toPandas()
        .set_index("item")["est"]
    )
    assert est["a"] >= 7 and est["b"] >= 3

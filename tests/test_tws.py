"""Running z-score (streaming/tws.py): the window chain against a
sequential pandas reference, per key."""

from __future__ import annotations

import numpy as np
import pandas as pd

from htm_streamer_spark.streaming.tws import running_zscore_batch


def _series(n=300, seed=11, key="k0"):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "key": key,
            "ts": pd.date_range("2026-02-01", periods=n, freq="min"),
            "value": rng.normal(10, 3, n),
        }
    )


def _pandas_reference(pdf):
    out = []
    cnt = s1 = s2 = 0.0
    for v in pdf["value"]:
        if cnt >= 2:
            m = s1 / cnt
            var = max(s2 / cnt - m * m, 1e-9)
            out.append((v - m) / np.sqrt(var))
        else:
            out.append(0.0)
        cnt += 1
        s1 += v
        s2 += v * v
    return np.array(out)


def test_batch_twin_equals_kernel(spark):
    pdf = pd.concat([_series(120, seed=1, key="a"), _series(80, seed=2, key="b")])
    got = (
        running_zscore_batch(
            spark.createDataFrame(pdf), "key", "ts", "value"
        )
        .orderBy("key", "ts")
        .toPandas()
    )
    for key, grp in pdf.groupby("key"):
        want = _pandas_reference(grp.sort_values("ts"))
        sel = got[got["key"] == key].sort_values("ts")["zscore"].to_numpy()
        np.testing.assert_allclose(sel, want, atol=1e-10)

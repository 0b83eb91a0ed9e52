"""Per-key expanding-window z-score as one window expression chain,
called by the ``running_zscore_events`` query.

Semantics:

- rows of one key are ordered by ``ts`` (``order_cols`` break ties);
- ``zscore`` for a row uses the mean/variance of all PRIOR rows of
  that key, so the first two rows score 0 (a variance from <2 samples
  is undefined);
- the variance is floored at ``VAR_FLOOR`` so a flat prefix cannot
  divide by zero.

Reference analog: the per-metric running mean/std of the reference's
anomaly-likelihood window (pipeline/htm_stream_runner.py), a Python
dict per series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["running_zscore_batch"]

VAR_FLOOR = 1e-9


def running_zscore_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_cols=(),
    keep_cols=(),
) -> DataFrame:
    """Prior-row cumulative moments per key as one window expression
    chain. ``order_cols`` breaks ts ties deterministically;
    ``keep_cols`` pass through untouched."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, *order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = F.col(value_col).cast("double")
    cnt_prev = F.count(x).over(w)
    mean_prev = F.sum(x).over(w) / cnt_prev
    var_prev = F.sum(x * x).over(w) / cnt_prev - mean_prev * mean_prev
    z = F.when(
        cnt_prev >= 2,
        (x - mean_prev)
        / F.sqrt(F.greatest(var_prev, F.lit(VAR_FLOOR))),
    ).otherwise(F.lit(0.0))
    w_all = Window.partitionBy(key_col).orderBy(ts_col, *order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.select(
        *[F.col(c) for c in keep_cols],
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("ts"),
        x.alias("value"),
        F.count(x).over(w_all).alias("n_seen"),
        z.alias("zscore"),
    )

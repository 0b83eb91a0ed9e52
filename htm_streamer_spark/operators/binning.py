"""Quantile binning: assign each row to a quality/size quartile (or
n-ile) within its stratum — the curriculum-bucketing / quality-tiering
op of a training pipeline ("train on the top quartile first").

- ``quantile_bins_exact``: percent_rank window per stratum with a
  unique tie-break → bin = floor(rank·n). Exact and deterministic, so
  it has a DuckDB oracle; cost = one shuffle + one sort per stratum,
  and a mega-stratum serializes in one window task (the same accepted
  per-key bound as the likelihood/as-of windows — fine for strata like
  language, wrong for a single global stratum at 10^12 rows).
- ``quantile_synopsis``: per-group quantiles of a deterministic hash
  sample with a distribution-free (DKW) error bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def quantile_bins_exact(
    df: DataFrame,
    col: str,
    n_bins: int = 4,
    strata_col: str = "lang",
    tiebreak: str = "doc_id",
) -> DataFrame:
    """Input + ``bin`` (0..n_bins-1) by exact within-stratum quantile.
    percent_rank is (rank-1)/(n-1): the top value gets rank 1.0, which
    floor() would put in a phantom bin n — clamp with least()."""
    w = Window.partitionBy(strata_col).orderBy(col, tiebreak)
    pr = F.percent_rank().over(w)
    return df.withColumn(
        "bin",
        F.least(F.floor(pr * n_bins), F.lit(n_bins - 1)).cast("int"),
    )


def quantile_synopsis(
    df: DataFrame,
    col: str,
    id_col: str,
    group_col: str = "source",
    rate_num: int = 1,
    rate_den: int = 16,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
    delta: float = 0.05,
) -> DataFrame:
    """Deterministic sample-quantile synopsis with a DISTRIBUTION-FREE
    error bound — the quantile member of the sketch tier (KMV =
    distinct, Bloom = membership, CMS = frequency).

    Spark's built-in ``percentile_approx`` sketch scales too, but its
    state is engine-opaque (not recomputable by an external oracle) and
    its error bound is a relative-rank accuracy knob. This operator
    instead takes a uniform-BY-HASH row sample —
    keep the row iff ``pmod(md5_60bit(id), rate_den) < rate_num`` — and
    reads EXACT quantiles of the sample. Everything is deterministic
    (same rows sampled on any engine, any partitioning), so a DuckDB
    oracle recomputes the synopsis bit-for-bit; and by
    Dvoretzky-Kiefer-Wolfowitz the sample CDF is uniformly within
    ``eps = sqrt(ln(2/delta) / (2 m))`` of the true CDF with
    probability 1-delta — a bound that needs NO distributional
    assumption and is published per group as ``dkw_eps``.

    Scale shape: the hash filter is map-side (a scan at rate
    rate_num/rate_den of the input feeds the aggregate); pick the rate
    so each group's sample fits an executor's sort buffer (at 10^12
    rows and rate 1e-6, samples are ~10^6 rows/group). One grouped
    exact-percentile aggregation on the sample; output is groups-sized.

    Reference analog: min/max/percentile sampling of the reference's
    per-feature stats (/root/reference/htm_streamer/validation.py),
    upgraded with an error guarantee.
    """
    import math

    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    sample = df.where(F.pmod(h, F.lit(rate_den)) < rate_num)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_sample")] + [
        F.round(F.percentile(col, p), 6).alias(f"q{str(p).replace('.', '_')}")
        for p in probs
    ]
    out = sample.groupBy(group_col).agg(*aggs)
    ln_term = float(math.log(2.0 / delta))
    return out.withColumn(
        "dkw_eps",
        F.round(
            F.sqrt(F.lit(ln_term) / (F.lit(2.0) * F.col("n_sample"))) + F.lit(1e-9), 6
        ),
    )

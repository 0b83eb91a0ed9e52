"""Statistical hypothesis-test checks for the validation engine.

The reference's drift story is a single mechanism (HTM anomaly
likelihood, reinterpreted here as PSI/KL over token histograms —
``operators/drift.py``). A production data validator needs the rest of
the classical test battery, each expressible as pure DataFrame
aggregation (zero Python in the plan, one or two shuffles):

- two-sample Kolmogorov–Smirnov distance (continuous-column drift,
  complementing the binned PSI check; reference's likelihood gate is
  htm_streamer/utils/anomaly.py's moving-window comparison),
- chi-squared independence between two categorical columns
  (cross-field consistency: did the lang×source mix shift?),
- Benford first-significant-digit divergence (fabricated-numeric
  detection on magnitude columns),
- Shannon entropy of a categorical distribution (collapse detection:
  a source whose lang entropy drops to ~0 went monolingual),
- functional-dependency discovery (does A determine B in the data —
  the implication-style invariant Deequ calls `hasUniqueness` over
  pairs; reference checks only per-column invariants),
- higher-moment profile (skewness/kurtosis from raw power sums, the
  same formula run on any engine),
- MAD-based anomalous-partition detection (robust z-score on
  per-bucket row counts; flags ingest gaps/bursts that a mean/stddev
  gate misses because the outliers poison the mean).

Scale notes: every function is one `groupBy` over the fact table
followed by arithmetic on a group-count-sized frame (≤ |groups| rows).
The second phase never touches the fact table again, so at 100 TB the
cost is the one aggregation shuffle; the tiny marginal/median frames
broadcast. No collect, no Python UDFs.
"""

from __future__ import annotations

from math import log
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "ks_two_sample",
    "chi_squared_independence",
    "benford_divergence",
    "categorical_entropy",
    "fd_violation_summary",
    "moments_profile",
    "mad_count_outliers",
    "wasserstein_binned",
    "benjamini_hochberg",
    "holm_stepdown",
    "cusum_changepoint",
    "gini_concentration",
    "acf_bucket_counts",
    "pacf_durbin_levinson",
    "energy_distance",
    "hurst_rescaled_range",
    "dominant_period",
    "spectral_entropy",
    "ljung_box",
    "dispersion_index",
    "exp_interarrival_ks",
    "welch_t",
    "arrival_profile",
    "seasonal_cells",
    "seasonal_profile",
    "seasonal_anomalies",
    "mann_kendall",
    "seasonal_mann_kendall",
    "pettitt_changepoint",
    "kpss_level",
    "cochran_armitage",
    "histogram_spikes",
    "quantile_qq_drift",
    "sprt_bernoulli",
    "wilson_proportions",
]


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    sample_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic per group.

    ``sample_col`` must be an int column in {0, 1} tagging which sample
    each row belongs to (e.g. baseline epoch vs current epoch). The KS
    statistic is ``max over v of |F0(v) - F1(v)|`` where ``F`` are the
    empirical CDFs. Tie-safe by construction: rows are first collapsed
    to one row per distinct value (counting members of each sample), so
    the ECDF is only ever evaluated *after* all ties at a value — the
    textbook definition, and the same answer any SQL engine computes.

    Plan: one ``groupBy(group, value)`` shuffle, then a per-group
    window cumsum over distinct values (|distinct values| rows, not
    |rows|), then a per-group max. Skew bound: one group's distinct
    values sort in a single task — same accepted bound as every other
    per-series window in this engine (see operators/likelihood.py).
    """
    per_value = df.groupBy(group_col, value_col).agg(
        F.sum(F.when(F.col(sample_col) == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col(sample_col) == 1, 1).otherwise(0)).alias("c1"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(group_col)
    # ANSI-safe ECDFs: a group missing one sample entirely must report
    # NULL, not throw DIVIDE_BY_ZERO (Spark 4 ANSI default)
    ecdf = per_value.select(
        group_col,
        F.when(
            F.sum("c0").over(tot) > 0,
            F.sum("c0").over(w) / F.sum("c0").over(tot),
        ).alias("f0"),
        F.when(
            F.sum("c1").over(tot) > 0,
            F.sum("c1").over(w) / F.sum("c1").over(tot),
        ).alias("f1"),
        F.sum("c0").over(tot).alias("n0"),
        F.sum("c1").over(tot).alias("n1"),
    )
    return ecdf.groupBy(group_col).agg(
        F.round(F.max(F.abs(F.col("f0") - F.col("f1"))), 6).alias("ks_stat"),
        F.first("n0").alias("n0"),
        F.first("n1").alias("n1"),
    )


def chi_squared_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-squared statistic of independence between two
    categorical columns, over the full contingency table (zero cells
    included — the r×c grid is materialized from the marginals, so a
    cell observed 0 times still contributes its expected count).

    Returns one row: (chi2, dof, n). Plan: one shuffle to count cells;
    the marginal frames are |r| and |c| rows and broadcast into the
    grid join. The fact table is scanned once.
    """
    cells = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("obs"))
    cells = cells.persist()
    row_m = cells.groupBy(col_a).agg(F.sum("obs").alias("row_n"))
    col_m = cells.groupBy(col_b).agg(F.sum("obs").alias("col_n"))
    n = cells.agg(F.sum("obs").alias("n"))
    grid = (
        row_m.crossJoin(F.broadcast(col_m))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(cells), [col_a, col_b], "left")
        .select(
            col_a,
            col_b,
            F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
            # cast before multiplying: long*long marginal products
            # overflow at 10^12-row scale
            (
                F.col("row_n").cast("double")
                * F.col("col_n")
                / F.col("n")
            ).alias("exp"),
            "n",
        )
    )
    out = grid.agg(
        F.round(
            F.sum((F.col("obs") - F.col("exp")) ** 2 / F.col("exp")), 6
        ).alias("chi2"),
        (
            (F.count_distinct(F.col(col_a)) - F.lit(1))
            * (F.count_distinct(F.col(col_b)) - F.lit(1))
        ).cast("long").alias("dof"),
        F.first("n").alias("n"),
    )
    return out


def benford_divergence(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Per-group chi-squared divergence of the first-significant-digit
    distribution of a positive numeric column from Benford's law
    (P(d) = log10(1 + 1/d)). Large values flag fabricated or
    artificially clamped magnitudes.

    All nine digits enter the statistic (a digit never observed still
    has expected mass), via a 9-row spine cross-joined onto the group
    list. One shuffle; the digit spine is constant-sized.
    """
    pos = df.filter(F.col(value_col) > 0)
    digit = F.floor(
        F.col(value_col)
        / F.pow(F.lit(10.0), F.floor(F.log10(F.col(value_col))))
    ).cast("int")
    obs = pos.groupBy(F.col(group_col), digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("obs")
    )
    # persist the ≤ 9·|groups|-row counts frame: totals and the grid
    # both derive from it, and without the persist each derivation
    # re-scans the fact table
    obs = obs.persist()
    totals = obs.groupBy(group_col).agg(F.sum("obs").alias("n"))
    spine = obs.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit"),
        F.log10(1.0 + 1.0 / F.col("id")).alias("p_exp"),
    )
    grid = (
        totals.crossJoin(F.broadcast(spine))
        .join(F.broadcast(obs), [group_col, "digit"], "left")
        .select(
            group_col,
            "n",
            (F.coalesce(F.col("obs"), F.lit(0)) / F.col("n")).alias("p_obs"),
            "p_exp",
        )
    )
    return grid.groupBy(group_col).agg(
        F.round(
            F.sum(
                F.col("n")
                * (F.col("p_obs") - F.col("p_exp")) ** 2
                / F.col("p_exp")
            ),
            6,
        ).alias("benford_chi2"),
        F.first("n").alias("n"),
    )


def categorical_entropy(
    df: DataFrame, group_col: str, cat_col: str
) -> DataFrame:
    """Shannon entropy (nats) of ``cat_col``'s distribution within each
    group, plus the category count. Entropy collapsing toward 0 means
    the group went single-valued — the distribution-collapse signal a
    min/max/null-rate profile can't see. One shuffle."""
    counts = df.groupBy(group_col, cat_col).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = Window.partitionBy(group_col)
    p = counts.select(
        group_col, (F.col("c") / F.sum("c").over(tot)).alias("p")
    )
    return p.groupBy(group_col).agg(
        F.round(-F.sum(F.col("p") * F.log(F.col("p"))), 6).alias("entropy"),
        F.count(F.lit(1)).alias("n_categories"),
    )


def fd_violation_summary(
    df: DataFrame, lhs_col: str, rhs_col: str
) -> DataFrame:
    """Does ``lhs_col`` functionally determine ``rhs_col``? Returns one
    row: total keys, keys mapping to >1 distinct rhs value, and the
    violation rate — the approximate-FD discovery primitive (an FD
    "holds approximately" when the rate is under a tolerance).

    Exact distinct-per-key via one composite groupBy (two map-side
    combinable aggregations, no count_distinct re-shuffle): first
    collapse (lhs, rhs) pairs, then count pairs per lhs.
    """
    pairs = df.groupBy(lhs_col, rhs_col).agg(F.count(F.lit(1)).alias("c"))
    per_key = pairs.groupBy(lhs_col).agg(
        F.count(F.lit(1)).alias("n_rhs")
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).alias(
            "n_violating"
        ),
        F.round(
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("violation_rate"),
    )


def moments_profile(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group skewness and excess kurtosis from raw power sums
    (avg(x), avg(x²), avg(x³), avg(x⁴) → central moments → g1, g2).

    Deliberately NOT Spark's built-in ``skewness``/``kurtosis``: engine
    built-ins disagree on bias correction (sample vs population), so a
    cross-engine validator pins the raw-moment formula that any engine
    reproduces exactly. Single map-side-combinable aggregation.
    """
    x = F.col(value_col).cast("double")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(x).alias("s1"),
        F.avg(x * x).alias("s2"),
        F.avg(x * x * x).alias("s3"),
        F.avg(x * x * x * x).alias("s4"),
    )
    m2 = F.col("s2") - F.col("s1") ** 2
    m3 = F.col("s3") - 3 * F.col("s1") * F.col("s2") + 2 * F.col("s1") ** 3
    m4 = (
        F.col("s4")
        - 4 * F.col("s1") * F.col("s3")
        + 6 * F.col("s1") ** 2 * F.col("s2")
        - 3 * F.col("s1") ** 4
    )
    return agg.select(
        group_col,
        F.col("n"),
        F.round(m3 / m2 ** 1.5, 6).alias("skewness"),
        F.round(m4 / m2 ** 2 - 3.0, 6).alias("excess_kurtosis"),
    )


def mad_count_outliers(
    df: DataFrame, bucket_expr, k: float = 3.0
) -> DataFrame:
    """Anomalous-partition detection on ingest volume: count rows per
    bucket, compute the median count and the median absolute deviation
    (both exact), and flag buckets whose robust z-score
    ``|c - median| / (1.4826 · MAD)`` exceeds ``k``. Robust where a
    mean/stddev gate fails — the burst being hunted inflates the mean.

    ``bucket_expr`` is any Column (e.g. ``F.date_trunc('hour', ts)``).
    Plan: one shuffle to count buckets; medians are computed on the
    bucket-count frame (|buckets| rows) and broadcast back. Returns
    only the flagged buckets with their counts and robust z.
    """
    counts = df.groupBy(bucket_expr.alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    counts = counts.persist()
    med = counts.agg(
        F.percentile(F.col("c").cast("double"), 0.5).alias("med")
    )
    dev = counts.crossJoin(F.broadcast(med)).select(
        "bucket", "c", "med", F.abs(F.col("c") - F.col("med")).alias("ad")
    )
    mad = dev.agg(F.percentile("ad", 0.5).alias("mad"))
    scored = dev.crossJoin(F.broadcast(mad)).select(
        "bucket",
        "c",
        F.round(
            F.abs(F.col("c") - F.col("med"))
            / (F.lit(1.4826) * F.greatest(F.col("mad"), F.lit(1e-12))),
            6,
        ).alias("robust_z"),
    )
    return scored.filter(F.col("robust_z") > k)


def wasserstein_binned(
    counts: DataFrame,
    group_col: str = "group",
    bucket_col: str = "bucket",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Per-group 1-D Wasserstein (earth-mover) distance to the pooled
    baseline, over a binned support — the metric member of the drift
    family (PSI/KL in ``drift.py`` are density-ratio scores and explode
    on disjoint support; W1 stays finite and proportional to how FAR the
    mass moved, in bucket units).

    Input is the already-aggregated (group, bucket, cnt) frame — the ONE
    fact-table scan happens upstream, same contract as ``drift_scores``.
    Baseline = the sum over groups (pooled), so every observed bucket is
    in the baseline's support and a left join from the group×bucket grid
    is exhaustive. For discrete distributions on an integer grid,
    ``W1 = sum over buckets of |CDF_g(b) - CDF_pool(b)| * gap(b)`` where
    ``gap(b)`` is the distance to the next observed bucket (1 on a dense
    grid): the CDF difference is the optimal-transport flow through each
    boundary and stays constant across unobserved buckets, so weighting
    by the gap makes the result exact even when the pooled support has
    holes.

    Plan: arithmetic on the |groups|×|buckets| grid only; the windows
    partition by group (tiny frames, never the fact table).
    """
    g, bkt, c = group_col, bucket_col, cnt_col
    base = counts.groupBy(bkt).agg(F.sum(c).alias("qcnt"))
    groups = counts.select(g).distinct()
    grid = groups.crossJoin(F.broadcast(base))
    j = grid.join(counts, [g, bkt], "left").fillna({c: 0})
    p_tot = F.sum(c).over(Window.partitionBy(g))
    q_tot = F.sum("qcnt").over(Window.partitionBy(g))
    cum = Window.partitionBy(g).orderBy(bkt).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf_p = F.sum(c).over(cum) / p_tot
    cdf_q = F.sum("qcnt").over(cum) / q_tot
    width = F.coalesce(
        F.lead(bkt).over(Window.partitionBy(g).orderBy(bkt)) - F.col(bkt),
        F.lit(1),
    )
    return (
        j.withColumn("gap", F.abs(cdf_p - cdf_q) * width)
        .groupBy(g)
        .agg(F.round(F.sum("gap"), 6).alias("w1"))
    )


def benjamini_hochberg(
    pvals: DataFrame,
    p_col: str = "p_value",
    q: float = 0.05,
    tie_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control over one p-value per test.

    At fleet scale a validator runs one drift test per partition/source —
    thousands of simultaneous hypotheses — and a fixed per-test alpha
    guarantees a steady stream of false alarms (50 expected per 1000
    clean partitions at alpha=0.05). BH (Benjamini & Hochberg 1995)
    bounds the expected fraction of false alarms instead: sort p
    ascending, find the largest rank k with ``p_(k) <= k*q/m``, reject
    exactly ranks 1..k.

    Adds (rank, m, bh_threshold, rejected) to every input row.
    ``tie_cols`` breaks p-value ties so the rank — hence the output — is
    total and deterministic. The input is one row per TEST (a group-
    aggregate, metadata-sized), so the single-partition rank window is
    by construction not a fact-table sort; documented bound, same class
    as the likelihood operator's per-series window.
    """
    w_rank = Window.orderBy(p_col, *tie_cols)
    w_all = Window.partitionBy()
    ranked = pvals.withColumn("rank", F.row_number().over(w_rank)).withColumn(
        "m", F.count(F.lit(1)).over(w_all)
    )
    thresh = F.col("rank") * F.lit(float(q)) / F.col("m")
    flagged = ranked.withColumn(
        "hit_rank",
        F.when(F.col(p_col) <= thresh, F.col("rank")).otherwise(F.lit(0)),
    )
    k = F.max("hit_rank").over(w_all)
    return (
        flagged.withColumn("bh_threshold", F.round(thresh, 6))
        .withColumn("rejected", (F.col("rank") <= k) & (k > 0))
        .drop("hit_rank")
    )


def holm_stepdown(
    pvals: DataFrame,
    p_col: str = "p_value",
    alpha: float = 0.05,
    tie_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Holm step-down FWER control over one p-value per test — the
    strict companion to ``benjamini_hochberg``: BH bounds the expected
    FRACTION of false alarms (fine for triage queues), Holm bounds the
    probability of even ONE false alarm (what a paging alert needs),
    with no independence assumption (Holm 1979).

    Sort p ascending; reject rank i iff ``p_(j) <= alpha/(m − j + 1)``
    for ALL j ≤ i — the first failure stops everything after it, even
    ranks that pass their own threshold (the step-DOWN property; a
    per-row flag without the prefix rule would be plain Bonferroni at
    varying levels and is wrong). The prefix rule is one cumulative
    ``min`` over the rank order.

    Adds (rank, m, holm_threshold, rejected) to every input row.
    ``tie_cols`` makes the rank total and deterministic. Input is one
    row per TEST (metadata-sized); the single-partition rank window is
    by construction not a fact-table sort — same documented bound as
    ``benjamini_hochberg``.
    """
    w_rank = Window.orderBy(p_col, *tie_cols)
    w_all = Window.partitionBy()
    ranked = pvals.withColumn(
        "rank", F.row_number().over(w_rank)
    ).withColumn("m", F.count(F.lit(1)).over(w_all))
    thresh = F.lit(float(alpha)) / (F.col("m") - F.col("rank") + 1)
    w_pref = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = ranked.withColumn(
        "_ok", (F.col(p_col) <= thresh).cast("int")
    )
    return (
        flagged.withColumn("holm_threshold", F.round(thresh, 6))
        .withColumn("rejected", F.min("_ok").over(w_pref) == 1)
        .drop("_ok")
    )


def fisher_combine(
    pvals: DataFrame,
    group_col: str,
    p_col: str = "p_value",
    p_floor: float = 1e-300,
) -> DataFrame:
    """Fisher's method: combine the k independent p-values WITHIN each
    group into one evidence score — (group, k, fisher_x2, p_combined).

    BH/Holm answer "which of m simultaneous tests reject, correcting
    for multiplicity"; Fisher answers the complementary meta-analysis
    question: "do this group's k sub-tests JOINTLY reject, pooling
    evidence too weak to reject individually" (seven weekday tests at
    p≈0.15 each never pass any per-test gate, yet their combination is
    overwhelming). X² = −2 Σ ln p ~ χ²(2k) under H0 (Fisher 1925).

    Because the df is always EVEN, the χ² survival function has the
    closed form ``P(X > x) = exp(−x/2) · Σ_{j<k} (x/2)^j / j!`` — no
    incomplete-gamma special function needed, so the same number is
    recomputable in ANSI SQL. The series is evaluated with the running
    term recurrence ``term_{j+1} = term_j · (x/2)/(j+1)`` (one
    ``F.aggregate`` over ``sequence(1, k−1)``): no factorial overflow,
    stable for any k, deterministic evaluation order.

    p-values are clamped to [p_floor, 1] before the log (an erfc-
    polynomial p underflows to exactly 0.0 around \\|z\\| ≳ 27, and
    ln 0 would poison the whole group). Input is one row per TEST
    (metadata-sized); one group-count-sized shuffle, nothing touches
    the fact table.
    """
    p = F.least(F.greatest(F.col(p_col), F.lit(float(p_floor))), F.lit(1.0))
    agg = pvals.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("k"),
        (F.lit(-2.0) * F.sum(F.log(p))).alias("fisher_x2"),
    )
    half = F.col("fisher_x2") / F.lit(2.0)
    # Σ_{j=0}^{k-1} half^j / j! via the running-term recurrence, seeded
    # at j=0 (sum=1, term=1); the sequence is empty for k=1 (correct:
    # df=2 survival = exp(-half), and indeed p_combined == p exactly)
    series = F.aggregate(
        F.when(F.col("k") > 1, F.sequence(F.lit(1), F.col("k") - 1)).otherwise(
            F.array().cast("array<int>")
        ),
        F.struct(F.lit(1.0).alias("sum"), F.lit(1.0).alias("term")),
        lambda acc, j: F.struct(
            (acc["sum"] + acc["term"] * half / j.cast("double")).alias("sum"),
            (acc["term"] * half / j.cast("double")).alias("term"),
        ),
        lambda acc: acc["sum"],
    )
    p_comb = F.when(F.col("fisher_x2") <= 0, F.lit(1.0)).otherwise(
        F.least(F.exp(-half) * series, F.lit(1.0))
    )
    return agg.select(
        group_col, "k", "fisher_x2", p_comb.alias("p_combined")
    )


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group CUSUM change-point statistic over an ordered value
    series — the retrospective mean-shift test the drift family was
    missing: PSI/KL/W1 (drift.py, wasserstein_binned) compare two
    epochs you chose in advance; CUSUM finds WHERE the level shifted
    without being told the split point. Reference parity: generalizes
    the reference's moving-average step detection
    (htm_streamer/utils/anomaly.py) from "did the mean move just now"
    to "did the mean move anywhere in the series, and when".

    S_k = sum_{i<=k}(x_i - mean);  stat = max_k |S_k| / (sigma*sqrt(n))

    (the standardized CUSUM whose null distribution is the Brownian-
    bridge sup — stat above ~1.36 rejects at 5%). Ties in ``order_col``
    are collapsed first (one row per distinct order value, summed
    deviations), so the running sum is evaluated only at tie
    boundaries — order-deterministic on every engine, same approach as
    ``ks_two_sample``. The change point is the earliest order value
    attaining the (6-dp rounded) maximum.

    Plan: one ``groupBy(group, order)`` shuffle over the fact table;
    the cumulative window runs per group on the distinct-order frame
    (one task per group — the accepted per-series bound, see
    operators/likelihood.py); the final argmax aggregates that same
    frame. Constant series (sigma == 0) report stat 0 at the first
    order value. Returns (group, n, cusum_stat, cp_<order_col>).
    """
    g, o, v = group_col, order_col, value_col
    per = df.groupBy(g, o).agg(
        F.sum(v).alias("_s"),
        F.sum(F.col(v) * F.col(v)).alias("_s2"),
        F.count(F.lit(1)).alias("_c"),
    )
    tot = Window.partitionBy(g)
    cum = Window.partitionBy(g).orderBy(o).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n = F.sum("_c").over(tot)
    mean = F.sum("_s").over(tot) / n
    var = F.sum("_s2").over(tot) / n - mean * mean
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    run = F.sum(F.col("_s") - F.col("_c") * mean).over(cum)
    scored = per.select(
        g,
        o,
        n.alias("_n"),
        F.when(
            sigma > 0,
            F.round(F.abs(run) / (sigma * F.sqrt(n)) + F.lit(1e-9), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("_stat"),
    )
    peak = Window.partitionBy(g)
    flagged = scored.withColumn("_m", F.max("_stat").over(peak))
    return (
        flagged.filter(F.col("_stat") == F.col("_m"))
        .groupBy(g)
        .agg(
            F.min("_n").cast("long").alias("n"),
            F.min("_m").alias("cusum_stat"),
            F.min(o).alias(f"cp_{o}"),
        )
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group Gini coefficient of how total weight concentrates
    across units — the skew meter behind every salting decision in
    this engine: uniqueness (operators/uniqueness.py) and the as-of
    join salt because a few keys own most rows; Gini quantifies that
    concentration as one auditable number per group (0 = uniform,
    -> 1 = one unit owns everything), so a partition whose key
    concentration JUMPS gets flagged before it melts a shuffle.

    G = (2 * sum_i i * w_i) / (n * sum_i w_i) - (n + 1) / n

    with units ranked ascending by weight (ties broken by unit id —
    the rank formula is tie-invariant in exact arithmetic, the break
    just makes the plan deterministic). ``weight_col=None`` counts
    rows. Returns (group, n_units, total, gini).

    Plan: one ``groupBy(group, unit)`` shuffle over the fact table;
    the rank window runs per group on the unit-weight frame (the
    accepted per-series bound); one tiny aggregate after.
    """
    g, u = group_col, unit_col
    w = (
        F.sum(weight_col).alias("_w")
        if weight_col
        else F.count(F.lit(1)).alias("_w")
    )
    per_unit = df.groupBy(g, u).agg(w)
    rk = Window.partitionBy(g).orderBy(F.col("_w").asc(), F.col(u).asc())
    ranked = per_unit.withColumn("_i", F.row_number().over(rk))
    return (
        ranked.groupBy(g)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("_w").cast("long").alias("total"),
            F.sum(F.col("_i") * F.col("_w")).alias("_iw"),
        )
        .select(
            g,
            "n_units",
            "total",
            F.round(
                F.lit(2.0) * F.col("_iw") / (F.col("n_units") * F.col("total"))
                - (F.col("n_units") + 1) / F.col("n_units")
                + F.lit(1e-9),
                6,
            ).alias("gini"),
        )
    )


def acf_bucket_counts(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    max_lag: int = 5,
) -> DataFrame:
    """Per-group autocorrelation of the bucketed event-count series at
    lags 1..max_lag — the seasonality/periodicity member of the drift
    family: PSI/W1/CUSUM watch the VALUE distribution; ACF watches the
    ARRIVAL process (a pipeline whose hourly volume suddenly loses its
    diurnal correlation structure changed upstream even if totals
    held). Standard biased estimator
    ``r_k = sum((x_t - m)(x_{t+k} - m)) / sum((x_t - m)^2)``
    over the DENSE bucket grid per group (missing buckets count 0 —
    a lag on the observed-only series would silently compare
    non-adjacent hours, exactly the gap the detector must see).

    Plan: one ``groupBy(group, bucket)`` count shuffle; the dense grid
    is synthesized per group from (min, max) via ``sequence`` on the
    group-bucket frame (metadata-sized), never the fact table; lag
    windows run per group on that frame. Constant series (zero
    variance) report NULL acf. Returns (group, lag, acf).
    """
    return _acf_core(df, group_col, ts_col, bucket, max_lag).select(
        group_col, "lag", "acf"
    )


def _dense_counts(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    bucket: str,
) -> DataFrame:
    """Shared dense bucket-count grid: per-group counts at ``bucket``
    granularity with gaps filled as zero over the observed
    [min, max] span — the substrate every arrival-process operator
    consumes. The count frame is persisted (it feeds both the span
    derivation and the dense join), so the fact table is scanned ONCE
    no matter how many derivations run on the result — the sharing
    point ``arrival_profile`` exploits to fuse the whole battery into
    a single scan. Returns (group, _b, _c)."""
    g = group_col
    b = F.date_trunc(bucket, F.col(ts_col))
    counts = df.groupBy(F.col(g), b.alias("_b")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    counts = counts.persist()  # span + dense join: one fact scan
    span = counts.groupBy(g).agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    step = F.expr(f"interval 1 {bucket}")
    grid = span.select(
        g, F.explode(F.sequence("_lo", "_hi", step)).alias("_b")
    )
    return grid.join(counts, [g, "_b"], "left").fillna({"_c": 0})


def _acf_core(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    bucket: str,
    max_lag: int,
    dense: DataFrame | None = None,
) -> DataFrame:
    """Shared ACF pipeline: ``acf_bucket_counts`` plus the dense series
    length ``_T`` each consumer (Ljung–Box) needs. Values and plan
    shape are identical to the historical ``acf_bucket_counts`` body —
    the extra column rides the existing window/aggregate passes.
    ``dense`` injects a prebuilt ``_dense_counts`` frame so a fused
    caller (``arrival_profile``) shares one fact scan."""
    g = group_col
    if dense is None:
        dense = _dense_counts(df, g, ts_col, bucket)
    tot = Window.partitionBy(g)
    ord_w = Window.partitionBy(g).orderBy("_b")
    mean = F.sum("_c").over(tot) / F.count(F.lit(1)).over(tot)
    dev = dense.select(
        g,
        "_b",
        (F.col("_c") - mean).alias("_d"),
        F.count(F.lit(1)).over(tot).alias("_T"),
    )
    # all lags come out of ONE window pass (shared ordering), then one
    # aggregate and a stack unpivot — a per-lag union would re-derive
    # the count shuffle once per lag (the multi-scan smell this repo
    # lints against)
    lagged = dev.select(
        g,
        "_T",
        (F.col("_d") * F.col("_d")).alias("_den"),
        *[
            (F.col("_d") * F.lag("_d", k).over(ord_w)).alias(f"_n{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    agg = lagged.groupBy(g).agg(
        F.max("_T").alias("_T"),
        F.sum("_den").alias("_dn"),
        *[F.sum(f"_n{k}").alias(f"_s{k}") for k in range(1, max_lag + 1)],
    )
    pairs = ", ".join(f"{k}, _s{k}" for k in range(1, max_lag + 1))
    stacked = agg.select(
        g,
        "_T",
        "_dn",
        F.expr(f"stack({max_lag}, {pairs}) as (lag, _n)"),
    )
    return stacked.select(
        g,
        "_T",
        "lag",
        F.when(
            F.col("_dn") > 0,
            F.round(F.col("_n") / F.col("_dn") + F.lit(1e-9), 6),
        ).alias("acf"),
    )


def pacf_durbin_levinson(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    max_lag: int = 5,
) -> DataFrame:
    """Per-group PARTIAL autocorrelation of the bucketed event-count
    series at lags 1..max_lag via the Durbin–Levinson recursion — the
    diagnostic twin of ``acf_bucket_counts``: the ACF of an AR(p)
    arrival process decays geometrically and never identifies p, while
    the PACF cuts off sharply after lag p, so a volume monitor that
    alarms on "the hourly process gained a new significant lag" needs
    the partial, not the raw, correlations.

    Recursion (Durbin 1960): ``phi[1][1] = r1``; for k = 2..K,
    ``phi[k][k] = (r_k - sum_j phi[k-1][j] * r_{k-j}) / v_{k-1}`` with
    ``phi[k][j] = phi[k-1][j] - phi[k][k] * phi[k-1][k-j]`` and
    ``v_k = v_{k-1} * (1 - phi[k][k]^2)``; ``pacf(k) = phi[k][k]``.

    Plan: the one fact-table shuffle is inherited from
    ``acf_bucket_counts``; the recursion runs on the |groups|-row wide
    frame as K stepwise projections (each ``phi[k][k]`` materialized in
    its own ``select`` before being referenced k times — the
    expression-duplication guard), pure JVM arithmetic, no UDF.
    Degenerate prediction-error variance (|v| <= 1e-12, a perfectly
    predictable series) yields NULL at that and later lags, as does a
    constant series (NULL acf). Returns (group, lag, pacf), 6 dp.
    """
    g = group_col
    acf = acf_bucket_counts(
        df, group_col, ts_col, bucket=bucket, max_lag=max_lag
    )
    # conditional re-aggregation to one wide row per group: the input
    # is the already-reduced (group, lag, acf) frame, so this exchange
    # moves |groups| * max_lag rows no matter the fact-table size
    wide = acf.groupBy(g).agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"_r{k}")
            for k in range(1, max_lag + 1)
        ]
    )
    cur = wide.select(
        "*",
        F.col("_r1").alias("_p1_1"),
        (F.lit(1.0) - F.col("_r1") * F.col("_r1")).alias("_v1"),
    )
    for k in range(2, max_lag + 1):
        num = F.col(f"_r{k}")
        for j in range(1, k):
            num = num - F.col(f"_p{k - 1}_{j}") * F.col(f"_r{k - j}")
        # own projection: phi_kk is referenced k times by the next step
        cur = cur.select(
            "*",
            F.when(
                F.abs(F.col(f"_v{k - 1}")) > 1e-12,
                num / F.col(f"_v{k - 1}"),
            ).alias(f"_p{k}_{k}"),
        )
        cur = cur.select(
            "*",
            *[
                (
                    F.col(f"_p{k - 1}_{j}")
                    - F.col(f"_p{k}_{k}") * F.col(f"_p{k - 1}_{k - j}")
                ).alias(f"_p{k}_{j}")
                for j in range(1, k)
            ],
            (
                F.col(f"_v{k - 1}")
                * (F.lit(1.0) - F.col(f"_p{k}_{k}") * F.col(f"_p{k}_{k}"))
            ).alias(f"_v{k}"),
        )
    pairs = ", ".join(f"{k}, _p{k}_{k}" for k in range(1, max_lag + 1))
    stacked = cur.select(
        g, F.expr(f"stack({max_lag}, {pairs}) as (lag, _pk)")
    )
    return stacked.select(
        g,
        F.col("lag").cast("long").alias("lag"),
        F.round(F.col("_pk") + F.lit(1e-9), 6).alias("pacf"),
    )


def mann_kendall(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    alpha_z: float = 1.959964,
) -> DataFrame:
    """Per-group Mann–Kendall monotone-trend test over the DENSE
    bucketed event-count series — the nonparametric member of the
    trend family: CUSUM locates a mean SHIFT, MK asks whether the
    series drifts monotonically at all, with no distributional
    assumption and no sensitivity to outlier magnitudes (only signs of
    pairwise differences matter). The classic ingest-health question
    "is this feed slowly dying?" is exactly MK's alternative
    hypothesis.

    ``S = sum over i<j of sign(c_j - c_i)``; variance with the
    standard tie correction
    ``Var = (n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18``; the
    continuity-corrected ``z = (S -/+ 1)/sqrt(Var)``; verdict at
    ``|z| > alpha_z`` (default two-sided 5%). Missing buckets count 0,
    same stance as ``acf_bucket_counts`` — a gap IS evidence.

    Plan: one ``groupBy(group, bucket)`` count shuffle on the fact
    table; the pairwise sign sum is a self-join of the dense
    METADATA-SIZED bucket frame (B rows per group; B^2 pair rows never
    touch the fact table — at 1 year of hourly buckets that is 8760
    rows, 3.8e7 pairs, a trivially partitionable equi-join on group).
    Ties aggregate on the same frame. Returns
    (group, n_buckets, s, z, trend).
    """
    g = group_col
    dense = _dense_counts(df, g, ts_col, bucket)
    dense = dense.persist()  # pairs + ties + n derive from it
    a = dense.select(g, F.col("_b").alias("_bi"), F.col("_c").alias("_ci"))
    c2 = dense.select(g, F.col("_b").alias("_bj"), F.col("_c").alias("_cj"))
    s = (
        a.join(c2, g)
        .where(F.col("_bi") < F.col("_bj"))
        .groupBy(g)
        .agg(
            F.sum(F.signum(F.col("_cj") - F.col("_ci")))
            .cast("long")
            .alias("s")
        )
    )
    n = dense.groupBy(g).agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    ties = (
        dense.groupBy(g, "_c")
        .agg(F.count(F.lit(1)).cast("double").alias("_t"))
        .groupBy(g)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tc")
        )
    )
    nn = F.col("n_buckets").cast("double")
    var_s = (nn * (nn - 1) * (2 * nn + 5) - F.col("_tc")) / 18.0
    z = F.when(var_s <= 0, F.lit(None).cast("double")).otherwise(
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    out = n.join(s, g).join(ties, g).select(
        g,
        "n_buckets",
        "s",
        F.round(z + F.lit(1e-9), 6).alias("z"),
        F.when(z > alpha_z, F.lit("increasing"))
        .when(z < -alpha_z, F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("trend"),
    )
    return out


def page_hinkley(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_cols: list[str],
    *,
    delta: float = 0.0,
    lam: float = 50.0,
) -> DataFrame:
    """Per-group Page–Hinkley change-point statistic (the ONLINE
    member of the change family): CUSUM compares against a FROZEN
    baseline epoch (needs one), PH tracks the RUNNING mean — the form
    a streaming monitor runs when no trusted baseline exists yet.

    ``m_t = sum_{i<=t} (x_i - xbar_i - delta)`` with ``xbar_i`` the
    running mean of the first i values; ``PH = max_t (m_t - min_{s<=t}
    m_s)``; alarm when ``PH > lam``. ``delta`` is the magnitude the
    detector tolerates; ``lam`` the alarm threshold, in value units.
    ``order_cols`` must be a deterministic total order.

    Plan: one persisted narrow projection; three stacked window passes
    over the SAME per-group ordering (running mean → cumulative m →
    running min — Spark reuses one sort for all three), one aggregate.
    The per-group sequential scan is the same accepted single-task
    bound as every running-statistic operator here. Returns
    (group, n_rows, ph, alarm), 6 dp.
    """
    g = group_col
    w_cum = (
        Window.partitionBy(g)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    narrow = df.select(g, value_col, *order_cols)
    dev = narrow.select(
        g,
        *order_cols,
        (
            F.col(value_col)
            - F.avg(value_col).over(w_cum)
            - F.lit(delta)
        ).alias("_dev"),
    )
    m = dev.select(
        g, *order_cols, F.sum("_dev").over(w_cum).alias("_m")
    )
    ph_t = m.select(
        g,
        (F.col("_m") - F.min("_m").over(w_cum)).alias("_ph"),
    )
    agg = ph_t.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max("_ph").alias("_maxph"),
    )
    return agg.select(
        g,
        "n_rows",
        F.round(F.col("_maxph") + F.lit(1e-9), 6).alias("ph"),
        (F.col("_maxph") > lam).alias("alarm"),
    )


def permutation_entropy(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
) -> DataFrame:
    """Per-group order-3 permutation entropy of the dense bucketed
    count series (Bandt-Pompe 2002) — the DETERMINISM member of the
    arrival-process family: ACF/CCF measure linear correlation, the
    diurnal fit one fixed cycle; permutation entropy asks how
    PREDICTABLE the series' local shapes are at all, linear or not.
    Each consecutive triple maps to one of 6 ordinal patterns
    (up-up, up-down, ...); white noise uses all 6 uniformly
    (normalized entropy ~ 1), a deterministic or strongly patterned
    feed concentrates on few (→ 0). A feed whose entropy collapses
    became machine-generated/batched; one that jumps to 1 lost its
    structure.

    Ties broken by time order (the Bandt-Pompe convention): earlier
    element ranks first, so patterns come from ``<=`` comparisons —
    integer comparisons, bit-identical on every engine. Missing
    buckets count 0 (family stance). Patterns are keyed by the
    3-bit string ``(a<=b, a<=c, b<=c)``.

    Plan: one ``groupBy(group, bucket)`` count shuffle; triples from
    one window pass (two leads) over the dense metadata-sized grid;
    one aggregate per (group, pattern) then per group. Groups with
    < 3 buckets have no triples and are absent from the output.
    Returns (group, n_triples, perm_entropy, normalized), 6 dp.
    """
    g = group_col
    dense = _dense_counts(df, g, ts_col, bucket)
    wo = Window.partitionBy(g).orderBy("_b")
    trip = dense.select(
        g,
        F.col("_c").alias("_a"),
        F.lead("_c", 1).over(wo).alias("_x"),
        F.lead("_c", 2).over(wo).alias("_y"),
    ).where(F.col("_y").isNotNull())
    pat = F.concat(
        (F.col("_a") <= F.col("_x")).cast("int").cast("string"),
        (F.col("_a") <= F.col("_y")).cast("int").cast("string"),
        (F.col("_x") <= F.col("_y")).cast("int").cast("string"),
    )
    per_pat = trip.groupBy(g, pat.alias("_p")).agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    tot = per_pat.groupBy(g).agg(F.sum("_n").alias("_t"))
    h = (
        per_pat.join(tot, g)
        .select(
            g,
            "_t",
            (
                -(F.col("_n") / F.col("_t"))
                * F.log(F.col("_n") / F.col("_t"))
            ).alias("_h"),
        )
        .groupBy(g)
        .agg(
            F.first("_t").cast("long").alias("n_triples"),
            F.sum("_h").alias("_sh"),
        )
    )
    import math

    return h.select(
        g,
        "n_triples",
        F.round(F.col("_sh") + F.lit(1e-9), 6).alias("perm_entropy"),
        F.round(
            F.col("_sh") / F.lit(math.log(6.0)) + F.lit(1e-9), 6
        ).alias("normalized"),
    )


def cvm_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    sample_col: str,
    *,
    alpha_t: float = 0.461,
) -> DataFrame:
    """Exact two-sample Cramér–von Mises statistic per group — the
    QUADRATIC member of the ECDF-distance family: KS is the sup-norm
    (sensitive to one large local gap, typically mid-distribution),
    W1 the L1 area, CvM the L2 integral

        ``T = n*m/N^2 * sum over all N observations z of
              (F0(z) - F1(z))^2``

    which accumulates many small deviations KS ignores — the classic
    tail-drift / slight-global-shift detector (Anderson 1962). Over
    the tie-collapsed per-value frame the sum is
    ``sum_v (c0_v + c1_v) * (F0(v) - F1(v))^2`` with ECDFs evaluated
    after ties, the textbook discrete treatment. Verdict at
    ``T > alpha_t`` (default 0.461, the asymptotic 5% critical value
    of the limiting distribution).

    Plan: identical shape to ``ks_two_sample`` — one
    ``groupBy(group, value)`` shuffle, one per-group window cumsum
    over distinct values, one aggregate; same per-group single-task
    sort bound. Groups missing either sample report NULL. Returns
    (group, n0, n1, cvm_stat, drift), 6 dp.
    """
    per_value = df.groupBy(group_col, value_col).agg(
        F.sum(F.when(F.col(sample_col) == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col(sample_col) == 1, 1).otherwise(0)).alias("c1"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(group_col)
    # ANSI-safe ECDFs: a group missing one sample entirely must report
    # NULL, not throw DIVIDE_BY_ZERO (Spark 4 ANSI default)
    ecdf = per_value.select(
        group_col,
        (F.col("c0") + F.col("c1")).alias("_c"),
        F.when(
            F.sum("c0").over(tot) > 0,
            F.sum("c0").over(w) / F.sum("c0").over(tot),
        ).alias("f0"),
        F.when(
            F.sum("c1").over(tot) > 0,
            F.sum("c1").over(w) / F.sum("c1").over(tot),
        ).alias("f1"),
        F.sum("c0").over(tot).alias("n0"),
        F.sum("c1").over(tot).alias("n1"),
    )
    agg = ecdf.groupBy(group_col).agg(
        F.first("n0").cast("long").alias("n0"),
        F.first("n1").cast("long").alias("n1"),
        F.sum(
            F.col("_c")
            * (F.col("f0") - F.col("f1"))
            * (F.col("f0") - F.col("f1"))
        ).alias("_s"),
    )
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    t = F.when(
        (F.col("n0") > 0) & (F.col("n1") > 0),
        n0 * n1 / ((n0 + n1) * (n0 + n1)) * F.col("_s"),
    )
    return agg.select(
        group_col,
        "n0",
        "n1",
        F.round(t + F.lit(1e-9), 6).alias("cvm_stat"),
        F.when(t.isNotNull(), t > alpha_t).alias("drift"),
    )


def diurnal_harmonic(
    df: DataFrame,
    group_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-group single-harmonic (24 h) fit of the hour-of-day count
    profile — the SEASONALITY-STRENGTH member of the arrival-process
    family: ACF says "hour t correlates with hour t-24", the harmonic
    fit quantifies HOW diurnal a feed is (amplitude, peak hour) and
    how much of its hour-of-day variance the cycle explains (r2). A
    bot feed is flat (r2 ~ 0); a human feed has a strong 24 h wave; a
    feed whose phase suddenly shifts moved timezones upstream.

    On the dense 24-point hour-of-day grid the first discrete Fourier
    coefficient IS the least-squares single-harmonic fit (exact
    orthogonality — no normal-equation solve)::

        a = (2/24) * sum_h x_h cos(2 pi h/24),
        b = (2/24) * sum_h x_h sin(2 pi h/24),
        amplitude = sqrt(a^2 + b^2),
        peak_hour = atan2(b, a) * 24/(2 pi)  (mod 24),
        r2 = (amplitude^2 / 2) / var_pop(x_h)

    where ``x_h`` is the group's total event count at hour-of-day h
    (hours with no events count 0 — gap-as-zero, the family stance).

    Plan: one ``groupBy(group, hour)`` count shuffle; the dense grid
    is groups x 24 (synthesized, never the fact table); the fit is one
    aggregate over 24 rows per group. Constant profiles (zero
    variance) report NULL r2. Returns
    (group, n_events, amplitude, peak_hour, r2), 6 dp.
    """
    import math

    g = group_col
    counts = df.groupBy(
        F.col(g), F.hour(ts_col).alias("_h")
    ).agg(F.count(F.lit(1)).alias("_c"))
    counts = counts.persist()  # groups list + dense join: one fact scan
    groups = counts.select(g).distinct()
    grid = groups.crossJoin(
        df.sparkSession.range(24).select(F.col("id").cast("int").alias("_h"))
    )
    dense = grid.join(counts, [g, "_h"], "left").fillna({"_c": 0})
    two_pi = 2.0 * math.pi
    m = dense.groupBy(g).agg(
        F.sum("_c").cast("long").alias("n_events"),
        (
            F.sum(F.col("_c") * F.cos(F.col("_h") * F.lit(two_pi / 24.0)))
            * F.lit(2.0 / 24.0)
        ).alias("_a"),
        (
            F.sum(F.col("_c") * F.sin(F.col("_h") * F.lit(two_pi / 24.0)))
            * F.lit(2.0 / 24.0)
        ).alias("_b"),
        F.var_pop(F.col("_c").cast("double")).alias("_var"),
    )
    amp = F.sqrt(F.col("_a") * F.col("_a") + F.col("_b") * F.col("_b"))
    peak = F.pmod(
        F.atan2(F.col("_b"), F.col("_a")) * F.lit(24.0 / two_pi),
        F.lit(24.0),
    )
    return m.select(
        g,
        "n_events",
        F.round(amp + F.lit(1e-9), 6).alias("amplitude"),
        F.round(peak + F.lit(1e-9), 6).alias("peak_hour"),
        F.when(
            F.col("_var") > 0,
            F.round(
                (amp * amp / 2.0) / F.col("_var") + F.lit(1e-9), 6
            ),
        ).alias("r2"),
    )


def energy_distance(
    df: DataFrame,
    group_col: str,
    value_col: str,
    sample_col: str,
    *,
    a_value=0,
) -> DataFrame:
    """Per-group two-sample ENERGY distance
    ``E = 2·mean|x−y| − mean|x−x'| − mean|y−y'|`` (Székely–Rizzo) —
    the omnibus member of the two-sample family: KS sees only the max
    ECDF gap (weak against tail/variance changes), CvM integrates the
    gap, energy distance is zero IFF the distributions are equal and
    responds to ANY difference, location, scale, or shape.

    The naive statistic is O(n²) pairwise distances. In 1-D every term
    collapses to rank-coefficient sums over ONE sorted pass:
    ``Σ_{i<j} |z_(j) − z_(i)| = Σ_i (2i − N − 1)·z_(i)`` — computed
    for the pooled sample (T) and each sample alone (B_a, B_b); the
    cross-pair sum is then ``T − B_a − B_b``. Tie-safe: permuting
    equal values redistributes coefficients within a constant-value
    block, leaving each sum unchanged — so no cross-engine tie-break
    is needed.

    Rows with ``sample_col = a_value`` form sample A, all others B;
    NULL values are dropped. Groups missing a sample report NULL.

    Plan: one narrow shuffle+sort per group; the pooled and
    per-sample cumulative ranks all come from the SAME window
    ordering (conditional running sums), the group totals reuse the
    partitioning, and the final aggregate is partial-aggregated map-
    side. Returns (group, n_a, n_b, energy), 6 dp.
    """
    g = group_col
    narrow = df.where(F.col(value_col).isNotNull()).select(
        g,
        F.col(value_col).cast("double").alias("_v"),
        (F.col(sample_col) == F.lit(a_value)).cast("int").alias("_ia"),
    )
    w = (
        Window.partitionBy(g)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(g)
    ranked = narrow.select(
        g,
        "_v",
        "_ia",
        F.sum(F.lit(1)).over(w).alias("_rall"),
        F.sum("_ia").over(w).alias("_ra"),
        F.sum(F.lit(1) - F.col("_ia")).over(w).alias("_rb"),
        F.count(F.lit(1)).over(w_tot).alias("_nn"),
        F.sum("_ia").over(w_tot).alias("_na"),
        F.sum(F.lit(1) - F.col("_ia")).over(w_tot).alias("_nb"),
    )
    a = ranked.groupBy(g).agg(
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.sum(
            (2.0 * F.col("_rall") - F.col("_nn") - 1) * F.col("_v")
        ).alias("_t"),
        F.sum(
            F.when(
                F.col("_ia") == 1,
                (2.0 * F.col("_ra") - F.col("_na") - 1) * F.col("_v"),
            )
        ).alias("_ba"),
        F.sum(
            F.when(
                F.col("_ia") == 0,
                (2.0 * F.col("_rb") - F.col("_nb") - 1) * F.col("_v"),
            )
        ).alias("_bb"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    cross = F.col("_t") - F.col("_ba") - F.col("_bb")
    e = (
        2.0 * cross / (1.0 * na * nb)
        - 2.0 * F.col("_ba") / (1.0 * na * na)
        - 2.0 * F.col("_bb") / (1.0 * nb * nb)
    )
    return a.select(
        g,
        "n_a",
        "n_b",
        F.when(
            (na > 0) & (nb > 0), F.round(e + F.lit(1e-9), 6)
        ).alias("energy"),
    )


def hurst_rescaled_range(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    scales: tuple = (8, 16, 32, 64),
) -> DataFrame:
    """Per-group Hurst exponent of the dense bucketed count series via
    classical rescaled-range (R/S) analysis — the LONG-MEMORY member
    of the arrival-process family: ACF/PACF see short-lag structure,
    the Hurst exponent says whether fluctuations are anti-persistent
    (H < 0.5), iid-like (H ≈ 0.5) or long-range dependent (H → 1, the
    signature of a feed whose bursts cluster at every timescale —
    capacity planning reads this number directly).

    For each scale n the series is cut into complete n-bucket windows;
    per window ``R = max(cumdev) − min(cumdev)`` of the mean-centered
    cumulative sum and ``S = population sd``; per scale the mean R/S
    over windows (zero-variance windows excluded, the classical
    convention); H is the least-squares slope of ``log(mean R/S)`` on
    ``log n``. Groups with fewer than two usable scales report NULL.

    Plan: ONE fact-table shuffle (the bucket count, inherited dense
    grid, gap-as-zero); the per-scale branches are window passes over
    the PERSISTED |buckets|-row frame — they never re-read the fact
    table — followed by a union of |groups| × |scales| rows and a
    closed-form slope aggregate. Returns
    (group, n_scales, hurst), 6 dp.
    """
    g = group_col
    dense = _dense_counts(df, g, ts_col, bucket)
    w_idx = Window.partitionBy(g).orderBy("_b")
    base = dense.select(
        g,
        (F.row_number().over(w_idx) - 1).alias("_i"),
        F.col("_c").cast("double").alias("_x"),
    )
    # every scale re-reads this frame: persist the |buckets|-row base
    base = base.persist()
    per_scale = []
    for n in scales:
        w_tot = Window.partitionBy(g, "_w")
        w_cum = (
            Window.partitionBy(g, "_w")
            .orderBy("_i")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        fr = base.select(
            g, F.floor(F.col("_i") / n).alias("_w"), "_i", "_x"
        )
        fr = fr.select(
            g,
            "_w",
            "_i",
            "_x",
            F.count(F.lit(1)).over(w_tot).alias("_cnt"),
            F.avg("_x").over(w_tot).alias("_mu"),
        )
        fr = fr.select(
            g,
            "_w",
            "_cnt",
            "_x",
            F.sum(F.col("_x") - F.col("_mu")).over(w_cum).alias("_cum"),
        )
        win = fr.groupBy(g, "_w").agg(
            F.max("_cnt").alias("_cnt"),
            (F.max("_cum") - F.min("_cum")).alias("_r"),
            F.sqrt(F.var_pop("_x")).alias("_s"),
        )
        rs = F.when(
            (F.col("_cnt") == n) & (F.col("_s") > 0),
            F.col("_r") / F.col("_s"),
        )
        per_scale.append(
            win.groupBy(g).agg(F.avg(rs).alias("_mean_rs")).select(
                g, F.lit(float(n)).alias("_n"), "_mean_rs"
            )
        )
    pts = per_scale[0]
    for p in per_scale[1:]:
        pts = pts.unionByName(p)
    pts = pts.where(F.col("_mean_rs") > 0).select(
        g, F.log("_n").alias("_lx"), F.log("_mean_rs").alias("_ly")
    )
    a = pts.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_scales"),
        F.sum("_lx").alias("_sx"),
        F.sum("_ly").alias("_sy"),
        F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
        F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx"),
    )
    k = F.col("n_scales")
    den = 1.0 * k * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = (1.0 * k * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / den
    return a.select(
        g,
        "n_scales",
        F.when(
            (k >= 2) & (F.abs(den) > 1e-12),
            F.round(slope + F.lit(1e-9), 6),
        ).alias("hurst"),
    )


def seasonal_cells(
    df: DataFrame,
    ts_col: str,
    *,
    anchor: str = "2024-01-01",
) -> DataFrame:
    """Dense hourly count series annotated with its seasonal cell:
    (bucket, dow, hod, count) where ``dow`` is days-since-``anchor``
    mod 7 (anchor a Monday → 0 = Monday; anchor arithmetic instead of
    an engine ``dayofweek`` because Sunday-origin conventions differ
    across engines) and ``hod`` the hour of day. Missing hours count 0
    — gap-as-zero, the arrival-process family stance. One fact-table
    shuffle (the hourly count); the grid is synthesized from (min,
    max) via ``sequence``, never the fact table."""
    b = F.date_trunc("hour", F.col(ts_col))
    counts = df.groupBy(b.alias("_b")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    # counts feeds the span AND the dense join: persist the
    # metadata-sized frame so the fact table is scanned once
    counts = counts.persist()
    span = counts.agg(F.min("_b").alias("_lo"), F.max("_b").alias("_hi"))
    grid = span.select(
        F.explode(
            F.sequence("_lo", "_hi", F.expr("interval 1 hour"))
        ).alias("_b")
    )
    dense = grid.join(counts, "_b", "left").fillna({"_c": 0})
    return dense.select(
        F.col("_b").alias("b"),
        F.pmod(
            F.datediff(F.to_date("_b"), F.lit(anchor).cast("date")),
            F.lit(7),
        )
        .cast("long")
        .alias("dow"),
        F.hour("_b").cast("long").alias("hod"),
        F.col("_c").cast("double").alias("c"),
    )


def seasonal_profile(
    df: DataFrame,
    ts_col: str,
    *,
    anchor: str = "2024-01-01",
) -> DataFrame:
    """Day-of-week × hour-of-day expected-volume profile — the
    SEASONAL-BASELINE member of the arrival-process family:
    ``diurnal_harmonic`` fits one 24 h wave, this tabulates the full
    168-cell weekly profile (mean and population sd of the hourly
    count per cell) that seasonal anomaly detection conditions on.
    A global volume gate alarms every Sunday night; a per-cell gate
    knows Sunday 03:00 is always quiet.

    Plan: one fact shuffle (inherited from ``seasonal_cells``), one
    aggregate over the |buckets|-row dense frame to ≤168 rows.
    Returns (dow, hod, n_buckets, mu, sd), 6 dp."""
    cells = seasonal_cells(df, ts_col, anchor=anchor)
    prof = cells.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.avg("c").alias("_mu"),
        F.sqrt(F.var_pop("c")).alias("_sd"),
    )
    return prof.select(
        "dow",
        "hod",
        "n_buckets",
        F.round(F.col("_mu") + F.lit(1e-9), 6).alias("mu"),
        F.round(F.col("_sd") + F.lit(1e-9), 6).alias("sd"),
    )


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str,
    *,
    threshold: float = 1.5,
    anchor: str = "2024-01-01",
) -> DataFrame:
    """Hourly buckets whose count is anomalous GIVEN the seasonal
    (dow × hod) cell it belongs to: z = (c − mu_cell) / sd_cell,
    flagged when |z| ≥ threshold — the seasonally-ADJUSTED volume
    alarm (the raw z-score fires on every weekend trough; this one
    only on departures from the cell's own history). Constant cells
    (sd = 0) yield NULL z and are never flagged. The filter compares
    the 6-dp-ROUNDED z so an engine-epsilon straddle of the threshold
    cannot flip membership across engines.

    Plan: the one fact shuffle from ``seasonal_cells``; the ≤168-row
    profile broadcasts back onto the dense bucket frame. Returns
    (b, dow, hod, c, z), 6 dp."""
    cells = seasonal_cells(df, ts_col, anchor=anchor)
    prof = cells.groupBy("dow", "hod").agg(
        F.avg("c").alias("_mu"), F.sqrt(F.var_pop("c")).alias("_sd")
    )
    joined = cells.join(F.broadcast(prof), ["dow", "hod"])
    z = F.when(
        F.col("_sd") > 0,
        F.round(
            (F.col("c") - F.col("_mu")) / F.col("_sd") + F.lit(1e-9), 6
        ),
    )
    scored = joined.select(
        "b", "dow", "hod", F.col("c").cast("long").alias("c"),
        z.alias("z"),
    )
    return scored.where(
        F.col("z").isNotNull() & (F.abs(F.col("z")) >= F.lit(threshold))
    )


def runs_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_cols: list[str],
    *,
    alpha_z: float = 1.959964,
) -> DataFrame:
    """Per-group Wald–Wolfowitz runs test of randomness on the sign of
    ``value_col`` vs the group's exact median, in ``order_cols`` order
    — the sequence-structure member of the test battery: KS/PSI check
    the value DISTRIBUTION, MK/Theil-Sen check monotone TREND, the
    runs test checks whether above/below-median excursions cluster
    (too FEW runs: regime-switching, stuck sensors, batched writes) or
    oscillate (too MANY runs: alternating feeds interleaved into one
    series) — both invisible to distribution and trend tests, since
    neither changes the value mix nor adds drift.

    Rows with ``value == median`` are dropped (the classical
    treatment); ``R = 1 + sum(sign_t != sign_{t-1})``,
    ``E[R] = 2*n1*n2/n + 1``,
    ``Var = 2*n1*n2*(2*n1*n2 - n) / (n^2 * (n-1))``, plain
    ``z = (R - E)/sqrt(Var)`` (no continuity correction; NULL when
    either sign class is empty or Var == 0). ``order_cols`` must be a
    deterministic total order (pass a tie-breaking id column).

    Plan: the narrow (group, order, value) projection is persisted
    ONCE — the exact-median aggregate and the sign/lag window both
    derive from it, so the fact table is scanned once; the group-sized
    median frame is broadcast back; one window pass per group. Returns
    (group, n_pos, n_neg, runs, z, verdict).
    """
    g = group_col
    narrow = df.select(g, value_col, *order_cols).persist()
    med = narrow.groupBy(g).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    signed = (
        narrow.join(F.broadcast(med), g)
        .where(F.col(value_col) != F.col("_med"))
        .select(
            g,
            *order_cols,
            (F.col(value_col) > F.col("_med")).alias("_pos"),
        )
    )
    w = Window.partitionBy(g).orderBy(*order_cols)
    flagged = signed.select(
        g,
        "_pos",
        F.when(
            F.lag("_pos").over(w).isNull()
            | (F.lag("_pos").over(w) != F.col("_pos")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_new_run"),
    )
    agg = flagged.groupBy(g).agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(1))
        .cast("long")
        .alias("n_neg"),
        F.sum("_new_run").cast("long").alias("runs"),
    )
    n1 = F.col("n_pos").cast("double")
    n2 = F.col("n_neg").cast("double")
    n = n1 + n2
    e_r = 2.0 * n1 * n2 / n + 1.0
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
    )
    z = F.when(
        (n1 > 0) & (n2 > 0) & (n > 1) & (var_r > 0),
        (F.col("runs") - e_r) / F.sqrt(var_r),
    )
    return agg.select(
        g,
        "n_pos",
        "n_neg",
        "runs",
        F.round(z + F.lit(1e-9), 6).alias("z"),
        F.when(z < -alpha_z, F.lit("clustered"))
        .when(z > alpha_z, F.lit("oscillating"))
        .when(z.isNull(), F.lit(None).cast("string"))
        .otherwise(F.lit("random"))
        .alias("verdict"),
    )


def ccf_bucket_counts(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    max_lag: int = 3,
) -> DataFrame:
    """Cross-correlation between every ORDERED pair of groups' dense
    bucketed count series at lags 0..max_lag — the lead-lag member of
    the drift family: ACF asks "does this feed correlate with its own
    past", CCF asks "does feed A's volume predict feed B's k buckets
    later" (upstream→downstream propagation, shared-cause detection, a
    mirror that re-publishes with delay). ``ccf(a, b, k) =
    corr(x^a_t, x^b_{t+k})`` — a row with lag k > 0 means A LEADS B.

    All series share the GLOBAL bucket span (missing buckets count 0,
    same stance as ACF — and a shared span is what makes the pairwise
    correlations comparable). The overlap at lag k drops the last k
    buckets (standard truncated estimator); Pearson r from explicit
    moment sums, NULL when either side is constant in the overlap.

    Plan: one ``groupBy(group, bucket)`` count shuffle; the dense grid
    is groups x global-span (metadata-sized, synthesized via
    ``sequence``); all lags come from ONE window pass per group
    (lead columns, stack-unpivoted), then one equi-join on bucket
    pairs the groups — n_groups^2 x span x (max_lag+1) rows never
    touch the fact table. Returns
    (group_a, group_b, lag, n_overlap, ccf).
    """
    g = group_col
    b = F.date_trunc(bucket, F.col(ts_col))
    counts = (
        df.groupBy(F.col(g), b.alias("_b"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .persist()
    )
    span = counts.agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    step = F.expr(f"interval 1 {bucket}")
    groups = counts.select(g).distinct()
    grid = groups.crossJoin(F.broadcast(span)).select(
        g, F.explode(F.sequence("_lo", "_hi", step)).alias("_b")
    )
    dense = grid.join(counts, [g, "_b"], "left").fillna({"_c": 0})
    ord_w = Window.partitionBy(g).orderBy("_b")
    leads = dense.select(
        F.col(g).alias("group_b"),
        "_b",
        *[
            F.lead("_c", k).over(ord_w).alias(f"_l{k}")
            for k in range(0, max_lag + 1)
        ],
    )
    pairs_lag = ", ".join(f"{k}, _l{k}" for k in range(0, max_lag + 1))
    stacked = leads.select(
        "group_b",
        "_b",
        F.expr(f"stack({max_lag + 1}, {pairs_lag}) as (lag, _y)"),
    ).where(F.col("_y").isNotNull())
    a = dense.select(
        F.col(g).alias("group_a"), "_b", F.col("_c").alias("_x")
    )
    joined = a.join(stacked, "_b").where(
        F.col("group_a") != F.col("group_b")
    )
    m = joined.groupBy("group_a", "group_b", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        F.sum("_x").cast("double").alias("_sx"),
        F.sum("_y").cast("double").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("double").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("double").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("double").alias("_syy"),
    )
    n = F.col("n_overlap").cast("double")
    cov = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    return m.select(
        "group_a",
        "group_b",
        "lag",
        "n_overlap",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(cov / F.sqrt(vx * vy) + F.lit(1e-9), 6),
        ).alias("ccf"),
    )


def theil_sen(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    *,
    bucket: str = "day",
) -> DataFrame:
    """Per-group Theil-Sen robust slope of the bucket-mean metric
    series — the ESTIMATOR companion to ``mann_kendall``: MK answers
    "is there a monotone trend at all" with a sign test, Theil-Sen
    answers "how steep is it" with the median of all pairwise slopes,
    breakdown point ~29% (a handful of outlier buckets cannot move it,
    unlike the OLS slope in ``zipf_fit``-style fits).

    Series: ``avg(value_col)`` per ``date_trunc(bucket)`` — EMPTY
    buckets are excluded (a metric series has no mean where no rows
    exist; the opposite stance from MK's dense count grid, where a gap
    is itself a zero observation). Slope units are value per day
    (x = epoch seconds / 86400). The median is the exact
    linear-interpolated percentile, matching ``quantile_cont``.

    Plan: one ``groupBy(group, bucket)`` aggregation shuffle over the
    fact table; the pairwise-slope frame is a self-equi-join on group
    of the persisted METADATA-SIZED bucket frame (B rows per group,
    B*(B-1)/2 slope rows — at 1 year of daily buckets, 66k pairs per
    group; the fact table is never rescanned), and the per-group
    median aggregates that. Groups with < 2 populated buckets report
    NULL slope. Returns (group, n_buckets, n_pairs, slope), 6 dp.
    """
    g = group_col
    b = F.date_trunc(bucket, F.col(ts_col))
    pts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(g), b.alias("_b"))
        .agg(F.avg(value_col).alias("_y"))
        .select(
            g,
            (F.unix_timestamp("_b").cast("double") / 86400.0).alias("_x"),
            "_y",
        )
        .persist()
    )
    a = pts.select(g, F.col("_x").alias("_xi"), F.col("_y").alias("_yi"))
    c = pts.select(g, F.col("_x").alias("_xj"), F.col("_y").alias("_yj"))
    slopes = (
        a.join(c, g)
        .where(F.col("_xi") < F.col("_xj"))
        .select(
            g,
            (
                (F.col("_yj") - F.col("_yi"))
                / (F.col("_xj") - F.col("_xi"))
            ).alias("_s"),
        )
    )
    med = slopes.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("percentile(_s, 0.5)").alias("_med"),
    )
    n = pts.groupBy(g).agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    return n.join(med, g, "left").select(
        g,
        "n_buckets",
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        F.round(F.col("_med") + F.lit(1e-9), 6).alias("slope"),
    )


def histogram_spikes(
    df: DataFrame,
    value_col,
    *,
    width: int = 16,
    min_ratio: float = 4.0,
    min_count: int = 10,
) -> DataFrame:
    """Histogram spike detector over an integer-valued column — the
    TRUNCATION/CLIPPING check of the length family: a pipeline that
    clips documents at a context budget piles the overflow mass into
    one bin, so that bin towers over both neighbors. Drift tests
    (PSI/KS) need a baseline epoch to notice; the spike test needs
    only the histogram's own local shape, which is what makes it the
    right first-contact diagnostic for a brand-new source.

    Buckets are ``floor(value / width)`` over the DENSE bucket grid
    (absent bins count 0 — a spike next to a hole is still a spike);
    ``ratio = c / max(prev, next, 1)`` and a bin is flagged when
    ``c >= min_count`` and ``ratio >= min_ratio``. Returns the full
    annotated histogram (bucket, lo_value, n, prev_n, next_n, ratio,
    is_spike) so the caller sees the shape, not just the verdict.

    Plan: one ``groupBy(bucket)`` count shuffle (map-side partial);
    the dense grid + lag/lead windows run on the bucket frame
    (metadata-sized). ``value_col`` may be any column expression —
    pass ``F.size(F.split(...))`` for token counts; the expression
    stays inside the scan's codegen stage.
    """
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    hist = df.select(
        F.floor(val / F.lit(width)).cast("long").alias("_bk")
    ).groupBy("_bk").agg(F.count(F.lit(1)).alias("_n"))
    hist = hist.persist()  # span + dense join: one fact scan
    span = hist.agg(F.min("_bk").alias("_lo"), F.max("_bk").alias("_hi"))
    grid = span.select(
        F.explode(F.sequence("_lo", "_hi")).alias("_bk")
    )
    dense = grid.join(hist, "_bk", "left").fillna({"_n": 0})
    w = Window.orderBy("_bk")
    prev_n = F.coalesce(F.lag("_n", 1).over(w), F.lit(0))
    next_n = F.coalesce(F.lead("_n", 1).over(w), F.lit(0))
    ratio = F.col("n") / F.greatest(
        F.greatest(F.col("prev_n"), F.col("next_n")).cast("double"),
        F.lit(1.0),
    )
    return dense.select(
        F.col("_bk").alias("bucket"),
        (F.col("_bk") * width).cast("long").alias("lo_value"),
        F.col("_n").cast("long").alias("n"),
        prev_n.cast("long").alias("prev_n"),
        next_n.cast("long").alias("next_n"),
    ).select(
        "bucket",
        "lo_value",
        "n",
        "prev_n",
        "next_n",
        F.round(ratio + F.lit(1e-9), 6).alias("ratio"),
        ((F.col("n") >= min_count) & (ratio >= min_ratio)).alias("is_spike"),
    )


def quantile_qq_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Per-group QQ distance: ``max over p of |q_group(p) - q_global(p)|``
    over exact interpolated quantiles — the quantile-space member of
    the drift family. KS measures the worst CDF gap (probability
    space, scale-free); the QQ distance measures the worst VALUE gap
    (units of the column), which is what a length-budget owner actually
    asks: "how many characters/tokens apart is this source's median
    from the corpus'?".

    Exact ``percentile`` (not the sketch) so the statistic reproduces
    bitwise on any engine sharing linear interpolation (DuckDB
    quantile_cont — same convention the quantiles_docs contract query
    already pins). The per-group value buffer this implies is the
    documented exact-tier bound (cf. ``winsorize``'s two tiers); at
    true 100-TB scale swap in ``percentile_approx`` and accept sketch
    error.

    Plan: one ``groupBy(group)`` aggregation + a global aggregation of
    the SAME shape broadcast back as a 1-row frame; the deciles zip
    with a codegen ``zip_with``/``array_max`` fold. Returns
    (group, n, qq_dist).
    """
    plist = ", ".join(repr(float(p)) for p in probs)
    q_expr = f"percentile({value_col}, array({plist}))"
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(q_expr).alias("_qs"),
    )
    glob = df.agg(F.expr(q_expr).alias("_qg"))
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            group_col,
            "n",
            F.round(
                F.array_max(
                    F.zip_with("_qs", "_qg", lambda a, b: F.abs(a - b))
                )
                + F.lit(1e-9),
                6,
            ).alias("qq_dist"),
        )
    )


def _periodogram_valid(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    bucket: str,
    max_k: int,
    dense: DataFrame | None = None,
):
    """Shared periodogram core: returns ``(valid, base)`` where
    ``valid`` is the sub-Nyquist per-harmonic frame
    (group, _nn, _ss, _k, _pw) and ``base`` is the all-groups frame
    (group, n_buckets). One fact scan (persisted bucket frame), one
    aggregation for all 2*max_k trig sums; see ``dominant_period``
    for the math and determinism notes. ``dense`` injects a prebuilt
    ``_dense_counts`` frame for fused single-scan callers."""
    import math

    g = group_col
    if dense is None:
        dense = _dense_counts(df, g, ts_col, bucket)
    tot = Window.partitionBy(g)
    ord_w = Window.partitionBy(g).orderBy("_b")
    two_pi = 2.0 * math.pi
    # one window pass: index t, length T, mean — then deviations
    idx = dense.select(
        g,
        (F.row_number().over(ord_w) - 1).cast("double").alias("_t"),
        F.count(F.lit(1)).over(tot).cast("double").alias("_n"),
        (
            F.col("_c").cast("double")
            - F.sum("_c").over(tot) / F.count(F.lit(1)).over(tot)
        ).alias("_d"),
    )
    # all trig terms in one projection; the per-k angle literal
    # (2*pi*k) is folded in Python so the oracle can embed the exact
    # same double
    terms = idx.select(
        g,
        "_n",
        (F.col("_d") * F.col("_d")).alias("_dd"),
        *[
            (
                F.col("_d")
                * F.cos(F.col("_t") * F.lit(two_pi * k) / F.col("_n"))
            ).alias(f"_ca{k}")
            for k in range(1, max_k + 1)
        ],
        *[
            (
                F.col("_d")
                * F.sin(F.col("_t") * F.lit(two_pi * k) / F.col("_n"))
            ).alias(f"_cb{k}")
            for k in range(1, max_k + 1)
        ],
    )
    agg = terms.groupBy(g).agg(
        F.max("_n").alias("_nn"),
        F.sum("_dd").alias("_ss"),
        *[F.sum(f"_ca{k}").alias(f"_sa{k}") for k in range(1, max_k + 1)],
        *[F.sum(f"_cb{k}").alias(f"_sb{k}") for k in range(1, max_k + 1)],
    )
    pairs = ", ".join(f"{k}, _sa{k}, _sb{k}" for k in range(1, max_k + 1))
    stacked = agg.select(
        g,
        "_nn",
        "_ss",
        F.expr(f"stack({max_k}, {pairs}) as (_k, _sa, _sb)"),
    )
    valid = stacked.where(
        (F.col("_ss") > 0)
        & (F.col("_k") <= F.floor((F.col("_nn") - 1) / 2))
    ).select(
        g,
        "_nn",
        "_ss",
        "_k",
        (
            (F.col("_sa") * F.col("_sa") + F.col("_sb") * F.col("_sb"))
            * 2.0
            / F.col("_nn")
        ).alias("_pw"),
    )
    base = agg.select(g, F.col("_nn").cast("long").alias("n_buckets"))
    return valid, base


def dominant_period(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    max_k: int = 8,
    dense: DataFrame | None = None,
) -> DataFrame:
    """Per-group DOMINANT PERIOD of the bucketed arrival process via
    the discrete periodogram — the period-DISCOVERY member of the
    arrival-process family: ``acf_bucket_counts`` tests short fixed
    lags, ``diurnal_harmonic`` assumes the cycle is 24 h and measures
    its strength; this operator FINDS the cycle. A feed that quietly
    switches from a daily to a 12 h batch cadence moves its dominant
    period long before any volume or value check fires (the
    reference's single anomaly-likelihood mechanism,
    htm_streamer/utils/anomaly.py, has no spectral view at all).

    Over the dense mean-centered series ``d_t`` (t = 0..T-1,
    gap-as-zero — the family stance) the periodogram ordinate at
    harmonic k is::

        a_k = sum_t d_t cos(2 pi k t / T),
        b_k = sum_t d_t sin(2 pi k t / T),
        power_k = (a_k^2 + b_k^2) * 2 / T

    and by Parseval ``sum_k power_k = sum_t d_t^2`` over the
    sub-Nyquist harmonics, so ``power_frac = power_k / sum_t d_t^2``
    is the exact fraction of series variance the harmonic explains.
    The dominant harmonic is the argmax of ``power_k`` over
    k = 1..min(max_k, floor((T-1)/2)) (6-dp-rounded power, smallest k
    on ties — cross-engine determinism), reported as
    ``period_buckets = T / k``. Periods shorter than ``T / max_k``
    buckets are out of scope by construction: pick ``bucket`` so the
    cadence of interest is a low harmonic. Constant series (zero
    deviation energy) and series too short for any sub-Nyquist
    harmonic (T < 3) report NULLs.

    Plan: one ``groupBy(group, bucket)`` count shuffle (the persisted
    metadata-sized bucket frame feeds both the span derivation and the
    dense join, one fact scan — the multi-scan lint); one per-group
    window pass indexes the dense grid; all 2*max_k trig sums come out
    of ONE aggregation (conditional columns, not per-k unions); the
    argmax runs on the |groups| x max_k stacked frame. Zero Python in
    the plan. Returns
    (group, n_buckets, best_k, period_buckets, power, power_frac),
    6 dp.
    """
    g = group_col
    valid, base = _periodogram_valid(
        df, g, ts_col, bucket, max_k, dense=dense
    )
    rank_w = Window.partitionBy(g).orderBy(
        F.round(F.col("_pw") + F.lit(1e-9), 6).desc(), F.col("_k").asc()
    )
    best = (
        valid.withColumn("_rn", F.row_number().over(rank_w))
        .where(F.col("_rn") == 1)
        .select(
            g,
            F.col("_k").cast("long").alias("best_k"),
            F.round(F.col("_nn") / F.col("_k") + F.lit(1e-9), 6).alias(
                "period_buckets"
            ),
            F.round(F.col("_pw") + F.lit(1e-9), 6).alias("power"),
            F.round(F.col("_pw") / F.col("_ss") + F.lit(1e-9), 6).alias(
                "power_frac"
            ),
        )
    )
    # keep constant / too-short groups with NULLs (contract: every
    # observed group reports)
    return base.join(best, [g], "left").select(
        g, "n_buckets", "best_k", "period_buckets", "power", "power_frac"
    )


# chi-square 95th-percentile critical values by degrees of freedom
# (standard published table, e.g. scipy.stats.chi2.ppf(0.95, df))
_CHI2_95 = {
    1: 3.841458820694124,
    2: 5.991464547107979,
    3: 7.814727903251179,
    4: 9.487729036781154,
    5: 11.070497693516351,
    6: 12.591587243743977,
    7: 14.067140449340169,
    8: 15.50731305586545,
    9: 16.918977604620448,
    10: 18.307038053275146,
    11: 19.675137572682488,
    12: 21.026069817483055,
    13: 22.36203249482694,
    14: 23.684791304840566,
    15: 24.995790139728612,
    16: 26.296227604864228,
    17: 27.587111638275317,
    18: 28.86929943039263,
    19: 30.14352720564616,
    20: 31.410432844230932,
    21: 32.6705733409173,
    22: 33.92443847144379,
    23: 35.17246162690806,
    24: 36.4150285018073,
    25: 37.65248413348276,
    26: 38.88513865983005,
    27: 40.11327206941361,
    28: 41.33713815142741,
    29: 42.556967804292654,
    30: 43.77297182574216,
}


def ljung_box(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    max_lag: int = 5,
    alpha_q: float | None = None,
    dense: DataFrame | None = None,
) -> DataFrame:
    """Per-group Ljung–Box portmanteau WHITENESS test of the bucketed
    count series — the hypothesis-test member of the arrival-process
    family: ``acf_bucket_counts`` reports the per-lag correlations but
    leaves "is any of this real?" to the reader; Ljung–Box collapses
    the first h lags into one chi-square statistic::

        Q = T (T + 2) * sum_{k=1..h} r_k^2 / (T - k)

    rejecting whiteness at ``Q > chi2_{0.95, h}`` (Ljung & Box 1978).
    An iid feed passes; any residual autocorrelation structure —
    batchiness, retry storms, a cron cadence — fires the single
    verdict a monitor can alarm on.

    Cross-engine determinism: Q is computed from the 6-dp-ROUNDED
    ``r_k`` (the same contract ``pacf_durbin_levinson``'s oracle uses),
    so both engines feed identical doubles into an identical
    left-to-right sum. Groups with a constant series (NULL acf) or
    with T <= max_lag (the k = T term would divide by zero; the
    asymptotics need T >> h anyway) report NULL Q / NULL verdict.

    Plan: inherits the single fact shuffle from ``_acf_core``; the Q
    reduction runs on the |groups| x max_lag stacked frame. Returns
    (group, n_buckets, q_stat, lb_reject), 6 dp.
    """
    if alpha_q is None:
        if max_lag not in _CHI2_95:
            raise ValueError(
                f"no built-in chi-square critical value for max_lag="
                f"{max_lag}; pass alpha_q explicitly"
            )
        alpha_q = _CHI2_95[max_lag]
    g = group_col
    core = _acf_core(df, g, ts_col, bucket, max_lag, dense=dense)
    t = F.col("_T").cast("double")
    agg = core.groupBy(g).agg(
        F.max("_T").cast("long").alias("n_buckets"),
        # ANSI-safe: guard the T == k arm instead of dividing by zero
        F.sum(
            F.when(
                (F.col("_T") > F.col("lag")) & F.col("acf").isNotNull(),
                F.col("acf") * F.col("acf") / (t - F.col("lag")),
            )
        ).alias("_s"),
        F.count(F.when(F.col("acf").isNotNull(), 1)).alias("_nr"),
    )
    nn = F.col("n_buckets").cast("double")
    q = F.when(
        (F.col("n_buckets") > max_lag) & (F.col("_nr") == max_lag),
        nn * (nn + 2.0) * F.col("_s"),
    )
    return agg.select(
        g,
        "n_buckets",
        F.round(q + F.lit(1e-9), 6).alias("q_stat"),
        F.when(q.isNotNull(), q > alpha_q).alias("lb_reject"),
    )


def dispersion_index(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    z_crit: float = 1.959963984540054,
    dense: DataFrame | None = None,
) -> DataFrame:
    """Per-group INDEX OF DISPERSION (Fano factor) of the bucketed
    count series with a chi-square over/under-dispersion verdict — the
    Poisson-ness member of the arrival-process family: a memoryless
    feed has variance == mean per bucket (D = 1); D >> 1 is burstiness
    (batch flushes, retry storms), D << 1 is smoothing/rate-limiting
    upstream. The classic test (Cox & Lewis 1966) treats
    ``(T-1) * D`` as chi-square with T-1 dof under H0; the Fisher
    normal approximation ``z = sqrt(2 chi2) - sqrt(2 df - 1)`` gives a
    two-sided verdict at |z| > z_crit (default 1.96, 5%).

    Determinism: the variance comes from raw power sums
    ``(sum c^2 - T mean^2) / (T - 1)`` — integer-valued double sums
    are exact, the mean is an exact-args division, and sqrt is
    IEEE-correctly-rounded, so every output is bit-identical across
    engines (no rounding slack needed beyond the house 6 dp).

    Plan: one ``groupBy(group, bucket)`` count shuffle (persisted —
    span + dense join, one fact scan); everything after is arithmetic
    on the |groups|-row frame. Degenerate groups (T < 2 or mean 0)
    report NULLs. Returns
    (group, n_buckets, mean_rate, fano, z, dispersion), 6 dp.
    """
    g = group_col
    if dense is None:
        dense = _dense_counts(df, g, ts_col, bucket)
    agg = dense.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("_c").cast("double").alias("_s1"),
        F.sum(F.col("_c") * F.col("_c")).cast("double").alias("_s2"),
    )
    nn = F.col("n_buckets").cast("double")
    mean = F.col("_s1") / nn
    var = F.when(
        F.col("n_buckets") > 1,
        (F.col("_s2") - nn * mean * mean) / (nn - 1.0),
    )
    fano = F.when(mean > 0, var / mean)
    chi2 = (nn - 1.0) * fano
    z = F.when(
        chi2 >= 0,
        F.sqrt(2.0 * chi2) - F.sqrt(2.0 * (nn - 1.0) - 1.0),
    )
    return agg.select(
        g,
        "n_buckets",
        F.round(mean + F.lit(1e-9), 6).alias("mean_rate"),
        F.round(fano + F.lit(1e-9), 6).alias("fano"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
        F.when(z.isNull(), F.lit(None).cast("string"))
        .when(z > z_crit, F.lit("over"))
        .when(z < -z_crit, F.lit("under"))
        .otherwise(F.lit("poisson"))
        .alias("dispersion"),
    )


def spectral_entropy(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    max_k: int = 8,
    dense: DataFrame | None = None,
) -> DataFrame:
    """Per-group band-limited SPECTRAL ENTROPY and flatness of the
    bucketed arrival series — the how-periodic-overall member of the
    arrival-process family: ``dominant_period`` names the winning
    cadence; spectral entropy says whether the spectrum is a spike
    (one strong cycle — entropy → 0), a few cycles, or white noise
    (flat spectrum — entropy → 1). The complementary flatness measure
    (Wiener entropy, geometric/arithmetic mean ratio) reacts harder to
    a single dominant line.

    Over the sub-Nyquist periodogram ordinates ``power_k``
    (k = 1..min(max_k, floor((T-1)/2)), shared core with
    ``dominant_period``) with ``p_k = power_k / sum power``::

        spec_entropy = - sum p_k ln p_k / ln(K)     (K > 1)
        flatness     = exp(mean ln power_k) / mean power_k

    Zero ordinates are excluded from both logs (measure-zero terms:
    ``p ln p -> 0``; flatness of a spectrum with a true zero line is
    0, reported as such). Band-limited by construction: entropy is
    over the k <= max_k harmonics only — the monitoring question is
    "did the LOW-frequency structure change", so a fixed small band is
    the deliberate contract, not an approximation. Constant series
    and K < 2 report NULL entropy.

    Plan: one fact shuffle (shared periodogram core); the entropy
    reduction runs on the |groups| x K stacked frame. Returns
    (group, n_buckets, n_harmonics, spec_entropy, flatness), 6 dp.
    """
    g = group_col
    valid, base = _periodogram_valid(
        df, g, ts_col, bucket, max_k, dense=dense
    )
    nz = valid.where(F.col("_pw") > 0)
    agg = nz.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("_kk"),
        F.sum("_pw").alias("_tot"),
        F.sum(F.col("_pw") * F.log(F.col("_pw"))).alias("_plogp"),
        F.sum(F.log("_pw")).alias("_logsum"),
    )
    # count of ALL sub-Nyquist ordinates (zero lines included: they
    # zero the flatness numerator and contribute p ln p -> 0 to the
    # entropy, but they DO widen the band normalizer ln K)
    kall = valid.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_harmonics")
    )
    j = kall.join(agg, [g], "left")
    kb = F.col("n_harmonics").cast("double")
    # H = -sum p ln p / ln K  with  p = pw/tot:
    #   -sum (pw/tot)(ln pw - ln tot) = ln tot - plogp/tot
    ent = F.when(
        (F.col("n_harmonics") > 1) & (F.col("_tot") > 0),
        (F.log(F.col("_tot")) - F.col("_plogp") / F.col("_tot"))
        / F.log(kb),
    )
    flat = F.when(
        (F.col("_tot") > 0) & (F.col("_kk") == F.col("n_harmonics")),
        F.exp(F.col("_logsum") / kb) / (F.col("_tot") / kb),
    ).otherwise(
        F.when(F.col("_tot") > 0, F.lit(0.0))
    )
    out = j.select(
        g,
        "n_harmonics",
        F.round(ent + F.lit(1e-9), 6).alias("spec_entropy"),
        F.round(flat + F.lit(1e-9), 6).alias("flatness"),
    )
    return base.join(out, [g], "left").select(
        g, "n_buckets", "n_harmonics", "spec_entropy", "flatness"
    )


def exp_interarrival_ks(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    alpha_stat: float = 1.094,
) -> DataFrame:
    """Per-group KS goodness-of-fit of the INTERARRIVAL gaps against
    the exponential distribution — the memorylessness member of the
    arrival-process family, and the continuous-time complement of
    ``dispersion_index``: Fano tests bucketed variance, this tests the
    full gap distribution (a feed can hold variance == mean per hour
    while its within-hour gaps are wildly non-exponential — e.g. a
    strict 36 s heartbeat).

    Gaps are integer microseconds between consecutive events per group
    (lag over the ts sort; the multiset of consecutive differences of
    a sorted sequence is tie-order invariant, so no tie-break column
    is needed). With the mean estimated from the data, plain KS
    critical values are invalid (Lilliefors); we report Stephens'
    (1974) modified statistic for the exponential case::

        D    = sup_x |F_n(x) - (1 - exp(-x/mean))|   (both ECDF sides)
        stat = (D - 0.2/n) * (sqrt(n) + 0.26 + 0.5/sqrt(n))

    rejecting exponentiality at ``stat > 1.094`` (the published 5%
    point). Zero-width gap ties are collapsed before the sup (discrete
    ECDF treatment, same as ``ks_two_sample``). Groups with < 2 events
    or zero mean gap (all simultaneous) report NULLs.

    Plan: one shuffle partitions by group; the ts sort feeds the lag
    window, the (group, gap) tie-collapse reuses the same
    partitioning (subset-key clustering — no second exchange), and
    the sup is one aggregate. Per-group sort is the same accepted
    single-task bound as ``likelihood_events``. Returns
    (group, n_gaps, mean_gap_us, ks_d, ks_stat, exp_reject), 6 dp.
    """
    g = group_col
    # integer microseconds: Spark truncates unix_timestamp() on
    # fractional seconds while other engines round — timestampdiff
    # at MICROSECOND granularity is exact on both (house rule)
    gaps = (
        df.select(
            g,
            F.expr(
                f"timestampdiff(MICROSECOND, "
                f"lag({ts_col}) over "
                f"(partition by {g} order by {ts_col}), {ts_col})"
            ).alias("_gap"),
        )
        .where(F.col("_gap").isNotNull())
    )
    per_v = gaps.groupBy(g, "_gap").agg(F.count(F.lit(1)).alias("_cnt"))
    tot = Window.partitionBy(g)
    cum_w = (
        Window.partitionBy(g)
        .orderBy("_gap")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n = F.sum("_cnt").over(tot).cast("double")
    mean = F.sum(F.col("_gap") * F.col("_cnt")).over(tot).cast(
        "double"
    ) / n
    ecdf = per_v.select(
        g,
        n.alias("_n"),
        mean.alias("_mu"),
        (F.sum("_cnt").over(cum_w).cast("double") / n).alias("_fu"),
        (
            (F.sum("_cnt").over(cum_w) - F.col("_cnt")).cast("double")
            / n
        ).alias("_fl"),
        F.when(
            mean > 0,
            1.0 - F.exp(-F.col("_gap").cast("double") / mean),
        ).alias("_fe"),
    )
    agg = ecdf.groupBy(g).agg(
        F.max("_n").cast("long").alias("n_gaps"),
        F.max("_mu").alias("_mu"),
        F.max(
            F.greatest(
                F.abs(F.col("_fu") - F.col("_fe")),
                F.abs(F.col("_fl") - F.col("_fe")),
            )
        ).alias("_d"),
    )
    nn = F.col("n_gaps").cast("double")
    stat = F.when(
        F.col("_d").isNotNull(),
        (F.col("_d") - 0.2 / nn)
        * (F.sqrt(nn) + 0.26 + 0.5 / F.sqrt(nn)),
    )
    return agg.select(
        g,
        "n_gaps",
        F.round(F.col("_mu") + F.lit(1e-9), 6).alias("mean_gap_us"),
        F.round(F.col("_d") + F.lit(1e-9), 6).alias("ks_d"),
        F.round(stat + F.lit(1e-9), 6).alias("ks_stat"),
        F.when(stat.isNotNull(), stat > alpha_stat).alias("exp_reject"),
    )


def welch_t(
    df: DataFrame,
    group_col: str,
    value_col: str,
    sample_col: str,
    *,
    a_value=0,
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Per-group Welch's unequal-variance t-test between the two
    samples split by ``sample_col`` — the parametric MEAN-shift member
    of the two-sample family: MWU is the robust location test on
    ranks, KS/CvM/energy are omnibus; Welch answers the narrower and
    more sensitive question "did the mean move?", without Student's
    equal-variance assumption (which a drifting pipeline violates by
    definition)::

        t  = (mean_a - mean_b) / sqrt(v_a/n_a + v_b/n_b)
        df = (v_a/n_a + v_b/n_b)^2
             / ((v_a/n_a)^2/(n_a-1) + (v_b/n_b)^2/(n_b-1))

    (Welch 1947; Satterthwaite df). Verdict at |t| > z_crit — the
    NORMAL approximation (default 1.96, 5%), valid at validation-scale
    n; the exact Satterthwaite df is reported so a caller with tiny
    samples can consult t-tables instead. Rows with
    ``sample_col = a_value`` form sample A, all others B; NULL values
    drop. Groups needing guards (either n < 2, zero pooled standard
    error) report NULLs.

    Plan: ONE ``groupBy(group)`` aggregation over conditional power
    sums — no window, no join, map-side combinable; the cheapest
    operator in the battery. Returns
    (group, n_a, n_b, mean_diff, t_stat, dof, t_reject), 6 dp.
    """
    g = group_col
    is_a = (F.col(sample_col) == F.lit(a_value)).cast("int")
    narrow = df.where(F.col(value_col).isNotNull()).select(
        g,
        is_a.alias("_ia"),
        F.col(value_col).cast("double").alias("_v"),
    )
    agg = narrow.groupBy(g).agg(
        F.sum("_ia").cast("long").alias("n_a"),
        F.sum(1 - F.col("_ia")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("_ia") == 1, F.col("_v"))).alias("_sa"),
        F.sum(F.when(F.col("_ia") == 0, F.col("_v"))).alias("_sb"),
        F.sum(
            F.when(F.col("_ia") == 1, F.col("_v") * F.col("_v"))
        ).alias("_qa"),
        F.sum(
            F.when(F.col("_ia") == 0, F.col("_v") * F.col("_v"))
        ).alias("_qb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("_sa") / na
    mb = F.col("_sb") / nb
    va = F.when(
        F.col("n_a") > 1, (F.col("_qa") - na * ma * ma) / (na - 1.0)
    )
    vb = F.when(
        F.col("n_b") > 1, (F.col("_qb") - nb * mb * mb) / (nb - 1.0)
    )
    se2 = va / na + vb / nb
    t = F.when(se2 > 0, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        se2 > 0,
        se2
        * se2
        / (
            (va / na) * (va / na) / (na - 1.0)
            + (vb / nb) * (vb / nb) / (nb - 1.0)
        ),
    )
    diff = F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), ma - mb)
    return agg.select(
        g,
        "n_a",
        "n_b",
        F.round(diff + F.lit(1e-9), 6).alias("mean_diff"),
        F.round(t + F.lit(1e-9), 6).alias("t_stat"),
        F.round(dof + F.lit(1e-9), 6).alias("dof"),
        F.when(t.isNotNull(), F.abs(t) > z_crit).alias("t_reject"),
    )


def arrival_profile(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    max_lag: int = 5,
    max_k: int = 8,
) -> DataFrame:
    """FUSED arrival-process health report: every per-bucket member of
    the battery — dispersion (Poisson-ness), Ljung–Box (whiteness),
    dominant period (cadence), spectral entropy (spikiness) — computed
    from ONE scan of the fact table and joined into one row per group.

    This is the operator a monitoring pipeline actually schedules: the
    individual operators exist for targeted queries and for their
    oracles, but running them separately at 100 TB re-reads the fact
    table once per statistic. All four consume the same
    ``_dense_counts`` substrate (per-group gap-as-zero bucket counts,
    persisted after a single ``groupBy(group, bucket)`` shuffle), so
    the fused plan is: one fact scan → one metadata-sized dense frame
    → three window passes + four aggregations on it → three
    broadcast-sized joins of |groups|-row frames. Every statistic is
    bit-for-bit the same as its standalone operator (same code paths,
    ``dense`` injected) — the fusion changes the PLAN, never the
    answer, and the oracle is the join of the individual oracles.

    Returns (group, n_buckets, mean_rate, fano, dispersion, q_stat,
    lb_reject, best_k, period_buckets, power_frac, spec_entropy,
    flatness), 6 dp.
    """
    g = group_col
    dense = _dense_counts(df, g, ts_col, bucket)
    disp = dispersion_index(df, g, ts_col, bucket=bucket, dense=dense)
    lb = ljung_box(
        df, g, ts_col, bucket=bucket, max_lag=max_lag, dense=dense
    ).select(g, "q_stat", "lb_reject")
    dp = dominant_period(
        df, g, ts_col, bucket=bucket, max_k=max_k, dense=dense
    ).select(g, "best_k", "period_buckets", "power_frac")
    se = spectral_entropy(
        df, g, ts_col, bucket=bucket, max_k=max_k, dense=dense
    ).select(g, "spec_entropy", "flatness")
    return (
        disp.join(lb, [g], "left")
        .join(dp, [g], "left")
        .join(se, [g], "left")
        .select(
            g,
            "n_buckets",
            "mean_rate",
            "fano",
            "dispersion",
            "q_stat",
            "lb_reject",
            "best_k",
            "period_buckets",
            "power_frac",
            "spec_entropy",
            "flatness",
        )
    )


def seasonal_mann_kendall(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    alpha_z: float = 1.959964,
) -> DataFrame:
    """Per-group SEASONAL Mann–Kendall trend test (Hirsch & Slack
    1984) over the dense bucketed count series — the
    seasonality-robust member of the trend family: plain
    ``mann_kendall`` on an hourly feed with a strong diurnal cycle
    wastes its power comparing 3 am against 3 pm (the cycle injects
    sign noise, and a slow decay hides under it). The seasonal variant
    only compares LIKE WITH LIKE: the series splits into 24
    hour-of-day seasons, S_j and the tie-corrected Var_j are computed
    within each season's day-over-day subseries, and::

        S' = sum_j S_j,   Var' = sum_j Var_j,
        z  = (S' -/+ 1) / sqrt(Var')   (continuity-corrected)

    with the usual two-sided verdict. Exact integer S and closed-form
    variance — deterministic across engines.

    Plan: the same single ``groupBy(group, bucket)`` fact shuffle as
    ``mann_kendall``; the pairwise sign sum is a self-join of the
    dense metadata-sized frame WITHIN (group, season) — 24x fewer
    pairs than the unstratified test on the same span. Degenerate
    groups (every season constant: Var' <= 0) report NULL z. Returns
    (group, n_buckets, s, z, trend), 6 dp.
    """
    g = group_col
    dense = _dense_counts(df, g, ts_col, bucket).withColumn(
        "_season", F.hour("_b")
    )
    dense = dense.persist()  # pairs + ties + n derive from it
    a = dense.select(
        g, "_season", F.col("_b").alias("_bi"), F.col("_c").alias("_ci")
    )
    c2 = dense.select(
        g, "_season", F.col("_b").alias("_bj"), F.col("_c").alias("_cj")
    )
    s = (
        a.join(c2, [g, "_season"])
        .where(F.col("_bi") < F.col("_bj"))
        .groupBy(g)
        .agg(
            F.sum(F.signum(F.col("_cj") - F.col("_ci")))
            .cast("long")
            .alias("s")
        )
    )
    n = dense.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )
    # per-season n and tie terms -> per-season Var_j, summed per group
    per_season = dense.groupBy(g, "_season").agg(
        F.count(F.lit(1)).cast("double").alias("_nj")
    )
    ties = (
        dense.groupBy(g, "_season", "_c")
        .agg(F.count(F.lit(1)).cast("double").alias("_t"))
        .groupBy(g, "_season")
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tc")
        )
    )
    var_j = per_season.join(ties, [g, "_season"]).select(
        g,
        (
            (
                F.col("_nj")
                * (F.col("_nj") - 1)
                * (2 * F.col("_nj") + 5)
                - F.col("_tc")
            )
            / 18.0
        ).alias("_vj"),
    )
    var = var_j.groupBy(g).agg(F.sum("_vj").alias("_var"))
    z = F.when(
        F.col("_var") <= 0, F.lit(None).cast("double")
    ).otherwise(
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("_var")))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("_var")))
        .otherwise(F.lit(0.0))
    )
    return (
        n.join(s, [g], "left")
        .join(var, [g], "left")
        .select(
            g,
            "n_buckets",
            F.coalesce(F.col("s"), F.lit(0)).alias("s"),
            F.round(z + F.lit(1e-9), 6).alias("z"),
            F.when(z.isNull(), F.lit(None).cast("string"))
            .when(z > alpha_z, F.lit("increasing"))
            .when(z < -alpha_z, F.lit("decreasing"))
            .otherwise(F.lit("none"))
            .alias("trend"),
        )
    )


def pettitt_changepoint(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
) -> DataFrame:
    """Per-group Pettitt change-point test (Pettitt 1979) over the
    dense bucketed count series — the RANK member of the change-point
    family: ``cusum_changepoint`` standardizes by the sample sigma
    (one fat-tailed burst inflates sigma and buries a real level
    shift), ``page_hinkley`` needs a tuned delta; Pettitt is the
    distribution-free retrospective test with an exact-form p-value::

        U_t = sum_{i<=t} sum_{j>t} sign(x_i - x_j)
        K   = max_{t<n} |U_t|,   p ~= 2 exp(-6 K^2 / (n^3 + n^2))

    computed WITHOUT the O(n^2) pair join via the midrank identity
    (sum_{j != i} sign(x_i - x_j) = 2 r_i - (n + 1), exact under
    midranks; the within-prefix pair sum cancels by antisymmetry)::

        U_t = 2 S_t - t (n + 1),   S_t = cumulative midrank sum

    so the whole test is one rank window plus one cumulative window —
    a strictly better 100-TB shape than the Mann-Kendall pair join.
    The change point is the EARLIEST bucket attaining K (U is
    integer-valued; the comparison is exact). Degenerate groups
    (n == 1, or a constant series: K == 0) report p 1.0 and a NULL
    change point. Returns
    (group, n_buckets, k_stat, cp_bucket, p_approx, shift_detected),
    p at 6 dp, reject at p < 0.05.
    """
    g = group_col
    dense = _dense_counts(df, g, ts_col, bucket)
    order = Window.partitionBy(g).orderBy("_c")
    ties = Window.partitionBy(g, "_c")
    by_t = Window.partitionBy(g).orderBy("_b")
    tot = Window.partitionBy(g)
    ranked = dense.select(
        g,
        "_b",
        (
            F.rank().over(order)
            + (F.count(F.lit(1)).over(ties) - 1) / 2.0
        ).alias("_r"),
    )
    n = F.count(F.lit(1)).over(tot)
    t = F.row_number().over(by_t)
    s = F.sum("_r").over(
        by_t.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = ranked.select(
        g,
        "_b",
        n.alias("_n"),
        t.alias("_t"),
        (2.0 * s - t * (n + 1)).alias("_u"),
    ).where(F.col("_t") < F.col("_n"))
    peak = scored.withColumn(
        "_k", F.max(F.abs(F.col("_u"))).over(Window.partitionBy(g))
    )
    best = (
        peak.where(F.abs(F.col("_u")) == F.col("_k"))
        .groupBy(g)
        .agg(
            F.min("_n").cast("long").alias("n_buckets"),
            F.min("_k").cast("long").alias("k_stat"),
            F.min("_b").alias("cp_bucket"),
        )
    )
    totals = dense.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )
    out = totals.join(best.drop("n_buckets"), [g], "left")
    nn = F.col("n_buckets").cast("double")
    k = F.coalesce(F.col("k_stat"), F.lit(0)).cast("double")
    p = F.least(
        F.lit(1.0),
        2.0 * F.exp(-6.0 * k * k / (nn * nn * nn + nn * nn)),
    )
    return out.select(
        g,
        "n_buckets",
        F.coalesce(F.col("k_stat"), F.lit(0).cast("long")).alias(
            "k_stat"
        ),
        F.when(k > 0, F.col("cp_bucket")).alias("cp_bucket"),
        F.round(p + F.lit(1e-9), 6).alias("p_approx"),
        (p < 0.05).alias("shift_detected"),
    )


def kpss_level(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    *,
    bucket: str = "hour",
    max_lag: int = 12,
) -> DataFrame:
    """Per-group KPSS level-stationarity test (Kwiatkowski, Phillips,
    Schmidt & Shin 1992) over the dense bucketed count series — the
    STATIONARITY member of the trend family, with the null REVERSED
    relative to Mann-Kendall: MK's null is "no trend" (failing to
    reject proves nothing for a short noisy series); KPSS's null is
    "level-stationary", so REJECTING is positive evidence the series
    wanders (trend or unit root) and the likelihood baseline built on
    it will go stale::

        e_t = x_t - xbar,  S_t = sum_{i<=t} e_i
        eta = sum_t S_t^2 / (n^2 s^2(l))
        s^2(l) = g_0 + 2 sum_{j=1..l} (1 - j/(l+1)) g_j   (Bartlett)
        g_j = (1/n) sum_{t>j} e_t e_{t-j}

    with the standard bandwidth l = floor(4 (n/100)^{1/4}) clamped to
    ``min(max_lag, n-1)`` and the 5% level critical value 0.463.
    The Bartlett (Newey-West) weights keep s^2 nonnegative.

    Plan: the single ``groupBy(group, bucket)`` fact shuffle; ONE
    per-group sort window supplies the cumulative sum and all
    ``max_lag`` lag columns (same sort spec - one Window node), then
    one map-side-combinable aggregation; the bandwidth ladder is a
    literal expression. Degenerate groups (constant series: s^2 == 0)
    report NULL stat/verdict. Returns
    (group, n_buckets, lag_l, kpss_stat, kpss_reject), 6 dp.
    """
    g = group_col
    dense = _dense_counts(df, g, ts_col, bucket)
    tot = Window.partitionBy(g)
    by_t = Window.partitionBy(g).orderBy("_b")
    withe = dense.select(
        g,
        "_b",
        (F.col("_c") - F.avg("_c").over(tot)).alias("_e"),
    )
    cum = by_t.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored = withe.select(
        g,
        "_e",
        F.sum("_e").over(cum).alias("_s"),
        *[
            F.lag("_e", j).over(by_t).alias(f"_l{j}")
            for j in range(1, max_lag + 1)
        ],
    )
    agg = scored.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.col("_s") * F.col("_s")).alias("_num"),
        F.sum(F.col("_e") * F.col("_e")).alias("_g0"),
        *[
            F.sum(F.col("_e") * F.col(f"_l{j}")).alias(f"_g{j}")
            for j in range(1, max_lag + 1)
        ],
    )
    nn = F.col("n_buckets").cast("double")
    lag = F.least(
        F.floor(4.0 * F.pow(nn / 100.0, 0.25) + 1e-9),
        F.lit(max_lag).cast("long"),
        F.col("n_buckets") - 1,
    ).cast("long")
    agg = agg.withColumn("lag_l", lag)
    s2 = F.col("_g0") / nn
    for j in range(1, max_lag + 1):
        w = 1.0 - F.lit(float(j)) / (F.col("lag_l") + 1.0)
        s2 = s2 + F.when(
            F.col("lag_l") >= j,
            2.0 * w * F.coalesce(F.col(f"_g{j}"), F.lit(0.0)) / nn,
        ).otherwise(F.lit(0.0))
    eta = F.when(s2 > 0, F.col("_num") / (nn * nn * s2))
    return agg.select(
        g,
        "n_buckets",
        "lag_l",
        F.round(eta + F.lit(1e-9), 6).alias("kpss_stat"),
        F.when(eta.isNotNull(), eta > 0.463).alias("kpss_reject"),
    )


def _bucket_index(b_col: str, lo_col: str, bucket: str):
    """Integer-valued score of bucket ``b_col`` counted from the
    global first bucket ``lo_col`` — exact double arithmetic on both
    engines (the synthetic clock is UTC; no DST step inside a span)."""
    if bucket == "day":
        return F.datediff(F.col(b_col), F.col(lo_col)).cast("double")
    secs = {"hour": 3600, "minute": 60, "second": 1}[bucket]
    return (
        (F.unix_timestamp(F.col(b_col)) - F.unix_timestamp(F.col(lo_col)))
        / F.lit(float(secs))
    ).cast("double")


def cochran_armitage(
    df: DataFrame,
    class_col: str,
    ts_col: str,
    *,
    bucket: str = "day",
    alpha_z: float = 1.959964,
) -> DataFrame:
    """Cochran-Armitage trend test per class: is each class's SHARE of
    the stream trending over time? The PROPORTION member of the trend
    family — ``mann_kendall`` tests the absolute arrival count and
    ``spearman_corr`` a value column; neither answers "is the error
    share of traffic creeping up while total volume also moves", the
    compositional question a mix monitor asks. With per-bucket trials
    n_t (all rows) and successes y_t (rows of the class), scores
    s_t = bucket index::

        T      = sum_t s_t (y_t - n_t p),      p = sum y / sum n
        Var(T) = p (1 - p) (sum_t n_t s_t^2 - (sum_t n_t s_t)^2 / N)
        z      = T / sqrt(Var)

    the locally-optimal linear-trend-in-proportions statistic with the
    binomial variance computed under the pooled null — standard normal
    under "share is flat", two-sided verdict at ``alpha_z``.

    Plan: ONE fact scan — a single ``groupBy(class, bucket)`` shuffle;
    the per-bucket trials n_t derive from that same frame (sum over
    classes), never a second read. Every class sees every bucket in
    the observed span through the totals frame (a class absent from a
    bucket contributes y_t = 0, as the definition requires). All
    reductions are map-side combinable; the per-class frame is
    buckets-sized. Degenerate cases (p in {0, 1}, a single bucket, or
    zero score spread) report NULL z. Returns
    (class, n_buckets, n_total, n_class, z, trend), 6 dp.
    """
    c = class_col
    b = F.date_trunc(bucket, F.col(ts_col))
    per = df.groupBy(F.col(c), b.alias("_b")).agg(
        F.count(F.lit(1)).cast("double").alias("_y")
    )
    per = per.persist()  # totals + class frames: one fact scan
    totals = per.groupBy("_b").agg(F.sum("_y").alias("_n"))
    # score = bucket index from the global first bucket (scale-free:
    # any affine transform of the scores leaves z unchanged, but the
    # small integer keeps the oracle arithmetic exact)
    lo = totals.groupBy().agg(F.min("_b").alias("_lo")).withColumn(
        "_j", F.lit(1)
    )
    scored_tot = (
        totals.withColumn("_j", F.lit(1))
        .join(F.broadcast(lo), "_j")
        .select(
            "_b",
            "_n",
            _bucket_index("_b", "_lo", bucket).alias("_s"),
        )
    )
    grid = scored_tot.crossJoin(
        per.select(c).distinct()
    ).join(per, [c, "_b"], "left").select(
        c,
        "_b",
        "_n",
        "_s",
        F.coalesce(F.col("_y"), F.lit(0.0)).alias("_y"),
    )
    agg = grid.groupBy(c).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("_n").alias("_nn"),
        F.sum("_y").alias("_yy"),
        F.sum(F.col("_s") * F.col("_y")).alias("_sy"),
        F.sum(F.col("_s") * F.col("_n")).alias("_sn"),
        F.sum(F.col("_s") * F.col("_s") * F.col("_n")).alias("_ssn"),
    )
    p = F.col("_yy") / F.col("_nn")
    t_stat = F.col("_sy") - p * F.col("_sn")
    var = (
        p
        * (1.0 - p)
        * (F.col("_ssn") - F.col("_sn") * F.col("_sn") / F.col("_nn"))
    )
    z = F.when(var > 0, t_stat / F.sqrt(var))
    return agg.select(
        F.col(c),
        "n_buckets",
        F.col("_nn").cast("long").alias("n_total"),
        F.col("_yy").cast("long").alias("n_class"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
        F.when(z.isNull(), F.lit(None).cast("string"))
        .when(z > alpha_z, F.lit("increasing"))
        .when(z < -alpha_z, F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("trend"),
    )


def sprt_bernoulli(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    flag_col,
    *,
    p0: float = 0.10,
    p1: float = 0.20,
    alpha: float = 0.05,
    beta: float = 0.05,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Wald's sequential probability ratio test over an ordered 0/1
    flag stream, per group — the sequential-TESTING member of the
    monitoring family: CUSUM/Page-Hinkley DETECT a change point;
    SPRT DECIDES between two named hypotheses (violation rate p0 vs
    p1) with guaranteed error rates, stopping as early as the
    evidence allows (Wald 1945)::

        llr_n  = k*ln(p1/p0) + (n-k)*ln((1-p1)/(1-p0))
        accept H1 when llr >= ln((1-beta)/alpha)      (upper bound A)
        accept H0 when llr <= ln(beta/(1-alpha))      (lower bound B)

    ``decision`` reports the FIRST boundary crossed in stream order
    (sequential semantics: the test stops there; later reversals
    don't count), with the 1-based step index and llr at the
    crossing; streams that never cross report ``continue`` with NULL
    crossing fields. Deterministic order: (ts, *order_cols).

    Plan: one per-group ordered window builds the running llr
    (O(n) cumulative sum, the accepted hot-group serial bound);
    crossing selection is a combinable min_by aggregate. Returns
    ``(group, n_rows, n_flagged, llr_final, decision, step_at,
    llr_at)``, 6 dp.
    """
    g = group_col
    la = log((1.0 - beta) / alpha)
    lb = log(beta / (1.0 - alpha))
    w_pos = log(p1 / p0)
    w_neg = log((1.0 - p1) / (1.0 - p0))
    x = F.when(flag_col, 1.0).otherwise(0.0)
    base = df.select(
        F.col(g),
        F.col(ts_col).alias("_ts"),
        *[F.col(c) for c in order_cols],
        x.alias("_x"),
    )
    w = Window.partitionBy(g).orderBy("_ts", *order_cols)
    run = base.select(
        F.col(g),
        F.row_number().over(w).alias("_i"),
        F.sum(
            F.col("_x") * F.lit(w_pos) + (1.0 - F.col("_x")) * F.lit(w_neg)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_llr"),
        F.col("_x"),
    )
    crossed = F.when(F.col("_llr") >= la, F.lit("accept_h1")).when(
        F.col("_llr") <= lb, F.lit("accept_h0")
    )
    agg = run.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("_x").cast("long").alias("n_flagged"),
        F.max_by("_llr", "_i").alias("_llr_final"),
        F.min(F.when(crossed.isNotNull(), F.col("_i"))).alias("_step"),
        F.min_by(
            F.when(
                crossed.isNotNull(),
                F.struct(
                    crossed.alias("_d"), F.col("_llr").alias("_l")
                ),
            ),
            F.when(crossed.isNotNull(), F.col("_i")),
        ).alias("_c"),
    )
    r6 = lambda c: F.round(c + F.lit(1e-9), 6)  # noqa: E731
    return agg.select(
        g,
        "n_rows",
        "n_flagged",
        r6(F.col("_llr_final")).alias("llr_final"),
        F.coalesce(F.col("_c._d"), F.lit("continue")).alias("decision"),
        F.col("_step").cast("long").alias("step_at"),
        r6(F.col("_c._l")).alias("llr_at"),
    )


def wilson_proportions(
    df: DataFrame,
    group_col: str,
    flag_col,
    *,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Per-group flag rate with the Wilson (1927) score interval and a
    two-proportion z-test of each group against the POOLED REST — the
    inferential twin of the plain rate column: "is this source's
    violation rate actually different, given its sample size", with an
    interval that behaves at rates near 0/1 where the Wald interval
    collapses::

        center = (p + z²/2n) / (1 + z²/n)
        half   = z * sqrt(p(1-p)/n + z²/4n²) / (1 + z²/n)
        z_vs_rest = (p - p_rest) / sqrt(p_pool(1-p_pool)(1/n + 1/n_rest))

    ``z_vs_rest`` is NULL for a degenerate complement (single group or
    pooled variance 0). Rows with NULL flags are excluded.

    Plan: ONE groupBy collapses the fact table to |groups| rows; the
    rest-rates derive from broadcast totals — no second scan, no
    self-join of the fact table. Returns ``(group, n_rows, n_flagged,
    rate, wilson_lo, wilson_hi, z_vs_rest)``, 6 dp.
    """
    g = group_col
    x = F.when(flag_col, 1.0).otherwise(0.0)
    cells = (
        df.where(flag_col.isNotNull())
        .groupBy(g)
        .agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.sum(x).alias("_k"),
        )
        .persist()
    )
    tot = cells.agg(
        F.sum("_n").alias("_tn"), F.sum("_k").alias("_tk")
    ).withColumn("_j", F.lit(1))
    j = cells.withColumn("_j", F.lit(1)).join(F.broadcast(tot), "_j")
    p = F.col("_k") / F.col("_n")
    z2 = F.lit(z * z)
    denom = 1.0 + z2 / F.col("_n")
    center = (p + z2 / (2.0 * F.col("_n"))) / denom
    half = (
        F.lit(z)
        * F.sqrt(
            p * (1.0 - p) / F.col("_n")
            + z2 / (4.0 * F.col("_n") * F.col("_n"))
        )
        / denom
    )
    nr = F.col("_tn") - F.col("_n")
    pr = (F.col("_tk") - F.col("_k")) / nr
    pp = F.col("_tk") / F.col("_tn")
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("_n") + 1.0 / nr))
    zvr = F.when((nr > 0) & (pp > 0) & (pp < 1), (p - pr) / se)
    r6 = lambda c: F.round(c + F.lit(1e-9), 6)  # noqa: E731
    return j.select(
        g,
        F.col("_n").cast("long").alias("n_rows"),
        F.col("_k").cast("long").alias("n_flagged"),
        r6(p).alias("rate"),
        r6(F.greatest(center - half, F.lit(0.0))).alias("wilson_lo"),
        r6(F.least(center + half, F.lit(1.0))).alias("wilson_hi"),
        r6(zvr).alias("z_vs_rest"),
    )

"""Embedding-column integrity validation — the vector analog of the
token-array invariants (invariants.py).

An embeddings table feeding dedup/ANN/clustering has its own failure
modes that scalar column stats never see: NaN/Inf entries poison every
cosine downstream (one NaN in a centroid corrupts the whole cluster),
wrong-dimension vectors crash Arrow kernels mid-job, and all-zero
vectors make cosine undefined (0/0) while silently matching nothing.
At 10^12 rows you validate these BEFORE the expensive pipelines run,
exactly as the token-range check gates the sequence table
(reference analog: htm_streamer's per-field model-input validation in
htm_source/pipeline/htm_batch_runner.py — scalar features there,
vector columns here).

Spark shape: one scan, one partial-aggregated groupBy shuffle carrying
a handful of counters per group. Per-row checks are pure codegen array
expressions (``F.exists``/``F.size``/``F.aggregate`` fold) — no UDF,
no explode (an explode would shuffle d rows per vector; the fold keeps
it at one). The L2 norm folds left-to-right in double precision so any
engine (and the DuckDB oracle's sequential list_sum) reproduces the
sum bit-for-bit before rounding.

Verdict semantics match the partition verdicts of the validation plan:
a group fails if any hard violation (null / wrong dim / non-finite)
exists; zero vectors are reported but gate-able separately (they are
legal in sparse-feature corpora).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "embedding_integrity",
    "embedding_dim_profile",
    "embedding_isotropy",
]


def embedding_integrity(
    df: DataFrame,
    vec_col: str,
    dim: int,
    group_by: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-``group_by`` integrity profile of an ``array<float>`` column.

    Output columns (one row per group):
      n_vec        rows in the group
      n_null       NULL vectors
      n_wrong_dim  non-null vectors whose length != dim
      n_nonfinite  vectors containing NaN or +/-Inf
      n_zero       well-formed vectors with L2 norm == 0
      norm_min / norm_max / norm_avg   over well-formed, finite,
                   correct-dim vectors (rounded to ``round_to``)
      ok           verdict: no nulls, no wrong dims, no non-finite
    """
    v = F.col(vec_col)
    vd = F.transform(v, lambda x: x.cast("double"))
    is_null = v.isNull()
    wrong_dim = ~is_null & (F.size(v) != F.lit(dim))
    nonfinite = ~is_null & F.exists(
        vd, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    well_formed = ~is_null & ~wrong_dim & ~nonfinite
    sumsq = F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x)
    norm = F.when(well_formed, F.sqrt(sumsq))

    rounded = lambda c: F.round(c + F.lit(1e-12), round_to) + F.lit(0.0)  # noqa: E731
    return (
        df.select(
            F.col(group_by),
            is_null.cast("long").alias("_null"),
            wrong_dim.cast("long").alias("_wd"),
            nonfinite.cast("long").alias("_nf"),
            (well_formed & (norm == 0.0)).cast("long").alias("_zero"),
            norm.alias("_norm"),
        )
        .groupBy(group_by)
        .agg(
            F.count(F.lit(1)).alias("n_vec"),
            F.sum("_null").alias("n_null"),
            F.sum("_wd").alias("n_wrong_dim"),
            F.sum("_nf").alias("n_nonfinite"),
            F.sum("_zero").alias("n_zero"),
            rounded(F.min("_norm")).alias("norm_min"),
            rounded(F.max("_norm")).alias("norm_max"),
            rounded(F.avg("_norm")).alias("norm_avg"),
            (
                (F.sum("_null") + F.sum("_wd") + F.sum("_nf")) == F.lit(0)
            ).alias("ok"),
        )
    )


def embedding_dim_profile(
    df: DataFrame,
    vec_col: str,
    dim: int,
    group_by: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension mean/std of an embedding column, per group — the
    baseline a dimension-wise drift monitor (z-test / BH-FDR alerting,
    operators/stattests.py) compares snapshots against.

    Plan shape matters at 10^12 rows: the naive posexplode shuffles
    dim rows PER VECTOR (a 64x blowup of the fact table); here each
    dimension is two codegen aggregate expressions over
    ``element_at``, so the shuffle carries ONE partially-aggregated
    row of 2*dim counters per (task, group), and the long (group, j,
    mean, std) output is produced by exploding the already-aggregated
    one-row-per-group frame — explode AFTER aggregation, where the
    frame is group-count sized.

    Malformed vectors (see embedding_integrity) contribute NULL to
    every dimension and are skipped by avg/stddev null semantics —
    run the integrity gate first; this profile never crashes on them.
    """
    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans

    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ok = F.col(vec_col).isNotNull() & (F.size(vec_col) == F.lit(dim)) & ~F.exists(
        vd, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    # the cast-and-validate transform is hoisted into ONE projection
    # below the aggregate: as 2*dim inline aggregate children it would
    # be re-evaluated per aggregate expression (interpreted — higher-
    # order functions never codegen), turning a 2-pass fold into a
    # 2*dim-pass one. element_at on a NULL array is NULL, preserving
    # the per-dim skip semantics of the old when(ok, ...) guard. The
    # raw (group, vector) columns are fanned out first and the
    # transform derived above the repartition (guide §2.5; single-row-
    # group inputs otherwise run it and the aggregate map side on one
    # core).
    guarded = fan_out_narrow_scans(df.select(group_by, vec_col)).select(
        F.col(group_by), F.when(ok, vd).alias("_e")
    )
    cell = lambda j: F.element_at(F.col("_e"), j + 1)  # noqa: E731
    aggs = []
    for j in range(dim):
        aggs.append(F.avg(cell(j)).alias(f"_m{j}"))
        aggs.append(F.var_pop(cell(j)).alias(f"_v{j}"))
    agg = guarded.groupBy(group_by).agg(*aggs)

    rounded = lambda c: F.round(c + F.lit(1e-12), round_to) + F.lit(0.0)  # noqa: E731
    packed = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                rounded(F.col(f"_m{j}")).alias("mean"),
                rounded(F.sqrt(F.greatest(F.col(f"_v{j}"), F.lit(0.0)))).alias("std"),
            )
            for j in range(dim)
        ]
    )
    return agg.select(
        F.col(group_by), F.explode(packed).alias("p")
    ).select(group_by, "p.j", "p.mean", "p.std")


def embedding_isotropy(
    df: DataFrame,
    vec_col: str,
    dim: int,
    group_by: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group embedding-space COLLAPSE detector — the geometric
    member of the embedding-validation family: ``embedding_integrity``
    checks each vector alone, ``embedding_dim_profile`` tracks
    marginal drift; this measures whether the POPULATION is losing
    spread, the classic failure of a degenerating encoder (all texts
    mapping into a narrow cone scores near-1 cosine for everything,
    silently breaking dedup and ANN downstream). Three complementary
    ratios per group, each in [0, 1]:

    - ``centroid_ratio`` = ||mean vector|| / mean ||v||: 0 for a
      centered cloud, -> 1 when vectors align in direction AND length.
    - ``resultant`` = || mean of unit vectors || (the spherical-
      statistics mean resultant length): direction-only collapse,
      magnitude-blind — 0 uniform directions, 1 a single ray.
    - ``eff_dim_frac`` = participation ratio of the per-dimension
      (marginal) variances, (sum var_j)^2 / sum var_j^2 / dim: 1 when
      variance spreads evenly across coordinates, -> 1/dim when one
      COORDINATE carries it all. Basis-aligned by construction — a
      rank collapse along a rotated direction shows up as the spread
      of its squared loadings (well below 1, not 1/dim); the rotation-
      invariant version needs the covariance spectrum, which is a
      dim^2 aggregation + an eigensolve, deliberately out of scope
      for this single-shuffle monitor.

    Validity gate shared with ``embedding_integrity`` (NULL / wrong
    dim / non-finite skipped) plus norm > 0 (zero vectors have no
    direction; they are integrity's ``n_zero``, not a direction
    sample). Groups with no valid vector vanish; zero total variance
    (all vectors identical) reports NULL eff_dim_frac.

    Plan shape at 10^12 rows: same contract as the dim profile — NO
    posexplode (that shuffles dim rows per vector); the row-local
    norm is one codegen ``aggregate`` fold, each dimension is three
    aggregate expressions over ``element_at``, so the single shuffle
    carries one (3*dim+2)-counter partial row per (task, group).
    Returns (group, n_valid, mean_norm, centroid_ratio, resultant,
    eff_dim_frac), 6 dp.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ok = (
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == F.lit(dim))
        & ~F.exists(
            vd, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
        )
    )
    norm = F.sqrt(
        F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x)
    )
    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans

    # fan out the raw (group, vector) columns, then derive _e/_nrm
    # above the repartition: the validity gate, the cast and the norm
    # fold and the 3*dim aggregate expressions otherwise inherit the
    # scan's split count (guide §2.5; no-op at real scale)
    valid = (
        fan_out_narrow_scans(df.select(group_by, vec_col))
        .where(ok)
        .select(group_by, vd.alias("_e"), norm.alias("_nrm"))
        .where(F.col("_nrm") > 0)
    )
    cell = lambda j: F.element_at(F.col("_e"), j + 1)  # noqa: E731
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_valid"),
        F.sum("_nrm").alias("_sn"),
    ]
    for j in range(dim):
        aggs.append(F.sum(cell(j)).alias(f"_s{j}"))
        aggs.append(F.sum(cell(j) * cell(j)).alias(f"_q{j}"))
        aggs.append(F.sum(cell(j) / F.col("_nrm")).alias(f"_u{j}"))
    agg = valid.groupBy(group_by).agg(*aggs)

    # The readout is staged through intermediate COLUMNS (per-dim
    # mean-square / resultant-square / variance first, the four sums
    # second, the rounded ratios last): inlining var_j into vsum, vsq
    # (twice) and the final when() builds a multi-thousand-node
    # expression tree whose Catalyst analysis/optimization costs
    # seconds of pure driver time PER RUN on a groups-sized frame
    # (guide §7.3 — planning, not data, dominated this query).
    # Arithmetic and summation order are kept identical term-for-term,
    # so the result is bit-for-bit unchanged.
    n = F.col("n_valid").cast("double")
    stage1 = agg.select(
        F.col(group_by),
        "n_valid",
        "_sn",
        *[((F.col(f"_s{j}") / n) * (F.col(f"_s{j}") / n)).alias(f"_m2{j}") for j in range(dim)],
        *[((F.col(f"_u{j}") / n) * (F.col(f"_u{j}") / n)).alias(f"_r2{j}") for j in range(dim)],
        *[
            (F.col(f"_q{j}") / n - (F.col(f"_s{j}") / n) * (F.col(f"_s{j}") / n)).alias(
                f"_v{j}"
            )
            for j in range(dim)
        ],
    )
    stage2 = stage1.select(
        F.col(group_by),
        "n_valid",
        "_sn",
        sum((F.col(f"_m2{j}") for j in range(dim)), F.lit(0.0)).alias("_cent"),
        sum((F.col(f"_r2{j}") for j in range(dim)), F.lit(0.0)).alias("_resu"),
        sum((F.col(f"_v{j}") for j in range(dim)), F.lit(0.0)).alias("_vsum"),
        sum(
            (F.col(f"_v{j}") * F.col(f"_v{j}") for j in range(dim)), F.lit(0.0)
        ).alias("_vsq"),
    )
    mean_norm = F.col("_sn") / n
    rounded = lambda c: F.round(c + F.lit(1e-12), round_to) + F.lit(0.0)  # noqa: E731
    return stage2.select(
        F.col(group_by),
        "n_valid",
        rounded(mean_norm).alias("mean_norm"),
        rounded(F.sqrt(F.col("_cent")) / mean_norm).alias("centroid_ratio"),
        rounded(F.sqrt(F.col("_resu"))).alias("resultant"),
        F.when(
            F.col("_vsq") > 0,
            rounded(
                F.col("_vsum") * F.col("_vsum") / F.col("_vsq") / F.lit(float(dim))
            ),
        ).alias("eff_dim_frac"),
    )

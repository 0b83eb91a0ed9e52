"""Distribution-drift detection: per-partition histograms + KL/PSI.

Replaces the reference's HTM anomaly likelihood (sliding-window Gaussian
fit + tail probability, /root/reference/htm_streamer/data/
anomalylikelihood.py:424-467,718-788) with distribution distances computed
per partition against a checkpointed baseline:

- token-frequency histogram: each clean row's token-bucket ids counted
  per partition by the fused Arrow kernel (``_token_pass``), which emits
  per-batch partial counts, so the shuffle moves histograms, not tokens.
- n_tok histogram: one bucket per clean row, emitted by the same kernel
  pass as a second histogram *family* (``FAMILIES``).
- the running verdicts and the baseline fit (``compute_baseline``) run
  the same kernel, so both filter and bucket rows by one rule;
  ``ntok_histogram`` is the native reference the tests compare it to.
- PSI / KL with probability floors — the flooring mirrors the reference's
  mean/variance floors (anomalylikelihood.py:733-742) — scored for every
  family in one pass over sparse per-family bucket maps
  (``drift_scores``).

The probation verdict for partitions seen before the baseline commit
mirrors the probationary flat-0.5 (anomalylikelihood.py:440-442); the
hard-fail override for invariant violations mirrors the spatial-anomaly
override (model/htm_model.py:385-388).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from htm_streamer_spark.config import HIST_EPS, NTOK_MAX, EngineConfig
from htm_streamer_spark.functions.array_funcs import (
    featurize_hist_kernel,
    ntok_bucket_expr,
)

# drift histogram families; a family's id is its index here
FAMILIES = ("tok", "ntok")


def _token_pass(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """The one decode of the token bytes: ``featurize_hist_kernel`` over
    ``df``, unpersisted. ``kind=0`` rows are the narrow per-row frame,
    ``kind=1`` rows the per-batch partial counts (part_id, family,
    bucket, cnt) of the clean-row histograms of both drift families."""
    return df.select("doc_id", "part_id", "n_tok", "source", "ts", "tokens").mapInArrow(
        featurize_hist_kernel(
            cfg.tok_hist_buckets, cfg.vocab_size, cfg.ntok_hist_buckets, NTOK_MAX,
            cfg.allowed_sources, cfg.checks,
        ),
        schema=(
            "kind tinyint, doc_id string, part_id int, n_tok int, source string, "
            "ts timestamp, tok_len int, tok_oob boolean, family tinyint, bucket int, "
            "cnt long"
        ),
    )


def featurize_and_token_histogram(
    df: DataFrame, cfg: EngineConfig
) -> tuple[DataFrame, DataFrame]:
    """ONE pass over the token bytes producing both the narrow per-row
    feature frame and the per-partition clean-row histograms of both
    drift families (see functions/array_funcs.py:featurize_hist_kernel).
    Returns (narrow_df, hist_df). hist_df rows are the kernel's per-batch
    partial counts (part_id, family, bucket, cnt), not yet summed per
    key — ``drift_scores`` sums them in its first aggregation; ``family``
    indexes ``FAMILIES``. The kernel output is persisted; both returned
    frames are filters over it, so the token column is decoded exactly
    once per suite run."""
    out = _token_pass(df, cfg).persist()
    narrow = out.filter(F.col("kind") == 0).select(
        "doc_id", "part_id", "n_tok", "source", "ts", "tok_len", "tok_oob"
    )
    hist = out.filter(F.col("kind") == 1).select("part_id", "family", "bucket", "cnt")
    return narrow, hist


def ntok_histogram(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Per-partition n_tok histogram: (part_id, bucket, cnt). Null n_tok
    rows are excluded (they are violations, not distribution mass)."""
    return (
        df.filter(F.col("n_tok").isNotNull())
        .select("part_id", ntok_bucket_expr(F.col("n_tok"), cfg.ntok_hist_buckets, NTOK_MAX).alias("bucket"))
        .groupBy("part_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def family_hist(hists: dict[str, DataFrame]) -> DataFrame:
    """Tag per-family (…, bucket, cnt) frames keyed by ``FAMILIES`` names
    (the checkpointed baseline's shape) into one (…, family, bucket, cnt)
    frame, the shape ``drift_scores`` reads."""
    tagged = [
        hists[name].withColumn("family", F.lit(f).cast("tinyint"))
        for f, name in enumerate(FAMILIES)
    ]
    return reduce(DataFrame.unionByName, tagged)


def drift_scores(
    part_hist: DataFrame, baseline_hist: DataFrame, n_buckets: tuple[int, ...]
) -> DataFrame:
    """(part_id, psi, kl) of each partition's histograms vs the baseline:
    the greatest score over the histogram families, a family absent
    from a partition counting as 0.

    ``part_hist`` rows are (part_id, family, bucket, cnt) and
    ``baseline_hist`` rows (family, bucket, cnt), both partial counts in
    any multiplicity (summed per key here); ``n_buckets[family]`` is the
    family's bucket-grid width.

    Exact oracle semantics: p = cnt / max(total, 1), floored at
    ``HIST_EPS`` (and likewise q); PSI = Σ (p-q)·ln(p/q); KL = Σ p·ln(p/q),
    summed over the full bucket grid. Plan: after the per-bucket sum and
    one repartition by part_id, a groupBy(part_id, family) folds each
    histogram into a sparse bucket→count map plus its total; the
    baseline is one such map per family (≤ Σ n_buckets entries),
    broadcast; both sums run in one projection as an ``aggregate`` over
    ``sequence(0, n_buckets-1)``; a groupBy(part_id) takes the greatest
    over families. Two exchanges per side, no grid, no cross join.
    """

    def sparse(df: DataFrame, keys: list[str], m: str, total: str) -> DataFrame:
        # the per-bucket sum keeps its map-side partial aggregation; the
        # repartition by the leading key then serves every later step
        # (the map fold, and on the partition side the groupBy(part_id)
        # and the verdict join) without another exchange
        return (
            df.groupBy(*keys, "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .repartition(keys[0])
            .groupBy(*keys)
            .agg(
                F.map_from_entries(F.collect_list(F.struct("bucket", "cnt"))).alias(m),
                F.sum("cnt").alias(total),
            )
        )

    joined = sparse(part_hist, ["part_id", "family"], "p", "p_total").join(
        F.broadcast(sparse(baseline_hist, ["family"], "q", "q_total")), "family", "left"
    )
    p_total = F.greatest(F.col("p_total"), F.lit(1)).cast("double")
    q_total = F.greatest(F.coalesce(F.col("q_total"), F.lit(0)), F.lit(1)).cast("double")
    width = F.array(*[F.lit(n) for n in n_buckets])[F.col("family")]

    def step(acc: Column, b: Column) -> Column:
        p = F.greatest(F.coalesce(F.col("p")[b], F.lit(0)) / p_total, F.lit(HIST_EPS))
        q = F.greatest(F.coalesce(F.col("q")[b], F.lit(0)) / q_total, F.lit(HIST_EPS))
        lr = F.log(p / q)
        return F.struct(
            (acc["psi"] + (p - q) * lr).alias("psi"), (acc["kl"] + p * lr).alias("kl")
        )

    scores = joined.select(
        "part_id",
        F.aggregate(
            F.sequence(F.lit(0), width - 1),
            F.struct(F.lit(0.0).alias("psi"), F.lit(0.0).alias("kl")),
            step,
        ).alias("s"),
    )
    # greatest() skips nulls: the 0 joins in only when a family is absent
    absent = F.when(F.count(F.lit(1)) < len(n_buckets), F.lit(0.0))
    return scores.groupBy("part_id").agg(
        F.greatest(F.max("s.psi"), absent).alias("psi"),
        F.greatest(F.max("s.kl"), absent).alias("kl"),
    )


def centroid_drift(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding-centroid drift against the corpus centroid:
    (group, n_vecs, cos_sim, l2_dist) where the centroids are the
    per-group and global mean vectors. The SEMANTIC drift check the
    token-histogram family can't see — a source whose token mix is
    stable but whose meaning distribution shifted (new topic, new
    language style, encoder regression) moves its centroid.

    Plan: posexplode -> ONE groupBy(group, pos) partial-combinable sum
    (the shuffle carries |groups|×dim rows, never vectors), the global
    centroid derived from the per-group sums (no second fact scan), and
    the cosine/L2 reductions are a second tiny aggregation over the
    |groups|×dim frame. Zero Python, no collect; dim is the embedding
    width, so the post-shuffle work is metadata-sized at any corpus
    scale.
    """
    x = df.select(
        F.col(group_col).alias("g"), F.posexplode(vec_col).alias("pos", "v")
    ).select("g", "pos", F.col("v").cast("double").alias("v"))
    # |groups|×dim rows; persisted because the global centroid derives
    # from it — without the persist that derivation re-scans the corpus
    per = x.groupBy("g", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    ).persist()
    glob = per.groupBy("pos").agg(
        F.sum("s").alias("gs"), F.sum("n").alias("gn")
    )
    j = per.join(F.broadcast(glob), "pos").select(
        "g",
        "n",
        (F.col("s") / F.col("n")).alias("m"),
        (F.col("gs") / F.col("gn")).alias("gm"),
    )
    return (
        j.groupBy("g")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sum(F.col("m") * F.col("gm")).alias("dot"),
            F.sum(F.col("m") * F.col("m")).alias("na"),
            F.sum(F.col("gm") * F.col("gm")).alias("ng"),
            F.sum((F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))).alias("sq"),
        )
        .select(
            F.col("g").alias(group_col),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            (F.col("dot") / F.sqrt(F.col("na") * F.col("ng"))).alias("cos_sim"),
            F.sqrt("sq").alias("l2_dist"),
        )
    )

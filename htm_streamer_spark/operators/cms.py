"""Count-Min sketch: mergeable, order-free approximate COUNTS in fixed
space — the frequency member of the engine's sketch tier.

The sketch tier so far answers distinct ("how many different": KMV in
``kmv.py``, HLL in ``stats.py``) and membership ("is it one of these":
Bloom in ``bloom.py``). Count-Min (Cormode & Muthukrishnan 2005)
answers FREQUENCY ("how often") in d×w counters regardless of domain
size: item x increments cell (i, h_i(x)) in each of d rows; the
estimate ``min_i cells[i][h_i(x)]`` is never below the true count and
overshoots by more than εN (ε = e/w) with probability at most δ
(δ = e^−d). ``heavy.py``'s Misra-Gries path gives EXACT top-k in two
passes; CMS is the one-pass twin — additive counters make it mergeable
across partitions AND invariant to arrival order and chunking.

Everything is deterministic — positions come from the md5-60bit hash
convention proven cross-engine in the SimHash/KMV oracles, seeded per
row as ``md5('cms<i>:' || item)`` — so the DuckDB oracle recomputes
the sketch cells and the estimates EXACTLY, no tolerance needed.

Scale shape: the build is one scan → explode d positions per row →
one map-side-combinable groupBy sum; the sketch frame is ≤ d·w cells
(metadata-sized by construction, like the Bloom word frame and the KMV
signatures), so every estimate join broadcasts the sketch. Weighted
counts ride a ``count_col``; weight 0 probes read without writing.

Reference analog: the reference's running per-feature frequency state
(/root/reference/htm_streamer/model/runner.py) — reinterpreted as a
provable synopsis with a published error bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["cms_sketch", "cms_estimate", "cms_positions"]


def cms_positions(col_expr, d: int, w: int) -> list[F.Column]:
    """The d cell columns of one item: pmod(md5_60bit('cms<i>:'||x), w).
    Row-seeded through the hashed STRING (not arithmetic on one hash)
    so the DuckDB oracle is a literal transcription."""
    return [
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"cms{i}:"), col_expr.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(w),
        ).cast("int")
        for i in range(d)
    ]


def cms_sketch(
    df: DataFrame,
    item_col: str,
    d: int = 4,
    w: int = 1024,
    count_col: str | None = None,
) -> DataFrame:
    """(row_idx, col_idx, cnt): the nonzero cells of the d×w Count-Min
    sketch over ``df[item_col]`` (each row contributing weight 1, or
    ``count_col`` when given). One scan, one map-side-combinable
    groupBy — at most d·w output rows whatever the input cardinality.
    Counters are ADDITIVE, so sketches of disjoint slices merge by
    summing cells."""
    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans

    wgt = F.col(count_col).cast("long") if count_col else F.lit(1).cast("long")
    pos = cms_positions(F.col(item_col), d, w)
    cells = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("row_idx"), p.alias("col_idx"))
                for i, p in enumerate(pos)
            ]
        )
    ).alias("_c")
    # fan out the RAW item column first — the d md5 position hashes per
    # row inherit the scan's split count (guide §2.5; the repartition
    # must sit BELOW the hash projection to parallelize it, and is a
    # no-op at real scale)
    base = fan_out_narrow_scans(
        df.where(F.col(item_col).isNotNull()).select(
            *([item_col, count_col] if count_col else [item_col])
        )
    )
    return (
        base.select(cells, wgt.alias("_w"))
        .groupBy(
            F.col("_c.row_idx").alias("row_idx"),
            F.col("_c.col_idx").alias("col_idx"),
        )
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """``items`` + an ``est`` column: the Count-Min upper-bound count
    ``min_i cells[i][h_i(x)]`` (0 for a never-seen item — all its cells
    are absent). The sketch side is ≤ d·w rows and broadcasts; the item
    side explodes its d probe cells and re-aggregates — never more than
    d rows per item in flight."""
    pos = cms_positions(F.col(item_col), d, w)
    probes = items.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row_idx"), p.alias("col_idx"))
                    for i, p in enumerate(pos)
                ]
            )
        ).alias("_c"),
    ).select("*", F.col("_c.row_idx").alias("row_idx"), F.col("_c.col_idx").alias("col_idx")).drop("_c")
    joined = probes.join(F.broadcast(sketch), ["row_idx", "col_idx"], "left")
    key_cols = [c for c in items.columns]
    return (
        joined.groupBy(*key_cols)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )

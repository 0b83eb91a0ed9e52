"""Sequence packing: assign variable-length documents to fixed-capacity
context windows — the step between a deduped/filtered corpus and an
LLM training shard (every large-scale pipeline packs; padding waste is
paid in GPU-hours).

``pack_contiguous`` is the GPT-style contiguous token stream. Docs are
laid end-to-end in a deterministic order and the window id is just
``floor(exclusive_cumsum(n_tok) / capacity)`` — docs may straddle a
boundary (the training loader splits them). One window function over
one shuffle; exact SQL twin for the DuckDB oracle. With ``shard_col``
the stream restarts per shard, so shards pack in parallel.

Reference analog: none (the reference never batches by token budget);
this is a training-data capability the Spark engine adds, like dedup
and ANN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_contiguous(
    df: DataFrame,
    capacity: int,
    len_col: str = "n_tok",
    id_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """(id, shard, pack_id, pack_offset): contiguous-stream packing.

    ``pack_id`` = which capacity-sized window the doc STARTS in;
    ``pack_offset`` = token offset of the doc within the stream. With
    ``shard_col`` the stream restarts per shard (parallel shards);
    without it the corpus is one stream (single total order — only for
    modest inputs or when a global stream is the contract).
    """
    shard = F.col(shard_col) if shard_col else F.lit(0)
    w = Window.partitionBy(shard).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # exclusive cumsum = inclusive - own length: one running-state pass
    incl = F.sum(F.col(len_col).cast("long")).over(w)
    offset = (incl - F.col(len_col)).alias("pack_offset")
    return df.select(
        F.col(id_col),
        shard.alias("shard"),
        F.floor((incl - F.col(len_col)) / capacity).alias("pack_id"),
        offset,
    )

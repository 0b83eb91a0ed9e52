"""Explicit Bloom-filter prefilter: compact an unbounded probe set
into a fixed-size bit array and drop non-members MAP-SIDE, before any
shuffle.

Why this exists when ``contaminated_pairs_ngram`` already avoids the
driver collect: the plain equi-join strategy still SHUFFLES every
gram string of the corpus (~10^2 grams/doc x 10^12 docs) into the
join, and virtually all of that traffic is misses —
probes are eval-set-sized, matches are rare by construction. A Bloom
filter inverts the economics: the probe set compresses to ``m_bits``
bits (2^20 bits = 128 KiB covers ~10^5 grams at k=5 with fpp ~1e-4),
ships to every task once as a torrent broadcast, and the doc side
tests membership in a vectorized bit-lookup BEFORE the exchange — only
true matches plus the fpp-sized trickle of false positives ever
shuffle. False positives are then eliminated by the exact string join,
so the operator's OUTPUT is exact (identical to the plain-join
strategy and to the DuckDB oracle); the filter only prunes traffic,
never decides answers.

Spark-first construction — both halves are distributed:

- BUILD: each probe gram sets k bit positions ``pmod(xxhash64(gram,
  i), m)``; positions pack into 64-bit words via a map-side-combinable
  ``bit_or`` aggregation. The collected result is <= m/64 longs — fixed
  size by construction, independent of probe cardinality (the same
  bounded-collect stance as the KMV signatures).
- GATE: a ``mapInArrow`` kernel does ``bits[pos >> 6] >> (pos & 63)``
  over numpy uint64 — no per-row Python, no shuffle, positions computed
  JVM-side by the SAME expressions as the build so the two halves can
  never disagree. The bit array rides a SparkContext broadcast (torrent
  protocol on a real cluster: one copy per executor, not per task).

Spark's own runtime bloom filters
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) do this
opportunistically for equi-joins when thresholds allow; this
module is the EXPLICIT form — deterministic hash construction, caller-
controlled size, usable where no equi-join exists yet (the gate runs
before the join is even declared), and testable bit-for-bit.

Reference analog: the reference's membership checks
(/root/reference/htm_streamer/validation.py) are driver-side set
lookups; this is the 100-TB reinterpretation.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htm_streamer_spark.operators.contamination import _doc_grams

__all__ = [
    "bloom_build",
    "bloom_bits",
    "bloom_gate",
    "contaminated_pairs_bloom",
]


def _positions(col_expr, m_bits: int, k: int):
    """The k bit positions of one item: pmod(xxhash64(item, seed_i), m).
    Seeded via an extra hashed column (xxhash64 folds every argument
    into the state), not Kirsch-Mitzenmacher arithmetic — no overflow
    semantics to reason about under ANSI mode."""
    return [
        F.pmod(F.xxhash64(col_expr, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def bloom_build(
    items: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """(word_idx:long, word:long): the set bits of the Bloom filter over
    ``items[col]``, packed into 64-bit words. Distributed end to end:
    explode k positions per item, one map-side-combinable ``bit_or``
    groupBy — at most ``m_bits/64`` output rows regardless of input
    cardinality."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    pos = F.explode(F.array(*_positions(F.col(col), m_bits, k))).alias("_pos")
    return (
        items.where(F.col(col).isNotNull())
        .select(pos)
        .select(
            F.shiftright("_pos", 6).alias("word_idx"),
            F.expr("shiftleft(1L, cast(_pos % 64 as int))").alias("_w"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_w").alias("word"))
    )


def bloom_bits(words: DataFrame, m_bits: int) -> np.ndarray:
    """Collect the (word_idx, word) frame into the dense uint64 bit
    array the gate kernel indexes. The collect is <= m_bits/64 longs —
    fixed size by construction (128 KiB at m=2^20), metadata-scale."""
    arr = np.zeros(m_bits // 64, dtype=np.uint64)
    for row in words.collect():
        arr[int(row["word_idx"])] = np.uint64(np.int64(row["word"]))
    return arr


def bloom_gate(
    df: DataFrame, col: str, bits: np.ndarray, m_bits: int, k: int = 5
) -> DataFrame:
    """Rows of ``df`` whose ``col`` passes the Bloom membership test
    (all k bits set). No false negatives ever; false positives at the
    configured fpp — callers must confirm exactly downstream.

    Map-side: positions are appended JVM-side (same expressions as the
    build), the kernel is one vectorized uint64 gather + shift per
    batch, and no exchange separates the scan from the filter. The bit
    array rides a SparkContext broadcast."""
    if bits.dtype != np.uint64 or len(bits) != m_bits // 64:
        raise ValueError("bits must be the uint64[m_bits/64] array from bloom_bits")
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(bits)
    with_pos = df.withColumn("_bp", F.array(*_positions(F.col(col), m_bits, k)))
    out_schema = with_pos.drop("_bp").schema

    def gate(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        arr = bc.value
        for batch in it:
            if batch.num_rows == 0:
                continue
            bp = batch.column(batch.num_columns - 1)
            pos = np.asarray(bp.flatten(), dtype=np.int64).reshape(-1, k)
            pos = pos.astype(np.uint64)
            words = arr[pos >> np.uint64(6)]
            hit = ((words >> (pos & np.uint64(63))) & np.uint64(1)).all(axis=1)
            if not hit.any():
                continue
            kept = batch.filter(pa.array(hit))
            yield kept.select(list(range(batch.num_columns - 1)))

    return with_pos.mapInArrow(gate, out_schema)


def contaminated_pairs_bloom(
    docs: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """(doc_id, probe_id): ``contaminated_pairs_ngram``'s answer via
    the Bloom-gated plan — the shape that survives when BOTH sides are
    large: probe cardinality is unbounded (the filter build is
    distributed and the collected state is fixed-size), and the doc
    side's shuffle carries only gate survivors (matches + fpp trickle)
    instead of every gram in the corpus.

    Same gram stream (``contamination._doc_grams``) and same exact
    string join as the plain strategy, with the gate between them;
    both dedup on (doc_id, probe_id), so the outputs are row-identical
    for any probe set."""
    bits = bloom_bits(bloom_build(probes, "gram", m_bits, k), m_bits)
    survivors = bloom_gate(_doc_grams(docs, text_col, n), "gram", bits, m_bits, k)
    return (
        survivors.join(probes.select("probe_id", "gram"), "gram")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .select("doc_id", "probe_id")
        .distinct()
    )

"""Deterministic synthetic fixtures (FIXTURES.md).

Every value is a pure function of ``(seed, row_index)`` via a splitmix64
mixer, so any scale reproduces byte-identically regardless of chunking or
parallelism. No external data. Mirrors the reference's fixtures
(/root/reference/tests/config--test.yaml,
/root/reference/data/batch/sample_timeseries.csv) reinterpreted for the
validation engine's input_hint schema
(doc_id:string, tokens:array<int32>, n_tok:int32, source:string).
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_M = np.uint64(0xFFFFFFFFFFFFFFFF)
_C1 = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xBF58476D1CE4E5B9)
_C3 = np.uint64(0x94D049BB133111EB)

SOURCES = np.array(["web", "books", "code", "wiki", "news"])
SOURCE_WEIGHTS = np.array([0.5, 0.2, 0.15, 0.1, 0.05])
_SOURCE_CUM = np.cumsum(SOURCE_WEIGHTS)

VOCAB = 50257
MAX_LEN = 512
EPOCH_2026 = np.int64(1767225600)  # 2026-01-01T00:00:00Z in unix seconds

CORRUPTION_KINDS = (
    "null_n_tok",
    "len_mismatch",
    "token_oob_neg",
    "token_oob_high",
    "dup_doc_id",
    "bad_source",
    "empty_tokens",
)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — uniform uint64 from uint64."""
    with np.errstate(over="ignore"):
        x = (x + _C1) & _M
        x = ((x ^ (x >> np.uint64(30))) * _C2) & _M
        x = ((x ^ (x >> np.uint64(27))) * _C3) & _M
        return x ^ (x >> np.uint64(31))


def _stream(seed: int, stream_id: int, idx: np.ndarray) -> np.ndarray:
    """Independent uint64 stream keyed by (seed, stream_id) over indices."""
    base = _mix(np.uint64(seed) * np.uint64(0x100000001B3) + np.uint64(stream_id))
    return _mix(idx.astype(np.uint64) ^ base)


def _u01(seed: int, stream_id: int, idx: np.ndarray) -> np.ndarray:
    return _stream(seed, stream_id, idx).astype(np.float64) / 2**64


def generate_sequences(
    n_partitions: int = 10,
    rows_per_partition: int = 1000,
    seed: int = 42,
    corrupt: bool = True,
    drift_partitions: int = 2,
    hot_key_copies: int = 0,
    vocab: int = VOCAB,
    start_row: int = 0,
    end_row: int | None = None,
) -> dict[str, np.ndarray | list]:
    """Generate rows [start_row, end_row) of the sequences table.

    Returns a dict of column arrays; ``tokens`` is a list of int32 arrays.
    Drifted partitions (the last ``drift_partitions`` part_ids) draw token
    values uniformly from the top 1% of the vocab and lengths from
    [400, 512] — the distribution change the reference's anomaly
    likelihood detects (anomalylikelihood.py:424-467). Corruptions hit a
    deterministic ~2% of non-drifted rows, round-robin over kinds.
    """
    n_rows = n_partitions * rows_per_partition
    if end_row is None:
        end_row = n_rows
    i = np.arange(start_row, min(end_row, n_rows), dtype=np.int64)
    part_id = (i // rows_per_partition).astype(np.int32)
    drifted = part_id >= (n_partitions - drift_partitions)

    # token lengths
    base_len = (_stream(seed, 1, i) % np.uint64(MAX_LEN)).astype(np.int64) + 1
    drift_len = (_stream(seed, 2, i) % np.uint64(113)).astype(np.int64) + 400
    lengths = np.where(drifted, drift_len, base_len)

    # corruption selection: hash-selected ~2%, round-robin over kinds,
    # never in drifted partitions (labels stay disjoint, FIXTURES.md §3)
    corrupted = np.zeros(len(i), dtype=bool)
    kind_idx = np.full(len(i), -1, dtype=np.int64)
    if corrupt:
        sel = (_stream(seed, 3, i) % np.uint64(50)) == 0
        sel &= ~drifted
        # round-robin by global row index rank among selected rows:
        # kind is a pure function of i so chunked generation agrees
        kind_idx = np.where(sel, (_stream(seed, 4, i) % np.uint64(len(CORRUPTION_KINDS))).astype(np.int64), -1)
        corrupted = sel

    is_kind = {k: corrupted & (kind_idx == n) for n, k in enumerate(CORRUPTION_KINDS)}

    lengths = np.where(is_kind.get("empty_tokens", False), 0, lengths)

    # tokens: flat generation then split
    total = int(lengths.sum())
    starts = np.cumsum(lengths) - lengths
    flat_pos = np.arange(total, dtype=np.int64)
    row_of = np.repeat(np.arange(len(i)), lengths)
    intra = flat_pos - np.repeat(starts, lengths)
    key = _mix(_stream(seed, 5, i[row_of]) ^ np.uint64(0xABCD) ^ intra.astype(np.uint64))
    top1 = max(1, vocab // 100)
    base_tok = (key % np.uint64(vocab)).astype(np.int64)
    drift_tok = (vocab - top1) + (key % np.uint64(top1)).astype(np.int64)
    flat_tokens = np.where(drifted[row_of], drift_tok, base_tok).astype(np.int32)

    # token out-of-bounds corruption: first token of the row
    oob_neg_rows = np.flatnonzero(is_kind.get("token_oob_neg", np.zeros(0, bool)) & (lengths > 0))
    oob_high_rows = np.flatnonzero(is_kind.get("token_oob_high", np.zeros(0, bool)) & (lengths > 0))
    flat_tokens[starts[oob_neg_rows]] = -1
    flat_tokens[starts[oob_high_rows]] = vocab + (
        _stream(seed, 6, i[oob_high_rows]) % np.uint64(100)
    ).astype(np.int32)

    tokens = np.split(flat_tokens, starts[1:]) if len(i) else []

    # n_tok: true length, then corruptions
    n_tok = lengths.astype(np.float64)
    delta_mag = (_stream(seed, 7, i) % np.uint64(3)).astype(np.int64) + 1
    delta_sign = np.where((_stream(seed, 8, i) % np.uint64(2)) == 0, -1, 1)
    n_tok = np.where(is_kind.get("len_mismatch", False), n_tok + delta_mag * delta_sign, n_tok)
    n_tok_null = is_kind.get("null_n_tok", np.zeros(len(i), bool))

    # doc_id
    doc_id = np.array([f"doc-{x:012d}" for x in i], dtype=object)

    def _row_is_retargetable(j: int) -> bool:
        """True if row j keeps its generated doc-{j} id: not corrupted
        (corruption may rename it) and not a hot-key row."""
        jj = np.array([j], dtype=np.int64)
        p = j // rows_per_partition
        j_drift = p >= (n_partitions - drift_partitions)
        j_sel = bool((_stream(seed, 3, jj) % np.uint64(50)) == 0) and not j_drift
        j_hot = (
            hot_key_copies > 0
            and p == 0
            and (j % rows_per_partition) < hot_key_copies
            and not j_sel
        )
        return not j_sel and not j_hot

    labels_clear_rows: list[int] = []
    early_dup = np.flatnonzero(is_kind.get("dup_doc_id", np.zeros(0, bool)) & (i < 7))
    for r in early_dup:
        if hot_key_copies > 0:
            doc_id[r] = "doc-hot"
        else:
            labels_clear_rows.append(r)
    dup_rows = np.flatnonzero(is_kind.get("dup_doc_id", np.zeros(0, bool)) & (i >= 7))
    for r in dup_rows:
        # point at the nearest earlier row whose id survives un-renamed,
        # so the duplicate pair is guaranteed to exist in the table
        j = int(i[r]) - 7
        while j >= 0 and not _row_is_retargetable(j):
            j -= 1
        if j >= 0:
            doc_id[r] = f"doc-{j:012d}"
        elif hot_key_copies > 0:
            doc_id[r] = "doc-hot"  # join the hot-key duplicate set
        else:
            labels_clear_rows.append(r)
    if hot_key_copies > 0:
        # skew fixture: hot key duplicated many times inside partition 0
        hot = (part_id == 0) & ((i % rows_per_partition) < hot_key_copies) & ~corrupted
        doc_id[hot] = "doc-hot"

    # source
    u = _u01(seed, 9, i)
    src_idx = np.searchsorted(_SOURCE_CUM, u, side="right").clip(0, len(SOURCES) - 1)
    source = SOURCES[src_idx].astype(object)
    source[is_kind.get("bad_source", np.zeros(len(i), bool))] = "spam"

    ts = EPOCH_2026 + i  # unix seconds

    labels = np.full(len(i), "", dtype=object)
    for k, mask in is_kind.items():
        labels[mask] = k
    for r in labels_clear_rows:
        labels[r] = ""

    return {
        "doc_id": doc_id,
        "tokens": tokens,
        "n_tok": n_tok.astype(np.float64),
        "n_tok_null": n_tok_null,
        "source": source,
        "ts": ts,
        "part_id": part_id,
        "injected": labels,
    }


def to_arrow(cols: dict, include_injected: bool = False) -> pa.Table:
    n = len(cols["doc_id"])
    n_tok = pa.array(
        [None if cols["n_tok_null"][j] else int(cols["n_tok"][j]) for j in range(n)],
        type=pa.int32(),
    )
    fields = {
        "doc_id": pa.array(cols["doc_id"], type=pa.string()),
        "tokens": pa.array([t.tolist() for t in cols["tokens"]], type=pa.list_(pa.int32())),
        "n_tok": n_tok,
        "source": pa.array(cols["source"], type=pa.string()),
        "ts": pa.array(cols["ts"], type=pa.timestamp("us", tz="UTC")).cast(
            pa.timestamp("us", tz="UTC")
        ),
        "part_id": pa.array(cols["part_id"], type=pa.int32()),
    }
    # ts generated as seconds; convert to microseconds
    fields["ts"] = pa.array(cols["ts"] * 1_000_000, type=pa.timestamp("us", tz="UTC"))
    if include_injected:
        fields["injected"] = pa.array(cols["injected"], type=pa.string())
    return pa.table(fields)


def write_sequences_parquet(
    out_dir: str | Path,
    n_partitions: int = 10,
    rows_per_partition: int = 1000,
    seed: int = 42,
    corrupt: bool = True,
    drift_partitions: int = 2,
    hot_key_copies: int = 0,
    vocab: int = VOCAB,
    overwrite: bool = False,
    chunk_rows: int = 200_000,
) -> Path:
    """Write the sequences table as hive-partitioned parquet
    (``part_id=N/`` subdirectories → Spark partition pruning works).
    Generation is chunked so bench scale stays in memory bounds.
    """
    out = Path(out_dir)
    # a _SUCCESS marker guards against a generation interrupted mid-write
    # (kill/timeout): a partial directory without the marker is discarded
    # and regenerated instead of silently reused with missing partitions.
    done_marker = out / "_SUCCESS"
    if out.exists():
        if not overwrite and done_marker.exists():
            return out
        shutil.rmtree(out)
    # stage into a sibling tmp dir and rename at the end so a concurrent
    # reader never sees a half-written table under the final path
    tmp = out.parent / (out.name + ".tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    n_rows = n_partitions * rows_per_partition
    for start in range(0, n_rows, chunk_rows):
        cols = generate_sequences(
            n_partitions,
            rows_per_partition,
            seed,
            corrupt,
            drift_partitions,
            hot_key_copies,
            vocab,
            start_row=start,
            end_row=min(start + chunk_rows, n_rows),
        )
        tbl = to_arrow(cols)
        for pid in np.unique(cols["part_id"]):
            sub = tbl.filter(pa.compute.equal(tbl["part_id"], int(pid))).drop_columns(["part_id"])
            pdir = tmp / f"part_id={int(pid)}"
            pdir.mkdir(exist_ok=True)
            pq.write_table(sub, pdir / f"chunk-{start:010d}.parquet")
    (tmp / "_SUCCESS").touch()
    tmp.rename(out)
    return out


def generate_series(
    n_series: int = 3, rows_per_series: int = 2000, seed: int = 42
) -> dict[str, np.ndarray]:
    """Reference-shaped series fixture (FIXTURES.md §6) for oracle-parity
    of the order-dependent likelihood ops. Sine + deterministic noise + 5
    injected spikes per series; synthetic raw anomaly score in [0, 1].
    Mirrors sample_timeseries.csv's shape at 2,000 rows/series.
    """
    sid = np.repeat(np.arange(n_series), rows_per_series)
    j = np.tile(np.arange(rows_per_series, dtype=np.int64), n_series)
    gidx = np.arange(n_series * rows_per_series, dtype=np.int64)
    noise = (_u01(seed, 20, gidx) - 0.5) * 0.2
    value = np.sin(2 * np.pi * j / 288.0 + sid) + noise
    score = 0.05 + 0.1 * _u01(seed, 21, gidx)
    # 5 deterministic spikes per series
    for s in range(n_series):
        spikes = (_stream(seed, 22, np.arange(5, dtype=np.int64) + s * 101) % np.uint64(rows_per_series - 200)).astype(np.int64) + 100
        for sp in spikes:
            m = (sid == s) & (j == sp)
            value[m] += 3.0
            score[m] = 0.95
    ts = EPOCH_2026 + j * 60  # 1-min cadence
    return {
        "series_id": np.array([f"s{x}" for x in sid], dtype=object),
        "ts": ts,
        "value": value,
        "score": score,
    }

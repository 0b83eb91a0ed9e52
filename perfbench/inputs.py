"""Seeded benchmark inputs and their oracle answers, cached per seed and shape.

Everything here runs before the Spark session starts and is excluded from
every timed region and from ``setup_s``. A cache entry is built in a
sibling ``.tmp`` directory and renamed into place, so an interrupted build
is never reused.
"""

from __future__ import annotations

import importlib.util
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from htm_streamer_spark.config import EngineConfig

@dataclass(frozen=True)
class SeqShape:
    n_partitions: int
    rows_per_partition: int
    hot_key_copies: int
    max_partitions: int  # partitions per incremental invocation

    @property
    def key(self) -> str:
        return f"{self.n_partitions}x{self.rows_per_partition}-h{self.hot_key_copies}"

    @property
    def n_rows(self) -> int:
        return self.n_partitions * self.rows_per_partition


@dataclass(frozen=True)
class OpsShape:
    n_events: int
    n_docs: int
    n_embeddings: int

    @property
    def key(self) -> str:
        return f"e{self.n_events}-d{self.n_docs}-v{self.n_embeddings}"


def _cached(root: Path, name: str, build) -> Path:
    """Return ``root/name``, building it with ``build(tmp_dir)`` if absent."""
    out = root / name
    if out.exists():
        return out
    tmp = root / (name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    tmp.rename(out)
    return out


# -- sequences table (validate_batch, validate_incremental) ---------------


def _sequences_pandas(shape: SeqShape, seed: int) -> pd.DataFrame:
    from htm_streamer_spark.fixtures.generator import generate_sequences

    cols = generate_sequences(
        shape.n_partitions, shape.rows_per_partition, seed=seed,
        hot_key_copies=shape.hot_key_copies,
    )
    return pd.DataFrame({
        "doc_id": cols["doc_id"],
        "tokens": cols["tokens"],
        "n_tok": np.where(cols["n_tok_null"], np.nan, cols["n_tok"]),
        "source": cols["source"],
        "part_id": cols["part_id"],
    })


def incremental_batches(shape: SeqShape, cfg: EngineConfig) -> list[list[int]]:
    """Partition ids of each ``run_incremental`` invocation over the table,
    mirroring its clamp of the first batch up to the baseline width."""
    parts = list(range(shape.n_partitions))
    first = max(shape.max_partitions, cfg.baseline_partitions)
    out = [parts[:first]]
    rest = parts[first:]
    while rest:
        out.append(rest[: shape.max_partitions])
        rest = rest[shape.max_partitions:]
    return out


def _incremental_oracle(
    df: pd.DataFrame, verdicts: pd.DataFrame, batches: list[list[int]], cfg: EngineConfig
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Oracle answer for a resumable sweep. Uniqueness is checked within
    each invocation's batch, so a duplicate pair split across two batches
    is not a violation there; every other check and the drift scores are
    those of the whole-table oracle."""
    from htm_streamer_spark.fixtures.oracle import oracle_violations

    viols = pd.concat(
        [oracle_violations(df[df["part_id"].isin(b)], cfg) for b in batches],
        ignore_index=True,
    )
    nv = viols.groupby("part_id").size()
    base = set(batches[0][: cfg.baseline_partitions])
    out = verdicts.copy()
    out["n_violations"] = [int(nv.get(p, 0)) for p in out["part_id"]]
    drifted = (out["psi"] > cfg.psi_threshold) | (out["kl"] > cfg.kl_threshold)
    out["verdict"] = np.where(
        out["n_violations"] > 0, "fail",
        np.where(out["part_id"].isin(base), "probation",
                 np.where(drifted, "fail", "pass")),
    )
    return viols, out


@dataclass
class SeqInputs:
    table: str
    n_rows: int
    batches: list[list[int]]
    violations: pd.DataFrame
    verdicts: pd.DataFrame
    inc_violations: pd.DataFrame
    inc_verdicts: pd.DataFrame


def sequences(cache: Path, shape: SeqShape, seed: int) -> SeqInputs:
    from htm_streamer_spark.fixtures.generator import write_sequences_parquet
    from htm_streamer_spark.fixtures.oracle import oracle_verdicts, oracle_violations

    cfg = EngineConfig()
    batches = incremental_batches(shape, cfg)

    def build(tmp: Path) -> None:
        write_sequences_parquet(
            tmp / "table", shape.n_partitions, shape.rows_per_partition, seed=seed,
            hot_key_copies=shape.hot_key_copies,
        )
        df = _sequences_pandas(shape, seed)
        viols = oracle_violations(df, cfg)
        verdicts = oracle_verdicts(df, cfg)
        inc_viols, inc_verdicts = _incremental_oracle(df, verdicts, batches, cfg)
        viols.to_parquet(tmp / "violations.parquet")
        verdicts.to_parquet(tmp / "verdicts.parquet")
        inc_viols.to_parquet(tmp / "inc_violations.parquet")
        inc_verdicts.to_parquet(tmp / "inc_verdicts.parquet")

    d = _cached(cache, f"seq-{shape.key}-s{seed}", build)
    return SeqInputs(
        table=str(d / "table"),
        n_rows=shape.n_rows,
        batches=batches,
        violations=pd.read_parquet(d / "violations.parquet"),
        verdicts=pd.read_parquet(d / "verdicts.parquet"),
        inc_violations=pd.read_parquet(d / "inc_violations.parquet"),
        inc_verdicts=pd.read_parquet(d / "inc_verdicts.parquet"),
    )


# -- operator tables (operator_suite) -------------------------------------


def tool(name: str):
    """The module ``tools/<name>.py`` of the repository (not a package)."""
    path = Path(__file__).resolve().parents[1] / "tools" / f"{name}.py"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_table(path: Path, table: pa.Table) -> None:
    # one row group, like the driver's fixture files
    pq.write_table(table, path, row_group_size=1 << 30, compression="snappy")


def _write_operator_tables(out: Path, shape: OpsShape, seed: int) -> None:
    """events / documents / embeddings with the schemas, vocabulary and
    value shapes of ``tools/gen_bigdata.py`` (which has a fixed seed and
    also writes seven TPC-H-style tables), drawn from ``seed``."""
    big = tool("gen_bigdata")
    words, langs = np.array(big.VOCAB), np.array(big.LANGS)
    event_types, sources = np.array(big.EVENT_TYPES), np.array(big.SOURCES)
    rng = np.random.default_rng(seed)
    n = shape.n_events
    gaps = rng.exponential(30.0 * 86400 / n, n)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps * 1e6).astype("timedelta64[us]")
    _write_table(out / "events.parquet", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(n // 60, 2), n), pa.int64()),
        "event_type": pa.array(event_types[rng.integers(0, len(event_types), n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }))

    # 10-100 words from a 30-word vocabulary; ~5% near duplicates
    # (suffix " dup") and ~0.3% exact duplicates of earlier documents
    texts: list[str] = []
    for i in range(shape.n_docs):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and u < 0.053:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    n = shape.n_docs
    _write_table(out / "documents.parquet", pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(langs[rng.choice(len(langs), n, p=big.LANG_P)]),
        "source": pa.array(sources[rng.integers(0, len(sources), n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    n = shape.n_embeddings
    emb = rng.standard_normal((n, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write_table(out / "embeddings.parquet", pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }))


@dataclass
class OpsInputs:
    sf_dir: str
    answers: dict[str, pd.DataFrame]


def operator_tables(cache: Path, shape: OpsShape, seed: int, queries: list[str]) -> OpsInputs:
    """The tables plus each query's ``oracle_sql()`` answer from DuckDB,
    each answer cached on its own so a run computes only those it checks."""
    import duckdb

    import __spark_entry__ as entry

    d = _cached(cache, f"ops-{shape.key}-s{seed}",
                lambda tmp: _write_operator_tables(tmp, shape, seed))
    con = duckdb.connect()
    try:
        for t in ("events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        for q in queries:
            path = d / f"oracle-{q}.parquet"
            if not path.exists():
                tmp = path.with_suffix(".tmp")
                con.sql(entry.oracle_sql()[q]).write_parquet(str(tmp))
                tmp.rename(path)
        answers = {q: con.sql(f"SELECT * FROM '{d}/oracle-{q}.parquet'").df() for q in queries}
    finally:
        con.close()
    return OpsInputs(sf_dir=str(d), answers=answers)

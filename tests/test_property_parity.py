"""Property-based oracle parity: hypothesis generates arbitrary small
tables (arbitrary token arrays, wrong/missing n_tok, unknown sources,
duplicate ids); the Spark engine must match the pandas oracle verdict-
and violation-exactly on every one (SURVEY.md §5.2 level the reference
lacks)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.fixtures.oracle import oracle_verdicts, oracle_violations
from htm_streamer_spark.plans.validation_plan import run_validation_batch

CFG = EngineConfig(vocab_size=100, baseline_partitions=1, allowed_sources=("a", "b"))

row_st = st.fixed_dictionaries(
    {
        "doc_key": st.integers(0, 15),  # small keyspace → natural duplicates
        "tokens": st.lists(st.integers(-5, 120), max_size=8),
        "n_tok_mode": st.sampled_from(["ok", "null", "wrong"]),
        "source": st.sampled_from(["a", "b", "zz"]),
    }
)

tables_st = st.lists(row_st, min_size=5, max_size=60)


def _build(rows: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": [f"d{r['doc_key']:04d}" for r in rows],
            "tokens": [np.array(r["tokens"], dtype=np.int64) for r in rows],
            "n_tok": [
                None
                if r["n_tok_mode"] == "null"
                else (len(r["tokens"]) + 2 if r["n_tok_mode"] == "wrong" else len(r["tokens"]))
                for r in rows
            ],
            "source": [r["source"] for r in rows],
            "part_id": [i % 3 for i in range(len(rows))],
        }
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(tables_st)
def test_engine_matches_oracle_on_arbitrary_tables(spark, rows):
    pdf = _build(rows)
    sdf = spark.createDataFrame(
        [
            (
                r.doc_id,
                [int(t) for t in r.tokens],
                None if pd.isna(r.n_tok) else int(r.n_tok),
                r.source,
                None,
                int(r.part_id),
            )
            for r in pdf.itertuples()
        ],
        "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp, part_id int",
    )
    res = run_validation_batch(spark, sdf, CFG)

    got_v = (
        res.violations.toPandas()[["doc_id", "part_id", "check_id"]]
        .sort_values(["part_id", "doc_id", "check_id"])
        .reset_index(drop=True)
        .astype({"part_id": "int64"})
    )
    want_v = (
        oracle_violations(pdf.assign(n_tok=pdf["n_tok"].astype("float64")), CFG)[
            ["doc_id", "part_id", "check_id"]
        ]
        .reset_index(drop=True)
        .astype({"part_id": "int64"})
    )
    pd.testing.assert_frame_equal(got_v, want_v)

    got_w = (
        res.verdicts.toPandas()[["part_id", "verdict", "n_violations"]]
        .sort_values("part_id")
        .reset_index(drop=True)
        .astype({"part_id": "int64", "n_violations": "int64"})
    )
    want_w = oracle_verdicts(pdf.assign(n_tok=pdf["n_tok"].astype("float64")), CFG)[
        ["part_id", "verdict", "n_violations"]
    ].astype({"part_id": "int64", "n_violations": "int64"})
    pd.testing.assert_frame_equal(got_w, want_w)

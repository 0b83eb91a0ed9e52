"""Engine vs oracle parity — the BASELINE.json contract: violation rows
match row-for-row under token-array equality; per-partition verdicts
match exactly."""

from __future__ import annotations

import pandas as pd
import pytest

from htm_streamer_spark.fixtures.oracle import oracle_verdicts, oracle_violations
from htm_streamer_spark.plans.validation_plan import load_sequences, run_validation_batch


@pytest.fixture(scope="module")
def result(spark, tiny_dir, cfg):
    df = load_sequences(spark, tiny_dir)
    return run_validation_batch(spark, df, cfg)


def test_violations_match_oracle_row_for_row(result, tiny_pandas, cfg):
    got = (
        result.violations.toPandas()
        .sort_values(["part_id", "doc_id", "check_id"])
        .reset_index(drop=True)
    )
    want = oracle_violations(tiny_pandas, cfg)
    pd.testing.assert_frame_equal(
        got[["doc_id", "part_id", "check_id", "payload"]].astype({"part_id": "int64"}),
        want[["doc_id", "part_id", "check_id", "payload"]].astype({"part_id": "int64"}),
    )


def test_every_injected_corruption_caught(result, tiny_pandas):
    injected = tiny_pandas[tiny_pandas["injected"] != ""]
    got = result.violations.toPandas()
    viol_ids = set(zip(got["doc_id"], got["part_id"].astype(int)))
    kind_to_check = {
        "null_n_tok": "null_n_tok",
        "len_mismatch": "len_mismatch",
        "token_oob_neg": "token_range",
        "token_oob_high": "token_range",
        "dup_doc_id": "dup_doc_id",
        "bad_source": "bad_source",
        "empty_tokens": "empty_tokens",
    }
    by_row = got.groupby(["doc_id", "part_id"])["check_id"].agg(set)
    for _, row in injected.iterrows():
        key = (row["doc_id"], int(row["part_id"]))
        assert key in viol_ids, f"injected {row['injected']} not caught: {key}"
        assert kind_to_check[row["injected"]] in by_row.loc[key], (
            f"{key} caught but not as {row['injected']}: {by_row.loc[key]}"
        )


def test_verdicts_match_oracle(result, tiny_pandas, cfg):
    got = (
        result.verdicts.toPandas()
        .sort_values("part_id")
        .reset_index(drop=True)
        .astype({"part_id": "int64", "n_violations": "int64"})
    )
    want = oracle_verdicts(tiny_pandas, cfg).astype({"part_id": "int64", "n_violations": "int64"})
    pd.testing.assert_frame_equal(
        got[["part_id", "verdict", "n_violations"]],
        want[["part_id", "verdict", "n_violations"]],
    )
    # psi/kl numerically close (float sum order differs)
    assert (got["psi"] - want["psi"]).abs().max() < 1e-9
    assert (got["kl"] - want["kl"]).abs().max() < 1e-9


def test_drift_partitions_fail_on_drift_alone(spark, tiny_dir, cfg, result):
    verd = result.verdicts.toPandas().set_index("part_id")
    # last two partitions are drifted and carry no injected corruption
    for pid in (8, 9):
        assert verd.loc[pid, "verdict"] == "fail"
        assert verd.loc[pid, "n_violations"] == 0
        assert verd.loc[pid, "psi"] > cfg.psi_threshold


def test_clean_table_all_pass_after_probation(spark, clean_dir, cfg):
    df = load_sequences(spark, clean_dir)
    res = run_validation_batch(spark, df, cfg)
    verd = res.verdicts.toPandas().set_index("part_id").sort_index()
    assert res.violations.count() == 0
    base = list(range(cfg.baseline_partitions))
    assert (verd.loc[base, "verdict"] == "probation").all()
    rest = [p for p in verd.index if p not in base]
    assert (verd.loc[rest, "verdict"] == "pass").all()


"""drift_scores edge cases against fixtures.oracle.psi_kl on hand-built
histograms: a partition missing a family, an empty baseline, baseline
buckets the partition never saw, and the explicit-baseline path of
run_validation_batch."""

from __future__ import annotations

import numpy as np
import pytest

from htm_streamer_spark.config import NTOK_MAX, SEQUENCES_SCHEMA, EngineConfig
from htm_streamer_spark.fixtures.oracle import psi_kl
from htm_streamer_spark.operators.drift import drift_scores
from htm_streamer_spark.plans.validation_plan import run_validation_batch

WIDTHS = (8, 4)  # bucket-grid width per family
PART_SCHEMA = "part_id int, family tinyint, bucket int, cnt long"
BASE_SCHEMA = "family tinyint, bucket int, cnt long"


def _dense(cells: dict[int, int], width: int) -> np.ndarray:
    out = np.zeros(width)
    for b, c in cells.items():
        out[b] = c
    return out


def _expected(part: dict, base: dict) -> dict[int, tuple[float, float]]:
    """Per part_id the greatest (psi, kl) over families, an absent
    family counting as 0 — from the numpy oracle on dense histograms."""
    out = {}
    for pid, fams in part.items():
        scores = [
            psi_kl(_dense(cells, WIDTHS[f]), _dense(base.get(f, {}), WIDTHS[f]))
            for f, cells in fams.items()
        ]
        if len(fams) < len(WIDTHS):
            scores.append((0.0, 0.0))
        out[pid] = (max(s[0] for s in scores), max(s[1] for s in scores))
    return out


def _run(spark, part: dict, base: dict) -> dict[int, tuple[float, float]]:
    p = spark.createDataFrame(
        [(pid, f, b, c) for pid, fams in part.items() for f, cells in fams.items()
         for b, c in cells.items()],
        PART_SCHEMA,
    )
    q = spark.createDataFrame(
        [(f, b, c) for f, cells in base.items() for b, c in cells.items()], BASE_SCHEMA
    )
    return {r["part_id"]: (r["psi"], r["kl"]) for r in drift_scores(p, q, WIDTHS).collect()}


def _assert_close(got, want):
    assert got.keys() == want.keys()
    for pid in want:
        assert got[pid] == pytest.approx(want[pid], rel=1e-12, abs=1e-12), pid


BASE = {0: {0: 5, 3: 2, 7: 1}, 1: {1: 4, 2: 4}}


def test_partition_missing_a_family(spark):
    # part 1 has no n_tok family, part 2 no token family. Part 1's token
    # KL is negative under the floors, so the absent family's 0 wins.
    part = {
        0: {0: {0: 5, 3: 2, 7: 1}, 1: {1: 4, 2: 4}},
        1: {0: {0: 5_000_000, 3: 2_000_000, 7: 1_000_000, 1: 1}},
        2: {1: {1: 4, 2: 3}},
    }
    assert psi_kl(_dense(part[1][0], WIDTHS[0]), _dense(BASE[0], WIDTHS[0]))[1] < 0
    got = _run(spark, part, BASE)
    _assert_close(got, _expected(part, BASE))
    assert got[0] == pytest.approx((0.0, 0.0), abs=1e-12)
    assert got[1][1] == 0.0


def test_empty_baseline(spark):
    part = {0: {0: {2: 3}, 1: {0: 1, 3: 9}}, 1: {0: {5: 1}}}
    _assert_close(_run(spark, part, {}), _expected(part, {}))


def test_baseline_buckets_absent_from_partition(spark):
    # the partition sees one bucket per family; every other baseline
    # bucket must still enter the sums at the floor
    part = {0: {0: {4: 10}, 1: {0: 2}}}
    _assert_close(_run(spark, part, BASE), _expected(part, BASE))


def test_explicit_baseline_path(spark):
    """run_validation_batch with a passed-in baseline: the checkpointed
    {'tok', 'ntok'} frames go through the same drift_scores."""
    cfg = EngineConfig(baseline_partitions=1)
    rows = [
        ("a", [1, 2, 3], 3, "web", None, 5),
        ("b", [40000, 40001], 2, "web", None, 5),
        ("c", list(range(600)), 600, "books", None, 6),
    ]
    df = spark.createDataFrame(rows, schema=SEQUENCES_SCHEMA)
    tok = {0: 3, 100: 1}
    ntok = {0: 2, 31: 1}
    baseline = {
        "tok": spark.createDataFrame(list(tok.items()), "bucket int, cnt long"),
        "ntok": spark.createDataFrame(list(ntok.items()), "bucket int, cnt long"),
        "part_ids": [0],
    }
    got = {
        r["part_id"]: (r["psi"], r["kl"])
        for r in run_validation_batch(spark, df, cfg, baseline=baseline).verdicts.collect()
    }

    def hist(pid):
        toks = np.concatenate([np.asarray(r[1]) for r in rows if r[5] == pid])
        ntoks = np.clip([r[2] for r in rows if r[5] == pid], 0, NTOK_MAX)
        b_tok = (toks * cfg.tok_hist_buckets) // cfg.vocab_size
        b_ntok = (ntoks * cfg.ntok_hist_buckets) // (NTOK_MAX + 1)
        return (np.bincount(b_tok, minlength=cfg.tok_hist_buckets),
                np.bincount(b_ntok, minlength=cfg.ntok_hist_buckets))

    widths = (cfg.tok_hist_buckets, cfg.ntok_hist_buckets)
    q = [_dense(tok, widths[0]), _dense(ntok, widths[1])]
    want = {}
    for pid in (5, 6):
        scores = [psi_kl(p.astype(float), qq) for p, qq in zip(hist(pid), q)]
        want[pid] = (max(s[0] for s in scores), max(s[1] for s in scores))
    _assert_close(got, want)
    spark.catalog.clearCache()

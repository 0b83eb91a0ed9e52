"""Opt-in dup_content check (operators/uniqueness.py
duplicate_content_violations): identical token arrays under >=2
distinct doc_ids are flagged on EVERY carrying row; same id repeated
stays dup_doc_id's business; default config leaves verdicts unchanged."""

from __future__ import annotations

import pytest

from htm_streamer_spark.config import SEQUENCES_SCHEMA, EngineConfig
from htm_streamer_spark.operators.invariants import featurize
from htm_streamer_spark.operators.uniqueness import duplicate_content_violations
from htm_streamer_spark.plans.validation_plan import all_violations, run_validation_batch


@pytest.fixture(scope="module")
def seqs(spark):
    rows = [
        ("a1", [1, 2, 3], 3, "web", None, 0),    # content X
        ("a2", [1, 2, 3], 3, "web", None, 0),    # content X under a 2nd id
        ("a3", [1, 2, 3], 3, "books", None, 1),  # content X under a 3rd id
        ("b1", [4, 5], 2, "web", None, 0),       # unique content
        ("c1", [6], 1, "web", None, 1),          # same id repeated,
        ("c1", [6], 1, "web", None, 1),          # same content: NOT dup_content
        ("d1", None, 2, "web", None, 0),         # null tokens ignored
        ("d2", None, 2, "web", None, 0),
        ("e1", [1, 2], 3, "web", None, 0),       # same prefix, diff array
    ]
    return spark.createDataFrame(rows, schema=SEQUENCES_SCHEMA)


def test_flags_every_row_of_shared_content(spark, seqs):
    got = duplicate_content_violations(seqs, EngineConfig()).toPandas()
    assert sorted(got["doc_id"]) == ["a1", "a2", "a3"]
    assert set(got["check_id"]) == {"dup_content"}
    # the content hash rides the payload so copies can be grouped
    import json

    hashes = {json.loads(p)["content_hash"] for p in got["payload"]}
    assert len(hashes) == 1


def test_same_id_repeats_are_not_content_dups(spark, seqs):
    got = duplicate_content_violations(seqs, EngineConfig()).toPandas()
    assert "c1" not in set(got["doc_id"])  # dup_doc_id's job, not this one's


def test_opt_in_via_checks_tuple(spark, seqs):
    base = EngineConfig()
    assert "dup_content" not in base.checks  # off by default
    default_rows = all_violations(seqs, featurize(seqs, base), base).toPandas()
    assert "dup_content" not in set(default_rows["check_id"])
    on = EngineConfig(checks=base.checks + ("dup_content",))
    rows_on = all_violations(seqs, featurize(seqs, on), on).toPandas()
    dup_rows = rows_on[rows_on["check_id"] == "dup_content"]
    assert sorted(dup_rows["doc_id"]) == ["a1", "a2", "a3"]
    # everything else unchanged
    rest = rows_on[rows_on["check_id"] != "dup_content"]
    assert len(rest) == len(default_rows)


def test_flagship_run_flags_shared_content(spark, seqs):
    """The flagship hands its row checks the fused kernel's narrow frame,
    which has no token arrays; the opted-in content check must still
    read them from the input."""
    on = EngineConfig(checks=EngineConfig().checks + ("dup_content",))
    res = run_validation_batch(spark, seqs, on)
    got = res.violations.filter("check_id = 'dup_content'").toPandas()
    assert sorted(got["doc_id"]) == ["a1", "a2", "a3"]
    verdicts = {r["part_id"]: r["verdict"] for r in res.verdicts.collect()}
    assert verdicts == {0: "fail", 1: "fail"}
    spark.catalog.clearCache()


def test_unknown_check_still_rejected():
    from htm_streamer_spark.config import validate_config

    with pytest.raises(ValueError, match="unknown checks"):
        validate_config(EngineConfig(checks=("dup_content_typo",)))


def test_hot_content_under_many_ids(spark):
    # one token array re-ingested under 5,000 distinct ids: the
    # (hash, doc_id) phase spreads by id; all 5,000 rows come back
    rows = [(f"id{i}", [7, 7, 7], 3, "web", None, i % 4) for i in range(5000)]
    df = spark.createDataFrame(rows, schema=SEQUENCES_SCHEMA).repartition(16)
    got = duplicate_content_violations(df, EngineConfig())
    assert got.count() == 5000

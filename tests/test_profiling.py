"""Relationship/segment profiling (operators/profiling.py)."""

import pandas as pd
from pyspark.sql import functions as F

from htm_streamer_spark.operators.profiling import (
    join_profile,
    worst_segments_mean,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_join_profile_one_to_n(spark):
    left = _df(spark, [(i,) for i in range(10)], "k long")
    right = _df(
        spark, [(i // 3,) for i in range(30)], "k long"
    )  # keys 0..9, 3 rows each
    p = join_profile(left, right, "k").collect()[0]
    assert p["cardinality"] == "1:N"
    assert p["max_left_fanout"] == 1 and p["max_right_fanout"] == 3
    assert p["matched_keys"] == 10
    assert p["left_only_keys"] == 0 and p["right_only_keys"] == 0
    assert p["inner_join_rows"] == 30


def test_join_profile_m_to_n_explosion_estimate(spark):
    left = _df(spark, [(1,), (1,), (1,), (2,)], "k long")
    right = _df(spark, [(1,), (1,), (3,)], "k long")
    p = join_profile(left, right, "k").collect()[0]
    assert p["cardinality"] == "M:N"
    assert p["inner_join_rows"] == 6  # 3*2 on key 1, key 2/3 orphaned
    assert p["left_only_keys"] == 1 and p["right_only_keys"] == 1
    # verify the estimate against the actual join
    assert left.join(right, "k").count() == 6


def test_join_profile_orphans_dont_set_cardinality(spark):
    # left key 9 is duplicated but UNMATCHED: multiplicity on matched
    # keys is still 1:1
    left = _df(spark, [(1,), (2,), (9,), (9,)], "k long")
    right = _df(spark, [(1,), (2,)], "k long")
    p = join_profile(left, right, "k").collect()[0]
    assert p["cardinality"] == "1:1"
    assert p["max_left_fanout"] == 2  # reported, just not classifying
    assert p["left_only_keys"] == 1


def test_join_profile_one_to_one(spark):
    left = _df(spark, [(i,) for i in range(5)], "k long")
    right = _df(spark, [(i,) for i in range(5)], "k long")
    p = join_profile(left, right, "k").collect()[0]
    assert p["cardinality"] == "1:1" and p["inner_join_rows"] == 5


def test_worst_segments_finds_masked_segment(spark):
    # global null-ish rate is low, one segment is 100% bad
    rows = [("ok%d" % (i % 9), 0.0) for i in range(900)]
    rows += [("bad", 1.0) for _ in range(100)]
    df = _df(spark, rows, "seg string, flag double")
    out = worst_segments_mean(df, "seg", F.col("flag"), "bad_rate", top_k=3).collect()
    assert out[0]["seg"] == "bad"
    assert out[0]["bad_rate"] == 1.0
    assert out[0]["global_bad_rate"] == 0.1
    assert out[0]["abs_dev"] == 0.9
    assert out[0]["n_rows"] == 100
    # the remaining segments all deviate equally; tie-break is by name
    assert [r["seg"] for r in out[1:]] == ["ok0", "ok1"]


def test_worst_segments_respects_top_k(spark):
    rows = [(f"s{i:02d}", float(i)) for i in range(30) for _ in range(2)]
    df = _df(spark, rows, "seg string, v double")
    out = worst_segments_mean(df, "seg", F.col("v"), "m", top_k=5)
    assert out.count() == 5


def test_worst_segments_mean_matches_generic_single_scan(spark, tmp_path):
    rows = [("s%d" % (i % 7), float(i % 13 < 2)) for i in range(700)]
    _df(spark, rows, "seg string, flag double").write.parquet(
        str(tmp_path / "t")
    )
    df = spark.read.parquet(str(tmp_path / "t"))
    # generic reference: per-segment and global averages, two scans
    glob = df.agg(F.round(F.avg("flag"), 6)).collect()[0][0]
    per = df.groupBy("seg").agg(
        F.round(F.avg("flag"), 6).alias("rate"), F.count(F.lit(1)).alias("n")
    )
    want = sorted(
        (r.seg, r.rate, glob, abs(r.rate - glob), r.n) for r in per.collect()
    )
    mean_df = worst_segments_mean(df, "seg", F.col("flag"), "rate", top_k=7)
    assert sorted(map(tuple, mean_df.collect())) == want
    # the specialization's point: ONE parquet scan of the fact table;
    # the persisted per-segment frame shows up as InMemoryTableScan
    # re-reads, not source scans. formatted explain dedups operator
    # nodes (raw toString repeats the cached subtree at every reference)
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        mean_df.explain("formatted")
    assert len(re.findall(r"^\(\d+\) Scan parquet", buf.getvalue(), re.M)) <= 1


def test_time_gaps_finds_planted_holes(spark):
    """Two groups, hourly rows with known missing slots: exactly the
    planted holes come back, interior-only (nothing before the first
    or after the last event), dense group reports nothing."""
    import datetime

    from htm_streamer_spark.operators.profiling import time_gaps

    t0 = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for h in range(12):
        if h not in (3, 7, 8):  # planted holes in group a
            rows.append(("a", t0 + datetime.timedelta(hours=h, minutes=17)))
        rows.append(("b", t0 + datetime.timedelta(hours=h)))  # dense
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    got = {
        (r.g, r.gap_start)
        for r in time_gaps(df, "ts", "g", bucket="hour").collect()
    }
    want = {("a", t0 + datetime.timedelta(hours=h)) for h in (3, 7, 8)}
    assert got == want


def test_time_gaps_single_bucket_group_has_no_gaps(spark):
    import datetime

    from htm_streamer_spark.operators.profiling import time_gaps

    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1, 5, 30))], "g string, ts timestamp"
    )
    assert time_gaps(df, "ts", "g").count() == 0


def test_json_key_profile(spark):
    import pandas as pd

    from htm_streamer_spark.operators.profiling import json_key_profile

    pdf = pd.DataFrame(
        {
            "props": [
                '{"a": 1, "b": 2}',
                '{"a": 3}',
                '{"b": null, "c": {"d": 1}}',
                None,
                "not json at all",
            ]
        }
    )
    out = {
        r["key"]: r
        for r in json_key_profile(spark.createDataFrame(pdf), "props").collect()
    }
    # nested keys are NOT top-level; null-valued key still present;
    # NULL and malformed rows count in the denominator only
    assert set(out) == {"a", "b", "c"}
    assert out["a"]["n_present"] == 2 and out["a"]["presence_rate"] == 0.4
    assert out["b"]["n_present"] == 2
    assert out["c"]["n_present"] == 1 and out["c"]["presence_rate"] == 0.2
    empty = json_key_profile(
        spark.createDataFrame(pdf).where("props = 'zzz'"), "props"
    )
    assert empty.count() == 0

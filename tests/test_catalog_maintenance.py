"""Catalog maintenance: time-travel reads, small-file compaction, and
snapshot expiry."""

from __future__ import annotations

from pathlib import Path

from htm_streamer_spark.sources.table_io import ManifestCatalog

SCHEMA = "k long, v string, updated_at long"


def _commit_rows(spark, cat, rows):
    cat.stage_spark("t", spark.createDataFrame(rows, SCHEMA))
    return cat.commit()


def test_time_travel_append_table(spark, tmp_path):
    cat = ManifestCatalog(tmp_path / "cat")
    v1 = _commit_rows(spark, cat, [(1, "a", 1)])
    v2 = _commit_rows(spark, cat, [(2, "b", 2)])
    assert {r.k for r in cat.read(spark, "t").collect()} == {1, 2}
    assert {r.k for r in cat.read(spark, "t", as_of=v1).collect()} == {1}
    assert {r.k for r in cat.read(spark, "t", as_of=v2).collect()} == {1, 2}
    assert cat.read(spark, "t", as_of=0) is None


def test_time_travel_state_table(spark, tmp_path):
    cat = ManifestCatalog(tmp_path / "cat")
    v1 = _commit_rows(spark, cat, [(1, "old", 1)])
    _commit_rows(spark, cat, [(1, "new", 2)])
    latest = cat.read(spark, "t", latest_only=True).collect()
    old = cat.read(spark, "t", latest_only=True, as_of=v1).collect()
    assert [r.v for r in latest] == ["new"]
    assert [r.v for r in old] == ["old"]


def test_compact_merges_small_files_and_keeps_history(spark, tmp_path):
    cat = ManifestCatalog(tmp_path / "cat")
    # one commit, many small files for the same (untagged) table
    for k in range(4):
        cat.stage_spark("t", spark.createDataFrame([(k, f"v{k}", 1)], SCHEMA))
    v1 = cat.commit()
    assert len(cat.files("t", latest_only=True)) >= 4
    v2 = cat.compact(spark, "t")
    assert v2 == v1 + 1
    files = cat.files("t", latest_only=True)
    assert len(files) == 1
    got = {r.k: r.v for r in cat.read(spark, "t", latest_only=True).collect()}
    assert got == {0: "v0", 1: "v1", 2: "v2", 3: "v3"}
    # pre-compact snapshot still time-travels
    assert len(cat.files("t", latest_only=True, as_of=v1)) >= 4
    # idempotent: already compact -> no new version
    assert cat.compact(spark, "t") is None


def test_compact_is_per_bucket(spark, tmp_path):
    cat = ManifestCatalog(tmp_path / "cat")
    # three bucket-tagged stages per bucket -> several files per bucket
    for _ in range(3):
        for b in range(4):
            rows = [(k, "x", 1) for k in range(16) if k % 4 == b]
            cat.stage_spark("t", spark.createDataFrame(rows, SCHEMA), bucket=b)
    cat.commit()
    assert len(cat.entries("t", latest_only=True)) > 4
    cat.compact(spark, "t")
    latest = cat.entries("t", latest_only=True)
    per_bucket = {}
    for e in latest:
        per_bucket.setdefault(e["bucket"], []).append(e)
    assert sorted(per_bucket) == [0, 1, 2, 3]
    assert all(len(es) == 1 for es in per_bucket.values())
    # each compacted file holds exactly its own bucket's rows
    for b, (e,) in per_bucket.items():
        ks = {r.k for r in spark.read.parquet(str(cat.root / e["file"])).collect()}
        assert ks == {k for k in range(16) if k % 4 == b}


def test_expire_reclaims_only_unreferenced(spark, tmp_path):
    cat = ManifestCatalog(tmp_path / "cat")
    v1 = _commit_rows(spark, cat, [(1, "a", 1)])
    old_files = cat.files("t", latest_only=True)
    # second commit CARRIES the v1 files forward (restage) + adds new
    cat.restage("t", cat.entries("t", latest_only=True))
    cat.stage_spark("t", spark.createDataFrame([(2, "b", 2)], SCHEMA))
    cat.commit()
    deleted = cat.expire_versions(keep_last=1)
    # carried-forward files survive expiry; nothing was deletable
    assert deleted == []
    assert all(Path(f).exists() for f in old_files)
    assert {r.k for r in cat.read(spark, "t", latest_only=True).collect()} == {1, 2}
    # time travel below the horizon is gone
    assert cat.read(spark, "t", as_of=v1) is None


def test_expire_deletes_rewritten_files(spark, tmp_path):
    cat = ManifestCatalog(tmp_path / "cat")
    for k in range(4):
        cat.stage_spark("t", spark.createDataFrame([(k, f"v{k}", 1)], SCHEMA))
    cat.commit()
    before = cat.files("t", latest_only=True)
    cat.compact(spark, "t")
    deleted = cat.expire_versions(keep_last=1)
    assert sorted(deleted) == sorted(before)
    assert all(not Path(f).exists() for f in before)
    got = {r.k for r in cat.read(spark, "t", latest_only=True).collect()}
    assert got == {0, 1, 2, 3}


def test_expire_rejects_zero_keep(spark, tmp_path):
    import pytest

    cat = ManifestCatalog(tmp_path / "cat")
    _commit_rows(spark, cat, [(1, "a", 1)])
    with pytest.raises(ValueError, match="keep_last"):
        cat.expire_versions(keep_last=0)

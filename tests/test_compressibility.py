"""Compression-ratio quality proxy (operators/compressibility.py):
reference parity vs direct zlib, ordering on planted redundancy, NULL /
empty handling, group passthrough, single-Arrow-stage plan."""

from __future__ import annotations

import random
import string
import zlib

import pytest

from htm_streamer_spark.operators.compressibility import compression_stats


def _ref_sizes(text: str, level: int = 6) -> tuple[int, int]:
    raw = text.encode("utf-8")
    c = zlib.compressobj(level, zlib.DEFLATED, -15)
    return len(raw), len(c.compress(raw) + c.flush())


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(7)
    rows = []
    for i in range(40):
        words = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(2, 9)))
                 for _ in range(rng.randint(20, 120))]
        rows.append((i, " ".join(words), "prose"))
    rows.append((100, "spam ham " * 500, "template"))          # highly redundant
    # random printable ASCII: ~6.6 bits/byte entropy is the ceiling for
    # plain text — deflate lands ~0.84, above the 0.80 binary-ish band
    rows.append((101, "".join(rng.choices(string.printable, k=4000)), "noise"))
    rows.append((102, "héllo wörld ✓ " * 50, "unicode"))        # multibyte UTF-8
    rows.append((103, "", "empty"))
    rows.append((104, None, "empty"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_parity_vs_zlib_reference(spark, docs):
    got = {r["doc_id"]: r for r in compression_stats(docs).collect()}
    for row in docs.collect():
        g = got[row["doc_id"]]
        if row["text"] is None:
            assert g["n_bytes"] is None and g["n_deflate"] is None and g["ratio"] is None
            continue
        nb, nd = _ref_sizes(row["text"])
        assert (g["n_bytes"], g["n_deflate"]) == (nb, nd)
        if nb == 0:
            assert g["ratio"] is None
        else:
            assert g["ratio"] == pytest.approx(nd / nb, abs=1e-12)


def test_redundancy_ordering(spark, docs):
    r = {row["doc_id"]: row["ratio"] for row in compression_stats(docs).collect()
         if row["ratio"] is not None}
    template = r[100]
    noise = r[101]
    prose = [v for k, v in r.items() if k < 100]
    # templated text compresses far below prose; printable noise far above
    assert template < 0.05 < min(prose)
    assert noise > max(prose)


def test_keep_cols_ride_through(spark, docs):
    out = compression_stats(docs, keep_cols=("source",))
    assert out.columns == ["doc_id", "source", "n_bytes", "n_deflate", "ratio"]
    pairs = {(r["doc_id"], r["source"]) for r in out.collect()}
    truth = {(r["doc_id"], r["source"]) for r in docs.collect()}
    assert pairs == truth


def test_empty_input(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert compression_stats(empty).count() == 0


def test_single_arrow_stage_plan(spark, docs):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        compression_stats(docs).explain("formatted")
    import re

    plan = buf.getvalue()
    # formatted mode prints the op once in the tree and once in the
    # detail section — count the numbered detail line only
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1
    for bad in ("BatchEvalPython", "FlatMapGroupsInPandas", "ArrowEvalPython"):
        assert bad not in plan

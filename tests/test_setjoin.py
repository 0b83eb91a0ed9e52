"""Prefix-filter exact set-similarity join (operators/setjoin.py) vs a
brute-force all-pairs reference, plus the completeness contract the LSH
tiers can't make: exact join output ⊇ MinHash-LSH output at the same
threshold over the same shingle space."""

from __future__ import annotations

import itertools
import re

import pytest

from htm_streamer_spark.operators.setjoin import jaccard_similarity_join

DOCS = [
    # two exact near-dup families + unrelated background docs
    ("d01", "the quick brown fox jumps over the lazy dog near the river"),
    ("d02", "the quick brown fox jumps over the lazy dog near the creek"),
    ("d03", "the quick brown fox leaps over the lazy dog near the river"),
    ("d04", "pack my box with five dozen liquor jugs for the long trip"),
    ("d05", "pack my box with five dozen liquor jugs for the short trip"),
    ("d06", "completely different text about spark catalyst optimizer plans"),
    ("d07", "tokenizer vocabulary coverage statistics for training corpora"),
    ("d08", "the quick brown fox jumps over the lazy dog near the river"),
    ("d09", ""),
    ("d10", "!!! ???"),  # normalizes to empty
]


def _token_set(text, mode, n=3):
    words = [w for w in re.sub(r"[^a-z0-9 ]", "", text.lower()).split() if w]
    if mode == "words":
        return set(words)
    return {
        " ".join(words[i : i + n]) for i in range(max(len(words) - n + 1, 0))
    }


def _brute_force(docs, t, mode):
    out = {}
    sets = {d: _token_set(x, mode) for d, x in docs}
    for (da, sa), (db, sb) in itertools.combinations(sorted(sets.items()), 2):
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= t:
            out[(da, db)] = round(j, 6)
    return out


@pytest.mark.parametrize("mode", ["words", "shingles"])
@pytest.mark.parametrize("t", [0.3, 0.5, 0.8, 1.0])
def test_matches_brute_force(spark, mode, t):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): round(r.jaccard, 6)
        for r in jaccard_similarity_join(
            df, threshold=t, mode=mode
        ).collect()
    }
    assert got == _brute_force(DOCS, t, mode)


def test_superset_of_lsh_at_same_threshold(spark):
    """The exact join is the ground truth the LSH tier approximates:
    every MinHash-LSH pair at threshold t must appear in the exact
    join's output at t (the converse can fail — that's LSH recall)."""
    from htm_streamer_spark.operators.dedup import minhash_near_duplicates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_similarity_join(docs, 0.5, mode="shingles").collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_duplicates(
            docs, jaccard_threshold=0.5, method="md5"
        ).collect()
    }
    assert lsh <= exact
    assert exact, "sf0.001 corpus should contain near-dup pairs"


@pytest.mark.parametrize("mode", ["words", "shingles"])
def test_broadcast_attach_off_same_pairs_no_hint(spark, mode):
    """``broadcast_attach=False`` is the escape hatch for corpora whose
    per-doc frames outgrow executor memory: the same pairs, and no
    broadcast hint on any join. The analyzed plan is checked too: the
    optimized plan replaces the persisted survivor sets, and the hints
    beneath them, by their cached relations."""
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    on = jaccard_similarity_join(df, 0.5, mode=mode)
    off = jaccard_similarity_join(df, 0.5, mode=mode, broadcast_attach=False)
    assert sorted(off.collect()) == sorted(on.collect())
    assert "strategy=broadcast" in on._jdf.queryExecution().optimizedPlan().toString()
    qe = off._jdf.queryExecution()
    for plan in (qe.optimizedPlan(), qe.analyzed()):
        assert "strategy=broadcast" not in plan.toString()


def test_threshold_validation(spark):
    df = spark.createDataFrame(DOCS[:2], ["doc_id", "text"])
    with pytest.raises(ValueError):
        jaccard_similarity_join(df, 0.0)
    with pytest.raises(ValueError):
        jaccard_similarity_join(df, 1.5)
    with pytest.raises(ValueError):
        jaccard_similarity_join(df, 0.5, mode="chars")

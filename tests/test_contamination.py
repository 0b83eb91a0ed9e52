"""Decontamination scans: the broadcast-contains join and the word
n-gram equi-join, known-answer cases and corpus parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from htm_streamer_spark.operators.contamination import (
    contaminated_pairs,
    contaminated_pairs_ngram,
    derive_ngram_probes,
    derive_probes,
)
from htm_streamer_spark.operators.repetition import dup_ngram_stats, top_ngram

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_known_answer(spark):
    docs = _docs(
        spark,
        [
            (0, "the secret eval answer is forty two indeed"),
            (1, "noise noise the secret eval answer is hidden here"),
            (2, "completely unrelated text"),
            (3, "prefix secret eval answer suffix"),
        ],
    )
    probes = spark.createDataFrame(
        [(100, "secret eval answer")], "probe_id long, probe string"
    )
    got = sorted(
        (r.doc_id, r.probe_id) for r in contaminated_pairs(docs, probes).collect()
    )
    assert got == [(0, 100), (1, 100), (3, 100)]


def test_ngram_variant_known_answer_word_boundaries(spark):
    gram = "alpha beta gamma delta epsilon"
    docs = _docs(
        spark,
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "xx alpha beta gamma delta epsilon yy"),   # contains the 5-gram
            (2, "xalpha beta gamma delta epsilon"),        # substring, NOT word gram
            (3, "alpha beta gamma delta"),                 # too short
            (4, "alpha"),                                  # 1 word
            (5, "alpha beta"),                             # 2 words
            (6, ""),                                       # empty
            (7, "!!! ... ???"),                            # punctuation only
            (8, f"{gram} and {gram}"),                     # repeated: one pair
            (11, "only here lives this gram"),             # probe 11's own doc
        ],
    )
    probes = spark.createDataFrame(
        [(9, gram), (10, gram), (11, "only here lives this gram")],  # 9, 10 share
        "probe_id long, gram string",
    )
    got = sorted(map(tuple, contaminated_pairs_ngram(docs, probes, n=5).collect()))
    assert got == [(0, 9), (0, 10), (1, 9), (1, 10), (8, 9), (8, 10)]


def test_ngram_variant_no_broadcast_no_leaked_cache(spark):
    # at default thresholds neither side is broadcast (the exploded gram
    # stream is corpus-sized), and no persisted RDD outlives the query
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probes = derive_ngram_probes(docs, every=31, start=4, n=5)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = contaminated_pairs_ngram(docs, probes, n=5)
    assert len(out.collect()) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    # only new ids count: the JVM's GC may drop RDDs other tests left
    # persisted from the weak-valued registry at any time
    added = set(jsc.getPersistentRDDs().keySet()) - before
    assert not added, added


def test_ngram_variant_matches_padded_contains_on_corpus(spark):
    # on single-spaced normalized text, word-n-gram membership equals
    # ' '||text||' ' CONTAINS ' '||gram||' ' — cross-check the gram-string
    # equi-join against that independent broadcast formulation on real data
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probes = derive_ngram_probes(docs, every=31, start=4, n=5)
    a = sorted(map(tuple, contaminated_pairs_ngram(docs, probes, n=5).collect()))
    padded = (
        docs.join(
            F.broadcast(probes),
            F.contains(
                F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("gram"), F.lit(" ")),
            )
            & (F.col("doc_id") != F.col("probe_id")),
        )
        .select("doc_id", "probe_id")
    )
    b = sorted(map(tuple, padded.collect()))
    assert a == b
    assert len(a) > 0


def test_ngram_variant_no_probe_broadcast_no_collect(spark):
    # the plan must not hinge on broadcasting probes: works with the
    # auto-broadcast threshold disabled (every join falls back to
    # shuffle joins) and produces the identical answer
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probes = derive_ngram_probes(docs, every=31, start=4, n=5)
    base = sorted(map(tuple, contaminated_pairs_ngram(docs, probes, n=5).collect()))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = sorted(
            map(tuple, contaminated_pairs_ngram(docs, probes, n=5).collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == base


def test_derive_probes_deterministic_and_self_excluded(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probes = derive_probes(docs, every=31, offset=10, length=12)
    pairs = contaminated_pairs(docs, probes)
    assert pairs.filter(F.col("doc_id") == F.col("probe_id")).count() == 0


def test_dup_ngram_stats_known_answer(spark):
    docs = _docs(
        spark,
        [
            (0, "a b c a b c a b c"),  # 7 3-grams, 3 distinct
            (1, "x y z w"),  # 2 3-grams, both distinct
            (2, "q"),  # shorter than n → 0 grams, dup_frac 0
        ],
    )
    got = {r.doc_id: r for r in dup_ngram_stats(docs, n=3).collect()}
    assert (got[0].n_grams, got[0].n_distinct_grams) == (7, 3)
    assert abs(got[0].dup_frac - 4 / 7) < 1e-9
    assert (got[1].n_grams, got[1].n_distinct_grams, got[1].dup_frac) == (2, 2, 0.0)
    assert (got[2].n_grams, got[2].dup_frac) == (0, 0.0)


def test_top_ngram_known_answer_and_tiebreak(spark):
    docs = _docs(
        spark,
        [
            (0, "a b a b a b c"),  # 'a b' x3 beats 'b a' x2
            (1, "z z y y"),  # 'y y','z y','z z' all x1 → lexically smallest wins
        ],
    )
    got = {r.doc_id: r for r in top_ngram(docs, n=2).collect()}
    assert (got[0].top_gram, got[0].top_count, got[0].n_grams) == ("a b", 3, 6)
    assert abs(got[0].top_frac - 0.5) < 1e-9
    assert (got[1].top_gram, got[1].top_count) == ("y y", 1)


def test_cross_doc_dup_spans_known_answer(spark):
    from htm_streamer_spark.operators.repetition import cross_doc_dup_spans

    docs = _docs(
        spark,
        [
            # docs 0 and 1 share the 5-gram "one two three four five"
            (0, "one two three four five alpha beta"),
            (1, "zz one two three four five qq rr"),
            (2, "totally different words here nothing shared"),
            (3, "tiny doc"),  # < 5 words -> absent from output
        ],
    )
    got = {r.doc_id: r for r in cross_doc_dup_spans(docs, n=5, min_docs=2).collect()}
    assert set(got) == {0, 1, 2}
    # doc 0: 3 gram positions, only position 1 ("one..five") is shared
    assert (got[0].n_grams, got[0].n_dup_grams) == (3, 1)
    assert abs(got[0].dup_span_frac - 1 / 3) < 1e-9
    # doc 1: 4 positions, position 2 shared
    assert (got[1].n_grams, got[1].n_dup_grams) == (4, 1)
    assert (got[2].n_grams, got[2].n_dup_grams) == (2, 0)


def test_cross_doc_dup_spans_within_doc_repeat_not_cross(spark):
    from htm_streamer_spark.operators.repetition import cross_doc_dup_spans

    # the same 5-gram repeated WITHIN one doc is not cross-doc duplication
    docs = _docs(spark, [(0, "a b c d e a b c d e"), (1, "p q r s t u")])
    got = {r.doc_id: r for r in cross_doc_dup_spans(docs, n=5, min_docs=2).collect()}
    assert got[0].n_dup_grams == 0
    # ... but min_docs=1 marks every position duplicated
    got1 = {r.doc_id: r for r in cross_doc_dup_spans(docs, n=5, min_docs=1).collect()}
    assert got1[0].n_dup_grams == got1[0].n_grams

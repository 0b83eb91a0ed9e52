"""Benchmark decontamination: find documents containing any probe
string (exact substring — the standard n-gram contamination check a
training pipeline runs against eval-set probes before training).

Two Spark-first strategies:

- ``contaminated_pairs`` — broadcast the (small) probe table and
  nested-loop join on ``contains(text, probe)``. O(docs × probes)
  comparisons but one scan of the corpus and zero shuffle of document
  bytes; Catalyst picks BroadcastNestedLoopJoin. Right up to ~10^4
  probes; probes longer than a few words are near-unique, so match
  cardinality is tiny and the output pair set is never the bottleneck.
- ``contaminated_pairs_ngram`` — the word-n-gram membership check (the
  GPT-3/PaLM decontamination unit is an n-gram, 8-13 words) with NO
  driver collect and NO broadcast of either side, so probe cardinality
  is unbounded: the doc side explodes every word n-gram position as a
  string (``_doc_grams``) and equi-joins it on the gram string against
  ``(probe_id, gram)``, the probe side as the shuffle-hash build side.
  String equality IS the exact check, so the plan scans the corpus once
  and needs no hash pre-filter, no confirm pass and no cache. Words are
  ``dedup.normalized_words``: the normalized text (its ``[a-z0-9 ]``
  runs extracted and joined, see ``dedup.keep_chars``) split on ``' '``
  with empty tokens removed — native expressions, no interpreted
  lambda. (``operators/bloom.py`` is the low-traffic form: it drops
  non-member grams before the exchange.)

Reference analog: the referential/membership checks of the validation
layer (/root/reference/htm_streamer/validation.py) applied to raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htm_streamer_spark.operators.dedup import fan_out_narrow_scans, normalized_words


def derive_probes(
    docs: DataFrame,
    text_col: str = "text",
    every: int = 97,
    offset: int = 16,
    length: int = 32,
) -> DataFrame:
    """Deterministic probe set for tests/benchmarks: from every
    ``every``-th doc_id, the ``length``-char substring at ``offset``
    (1-based). Real pipelines load probes from the eval sets instead;
    this derivation exists so the DuckDB oracle can rebuild the exact
    same probe table from the same parquet."""
    return (
        docs.filter((F.col("doc_id") % every == 0) & (F.length(text_col) >= offset + length))
        .select(
            F.col("doc_id").alias("probe_id"),
            F.substring(F.col(text_col), offset, length).alias("probe"),
        )
    )


def contaminated_pairs(
    docs: DataFrame, probes: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, probe_id): every document containing a probe substring,
    excluding the probe's own source document. Broadcast nested-loop
    join — one corpus scan, no shuffle of document bytes."""
    return (
        docs.join(
            F.broadcast(probes),
            F.contains(F.col(text_col), F.col("probe"))
            & (F.col("doc_id") != F.col("probe_id")),
        )
        .select("doc_id", "probe_id")
    )


def derive_ngram_probes(
    docs: DataFrame,
    text_col: str = "text",
    every: int = 97,
    start: int = 4,
    n: int = 5,
) -> DataFrame:
    """Deterministic word-n-gram probe set: from every ``every``-th
    doc, the n words starting at 1-based word index ``start``. The
    DuckDB oracle rebuilds the identical table from the same parquet;
    real pipelines load eval-set n-grams instead."""
    words = normalized_words(F.col(text_col))
    return (
        docs.filter(F.col("doc_id") % every == 0)
        .select(
            F.col("doc_id").alias("probe_id"),
            F.when(
                F.size(words) >= start + n - 1,
                F.concat_ws(" ", F.slice(words, start, n)),
            ).alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
    )


def _doc_grams(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    """(doc_id, gram): one row per word-n-gram POSITION of every doc
    (within-doc repeats included; callers dedup their output pairs).

    Plan hygiene:
    - fan out ``(doc_id, text)`` first, so a single-file layout does not
      tokenize on one core;
    - the word array (``normalized_words``: regexp run extract, join,
      literal split, ``array_remove``) is built once, in its own
      projection;
    - the size guard sits INSIDE the explode: a ``where(size >= n)``
      would be pushed below the fan-out and re-run that tokenize chain
      on the scan side, and without any guard ``sequence(1, size-n+1)``
      counts down for docs shorter than n;
    - grams come from ``array_join(slice(...))`` per position, which
      stays in whole-stage codegen, unlike the interpreted ``zip_with``
      chain of ``_gram_array`` plus a per-row ``array_distinct``."""
    words = fan_out_narrow_scans(docs.select("doc_id", text_col)).select(
        "doc_id", normalized_words(F.col(text_col)).alias("_t")
    )
    pos = F.when(F.size("_t") >= n, F.sequence(F.lit(1), F.size("_t") - (n - 1)))
    return words.select("doc_id", "_t", F.explode(pos).alias("_p")).select(
        "doc_id", F.array_join(F.slice("_t", F.col("_p"), n), " ").alias("gram")
    )


def contaminated_pairs_ngram(
    docs: DataFrame, probes: DataFrame, text_col: str = "text", n: int = 5
) -> DataFrame:
    """(doc_id, probe_id): documents whose word-n-gram set contains a
    probe n-gram, excluding the probe's own document — exact, with no
    driver collect and no broadcast (see module docstring).

    Scale shape: one scan of the corpus and one exchange per side. The
    doc side shuffles (doc_id, gram string) per gram position; the
    probe side, hinted ``shuffle_hash``, is the hash-join build side.
    Without the hint the planner sizes the exploded gram stream like
    its parquet file and may broadcast it. The final ``distinct``
    folds repeated grams and multi-gram probes into one pair."""
    return (
        _doc_grams(docs, text_col, n)
        .join(probes.select("probe_id", "gram").hint("shuffle_hash"), "gram")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .select("doc_id", "probe_id")
        .distinct()
    )


def cross_source_overlap(
    df: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    gram_n: int = 3,
    window: int = 8,
) -> DataFrame:
    """Pairwise cross-source contamination matrix over MOSS winnowing
    fingerprints — the corpus-level view the per-document probes above
    can't give: how much substring-level material do two SOURCES share?
    A scraped mirror, a dataset repackaged under a new name, or a
    benchmark leaking into a crawl all show up as an off-diagonal
    overlap far above the background. Overlap coefficient
    ``|A ∩ B| / min(|A|, |B|)`` (not Jaccard) so a small source fully
    contained in a large one scores ~1 instead of being diluted.

    Plan: one fingerprinting scan (``winnow_fingerprints``, all native
    expressions); fingerprints collapse to the DISTINCT (source, fp)
    frame before any join, which bounds every fp to at most |sources|
    rows per side — the fp↔fp equi-join fan-out is |sources|^2 per
    fingerprint worst case, independent of how many documents share
    it (the boilerplate-hot-fp hazard is bounded by construction, the
    same count-first stance as the minhash bucket gate). Per-source
    totals derive from the same distinct frame. Returns
    (source_a, source_b, n_shared_fp, n_a, n_b, overlap) for
    source_a < source_b.
    """
    from htm_streamer_spark.operators.textstats import winnow_fingerprints

    fps = winnow_fingerprints(df, text_col, gram_n=gram_n, window=window)
    sfp = (
        fps.join(df.select("doc_id", source_col), "doc_id")
        .select(F.col(source_col).alias("_s"), "fp")
        .distinct()
    )
    sfp = sfp.persist()  # totals + both join sides: one fingerprint pass
    totals = sfp.groupBy("_s").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    a = sfp.select(F.col("_s").alias("source_a"), "fp")
    b = sfp.select(F.col("_s").alias("source_b"), "fp")
    shared = (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fp"))
    )
    out = (
        shared.join(
            F.broadcast(totals.select(F.col("_s").alias("source_a"),
                                      F.col("_n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(totals.select(F.col("_s").alias("source_b"),
                                      F.col("_n").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared_fp",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared_fp")
                / F.least("n_a", "n_b").cast("double")
                + F.lit(1e-9),
                6,
            ).alias("overlap"),
        )
    )
    return out

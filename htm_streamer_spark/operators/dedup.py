"""Deduplication operators for large-scale training-data pipelines.

Four tiers over the ``documents`` table (doc_id, text, ...):

- exact:     hash-groupBy on a text digest (md5 — portable to the DuckDB
             oracle), partial-merged count, then broadcast join-back.
- minhash:   word-shingle → K minhashes → B bands → bucket join (LSH).
             Candidate pairs = docs sharing any band signature.
- simhash:   64-bit sign-of-weighted-sum fingerprint via a vectorized
             Arrow pandas UDF; near-dup candidates share a 16-bit band.
- ngram_jaccard: exact Jaccard over shingle sets for candidate pairs
             (array_intersect/array_union — native, codegen).

Scale notes (10^12 rows): every stage is shuffle-on-key with map-side
partial aggregation; LSH bucket joins group only docs sharing a
signature (no cross join anywhere); the band signature is a single
64-bit hash so the shuffle rows are fixed-width. Skewed buckets (e.g.
boilerplate shingles) are bounded by ``max_bucket`` — buckets above it
are dropped and logged as a stat, the standard web-dedup guard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def keep_chars(col, char_class: str) -> F.Column:
    """``col`` with every character outside ``[char_class]`` deleted.

    Written as the concatenation of the maximal ``[char_class]+`` runs,
    not as a ``regexp_replace`` of the negated class: joining the runs
    yields by construction exactly the string the delete yields (NULL
    stays NULL, empty stays empty), but java.util.regex consumes each
    run in one greedy loop instead of attempting a match at every kept
    character (~4x cheaper on the bench documents and on punctuated
    prose). tests/test_text_normalization.py checks the two forms equal
    on adversarial strings; tests/test_plan_lint.py rejects the negated
    ``regexp_replace`` in any query plan."""
    return F.array_join(F.regexp_extract_all(col, F.lit(f"[{char_class}]+"), 0), "")


def normalized_text(col) -> F.Column:
    """Lowercase, keep only ``[a-z0-9 ]`` — the canonical form every
    dedup tier hashes. The DuckDB oracles compute it as
    ``regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')``, the
    reference :func:`keep_chars` equals."""
    return keep_chars(F.lower(col), "a-z0-9 ")


def normalized_words(col) -> F.Column:
    """Non-empty words of :func:`normalized_text`. Normalized text holds
    no whitespace but ``' '``, so a literal split plus ``array_remove``
    equals the ``\\s+`` split filtered of empty tokens, without the
    interpreted lambda."""
    return F.array_remove(F.split(normalized_text(col), " "), "")


def fan_out_narrow_scans(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism IFF the input has
    fewer partitions than the cluster has slots.

    CPU-heavy per-row derivations (shingle md5, signature permutation)
    inherit the scan's split count; a source laid out as a handful of
    small files (or a few unsplittable gzip members) would otherwise
    run the whole hash pipeline on that handful of cores. The guard
    makes this a no-op at real scale — a 100 TB scan already carries
    ~10^5 splits, so the extra shuffle never fires there; it fires
    exactly when the input is small (shuffle is cheap) or degenerate
    (reshuffling is the standard remedy)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def exact_duplicates(
    df: DataFrame, text_col: str = "text", sample_ids: int = 8, n_salts: int = 64
) -> DataFrame:
    """Exact dedup: (digest, n_copies, sample_doc_ids) for digests with
    >1 doc, where sample_doc_ids is the ``sample_ids`` LEXICALLY SMALLEST
    doc_ids of the group (a bounded, deterministic sample — never the
    full member list: one boilerplate digest with 10^7 copies must not
    materialize a 10^7-element array on one reducer).

    Two salted phases bound every intermediate: phase 1 hash-partitions
    on (digest, salt) so a hot digest spreads over ``n_salts`` reducers;
    within a shard a window ``row_number`` (external sort — spillable,
    never an in-memory array) selects the ``sample_ids`` smallest
    doc_ids BEFORE any ``collect_list``, so no intermediate array ever
    exceeds ``sample_ids`` even for a 10^9-copy digest. Phase 2 merges
    ≤ n_salts bounded arrays per digest. Counts partial-merge map-side.
    Full membership, when needed, is recovered by joining df back on the
    digest.
    """
    from pyspark.sql import Window

    digest = F.md5(normalized_text(F.col(text_col))).alias("digest")
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salts)).alias("_salt")
    w = Window.partitionBy("digest", "_salt").orderBy("doc_id")
    ranked = df.select(digest, salt, "doc_id").withColumn("_rn", F.row_number().over(w))
    # collect_list skips nulls → at most sample_ids elements per shard;
    # the count still covers every row (same shuffle partitioning as the
    # window, so the groupBy adds no second exchange)
    p1 = ranked.groupBy("digest", "_salt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sort_array(
            F.collect_list(F.when(F.col("_rn") <= sample_ids, F.col("doc_id")))
        ).alias("_ids"),
    )
    return (
        p1.groupBy("digest")
        .agg(
            F.sum("_cnt").alias("n_copies"),
            F.slice(F.sort_array(F.flatten(F.collect_list("_ids"))), 1, sample_ids).alias(
                "sample_doc_ids"
            ),
        )
        .filter(F.col("n_copies") > 1)
    )


def _gram_array(words, n: int):
    """Word n-grams as an O(len) expression: zip the array with its
    shifted copies instead of slicing per position (slice-per-gram is
    O(len^2) per row — measured 11.7s → <1s on 5k docs of ~380 words).
    Any n: chain of n-1 zip_with ops — O(len·n) total. (The obvious
    transform(sequence, i -> slice(words, i+1, n)) alternative is
    O(len^2) per row and was measured 169s for what the chain does in
    seconds on 37M grams — never reintroduce it.)"""
    grams = words
    for i in range(1, n):
        grams = F.zip_with(
            grams, F.slice(words, i + 1, 1 << 30), lambda a, b: F.concat_ws(" ", a, b)
        )
    # zip_with pads the shorter side with null; concat_ws skips nulls,
    # leaving (n-1)..1-grams at the tail — cut them off
    return F.slice(grams, 1, F.greatest(F.size(words) - (n - 1), F.lit(0)))


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle). Tokenize on
    whitespace after normalization. Duplicates are NOT removed —
    minhash's ``min`` is multiplicity-insensitive, and an explicit
    ``array_distinct`` is O(grams^2) per row.

    Two plan-hygiene rules (measured 29x on the winnowing cousin of
    this pipeline, see textstats.winnow_fingerprints):
    - the word array is materialized in its OWN projection first —
      ``_gram_array`` references its input n+1 times, and an inline
      ``split`` would re-tokenize every row that many times;
    - ``explode_outer``, not ``explode``: InferFiltersFromGenerate
      synthesizes ``size(grams) > 0`` under a plain explode and
      predicate pushdown sinks it through the projection into the
      scan, re-inlining the whole gram expression as a per-row filter.
      Output filters (null/empty) cannot push below a Generate.
    """
    words = F.split(normalized_text(F.col(text_col)), r"\s+")
    base = df.select("doc_id", words.alias("_ws"))
    return (
        base.select(
            "doc_id",
            F.explode_outer(_gram_array(F.col("_ws"), n)).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull() & (F.length("shingle") > 0))
    )


MINHASH_P = 2147483647  # 2^31 - 1, the classic universal-hash prime


def minhash_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic affine coefficients (A_k, B_k) for the K minwise
    permutations h_k(x) = (A_k·x + B_k) mod p, derived from md5 so the
    exact same literals appear in the DuckDB oracle."""
    import hashlib

    A = [
        1 + int(hashlib.md5(f"a{k}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1)
        for k in range(num_hashes)
    ]
    B = [
        int(hashlib.md5(f"b{k}".encode()).hexdigest()[:8], 16) % MINHASH_P
        for k in range(num_hashes)
    ]
    return A, B


def shingle_base_hash(shingle, method: str = "md5") -> F.Column:
    """31-bit base hash of a shingle. ``md5``: DuckDB-reproducible;
    ``xxhash64``: cheaper, the at-scale default."""
    if method == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long"),
            F.lit(MINHASH_P),
        )
    if method == "xxhash64":
        return F.pmod(F.xxhash64(shingle), F.lit(MINHASH_P))
    raise ValueError(f"unknown base-hash method {method!r}")


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 32, method: str = "md5"
) -> DataFrame:
    """(doc_id, sig array<long>): minwise signatures via ONE base hash
    per shingle + K affine permutations (A_k·x + B_k) mod p — K cheap
    integer ops replace K full string hashes per shingle, all native
    aggregates, one shuffle on doc_id with map-side partial min."""
    A, B = minhash_constants(num_hashes)
    base = shingle_base_hash(F.col("shingle"), method).alias("_base")
    aggs = [
        F.min((F.lit(A[k]) * F.col("_base") + F.lit(B[k])) % F.lit(MINHASH_P)).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    per_doc = sh.select("doc_id", base).groupBy("doc_id").agg(*aggs)
    return per_doc.select(
        "doc_id", F.array(*[F.col(f"h{k}") for k in range(num_hashes)]).alias("sig")
    )


def _banded_frame(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bsig) — the LSH band keys of each signature. The
    ONE construction shared by the batch pipeline and the persistable
    incremental index, so an index built yesterday buckets identically
    to a signature computed today."""
    return (
        sigs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        # the band's min values joined as a string — grouping
                        # key directly, no extra hash (and DuckDB-identical)
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        ).alias("bsig"),
                    ),
                )
            ).alias("bs"),
        ).select("doc_id", "bs.band", "bs.bsig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 8, rows_per_band: int = 4, max_bucket: int = 64
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs sharing ≥1 LSH band signature.

    Band signature = hash of the band's slice of the minhash signature.
    Join happens per (band, signature) bucket only; buckets larger than
    ``max_bucket`` are dropped (boilerplate guard against quadratic
    blowup — the skew handling for this operator).

    The banded frame is referenced twice (bucket-count filter + semi-join
    back), so it is ``persist()``-ed: without it each reference recomputes
    the whole shingle→signature subtree — i.e. re-reads the text column of
    the source, the dominant cost at 100 TB. The cached frame is narrow
    (doc_id, band, bsig string), ~bands× the doc count, MEMORY_AND_DISK.
    """
    banded = _banded_frame(sigs, bands, rows_per_band).persist()
    # count FIRST, collect only qualifying buckets: filtering after a
    # collect_list would still materialize a boilerplate mega-bucket on
    # one reducer before dropping it. The counts pass partial-merges
    # map-side; the semi-join back bounds every collected array at
    # max_bucket.
    keep = (
        banded.groupBy("band", "bsig")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
        .select("band", "bsig")
    )
    buckets = (
        banded.join(keep, ["band", "bsig"], "left_semi")
        .groupBy("band", "bsig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a: F.transform(F.col("ids"), lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b"))),
                    )
                ),
                lambda p: p["doc_a"] < p["doc_b"],
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return pairs.distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard over shingle sets for the given candidate pairs:
    (doc_a, doc_b, jaccard). Shingle arrays are joined in twice (small
    candidate set → broadcast the pairs).

    ``pairs`` is referenced three times (both sides of the id-union and
    the final join) and ``sets`` twice (a/b sides) — both are persisted
    so the candidate pipeline / the gram projection over the source run
    once, not per-reference. Both frames are tiny: pairs is the
    candidate list; sets holds gram arrays for candidate docs only.
    """
    # no array_distinct: array_intersect/array_union already have set
    # semantics, and distinct-ing ~400-element string arrays is O(n^2)
    pairs = pairs.persist()
    words = F.split(normalized_text(F.col(text_col)), r"\s+")
    # build gram arrays ONLY for docs that appear in a candidate pair —
    # Catalyst does not push a join below an expensive projection, so
    # without the semi-join every corpus row pays the gram construction
    # even when candidates are a millionth of it
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    df = df.join(cand_ids, "doc_id", "left_semi")
    # word array materialized in its own projection first: _gram_array
    # references its input n+1 times, and higher-order functions are
    # interpreted — an inline split+regexp would be re-evaluated per
    # reference
    sets = (
        df.select("doc_id", words.alias("_ws"))
        .select("doc_id", _gram_array(F.col("_ws"), n).alias("grams"))
        .persist()
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    union = F.size(F.array_union("grams_a", "grams_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def plan_lsh_bands(
    jaccard_threshold: float,
    num_hashes: int = 32,
    *,
    min_rows: int = 2,
) -> tuple[int, int]:
    """Pick (bands, rows_per_band) for an LSH run targeting
    ``jaccard_threshold``, from the standard S-curve analysis (Leskovec
    et al., "Mining of Massive Datasets" ch. 3): a pair with Jaccard s
    collides with probability 1 - (1 - s^r)^b, and the curve's
    steepest-rise point sits near (1/b)^(1/r). Among the divisor
    splits b*r = num_hashes (r >= min_rows, so single-row bands never
    degenerate to per-hash equality), choose the split whose threshold
    approximation is closest to the target from BELOW when possible —
    preferring recall (a too-low knee admits extra candidates that the
    exact-Jaccard confirm then filters; a too-high knee silently loses
    true pairs, which nothing downstream can recover).

    Returns (bands, rows_per_band). Pure driver-side math — use it to
    derive ``minhash_near_duplicates``'s band parameters instead of
    hand-tuning:

    >>> plan_lsh_bands(0.8, 32)
    (8, 4)
    """
    if not 0.0 < jaccard_threshold < 1.0:
        raise ValueError(f"jaccard_threshold must be in (0, 1), got {jaccard_threshold}")
    if num_hashes < min_rows:
        raise ValueError(f"num_hashes={num_hashes} < min_rows={min_rows}")
    splits = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0 and num_hashes // b >= min_rows
    ]
    knees = [(b, r, (1.0 / b) ** (1.0 / r)) for b, r in splits]
    below = [(b, r, k) for b, r, k in knees if k <= jaccard_threshold]
    pool = below or knees
    b, r, _ = min(pool, key=lambda t: abs(t[2] - jaccard_threshold))
    return b, r


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    method: str = "md5",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → minhash → band →
    bucket-join → exact-Jaccard confirm. Returns (doc_a, doc_b, jaccard).

    ``bands=None`` derives the band split from the S-curve analysis
    (``plan_lsh_bands``) so the LSH knee tracks ``jaccard_threshold``
    instead of a hand-tuned constant (at the defaults both give 8×4)."""
    if bands is None:
        bands, _ = plan_lsh_bands(jaccard_threshold, num_hashes)
    df = fan_out_narrow_scans(df)
    sh = shingles(df, text_col, shingle_n)
    sigs = minhash_signatures(sh, num_hashes, method)
    pairs = lsh_candidate_pairs(sigs, bands, num_hashes // bands)
    return ngram_jaccard_pairs(df, pairs, text_col, shingle_n, jaccard_threshold)


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    method: str = "md5",
) -> DataFrame:
    """The persistable LSH index of a corpus: (doc_id, band, bsig).

    At 10^12-doc scale you never re-dedup the whole corpus per ingest —
    you persist THIS frame (a narrow bands×|docs| table, text never
    stored) and run ``incremental_near_duplicates`` on each increment
    against it. Extending the index after an accepted increment is a
    plain union: ``index ∪ minhash_band_index(new_docs)`` equals
    ``minhash_band_index(old ∪ new)`` row-for-row because the band keys
    are content-deterministic (same constants, same construction —
    ``_banded_frame``)."""
    if bands is None:
        bands, _ = plan_lsh_bands(jaccard_threshold, num_hashes)
    df = fan_out_narrow_scans(df)
    sigs = minhash_signatures(shingles(df, text_col, shingle_n), num_hashes, method)
    return _banded_frame(sigs, bands, num_hashes // bands)


def incremental_near_duplicates(
    new_docs: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    method: str = "md5",
    max_bucket: int = 64,
) -> DataFrame:
    """Near-dup pairs touching the increment, WITHOUT re-deduping the
    corpus: exactly the rows of ``minhash_near_duplicates(corpus)``
    where doc_a or doc_b is a new doc (pinned by test).

    ``new_docs`` = the increment; ``index`` = ``minhash_band_index`` of
    the pre-increment corpus; ``corpus`` = the full post-append table
    (text source for the exact confirm — only candidate docs are
    re-read, via the semi-join inside ``ngram_jaccard_pairs``).

    Equivalence argument: bucket membership is index ∪ new bands =
    full-corpus bands; the ``max_bucket`` cap counts the UNION (same
    drop decision as batch); candidates are new×all within kept buckets
    (canonicalized), which is precisely the batch candidate set
    restricted to pairs touching new; the exact confirm is shared code.
    Cost: one signature pass over the INCREMENT plus a bucket join —
    the corpus contributes only its (already persisted) index rows and
    the text of confirmed candidates."""
    if bands is None:
        bands, _ = plan_lsh_bands(jaccard_threshold, num_hashes)
    banded_new = minhash_band_index(
        new_docs, text_col, num_hashes, bands, shingle_n, jaccard_threshold, method
    ).persist()
    # referenced by both the bucket-count filter and the join side; in
    # production `index` is a read-back table (one scan by construction),
    # but when it arrives as a lineage (e.g. built in the same job) the
    # persist stops each reference re-deriving the whole corpus subtree
    all_banded = index.unionByName(banded_new).persist()
    keep = (
        all_banded.groupBy("band", "bsig")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
        .select("band", "bsig")
    )
    newb = banded_new.join(keep, ["band", "bsig"], "left_semi").alias("x")
    allb = all_banded.join(keep, ["band", "bsig"], "left_semi").alias("y")
    pairs = (
        newb.join(
            allb,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bsig") == F.col("y.bsig"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return ngram_jaccard_pairs(corpus, pairs, text_col, shingle_n, jaccard_threshold)


# ---------------------------------------------------------------------------
# SimHash — JVM-side word hashing + a numpy bit-vote mapInArrow kernel.
# No per-row Python anywhere: the word hashes are native expressions
# (whole-stage codegen) and the majority vote runs as 60 vectorized numpy
# passes over the flattened Arrow ListArray buffers.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 → 60 bits, same both engines


def word_hash_array(text_col, method: str = "md5") -> F.Column:
    """array<long> of 60-bit word hashes of the normalized text.

    ``method='md5'``: first 15 hex chars of md5 — bit-for-bit
    reproducible in the DuckDB oracle. ``method='xxhash64'``: masked
    xxhash64, ~5x cheaper, the production default at scale.
    """
    words = normalized_words(text_col)
    if method == "md5":
        h = lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")  # noqa: E731
    elif method == "xxhash64":
        mask = (1 << SIMHASH_BITS) - 1
        h = lambda w: F.xxhash64(w).bitwiseAND(F.lit(mask))  # noqa: E731
    else:
        raise ValueError(f"unknown word-hash method {method!r}")
    return F.transform(words, h)


def simhash_vote_kernel(bits: int = SIMHASH_BITS):
    """mapInArrow kernel: (doc_id, hashes array<long>) → (doc_id,
    simhash long). The per-bit majority vote is a running-sum segment
    reduction per bit — 60 vectorized passes over the flat values
    buffer, never a Python loop over rows. Closure for by-value
    pickling."""

    def kernel(batch_iter):
        import pyarrow as pa

        for batch in batch_iter:
            if batch.num_rows == 0:
                continue
            hashes = batch.column(batch.schema.get_field_index("hashes"))
            if isinstance(hashes, pa.ChunkedArray):
                hashes = hashes.combine_chunks()
            flat = hashes.flatten().to_numpy(zero_copy_only=False).astype(np.uint64)
            offsets = hashes.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            lengths = np.diff(offsets)
            ends = np.cumsum(lengths)
            starts = ends - lengths
            sig = np.zeros(batch.num_rows, dtype=np.uint64)
            for b in range(bits):
                contrib = (((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64) * 2) - 1
                csum = np.concatenate([[0], np.cumsum(contrib)])
                votes = csum[ends] - csum[starts]
                sig |= (votes > 0).astype(np.uint64) << np.uint64(b)
            yield pa.record_batch(
                {
                    "doc_id": batch.column(batch.schema.get_field_index("doc_id")),
                    "simhash": pa.array(sig.astype(np.int64), type=pa.int64()),
                }
            )

    return kernel


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", method: str = "md5"
) -> DataFrame:
    """(doc_id, simhash): 60-bit simhash per doc; 0 for wordless docs.
    doc_id type is preserved from the input."""
    doc_id_type = df.schema["doc_id"].dataType.simpleString()
    df = fan_out_narrow_scans(df)
    hashed = df.select("doc_id", word_hash_array(F.col(text_col), method).alias("hashes"))
    sigs = hashed.mapInArrow(
        simhash_vote_kernel(),
        schema=f"doc_id {doc_id_type}, simhash long",
    )
    return sigs


def simhash_candidate_pairs(fp: DataFrame, band_bits: int = 15) -> DataFrame:
    """Near-dup candidates sharing any of the 60/band_bits simhash bands
    (docs within Hamming distance < 60/band_bits must share a band)."""
    n_bands = SIMHASH_BITS // band_bits
    mask = (1 << band_bits) - 1
    banded = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bsig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.bsig")
    keep = (
        banded.groupBy("band", "bsig")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= 64))
        .select("band", "bsig")
    )
    buckets = (
        banded.join(keep, ["band", "bsig"], "left_semi")
        .groupBy("band", "bsig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    return (
        buckets.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("ids"),
                            lambda a: F.transform(
                                F.col("ids"), lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b"))
                            ),
                        )
                    ),
                    lambda p: p["doc_a"] < p["doc_b"],
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )

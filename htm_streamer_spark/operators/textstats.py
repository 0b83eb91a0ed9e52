"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

All native expressions (codegen, zero Python in the hot path), designed
so the same logic is expressible in ANSI SQL for the DuckDB oracle.
Reference analog: the per-feature scalar transforms of the encoder layer
(/root/reference/htm_streamer/data/feature.py:24-41) — here the "encoders"
are text features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from htm_streamer_spark.operators.dedup import keep_chars

# tiny per-language stopword marker sets (n-gram heuristic langid):
# chosen to be SQL-portable (plain LIKE/regexp counts)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " in "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
    "fr": [" le ", " la ", " et ", " les ", " des "],
    "es": [" el ", " de ", " que ", " los ", " en "],
}


def _count_marker(text, marker: str):
    # occurrences of marker in text: (len(t) - len(replace(t, m, ''))) / len(m)
    t = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return (F.length(t) - F.length(F.replace(t, F.lit(marker), F.lit("")))) / F.lit(
        len(marker)
    )


def lang_id(
    df: DataFrame, text_col: str = "text", keep_cols: tuple = ()
) -> DataFrame:
    """Predict language by marker-word frequency; (doc_id, lang_pred,
    lang_score, *keep_cols). Ties break by language name order
    (deterministic). ``keep_cols`` ride along so downstream joins
    against the source (e.g. kappa vs a truth column) don't need a
    second scan."""
    scores = [
        F.struct(
            sum(_count_marker(F.col(text_col), m) for m in markers).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.greatest(*scores)  # struct comparison: score first, then lang
    return df.select(
        "doc_id",
        best["lang"].alias("lang_pred"),
        best["score"].cast("double").alias("lang_score"),
        *keep_cols,
    )


def token_count_col(text_col: str = "text"):
    """Whitespace token count as a bare column expression (0 for a
    blank/whitespace-only text) — matches ranking.tokenize semantics."""
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), r"\s+"))
    return F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(ws)


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_ish): whitespace token count plus a
    BPE-ish count (words + digits + punctuation as separate tokens —
    the standard ~"words and symbols" regex)."""
    t = F.col(text_col)
    bpe = F.size(
        F.regexp_extract_all(t, F.lit(r"([A-Za-z]+|[0-9]|[^A-Za-z0-9\s])"), F.lit(1))
    )
    return df.select(
        "doc_id",
        token_count_col(text_col).alias("n_ws_tokens"),
        bpe.alias("n_bpe_ish"),
    )


def punctuation_count(t) -> F.Column:
    """Number of ``.,;:!?`` characters: the length the text loses when
    they are dropped."""
    return F.length(t) - F.length(keep_chars(t, "^.,;:!?"))


def quality_score(
    df: DataFrame, text_col: str = "text", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, n_chars, punct_ratio, stopword_ratio, mean_word_len,
    quality): length/punctuation/stopword heuristics combined into a
    [0,1] score — the classic pre-training quality filter shape.
    ``keep_cols`` carries extra input columns through (so callers that
    need e.g. the source alongside the score stay single-scan)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_punct = punctuation_count(t)
    words = F.split(F.trim(F.lower(t)), r"\s+")
    n_words = F.size(words)
    stop = sum(
        (F.length(F.concat(F.lit(" "), F.lower(t), F.lit(" ")))
         - F.length(F.replace(F.concat(F.lit(" "), F.lower(t), F.lit(" ")), F.lit(m), F.lit(""))))
        / F.lit(len(m))
        for m in LANG_MARKERS["en"]
    )
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stopword_ratio = F.when(n_words > 0, stop / n_words).otherwise(F.lit(0.0))
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(words, F.lit(0.0), lambda acc, w: acc + F.length(w)) / n_words,
    ).otherwise(F.lit(0.0))
    # bounded score: long enough, some stopwords, sane punctuation,
    # word lengths in natural-language range
    quality = (
        F.least(n_chars / F.lit(500.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(stopword_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
        + F.when((punct_ratio > 0.001) & (punct_ratio < 0.2), F.lit(0.15)).otherwise(F.lit(0.0))
        + F.when((mean_word_len > 2.5) & (mean_word_len < 12.0), F.lit(0.15)).otherwise(
            F.lit(0.0)
        )
    )
    return df.select(
        "doc_id",
        *keep_cols,
        n_chars.alias("n_chars_computed"),
        punct_ratio.cast("double").alias("punct_ratio"),
        stopword_ratio.cast("double").alias("stopword_ratio"),
        mean_word_len.cast("double").alias("mean_word_len"),
        quality.cast("double").alias("quality"),
    )


def readability(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Flesch reading-ease score from three codegen'd
    regexp counts — the READABILITY member of the quality family:
    ``quality_score`` flags structural noise (symbol soup, repetition),
    Flesch flags linguistic complexity drift (a source whose mean ease
    collapses switched from prose to legalese/codedumps; one whose
    ease pins near 100 degenerated into word salad of short tokens).

    ``flesch = 206.835 - 1.015 * words/sentences
       - 84.6 * syllables/words`` (Flesch 1948) with the standard
    machine approximations: sentences = runs of ``[.!?]`` (min 1),
    syllables = vowel-group runs ``[aeiouy]+`` per lowercased word
    (min 1 per word — every word has a syllable). The score is NOT
    clamped to 0..100 (degenerate text legitimately exceeds the range;
    clamping would hide exactly the drift this measures).

    Plan: three ``regexp_count`` expressions inside the scan's codegen
    stage — the text column never leaves the scan, no explode, no
    shuffle at all (one row out per row in). Token-less documents
    report NULL score. Returns
    (id_col, n_words, n_sentences, n_syllables, flesch), 6 dp.
    """
    t = F.lower(F.col(text_col))
    words = F.regexp_count(t, F.lit(r"[a-z0-9]+"))
    sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    vgroups = F.regexp_count(t, F.lit(r"[aeiouy]+"))
    # every word has >= 1 syllable: consonant-only words (e.g. "mr",
    # "7") have zero vowel groups, so lift the total by their count
    novowel = F.regexp_count(t, F.lit(r"\b[b-df-hj-np-tv-xz0-9]+\b"))
    sylls = vgroups + novowel
    out = df.select(
        id_col,
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        sylls.cast("long").alias("n_syllables"),
    )
    return out.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.lit(206.835)
                - F.lit(1.015)
                * (F.col("n_words") / F.col("n_sentences"))
                - F.lit(84.6)
                * (F.col("n_syllables") / F.col("n_words"))
                + F.lit(1e-9),
                6,
            ),
        ).alias("flesch"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp): deterministic document fingerprint = md5 of the
    lowercased text with everything but ``[a-z0-9]`` dropped (rolling-hash
    analog, portable to the oracle)."""
    norm = keep_chars(F.lower(F.col(text_col)), "a-z0-9")
    return df.select("doc_id", F.md5(norm).alias("fp"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    gram_n: int = 3,
    window: int = 8,
) -> DataFrame:
    """MOSS-style winnowing fingerprints: (doc_id, fp) — the classic
    rolling-hash document-fingerprint scheme (Schleimer/Wilkerson/Aiken,
    SIGMOD'03). Word ``gram_n``-grams are hashed (md5-based 31-bit, the
    same DuckDB-reproducible base hash the minhash tier uses); each
    sliding window of ``window`` consecutive gram hashes selects its
    minimum; the distinct selected minima are the document's
    fingerprints. Two documents sharing any sufficiently long substring
    share fingerprints regardless of position.

    All native expressions. The sliding minimum uses the DOUBLING trick
    — ceil(log2(window)) zip_with passes over shifted copies instead of
    a slice+array_min per window position: the naive per-window slice
    allocates a fresh array inside Spark's interpreted higher-order-
    function evaluator and measured 300x slower than this form at sf0.1.

    Each doubling pass is a SEPARATE projection referencing the
    previous pass as a materialized column, never a nested expression:
    ``zip_with(mins, slice(mins))`` written as one tree duplicates the
    whole upstream subtree (md5 transform included) on both sides, so
    after k passes the gram hashing sat 2^k times in the plan and was
    re-evaluated per row each time — measured 8x slower than this form
    on a 100k-doc corpus (247s -> 31s at 4 cores). CollapseProject
    keeps the projections separate because the aliased array is
    expensive and referenced twice.
    """
    from htm_streamer_spark.operators.dedup import (
        _gram_array,
        fan_out_narrow_scans,
        normalized_text,
        shingle_base_hash,
    )

    df = fan_out_narrow_scans(df)
    # materialize the word array FIRST: _gram_array references its
    # input 4x (two zip_with sides, a slice, a size), so an inline
    # split would tokenize every row 4 times
    words = F.split(normalized_text(F.col(text_col)), r"\s+")
    cur = df.select("doc_id", words.alias("_ws"))
    grams = _gram_array(F.col("_ws"), gram_n)
    hs = F.transform(grams, lambda g: shingle_base_hash(g, "md5"))

    # sliding min via doubling: after passes with shifts 1,2,4,...,
    # entry i holds min(hs[i .. i+window-1]) for every full window.
    # zip_with pads the shorter (shifted) side with null; F.least skips
    # nulls, and only full-window entries are kept below anyway.
    big = 1 << 30
    cur = cur.select("doc_id", hs.alias("_mins"))
    cur = cur.select("doc_id", "_mins", F.size("_mins").alias("_nh"))
    span = 1  # _mins[i] currently covers hs[i .. i+span-1]
    while span < window:
        step = min(span, window - span)
        cur = cur.select(
            "doc_id",
            "_nh",
            F.zip_with(
                F.col("_mins"),
                F.slice("_mins", step + 1, big),
                lambda a, b: F.least(a, b),
            ).alias("_mins"),
        )
        span += step
    n_windows = F.greatest(F.col("_nh") - F.lit(window - 1), F.lit(0))
    # short doc: one fp = min over ALL gram hashes, which after full
    # doubling is exactly _mins[0] (F.get is null-safe on empty arrays)
    fps = F.when(
        F.col("_nh") < window, F.array(F.get("_mins", 0))
    ).otherwise(F.slice("_mins", 1, n_windows))
    # explode_OUTER, not explode: InferFiltersFromGenerate synthesizes
    # ``size(_fps) > 0`` under a plain explode, and predicate pushdown
    # then sinks it through every projection to the scan — substituting
    # aliases as it goes, i.e. re-inlining the ENTIRE fingerprint
    # expression as a per-row filter (the duplication the stepwise
    # projections above exist to avoid). explode_outer admits no such
    # inference; empty arrays emit one null row and die in the
    # isNotNull filter, which cannot push below a Generate.
    return (
        cur.select("doc_id", F.array_distinct(fps).alias("_fps"))
        .select("doc_id", F.explode_outer("_fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    ``pmi(a,b) = ln( (c_ab/N2) / ((c_a/N1)(c_b/N1)) )`` over corpus
    bigram/unigram counts, bigrams below ``min_count`` dropped (PMI's
    classic low-frequency blowup guard — Church & Hanks 1990). The
    phrase-mining signal a token-frequency profile can't see: "los
    angeles" vs two common words that co-occur by chance.

    Plan: ONE tokenizing scan emits unigrams and bigrams together (a
    tagged concat of the two transform arrays, one explode), one count
    aggregation, totals as a 2-row broadcast derived from the counts
    exchange (a per-kind window would serialize the vocab-sized frame
    onto 2 tasks; never a second fact scan), two vocab-sized equi-joins
    to attach c_a/c_b, and a global top-k (TakeOrderedAndProject). No
    cross-row float accumulation besides the exact integer totals, so
    any engine reproduces the scores bit-for-bit.
    """
    from htm_streamer_spark.operators.dedup import _gram_array, normalized_words

    # word array materialized in its own projection: the tagged concat
    # references it ~6x (transform + the 4 refs inside _gram_array) and
    # would re-tokenize per reference inlined; explode_OUTER so
    # InferFiltersFromGenerate can't synthesize a size>0 predicate that
    # pushdown re-inlines into the scan (see dedup.shingles)
    base = df.select(normalized_words(F.col(text_col)).alias("_ws"))
    ws = F.col("_ws")
    tagged = F.explode_outer(
        F.concat(
            F.transform(
                ws, lambda w: F.struct(F.lit(1).alias("k"), w.alias("t"))
            ),
            F.transform(
                _gram_array(ws, 2),
                lambda g: F.struct(F.lit(2).alias("k"), g.alias("t")),
            ),
        )
    )
    # vocab+bigram-vocab sized, narrow; persisted because totals/uni/bi
    # all derive from it — unpersisted, each branch re-runs the whole
    # tokenize+explode over the corpus text (measured: 6 scans -> 1)
    counts = (
        base.select(tagged.alias("x"))
        .filter(F.col("x").isNotNull())
        .select(F.col("x.k").alias("k"), F.col("x.t").alias("t"))
        .groupBy("k", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    totals = counts.groupBy("k").agg(F.sum("c").alias("tot"))
    counts = counts.join(F.broadcast(totals), "k")
    uni = counts.filter(F.col("k") == 1).select(
        F.col("t").alias("w"), F.col("c").alias("cw"), F.col("tot").alias("n1")
    )
    bi = (
        counts.filter(F.col("k") == 2)
        .select(
            F.substring_index("t", " ", 1).alias("w1"),
            F.substring_index("t", " ", -1).alias("w2"),
            F.col("c").alias("c_ab"),
            F.col("tot").alias("n2"),
        )
        .filter(F.col("c_ab") >= min_count)
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("cw").alias("ca"), "n1")
    ub = uni.select(F.col("w").alias("w2"), F.col("cw").alias("cb"))
    pmi = F.log(
        (F.col("c_ab") / F.col("n2"))
        / ((F.col("ca") / F.col("n1")) * (F.col("cb") / F.col("n1")))
    )
    return (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .select("w1", "w2", F.col("c_ab").cast("long").alias("c_ab"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top_k)
    )


def token_budget(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Per-group token-budget accounting with Pareto cumulative share —
    the corpus-composition planner's view: which sources carry the
    token mass, and how few of them cover ``threshold`` (default 80%)
    of the training budget. The concentration twin of
    ``gini_concentration`` (stattests.py): Gini scores HOW skewed the
    mass is, this names WHO holds it.

    ``in_top`` marks the minimal prefix of sources (ordered by token
    count desc, group asc tiebreak) whose cumulative share reaches the
    threshold: a source is in the prefix iff the share accumulated
    BEFORE it is still < threshold, so the set always crosses the line
    and is deterministic under ties.

    Plan: token counting is ``size(split(...))`` inside the scan's
    codegen stage (no explode, no shuffle of tokens); one
    ``groupBy(group)`` aggregation; share/cumsum windows run on the
    |groups|-row frame. Returns
    (group, n_docs, n_tokens, share, cum_share, in_top).
    """
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count_col(text_col)).cast("long").alias("n_tokens"),
    )
    tot = Window.partitionBy()
    w = Window.orderBy(
        F.col("n_tokens").desc(), F.col(group_col).asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    share = F.col("n_tokens") / F.sum("n_tokens").over(tot)
    cum = F.sum("n_tokens").over(w) / F.sum("n_tokens").over(tot)
    # boundary test computed as (cum_tokens - n_tokens) / total in ONE
    # division so the flag is bit-identical on any engine
    before = (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.sum(
        "n_tokens"
    ).over(tot)
    return per.select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round(share + F.lit(1e-9), 6).alias("share"),
        F.round(cum + F.lit(1e-9), 6).alias("cum_share"),
        (before < threshold).alias("in_top"),
    )

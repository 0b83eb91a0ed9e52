"""Exact set-similarity self-join via prefix filtering (AllPairs).

The LSH tiers in ``operators/dedup.py`` trade recall for candidate
pruning (a true near-dup pair can miss every band). This operator is
the EXACT counterpart over the SAME shingle space: every document pair
whose token-set Jaccard is >= the threshold, guaranteed — the candidate
pruning is lossless. Public recipe: Bayardo, Ma & Srikant, WWW 2007
("Scaling Up All Pairs Similarity Search") and Chaudhuri, Ganti &
Kaushik, ICDE 2006 (the SSJoin prefix filter); Vernica, Carey & Li,
SIGMOD 2010 ran the same plan on MapReduce.

Plan shape (all built-in expressions, zero Python):

1. tokenize once: per-doc DISTINCT token set — 3-gram shingles by
   default (the MinHash tier's space, so ``jaccard >= t`` here is the
   ground truth its LSH recall is measured against) or plain words;
2. global document frequency per token (one aggregation — vocabulary-
   sized output, co-partitioned with the next join on ``w``);
3. order each doc's tokens rarest-first ((df, w) — a deterministic
   total order shared by all docs) and keep only the PREFIX of length
   ``|s| - ceil(t*|s|) + 1``: two docs with Jaccard >= t overlap in at
   least ``ceil(t*|s|)`` tokens, so under any shared total order they
   MUST share a prefix token — an equi-join on prefix tokens is a
   complete candidate generator;
4. equi-join prefixes on the token, with the length filter
   ``t*|a| <= |b| and t*|b| <= |a|`` applied join-side;
5. exact confirm: ``array_intersect`` on the sorted token sets.

100-TB notes: the document-frequency frame is |vocab| rows (shuffle
join on ``w``, never collected); per-token join fan-out is quadratic in
the token's PREFIX occurrence count, and rarest-first ordering pushes
frequent tokens out of prefixes — the classic AllPairs bound (shingles
are near-unique, so prefix buckets are tiny). The worst case (a corpus
of near-identical docs) degrades toward the true pair count, i.e. the
join is output-sensitive, not input-quadratic. No sampling, no sketch,
no recall loss anywhere.

Reference parity: the reference engine has no near-dup machinery at
all (single-node HTM); this is one of the LLM-training-pipeline
additions mandated alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _gram_array, fan_out_narrow_scans, normalized_text

__all__ = ["jaccard_similarity_join"]


def jaccard_similarity_join(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "shingles",
    n: int = 3,
    broadcast_attach: bool = True,
) -> DataFrame:
    """All pairs (doc_a < doc_b) with token-set Jaccard >= ``threshold``,
    exact. Returns (doc_a, doc_b, jaccard) with full-precision jaccard;
    round at the presentation layer.

    ``broadcast_attach`` broadcasts the per-doc set frames and the
    survivor ids into the verification joins (right whenever the
    per-doc sketch rows fit an executor — up to ~10^7 docs); at corpus
    scales beyond that pass False and every verify join becomes an
    ordinary shuffle join."""
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if mode not in ("shingles", "words"):
        raise ValueError(f"mode must be 'shingles' or 'words', got {mode!r}")

    # The whole candidate machinery runs in the 64-bit HASH universe:
    # tokens are xxhash64'd immediately after the tokenize-explode and
    # everything until the final string confirm is narrow long rows —
    # no corpus-wide string arrays (the interpreted array_distinct/
    # array_sort set build alone measured 6.4s at sf1-scale), narrower
    # shuffles (guide §2.3), long-compare joins. Correctness: hashing
    # can only MERGE distinct tokens, and a merge lowers a pair's
    # jaccard only when both merged tokens are shared by the pair (the
    # intersection and the union each lose one). So hash-universe
    # jaccard >= string jaccard except on a 64-bit collision between
    # two shared tokens (~n^2/2^64 odds, accepted): every
    # string-qualifying pair qualifies here too (superset generator),
    # and the string confirm at the end is exact.
    base = fan_out_narrow_scans(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        F.split(normalized_text(F.col(text_col)), r"\s+").alias("_ws0"),
    )
    toks = _gram_array(F.col("_ws0"), n) if mode == "shingles" else F.col("_ws0")
    tokh = (
        base.select("_id", F.explode_outer(toks).alias("_w"))
        .where(F.length("_w") > 0)
        .select("_id", F.xxhash64("_w").alias("h"))
        .groupBy("_id", "h")
        .agg(F.lit(1).alias("_o"))
        .drop("_o")
        # consumed by dfreq, the ranked frame and the verify sketches —
        # 16-byte rows, corpus-token sized
        .persist()
    )
    dfreq = tokh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # rarest-first rank inside each doc; (df, h) is a total order shared
    # by every doc, the prerequisite for prefix-filter completeness.
    # Positions are computed over the FULL set (filtered to prefix
    # lengths per candidate path below); the set size rides the same
    # by-_id exchange as the rank window.
    pos = F.row_number().over(Window.partitionBy("_id").orderBy("df", "h"))
    ranked = (
        tokh.join(dfreq, "h")
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("_id")))
        .withColumn("pos", pos)
        .select("_id", "sz", "h", "pos")
    )
    # jaccard >= t needs overlap >= alpha(a,b) = ceil(t/(1+t)·(|a|+|b|))
    # (the 1e-9 slack keeps float ceil from over-rounding an exact
    # integer bound — superset-safe); length filter: t*max <= min
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("a.sz") + F.col("b.sz")) - F.lit(1e-9)
    )
    len_ok = (F.lit(t) * F.col("a.sz") <= F.col("b.sz")) & (
        F.lit(t) * F.col("b.sz") <= F.col("a.sz")
    )
    use_pair_prefix = t >= 0.4
    if use_pair_prefix:
        # --- 2-token prefix candidate generation (AdaptJoin shape;
        # Wang, Li & Feng, VLDB 2012) ---
        # Under the shared (df, w) total order, the j-th smallest COMMON
        # token of a qualifying pair sits within position |s|-alpha+j on
        # BOTH sides (after it there must be >= alpha-j more common
        # tokens). With alpha >= 2 the two smallest common tokens
        # therefore both lie in each side's (|s| - ceil(t·|s|) + 2)-
        # prefix (alpha >= ceil(t·|s|) via the length filter), so an
        # equi-join on token PAIRS from that prefix is a complete
        # candidate generator — and pair keys are near-unique even on a
        # low-entropy corpus where every single token is frequent (the
        # regime that made the 1-token join over-generate 43M candidates
        # for 3k true pairs at sf1-scale). Joining on xxhash64(w1,w2)
        # instead of the strings shuffles 8-byte keys; hash collisions
        # only ADD candidates (verify below is exact).
        two_len = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + F.lit(2)
        # materialized once: the combo self-join consumes p2 on both
        # sides — without the cut each side re-runs the dfreq join +
        # rank window (narrow prefix-token rows, ~|prefixes| per corpus)
        p2 = ranked.filter(F.col("pos") <= two_len).localCheckpoint(eager=True)
        c1, c2 = p2.alias("c1"), p2.alias("c2")
        combos = c1.join(
            c2,
            (F.col("c1._id") == F.col("c2._id"))
            & (F.col("c1.pos") < F.col("c2.pos")),
        ).select(
            F.col("c1._id").alias("_id"),
            F.col("c1.sz").alias("sz"),
            F.col("c2.pos").alias("pos2"),
            F.xxhash64("c1.h", "c2.h").alias("pk"),
        )
        # positional filter on the canonical (two-smallest-common) row:
        # exactly one common token precedes pos2 on each side, so
        # overlap <= 2 + min(|a|-pos2_a, |b|-pos2_b); rows failing it
        # cannot be canonical, and every qualifying pair keeps its
        # canonical row — complete.
        ubound2 = F.lit(2) + F.least(
            F.col("a.sz") - F.col("a.pos2"), F.col("b.sz") - F.col("b.pos2")
        )
        # SHUFFLE_HASH: the pair-key self-join's per-partition build
        # side is combos/shuffle_partitions rows — a hash build beats
        # sorting both 20M-row sides (guide §3.1)
        a, b = combos.alias("a"), combos.hint("shuffle_hash").alias("b")
        cand = a.join(
            b,
            (F.col("a.pk") == F.col("b.pk"))
            & (F.col("a._id") < F.col("b._id"))
            & len_ok
            & (ubound2 >= alpha),
        ).select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        # pairs that can qualify on a SINGLE shared token have
        # alpha = 1, i.e. |a|+|b| <= (1+t)/t — route those tiny sets
        # through the 1-token join (both sides are small by the bound)
        m0 = int((1.0 + t) / t)  # max |a|+|b| with alpha == 1
        one_len = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + F.lit(1)
        small = ranked.filter(
            (F.col("sz") <= F.lit(m0 - 1)) & (F.col("pos") <= one_len)
        )
        sa, sb = small.alias("a"), small.alias("b")
        cand_small = sa.join(
            sb,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a._id") < F.col("b._id"))
            & len_ok
            & (F.col("a.sz") + F.col("b.sz") <= F.lit(m0)),
        ).select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        cand = cand.unionByName(cand_small)
    else:
        # --- classic 1-token prefix join (AllPairs / PPJoin) for low
        # thresholds, where the 2-token prefix blowup (~C(prefix,2)
        # rows/doc) outweighs its pruning ---
        one_len = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + F.lit(1)
        prefix = ranked.filter(F.col("pos") <= one_len)
        # PPJoin positional filter (Xiao et al., WWW 2008): for the
        # FIRST common token, overlap <= 1 + min(|a|-pos_a, |b|-pos_b)
        ubound = F.lit(1) + F.least(
            F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
        )
        a, b = prefix.alias("a"), prefix.alias("b")
        cand = a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a._id") < F.col("b._id"))
            & len_ok
            & (ubound >= alpha),
        ).select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
    # Two-stage verify (now candidate-frugal by construction — the
    # 2-token prefix join generates output-scale candidates instead of
    # the 1-token join's 43M at sf1-scale):
    # 1. UPPER-BOUND prefilter on 64-bit token hashes: every shared
    #    string token is a shared hash, so |hs_a ∩ hs_b| >= |ws_a ∩
    #    ws_b| and the hash-jaccard (with the exact string set sizes in
    #    the denominator) can only overestimate — the filter keeps a
    #    strict superset of the true survivors, at long-compare rather
    #    than string-compare intersection cost per candidate.
    # 2. EXACT confirm: the surviving pairs recompute jaccard on the
    #    string arrays — reported values never touch a hash, so
    #    collisions cost a re-check and can never change the answer.
    # The per-doc hash frames and the survivor ids ride broadcast joins
    # (parameterised: broadcast_attach=False shuffle-joins every one of
    # them at corpus scales beyond executor memory) so the candidate
    # stream is never exchanged by doc id.
    _maybe_bc = F.broadcast if broadcast_attach else (lambda df: df)
    # persisted: both attach sides broadcast this frame — one
    # collect_list aggregation, not two
    hsets = tokh.groupBy("_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.count(F.lit(1)).alias("sz"),
    ).persist()
    ha = hsets.select(
        F.col("_id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("sz").alias("sz_a")
    )
    hb = hsets.select(
        F.col("_id").alias("doc_b"), F.col("hs").alias("hs_b"), F.col("sz").alias("sz_b")
    )
    hinter = F.size(F.array_intersect("hs_a", "hs_b"))
    hjac = hinter / (F.col("sz_a") + F.col("sz_b") - hinter)
    surv = (
        cand.distinct()
        .join(_maybe_bc(ha), "doc_a")
        .join(_maybe_bc(hb), "doc_b")
        .filter(hjac >= t)
        .select("doc_a", "doc_b")
    )
    # the exact confirm only ever touches survivor docs (output-sized):
    # string token sets are built ONLY for them — the corpus at large
    # never materializes a string array (the semi-join prunes before the
    # tokenize projection)
    surv = surv.localCheckpoint(eager=True)
    surv_ids = (
        surv.select(F.col("doc_a").alias("_id"))
        .unionByName(surv.select(F.col("doc_b").alias("_id")))
        .distinct()
    )
    sbase = (
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
        .join(_maybe_bc(surv_ids), "_id", "left_semi")
        .select(
            "_id",
            F.split(normalized_text(F.col("_txt")), r"\s+").alias("_ws0"),
        )
    )
    stoks = _gram_array(F.col("_ws0"), n) if mode == "shingles" else F.col("_ws0")
    # persisted: (a) the survivor-sized frame feeds BOTH attach sides —
    # one tokenize, not two; (b) the cache boundary is the pushdown
    # barrier that stops the final jaccard filter's inferred
    # isnotnull(size(ws)) from being pushed BELOW the semi-join and
    # re-inlining the interpreted gram chain as a full-corpus scan
    # filter (observed: 2 extra corpus-wide tokenize passes, ~2/5 of
    # the query)
    ssets = (
        sbase.select(
            "_id",
            F.array_sort(
                F.array_distinct(F.filter(stoks, lambda x: F.length(x) > 0))
            ).alias("ws"),
        )
        .withColumn("sz", F.size("ws"))
        .persist()
    )
    wa = ssets.select(
        F.col("_id").alias("doc_a"), F.col("ws").alias("ws_a"), F.col("sz").alias("sz_a")
    )
    wb = ssets.select(
        F.col("_id").alias("doc_b"), F.col("ws").alias("ws_b"), F.col("sz").alias("sz_b")
    )
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        surv.join(_maybe_bc(wa), "doc_a")
        .join(_maybe_bc(wb), "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= t)
        .select("doc_a", "doc_b", "jaccard")
    )

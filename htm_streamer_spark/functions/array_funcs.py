"""Token-array helpers.

Two forms of one set of rules, per SURVEY.md §2.10:

1. **Native expressions** (JVM-side, whole-stage codegen):
   ``token_oob_expr``, ``token_bucket_expr`` and ``ntok_bucket_expr``
   state the range check and both histogram bucket rules. They are the
   reference the kernel is tested against.
2. **One vectorized Arrow kernel**, ``featurize_hist_kernel``: a
   ``mapInArrow`` pass that applies the same row checks and bucket
   rules with numpy over the zero-copy Arrow buffers, never per-row
   Python. It is the only code that decodes token bytes, both for the
   flagship run and for the baseline fit.

Reference analogs: encoding width by construction
(/root/reference/htm_streamer/model/htm_model.py:34) for the length
invariant; the spatial range check (htm_model.py:305-312) for token
range.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# native expressions (the reference rules)
# ---------------------------------------------------------------------------


def token_oob_expr(tokens: Column, vocab_size: int) -> Column:
    """True if any token id is outside [0, vocab_size). Native ``F.exists``
    — short-circuits inside codegen, no Python."""
    return F.exists(tokens, lambda t: (t < F.lit(0)) | (t >= F.lit(vocab_size)))


def token_bucket_expr(token: Column, buckets: int, vocab_size: int) -> Column:
    """Bucket a token id into ``buckets`` equal-width vocab bins —
    matches the oracle's ``(token * buckets) // vocab`` clipped to range."""
    b = F.floor((token.cast("long") * F.lit(buckets)) / F.lit(vocab_size))
    return F.greatest(F.lit(0), F.least(F.lit(buckets - 1), b)).cast("int")


def ntok_bucket_expr(n_tok: Column, buckets: int, ntok_max: int) -> Column:
    """Bucket n_tok into equal-width bins over [0, ntok_max] — matches the
    oracle's ``(clip(n) * buckets) // (ntok_max + 1)``."""
    n = F.greatest(F.lit(0), F.least(F.lit(ntok_max), n_tok.cast("long")))
    return F.floor((n * F.lit(buckets)) / F.lit(ntok_max + 1)).cast("int")


ROW_CHECKS_ALL = ("null_n_tok", "len_mismatch", "token_range", "empty_tokens", "bad_source")


def _n_bad_per_row(flat: np.ndarray, lengths: np.ndarray, vocab_size: int) -> np.ndarray:
    """Out-of-range token count per row. Skips the cumsum machinery on
    the (common) all-in-range batch — `.any()` is one cheap pass.

    For the int32 zero-copy buffer the two-sided test collapses to ONE
    unsigned compare (negatives reinterpret as >= 2^31 > vocab_size), a
    single pass instead of compare+compare+or over every token."""
    if flat.dtype == np.int32 and 0 < vocab_size <= 2**31 - 1:
        bad = flat.view(np.uint32) >= np.uint32(vocab_size)
    else:
        bad = (flat < 0) | (flat >= vocab_size)
    if not bad.any():
        return np.zeros(len(lengths), dtype=np.int64)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    csum = np.concatenate([[0], np.cumsum(bad)])
    return csum[ends] - csum[starts]


def _src_ok_mask(source_col, allowed: set) -> np.ndarray:
    """Vectorized membership via Arrow compute (C-side); nulls → False.
    Falls back to a Python set loop on any type mismatch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    try:
        ok = pc.is_in(source_col, value_set=pa.array(sorted(allowed), type=source_col.type))
        return pc.fill_null(ok, False).to_numpy(zero_copy_only=False)
    except Exception:
        src = np.asarray(source_col.to_pylist(), dtype=object)
        return np.array([s in allowed for s in src])


def _clean_token_hist(
    flat: np.ndarray,
    lengths: np.ndarray,
    part: np.ndarray,
    clean: np.ndarray,
    buckets: int,
    vocab_size: int,
    range_checked: bool,
):
    """(part_id int32, bucket int32, cnt int64) arrays of the clean-row
    token-bucket histogram, or None when empty.

    Hot path kept narrow: token values stay in their zero-copy int32
    buffer; when the clean mask already enforced the range check the
    bucket math runs in int32 with no clip (np.clip alone was ~30% of
    the kernel); the row→token expansion repeats only the clean subset.
    """
    if not clean.any():
        return None
    if clean.all():
        flat_k = flat
        pid_k = np.repeat(part, lengths)
    else:
        keep = np.repeat(clean, lengths)
        flat_k = flat[keep]
        pid_k = np.repeat(part[clean], lengths[clean])
    if flat_k.size == 0:
        return None
    if range_checked and vocab_size * buckets < 2**31 and flat_k.dtype == np.int32:
        # values verified in [0, vocab): product fits int32, no clip
        b = (flat_k * np.int32(buckets)) // np.int32(vocab_size)
    else:
        b = (flat_k.astype(np.int64) * buckets) // vocab_size
        np.minimum(b, buckets - 1, out=b)
        np.maximum(b, 0, out=b)
    return _hist_rows(pid_k.astype(np.int64) * buckets + b, buckets)


def _clean_ntok_hist(
    n_tok: np.ndarray,  # float64, NaN where null
    part: np.ndarray,
    clean: np.ndarray,
    buckets: int,
    ntok_max: int,
):
    """(part_id, bucket, cnt) arrays of the clean-row n_tok histogram, or
    None when empty. Null n_tok rows are excluded; the clip and bucket
    rule is ``ntok_bucket_expr``'s."""
    keep = clean & ~np.isnan(n_tok)
    if not keep.any():
        return None
    n = np.clip(n_tok[keep], 0, ntok_max).astype(np.int64)
    b = (n * buckets) // (ntok_max + 1)
    return _hist_rows(part[keep].astype(np.int64) * buckets + b, buckets)


def _hist_rows(key: np.ndarray, buckets: int):
    """Count ``part_id * buckets + bucket`` keys into (part_id int32,
    bucket int32, cnt int64) arrays of the non-zero cells."""
    cnt = np.bincount(key)
    nz = np.flatnonzero(cnt)
    return (
        (nz // buckets).astype(np.int32),
        (nz % buckets).astype(np.int32),
        cnt[nz].astype(np.int64),
    )


def _clean_mask(
    checks: tuple[str, ...],
    n_tok: np.ndarray,       # float64, NaN where null
    lengths: np.ndarray,     # int64, 0 for null lists
    tok_valid: np.ndarray,   # bool, False where tokens column is null
    n_bad: np.ndarray,       # int64 out-of-range count per row
    src_ok: np.ndarray,      # bool
) -> np.ndarray:
    """Row-is-clean mask from the ENABLED checks only, with exactly the
    native three-valued-logic outcome of ``filter(~any_violation)``: a
    row is clean iff every enabled flag evaluates to exactly False
    (null flags exclude the row, as in Spark)."""
    clean = np.ones(len(lengths), dtype=bool)
    nn = ~np.isnan(n_tok)
    if "null_n_tok" in checks:
        clean &= nn
    if "len_mismatch" in checks:
        # flag False iff n_tok null OR (tok_len non-null AND equal)
        clean &= ~nn | (tok_valid & (n_tok == lengths))
    if "token_range" in checks:
        clean &= n_bad == 0
    if "empty_tokens" in checks:
        # flag = coalesce(tok_len == 0, True): null tok_len is a violation
        clean &= tok_valid & (lengths > 0)
    if "bad_source" in checks:
        clean &= src_ok
    return clean


def featurize_hist_kernel(
    buckets: int,
    vocab_size: int,
    ntok_buckets: int,
    ntok_max: int,
    allowed_sources: tuple[str, ...],
    checks: tuple[str, ...] = ROW_CHECKS_ALL,
):
    """``mapInArrow`` kernel that produces BOTH outputs of the
    validation suite's token pass in one decode:

    - ``kind=0`` rows: the narrow per-row feature frame
      (doc_id, part_id, n_tok, source, ts, tok_len, tok_oob);
    - ``kind=1`` rows: the per-partition clean-row histograms
      (part_id, family, bucket, cnt) of both drift families —
      ``family=0`` the token-bucket histogram, ``family=1`` the n_tok
      histogram (``ntok_bucket_expr``'s clip and bucket rule, null
      n_tok excluded).

    One pass over the token bytes feeds every downstream check — the
    suite's total token decode count drops to ONE. All numpy over
    zero-copy Arrow buffers; closure-defined for by-value pickling.
    """

    def kernel(batch_iter):
        import pyarrow as pa

        allowed = set(allowed_sources)
        for batch in batch_iter:
            if batch.num_rows == 0:
                continue
            idx = batch.schema.get_field_index
            tokens = batch.column(idx("tokens"))
            if isinstance(tokens, pa.ChunkedArray):
                tokens = tokens.combine_chunks()
            flat = tokens.flatten().to_numpy(zero_copy_only=False)
            offsets = tokens.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            lengths = np.diff(offsets)
            tok_valid = tokens.is_valid().to_numpy(zero_copy_only=False)
            n_tok = batch.column(idx("n_tok")).to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            part = batch.column(idx("part_id")).to_numpy(zero_copy_only=False)

            n_bad = _n_bad_per_row(flat, lengths, vocab_size)
            src_ok = _src_ok_mask(batch.column(idx("source")), allowed)
            clean = _clean_mask(checks, n_tok, lengths, tok_valid, n_bad, src_ok)

            n = batch.num_rows
            row_batch = pa.record_batch(
                {
                    "kind": pa.array(np.zeros(n, dtype=np.int8), type=pa.int8()),
                    "doc_id": batch.column(idx("doc_id")),
                    "part_id": pa.array(part.astype(np.int32), type=pa.int32()),
                    "n_tok": batch.column(idx("n_tok")),
                    "source": batch.column(idx("source")),
                    "ts": batch.column(idx("ts")),
                    # null (not 0) where the tokens column is null, matching
                    # the native F.size(NULL) → NULL of featurize()
                    "tok_len": pa.array(lengths.astype(np.int32), mask=~tok_valid, type=pa.int32()),
                    "tok_oob": pa.array(n_bad > 0, type=pa.bool_()),
                    "family": pa.nulls(n, type=pa.int8()),
                    "bucket": pa.nulls(n, type=pa.int32()),
                    "cnt": pa.nulls(n, type=pa.int64()),
                }
            )
            yield row_batch

            tok_hist = _clean_token_hist(
                flat, lengths, part, clean, buckets, vocab_size,
                range_checked="token_range" in checks,
            )
            ntok_hist = _clean_ntok_hist(n_tok, part, clean, ntok_buckets, ntok_max)
            # (family, (part_id, bucket, cnt)) of the non-empty families
            hists = [(f, h) for f, h in enumerate((tok_hist, ntok_hist)) if h is not None]
            if hists:
                fam = np.concatenate([np.full(len(h[0]), f, dtype=np.int8) for f, h in hists])
                pid_out, bucket_out, cnt_out = (
                    np.concatenate(c) for c in zip(*(h for _, h in hists))
                )
                m = len(pid_out)
                yield pa.record_batch(
                    {
                        "kind": pa.array(np.ones(m, dtype=np.int8), type=pa.int8()),
                        "doc_id": pa.nulls(m, type=pa.string()),
                        "part_id": pa.array(pid_out, type=pa.int32()),
                        "n_tok": pa.nulls(m, type=pa.int32()),
                        "source": pa.nulls(m, type=pa.string()),
                        "ts": pa.nulls(m, type=row_batch.column(5).type),
                        "tok_len": pa.nulls(m, type=pa.int32()),
                        "tok_oob": pa.nulls(m, type=pa.bool_()),
                        "family": pa.array(fam, type=pa.int8()),
                        "bucket": pa.array(bucket_out, type=pa.int32()),
                        "cnt": pa.array(cnt_out, type=pa.int64()),
                    }
                )

    return kernel


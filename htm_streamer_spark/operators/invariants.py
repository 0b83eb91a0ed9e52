"""Row-level invariant checks, as pure native expressions.

All five row checks compile into ONE projection over the scan (no UDF, no
shuffle, whole-stage codegen). Reference analogs per check:

- ``null_n_tok`` — missing-feature row filter; the reference skips + logs
  such rows (/root/reference/htm_streamer/pipeline/htm_stream_runner.py:
  78-85, utils/general.py:54-56). Here they become violation rows, never
  silently dropped.
- ``len_mismatch`` — encoding width equals the sum of encoder widths *by
  construction* in the reference (model/htm_model.py:34); declared n_tok
  must equal len(tokens).
- ``token_range`` — the spatial (range) anomaly check: value outside
  [minExpected, maxExpected) (model/htm_model.py:305-312).
- ``empty_tokens`` — flat-metric guard (anomalylikelihood.py:530-538).
- ``bad_source`` — membership against the allowed-values set, a
  small-list ``isin`` (driver.py:28-39).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.functions.array_funcs import token_oob_expr

ROW_CHECK_ORDER = ("null_n_tok", "len_mismatch", "token_range", "empty_tokens", "bad_source")


def featurize(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """One projection over the token arrays → a NARROW frame carrying
    everything the row checks need (``tok_len``, ``tok_oob``) plus the
    scalar columns. The native form of the fused kernel's narrow frame
    (``featurize_hist_kernel``'s ``kind=0`` rows), which the flagship
    uses; callers holding a raw frame featurize it before the row
    checks. The narrow frame is ~1% of the bytes (tokens are ~99%)."""
    return df.select(
        "doc_id",
        "part_id",
        "n_tok",
        "source",
        "ts",
        F.size("tokens").alias("tok_len"),
        F.coalesce(token_oob_expr(F.col("tokens"), cfg.vocab_size), F.lit(False)).alias(
            "tok_oob"
        ),
    )


def row_check_exprs(cfg: EngineConfig) -> dict[str, Column]:
    """One boolean Column per enabled row-level check, over a frame that
    carries ``tok_len``/``tok_oob`` (:func:`featurize` or the fused
    kernel's narrow frame), so no expression touches the token arrays."""
    n_tok = F.col("n_tok")
    tok_len = F.col("tok_len")
    exprs: dict[str, Column] = {}
    if "null_n_tok" in cfg.checks:
        exprs["null_n_tok"] = n_tok.isNull()
    if "len_mismatch" in cfg.checks:
        exprs["len_mismatch"] = n_tok.isNotNull() & (tok_len != n_tok)
    if "token_range" in cfg.checks:
        exprs["token_range"] = F.col("tok_oob")
    if "empty_tokens" in cfg.checks:
        exprs["empty_tokens"] = F.coalesce(tok_len == 0, F.lit(True))
    if "bad_source" in cfg.checks:
        exprs["bad_source"] = ~F.coalesce(
            F.col("source").isin(list(cfg.allowed_sources)), F.lit(False)
        )
    return exprs


def row_check_flags(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Append one boolean flag column per check plus ``any_violation``
    to a featurized frame."""
    exprs = row_check_exprs(cfg)
    out = df
    for name, e in exprs.items():
        out = out.withColumn(f"flag_{name}", e)
    flags = [F.col(f"flag_{n}") for n in exprs]
    any_v = flags[0] if flags else F.lit(False)
    for f in flags[1:]:
        any_v = any_v | f
    return out.withColumn("any_violation", any_v)


def row_violations(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Violation rows for all row-level checks in ONE pass over a
    featurized frame.

    Builds an array of fired check_ids per row, filters to non-empty, then
    explodes — so the scan is read once for all five checks instead of
    once per check. Output: (doc_id, part_id, check_id, payload).
    """
    exprs = row_check_exprs(cfg)
    fired = F.filter(
        F.array(*[F.when(e, F.lit(name)) for name, e in exprs.items()]),
        lambda x: x.isNotNull(),
    )
    return (
        df.withColumn("_fired", fired)
        .filter(F.size("_fired") > 0)
        .select(
            "doc_id",
            "part_id",
            F.explode("_fired").alias("check_id"),
        )
        .withColumn(
            "payload",
            F.to_json(
                F.struct(
                    F.col("check_id"),
                    F.col("doc_id"),
                    F.col("part_id"),
                )
            ),
        )
    )

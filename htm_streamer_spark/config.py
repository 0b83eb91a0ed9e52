"""Engine configuration + pre-flight validation.

Mirrors the reference's config schema + fail-fast validation layer
(/root/reference/htm_streamer/config/validation.py:133-318 —
``validate_param_types`` applies type checks to ~50 params across 7 groups;
``validate_params_init`` adds value/range checks with hard errors), but for
the validation engine's own parameters. Like the reference, validation runs
once, driver-side, before any data is touched.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# The input_hint schema: the one declared, never-inferred schema
# (reference analog: features declared in user YAML,
# config/config--user_modify.yaml:1-36, checked for presence at
# htm_batch_runner.py:66-70).
SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("part_id", T.IntegerType(), True),
    ]
)

DEFAULT_SOURCES = ("web", "books", "code", "wiki", "news")
DEFAULT_VOCAB = 50257

# Clamp/floor constants copied verbatim from the reference likelihood
# module so parity tests agree to the last bit
# (anomalylikelihood.py:733-742, :299-309).
MEAN_FLOOR = 0.03
VAR_FLOOR = 0.0003
LOG_EPS = 1.0000000001
LOG_DENOM = -23.02585084720009
FLAT_VARIANCE_GUARD = 1.5e-5
PROBATION_SCORE = 0.5

# histogram domain + probability floor shared by engine and oracle
NTOK_MAX = 512
HIST_EPS = 1e-6


@dataclass
class EngineConfig:
    """All engine knobs, with reference-derived defaults."""

    vocab_size: int = DEFAULT_VOCAB
    allowed_sources: tuple[str, ...] = DEFAULT_SOURCES

    # drift thresholds (PSI > 0.2 is the standard "significant shift" line;
    # KL threshold chosen so the injected drifted partitions trip it)
    psi_threshold: float = 0.2
    kl_threshold: float = 0.5

    # histograms
    tok_hist_buckets: int = 128   # token-id range bucketed into this many
    ntok_hist_buckets: int = 32   # n_tok histogram buckets
    # reference encoder floor: n_buckets >= 100 (validation.py:286-288) is
    # an encoder-resolution rule; we keep a >= 8 sanity floor instead.

    # uniqueness salting
    n_salts: int = 64

    # checks enabled (reference analog: use_sp / enable flags,
    # model/htm_model.py:363-372)
    checks: tuple[str, ...] = (
        "null_n_tok",
        "len_mismatch",
        "token_range",
        "empty_tokens",
        "dup_doc_id",
        "bad_source",
        "drift",
    )

    # lifecycle (reference analog: timesteps_stop sampling/learning,
    # config/config.py:199-225): number of partitions used to fit the
    # baseline before the engine leaves "sampling" mode.
    baseline_partitions: int = 4


_TYPE_SPECS: dict[str, type | tuple[type, ...]] = {
    "vocab_size": int,
    "allowed_sources": tuple,
    "psi_threshold": (int, float),
    "kl_threshold": (int, float),
    "tok_hist_buckets": int,
    "ntok_hist_buckets": int,
    "n_salts": int,
    "checks": tuple,
    "baseline_partitions": int,
}

_KNOWN_CHECKS = {
    "null_n_tok",
    "len_mismatch",
    "token_range",
    "empty_tokens",
    "dup_doc_id",
    # opt-in (not in the default tuple, so default verdicts and bench
    # numbers are unchanged): identical token array under >=2 distinct
    # doc_ids — operators/uniqueness.py duplicate_content_violations
    "dup_content",
    "bad_source",
    "drift",
}


def config_from_yaml(path: str) -> EngineConfig:
    """Load an EngineConfig from a user YAML file (reference analog: the
    YAML config source, utils/fs.py:177-192 / config--user_modify.yaml).
    Unknown keys are a hard error — fail-fast like the reference's
    validation layer. List values coerce to the tuple fields expect."""
    import yaml

    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    valid = {f.name for f in EngineConfig.__dataclass_fields__.values()}
    unknown = set(raw) - valid
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")
    for key in ("allowed_sources", "checks"):
        if key in raw and isinstance(raw[key], list):
            raw[key] = tuple(raw[key])
    return validate_config(EngineConfig(**raw))


def validate_config(cfg: EngineConfig) -> EngineConfig:
    """Fail-fast type + range validation.

    Reference analog: ``validate_params_init``
    (config/validation.py:180-309) — type assertions per param
    (validation.py:312-318) then hard value/range errors (e.g. encoder
    ``n >= 200``, ``n_buckets >= 100``, ``learning > sampling``,
    validation.py:272-305, :169-177).
    """
    for name, typ in _TYPE_SPECS.items():
        val = getattr(cfg, name)
        if not isinstance(val, typ):
            raise TypeError(
                f"config param {name!r} expected {typ}, got {type(val).__name__}"
            )
    if cfg.vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {cfg.vocab_size}")
    if not (0.0 < cfg.psi_threshold):
        raise ValueError(f"psi_threshold must be > 0, got {cfg.psi_threshold}")
    if not (0.0 < cfg.kl_threshold):
        raise ValueError(f"kl_threshold must be > 0, got {cfg.kl_threshold}")
    if cfg.tok_hist_buckets < 8 or cfg.ntok_hist_buckets < 8:
        raise ValueError(
            "histogram buckets must be >= 8 "
            f"(tok={cfg.tok_hist_buckets}, ntok={cfg.ntok_hist_buckets})"
        )
    if cfg.n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {cfg.n_salts}")
    if cfg.baseline_partitions < 1:
        raise ValueError(
            f"baseline_partitions must be >= 1, got {cfg.baseline_partitions}"
        )
    unknown = set(cfg.checks) - _KNOWN_CHECKS
    if unknown:
        raise ValueError(f"unknown checks: {sorted(unknown)}")
    if not cfg.allowed_sources:
        raise ValueError("allowed_sources must be non-empty")
    if len(set(cfg.allowed_sources)) != len(cfg.allowed_sources):
        raise ValueError("allowed_sources contains duplicates")
    return cfg


def validate_input_schema(actual: T.StructType, expected: T.StructType = SEQUENCES_SCHEMA) -> None:
    """Presence + type validation of the input DataFrame schema.

    Reference analog: every declared feature must exist in the incoming
    data (htm_batch_runner.py:66-70 raises ValueError on missing columns;
    config/validation.py:162-167 in stream mode). Types must match the
    declared schema exactly — never inferred.
    """
    actual_by_name = {f.name: f.dataType for f in actual.fields}
    missing = [f.name for f in expected.fields if f.name not in actual_by_name]
    if missing:
        raise ValueError(f"input is missing declared columns: {missing}")
    mismatched = [
        (f.name, str(actual_by_name[f.name]), str(f.dataType))
        for f in expected.fields
        if actual_by_name[f.name] != f.dataType
    ]
    if mismatched:
        raise TypeError(f"input column type mismatches (name, actual, expected): {mismatched}")

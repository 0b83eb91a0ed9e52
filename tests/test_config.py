"""Config validation — reference analog: validate_params_init
(config/validation.py:180-318) type + range fail-fast behavior."""

import dataclasses

import pytest

from htm_streamer_spark.config import (
    SEQUENCES_SCHEMA,
    EngineConfig,
    validate_config,
    validate_input_schema,
)
from pyspark.sql import types as T


def test_default_config_valid():
    validate_config(EngineConfig())


def test_type_error():
    with pytest.raises(TypeError):
        validate_config(EngineConfig(vocab_size="50257"))


@pytest.mark.parametrize(
    "kw",
    [
        dict(vocab_size=0),
        dict(psi_threshold=0.0),
        dict(tok_hist_buckets=4),
        dict(n_salts=0),
        dict(baseline_partitions=0),
        dict(checks=("not_a_check",)),
        dict(allowed_sources=()),
        dict(allowed_sources=("web", "web")),
    ],
)
def test_range_errors(kw):
    with pytest.raises(ValueError):
        validate_config(EngineConfig(**kw))


def test_schema_presence():
    partial = T.StructType([f for f in SEQUENCES_SCHEMA.fields if f.name != "n_tok"])
    with pytest.raises(ValueError, match="n_tok"):
        validate_input_schema(partial)


def test_schema_type_mismatch():
    fields = [
        T.StructField(f.name, T.StringType() if f.name == "n_tok" else f.dataType)
        for f in SEQUENCES_SCHEMA.fields
    ]
    with pytest.raises(TypeError, match="n_tok"):
        validate_input_schema(T.StructType(fields))


def test_yaml_roundtrip(tmp_path):
    import yaml

    from htm_streamer_spark.config import config_from_yaml

    cfg = EngineConfig(psi_threshold=0.3, checks=("null_n_tok", "drift"))
    p = tmp_path / "cfg.yaml"
    d = dataclasses.asdict(cfg)
    d["allowed_sources"] = list(d["allowed_sources"])
    d["checks"] = list(d["checks"])
    p.write_text(yaml.safe_dump(d, sort_keys=True))
    assert config_from_yaml(str(p)) == cfg


def test_yaml_unknown_key(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text("vocab_size: 100\nnot_a_key: 1\n")
    from htm_streamer_spark.config import config_from_yaml

    with pytest.raises(ValueError, match="not_a_key"):
        config_from_yaml(str(p))


def test_yaml_rejects_likelihood_window_key(tmp_path):
    # the likelihood operators take their windows as arguments; the
    # engine config has no such knob
    p = tmp_path / "old.yaml"
    p.write_text("vocab_size: 100\nhistoric_window_size: 8640\n")
    from htm_streamer_spark.config import config_from_yaml

    with pytest.raises(ValueError, match="unknown config keys"):
        config_from_yaml(str(p))

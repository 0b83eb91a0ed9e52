"""Shared fixtures: one SparkSession per test run + generated tables."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.fixtures.generator import (
    generate_sequences,
    write_sequences_parquet,
)
from htm_streamer_spark.session import get_spark

TINY = dict(n_partitions=10, rows_per_partition=1000, hot_key_copies=50)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="htm_streamer_spark_tests")
    yield s


@pytest.fixture(scope="session")
def tiny_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("data") / "sequences_tiny"
    write_sequences_parquet(out, **TINY)
    return str(out)


@pytest.fixture(scope="session")
def clean_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("data") / "sequences_clean"
    write_sequences_parquet(
        out, n_partitions=8, rows_per_partition=500, corrupt=False, drift_partitions=0
    )
    return str(out)


@pytest.fixture(scope="session")
def tiny_pandas() -> pd.DataFrame:
    """The same tiny table as a pandas frame (oracle input)."""
    cols = generate_sequences(**TINY)
    return pd.DataFrame(
        {
            "doc_id": cols["doc_id"],
            "tokens": cols["tokens"],
            "n_tok": np.where(cols["n_tok_null"], np.nan, cols["n_tok"]),
            "source": cols["source"],
            "part_id": cols["part_id"],
            "injected": cols["injected"],
        }
    )


@pytest.fixture(scope="session")
def cfg() -> EngineConfig:
    return EngineConfig()


@pytest.fixture(scope="session")
def tricky_texts() -> list:
    """Adversarial inputs for the text normalizers: punctuation inside
    and around words, non-space whitespace, blank and NULL rows, and
    non-ASCII characters whose lowercase is (Kelvin sign, dotted capital
    I) or is not (sharp s, ligature, CJK, emoji) ASCII."""
    return [
        "Hello, World!",
        "don't stop-believing; rock'n'roll e-mail",
        "a.b,c;d:e!f?g",
        "tab\tseparated\twords",
        "line\nbreak\r\nwindows\x0bvertical\x0cfeed",
        "  leading and trailing  ",
        "repeated    spaces   inside",
        "",
        None,
        " ",
        "\t\n ",
        "!!! ... ???",
        ".,;:!?",
        "Digits 123 and UPPER CASE 4Ever 0x1F",
        "\u212aelvin sign \u212a",
        "\u0130stanbul \u0131\u0307",
        "stra\u00dfe STRASSE",
        "\ufb01le \ufb02ow",
        "\u6f22\u5b57 \u304b\u306a mixed",
        "emoji \U0001f642 inside \U0001f44d\U0001f3fd text",
        "no\u00a0break em\u2003space ideographic\u3000space",
        "x-y-z.1,2;3 a b c",
    ]

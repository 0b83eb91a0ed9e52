from htm_streamer_spark.fixtures.generator import (
    generate_sequences,
    generate_series,
    write_sequences_parquet,
)
from htm_streamer_spark.fixtures.oracle import (
    oracle_verdicts,
    oracle_violations,
)

__all__ = [
    "generate_sequences",
    "generate_series",
    "write_sequences_parquet",
    "oracle_violations",
    "oracle_verdicts",
]

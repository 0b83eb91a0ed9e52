from htm_streamer_spark.operators.invariants import (
    featurize,
    row_check_flags,
    row_violations,
)
from htm_streamer_spark.operators.stats import partition_stats
from htm_streamer_spark.operators.uniqueness import duplicate_ids, duplicate_violations
from htm_streamer_spark.operators.drift import (
    ntok_histogram,
    drift_scores,
)

__all__ = [
    "featurize",
    "row_check_flags",
    "row_violations",
    "partition_stats",
    "duplicate_ids",
    "duplicate_violations",
    "ntok_histogram",
    "drift_scores",
]

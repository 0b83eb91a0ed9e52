"""Referential check: ``source`` must exist in the allowed-values
dimension table.

Reference analog: the NAB labels lookup joins a small windows dict against
every dataset (/root/reference/driver.py:28-39,58-68) — a broadcast-sized
dimension by construction. Here: ``left_anti`` broadcast join (NOT EXISTS)
from the 10^12-row fact side against the tiny dimension — zero shuffle of
the fact table, the dimension ships to every executor once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htm_streamer_spark.config import DIM_SOURCES_SCHEMA, EngineConfig


def dim_sources_df(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    return spark.createDataFrame(
        [(s, True) for s in cfg.allowed_sources], schema=DIM_SOURCES_SCHEMA
    )


def referential_violations(df: DataFrame, dim: DataFrame) -> DataFrame:
    """Rows whose source has no active match in the dimension table.

    Output: (doc_id, part_id, check_id, payload).
    """
    allowed = dim.filter(F.col("active")).select("source")
    return (
        df.join(F.broadcast(allowed), "source", "left_anti")
        .select(
            "doc_id",
            "part_id",
            F.lit("bad_source").alias("check_id"),
        )
        .withColumn(
            "payload",
            F.to_json(F.struct(F.col("check_id"), F.col("doc_id"), F.col("part_id"))),
        )
    )


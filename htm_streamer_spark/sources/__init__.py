from htm_streamer_spark.sources.record_io import jsonl_schema, read_records
from htm_streamer_spark.sources.table_io import (
    IcebergCatalog,
    ManifestCatalog,
    iceberg_available,
    list_hive_partitions,
)

__all__ = [
    "IcebergCatalog",
    "ManifestCatalog",
    "iceberg_available",
    "jsonl_schema",
    "list_hive_partitions",
    "read_records",
]

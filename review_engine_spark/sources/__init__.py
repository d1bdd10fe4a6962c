"""Sources & sinks (SURVEY §2.A) + storage layout (§7 M6)."""

from review_engine_spark.sources.bucketing import (
    read_table,
    write_bucketed_table,
    write_partitioned,
)
from review_engine_spark.sources.io import (
    read_jsonl,
    read_parquet_table,
    write_jsonl_gz,
    write_parquet,
)

__all__ = [
    "read_jsonl",
    "read_parquet_table",
    "read_table",
    "write_bucketed_table",
    "write_jsonl_gz",
    "write_parquet",
    "write_partitioned",
]

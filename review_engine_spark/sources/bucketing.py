"""Bucketed & partitioned table layout (SURVEY §7 M6 100 TB notes).

Two storage-layout levers a 100 TB deployment uses that plain parquet
directories cannot express:

- **Hash bucketing** (``bucketBy``): both sides of a recurring equi-join
  written with the same bucket count/key join with NO exchange — the
  shuffle is paid once at write time, then every downstream join/agg on
  the bucket key is narrow. This is the durable form of the broadcast/
  repartition tradeoff: right for fact-fact joins where neither side
  broadcasts.
- **Directory partitioning** (``partitionBy``): low-cardinality columns
  (date, lang, category) become directories; a filter on them prunes
  whole files at planning time (PartitionFilters in the scan node).

Both verified by plan-shape tests (no Exchange on bucketed joins;
PartitionFilters present on partitioned scans).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "write_bucketed_table",
    "read_table",
    "write_partitioned",
    "zorder_key",
]


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (and bucket-sorted) table. Sorting within
    buckets additionally removes the Sort from downstream sort-merge
    joins on the bucket key. With ``path`` the table is EXTERNAL (data
    at the given location, catalog entry carries only the bucketing
    metadata readers need) — required when the session's warehouse dir
    is not writable or not the caller's to pollute."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Directory-partitioned parquet for planning-time partition pruning."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` of two
    non-negative ints — the multi-dimensional data-layout key behind
    file skipping on two filter columns at once. Sorting by this key
    clusters rows so min/max footer stats prune scans for predicates on
    EITHER dimension (single-column sort only helps one).

    Pure bit arithmetic (shift/and/or), evaluated JVM-side; callers mask
    inputs into range (``x % (1 << bits)``) first if needed.
    """
    z: Column | None = None
    for i in range(bits):
        xi = F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        yi = F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        term = xi + yi
        z = term if z is None else z + term
    return z.cast("long")


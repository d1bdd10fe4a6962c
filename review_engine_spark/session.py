"""SparkSession construction with scale-aware defaults.

The reference system is single-process and memory-resident
(``semantic.py:17-31``); this engine instead assumes a multi-executor
cluster and encodes the session-level knobs that matter at 100 TB:

- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and broadcast-join demotion/promotion. The fixture data's
  per-key group sizes are Zipf-ish (review counts per product in the
  reference), so skew handling is load-bearing.
- **Arrow on** — every pandas-UDF / toPandas boundary is Arrow-batched.
- **UTC session timezone** — parquet timestamps compare bit-exact against
  the DuckDB oracle (DuckDB timestamps are TZ-naive UTC).
- **shuffle.partitions** — sized to cores locally; on a real cluster this
  is superseded by AQE's coalescing from the 2048 initial partitions.
- **DataFrame debugging off** — PySpark 4 otherwise captures the Python
  call site on every ``Column`` call (active-session lookup, a conf get,
  ``inspect.stack()`` and an origin set/clear over py4j), so six
  ``Column`` calls send 62 py4j commands instead of 12
  (``tests/test_session.py``). Errors keep their exception
  class and message; they lose the ``file:line`` fragment of the
  DataFrame query context. PySpark reads the flag once per process, at
  the first ``Column`` call, from the session active then.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONF"]

DEFAULT_CONF: dict[str, str] = {
    # --- correctness-critical ---
    "spark.sql.session.timeZone": "UTC",
    # fixture events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as long and convert (sources.io.read_parquet_table)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- adaptive execution: the scale story ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # post-shuffle partitions coalesce toward ~64 MB — small enough to fit
    # executor memory with headroom at 100 TB inputs, large enough to
    # amortize task overhead
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
    # input-split sizing: 128 MB splits keep scan tasks ~seconds-long on
    # parquet; explicit (not default-reliant) because spill behavior at
    # the target scale depends on it (SURVEY §7 M6)
    "spark.sql.files.maxPartitionBytes": "128MB",
    # --- Arrow everywhere Python touches data ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- broadcast doctrine (SCALING.md, both stress experiments): the
    # STATIC planner may never guess-broadcast — its file-size estimates
    # under-count filtered/aggregated corpus-scaled tables, which works
    # at fixture scale and OOMs the driver at real scale. Static
    # auto-broadcast is OFF; AQE converts shuffle joins to broadcast at
    # RUNTIME from actual shuffle sizes (always safe — a side that is
    # really big never converts). Provably bounded sides (dims, 1-row
    # aggregates, probe sets) declare themselves with explicit
    # F.broadcast, which bypasses the threshold ---
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64MB",
    # no Python call-site capture per Column call (module docstring)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # quiet progress bars in test logs
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "review-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for local runs; on a cluster, leave unset and submit normally.
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster pass ~2-3× total executor cores and let AQE coalesce.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        # Local mode packs every "executor" thread into ONE driver JVM,
        # whose default 1 g heap is the per-executor-GB equivalent of a
        # 32-core executor with 32 MB each — measured to OOM a 32-thread
        # full-roster sweep at sf0.1 once session state accumulates. Size
        # it like a real executor instead (only effective at JVM launch;
        # a no-op via getOrCreate on a live session).
        conf.setdefault(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark

"""SparkSession construction with scale-aware defaults.

The reference system is single-process and memory-resident
(``semantic.py:17-31``); this engine instead runs its dataflow as
Catalyst plans, locally or on a multi-executor cluster, and encodes the
session-level knobs that plan cost depends on:

- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and broadcast-join demotion/promotion. The fixture data's
  per-key group sizes are Zipf-ish (review counts per product in the
  reference), so skew handling is load-bearing. The flag is set
  explicitly because the broadcast doctrine (``DEFAULT_CONF``) depends
  on it. Spark 4's defaults are not restated: coalescing and skew-join
  splitting on, a 64 MB advisory post-shuffle partition size, 128 MB
  input splits and 10,000 rows per Arrow batch.
- **Arrow on** — every pandas-UDF / toPandas boundary is Arrow-batched.
- **UTC session timezone** — parquet timestamps compare bit-exact against
  the DuckDB oracle (DuckDB timestamps are TZ-naive UTC).
- **shuffle.partitions** — sized to cores locally; on a real cluster this
  is superseded by AQE's coalescing from the 2048 initial partitions.
- **DataFrame debugging off** — PySpark 4 otherwise captures the Python
  call site on every ``Column`` call (active-session lookup, a conf get,
  ``inspect.stack()`` and an origin set/clear over py4j), so six
  ``Column`` calls send 62 py4j commands instead of 12, or 7 with the
  class-lookup memo below (``tests/test_session.py``). Errors keep their exception
  class and message; they lose the ``file:line`` fragment of the
  DataFrame query context. PySpark reads the flag once per process, at
  the first ``Column`` call, from the session active then.
- **generated-class cache sized to the roster** — Spark keeps the classes
  it compiles for whole-stage codegen, projections and predicates in an
  LRU cache of 100 entries by default. One pass of the seven
  ``roster_mix`` queries needs 100–120 distinct classes, so at the default
  every warm pass recompiled nearly all of them with Janino, and the JIT
  compiled the new bytecode again. Warm passes now compile nothing
  (``tests/test_session.py``). The cache is a static conf: a live session
  reached through ``getOrCreate`` keeps its own size, with a warning.
- **Python workers import PySpark from its installed directory** — Spark
  starts the worker daemon with ``pyspark.zip``, the py4j zip and the
  spark-core jar ahead of ``PYTHONPATH``, and each task then calls
  ``importlib.invalidate_caches()``, which makes each of a worker's 16
  ``zipimporter``s re-read its archive: 120–200 ms of CPU per UDF task on
  a 4-core host. ``spark.python.daemon.module`` runs
  ``review_engine_spark.worker_daemon`` instead, which drops those path
  entries when the installed PySpark and py4j are the same release, then
  runs ``pyspark.daemon``: 0 ``zipimporter``s and under 1 ms per call
  (``tests/test_session.py``). Like the cache size, it is read once, when
  the session's JVM starts. Executors must be able to import the package
  when the daemon starts; ``--py-files`` alone is not enough, since a
  worker adds those to its path per task.
- **class lookups memoized once per session** — PySpark reaches
  ``functions``, ``PythonUtils``, ``PythonSQLUtils`` and the classic
  ``SparkSession`` by name through the py4j JVM view on every call, and
  py4j asks the JVM again each time. A bare name is first tried against
  the whole classpath and each star import before the right one matches:
  0.6–0.76 ms of JVM CPU per ``PythonSQLUtils`` lookup, about 0.2 ms per
  ``PythonUtils`` one. Each ``getMember`` (``functions.lit``) then costs
  50–75 µs, since it copies every ``Method`` of the class. A search
  request sent 361 class and 359 method lookups among its 2,216 py4j
  commands. ``get_spark`` puts one memoizing ``JavaClass`` per class into
  the JVM view, under its short and its full name, and each keeps the
  static methods it hands out: an ``F.*`` call sends 1 command instead of
  3, and no lookup scans the classpath (``tests/test_session.py``). The
  memo lives as long as the py4j gateway, across session restarts.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass, JavaMember
from pyspark.sql import SparkSession

__all__ = ["get_spark", "host_defaults", "DEFAULT_CONF"]

DEFAULT_CONF: dict[str, str] = {
    # --- correctness-critical ---
    "spark.sql.session.timeZone": "UTC",
    # fixture events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as long and convert (sources.io.read_parquet_table)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- adaptive execution: the scale story (module docstring) ---
    "spark.sql.adaptive.enabled": "true",
    # --- Arrow everywhere Python touches data ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
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
    # room for every class one pass of the whole roster generates: 3,295
    # distinct classes at sf0.01, 3,270 at sf0.1. At the default of 100 the
    # same cold pass compiled 4,612 and 4,695, rebuilding evicted classes
    # (module docstring)
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Python workers import PySpark from its installed directory, not from
    # Spark's archives (module docstring)
    "spark.python.daemon.module": "review_engine_spark.worker_daemon",
    # quiet progress bars in test logs
    "spark.ui.showConsoleProgress": "false",
}


#: the classes PySpark looks up by name on every Column or DataFrame call
#: (module docstring)
MEMOIZED_CLASSES = (
    "org.apache.spark.sql.functions",
    "org.apache.spark.api.python.PythonUtils",
    "org.apache.spark.sql.api.python.PythonSQLUtils",
    "org.apache.spark.sql.classic.SparkSession",
)


class _MemoJavaClass(JavaClass):
    """A ``JavaClass`` that keeps each static method it hands out, so a
    second ``functions.lit`` is an attribute read, not a py4j command.
    Fields and nested classes are looked up every time, as by py4j."""

    def __getattr__(self, name):
        member = super().__getattr__(name)
        if isinstance(member, JavaMember):
            self.__dict__[name] = member
        return member


def _memoize_class_lookups(jvm) -> None:
    """Put a :class:`_MemoJavaClass` for each of ``MEMOIZED_CLASSES`` into
    the py4j JVM view, under its full and its short name. ``JVMView``
    asks the JVM only for names missing from its ``__dict__``. A view that
    already holds the memo keeps it, with the methods it has cached."""
    for fqn in MEMOIZED_CLASSES:
        if not isinstance(jvm.__dict__.get(fqn), _MemoJavaClass):
            memo = _MemoJavaClass(fqn, jvm._gateway_client)
            jvm.__dict__[fqn] = jvm.__dict__[fqn.rsplit(".", 1)[1]] = memo


def host_defaults() -> tuple[int, str]:
    """``(cores, driver heap)`` for a local session: ``$SPARK_GRAFT_CPUS``
    or the cores this process may run on, and ``$SPARK_GRAFT_DRIVER_MEM``
    or half of physical RAM, capped at 16g."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or len(os.sched_getaffinity(0))
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return cpus, os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(16, half_gib))}g")


def get_spark(
    app_name: str = "review-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[cores]`` from :func:`host_defaults` for
    local runs; on a cluster, leave unset and submit normally.
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster pass ~2-3× total executor cores and let AQE coalesce.
    """
    cpus, driver_mem = host_defaults()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        # Local mode packs every "executor" thread into ONE driver JVM,
        # whose default 1 g heap was measured to OOM a 32-thread
        # full-roster sweep at sf0.1 once session state accumulates. Size
        # it from the host instead (only effective at JVM launch; a no-op
        # via getOrCreate on a live session).
        conf.setdefault("spark.driver.memory", driver_mem)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _memoize_class_lookups(spark.sparkContext._jvm)
    return spark

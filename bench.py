"""Benchmark runner: time every declared roster query (BASELINE.md target).

Runs each query from ``__spark_entry__.queries()`` at ``--sf-dir`` (default
$SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1) in the engine's session and
records the best of ``--repeat`` runs (default 2). A run is
``fn(spark, sf)`` plus a write to the noop sink, which evaluates every
output column; ``count()`` would let Catalyst prune projection-only work,
so a map-only query would be timed as a bare scan. The best run's wall
is split into ``build_s``, the time inside ``fn(spark, sf)`` (Python-side
DataFrame construction, including the driver rounds of iterative queries
and any job they submit), and ``exec_s``, the noop write.

The first run compiles the query's generated classes with Janino, and the
JIT then compiles their bytecode. A later run is the steady-state cost
only while Spark's generated-class cache still holds those classes; at
Spark's default of 100 entries the roster evicted them
(``review_engine_spark.session`` sizes the cache). So each run's compiles
are counted from Spark's codegen metrics: ``compiles_cold`` for the first
run and ``compiles_warm`` for the last. A warm count above 0 means
classes were evicted, the query's generated code inlines literals that
change per run, or AQE re-planned into a variant not compiled before.

Host load is measured, not corrected for. Each query's runs go under a
Spark job group named after it, and right after them its jobs' stage
metrics are read from Spark's status API: task CPU, GC, shuffle fetch
wait and spill, each per run (the mean over the repeats). Task CPU moves
less with host load than wall time does, so it is the figure to compare
across runs of one tree; fetch wait and spill say where a slow wall time
went.

Queries are independent measurements with no cache to clear between
them: the engine reuses an intermediate only through
``operators.cluster.iter_checkpoint``, which registers no cached plan a
later query (or a later repeat) could read.

A full sweep writes ``BENCH_QUERIES.json`` next to this script: the
summary, each query's record (wall and its build/execute split, the four
stage metrics and the two compile counts) and the failure cause of every
query that raised in all repeats. Subset runs write no sidecar. Every
query gets a ``# timing`` line on stderr.

The FINAL stdout line is one compact JSON object with the keys
``metric, value, unit, queries, sf, n_queries, sec_per_query, n_failed,
task_cpu_s``; ``value`` is the sum of the per-query walls. The harness
keeps only a bounded tail of stdout, so ``queries`` holds just the slowest
few and the line is held under 1500 bytes.

Usage: python bench.py [--sf-dir DIR] [--repeat N] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

TAIL_BUDGET = 1500
#: stage metrics kept per query, as ``perfbench.sparkmetrics`` names them
EXEC_KEYS = ("exec.task_cpu_s", "exec.gc_s", "exec.fetch_wait_s", "exec.spill_bytes")


def failure_text(exc: BaseException) -> str:
    """``ExceptionClass: first message line``."""
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0] if lines else ''}"


def query_record(
    walls: list[float],
    builds: list[float],
    errors: list[BaseException],
    totals: dict[str, float],
    compiles: list[int],
) -> dict:
    """One query's record: best wall, split into the best run's build
    (``builds``: the time inside ``fn(spark, sf)``) and execute (the noop
    write), its jobs' stage metrics per run (``totals`` covers all runs),
    the classes compiled in the first and the last run (``None`` for a
    single run), and the failure cause when every run raised."""
    best = walls.index(min(walls))
    rec = {
        "wall_s": round(walls[best], 3),
        "build_s": round(builds[best], 3),
        "exec_s": round(walls[best] - builds[best], 3),
    }
    rec.update({k: round(totals.get(k, 0.0) / len(walls), 3) for k in EXEC_KEYS})
    rec.update(compiles_cold=compiles[0], compiles_warm=compiles[-1] if len(compiles) > 1 else None)
    if errors and len(errors) == len(walls):
        rec["failure"] = failure_text(errors[-1])
    return rec


def summary(records: dict[str, dict], sf: float | None) -> dict:
    """The run's totals, with the full per-query wall map."""
    walls = {n: r["wall_s"] for n, r in records.items()}
    total = sum(walls.values())
    return {
        "metric": "declared_query_wall_clock_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": walls,
        "sf": sf,
        "n_queries": len(walls),
        "sec_per_query": round(total / max(len(walls), 1), 3),
        # a query that raised in every repeat adds ~0 s to the total, so
        # a dying session must never read as a speed-up
        "n_failed": sum("failure" in r for r in records.values()),
        "task_cpu_s": round(sum(r["exec.task_cpu_s"] for r in records.values()), 3),
    }


def final_line(full: dict) -> str:
    """``full`` as one JSON line whose ``queries`` keeps only the slowest
    entries that fit the tail budget."""
    ranked = sorted(full["queries"].items(), key=lambda kv: kv[1], reverse=True)
    for k in range(8, -1, -1):
        line = json.dumps(dict(full, queries=dict(ranked[:k])))
        if len(line) <= TAIL_BUDGET:
            return line
    raise AssertionError(f"final bench line {len(line)}B > {TAIL_BUDGET}B")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    root = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, root)
    import __spark_entry__ as entrymod
    from perfbench.sparkmetrics import StatusClient, per_op_totals
    from review_engine_spark.session import get_spark

    spark = get_spark("bench")
    sc = spark.sparkContext
    status = StatusClient(spark)
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    qs = entrymod.queries()
    if args.queries:
        qs = {k: v for k, v in qs.items() if k in set(args.queries)}

    # warm the JVM and parquet footers once, so per-query numbers measure
    # the query, not session bring-up
    spark.read.parquet(f"{args.sf_dir}/part.parquet").count()

    records: dict[str, dict] = {}
    for name, fn in qs.items():
        sc.setJobGroup(name, name)
        walls: list[float] = []
        builds: list[float] = []
        errors: list[BaseException] = []
        compiles: list[int] = []
        start = time.time()
        for _ in range(args.repeat):
            c0 = compilations.getCount()
            t0 = time.perf_counter()
            built = None
            try:
                df = fn(spark, args.sf_dir)
                built = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - every failure is recorded
                errors.append(e)
                print(f"# {name} FAILED: {failure_text(e)}", file=sys.stderr)
            end = time.perf_counter()
            walls.append(end - t0)
            # a run that raised while building spent all of its wall there
            builds.append((built or end) - t0)
            compiles.append(compilations.getCount() - c0)
        end = time.time()
        # fold now, not at the end: the status store keeps only the last
        # 1,000 jobs. Streaming batches run under their own job groups and
        # are attributed by submission time.
        totals = per_op_totals(status.wait_idle(), status.stages(), [], [(name, start, end)])[name]
        records[name] = rec = query_record(walls, builds, errors, totals, compiles)
        print(
            f"# timing {name} {rec['wall_s']} task_cpu_s={rec['exec.task_cpu_s']} "
            f"compiles={rec['compiles_cold']}/{rec['compiles_warm']}",
            file=sys.stderr,
        )

    m = re.search(r"sf([0-9.]+)", args.sf_dir)
    full = summary(records, float(m.group(1).rstrip(".")) if m else None)
    if not args.queries:
        failures = {n: r["failure"] for n, r in records.items() if "failure" in r}
        with open(os.path.join(root, "BENCH_QUERIES.json"), "w") as fh:
            json.dump(dict(full, records=records, failures=failures), fh, indent=1, sort_keys=True)
    sys.stderr.flush()
    print(final_line(full), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

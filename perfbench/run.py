"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload {embed_etl,search_session,roster_mix}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run builds its inputs from the
seed, starts Spark as ``local[nproc]`` with the driver heap sized from
host RAM, sets up several times (``setup_s`` is the median), warms to
steady state, checks outputs, then runs closed-loop operations for
``--seconds``. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` the per-layer metrics, taken
with spans around the calls into each package layer and Spark's own
per-job metrics. A full report (run configuration, every layer metric,
failures) goes to stderr. Everything the run writes lives under
``.perfbench_tmp/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[0] = str(ROOT)

#: end-to-end metrics of an untraced run. Latency and throughput go to
#: stderr only: on a VM whose host takes CPU time away, they spread across
#: runs about twice as wide as CPU time (perfbench/LAYERS.md)
E2E_UNITS = {"setup_s": "s", "total_cpu_s": "s", "task_cpu_s": "s", "peak_rss_mb": "MB"}
#: per-layer metrics on the last stdout line of a traced run; every
#: other layer figure goes to the stderr report
LAYER_OUT = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.input_bytes": "bytes",
    "sources.output_bytes": "bytes",
    "entry.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.idle_core_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_exec_memory_bytes": "bytes",
    "inference.init_s": "s",
    "inference.run_s": "s",
    "inference.bytes_sent": "bytes",
    "inference.bytes_returned": "bytes",
    "inference.rows": "count",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "trace.overhead_ms": "ms",
    "trace.span_coverage": "share",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host() -> tuple[int, int]:
    """(cores usable by this process, RAM in MiB)."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return cores, kib // 1024


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``: the driver JVM, the Python worker
    daemon and its workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out = []
    stack = list(children.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def descendants_hwm_mb(pid: int) -> dict[str, float]:
    """Peak RSS (VmHWM) in MiB of every descendant process of ``pid``,
    keyed ``name:pid``."""
    out = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if line.startswith(("Name:", "VmHWM:")))
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{p}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def tree_cpu_s(pid: int) -> float:
    """CPU seconds, user plus system, used so far by ``pid`` and every live
    descendant, including children they have reaped. On a VM this
    excludes time the host took the CPU away, unlike wall time."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Ctx:
    """What a workload needs from the run: seed, host size, scratch root,
    the session, and the tracer."""

    def __init__(self, seed: int, scratch: Path, trace: bool):
        from perfbench.spans import Tracer

        self.root = str(ROOT)
        self.seed = seed
        self.scratch = scratch
        self.cores, self.ram_mb = host()
        self.driver_mem_gb = max(1, min(4, self.ram_mb // 4096))
        self.tracer = Tracer(trace)
        self.spark = None

    def conf(self) -> dict[str, str]:
        s = self.scratch
        return {
            "spark.driver.memory": f"{self.driver_mem_gb}g",
            "spark.local.dir": str(s / "spark-local"),
            "spark.sql.warehouse.dir": str(s / "warehouse"),
            # C1 only: C2 compile threads would compete with the task
            # threads for minutes on a small host. Initial heap at the maximum
            # and a fixed young generation: G1's adaptive heap and young
            # sizing moved the JVM's peak RSS by 25% between runs of the
            # same code (see perfbench/LAYERS.md)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={s / 'tmp'} -XX:TieredStopAtLevel=1 -Xms{self.driver_mem_gb}g -Xmn512m"
            ),
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }

    def start_session(self):
        from review_engine_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench", master=f"local[{self.cores}]", shuffle_partitions=self.cores, extra_conf=self.conf()
            )
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark, then the gateway JVM it launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
                proc.kill()
                proc.wait()

    def force_plan(self, df) -> None:
        """Traced runs only: run Catalyst analysis, optimization and
        physical planning of ``df`` before its action, as its own span."""
        if self.tracer.enabled:
            with self.tracer.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()


def isolate(scratch: Path) -> None:
    """Point every temp and artifact directory of the run into ``scratch``,
    and let Python workers import the package from the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(scratch / "tmp")
    tempfile.tempdir = str(scratch / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))


def point_artifacts(cycle_dir: Path) -> None:
    """Fresh tokenizer and PCA artifact caches for each set-up cycle, so no
    timing depends on an earlier run."""
    for kind in ("PCA", "BPE", "UNI"):
        d = cycle_dir / "artifacts" / kind.lower()
        d.mkdir(parents=True, exist_ok=True)
        os.environ[f"SPARK_GRAFT_{kind}_DIR"] = str(d)


class StreamingRecorder:
    """Streaming query progress, attributed to operations by trigger time."""

    def __init__(self):
        self.events: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events

        class Recorder(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                events.append(
                    {
                        "id": str(p.runId),
                        "time": p.timestamp,
                        "trigger_s": d.get("triggerExecution", 0) / 1e3,
                        "planning_s": d.get("queryPlanning", 0) / 1e3,
                        "commit_s": (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1e3,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Recorder()

    def per_op(self, ops: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
        from perfbench.sparkmetrics import parse_time

        out = {op: {"streaming.batches": 0.0, "streaming.trigger_s": 0.0, "streaming.planning_s": 0.0,
                    "streaming.commit_s": 0.0, "streaming.state_rows": 0.0, "streaming.state_bytes": 0.0}
               for op, _, _ in ops}
        last: dict[str, dict] = {}
        for ev in self.events:
            t = parse_time(ev["time"].replace("Z", "GMT"))
            op = next((o for o, a, b in ops if t is not None and a <= t <= b), None)
            if op is None:
                continue
            tot = out[op]
            tot["streaming.batches"] += 1
            for k in ("trigger_s", "planning_s", "commit_s"):
                tot[f"streaming.{k}"] += ev[k]
            last[(op, ev["id"])] = ev
        for (op, _), ev in last.items():
            out[op]["streaming.state_rows"] += ev["state_rows"]
            out[op]["streaming.state_bytes"] += ev["state_bytes"]
        return out


def run(args, ctx: Ctx) -> dict:
    from perfbench import sparkmetrics, stats
    from perfbench.workloads import WORKLOADS, describe

    scratch = ctx.scratch
    wl = WORKLOADS[args.workload](ctx)
    tracer = ctx.tracer
    streaming = StreamingRecorder()
    attempted = failed = 0
    failures: list[str] = []

    import review_engine_spark.plans  # noqa: F401 - loads every module to patch
    import review_engine_spark.streaming.jobs  # noqa: F401
    from review_engine_spark.operators import ranking
    from review_engine_spark.sources import io

    if tracer.enabled:
        tracer.patch("sources.read", "read_parquet_table", io.read_parquet_table)
        tracer.patch("operators.mmr", "mmr_diversify", ranking.mmr_diversify)

    # -- set-up cycles: session (re)start, fresh inputs and artifact dirs;
    #    the first cycle also launches the JVM, so setup_s is their median
    cycles = []
    session_starts = []
    for c in range(wl.setup_cycles):
        cycle_dir = scratch / f"cycle{c}"
        t0 = time.perf_counter()
        spark = ctx.start_session()
        session_starts.append(time.perf_counter() - t0)
        point_artifacts(cycle_dir)
        wl.make_inputs(str(cycle_dir))
        wl.open(spark)
        cycles.append(time.perf_counter() - t0)
        if c:
            shutil.rmtree(scratch / f"cycle{c - 1}", ignore_errors=True)
    log(f"setup cycles {[round(x, 3) for x in cycles]} s, session starts {[round(x, 3) for x in session_starts]} s")

    status = sparkmetrics.StatusClient(spark)
    if tracer.enabled:
        spark.streams.addListener(streaming.listener())

    # -- warm to steady state: the output check round, then plain rounds
    t0 = time.perf_counter()
    checked, check_failures = wl.check_round(spark)
    attempted += checked
    failed += len(check_failures)
    failures.extend(check_failures)
    log(f"check round: {checked} checked, {len(check_failures)} failed, {time.perf_counter() - t0:.3f} s")
    for r in range(wl.warm_rounds):
        t0 = time.perf_counter()
        for i, name in enumerate(wl.ops()):
            wl.run_op(spark, tracer, name, i)
        log(f"warm round {r}: {time.perf_counter() - t0:.3f} s")
    tracer.spans.clear()

    # -- measured window: whole rounds until the deadline has passed; a
    #    traced run alternates untraced and traced rounds
    sc = spark.sparkContext
    lat: dict[str, list[float]] = {}
    op_by_name: dict[str, list[float]] = {}
    by_name: dict[tuple[bool, str], list[float]] = {}
    ops: list[tuple[str, float, float]] = []
    traced_ops: list[str] = []
    rounds = 0
    window0 = time.time()
    cpu0 = tree_cpu_s(os.getpid())
    host0 = host_cpu()
    deadline = time.perf_counter() + args.seconds
    n = 0
    while rounds < (2 if args.trace else 1) or time.perf_counter() < deadline:
        round0 = time.perf_counter()
        traced_round = bool(args.trace) and rounds % 2 == 1
        tracer.enabled = traced_round
        for name in wl.ops():
            op_id = f"r{rounds}-{n}-{name}"
            tracer.op_id = op_id
            sc.setJobGroup(op_id, op_id)
            attempted += 1
            a = time.time()
            try:
                with tracer.span("op"):
                    got = wl.run_op(spark, tracer, name, n)
            except Exception as e:  # noqa: BLE001 - every failure is counted
                failed += 1
                failures.append(describe(name, e))
                got = {}
            b = time.time()
            ops.append((op_id, a, b))
            if traced_round:
                traced_ops.append(op_id)
            for kind, v in got.items():
                if not traced_round:
                    lat.setdefault(kind, []).append(v)
                    if kind == "op":
                        op_by_name.setdefault(name, []).append(v)
            by_name.setdefault((traced_round, name), []).append(b - a)
            n += 1
        rounds += 1
        log(f"round {rounds - 1}{' traced' if traced_round else ''}: {time.perf_counter() - round0:.3f} s")
        if rounds == 1:
            # peak RSS grows with the work done, so it is taken after the
            # same work in every run, not after however many rounds fit
            hwm = descendants_hwm_mb(os.getpid())
    tracer.enabled = bool(args.trace)
    tracer.op_id = None
    sc.setJobGroup("perfbench-idle", "idle")
    window_s = time.time() - window0
    total_cpu = tree_cpu_s(os.getpid()) - cpu0
    host1 = host_cpu()
    steal = (host1[0] - host0[0]) / max(1, host1[1] - host0[1])

    jobs = status.wait_idle()
    per_op = sparkmetrics.per_op_totals(jobs, status.stages(), status.sql() if args.trace else [], ops)
    rss = sum(hwm.values())
    log(f"peak rss MiB by process {json.dumps({k: round(v, 1) for k, v in hwm.items()})}")
    timed_ops = [op for op, _, _ in ops if op not in set(traced_ops)]
    per_round = len(wl.ops())
    cpu = sum(per_op[op]["exec.task_cpu_s"] for op in timed_ops) / max(1, len(timed_ops)) * per_round

    log(
        f"host cores={ctx.cores} ram_mb={ctx.ram_mb} driver_mem={ctx.driver_mem_gb}g "
        f"confs={json.dumps(dict(spark.sparkContext.getConf().getAll()), sort_keys=True)}"
    )
    log(f"window {window_s:.2f} s, {rounds} rounds, {n} operations, {failed} failed")
    for f in failures:
        log(f"FAILED {f}")

    if not lat.get("op"):
        raise RuntimeError("no operation completed")
    op_lat = lat["op"]
    pct, tail = stats.tail(op_lat)
    names = wl.ops()
    round_s = sum(stats.median(by_name[(False, nm)]) for nm in names if (False, nm) in by_name)
    items = wl.items_per_op * len(names)
    e2e = {
        "setup_s": stats.median(cycles),
        "total_cpu_s": total_cpu / rounds,
        "task_cpu_s": cpu,
        "peak_rss_mb": rss,
    }
    op_ms = stats.geomean([stats.median(v) for v in op_by_name.values()]) * 1e3
    log(f"items_per_s={items / round_s:.6g} op_ms={op_ms:.6g} host steal {steal:.1%}")
    for nm in names:
        if (False, nm) in by_name:
            log(f"  {nm}: median {stats.median(by_name[(False, nm)]):.3f} s over {len(by_name[(False, nm)])}")
    log(f"op latency: n={len(op_lat)} p50={stats.median(op_lat) * 1e3:.1f} ms p{pct:.0f}={tail * 1e3:.1f} ms; round {round_s:.3f} s")
    if "qa" in lat:
        qpct, qtail = stats.tail(lat["qa"])
        log(f"qa latency: n={len(lat['qa'])} p50={stats.median(lat['qa']) * 1e3:.1f} ms p{qpct:.0f}={qtail * 1e3:.1f} ms")

    if not args.trace:
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()},
        }

    walls = {op: b - a for op, a, b in ops}
    layers = layer_metrics(ctx, jobs, per_op, streaming.per_op(ops), traced_ops, walls, by_name, session_starts)
    for k in sorted(layers):
        log(f"layer {k} = {layers[k]:.6g}")
    log(f"spans {tracer.to_json()}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": layers[k], "unit": u} for k, u in LAYER_OUT.items()},
    }


def layer_metrics(ctx, jobs, per_op, stream_per_op, traced_ops, walls, by_name, session_starts) -> dict[str, float]:
    """Per-layer figures as means per traced operation."""
    from perfbench import stats
    from perfbench.sparkmetrics import job_count_between

    tracer = ctx.tracer
    n = len(traced_ops)
    traced = set(traced_ops)
    out: dict[str, float] = {}

    def mean_of(values: dict[str, float]) -> float:
        return sum(v for op, v in values.items() if op in traced) / n

    for span, metric in (
        ("sources.read", "sources.read_s"),
        ("sources.write", "sources.write_s"),
        ("entry.build", "entry.build_s"),
        ("plans.plan", "plans.plan_s"),
        ("operators.mmr", "operators.mmr_s"),
        ("exec.action", "exec.action_s"),
    ):
        out[metric] = mean_of(tracer.durations(span))
    for key in next(iter(per_op.values())).keys():
        out[key] = sum(per_op[op][key] for op in traced_ops) / n
    for key in next(iter(stream_per_op.values())).keys():
        out[key] = sum(stream_per_op[op][key] for op in traced_ops) / n
    # executor cores left idle over the operation: cores x wall - task time
    out["exec.idle_core_s"] = ctx.cores * mean_of(walls) - out["exec.task_run_s"]
    out["session.start_s"] = stats.median(session_starts[1:]) if len(session_starts) > 1 else session_starts[0]
    out["plans.build_jobs"] = sum(
        job_count_between(jobs, s["start"], s["end"])
        for s in tracer.spans
        if s["name"] == "entry.build" and s["op"] in traced
    ) / n
    # overhead: median traced minus median untraced wall, per operation name
    deltas = [
        stats.median(by_name[(True, nm)]) - stats.median(by_name[(False, nm)])
        for (tr, nm) in by_name
        if tr and (False, nm) in by_name
    ]
    out["trace.overhead_ms"] = sum(deltas) / len(deltas) * 1e3 if deltas else 0.0
    cov = tracer.coverage()
    out["trace.span_coverage"] = min(cov) if cov else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["embed_etl", "search_session", "roster_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "review_engine_spark" / "__init__.py").is_file() or not (ROOT / "tools" / "gen_fixture.py").is_file():
        log(f"no review_engine_spark package or tools/gen_fixture.py under {ROOT}")
        return 2
    import review_engine_spark

    if Path(review_engine_spark.__file__).resolve().parent != ROOT / "review_engine_spark":
        log(f"imported review_engine_spark from {review_engine_spark.__file__}, not from {ROOT}")
        return 2
    scratch = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    isolate(scratch)
    ctx = Ctx(args.seed, scratch, bool(args.trace))
    try:
        result = run(args, ctx)
    finally:
        ctx.shutdown()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            (ROOT / ".perfbench_tmp").rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

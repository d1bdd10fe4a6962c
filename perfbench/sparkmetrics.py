"""Spark's own metrics, read from outside the program.

Jobs, stages and SQL executions come from the driver's status REST API
(``/api/v1`` on the application UI, bound to localhost). Each job is
attributed to one benchmark operation: by its job group when the
operation set it, else by its submission time falling inside the
operation's wall-clock interval (streaming queries run their batches
under their own job group). Stage totals fold into the ``exec.*``
metrics; the Python-node SQL metrics fold into ``inference.*``.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime, timezone

#: stage field → (exec metric, scale to the metric's unit)
STAGE_FIELDS = {
    "numTasks": ("exec.tasks", 1),
    "executorRunTime": ("exec.task_run_s", 1e-3),
    "executorCpuTime": ("exec.task_cpu_s", 1e-9),
    "jvmGcTime": ("exec.gc_s", 1e-3),
    "shuffleWriteBytes": ("exec.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("exec.shuffle_read_bytes", 1),
    "shuffleFetchWaitTime": ("exec.fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("exec.spill_bytes", 1),
    "diskBytesSpilled": ("exec.spill_bytes", 1),
    "inputBytes": ("sources.input_bytes", 1),
    "outputBytes": ("sources.output_bytes", 1),
}

#: Python-node SQL metric name → inference metric
PYTHON_SQL_METRICS = {
    "time to start Python workers": "inference.boot_s",
    "time to initialize Python workers": "inference.init_s",
    "time to run Python workers": "inference.run_s",
    "data sent to Python workers": "inference.bytes_sent",
    "data returned from Python workers": "inference.bytes_returned",
    "number of output rows": "inference.rows",
}
INFERENCE_METRICS = sorted(set(PYTHON_SQL_METRICS.values()))
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow(?:Eval|Window)")

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"(-?[\d.,]+)\s*([A-Za-zµ]*)")


def parse_sql_metric(text: str) -> float:
    """Total of one SQL metric as the UI prints it, in seconds or bytes.

    Plain counts read ``"1,234"``; timings and sizes read either
    ``"12 ms"`` or ``"total (min, med, max ...)\\n1.2 s (...)"``, whose
    first figure after the header line is the total.
    """
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def parse_time(stamp: str | None) -> float | None:
    """Epoch seconds of a REST timestamp like ``2026-10-16T20:50:22.123GMT``."""
    if not stamp:
        return None
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def fold_stages(stages: list[dict]) -> dict[str, float]:
    """Sum stage attempts into ``exec.*`` (and scan/write byte) totals;
    peak execution memory is the maximum, not the sum. Skipped stages
    (shuffle output reused) ran no tasks."""
    out = {m: 0.0 for m, _ in STAGE_FIELDS.values()}
    out["exec.peak_exec_memory_bytes"] = 0.0
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        for field, (metric, scale) in STAGE_FIELDS.items():
            out[metric] += float(st.get(field, 0) or 0) * scale
        out["exec.peak_exec_memory_bytes"] = max(
            out["exec.peak_exec_memory_bytes"], float(st.get("peakExecutionMemory", 0) or 0)
        )
    return out


def fold_python_nodes(executions: list[dict]) -> dict[str, float]:
    """Sum the Python-worker SQL metrics of every Python plan node."""
    out = {m: 0.0 for m in INFERENCE_METRICS}
    for ex in executions:
        for node in ex.get("nodes", []):
            if not PYTHON_NODE.search(node.get("nodeName", "")):
                continue
            for metric in node.get("metrics", []):
                name = PYTHON_SQL_METRICS.get(metric.get("name"))
                if name:
                    out[name] += parse_sql_metric(metric.get("value", ""))
    return out


class StatusClient:
    """Reads jobs, stages and SQL executions of the live application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> list[dict]:
        return self._get("/stages")

    def sql(self) -> list[dict]:
        return self._get("/sql?details=true&planDescription=false&length=100000")

    def wait_idle(self, timeout: float = 20.0) -> list[dict]:
        """Jobs once the listener bus has caught up: nothing running and
        the job list unchanged across two polls."""
        deadline = time.monotonic() + timeout
        last = None
        while True:
            jobs = self.jobs()
            sig = [(j["jobId"], j["status"]) for j in jobs]
            idle = all(j["status"] != "RUNNING" for j in jobs)
            if (idle and sig == last) or time.monotonic() > deadline:
                return jobs
            last = sig
            time.sleep(0.1)


def attribute_jobs(jobs: list[dict], ops: list[tuple[str, float, float]]) -> dict[int, str]:
    """Map job id → operation id. ``ops`` holds ``(op_id, start, end)`` in
    epoch seconds. A job keeps the operation named by its job group;
    any other job goes to the operation whose interval holds its
    submission time, and is dropped when none does."""
    ids = {op for op, _, _ in ops}
    out: dict[int, str] = {}
    for job in jobs:
        group = job.get("jobGroup")
        if group in ids:
            out[job["jobId"]] = group
            continue
        t = parse_time(job.get("submissionTime"))
        if t is None:
            continue
        for op, start, end in ops:
            if start <= t <= end:
                out[job["jobId"]] = op
                break
    return out


def per_op_totals(
    jobs: list[dict],
    stages: list[dict],
    executions: list[dict],
    ops: list[tuple[str, float, float]],
) -> dict[str, dict[str, float]]:
    """``exec.*`` and ``inference.*`` totals for each operation."""
    owner = attribute_jobs(jobs, ops)
    stage_owner: dict[int, str] = {}
    njobs: dict[str, int] = {}
    for job in jobs:
        op = owner.get(job["jobId"])
        if op is None:
            continue
        njobs[op] = njobs.get(op, 0) + 1
        for sid in job.get("stageIds", []):
            stage_owner[sid] = op
    by_op_stages: dict[str, list[dict]] = {}
    for st in stages:
        op = stage_owner.get(st["stageId"])
        if op is not None:
            by_op_stages.setdefault(op, []).append(st)
    by_op_sql: dict[str, list[dict]] = {}
    for ex in executions:
        jids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        op = next((owner[j] for j in jids if j in owner), None)
        if op is not None:
            by_op_sql.setdefault(op, []).append(ex)
    out = {}
    for op, _, _ in ops:
        tot = fold_stages(by_op_stages.get(op, []))
        tot.update(fold_python_nodes(by_op_sql.get(op, [])))
        tot["exec.jobs"] = float(njobs.get(op, 0))
        out[op] = tot
    return out


def job_count_between(jobs: list[dict], start: float, end: float) -> int:
    n = 0
    for job in jobs:
        t = parse_time(job.get("submissionTime"))
        if t is not None and start <= t <= end:
            n += 1
    return n

"""bench.py: the per-query record, the final line, and one end-to-end run."""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402

FINAL_KEYS = {
    "metric", "value", "unit", "queries", "sf", "n_queries", "sec_per_query", "n_failed", "task_cpu_s",
}


def _totals(cpu: float) -> dict[str, float]:
    return {"exec.task_cpu_s": cpu, "exec.gc_s": 0.01, "exec.fetch_wait_s": 0.0, "exec.spill_bytes": 0.0, "exec.jobs": 3.0}


def test_final_line_fits_the_tail_budget_at_300_queries():
    records = {
        f"q_some_rather_long_query_name_{i:03d}": bench.query_record([1.0 + i / 7, 0.5 + i / 9], [0.5, 0.25], [], _totals(0.25), [40, 0])
        for i in range(300)
    }
    full = bench.summary(records, 0.1)
    line = bench.final_line(full)
    assert len(line.encode()) <= bench.TAIL_BUDGET
    out = json.loads(line)
    assert set(out) == FINAL_KEYS
    assert not any(k.startswith(("canary", "disk", "drift")) or k == "contended" for k in out)
    assert out["n_queries"] == 300 and out["n_failed"] == 0
    assert out["value"] == round(sum(r["wall_s"] for r in records.values()), 3)
    assert out["task_cpu_s"] == 37.5  # 0.25 s over two runs: 0.125 s per run
    assert 0 < len(out["queries"]) <= 8
    slowest = max(records, key=lambda n: records[n]["wall_s"])
    assert out["queries"][slowest] == records[slowest]["wall_s"]


def test_failure_is_recorded_only_when_every_run_raised():
    boom = ValueError("bad column\n  at line 2")
    failed = bench.query_record([0.2, 0.1], [0.2, 0.1], [boom, boom], _totals(0.0), [3, 1])
    flaky = bench.query_record([0.2, 0.3], [0.2, 0.05], [boom], _totals(0.4), [12, 0])
    assert failed == {
        "wall_s": 0.1, "build_s": 0.1, "exec_s": 0.0, "exec.task_cpu_s": 0.0, "exec.gc_s": 0.005, "exec.fetch_wait_s": 0.0,
        "exec.spill_bytes": 0.0, "compiles_cold": 3, "compiles_warm": 1, "failure": "ValueError: bad column",
    }
    assert "failure" not in flaky
    # build and execute are the best run's, not each figure's own minimum
    split = bench.query_record([0.5, 0.4], [0.1, 0.3], [], _totals(0.1), [5, 0])
    assert (split["wall_s"], split["build_s"], split["exec_s"]) == (0.4, 0.3, 0.1)
    assert bench.query_record([0.2], [0.05], [], _totals(0.1), [7])["compiles_warm"] is None
    full = bench.summary({"q_a": failed, "q_b": flaky}, 0.01)
    assert full["n_failed"] == 1
    assert json.loads(bench.final_line(full))["n_failed"] == 1


def test_bench_runs_two_queries_end_to_end(sf_dir):
    names = ["q_group_count", "q_rank_blend"]
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--sf-dir", sf_dir, *names],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    final = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(final) == FINAL_KEYS
    assert final["n_queries"] == 2 and final["n_failed"] == 0 and final["sf"] == 0.001
    timing = {
        m.group(1): (float(m.group(2)), float(m.group(3)), int(m.group(4)), int(m.group(5)))
        for m in re.finditer(r"^# timing (\S+) (\S+) task_cpu_s=(\S+) compiles=(\d+)/(\d+)$", out.stderr, re.M)
    }
    assert set(timing) == set(names)
    assert all(wall > 0 and cpu > 0 and cold > 0 for wall, cpu, cold, _ in timing.values()), timing
    assert final["task_cpu_s"] == round(sum(cpu for _, cpu, _, _ in timing.values()), 3)

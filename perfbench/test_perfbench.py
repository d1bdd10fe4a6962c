"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import gzip
import json
import os
import sys
import time
import types

import pyarrow.parquet as pq
import pytest

from perfbench import gen, sparkmetrics, stats
from perfbench.spans import Tracer


def test_reviews_same_seed_same_inputs_other_seed_differs():
    a, keep_a = gen.reviews(7, 2_000, 300)
    b, keep_b = gen.reviews(7, 2_000, 300)
    c, _ = gen.reviews(8, 2_000, 300)
    assert a.equals(b) and keep_a == keep_b
    assert not a.equals(c)


def test_reviews_carry_dirt_and_zipf_popularity():
    df, keep = gen.reviews(1, 5_000, 1_000)
    text = " ".join(df["text"])
    for marker in ("&amp;", "http", "<b>", "@"):
        assert marker in text
    counts = df["parent_asin"].value_counts()
    assert counts.iloc[0] > 20 * counts.median()  # a few products dominate
    assert keep < set(df["parent_asin"])  # some products keep no review


def test_jsonl_gz_round_trips(tmp_path):
    df, _ = gen.reviews(3, 500, 50)
    gen.write_jsonl_gz(df, str(tmp_path), 4)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 4
    rows = []
    for f in files:
        with gzip.open(tmp_path / f, "rt") as fh:
            rows += [json.loads(line) for line in fh]
    assert [r["parent_asin"] for r in rows] == df["parent_asin"].tolist()
    assert rows[0]["text"] == df["text"].iloc[0]


def test_catalog_and_requests_deterministic(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.catalog(seed, str(tmp_path / d), 200, 8, 2)
    for name in ("products", "embeddings", "chunks"):
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))
    products = pq.read_table(tmp_path / "a" / "products.parquet")
    for col in ("price", "rating", "review_count", "summary"):
        assert 0 < products.column(col).null_count < products.num_rows
    assert gen.requests(5, 30, 8) == gen.requests(5, 30, 8) != gen.requests(6, 30, 8)


def test_requests_cover_every_budget_family():
    queries = [q for q, _, _ in gen.requests(1, 300, 4)]
    for marker in ("between $", "under $", "dollars", " budget", "budget $"):
        assert any(marker in q for q in queries)
    assert any(not any(w in q for w in ("$", "budget", "dollars")) for q in queries)


@pytest.mark.parametrize(
    "n, pct, rank",
    [
        (11, 100 / 11, 1),  # one sample has ten beyond it
        (20, 50.0, 10),
        (100, 90.0, 90),
        (1000, 99.0, 990),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, rank):
    values = [float(i) for i in range(1, n + 1)][::-1]
    got_pct, got = stats.tail(values)
    assert got_pct == pytest.approx(pct)
    assert got == rank
    assert sum(v > got for v in values) == 10


def test_geomean_weighs_each_kind_equally():
    assert stats.geomean([4.0]) == pytest.approx(4.0)
    assert stats.geomean([0.5, 2.0, 1.0]) == pytest.approx(1.0)


def test_tail_without_enough_samples_falls_back_to_median():
    assert stats.tail([3.0, 1.0, 2.0]) == (50.0, 2.0)
    assert stats.tail([float(i) for i in range(10)]) == (50.0, 4.5)


# Two stage attempts and one SQL execution as the status API returned
# them for a join with a pandas UDF (fields trimmed to those used).
STAGES = [
    {"stageId": 3, "numTasks": 4, "executorRunTime": 1500, "executorCpuTime": 900_000_000,
     "jvmGcTime": 20, "shuffleWriteBytes": 4096, "shuffleReadBytes": 0, "shuffleFetchWaitTime": 0,
     "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "inputBytes": 73_425, "outputBytes": 0,
     "peakExecutionMemory": 50_000_000},
    {"stageId": 4, "numTasks": 1, "executorRunTime": 250, "executorCpuTime": 100_000_000,
     "jvmGcTime": 5, "shuffleWriteBytes": 0, "shuffleReadBytes": 4096, "shuffleFetchWaitTime": 3,
     "memoryBytesSpilled": 1024, "diskBytesSpilled": 512, "inputBytes": 0, "outputBytes": 0,
     "peakExecutionMemory": 8_000_000},
    {"stageId": 2, "status": "SKIPPED", "numTasks": 4},
]
SQL = [
    {"successJobIds": [7], "nodes": [
        {"nodeName": "ArrowEvalPython", "metrics": [
            {"name": "time to run Python workers", "value": "total (min, med, max (stageId: taskId))\n11.0 s (2.6 s, 2.8 s, 2.8 s (stage 0.0: task 1))"},
            {"name": "time to initialize Python workers", "value": "total (min, med, max (stageId: taskId))\n840 ms (840 ms, 840 ms, 840 ms (stage 0.0: task 1))"},
            {"name": "data sent to Python workers", "value": "total (min, med, max (stageId: taskId))\n168.1 KiB (38.8 KiB, 44.7 KiB, 44.7 KiB (stage 0.0: task 3))"},
            {"name": "number of output rows", "value": "20,000"},
        ]},
        {"nodeName": "Range", "metrics": [{"name": "number of output rows", "value": "20,000"}]},
    ]},
]
JOBS = [
    {"jobId": 7, "jobGroup": "op-a", "stageIds": [3, 4], "submissionTime": "2026-10-16T21:09:00.030GMT"},
    {"jobId": 8, "jobGroup": "stream-run", "stageIds": [5], "submissionTime": "2026-10-16T21:09:05.500GMT"},
    {"jobId": 9, "jobGroup": None, "stageIds": [6], "submissionTime": "2026-10-16T21:10:00.000GMT"},
]


def test_fold_stages_into_exec_metrics():
    tot = sparkmetrics.fold_stages(STAGES)
    assert tot["exec.tasks"] == 5
    assert tot["exec.task_run_s"] == pytest.approx(1.75)
    assert tot["exec.task_cpu_s"] == pytest.approx(1.0)
    assert tot["exec.gc_s"] == pytest.approx(0.025)
    assert tot["exec.shuffle_write_bytes"] == tot["exec.shuffle_read_bytes"] == 4096
    assert tot["exec.fetch_wait_s"] == pytest.approx(0.003)
    assert tot["exec.spill_bytes"] == 1536
    assert tot["exec.peak_exec_memory_bytes"] == 50_000_000  # a maximum, not a sum
    assert tot["sources.input_bytes"] == 73_425


def test_fold_python_nodes_into_inference_metrics():
    tot = sparkmetrics.fold_python_nodes(SQL)
    assert tot["inference.run_s"] == pytest.approx(11.0)
    assert tot["inference.init_s"] == pytest.approx(0.84)
    assert tot["inference.bytes_sent"] == pytest.approx(168.1 * 1024)
    assert tot["inference.rows"] == 20_000  # the Range node is not a Python node
    assert tot["inference.boot_s"] == 0


def test_jobs_attributed_by_group_then_by_time():
    t = sparkmetrics.parse_time("2026-10-16T21:09:05.000GMT")
    ops = [("op-a", t - 10, t - 1), ("op-b", t, t + 10)]
    owner = sparkmetrics.attribute_jobs(JOBS, ops)
    assert owner == {7: "op-a", 8: "op-b"}  # job 9 ran outside every operation
    per_op = sparkmetrics.per_op_totals(JOBS, STAGES, SQL, ops)
    assert per_op["op-a"]["exec.jobs"] == 1 and per_op["op-a"]["exec.tasks"] == 5
    assert per_op["op-a"]["inference.rows"] == 20_000
    assert per_op["op-b"]["exec.jobs"] == 1 and per_op["op-b"]["exec.tasks"] == 0


def test_span_coverage():
    tr = Tracer(True)
    with tr.span("op"):
        with tr.span("child"):
            time.sleep(0.05)
    assert tr.coverage() == [pytest.approx(1.0, abs=0.05)]
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == [] and off.coverage() == []


def test_patch_spans_calls_bound_by_name_in_modules(monkeypatch):
    mod = types.ModuleType("fakepkg.layer")

    def f(x):
        return x + 1

    mod.f = f
    monkeypatch.setitem(sys.modules, "fakepkg.layer", mod)
    tr = Tracer(True)
    assert tr.patch("layer.f", "f", f, prefix="fakepkg") == 1
    assert mod.f(1) == 2
    assert [s["name"] for s in tr.spans] == ["layer.f"]

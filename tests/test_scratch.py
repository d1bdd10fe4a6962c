"""The scratch root (review_engine_spark/scratch.py): no query leaves a
temp file behind, and no artifact-served result depends on which query
trained the artifact."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

#: The roster queries that land data in a scratch directory and re-read it.
SCRATCH_QUERIES = [
    "q_sink_roundtrip",
    "q_csv_roundtrip",
    "q_schema_evolution",
    "q_orc_roundtrip",
    "q_bucketed_join",
    "q_partitioned_prune",
    "q_binary_files",
]


@pytest.mark.parametrize(
    "train, apply",
    [("q_pca_topk", "q_pca_project"), ("q_bpe_merges", "q_bpe_encode")],
)
def test_artifact_query_same_rows_cold_and_after_train(
    spark, sf_dir, tmp_path, monkeypatch, scratch_root, train, apply
):
    """``apply`` gives the same rows with an empty artifact store as it
    does when ``train`` stored the artifact it reads (q_pca_topk stores
    four components, of which q_pca_project reads the first)."""
    from review_engine_spark.plans import QUERIES

    def rows():
        return sorted(map(tuple, QUERIES[apply](spark, sf_dir).collect()))

    cold = rows()
    monkeypatch.setattr(scratch_root, "_root", str(tmp_path / "after_train"))
    scratch_root._MEMO.clear()
    QUERIES[train](spark, sf_dir).collect()
    assert os.listdir(tmp_path / "after_train" / "artifacts")
    scratch_root._MEMO.clear()  # the stored file serves, not the memo
    assert rows() == cold


def test_scratch_queries_leave_only_artifacts_in_tmpdir(tmp_path, sf_dir):
    """A process that runs every scratch query and exits leaves nothing of
    the engine's in ``TMPDIR`` but the artifact store."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    probe = "\n".join([
        "from review_engine_spark.plans import QUERIES",
        "from review_engine_spark.session import get_spark",
        "s = get_spark('leak', master='local[2]', shuffle_partitions=4,"
        " extra_conf={'spark.driver.memory': '1g'})",
        f"for name in {SCRATCH_QUERIES!r}:",
        f"    QUERIES[name](s, {sf_dir!r}).collect()",
    ])
    path = os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")]))
    env = {**os.environ, "TMPDIR": str(tmp), "PYTHONPATH": path}
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    root = f"review_engine_spark-{os.getuid()}"
    left = sorted(str(p.relative_to(tmp)) for p in tmp.rglob("*"))
    assert all(p in (root, f"{root}/artifacts") or p.startswith(f"{root}/artifacts/") for p in left), left


def test_first_scratch_dir_removes_the_run_dirs_of_dead_processes(scratch_root):
    """A process killed before its exit handler ran leaves its ``run-<pid>/``;
    the next process to make a scratch directory removes it, and leaves the
    directories of live processes alone."""
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    live = os.getppid()
    root = Path(scratch_root.root())
    for pid in (dead.pid, live):
        (root / f"run-{pid}" / "x").mkdir(parents=True)
    scratch_root.scratch_dir("sweep")
    assert not (root / f"run-{dead.pid}").exists()
    assert (root / f"run-{live}" / "x").is_dir()
    assert (root / f"run-{os.getpid()}").is_dir()

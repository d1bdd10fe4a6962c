"""session.get_spark defaults that change driver-side and Python-worker cost."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent


def test_column_calls_skip_call_site_capture():
    """A fresh interpreter: PySpark reads the DataFrame-debugging flag once
    per process, at the first Column call under an active session, so the
    test session's answer is already fixed. With call-site capture on, the
    six Column calls below send 62 py4j commands; with it off, 12, and 7
    once ``get_spark``'s class-lookup memo spares the lookups of
    ``functions`` and of its methods (the first ``lit`` still asks for its
    method once). Only the calling thread's commands count: py4j's
    finalizer thread sends the deletes of objects freed earlier whenever
    its 1 s poll wakes, and under CPU load that poll fell inside the six
    calls (11 and 39 commands seen, 32 of them deletes)."""
    probe = "\n".join([
        f"import json, sys, threading; sys.path.insert(0, {str(REPO)!r})",
        "from pyspark.sql import functions as F",
        "from review_engine_spark.session import get_spark",
        "s = get_spark('probe', master='local[1]', shuffle_partitions=1, extra_conf={'spark.driver.memory': '1g'})",
        "F.col('warm') + 1",
        "client = s.sparkContext._gateway._gateway_client",
        "sent = []",
        "send = client.send_command",
        "mine = threading.current_thread()",
        "client.send_command = lambda *a, **k: (threading.current_thread() is mine and sent.append(1)) or send(*a, **k)",
        "(F.col('a') * F.col('b') + F.lit(1.0)).alias('c')",
        "client.send_command = send",
        "print(json.dumps({'sent': len(sent)})); s.stop()",
    ])
    out = subprocess.run([sys.executable, "-c", probe], capture_output=True, text=True, timeout=300, check=True)
    sent = json.loads(out.stdout.strip().splitlines()[-1])["sent"]
    assert 0 < sent <= 7


def test_class_lookups_are_memoized_across_session_restarts():
    """A fresh interpreter: after ``get_spark``, bare lookups of the
    classes PySpark reaches by name and a repeated ``F.col``/``F.lit`` send
    no py4j reflection command (``r``), where each ``F.*`` call sent two
    before. A session stopped and started again on the same gateway, as
    perfbench's set-up cycles do, keeps the memo and its cached methods."""
    probe = "\n".join([
        f"import json, sys; sys.path.insert(0, {str(REPO)!r})",
        "from pyspark.sql import functions as F",
        "from review_engine_spark.session import get_spark",
        "conf = dict(master='local[1]', shuffle_partitions=1, extra_conf={'spark.driver.memory': '1g'})",
        "s = get_spark('probe', **conf)",
        "F.col('warm'), F.lit(0)",
        "client = s.sparkContext._gateway._gateway_client",
        "send = client.send_command",
        "def sent_by_kind():",
        "    jvm, kinds = s.sparkContext._jvm, []",
        "    client.send_command = lambda cmd, *a, **k: kinds.append(cmd[0]) or send(cmd, *a, **k)",
        "    jvm.functions, jvm.PythonUtils, jvm.PythonSQLUtils",
        "    F.col('a'), F.lit(1)",
        "    client.send_command = send",
        "    return {k: kinds.count(k) for k in 'rc'}",
        "first = sent_by_kind()",
        "s.stop()",
        "s = get_spark('probe', **conf)",
        "same = s.sparkContext._gateway._gateway_client is client",
        "print(json.dumps({'first': first, 'restarted': sent_by_kind(), 'same_gateway': same})); s.stop()",
    ])
    out = subprocess.run([sys.executable, "-c", probe], capture_output=True, text=True, timeout=300, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"first": {"r": 0, "c": 2}, "restarted": {"r": 0, "c": 2}, "same_gateway": True}


def test_local_session_is_sized_from_the_host(monkeypatch):
    """No env override: as many local threads as usable cores, and half of
    physical RAM (at most 16g) for the driver heap. Each env var wins."""
    import os

    from review_engine_spark.session import host_defaults

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    assert host_defaults() == (len(os.sched_getaffinity(0)), f"{max(1, min(16, half_gib))}g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert host_defaults() == (3, "2g")


#: the ``roster_mix`` queries whose classes are the same on every run,
#: plus four more so one pass overflows Spark's default of 100 entries
#: (151 distinct classes at sf0.001 under ``local[2]``). Left out:
#: ``q_perplexity_gate`` and ``q_tpch_q9``, whose AQE re-planning picks a
#: plan variant by stage completion order, so a warm pass can still
#: compile a variant it has not met before.
WARM_QUERIES = [
    "q_stream_dedup", "q_porter_stem", "q_sink_roundtrip", "q_group_count", "q_json_extract",
    "q_containment_dedup", "q_sequence_pack", "q_countmin", "q_benford",
]


def test_warm_pass_compiles_nothing(spark, sf_dir):
    """Spark's cache of generated classes holds every class one pass
    needs, so a second pass runs them all from the cache. At the default
    of 100 entries the pass evicted its own classes before reusing them,
    and every warm pass compiled over 120 of its 151 classes again."""
    from review_engine_spark.plans import QUERIES
    from review_engine_spark.session import DEFAULT_CONF

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == DEFAULT_CONF[key]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        for name in WARM_QUERIES:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before == 0


def test_workers_import_pyspark_from_its_installed_directory(spark):
    """The session's Python workers run ``review_engine_spark.worker_daemon``:
    PySpark comes from a directory, and no ``zipimporter`` is left for each
    task's ``importlib.invalidate_caches()`` to re-read (16 under Spark's
    own daemon, about 120–200 ms of CPU per task)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def report(ids: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        return pd.Series([json.dumps({
            "pyspark": pyspark.__file__,
            "zipimporters": sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()),
            "jars": [p for p in sys.path if p.endswith(".jar")],
        })] * len(ids))

    worker = json.loads(spark.range(1).select(report("id")).first()[0])
    assert (".zip" in worker["pyspark"], worker["zipimporters"], worker["jars"]) == (False, 0, []), worker


def _zip(path: Path, member: str, text: str) -> str:
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(member, text)
    return str(path)


def _installed(site: Path, version: str) -> str:
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "version.py").write_text(version)
    return str(site)


def test_worker_path_drops_archives_only_for_the_same_installed_release(tmp_path):
    """Spark's jar and archives leave the worker's path only when an
    installed copy of the same release follows them; a different release,
    or none at all, leaves the path exactly as Spark set it."""
    from review_engine_spark.worker_daemon import pruned_path

    release = "__version__: str = '4.1.2'\n"
    spark_path = [
        str(tmp_path / "cwd"),
        _zip(tmp_path / "pyspark.zip", "pyspark/version.py", release),
        _zip(tmp_path / "py4j-0.10.9.9-src.zip", "py4j/version.py", release),
        _zip(tmp_path / "spark-core_2.13-4.1.2.jar", "org/Main.class", ""),
    ]
    same = _installed(tmp_path / "same" / "site-packages", release)
    assert pruned_path([*spark_path, same]) == [str(tmp_path / "cwd"), same]
    other = _installed(tmp_path / "other" / "site-packages", "__version__: str = '4.0.0'\n")
    assert pruned_path([*spark_path, other]) == [*spark_path, other]
    assert pruned_path(spark_path) == spark_path


def test_worker_daemon_imports_no_pyspark_before_pruning():
    """``python -m review_engine_spark.worker_daemon`` imports the package
    and the module before it prunes the path, so neither may import
    PySpark."""
    probe = "import sys, review_engine_spark.worker_daemon; print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    out = subprocess.run([sys.executable, "-c", probe], cwd=REPO, capture_output=True, text=True, timeout=60, check=True)
    assert out.stdout.strip() == "[]"

"""sources.io.read_parquet_table: the inferred-schema memo gives the same
frame as a fresh inference and skips the inference job."""

from __future__ import annotations

import itertools
import re

import pyarrow as pa
import pyarrow.parquet as pq

from review_engine_spark.schemas import FIXTURE_SCHEMAS
from review_engine_spark.sources import io

_groups = itertools.count()


def jobs_in(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"test-io-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def plan_text(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().executedPlan().toString())


def test_memo_read_matches_fresh_inference(spark, sf_dir):
    for name in FIXTURE_SCHEMAS:
        io._schema_memo.clear()
        fresh, fresh_jobs = jobs_in(spark, lambda: io.read_parquet_table(spark, sf_dir, name))
        memo, memo_jobs = jobs_in(spark, lambda: io.read_parquet_table(spark, sf_dir, name))
        assert (fresh_jobs, memo_jobs) == (1, 0), name
        assert memo.schema == fresh.schema, name  # names, types, nullability, metadata
        assert plan_text(memo) == plan_text(fresh), name
        assert memo.collect() == fresh.collect(), name


def test_second_read_of_unchanged_table_submits_no_job(spark, sf_dir):
    io.read_parquet_table(spark, sf_dir, "orders")
    _, jobs = jobs_in(spark, lambda: io.read_parquet_table(spark, sf_dir, "orders"))
    assert jobs == 0


def test_rewritten_table_infers_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert io.read_parquet_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": pa.array([3], pa.int64()), "b": ["x"]}), path)
    df, jobs = jobs_in(spark, lambda: io.read_parquet_table(spark, str(tmp_path), "t"))
    assert jobs == 1
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_schema_conf_change_infers_again(spark, sf_dir):
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = f"{sf_dir}/orders.parquet"
    before = spark.conf.get(conf)
    assert before == "true"
    assert dict(io._read_parquet(spark, path).dtypes)["o_orderdate"] == "timestamp_ntz"
    try:
        spark.conf.set(conf, "false")
        df, jobs = jobs_in(spark, lambda: io._read_parquet(spark, path))
        assert jobs == 1
        assert dict(df.dtypes)["o_orderdate"] == "timestamp"
    finally:
        spark.conf.set(conf, before)
    df, jobs = jobs_in(spark, lambda: io._read_parquet(spark, path))
    assert jobs == 0
    assert dict(df.dtypes)["o_orderdate"] == "timestamp_ntz"


def test_memo_key_covers_local_files_only(tmp_path):
    flat = tmp_path / "flat.parquet"
    flat.mkdir()
    pq.write_table(pa.table({"a": [1]}), flat / "part-0.parquet")
    before = io._local_files_key(str(flat))
    pq.write_table(pa.table({"a": [2]}), flat / "part-1.parquet")
    assert before is not None and io._local_files_key(str(flat)) not in (None, before)
    pq.write_table(pa.table({"a": [1]}), tmp_path / "t.parquet")
    assert io._local_files_key(str(tmp_path / "t.parquet")) is not None
    (tmp_path / "nested" / "k=1").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1]}), tmp_path / "nested" / "k=1" / "p.parquet")
    for path in [
        f"file://{tmp_path}/t.parquet",
        "t.parquet",
        f"{tmp_path}/*.parquet",
        str(tmp_path / "nested"),
        str(tmp_path / "missing.parquet"),
    ]:
        assert io._local_files_key(path) is None, path

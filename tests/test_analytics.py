"""Independent-reference checks for the event-analytics roster.

The DuckDB oracles prove cross-engine agreement; these tests prove the
SEMANTICS against third implementations: pandas ``ewm(adjust=False)``
for the EWMA fold, a pure-Python recurrence for CUSUM, a hand-rolled
Welch t-test, and exact set logic for the bloom filter's one-sided
error guarantee (no false negatives ever).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from review_engine_spark.plans.roster_analytics import (
    q_abtest_ttest,
    q_cusum,
    q_ewma,
)
from review_engine_spark.plans.roster_retrieval import q_bloom_membership
from review_engine_spark.sources.io import read_parquet_table


def _events_pdf(spark, sf_dir):
    return (
        read_parquet_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )


def test_ewma_matches_pandas_ewm(spark, sf_dir):
    got = {r["user_id"]: r["ewma"] for r in q_ewma(spark, sf_dir).collect()}
    pdf = _events_pdf(spark, sf_dir)
    for uid, grp in pdf.groupby("user_id"):
        want = grp["value"].ewm(alpha=0.1, adjust=False).mean().iloc[-1]
        assert got[uid] == pytest.approx(want, abs=1e-6), uid


def test_cusum_matches_python_recurrence(spark, sf_dir):
    got = {r["user_id"]: r["cusum"] for r in q_cusum(spark, sf_dir).collect()}
    pdf = _events_pdf(spark, sf_dir)
    k = math.floor(pdf["value"].mean() * 100 + 0.5) / 100.0
    for uid, grp in pdf.groupby("user_id"):
        acc = 0.0
        for v in grp["value"]:
            acc = max(0.0, acc + (v - k))
        assert got[uid] == pytest.approx(acc, abs=1e-4), uid


def test_ttest_matches_hand_welch(spark, sf_dir):
    row = q_abtest_ttest(spark, sf_dir).collect()[0]
    pdf = _events_pdf(spark, sf_dir)
    p = pdf[pdf["event_type"] == "purchase"].copy()
    p["c"] = (p["value"] * 100 + 0.5).apply(math.floor) / 100.0
    a = p[p["user_id"] % 2 == 0]["c"]
    b = p[p["user_id"] % 2 == 1]["c"]
    t = (a.mean() - b.mean()) / math.sqrt(
        a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    )
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert row["t_stat"] == pytest.approx(t, abs=1e-3)


def test_bloom_never_false_negative(spark, sf_dir):
    rows = q_bloom_membership(spark, sf_dir).collect()
    assert rows, "probe set must be non-empty"
    # One-sided guarantee: every actually-present (probe, source) pair
    # must be a bloom hit; misses may only occur on absent pairs.
    for r in rows:
        if r["actual_in"]:
            assert r["bloom_hit"], (r["probe_id"], r["source"])
    # The absent synthetic probes exist and at least one is correctly
    # rejected somewhere (the filter is not saturated).
    absent = [r for r in rows if r["probe_id"] >= 20000]
    assert absent and any(not r["bloom_hit"] for r in absent)


def test_stream_ewma_crosses_batches_and_matches_batch_fold(spark, tmp_path):
    """Two time-ordered files driven one-per-trigger: the EWMA state must
    carry across micro-batches and the final value must equal the batch
    recurrence over the concatenated history."""
    from review_engine_spark.streaming.jobs import run_ewma_stateful

    base = pd.Timestamp("2024-01-01")
    vals_a, vals_b = [10.0, 20.0, 30.0], [40.0, 50.0]

    def write(vals, start_id, name):
        pd.DataFrame(
            {
                "event_id": range(start_id, start_id + len(vals)),
                "ts": [
                    base + pd.Timedelta(minutes=start_id + i)
                    for i in range(len(vals))
                ],
                "user_id": 1,
                "event_type": "view",
                "value": vals,
                "props": "{}",
            }
        ).to_parquet(tmp_path / name)

    import time as _time

    write(vals_a, 0, "a_events.parquet")
    _time.sleep(1.1)  # file-source ordering is by modification time
    write(vals_b, 10, "b_events.parquet")

    raw = run_ewma_stateful(
        spark,
        str(tmp_path),
        path_glob="*_events.parquet",
        max_files_per_trigger=1,
    ).toPandas()

    # provisional rows from both batches prove two triggers ran
    assert len(raw) == 2 and set(raw["n_events"]) == {3, 5}

    acc = None
    for v in vals_a + vals_b:
        acc = v if acc is None else 0.1 * v + 0.9 * acc
    final = raw.sort_values("n_events").iloc[-1]
    assert final["ewma"] == acc  # bit-exact: same IEEE op sequence


def test_fold_determinism_property_spark_vs_duckdb(spark):
    """Property: for ARBITRARY float histories, the Spark F.aggregate fold
    and DuckDB list_reduce produce the identical double (same IEEE op
    sequence) — the doctrine behind q_ewma/q_cusum/q_stream_ewma, proven
    beyond the fixture corpus."""
    import duckdb
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import functions as F

    vals = st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False, width=64,
        ),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=15, deadline=None)
    @given(vals)
    def prop(xs):
        df = spark.createDataFrame(
            [(i, float(x)) for i, x in enumerate(xs)], "i long, v double"
        )
        arr = F.transform(
            F.array_sort(F.collect_list(F.struct("i", "v"))), lambda s: s.v
        )
        ewma = F.aggregate(
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            F.element_at(arr, 1).cast("double"),
            lambda acc, x: F.lit(0.1) * x + F.lit(0.9) * acc,
        )
        got = df.agg(ewma.alias("e")).collect()[0]["e"]
        con = duckdb.connect()
        con.execute("CREATE TABLE t (i BIGINT, v DOUBLE)")
        con.executemany(
            "INSERT INTO t VALUES (?, ?)", list(enumerate(map(float, xs)))
        )
        want = con.execute(
            "SELECT list_reduce(list(v ORDER BY i),"
            " (acc, x) -> 0.1 * x + 0.9 * acc) FROM t"
        ).fetchone()[0]
        assert got == want, (xs, got, want)  # bit-exact, no tolerance

    prop()


def test_cent_quantization_property_spark_vs_duckdb(spark):
    """Property: floor(x*100 + 0.5) cent quantization is engine-identical
    for arbitrary doubles — the exact-moments doctrine behind
    q_anomaly_zscore / q_abtest_ttest / q_tpch_q11."""
    import duckdb
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import functions as F

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=-1e7, max_value=1e7,
                allow_nan=False, allow_infinity=False, width=64,
            ),
            min_size=1,
            max_size=30,
        )
    )
    def prop(xs):
        df = spark.createDataFrame([(float(x),) for x in xs], "v double")
        got = sorted(
            r["c"]
            for r in df.select(
                F.floor(F.col("v") * 100 + 0.5).cast("long").alias("c")
            ).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE t (v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(float(x),) for x in xs])
        want = sorted(
            r[0]
            for r in con.execute(
                "SELECT CAST(floor(v * 100 + 0.5) AS BIGINT) FROM t"
            ).fetchall()
        )
        assert got == want

    prop()


def test_stream_anomaly_equals_batch_zscore(spark, sf_dir):
    """Stream-batch parity: the ring-buffer GroupState scorer must emit
    EXACTLY the batch window query's anomaly set (same integer moments,
    same IEEE op sequence) on in-order arrival."""
    from review_engine_spark.plans.roster_analytics import (
        q_anomaly_zscore,
        q_stream_anomaly,
    )

    batch = {
        (r["event_id"], r["user_id"], r["zscore"])
        for r in q_anomaly_zscore(spark, sf_dir).collect()
    }
    stream = {
        (r["event_id"], r["user_id"], r["zscore"])
        for r in q_stream_anomaly(spark, sf_dir).collect()
    }
    assert batch, "fixture must produce anomalies"
    assert stream == batch


def test_countmin_one_sided_error(spark, sf_dir):
    """Count-min estimates can only OVERcount (collisions add, never
    subtract): est >= actual for every probe, exact for the absent
    probes only when their buckets are collision-free."""
    from review_engine_spark.plans.roster_retrieval import q_countmin

    rows = q_countmin(spark, sf_dir).collect()
    assert rows, "no probes returned"
    for r in rows:
        assert r["est"] >= r["actual"], r
        assert r["conservative"] == 1, r
    # the heavy hitters must be probed with their true counts attached
    assert any(r["actual"] > 0 for r in rows)
    assert any(r["token"].startswith("absent|") for r in rows)


def test_mutual_info_terms_match_hand_computation(spark, tmp_path):
    import math

    import pandas as pd

    from review_engine_spark.plans.roster_analytics import q_mutual_info

    rows = (
        [("en", "a")] * 2 + [("en", "b")] * 1
        + [("fr", "a")] * 1 + [("fr", "b")] * 2
    )
    pd.DataFrame(
        {
            "doc_id": range(1, len(rows) + 1),
            "text": "x",
            "lang": [l for l, _ in rows],
            "source": [s for _, s in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    out = {
        (r["lang"], r["source"]): (r["obs"], r["mi_term"])
        for r in q_mutual_info(spark, str(tmp_path)).collect()
    }

    def term(obs, rx, cx, n=6):
        return round((obs / n) * math.log(obs * n / (rx * cx)), 6)

    assert out[("en", "a")] == (2, term(2, 3, 3))
    assert out[("en", "b")] == (1, term(1, 3, 3))
    assert out[("fr", "a")] == (1, term(1, 3, 3))
    assert out[("fr", "b")] == (2, term(2, 3, 3))
    # positive association cells carry positive terms, and the total MI
    # (sum of terms) is positive for this dependent table
    assert out[("en", "a")][1] > 0 and out[("fr", "b")][1] > 0
    assert sum(v for _, v in out.values()) > 0

"""The three benchmark workloads.

Each workload is one closed-loop client: the next operation starts when
the previous one returns. A workload makes its inputs from the seed in
``make_inputs``, runs one operation in ``run_op`` and checks that
operation's output; everything the package is handed comes from the
generated inputs.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

from . import gen

# Sizes, fixed so that every seed does the same amount of work.
ETL_REVIEWS = 40_000
ETL_PRODUCTS = 4_000
SEARCH_PRODUCTS = 3_000
SEARCH_DIM = 64
SEARCH_CHUNKS = 4
SEARCH_REQUESTS = 400
ROSTER_SF = "0.01"

#: One or more queries from each roster family (streaming, iterative
#: driver rounds, shuffle-heavy joins and dedup, Python UDFs, small
#: fixed-floor queries), trimmed so a pass fits the run length.
ROSTER = [
    "q_stream_dedup",
    "q_perplexity_gate",
    "q_tpch_q9",
    "q_porter_stem",
    "q_sink_roundtrip",
    "q_group_count",
    "q_json_extract",
]


class CheckFailed(Exception):
    """An operation returned without raising, but its output is wrong."""


class Workload:
    name = ""
    #: items one operation processes, for the throughput metric
    items_per_op = 1
    #: untimed rounds after the check round, before the measured window
    warm_rounds = 1
    #: set-up cycles per run; ``setup_s`` is their median. The first also
    #: launches the JVM, and the first restart on a live JVM is the slowest
    #: of the rest, so three cycles report that restart
    setup_cycles = 3

    def __init__(self, ctx):
        self.ctx = ctx

    def make_inputs(self, cycle_dir: str) -> None:
        raise NotImplementedError

    def open(self, spark) -> None:
        """Bind per-session state once the session is (re)started."""

    def ops(self) -> list[str]:
        """Names of the operations of one round, run in this order."""
        return [self.name]

    def run_op(self, spark, tracer, name: str, i: int) -> dict[str, float]:
        """Run one operation; return its latencies in seconds by kind."""
        raise NotImplementedError

    def check_round(self, spark) -> tuple[int, list[str]]:
        """Extra output checks made once per run: (checks made, failures)."""
        return 0, []


class EmbedEtl(Workload):
    name = "embed_etl"
    items_per_op = ETL_REVIEWS

    def make_inputs(self, cycle_dir: str) -> None:
        df, self.expected = gen.reviews(self.ctx.seed, ETL_REVIEWS, ETL_PRODUCTS)
        self.src = os.path.join(cycle_dir, "reviews")
        gen.write_jsonl_gz(df, self.src, self.ctx.cores)
        self.out_root = os.path.join(cycle_dir, "embeddings")

    def open(self, spark) -> None:
        from review_engine_spark.inference.stubs import stub_embed_udf

        self.embed_udf = stub_embed_udf()

    def run_op(self, spark, tracer, name, i):
        from review_engine_spark import pipelines
        from review_engine_spark.schemas import REVIEW_SCHEMA
        from review_engine_spark.sources import io

        out = os.path.join(self.out_root, str(i))
        t0 = time.perf_counter()
        with tracer.span("sources.read"):
            reviews = io.read_jsonl(spark, self.src, REVIEW_SCHEMA)
        with tracer.span("entry.build"):
            emb = pipelines.build_product_embeddings(reviews, self.embed_udf)
        self.ctx.force_plan(emb)
        with tracer.span("exec.action"), tracer.span("sources.write"):
            io.write_parquet(emb, out)
        lat = time.perf_counter() - t0
        try:
            with tracer.span("bench.check"):
                self._check(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return {"op": lat}

    def _check(self, out: str) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        from review_engine_spark.inference.stubs import EMBED_DIM

        table = pq.read_table(out)
        got = table.column("parent_asin").to_pylist()
        if len(got) != len(set(got)) or set(got) != self.expected:
            raise CheckFailed(f"{len(set(got))} products embedded, expected {len(self.expected)}")
        vecs = table.column("embed").to_pylist()
        if any(v is None or len(v) != EMBED_DIM for v in vecs):
            raise CheckFailed(f"an embedding is missing or not {EMBED_DIM}-dimensional")
        if not np.isfinite(np.asarray(vecs, dtype=float)).all():
            raise CheckFailed("non-finite embedding value")


class SearchSession(Workload):
    name = "search_session"
    # the first restart took 0.1-0.7 s longer than later ones, varying
    # between runs; with five cycles the median is a later restart
    setup_cycles = 5

    def make_inputs(self, cycle_dir: str) -> None:
        self.dir = os.path.join(cycle_dir, "catalog")
        gen.catalog(self.ctx.seed, self.dir, SEARCH_PRODUCTS, SEARCH_DIM, SEARCH_CHUNKS)
        self.requests = gen.requests(self.ctx.seed, SEARCH_REQUESTS, SEARCH_DIM)

    def open(self, spark) -> None:
        from review_engine_spark.inference.stubs import stub_score_udf

        self.rerank_udf = stub_score_udf()

    def run_op(self, spark, tracer, name, i):
        from review_engine_spark import pipelines
        from review_engine_spark.sources.io import read_parquet_table

        query, qvec, question = self.requests[i % len(self.requests)]
        t0 = time.perf_counter()
        with tracer.span("sources.read"):
            products = read_parquet_table(spark, self.dir, "products")
            embeddings = read_parquet_table(spark, self.dir, "embeddings")
        with tracer.span("entry.build"):
            top = pipelines.recommend(
                spark, products, embeddings, query, qvec, rerank_udf=self.rerank_udf, k=10, display=3
            )
        self.ctx.force_plan(top)
        with tracer.span("exec.action"):
            rows = top.collect()
        t1 = time.perf_counter()
        with tracer.span("bench.check"):
            if len(rows) != 3 or [r["rank"] for r in rows] != [1, 2, 3]:
                raise CheckFailed(f"recommend returned ranks {[r['rank'] for r in rows]}")
            flags = [r["price_missing"] for r in rows]
            if flags != sorted(flags):
                raise CheckFailed("unpriced product ranked above a priced one")
        t2 = time.perf_counter()
        with tracer.span("sources.read"):
            chunks = read_parquet_table(spark, self.dir, "chunks")
        with tracer.span("entry.build"):
            qa = pipelines.qa_answer(chunks, question, product_asin=rows[0]["parent_asin"])
        self.ctx.force_plan(qa)
        with tracer.span("exec.action"):
            answers = qa.collect()
        t3 = time.perf_counter()
        if len(answers) != 1 or not answers[0]["answer"]:
            raise CheckFailed("empty QA answer")
        return {"op": t1 - t0, "qa": t3 - t2}


class RosterMix(Workload):
    name = "roster_mix"
    # the oracle check round is the cold pass; the pass after it still
    # ran 10-18% slower than the next, so one more pass is untimed
    warm_rounds = 1

    def make_inputs(self, cycle_dir: str) -> None:
        self.sf_dir = os.path.join(cycle_dir, "fixture")
        subprocess.run(
            [sys.executable, os.path.join(self.ctx.root, "tools", "gen_fixture.py"), self.sf_dir, ROSTER_SF, str(self.ctx.seed)],
            check=True,
            stdout=subprocess.DEVNULL,
            cwd=self.ctx.root,
        )

    def open(self, spark) -> None:
        from review_engine_spark.plans import QUERIES

        self.queries = QUERIES

    def ops(self) -> list[str]:
        return list(ROSTER)

    def run_op(self, spark, tracer, name, i):
        t0 = time.perf_counter()
        with tracer.span("entry.build"):
            df = self.queries[name](spark, self.sf_dir)
        self.ctx.force_plan(df)
        with tracer.span("exec.action"):
            df.write.format("noop").mode("overwrite").save()
        return {"op": time.perf_counter() - t0}

    def check_round(self, spark) -> tuple[int, list[str]]:
        """Every query's rows against its DuckDB oracle (rows, column names
        and order-insensitive values), or a non-empty result where no
        oracle exists."""
        import duckdb

        from review_engine_spark.plans import ORACLES

        from tools.check import TABLES, canon_rows

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        failures = []
        for name in ROSTER:
            try:
                got = self.queries[name](spark, self.sf_dir).toPandas()
                if name not in ORACLES:
                    if len(got) == 0:
                        raise CheckFailed("no rows")
                    continue
                want = con.execute(ORACLES[name]).fetchdf()
                gcols, grows = canon_rows(got)
                wcols, wrows = canon_rows(want)
                if gcols != wcols:
                    raise CheckFailed(f"columns {gcols} != {wcols}")
                if len(grows) != len(wrows):
                    raise CheckFailed(f"{len(grows)} rows != {len(wrows)}")
                if grows != wrows:
                    raise CheckFailed("values differ from the oracle")
            except Exception as e:  # noqa: BLE001 - every failure is counted
                failures.append(describe(name, e))
        con.close()
        return len(ROSTER), failures


def describe(name: str, exc: BaseException) -> str:
    """``name: ExceptionClass: first line of the message``."""
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{name}: {type(exc).__name__}: {first[:200]}"


WORKLOADS = {w.name: w for w in (EmbedEtl, SearchSession, RosterMix)}

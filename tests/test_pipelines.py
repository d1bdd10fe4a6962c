"""End-to-end pipeline tests over reference-shaped data (SURVEY §5.2.4):
the three user flows — embedding build, recommendation, Q&A — run with
deterministic stubs and golden-checked behaviors, including the dirty-data
branches the reference special-cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from review_engine_spark.inference.stubs import (
    EMBED_DIM,
    StubEmbedder,
    stub_embed_udf,
    stub_score_udf,
)
from review_engine_spark import pipelines
from review_engine_spark.pipelines import build_product_embeddings, qa_answer, recommend

REVIEWS = [
    # (parent_asin, title, text)
    ("A1", "Great washer", "Cleans clothes fast and quiet, truly great for families"),
    ("A1", "Good value", "Solid build quality and a decent spin cycle overall here"),
    ("A2", "Loud dryer", "Runs hot and rattles but dries quickly enough for me"),
    ("A3", "tiny", "too short"),  # fails the >5-token filter
    ("A3", "Compact fridge", "Fits under the counter and keeps drinks very cold indeed"),
]

PRODUCTS = [
    # (parent_asin, title, summary, price, rating, review_count)
    ("A1", "SudsMaster 3000", "A family washer", 499.0, 4.5, 230),
    ("A2", "DryCyclone", None, None, None, None),  # dirty meta: all missing
    ("A3", "FrostBox Mini", "Compact fridge", 199.0, 4.0, 55),
]


def _reviews_df(spark):
    return spark.createDataFrame(
        [(a, t, x) for a, t, x in REVIEWS],
        "parent_asin string, title string, text string",
    )


def _products_df(spark):
    return spark.createDataFrame(
        PRODUCTS,
        "parent_asin string, title string, summary string, price double, "
        "rating double, review_count long",
    )


def test_build_product_embeddings_shape_and_determinism(spark):
    emb = build_product_embeddings(_reviews_df(spark), stub_embed_udf())
    rows = {r["parent_asin"]: r["embed"] for r in emb.collect()}
    # every product with >=1 surviving review gets one pooled vector
    assert set(rows) == {"A1", "A2", "A3"}
    assert all(len(v) == EMBED_DIM for v in rows.values())
    # A3's short review was filtered: pool equals the single survivor,
    # which the stub embedder reproduces exactly
    rows2 = {r["parent_asin"]: r["embed"] for r in
             build_product_embeddings(_reviews_df(spark), stub_embed_udf()).collect()}
    assert rows == rows2  # deterministic end to end


def test_recommend_end_to_end(spark):
    emb = build_product_embeddings(_reviews_df(spark), stub_embed_udf())
    query = "family washer under 600"
    qv = StubEmbedder(EMBED_DIM).encode([query])[0]
    out = recommend(
        spark,
        _products_df(spark),
        emb,
        query,
        qv,
        rerank_udf=stub_score_udf(),
        candidates=10,
        k=3,
        display=3,
    ).collect()
    assert len(out) == 3
    # F2 invariant: priced rows come before the price-missing row
    missing_flags = [r["price_missing"] for r in out]
    assert missing_flags == sorted(missing_flags)
    assert [r["rank"] for r in out] == [1, 2, 3]
    # dirty-meta product must still be present (left-join tolerance)
    assert {r["parent_asin"] for r in out} == {"A1", "A2", "A3"}
    # deterministic: same inputs, same output
    out2 = recommend(
        spark, _products_df(spark), emb, query, qv,
        rerank_udf=stub_score_udf(), candidates=10, k=3, display=3,
    ).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]


def test_recommend_evaluates_candidates_once(spark, plan_nodes, monkeypatch):
    """The candidate set is planned once (one cut, one rerank UDF, no
    stats cross join), and the returned frame reads only the local MMR
    result, never the candidates' lineage again."""
    seen = []
    original = pipelines.mmr_diversify

    def recording(candidates, *args, **kwargs):
        seen.append(candidates)
        return original(candidates, *args, **kwargs)

    monkeypatch.setattr(pipelines, "mmr_diversify", recording)
    embedder = StubEmbedder(EMBED_DIM)
    # embedded driver-side, so the rerank UDF is the plan's only Python UDF
    emb = spark.createDataFrame(
        [(a, embedder.encode([title])[0]) for a, title, *_ in PRODUCTS],
        "parent_asin string, embed array<double>",
    )
    query = "family washer under 600"
    out = recommend(
        spark,
        _products_df(spark),
        emb,
        query,
        embedder.encode([query])[0],
        rerank_udf=stub_score_udf(),
        candidates=10,
        k=3,
        display=3,
    )
    assert len(out.collect()) == 3
    (candidates,) = seen
    names = [name for name, _ in plan_nodes(candidates)]
    assert names.count("ArrowEvalPython") == 1
    assert names.count("TakeOrderedAndProject") == 1
    assert "BroadcastNestedLoopJoin" not in names
    assert {name for name, leaf in plan_nodes(out) if leaf} == {"LocalTableScan"}


def test_recommend_result_collects_without_a_job(spark):
    """The ranking is finished on the local MMR picks: collecting what
    ``recommend`` returns submits no Spark job (a Sort and a Window over
    the picks cost one job of 5 tasks before)."""
    emb = build_product_embeddings(_reviews_df(spark), stub_embed_udf())
    query = "family washer under 600"
    out = recommend(
        spark,
        _products_df(spark),
        emb,
        query,
        StubEmbedder(EMBED_DIM).encode([query])[0],
        rerank_udf=stub_score_udf(),
        candidates=10,
        k=3,
        display=2,
    )
    assert out.schema.simpleString() == (
        "struct<rank:bigint,parent_asin:string,title:string,price:double,"
        "score:double,price_missing:boolean>"
    )
    assert not out.schema["rank"].nullable
    sc = spark.sparkContext
    group = "recommend-result-collect"
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        before = set(tracker.getJobIdsForGroup(group))
        rows = out.collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        after = set(tracker.getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert [r["rank"] for r in rows] == [1, 2]
    assert after == before


def test_qa_answer_scopes_to_product(spark):
    embed = stub_embed_udf()
    chunks = spark.createDataFrame(
        [("A1", "the washer has a 1400 rpm spin"), ("A2", "the dryer is loud")],
        "parent_asin string, text string",
    ).withColumn("embedding", embed(F.col("text")))
    out = qa_answer(chunks, "how fast does it spin?", product_asin="A1").collect()
    assert len(out) == 1
    # stub answer is ASSISTANT-labeled; extraction must strip the label/tail
    assert out[0]["answer"].startswith("stub answer")

"""Reference-shaped end-to-end pipelines (SURVEY §3.1-§3.3).

A user of the reference system drives three flows: the offline embedding
build (``python embed.py``), the recommendation query, and the per-product
Q&A loop (``python semantic.py``). These functions are those flows over
the reference's own data shapes (reviews as ``schemas.REVIEW_SCHEMA``,
product metadata keyed by ``parent_asin``, per-product ``embed`` arrays),
composed from the same operator builders the declared-query roster
verifies.

Everything stays one lazy DataFrame lineage per flow; the only
materialization barriers are the ≤``candidates`` collect for MMR (the
reference's own top-200 cut, and the recommendation flow's only collect:
its stats are window aggregates over the cut, and its display columns
come back with the MMR picks) and the Arrow-batched inference UDFs
(SURVEY §3.1 mapping). Models are injected — pass real
``predict_batch_udf`` wrappers in production, the deterministic stubs in
tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from review_engine_spark.functions.scoring import (
    MAX_STAR_RATING,
    bayesian_rating,
    blend_score,
    log_popularity,
    minmax_normalize,
    price_fit,
)
from review_engine_spark.functions.text import clean_text, parse_budget, token_count
from review_engine_spark.functions.vector import cosine_similarity, vector_literal
from review_engine_spark.operators.ranking import mmr_diversify, top_k_by

__all__ = [
    "build_product_embeddings",
    "recommend",
    "qa_answer",
]


def build_product_embeddings(
    reviews: DataFrame,
    embed_udf,
    min_tokens: int = 5,
) -> DataFrame:
    """§3.3 offline ETL (embed.py:55-86): reviews → cleaned title+text →
    token filter → per-review embed (Arrow-batched UDF) → per-product
    mean-pool → ``(parent_asin, embed)``.

    The reference encodes per-product in a Python loop (embed.py:68-82);
    here the embed UDF runs once over the cleaned corpus and the pooling
    is the relational D2 plan — two aggregations on (asin, pos) / (asin),
    12-byte rows, map-side combined.
    """
    cleaned = reviews.select(
        "parent_asin",
        clean_text(
            F.concat_ws(" ", F.col("title"), F.col("text"))
        ).alias("clean"),
    ).filter(token_count(F.col("clean")) > min_tokens)
    embedded = cleaned.select(
        "parent_asin", embed_udf(F.col("clean")).alias("vec")
    )
    exploded = embedded.select(
        "parent_asin", F.posexplode("vec").alias("pos", "val")
    )
    pooled = exploded.groupBy("parent_asin", "pos").agg(
        F.avg("val").alias("v")
    )
    return pooled.groupBy("parent_asin").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s.v
        ).alias("embed")
    )


def recommend(
    spark: SparkSession,
    products: DataFrame,
    embeddings: DataFrame,
    query: str,
    query_vec: list[float],
    rerank_udf=None,
    candidates: int = 200,
    k: int = 10,
    display: int = 3,
) -> DataFrame:
    """§3.1 recommendation query (semantic.py:33-67 → rank.py:208-337).

    cosine retrieval vs the literal query vector → top-``candidates``
    cut (TakeOrderedAndProject) → left-outer metadata join (broadcast;
    missing meta tolerated) → optional rerank UDF AFTER the cut → budget
    anchor from the query text ∥ median/std price, rerank percentile and
    popularity stats (window aggregates over the whole cut) → Bayesian
    rating, log-popularity, price fit → weighted blend → MMR
    diversification (driver-side over the cut, collected once with its
    display columns) → priced-first ordering → top-``display``, ranked
    on the local MMR picks with pyarrow.

    The candidate set is evaluated once per call: the MMR collect is the
    only action that runs the scan, cut, join and rerank UDF. The returned
    frame is a ``LocalTableScan`` of the ranked picks, so collecting it
    submits no Spark job.

    Returns (rank, parent_asin, title, price, score, price_missing).
    """
    import pyarrow as pa

    qv = vector_literal(query_vec)
    scored = embeddings.select(
        "parent_asin",
        F.col("embed"),
        F.round(cosine_similarity(F.col("embed"), qv), 6).alias("sim"),
    )
    cut = top_k_by(scored, "sim", "parent_asin", candidates)

    meta = products.select(
        F.col("parent_asin").alias("m_asin"),
        "title",
        "summary",
        "price",
        "rating",
        "review_count",
    )
    joined = cut.join(
        F.broadcast(meta), cut.parent_asin == meta.m_asin, "left"
    ).drop("m_asin")

    if rerank_udf is not None:
        # rank.py:22-29: empty meta → empty rerank document, never a skip
        doc = F.concat_ws(
            " ", F.coalesce(F.col("title"), F.lit("")), F.coalesce(F.col("summary"), F.lit(""))
        )
        joined = joined.withColumn("rerank_raw", rerank_udf(F.lit(query), doc))
    else:
        joined = joined.withColumn("rerank_raw", F.col("sim"))

    # window stats over the whole (≤candidates-row) cut: one pass over
    # ``joined``, where an aggregate cross-joined back would plan the scan,
    # cut, join and rerank UDF twice
    whole = Window.partitionBy()
    budget = F.round(parse_budget(F.lit(query)), 6)
    feat = joined.select(
        "*",
        F.coalesce(budget, F.median("price").over(whole)).alias("anchor"),
        F.stddev_pop("price").over(whole).alias("price_sd"),
        F.percentile("rerank_raw", F.lit(0.01)).over(whole).alias("rr_p1"),
        F.percentile("rerank_raw", F.lit(0.99)).over(whole).alias("rr_p99"),
        F.max(log_popularity(F.col("review_count"))).over(whole).alias("pop_hi"),
        F.min(log_popularity(F.col("review_count"))).over(whole).alias("pop_lo"),
    )
    blended = feat.select(
        "parent_asin",
        "embed",
        "title",
        "price",
        F.col("price").isNull().alias("price_missing"),
        F.round(
            blend_score(
                sim=F.col("sim"),
                bayes_rating_scaled=bayesian_rating(
                    F.col("rating"), F.col("review_count")
                )
                / MAX_STAR_RATING,
                pop_norm=minmax_normalize(
                    log_popularity(F.col("review_count")),
                    F.col("pop_lo"),
                    F.col("pop_hi"),
                ),
                price_fit_score=price_fit(
                    F.col("price"), F.col("anchor"), F.col("price_sd")
                ),
                rerank_norm=minmax_normalize(
                    F.col("rerank_raw"), F.col("rr_p1"), F.col("rr_p99")
                ),
            ),
            6,
        ).alias("score"),
    )

    picks = mmr_diversify(blended, "parent_asin", "score", "embed", k=k)
    # rank.py:327-337: priced picks first, unpriced appended, each tier in
    # pick order; the ≤k local picks are sorted and numbered here, since a
    # Sort or Window over them would cost a Spark job
    shown = picks.sort_by(
        [("price_missing", "ascending"), ("mmr_rank", "ascending")]
    ).slice(0, display)
    return spark.createDataFrame(
        shown.select(["parent_asin", "title", "price", "score", "price_missing"]).add_column(
            0,
            pa.field("rank", pa.int64(), nullable=False),
            pa.array(range(1, shown.num_rows + 1), pa.int64()),
        )
    )


def qa_answer(
    chunks: DataFrame,
    question: str,
    product_asin: str | None = None,
    k: int = 4,
) -> DataFrame:
    """§3.2 Q&A flow (semantic.py:76-106 → rag.py:42-57): filter the
    persistent chunks table to the focused product (the reference's
    per-switch Chroma rebuild, rag.py:49-52, disappears), then the
    retrieve → prompt → chat → extract chain."""
    from review_engine_spark.operators.rag import rag_answer

    scoped = (
        chunks.filter(F.col("parent_asin") == product_asin)
        if product_asin is not None
        else chunks
    )
    return rag_answer(scoped, question, k=k)


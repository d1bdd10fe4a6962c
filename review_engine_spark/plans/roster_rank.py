"""Ranking-surface roster queries (SURVEY §2.H15-H20, §3.1, M3).

Recreates the reference's multi-factor ranking pipeline (rank.py:208-337)
on the fixture star schema, with the FIXTURES.md analog mapping:
``price`` → part.p_retailprice, ``review_count`` → per-part lineitem
count, ``rating`` → bounded score derived from avg(l_discount). Nullable
variants are derived with deterministic modular predicates so every None
branch of the reference (SURVEY §1.1.2) is exercised and oracle-checked.

The similarity and rerank inputs are deterministic pseudo-scores (modular
hashes of the key) — the real model path is the inference surface (§2.J),
stubbed identically on both engines here so the *pipeline math* is what
the oracle verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from review_engine_spark.functions.scoring import (
    bayesian_rating,
    blend_score,
    log_popularity,
    minmax_normalize,
    price_fit,
)
from review_engine_spark.plans import declared
from review_engine_spark.plans._oracle import (
    sql_bayes_scaled,
    sql_log_popularity,
    sql_minmax,
    sql_price_fit,
)
from review_engine_spark.sources.io import read_parquet_table

# Shared feature derivation (Spark side) -----------------------------------


def _part_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part ⟕ lineitem aggregates with deterministic nullable analogs.

    price NULL every 13th key (rank.py:169-171 branch), rating NULL every
    7th (rank.py:183-184), count NULL every 11th (rank.py:186-187).
    """
    part = read_parquet_table(spark, sf_dir, "part")
    li = (
        read_parquet_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_li"),
            (F.avg("l_discount") * 50.0).alias("rating_raw"),
        )
    )
    pk = F.col("p_partkey")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left")
        .select(
            "p_partkey",
            F.when(pk % 13 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("p_retailprice"))
            .alias("price"),
            F.when(pk % 7 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("rating_raw"))
            .alias("rating"),
            F.when(pk % 11 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("n_li"))
            .alias("cnt"),
            ((pk * 2654435761) % 1000 / 1000.0).alias("sim"),
            (((pk * 37) + 11) % 100 / 100.0).alias("rerank_raw"),
        )
    )


_SQL_FEATURES = """
    li AS (
        SELECT l_partkey, count(*) AS n_li, avg(l_discount) * 50.0 AS rating_raw
        FROM lineitem GROUP BY l_partkey
    ),
    feat AS (
        SELECT p.p_partkey,
               CASE WHEN p.p_partkey % 13 = 0 THEN NULL ELSE p.p_retailprice END AS price,
               CASE WHEN p.p_partkey % 7 = 0 THEN NULL ELSE li.rating_raw END AS rating,
               CASE WHEN p.p_partkey % 11 = 0 THEN NULL ELSE li.n_li END AS cnt,
               (p.p_partkey * 2654435761) % 1000 / 1000.0 AS sim,
               ((p.p_partkey * 37) + 11) % 100 / 100.0 AS rerank_raw
        FROM part p LEFT JOIN li ON p.p_partkey = li.l_partkey
    )
"""


@declared(
    oracle=f"""
    WITH {_SQL_FEATURES},
    s AS (SELECT median(price) AS anchor, stddev_pop(price) AS sd FROM feat)
    SELECT f.p_partkey,
           round({sql_price_fit('f.price', 's.anchor', 's.sd')}, 6) AS fit
    FROM feat f, s
    """
)
def q_price_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H16+B4+D3-D4: asymmetric Gaussian price fit with the median-price
    anchor fallback and population std (rank.py:163-179, 225-232)."""
    feat = _part_features(spark, sf_dir)
    stats = feat.agg(
        F.median("price").alias("anchor"), F.stddev_pop("price").alias("sd")
    )
    return feat.crossJoin(F.broadcast(stats)).select(
        "p_partkey",
        F.round(
            price_fit(F.col("price"), F.col("anchor"), F.col("sd")), 6
        ).alias("fit"),
    )


@declared(
    oracle=f"""
    WITH {_SQL_FEATURES}
    SELECT p_partkey, round({sql_bayes_scaled('rating', 'cnt')}, 6) AS bayes
    FROM feat
    """
)
def q_bayes_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H17: Bayesian rating, /5 scaled (rank.py:182-192, 246)."""
    feat = _part_features(spark, sf_dir)
    return feat.select(
        "p_partkey",
        F.round(bayesian_rating(F.col("rating"), F.col("cnt")) / 5.0, 6).alias(
            "bayes"
        ),
    )


@declared(
    oracle=f"""
    WITH {_SQL_FEATURES}
    SELECT p_partkey, round({sql_log_popularity('cnt')}, 6) AS pop
    FROM feat
    """
)
def q_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H18+B5: guarded log1p popularity (rank.py:248)."""
    feat = _part_features(spark, sf_dir)
    return feat.select(
        "p_partkey", F.round(log_popularity(F.col("cnt")), 6).alias("pop")
    )


@declared(
    oracle=f"""
    WITH {_SQL_FEATURES},
    pops AS (SELECT f.*, {sql_log_popularity('cnt')} AS pop FROM feat f),
    s AS (
        SELECT median(price) AS anchor, stddev_pop(price) AS sd,
               quantile_cont(pop, 0.01) AS pop_p1, quantile_cont(pop, 0.99) AS pop_p99,
               quantile_cont(rerank_raw, 0.01) AS rr_p1, quantile_cont(rerank_raw, 0.99) AS rr_p99
        FROM pops
    ),
    scored AS (
        SELECT f.p_partkey,
               f.price IS NULL AS price_missing,
               round(
                   0.4 * f.sim
                   + 0.2 * ({sql_bayes_scaled('f.rating', 'f.cnt')})
                   + 0.1 * ({sql_minmax('f.pop', 's.pop_p1', 's.pop_p99')})
                   + 0.15 * ({sql_price_fit('f.price', 's.anchor', 's.sd')})
                   + 0.15 * ({sql_minmax('f.rerank_raw', 's.rr_p1', 's.rr_p99')}),
               6) AS score
        FROM pops f, s
    ),
    ranked AS (
        SELECT p_partkey, price_missing, score,
               CAST(row_number() OVER (
                   ORDER BY price_missing ASC, score DESC, p_partkey
               ) AS BIGINT) AS rank
        FROM scored
    )
    SELECT rank, p_partkey, score, price_missing FROM ranked WHERE rank <= 10
    """
)
def q_rank_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H19+E2+F2+F4: the full weighted blend with priced-first final
    ordering (rank.py:259-279, 327-337; semantic.py:58).

    Physical shape: the candidate set is scored with row-local arithmetic
    (no shuffle), the global top-10 goes through orderBy+limit →
    TakeOrderedAndProject (per-partition heaps, k-row driver merge), and
    the display rank is attached by a window over the already-limited
    10-row result — a global row_number window over the full set would
    funnel every row into one partition at scale.
    """
    feat = _part_features(spark, sf_dir).withColumn(
        "pop", log_popularity(F.col("cnt"))
    )
    stats = feat.agg(
        F.median("price").alias("anchor"),
        F.stddev_pop("price").alias("sd"),
        F.percentile("pop", F.lit(0.01)).alias("pop_p1"),
        F.percentile("pop", F.lit(0.99)).alias("pop_p99"),
        F.percentile("rerank_raw", F.lit(0.01)).alias("rr_p1"),
        F.percentile("rerank_raw", F.lit(0.99)).alias("rr_p99"),
    )
    scored = feat.crossJoin(F.broadcast(stats)).select(
        "p_partkey",
        F.col("price").isNull().alias("price_missing"),
        F.round(
            blend_score(
                sim=F.col("sim"),
                bayes_rating_scaled=bayesian_rating(F.col("rating"), F.col("cnt"))
                / 5.0,
                pop_norm=minmax_normalize(
                    F.col("pop"), F.col("pop_p1"), F.col("pop_p99")
                ),
                price_fit_score=price_fit(
                    F.col("price"), F.col("anchor"), F.col("sd")
                ),
                rerank_norm=minmax_normalize(
                    F.col("rerank_raw"), F.col("rr_p1"), F.col("rr_p99")
                ),
            ),
            6,
        ).alias("score"),
    )
    top10 = scored.orderBy(
        F.asc("price_missing"), F.desc("score"), F.asc("p_partkey")
    ).limit(10)
    w = Window.orderBy(F.asc("price_missing"), F.desc("score"), F.asc("p_partkey"))
    return top10.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "p_partkey",
        "score",
        "price_missing",
    )


@declared(
    oracle="""
    WITH RECURSIVE q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ),
    x AS (
        SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS a,
               unnest(q.qv)::DOUBLE AS b
        FROM embeddings e CROSS JOIN q
    ),
    s AS (
        SELECT vec_id,
               round(sum(a * b)
                     / (sqrt(sum(a * a)) * sqrt(sum(b * b)) + 1e-9),
                     6) AS relevance
        FROM x GROUP BY vec_id
    ),
    top AS (
        SELECT s.vec_id, s.relevance, e.embedding
        FROM s JOIN embeddings e USING (vec_id)
        ORDER BY s.relevance DESC, s.vec_id LIMIT 50
    ),
    norm AS (
        SELECT vec_id, relevance,
               list_transform(embedding,
                   v -> CAST(v AS DOUBLE)
                        / (sqrt(list_sum(list_transform(embedding,
                               y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
                           + 1e-9)) AS nv
        FROM top
    ),
    pick AS (
        SELECT CAST(1 AS BIGINT) AS mmr_rank, vec_id, relevance,
               [vec_id] AS sel
        FROM (SELECT vec_id, relevance,
                     row_number() OVER (ORDER BY relevance DESC, vec_id)
                         AS rn
              FROM norm) t WHERE rn = 1
      UNION ALL
        SELECT p.mmr_rank + 1, b.vec_id, b.relevance,
               list_append(p.sel, b.vec_id)
        FROM pick p, LATERAL (
            SELECT c.vec_id, c.relevance
            FROM norm c
            WHERE NOT list_contains(p.sel, c.vec_id)
            ORDER BY 0.66e0 * c.relevance - (1.0e0 - 0.66e0) * (
                      SELECT max(list_dot_product(c.nv, s2.nv))
                      FROM norm s2
                      WHERE list_contains(p.sel, s2.vec_id)) DESC,
                     c.relevance DESC, c.vec_id ASC
            LIMIT 1
        ) b
        WHERE p.mmr_rank < 10
    )
    SELECT mmr_rank, vec_id, relevance FROM pick
    """
)
def q_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: MMR diversification (rank.py:282-325), λ=0.66, k=10 over the
    top-50 cosine candidates vs the vec_id=0 query vector. The candidate
    set is collected (≤200 rows — the reference's own cut) and the greedy
    loop runs driver-side; deterministic, golden-tested in pytest.

    Oracle: the same recursive-CTE greedy re-derivation as
    q_mmr_grouped, single group, over the DuckDB-side top-50 cosine cut
    (the 6dp cosine parity of that cut is the already-driver-green
    q_cosine_topk formula). Driver-loop float sums vs DuckDB list ops
    differ only in ulps; pick margins dominate, and the emitted columns
    (rank, id, 6dp relevance) are noise-free."""
    from review_engine_spark.operators.ranking import mmr_diversify
    from review_engine_spark.functions.vector import cosine_similarity

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    candidates = (
        emb.crossJoin(qv)
        .select(
            "vec_id",
            "embedding",
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias(
                "relevance"
            ),
        )
        .orderBy(F.desc("relevance"), F.asc("vec_id"))
        .limit(50)
    )
    return spark.createDataFrame(
        mmr_diversify(
            candidates,
            id_col="vec_id",
            score_col="relevance",
            vec_col="embedding",
            k=10,
        )
    )


@declared(
    oracle="""
    WITH RECURSIVE cut AS (
        SELECT label, vec_id, rel, embedding
        FROM (
            SELECT label, vec_id, embedding,
                   round(CAST(vec_id * 37 % 97 AS DOUBLE) / 97.0, 6) AS rel,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY round(CAST(vec_id * 37 % 97
                                                     AS DOUBLE) / 97.0, 6)
                                                DESC,
                                                vec_id) AS rn
            FROM embeddings
        ) c WHERE rn <= 200
    ),
    norm AS (
        SELECT label, vec_id, rel,
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE)
                        / (sqrt(list_sum(list_transform(embedding,
                               y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
                           + 1e-9)) AS nv
        FROM cut
    ),
    pick AS (
        SELECT label, CAST(1 AS BIGINT) AS mmr_rank, vec_id, rel,
               [vec_id] AS sel
        FROM (SELECT label, vec_id, rel,
                     row_number() OVER (PARTITION BY label
                                        ORDER BY rel DESC, vec_id) AS rn
              FROM norm) t WHERE rn = 1
      UNION ALL
        SELECT p.label, p.mmr_rank + 1, b.vec_id, b.rel,
               list_append(p.sel, b.vec_id)
        FROM pick p, LATERAL (
            SELECT c.vec_id, c.rel
            FROM norm c
            WHERE c.label = p.label
              AND NOT list_contains(p.sel, c.vec_id)
            ORDER BY 0.66e0 * c.rel - (1.0e0 - 0.66e0) * (
                      SELECT max(list_dot_product(c.nv, s.nv))
                      FROM norm s WHERE s.label = p.label
                        AND list_contains(p.sel, s.vec_id)) DESC,
                     c.rel DESC, c.vec_id ASC
            LIMIT 1
        ) b
        WHERE p.mmr_rank < 5
    )
    SELECT label, mmr_rank, vec_id, rel FROM pick
    """
)
def q_mmr_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 scale path: per-group MMR via applyInPandas — one greedy
    diversification per label group running in parallel (the batch
    many-queries-at-once counterpart of q_mmr; asserted equal to the
    driver-side loop per group in tests).

    Oracle: the greedy recursion as a DuckDB recursive CTE — step 1 is
    the pure-relevance argmax per label; each later step re-derives the
    lambda*rel - (1-lambda)*max-sim argmax over the not-yet-selected
    set (first-seen tie order = rel DESC, vec_id ASC, matching numpy
    argmax over the sorted array). Lambda enters as 0.66e0/(1.0e0 -
    0.66e0) so both engines use the identical IEEE doubles; the emitted
    columns (rank, id, 6dp relevance) are float-noise-free, and pick
    margins dwarf the summation-order ulps between numpy and DuckDB
    dot products.

    Scale contract: candidates are PRE-CUT to the top-200 by relevance
    per group (rank window, mirrored in the oracle) before the greedy
    runs — the same cut the reference applies before MMR (rank.py:213)
    — so every applyInPandas group is memory-bounded (200 x dim floats)
    no matter how large a label grows at 100 TB."""
    from review_engine_spark.operators.ranking import mmr_diversify_grouped

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    cands = emb.select(
        "label",
        "vec_id",
        # deterministic pseudo-relevance (same device as q_rank_blend's
        # stub scores): modular hash of the id
        (F.round((F.col("vec_id") * 37 % 97) / 97.0, 6)).alias("rel"),
        "embedding",
    )
    wcut = Window.partitionBy("label").orderBy(F.desc("rel"), F.asc("vec_id"))
    cands = (
        cands.withColumn("_rn", F.row_number().over(wcut))
        .filter(F.col("_rn") <= 200)
        .drop("_rn")
    )
    return mmr_diversify_grouped(
        cands, "label", "vec_id", "rel", "embedding", k=5
    )

"""Vector-surface roster queries (SURVEY §2.H21-H24, §2.C3, §2.K).

The retrieval core: dot/norm/cosine kernels, the 1×N query-vs-corpus
similarity (semantic.py:37-41), brute-force k-NN, and embedding-cosine
near-duplicate detection. The fixture query vector is row vec_id=0 of the
``embeddings`` table so both engines read the identical float32 payload.

Scale path: the brute-force plans here are exact and hold to ~10^8 rows
(broadcast query side + TakeOrderedAndProject); beyond that the ANN
operators in operators.similarity (LSH / IVF) take over (SURVEY §4.3.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from review_engine_spark.functions.vector import cosine_similarity, dot_product
from review_engine_spark.operators.cluster import iter_checkpoint
from review_engine_spark.plans import declared
from review_engine_spark.plans._oracle import sql_unit_vector
from review_engine_spark.scratch import artifact_key, load_artifact, save_artifact
from review_engine_spark.sources.io import read_parquet_table


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcast 1-row query-vector side (SURVEY §1.1.4 — a scalar
    parameter, not a table; here pinned to vec_id=0 for determinism)."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )


@declared(
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    x AS (
        SELECT e.vec_id,
               unnest(e.embedding)::DOUBLE AS a,
               unnest(q.qv)::DOUBLE AS b
        FROM embeddings e CROSS JOIN q
    )
    SELECT vec_id, round(sum(a * b), 6) AS dot
    FROM x GROUP BY vec_id
    """
)
def q_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H21: dense dot product vs the broadcast query vector (rank.py:195-202)."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return emb.crossJoin(_query_vec(spark, sf_dir)).select(
        "vec_id",
        F.round(dot_product(F.col("embedding"), F.col("qv")), 6).alias("dot"),
    )


@declared(
    oracle=f"""
    WITH u AS (
        SELECT vec_id, {sql_unit_vector('embedding')} AS unit
        FROM embeddings
    )
    SELECT vec_id,
           CAST(generate_subscripts(unit, 1) AS BIGINT) AS pos,
           unnest(unit)::DOUBLE AS u
    FROM u
    """
)
def q_l2norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H22: v / (||v|| + 1e-9) (rank.py:286-289, embed.py:77). Uses the
    staged DataFrame form — O(dim) per row regardless of vector width.

    The unit vector is built as an array (the H22 semantic) then exploded
    to (vec_id, pos, u) double rows for output: the harness canonicalizer
    cannot hash raw array cells, and doubles inside a string serialization
    render differently across engines, so the comparable form is the
    exploded double column. pos is 1-based to match generate_subscripts.
    """
    from review_engine_spark.functions.vector import l2_normalize_rows

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    staged = l2_normalize_rows(emb, "embedding", "_unit")
    return staged.select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("_unit"), lambda x: F.round(x, 6))
        ).alias("pos", "u"),
    ).select("vec_id", (F.col("pos") + 1).cast("long").alias("pos"), "u")


@declared(
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    x AS (
        SELECT e.vec_id,
               unnest(e.embedding)::DOUBLE AS a,
               unnest(q.qv)::DOUBLE AS b
        FROM embeddings e CROSS JOIN q
    ),
    s AS (
        SELECT vec_id,
               round(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b)) + 1e-9), 6) AS cos_sim
        FROM x GROUP BY vec_id
    )
    SELECT vec_id, cos_sim FROM s
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3+F1: 1×N cosine retrieval, top-k (semantic.py:41, rank.py:213).

    orderBy(desc).limit(k) compiles to TakeOrderedAndProject — per-partition
    top-k heaps then a k-row merge on the driver, no global sort shuffle.
    Rounded before ordering so the rank cut is engine-stable; ties broken
    by vec_id (SURVEY §2.L determinism rules).
    """
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    scored = emb.crossJoin(_query_vec(spark, sf_dir)).select(
        "vec_id",
        F.round(
            cosine_similarity(F.col("embedding"), F.col("qv")), 6
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10)


@declared(
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
    ),
    x AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               unnest(q.qv)::DOUBLE AS a,
               unnest(e.embedding)::DOUBLE AS b
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id
    ),
    s AS (
        SELECT query_id, neighbor_id,
               round(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b)) + 1e-9), 6) AS cos_sim
        FROM x GROUP BY query_id, neighbor_id
    ),
    r AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
               ) AS BIGINT) AS rn
        FROM s
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 5
    """
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.K similarity search baseline: exact k-NN for a query batch.

    Query side (3 vectors) is broadcast; the corpus side never shuffles
    until the per-query top-k window, which partitions by query_id — at
    1000 executors that is a k·|queries| shuffle, not a corpus shuffle.
    """
    from review_engine_spark.operators.similarity import brute_force_topk

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return brute_force_topk(emb, queries, k=5)


@declared(
    oracle="""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
    x AS (
        SELECT l.vec_id AS left_id, r.vec_id AS right_id,
               unnest(l.embedding)::DOUBLE AS a,
               unnest(r.embedding)::DOUBLE AS b
        FROM sub l JOIN sub r ON l.vec_id < r.vec_id
    )
    SELECT left_id, right_id,
           round(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b)) + 1e-9), 6) AS cos_sim
    FROM x GROUP BY left_id, right_id
    HAVING round(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b)) + 1e-9), 6) > 0.25
    """
)
def q_near_dup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.K embedding-cosine near-duplicate pairs (exact, on a capped
    subset — the all-pairs O(N²) form; the LSH-bucketed scale path is
    operators.dedup.embedding_near_dups, declared as q_near_dup_lsh)."""
    emb = read_parquet_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100
    )
    left = emb.select(F.col("vec_id").alias("left_id"), F.col("embedding").alias("lv"))
    right = emb.select(
        F.col("vec_id").alias("right_id"), F.col("embedding").alias("rv")
    )
    pairs = left.join(right, F.col("left_id") < F.col("right_id"))
    return (
        pairs.select(
            "left_id",
            "right_id",
            F.round(cosine_similarity(F.col("lv"), F.col("rv")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") > 0.25)
    )


@declared(
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_idx, embedding AS qv
        FROM embeddings WHERE vec_id < 2
    ),
    x AS (
        SELECT q.query_idx, e.vec_id AS neighbor_id,
               unnest(e.embedding)::DOUBLE AS _x, unnest(q.qv)::DOUBLE AS _y
        FROM embeddings e, q
    ),
    s AS (
        SELECT query_idx, neighbor_id,
               round(sum(_x * _y) / (sqrt(sum(_x * _x)) * sqrt(sum(_y * _y)) + 1e-9), 6) AS cos_sim
        FROM x GROUP BY query_idx, neighbor_id
    )
    SELECT CAST(query_idx AS INT) AS query_idx, neighbor_id, cos_sim, rn
    FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_idx ORDER BY cos_sim DESC, neighbor_id
        ) AS BIGINT) AS rn
        FROM s
    ) WHERE rn <= 10
    """
)
def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.K similarity search, numpy fast path: Arrow-batched matmul
    per partition with a LOCAL top-k cut before the shuffle — the
    wide-embedding variant of q_knn_bruteforce (expression cosine is
    O(dim) interpreted work per pair; the batch matmul wins ~10× past a
    few hundred dims). Exact, and oracle-checked value-for-value
    against the same cosine the expression kernel computes; query_idx
    equals the source vec_id (0, 1) so the oracle can replay it."""
    from review_engine_spark.operators.similarity import brute_force_topk_batch

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    qv = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 2)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    return brute_force_topk_batch(emb, qv, k=10)


@declared(
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
        FROM embeddings WHERE vec_id < 3
    ),
    x AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
               unnest(q.qv)::DOUBLE AS a,
               unnest(e.embedding)::DOUBLE AS b
        FROM q CROSS JOIN embeddings e
        WHERE e.label <> q.qlabel
    ),
    s AS (
        SELECT query_id, neighbor_id, neg_label,
               round(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b)) + 1e-9), 6) AS cos_sim
        FROM x GROUP BY query_id, neighbor_id, neg_label
    ),
    r AS (
        SELECT query_id, neighbor_id, neg_label, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
               ) AS BIGINT) AS rn
        FROM s
    )
    SELECT query_id, neighbor_id, neg_label, cos_sim, rn FROM r WHERE rn <= 5
    """
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.K contrastive-training hard-negative mining: for each anchor
    (vec_id < 3), the 5 most-similar vectors with a DIFFERENT label —
    the near-miss examples a retrieval model learns the most from
    (random negatives are trivially separable; these sit at the
    decision boundary). Same exact-kNN plan as q_knn_bruteforce with a
    label-disagreement predicate fused into the scan; the ANN path
    (q_knn_lsh / q_knn_batch) is the drop-in at corpus scale."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("qlabel"),
        )
    )
    pairs = queries.join(emb, F.col("label") != F.col("qlabel"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.round(cosine_similarity(F.col("qv"), F.col("embedding")), 6).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
    )


def _pca_ctes(iters: int) -> str:
    """Unrolled-CTE replay of ``q_pca_power``: per round a per-row dot
    (rounded 6 — within-row sum order differs), a per-dim weighted sum
    (rounded 6 — cross-row sum order differs), then an infinity-norm
    normalize whose division is RAW: w and mx are identical rounded
    doubles on both engines, so w/mx is bit-identical and rounding it
    would only ADD the round-8 decimal-repr-vs-scaled-product hazard
    (NOTES: never round a bit-identical double).

    Every CTE is AS MATERIALIZED: ``w{i}`` is referenced by both
    ``m{i}`` and ``v{i}``, and DuckDB inlines non-materialized CTEs per
    reference — the plain form re-executes the chain exponentially
    (measured 39.8 s plain vs 0.1 s materialized at sf0.01; same class
    as the q_kcore oracle)."""
    parts = [
        """e AS MATERIALIZED (
        SELECT vec_id, unnest(embedding)::DOUBLE AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )""",
        "v0 AS MATERIALIZED (SELECT DISTINCT pos, 1.0::DOUBLE AS val FROM e)",
    ]
    for i in range(1, iters + 1):
        parts += [
            f"""s{i} AS MATERIALIZED (
        SELECT e.vec_id, round(sum(e.x * v.val), 6) AS s
        FROM e JOIN v{i - 1} v USING (pos) GROUP BY e.vec_id
    )""",
            f"""w{i} AS MATERIALIZED (
        SELECT e.pos, round(sum(e.x * s.s), 6) AS w
        FROM e JOIN s{i} s USING (vec_id) GROUP BY e.pos
    )""",
            f"m{i} AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM w{i})",
            f"v{i} AS MATERIALIZED (SELECT pos, w / mx AS val FROM w{i}, m{i})",
        ]
    return "WITH " + ",\n    ".join(parts)


def _pca_oracle(iters: int) -> str:
    return (
        _pca_ctes(iters)
        + f"""
    SELECT CAST(pos AS BIGINT) AS pos, val AS component
    FROM v{iters}
    """
    )


def _pca_project_oracle(iters: int) -> str:
    """Projection tail over the shared power-iteration CTEs: per-vector
    score = dot(x, v_final), rounded 6 (the within-row sum-order
    class)."""
    return (
        _pca_ctes(iters)
        + f"""
    SELECT e.vec_id, round(sum(e.x * v.val), 6) AS score
    FROM e JOIN v{iters} v USING (pos)
    GROUP BY e.vec_id
    """
    )


# ---------------------------------------------------------------------------
# Top principal component by power iteration — the dimensionality-
# reduction/whitening primitive of embedding curation (SemDeDup-style
# pipelines PCA-reduce before clustering). Six rounds of v <- X'(Xv)
# with infinity-norm scaling; v stays a 64-double literal coordinated
# by the driver per round (the k-means pattern), so each round is ONE
# narrow per-row dot + ONE 64-key map-side-combined aggregate — no
# corpus join, no d×d covariance materialization (the Gram explode
# would be corpus×d² rows). Order-dependent sums round to 6dp; the
# normalize divides two identical rounded doubles RAW.
# ---------------------------------------------------------------------------
# Components every PCA query asks for, so whichever runs first trains
# the one artifact the rest read: q_pca_power and q_pca_project use its
# first component.
PCA_K = 4


def pca_components(
    spark: SparkSession, sf_dir: str, k: int = PCA_K, iters: int = 6
) -> list[list[float]]:
    """Top-``k`` principal directions by power iteration with Hotelling
    deflation, saved by ``scratch.py`` per (embeddings files, iters): k' >= k
    saved components serve k as a prefix (deflation never changes earlier
    components); fewer are retrained at k and replaced.

    Per component: 6 rounds of v ← X'(Xv) with infinity-norm scaling
    (each round ONE narrow per-row dot + ONE d-key map-side-combined
    aggregate — no corpus join, no d×d covariance explode), then the
    matrix deflates per row: x ← x − (round6(x·v) / round6(v·v))·v.
    Both rounded operands are engine-identical doubles, so every
    deflated element is bit-identical across engines RAW — the oracle
    replays the identical algebra (see ``_pca_topk_ctes``).
    """
    key = artifact_key(
        "pca", os.path.join(sf_dir, "embeddings.parquet"), iters=iters
    )
    saved = load_artifact(key)
    if saved is not None and len(saved) >= k:
        return [list(map(float, c)) for c in saved[:k]]

    emb = read_parquet_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    cur = iter_checkpoint(emb)
    d = len(cur.select("x").first()["x"])
    comps: list[list[float]] = []
    for ci in range(k):
        v = [1.0] * d
        for _ in range(iters):
            v_arr = F.array(*[F.lit(c) for c in v])
            s = F.round(dot_product(F.col("x"), v_arr), 6).alias("s")
            rows = cur.select(s, F.posexplode("x").alias("pos", "xv"))
            w_rows = (
                rows.groupBy("pos")
                .agg(F.round(F.sum(F.col("xv") * F.col("s")), 6).alias("w"))
                .collect()
            )
            w = [0.0] * d
            for r in w_rows:
                w[r["pos"]] = r["w"]
            mx = max(abs(c) for c in w)
            if mx == 0.0:
                # k exceeded the matrix's numerical rank (after round-6):
                # the deflated corpus is exactly zero, so every further
                # component is the zero vector. Reached when the
                # embeddings have rank < k (q_pca_power asks for PCA_K
                # whatever the data); the topk oracles require k <= rank
                # (fixture embeddings are full-rank).
                v = w
                break
            # w/mx is IEEE division of engine-identical doubles -> raw
            v = [c / mx for c in w]
        comps.append(v)
        vv = round(sum(c * c for c in v), 6)
        if ci < k - 1 and vv != 0.0:
            # Hotelling deflation against the just-found direction (a
            # zero direction removes nothing). The coefficient column is
            # materialized in its own projection BEFORE the zip_with so
            # the lambda references an attribute, not a recomputed
            # aggregate (the NOTES HOF hazard).
            v_arr = F.array(*[F.lit(c) for c in v])
            nxt = cur.select(
                "vec_id",
                F.round(dot_product(F.col("x"), v_arr), 6).alias("c"),
                "x",
            ).select(
                "vec_id",
                F.zip_with(
                    F.col("x"),
                    v_arr,
                    lambda xj, vj: xj - (F.col("c") / F.lit(vv)) * vj,
                ).alias("x"),
            )
            cur = iter_checkpoint(nxt)
    save_artifact(key, comps)
    return comps


def _power_component(
    spark: SparkSession, sf_dir: str, iters: int = 6
) -> list[float]:
    """Top-1 direction — shared by q_pca_power (emit) and q_pca_project
    (apply); the first of the ``PCA_K`` trained components."""
    return pca_components(spark, sf_dir, k=PCA_K, iters=iters)[0]


@declared(oracle=_pca_oracle(iters=6))
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix after 6 power-
    iteration rounds (uncentered; infinity-norm scaled, sign fixed by
    the deterministic all-ones start)."""
    v = _power_component(spark, sf_dir, iters=6)
    return spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(v)], "pos long, component double"
    )


# ---------------------------------------------------------------------------
# PCA projection — the apply half of q_pca_power (the detect→apply
# closure convention): every embedding scored against the trained
# principal direction. One narrow per-row dot against the broadcast
# literal — no shuffle beyond the training rounds themselves; at scale
# this is the 1-d "concept score" used for slicing/whitening/outlier
# cuts over the embedding corpus.
# ---------------------------------------------------------------------------
@declared(oracle=_pca_project_oracle(iters=6))
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection score onto the 6-round power-iteration
    component (rounded 6 — the within-row sum-order class)."""
    v = _power_component(spark, sf_dir, iters=6)
    v_arr = F.array(*[F.lit(c) for c in v])
    emb = read_parquet_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    return emb.select(
        "vec_id", F.round(dot_product(F.col("x"), v_arr), 6).alias("score")
    )


def _pca_topk_ctes(k: int, iters: int) -> str:
    """Unrolled-CTE replay of ``pca_components``: the 6-round power
    chain per component, plus a Hotelling-deflation CTE between
    components. Deflation arithmetic is RAW on purpose: the coefficient
    (round6 per-row dot) and the norm (round6 Σv²) are engine-identical
    doubles, so coef/vv, its product with the component literal-equal
    ``val``, and the subtraction are all bit-identical IEEE ops —
    rounding them would only add the decimal-repr hazard (NOTES: never
    round a bit-identical double). Every CTE is AS MATERIALIZED (the
    q_pca_power exponential-inlining lesson)."""
    parts = [
        """e1 AS MATERIALIZED (
        SELECT vec_id, unnest(embedding)::DOUBLE AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )""",
        "p AS MATERIALIZED (SELECT DISTINCT pos FROM e1)",
    ]
    for c in range(1, k + 1):
        parts.append(
            f"v{c}_0 AS MATERIALIZED "
            f"(SELECT pos, 1.0::DOUBLE AS val FROM p)"
        )
        for i in range(1, iters + 1):
            parts += [
                f"""s{c}_{i} AS MATERIALIZED (
        SELECT e.vec_id, round(sum(e.x * v.val), 6) AS s
        FROM e{c} e JOIN v{c}_{i - 1} v USING (pos) GROUP BY e.vec_id
    )""",
                f"""w{c}_{i} AS MATERIALIZED (
        SELECT e.pos, round(sum(e.x * s.s), 6) AS w
        FROM e{c} e JOIN s{c}_{i} s USING (vec_id) GROUP BY e.pos
    )""",
                f"m{c}_{i} AS MATERIALIZED "
                f"(SELECT max(abs(w)) AS mx FROM w{c}_{i})",
                f"v{c}_{i} AS MATERIALIZED "
                f"(SELECT pos, w / mx AS val FROM w{c}_{i}, m{c}_{i})",
            ]
        if c < k:
            parts += [
                f"vv{c} AS MATERIALIZED "
                f"(SELECT round(sum(val * val), 6) AS vv FROM v{c}_{iters})",
                f"""cc{c} AS MATERIALIZED (
        SELECT e.vec_id, round(sum(e.x * v.val), 6) AS coef
        FROM e{c} e JOIN v{c}_{iters} v USING (pos) GROUP BY e.vec_id
    )""",
                f"""e{c + 1} AS MATERIALIZED (
        SELECT e.vec_id, e.pos, e.x - (cc.coef / vv.vv) * v.val AS x
        FROM e{c} e JOIN cc{c} cc USING (vec_id)
             JOIN v{c}_{iters} v USING (pos), vv{c} vv
    )""",
            ]
    return "WITH " + ",\n    ".join(parts)


def _pca_topk_oracle(k: int, iters: int) -> str:
    tails = [
        f"SELECT CAST({c} AS BIGINT) AS comp, CAST(pos AS BIGINT) AS pos, "
        f"val AS component FROM v{c}_{iters}"
        for c in range(1, k + 1)
    ]
    return _pca_topk_ctes(k, iters) + "\n    " + "\n    UNION ALL ".join(tails)


def _pca_project_topk_oracle(k: int, iters: int) -> str:
    tails = [
        f"""SELECT e.vec_id, CAST({c} AS BIGINT) AS comp,
           round(sum(e.x * v.val), 6) AS score
    FROM e1 e JOIN v{c}_{iters} v USING (pos) GROUP BY e.vec_id"""
        for c in range(1, k + 1)
    ]
    return _pca_topk_ctes(k, iters) + "\n    " + "\n    UNION ALL ".join(tails)


@declared(oracle=_pca_topk_oracle(k=PCA_K, iters=6))
def q_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-4 principal directions by power iteration + Hotelling
    deflation (VERDICT r10 item 5) — SemDeDup-style embedding curation
    whitens on k ≥ 4 components, not just the top-1 the round-10
    operator emitted. One persisted artifact serves this, q_pca_power
    (its first component) and both projection halves."""
    comps = pca_components(spark, sf_dir, k=PCA_K, iters=6)
    rows = [
        (ci + 1, i + 1, val)
        for ci, comp in enumerate(comps)
        for i, val in enumerate(comp)
    ]
    return spark.createDataFrame(
        rows, "comp long, pos long, component double"
    )


@declared(oracle=_pca_project_topk_oracle(k=PCA_K, iters=6))
def q_pca_project_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector scores against all 4 trained components — the k-dim
    reduced representation (one narrow pass; the k dots share the row's
    single array read, and the components are plan literals, so there is
    no shuffle at ANY corpus size)."""
    comps = pca_components(spark, sf_dir, k=PCA_K, iters=6)
    scores = F.array(
        *[
            F.round(
                dot_product(
                    F.col("x"), F.array(*[F.lit(c) for c in comp])
                ),
                6,
            )
            for comp in comps
        ]
    )
    emb = read_parquet_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    return emb.select(
        "vec_id", F.posexplode(scores).alias("_i", "score")
    ).select(
        "vec_id",
        (F.col("_i") + 1).cast("long").alias("comp"),
        "score",
    )

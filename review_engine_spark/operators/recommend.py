"""Collaborative-filtering recommenders (north-star surface).

The reference ranks purely by content: cosine retrieval over pooled
review embeddings plus metadata features (`semantic.py:37-41`,
`rank.py:208-337`) — no user-history signal exists in its 5 modules.
The north star adds the classic collaborative path on top of that
content pipeline: MLlib ALS latent factors plus a relational item-item
co-occurrence model. Both consume the same implicit-feedback table.

Scale notes:

- ``implicit_ratings`` joins two fact tables on the order key; at scale
  both sides are bucketed by ``l_orderkey``/``o_orderkey`` (see
  ``sources.bucketing``) so the join is shuffle-free, and the group-by
  on (user, item) is the only wide stage.
- ``cooccurrence_topk`` collapses each order to a basket array with one
  order-key shuffle, then explodes i<j pairs in place — no self-join,
  so the fact table is scanned once and never shuffled twice. Pair
  volume is O(rows x basket_size) because baskets are small (TPC-H-ish
  <=13 lines/order); a pathological mega-basket would blow up
  quadratically — production caps basket size before pairing
  (``max_basket``), which also bounds per-task memory for the basket
  rows.
- ``als_recommend`` is iterative (driver-coordinated MLlib); its
  shuffles are block-to-block and scale with the rating count. Scoring
  probes a broadcast sign-random-projection index over the item
  factors (shuffle-free per-user probe + exact dot-product rerank):
  work is linear in users, unlike ``recommendForAllUsers``'s blocked
  |U|×|I| factor cross, which survives only as the recall yardstick in
  tests/test_recommend.py. Scoring one fitted model on a 4-core host,
  the exact cross was ~0.8 s faster at sf0.1 (3.2 s vs 3.9-4.1 s) but
  10-36 s slower on the 10× replica (208-223 s vs 187-198 s).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "implicit_ratings",
    "cooccurrence_topk",
    "als_recommend",
    "evaluate_cooccur_recommender",
    "evaluate_cooccur_ndcg",
]

#: NDCG rank discounts in micro units: round(1e6 / log2(rank + 1)) for
#: ranks 1..5, precomputed ONCE and hardcoded as integer literals so the
#: per-user DCG is an exact BIGINT sum on both engines — no libm log2
#: executes on any compare path (NOTES round-7 transcendental policy:
#: the cheapest guard is not running the transcendental at all).
_NDCG_DISCOUNT_MICRO = [1_000_000, 630_930, 500_000, 430_677, 386_853]
#: Prefix sums: ideal DCG for a user with n >= rank relevant items.
_NDCG_IDEAL_MICRO = [1_000_000, 1_630_930, 2_130_930, 2_561_607, 2_948_460]

#: SRP index shape (``_ann_topk_from_factors``): code tables, expected
#: items per bucket, and query-directed bit flips probed per table.
_ANN_TABLES = 6
_ANN_TARGET_BUCKET = 128
_ANN_FLIPS = 4


def implicit_ratings(
    orders: DataFrame,
    lineitem: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
) -> DataFrame:
    """(user, item, rating) implicit-feedback table from the order facts.

    Rating = total quantity the customer ever ordered of the part — the
    standard implicit-preference strength signal (Hu/Koren/Volinsky 2008).
    Only the three needed columns survive to the shuffle.
    """
    # fact⋈fact: the orders side scales with the corpus — pin
    # shuffle_hash so no size threshold ever broadcasts it (SCALING.md)
    joined = lineitem.select("l_orderkey", "l_partkey", "l_quantity").join(
        orders.select("o_orderkey", "o_custkey").hint("shuffle_hash"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return joined.groupBy(
        F.col("o_custkey").alias(user_col), F.col("l_partkey").alias(item_col)
    ).agg(F.round(F.sum("l_quantity"), 4).alias(rating_col))


def cooccurrence_topk(
    lineitem: DataFrame,
    k: int = 5,
    max_basket: int | None = 256,
) -> DataFrame:
    """Item-item collaborative filtering via within-basket co-occurrence.

    For each item, the top-k partner items ranked by cosine-normalized
    lift ``c_ij / sqrt(c_i * c_j)`` (ties broken by partner id). Pairs
    are generated BOTH directions in one explode pass over the basket
    arrays — no self-join, and no union of a swapped copy (round 13:
    the union form planned the explode→count aggregation TWICE, once
    per branch; same total pair rows through one aggregation instead).
    Lift is rounded *before* ranking so the top-k cut is engine-stable
    (SURVEY §2.L determinism rules).

    ``max_basket`` defaults ON (256): pair volume is quadratic in basket
    size, so one pathological mega-basket (a wholesale account, a bot)
    would emit b² pairs into a single task at scale. The cap keeps the
    first 256 sorted item ids — deterministic, and a no-op on TPC-H-ish
    baskets (≤7 lines/order), which is why the roster oracles mirror it
    as a ``list_slice`` that never binds at test SF. Pass ``None`` to
    disable.
    """
    from pyspark import StorageLevel

    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
    )
    if max_basket is not None:
        baskets = baskets.select(F.slice("items", 1, max_basket).alias("items"))
    # The basket table feeds four consumers (both union branches of the
    # pair generation + both sides' item counts); without persist the
    # fact-table scan + collect_set shuffle runs 4×. Size is one array
    # of item ids per order — far smaller than the fact table.
    baskets = baskets.persist(StorageLevel.MEMORY_AND_DISK)
    item_cnt = baskets.select(F.explode("items").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count("*").alias("n"))

    # All ordered pairs (i, j), i ≠ j, per basket via nested explode —
    # no self-join, no second pass over the fact table. `items` is a
    # materialized column, so the inner filter lambda does not
    # re-evaluate upstream work (cf. the O(n^2) HOF pitfall in
    # NOTES.md). Symmetry comes from the explode itself: the old
    # i<j-then-union form made the physical plan run the explode→count
    # aggregation once per union branch (measured 3.1 s vs 2.7 s at
    # sf0.1), while one aggregation over both directions shuffles the
    # same total pair rows once.
    sym = (
        baskets.select(F.col("items"), F.explode("items").alias("i"))
        .select(
            "i", F.explode(F.filter("items", lambda x: x != F.col("i"))).alias("j")
        )
        .groupBy("i", "j")
        .agg(F.count("*").alias("c"))
    )

    # per-item counts are CATALOG-scaled — never force a broadcast; AQE
    # converts these joins to broadcast at runtime when actually small
    ci = item_cnt.select(F.col("l_partkey").alias("i"), F.col("n").alias("ni"))
    cj = item_cnt.select(F.col("l_partkey").alias("j"), F.col("n").alias("nj"))
    scored = (
        sym.join(ci, "i")
        .join(cj, "j")
        .select(
            F.col("i").alias("item_id"),
            F.col("j").alias("rec_item_id"),
            F.round(F.col("c") / F.sqrt(F.col("ni") * F.col("nj")), 6).alias("lift"),
            F.col("c").alias("together"),
        )
    )
    w = Window.partitionBy("item_id").orderBy(F.desc("lift"), F.asc("rec_item_id"))
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= k
    )


def _fit_als(
    ratings: DataFrame,
    rank: int,
    max_iter: int,
    reg_param: float,
    alpha: float,
    seed: int,
    user_col: str,
    item_col: str,
    rating_col: str,
):
    """Fit the implicit-feedback MLlib ALS model.

    The block grid (shuffle width of every iteration) scales with the
    session's parallelism instead of MLlib's fixed 10. A different
    block count fits a different model, so the grid is part of what
    pins ``als_recommend``'s rows.
    """
    from pyspark.ml.recommendation import ALS

    par = ratings.sparkSession.sparkContext.defaultParallelism
    num_blocks = max(2, min(16, par // 8))
    als = ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        alpha=alpha,
        implicitPrefs=True,
        seed=seed,
        numUserBlocks=num_blocks,
        numItemBlocks=num_blocks,
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        coldStartStrategy="drop",
    )
    return als.fit(
        ratings.select(
            F.col(user_col).cast("int").alias(user_col),
            F.col(item_col).cast("int").alias(item_col),
            F.col(rating_col).cast("float").alias(rating_col),
        )
    )


def als_recommend(
    ratings: DataFrame,
    k: int = 5,
    rank: int = 8,
    max_iter: int = 5,
    reg_param: float = 0.1,
    alpha: float = 1.0,
    seed: int = 42,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
) -> DataFrame:
    """MLlib ALS on implicit feedback → flat (user, item, rank, score).

    ``implicitPrefs=True`` matches the quantity-as-confidence input from
    ``implicit_ratings``; the seed pins initialization so a fixed input
    gives a fixed model (rows-only check — iterative, not SQL).

    Scoring is ANN over the item-factor matrix
    (``_ann_topk_from_factors``): a broadcast median-balanced
    sign-random-projection index over the item factors, probed per user
    with query-directed multi-probe in one shuffle-free Arrow pass,
    candidates re-scored with the EXACT dot product so approximation
    affects recall only, never the reported score or order of surfaced
    items. Per-user recall against MLlib's exact
    ``recommendForAllUsers`` on the same model is pinned in
    tests/test_recommend.py (like q_knn_lsh's recall pin).
    """
    model = _fit_als(
        ratings, rank, max_iter, reg_param, alpha, seed,
        user_col, item_col, rating_col,
    )
    return _ann_topk_from_factors(
        ratings.sparkSession,
        model.userFactors,
        model.itemFactors,
        k=k,
        user_col=user_col,
        item_col=item_col,
        seed=seed,
    )


def _ann_topk_from_factors(
    spark,
    user_factors: DataFrame,
    item_factors: DataFrame,
    k: int,
    user_col: str,
    item_col: str,
    seed: int,
) -> DataFrame:
    """Top-k max-inner-product items per user: a broadcast item-side
    LSH index probed per user in one shuffle-free Arrow pass, with
    exact dot-product rerank of the candidates.

    Index (built once from the collected item factors, broadcast):
    ``_ANN_TABLES`` sign-random-projection code tables over them. Each table concatenates ``r``
    sign bits of seeded Gaussian projections with

        r = max(1, ceil(log2(|I| / _ANN_TARGET_BUCKET)))

    so expected bucket size stays ~``_ANN_TARGET_BUCKET`` AS THE CATALOG
    GROWS — the blocking-key-cardinality-must-scale rule every near-dup
    operator in this engine follows. Each bit is offset by the ITEM
    MEDIAN of its projection (balanced binary hashing): ALS implicit
    factors share a strong common direction, so raw sign(p·x) codes
    collapse into a few mega-buckets (measured: expected bucket 440-680
    vs the 78 target at sf0.1 — a 6x candidate inflation); the median
    offset makes every bit split the catalog 50/50 by construction.

    Probe (executors, mapInPandas over the user factors): per table,
    a user visits its own bucket plus QUERY-DIRECTED flips (multi-probe
    LSH, Lv et al. VLDB 2007) of the ``_ANN_FLIPS`` lowest-|margin| bits
    — the ones actually likely to disagree with a near item — plus the
    double-flip of the two smallest: a CONSTANT _ANN_FLIPS+2 probes per
    table at any catalog size. Candidates are deduped per user and
    re-scored with the EXACT dot product (rounded before the cut), so
    the approximation affects recall only, never the reported score or
    order of surfaced items. Sweep at sf0.1 (15k users x 20k items):
    recall@5 vs the exact cross = 0.89-0.91 across seeds at these
    constants; the MIPS->cosine augmentation (Bachrach et al. RecSys
    2014) was measured WORSE (0.44-0.80 — the appended sqrt(M²−‖i‖²)
    component dominates the sign bits) and is deliberately absent; the
    pin lives in tests/test_recommend.py (like q_knn_lsh's recall pin).

    Cost shape: the ratings are the large side; the item catalog is the
    dimension table. The index costs ~(4·dim + 8 + 4·tables) bytes/item
    — ~60 MB at 1M items — the same broadcast budget class as MLlib
    ALS's own blocked factor matrices, traded for ZERO candidate
    shuffle: per-user work is O(tables · probes · bucket) local numpy
    gather+matmul, linear in users, and no (user,item) pair ever crosses
    the network. The code-table equi-join form of the same algebra
    shuffled ~80M candidate pairs at sf0.1 (90 s vs ~5 s for identical
    candidates).
    """
    import numpy as np
    import pandas as pd

    ip = item_factors.toPandas()  # driver: linear in CATALOG (the
    # dimension side, ~44 B/item) — the deliberate memory-for-shuffle
    # trade of every broadcast join; never linear in users/ratings
    iid = ip["id"].to_numpy(np.int64)
    ivec = np.asarray(ip["features"].tolist(), dtype=np.float32)
    n_items, dim = ivec.shape
    r = max(1, int(np.ceil(np.log2(max(2.0, n_items / _ANN_TARGET_BUCKET)))))
    n_flip = min(_ANN_FLIPS, r)
    bits = 1 << np.arange(r)
    rng = np.random.RandomState(seed)
    projs = rng.standard_normal((_ANN_TABLES, r, dim)).astype(np.float32)
    offs = np.empty((_ANN_TABLES, r), dtype=np.float32)
    tables = []
    for t in range(_ANN_TABLES):
        m = ivec @ projs[t].T
        offs[t] = -np.median(m, axis=0)
        codes = ((m + offs[t]) >= 0) @ bits
        order = np.argsort(codes, kind="stable").astype(np.int32)
        sorted_codes = codes[order]
        lo = np.searchsorted(sorted_codes, np.arange(1 << r)).astype(np.int32)
        hi = np.searchsorted(
            sorted_codes, np.arange(1 << r), side="right"
        ).astype(np.int32)
        tables.append((order, lo, hi))
    index_bc = spark.sparkContext.broadcast(
        (iid, ivec, projs, offs, tables)
    )
    out_schema = (
        f"{user_col} long, {item_col} long, rec_rank long, score double"
    )

    def probe(batches):
        b_iid, b_ivec, b_projs, b_offs, b_tables = index_bc.value
        for pdf in batches:
            uids = pdf["id"].to_numpy(np.int64)
            uvec = np.asarray(pdf["features"].tolist(), dtype=np.float32)
            n_u = len(uids)
            cand = [[] for _ in range(n_u)]
            for t in range(_ANN_TABLES):
                mu = uvec @ b_projs[t].T + b_offs[t]
                cu = (mu >= 0) @ bits
                flip_order = np.argsort(np.abs(mu), axis=1)[:, :n_flip]
                probes = [cu] + [
                    cu ^ (1 << flip_order[:, j]) for j in range(n_flip)
                ]
                if n_flip >= 2:
                    probes.append(
                        cu
                        ^ (1 << flip_order[:, 0])
                        ^ (1 << flip_order[:, 1])
                    )
                order, lo, hi = b_tables[t]
                for p in probes:
                    for u in range(n_u):
                        c = int(p[u])
                        if hi[c] > lo[c]:
                            cand[u].append(order[lo[c] : hi[c]])
            rows_u, rows_i, rows_rk, rows_s = [], [], [], []
            for u in range(n_u):
                if not cand[u]:
                    continue
                cs = np.unique(np.concatenate(cand[u]))
                # float64 dot of float32 inputs: every product is exact
                # (24+24 < 53 bits), so the score is reduction-order
                # stable across BLAS kernels
                scores = np.round(
                    b_ivec[cs].astype(np.float64)
                    @ uvec[u].astype(np.float64),
                    6,
                )
                # (-score, item_id) order: descending exact score,
                # ascending id
                top = np.lexsort((b_iid[cs], -scores))[:k]
                rows_u.append(np.full(len(top), uids[u], dtype=np.int64))
                rows_i.append(b_iid[cs][top])
                rows_rk.append(np.arange(1, len(top) + 1, dtype=np.int64))
                rows_s.append(scores[top])
            if rows_u:
                yield pd.DataFrame(
                    {
                        user_col: np.concatenate(rows_u),
                        item_col: np.concatenate(rows_i),
                        "rec_rank": np.concatenate(rows_rk),
                        "score": np.concatenate(rows_s),
                    }
                )

    # ALS emits userFactors in its block-grid partitioning — often far
    # fewer partitions than cores (observed: 4 partitions for a 1.5M-user
    # corpus → 4 busy workers on a 32-core box). The probe is the only
    # remaining per-user work, so spread it: one narrow shuffle of
    # (id, 8 floats) rows costs ~nothing next to an 8x parallelism loss.
    par = user_factors.sparkSession.sparkContext.defaultParallelism
    if user_factors.rdd.getNumPartitions() < par:
        user_factors = user_factors.repartition(par)
    return user_factors.mapInPandas(probe, out_schema)


def _loo_user_recs(
    orders: DataFrame, lineitem: DataFrame, k: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared leave-latest-order-out protocol for the offline evaluators.

    Splits each customer's history into (latest order = test basket,
    rest = training), picks the most-purchased training item as the
    anchor, trains the co-occurrence recommender on training baskets
    only, and returns ``(user_recs, test_basket, anchor)`` where
    ``user_recs`` carries the recommendation RANK (1..k) so rank-aware
    metrics (NDCG) and rank-blind ones (hit rate) share one subtree.
    Factored out so the two evaluators never duplicate the corpus-scaled
    split/train shuffles (the substring-dedup shared-builder convention,
    VERDICT r9 item 2).
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ranked = orders.select("o_orderkey", "o_custkey", "o_orderdate").withColumn(
        "rn", F.row_number().over(w)
    )
    test_orders = ranked.filter(F.col("rn") == 1).select("o_orderkey", "o_custkey")
    train_orders = ranked.filter(F.col("rn") > 1).select("o_orderkey", "o_custkey")
    li = lineitem.select("l_orderkey", "l_partkey", "l_quantity")

    # train_li feeds both the anchor aggregation and the co-occurrence
    # trainer; no persist needed — the consumers share the identical
    # shuffle subtree and ReuseExchange dedupes it (verified: persisting
    # changed nothing at sf0.1), so caching would only materialize a
    # corpus-sized table for no reuse gain.
    train_li = li.join(
        train_orders, li["l_orderkey"] == train_orders["o_orderkey"]
    ).select("l_orderkey", "l_partkey", "l_quantity", "o_custkey")
    test_basket = (
        li.join(test_orders, li["l_orderkey"] == test_orders["o_orderkey"])
        .select("o_custkey", "l_partkey")
        .distinct()
    )

    aw = Window.partitionBy("o_custkey").orderBy(
        F.desc("qty"), F.asc("l_partkey")
    )
    anchor = (
        train_li.groupBy("o_custkey", "l_partkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("qty"))
        .withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") == 1)
        .select("o_custkey", F.col("l_partkey").alias("anchor_item"))
    )

    recs = cooccurrence_topk(
        train_li.select("l_orderkey", "l_partkey"), k=k
    ).select(
        F.col("item_id").alias("anchor_item"), "rec_item_id",
        F.col("rn").alias("rec_rank"),
    )

    user_recs = anchor.join(recs, "anchor_item").select(
        "o_custkey", "rec_item_id", "rec_rank"
    )
    return user_recs, test_basket, anchor


def evaluate_cooccur_recommender(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Offline hit-rate@k evaluation of the co-occurrence recommender.

    Leave-latest-out protocol: each customer's most recent order (ties
    by order key) is the test basket; the rest is training data. Each
    customer's anchor is their most-purchased training item; the
    recommendation list is the anchor's top-k co-occurrence partners
    (trained only on training baskets — no test leakage). A customer
    scores a hit if any recommended item appears in the held-out basket.
    Output: (c_mktsegment, n_users, n_hits, hit_rate).

    Every step is deterministic (explicit tie-breaks, lift rounded
    before ranking) so the whole evaluation is oracle-checkable — the
    eval harness is engine surface, not a side script.
    """
    user_recs, test_basket, anchor = _loo_user_recs(orders, lineitem, k)
    hits = (
        user_recs.join(
            test_basket,
            (user_recs["o_custkey"] == test_basket["o_custkey"])
            & (user_recs["rec_item_id"] == test_basket["l_partkey"]),
        )
        .select(user_recs["o_custkey"])
        .distinct()
        .withColumn("hit", F.lit(1))
    )

    eligible = anchor.select("o_custkey").join(
        test_basket.select("o_custkey").distinct(), "o_custkey"
    )
    scored = eligible.join(hits, "o_custkey", "left").select(
        "o_custkey", F.coalesce("hit", F.lit(0)).alias("hit")
    )
    return (
        scored.join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("hit").alias("n_hits"),
            F.round(F.avg("hit"), 6).alias("hit_rate"),
        )
    )


def evaluate_cooccur_ndcg(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Offline NDCG@k of the co-occurrence recommender — the rank-aware
    companion to ``evaluate_cooccur_recommender`` (hit rate says whether
    anything relevant was retrieved; NDCG says how high it ranked).

    Same leave-latest-order-out protocol via the shared
    ``_loo_user_recs`` subtree. Per user: DCG = sum of the hardcoded
    micro-unit discounts (``_NDCG_DISCOUNT_MICRO``) over recommendation
    ranks that hit the held-out basket — an exact BIGINT sum; ideal DCG
    = the discount prefix sum at min(k, |test basket|). NDCG = the
    exact-integer ratio as a raw double (bit-identical division of
    exact ints, NOTES round-4 rule). Output per market segment:
    (c_mktsegment, n_users, sum_dcg, avg_ndcg) — sum_dcg is exact;
    only the cross-user average (an order-dependent double sum) is
    rounded to 6dp.

    Scale: adds ZERO corpus-scaled shuffles over the hit-rate evaluator
    — the rank join is the same keys-only (user, item) hash join, and
    the discount lookup is an array literal probe.
    """
    if k > len(_NDCG_DISCOUNT_MICRO):
        raise ValueError(
            f"k={k} exceeds the precomputed discount table "
            f"({len(_NDCG_DISCOUNT_MICRO)} ranks)"
        )
    user_recs, test_basket, anchor = _loo_user_recs(orders, lineitem, k)

    discount = F.array(*[F.lit(w) for w in _NDCG_DISCOUNT_MICRO])
    ideal = F.array(*[F.lit(w) for w in _NDCG_IDEAL_MICRO])

    hit_ranks = (
        user_recs.join(
            test_basket,
            (user_recs["o_custkey"] == test_basket["o_custkey"])
            & (user_recs["rec_item_id"] == test_basket["l_partkey"]),
        )
        .select(user_recs["o_custkey"], user_recs["rec_rank"])
    )
    dcg = hit_ranks.groupBy("o_custkey").agg(
        F.sum(
            F.element_at(discount, F.col("rec_rank").cast("int"))
        ).alias("dcg")
    )

    n_rel = test_basket.groupBy("o_custkey").agg(
        F.count("*").alias("n_rel")
    )
    eligible = (
        anchor.select("o_custkey")
        .join(n_rel, "o_custkey")
        .withColumn(
            "idcg",
            F.element_at(ideal, F.least(F.lit(k), F.col("n_rel")).cast("int")),
        )
    )
    scored = eligible.join(dcg, "o_custkey", "left").select(
        "o_custkey",
        F.coalesce("dcg", F.lit(0)).cast("long").alias("dcg"),
        "idcg",
    )
    return (
        scored.join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
        .withColumn(
            "ndcg",
            F.col("dcg").cast("double") / F.col("idcg").cast("double"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("dcg").cast("long").alias("sum_dcg"),
            F.round(F.avg("ndcg"), 6).alias("avg_ndcg"),
        )
    )


def negative_sample(
    positives: DataFrame,
    items_max: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    k: int = 3,
) -> DataFrame:
    """Deterministic negative sampling for retrieval/recsys training:
    for every positive (user, item) pair, k candidate negatives drawn
    by the engine's LCG over (user, item, j), then TRUE positives of
    the same user anti-joined away (a sampled "negative" the user
    actually interacted with would poison the loss). Emits
    (user, item, j, neg_item).

    Determinism (vs the usual ``rand()`` sampler) makes training data
    reproducible across reruns/partitionings and lets a SQL oracle
    replay the draw. Scale: candidate generation is a narrow explode;
    the only shuffle is the (user, neg_item) anti-join against the
    positives — keys only, hash-joined. Collisions with positives are
    dropped, not resampled (bounded one-pass cost; at catalog sizes ≫ k
    the expected loss is negligible).

    ``items_max`` is a 1-row (max_item,) frame (broadcast) bounding the
    catalog id range; sampled ids are 1..max_item.
    """
    from pyspark.sql.functions import broadcast

    from review_engine_spark.operators.chunking import _lcg

    cand = (
        positives.select(user_col, item_col)
        .withColumn("j", F.explode(F.sequence(F.lit(1), F.lit(int(k)))))
        .crossJoin(broadcast(items_max))
        .withColumn(
            "neg_item",
            F.pmod(
                _lcg(
                    F.col(user_col) * F.lit(7919)
                    + F.col(item_col) * F.lit(31)
                    + F.col("j")
                ),
                F.col("max_item"),
            )
            + F.lit(1),
        )
        .drop("max_item")
    )
    # the positives side is O(interactions) — pin shuffle_hash
    return cand.join(
        positives.select(
            F.col(user_col), F.col(item_col).alias("neg_item")
        )
        .distinct()
        .hint("shuffle_hash"),
        [user_col, "neg_item"],
        "left_anti",
    )

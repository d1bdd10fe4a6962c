"""Collaborative-filtering operator tests (north-star: MLlib ALS +
relational item-item CF; the reference has no user-history signal).
"""

from __future__ import annotations

import math

from review_engine_spark.operators.recommend import (
    als_recommend,
    cooccurrence_topk,
    implicit_ratings,
)

LI_SCHEMA = "l_orderkey long, l_partkey long, l_quantity double"


def test_implicit_ratings_sums_quantity(spark):
    orders = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        [(1, 7, 2.0), (1, 8, 1.0), (2, 7, 3.5), (3, 7, 1.0)], LI_SCHEMA
    )
    out = {
        (r["user_id"], r["item_id"]): r["rating"]
        for r in implicit_ratings(orders, li).collect()
    }
    assert out == {(100, 7): 5.5, (100, 8): 1.0, (200, 7): 1.0}


def test_cooccurrence_lift_values(spark):
    # parts 1,2 together twice; 1,3 once; 3 appears alone once more.
    li = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 1.0), (2, 1, 1.0), (2, 2, 1.0), (3, 1, 1.0),
         (3, 3, 1.0), (4, 3, 1.0)],
        LI_SCHEMA,
    )
    rows = cooccurrence_topk(li, k=5).collect()
    by_pair = {(r["item_id"], r["rec_item_id"]): r for r in rows}
    # c(1)=3, c(2)=2, c(3)=2; lift(1,2) = 2/sqrt(3*2)
    assert math.isclose(by_pair[(1, 2)]["lift"], round(2 / math.sqrt(6), 6))
    assert by_pair[(1, 2)]["together"] == 2
    # symmetric entry exists with the same lift
    assert by_pair[(2, 1)]["lift"] == by_pair[(1, 2)]["lift"]
    # item 1's best partner is 2 (lift 0.816) over 3 (1/sqrt(6)=0.408)
    item1 = sorted(
        (r for r in rows if r["item_id"] == 1), key=lambda r: r["rn"]
    )
    assert [r["rec_item_id"] for r in item1] == [2, 3]


def test_cooccurrence_dedupes_repeated_lines(spark):
    # same part twice in one order must count the pair once
    li = spark.createDataFrame(
        [(1, 1, 1.0), (1, 1, 2.0), (1, 2, 1.0)], LI_SCHEMA
    )
    rows = cooccurrence_topk(li, k=5).collect()
    by_pair = {(r["item_id"], r["rec_item_id"]): r["together"] for r in rows}
    assert by_pair == {(1, 2): 1, (2, 1): 1}


def test_cooccurrence_max_basket_caps_pairs(spark):
    li = spark.createDataFrame(
        [(1, p, 1.0) for p in range(1, 6)], LI_SCHEMA
    )
    # cap at 2 → only parts {1,2} survive → a single symmetric pair
    rows = cooccurrence_topk(li, k=5, max_basket=2).collect()
    assert {(r["item_id"], r["rec_item_id"]) for r in rows} == {(1, 2), (2, 1)}


def test_als_recommend_shape_and_order(spark, sf_dir):
    from review_engine_spark.sources.io import read_parquet_table

    ratings = implicit_ratings(
        read_parquet_table(spark, sf_dir, "orders"),
        read_parquet_table(spark, sf_dir, "lineitem"),
    )
    recs = als_recommend(ratings, k=3, max_iter=2, rank=4)
    assert recs.columns == ["user_id", "item_id", "rec_rank", "score"]
    sample_user = recs.limit(1).collect()[0]["user_id"]
    rows = sorted(
        recs.filter(recs.user_id == sample_user).collect(),
        key=lambda r: r["rec_rank"],
    )
    assert [r["rec_rank"] for r in rows] == [1, 2, 3]
    # the SRP scorer's rerank orders by exact dot score descending
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_als_ann_recall_against_exact(spark, sf_dir):
    """The SRP scorer (buckets + exact rerank) must recover most of
    recommendForAllUsers' exact top-5 per user on the SAME fitted model
    — the same recall-vs-exact pin q_knn_lsh carries. Scores for
    surfaced items are exact dots, so only membership can differ."""
    from review_engine_spark.operators.recommend import (
        _ann_topk_from_factors,
        _fit_als,
    )
    from review_engine_spark.sources.io import read_parquet_table

    ratings = implicit_ratings(
        read_parquet_table(spark, sf_dir, "orders"),
        read_parquet_table(spark, sf_dir, "lineitem"),
    )
    # als_recommend's defaults, so the pin covers the model it serves
    model = _fit_als(
        ratings, rank=8, max_iter=5, reg_param=0.1, alpha=1.0, seed=42,
        user_col="user_id", item_col="item_id", rating_col="rating",
    )
    exact = {}
    for r in model.recommendForAllUsers(5).collect():
        exact[r["user_id"]] = {rec["item_id"] for rec in r["recommendations"]}
    approx = {}
    for r in _ann_topk_from_factors(
        spark, model.userFactors, model.itemFactors, k=5,
        user_col="user_id", item_col="item_id", seed=42,
    ).collect():
        approx.setdefault(r["user_id"], set()).add(r["item_id"])
    # every trained user must surface (multi-probe always hits the
    # user's own bucket, which is never empty of candidates for a
    # healthy model — a user with zero candidates means broken hashing)
    assert set(exact) == set(approx)
    hits = sum(len(exact[u] & approx[u]) for u in exact)
    total = sum(len(exact[u]) for u in exact)
    assert hits / total >= 0.8, f"ANN recall@5 {hits / total:.3f} < 0.8"


def test_eval_no_test_leakage(spark):
    """An item pair that co-occurs ONLY in held-out orders must never be
    recommended — the recommender trains strictly on training baskets."""
    from datetime import datetime as dt
    from review_engine_spark.operators.recommend import (
        evaluate_cooccur_recommender,
    )

    orders = spark.createDataFrame(
        [
            # customer 100: two orders — order 2 is latest (test)
            (1, 100, dt(2024, 1, 1)), (2, 100, dt(2024, 1, 5)),
            # customer 200: two orders
            (3, 200, dt(2024, 1, 2)), (4, 200, dt(2024, 1, 6)),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    li = spark.createDataFrame(
        [
            (1, 10, 1.0), (1, 11, 1.0),      # train: 10-11 co-occur
            (2, 10, 1.0), (2, 99, 1.0),      # TEST only: 10-99 co-occur
            (3, 10, 1.0), (3, 11, 1.0),      # train: 10-11 again
            (4, 11, 1.0),                    # test basket for 200
        ],
        "l_orderkey long, l_partkey long, l_quantity double",
    )
    cust = spark.createDataFrame(
        [(100, "SEG"), (200, "SEG")], "c_custkey long, c_mktsegment string"
    )
    out = evaluate_cooccur_recommender(orders, li, cust, k=5).collect()
    assert len(out) == 1
    r = out[0]
    # both customers eligible; anchor=10 for both (min partkey tie-break);
    # recs from TRAIN graph = {11} only (99 never trains). Customer 100's
    # test basket {10, 99} has no 11 → miss; customer 200's test {11} → hit.
    assert r["n_users"] == 2 and r["n_hits"] == 1 and r["hit_rate"] == 0.5


def test_negative_sample_excludes_positives_and_is_deterministic(spark):
    from pyspark.sql import functions as F

    from review_engine_spark.operators.recommend import negative_sample

    pos = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 12)], "user_id long, item_id long"
    )
    mx = spark.createDataFrame([(12,)], "max_item long")
    out = negative_sample(pos, mx, k=3)
    rows = [
        (r["user_id"], r["item_id"], r["j"], r["neg_item"])
        for r in out.collect()
    ]
    # sampled range respected
    assert all(1 <= n <= 12 for *_, n in rows)
    # no emitted negative collides with ANY positive of that user
    pos_set = {(1, 10), (1, 11), (2, 10), (3, 12)}
    assert all((u, n) not in pos_set for u, _, _, n in rows)
    # at most k per positive pair, and the draw is reproducible
    from collections import Counter

    per_pair = Counter((u, i) for u, i, _, _ in rows)
    assert all(c <= 3 for c in per_pair.values())
    again = [
        (r["user_id"], r["item_id"], r["j"], r["neg_item"])
        for r in negative_sample(pos.repartition(4), mx, k=3).collect()
    ]
    assert sorted(rows) == sorted(again)


def test_ndcg_eval_exact_integer_discounts(spark):
    """Hits at known ranks: rank-1 hit -> ndcg 1.0, rank-2 hit ->
    630930/1000000, miss -> 0; sum_dcg is the exact micro-unit total."""
    from datetime import datetime as dt
    from review_engine_spark.operators.recommend import evaluate_cooccur_ndcg

    orders = spark.createDataFrame(
        [
            (1, 100, dt(2024, 1, 1)), (2, 100, dt(2024, 1, 5)),
            (3, 200, dt(2024, 1, 1)), (4, 200, dt(2024, 1, 6)),
            (5, 300, dt(2024, 1, 2)), (6, 300, dt(2024, 1, 7)),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    # train baskets: {10,11}, {10,11,12}, {10,12} ->
    #   n(10)=3 n(11)=2 n(12)=2; c(10,11)=2 c(10,12)=2 c(11,12)=1
    #   anchor 10's partners: 11 and 12 tie on lift 2/sqrt(6) -> id
    #   tie-break gives 11 rank 1, 12 rank 2
    li = spark.createDataFrame(
        [
            (1, 10, 1.0), (1, 11, 1.0),
            (3, 10, 1.0), (3, 11, 1.0), (3, 12, 1.0),
            (5, 10, 1.0), (5, 12, 1.0),
            # test baskets: c100 {12} (rank-2 hit), c200 {11} (rank-1
            # hit), c300 {99} (miss)
            (2, 12, 1.0), (4, 11, 1.0), (6, 99, 1.0),
        ],
        "l_orderkey long, l_partkey long, l_quantity double",
    )
    cust = spark.createDataFrame(
        [(100, "SEG"), (200, "SEG"), (300, "SEG")],
        "c_custkey long, c_mktsegment string",
    )
    (r,) = evaluate_cooccur_ndcg(orders, li, cust, k=5).collect()
    assert r["n_users"] == 3
    assert r["sum_dcg"] == 630_930 + 1_000_000 + 0
    assert r["avg_ndcg"] == round((0.63093 + 1.0 + 0.0) / 3, 6)


def test_ndcg_k_beyond_discount_table_raises(spark):
    import pytest as _pytest
    from review_engine_spark.operators.recommend import evaluate_cooccur_ndcg

    with _pytest.raises(ValueError, match="discount table"):
        evaluate_cooccur_ndcg(None, None, None, k=6)


def test_ndcg_discount_table_matches_log2_definition():
    """The hardcoded micro-unit discounts must be round(1e6/log2(r+1))
    and the ideal table its exact prefix sums — pin the derivation so a
    typo can't silently skew every NDCG."""
    import math

    from review_engine_spark.operators.recommend import (
        _NDCG_DISCOUNT_MICRO,
        _NDCG_IDEAL_MICRO,
    )

    expect = [round(1e6 / math.log2(r + 1)) for r in range(1, 6)]
    assert _NDCG_DISCOUNT_MICRO == expect
    acc = 0
    for w, ideal in zip(_NDCG_DISCOUNT_MICRO, _NDCG_IDEAL_MICRO):
        acc += w
        assert ideal == acc


def test_ndcg_oracle_mirrors_max_basket_cap(spark, tmp_path):
    """ADVICE r10: the eval oracles rebuilt the recommender WITHOUT
    cooccurrence_topk's max_basket=256 cap, diverging on any order with
    > 256 distinct parts. Fixture: a 257-part mega-basket where the
    capped-away part (2000) would otherwise reach the anchor's top-5.
    Pins (a) engine == capped oracle, (b) the cap BINDS — an uncapped
    oracle variant disagrees on sum_dcg."""
    import duckdb
    import pandas as pd

    from review_engine_spark.plans import ORACLES
    from review_engine_spark.plans.roster_recsys import q_ndcg_eval

    pd.DataFrame(
        {"c_custkey": [1, 2, 3], "c_mktsegment": ["A", "A", "A"]}
    ).to_parquet(tmp_path / "customer.parquet")
    pd.DataFrame(
        {
            "o_orderkey": [101, 109, 201, 209, 301, 309],
            "o_custkey": [1, 1, 2, 2, 3, 3],
            "o_orderdate": pd.to_datetime(
                ["2024-01-01", "2024-02-01"] * 3
            ),
        }
    ).to_parquet(tmp_path / "orders.parquet")
    mega = [(101, 1, 10.0)] + [
        (101, p, 1.0) for p in range(1000, 1255)
    ] + [(101, 2000, 1.0)]  # 257 distinct parts; cap drops 2000
    li = mega + [
        (201, 1, 1.0), (201, 2000, 1.0),   # uncapped would double c(1,2000)
        (301, 1, 1.0), (301, 1000, 1.0),
        (109, 2000, 1.0),                   # user1 test: hit iff 2000 recs
        (209, 1, 1.0),
        (309, 9999, 1.0),
    ]
    pd.DataFrame(
        li, columns=["l_orderkey", "l_partkey", "l_quantity"]
    ).to_parquet(tmp_path / "lineitem.parquet")

    got = sorted(
        (r["c_mktsegment"], r["n_users"], r["sum_dcg"], r["avg_ndcg"])
        for r in q_ndcg_eval(spark, str(tmp_path)).collect()
    )

    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )
    sql = ORACLES["q_ndcg_eval"]
    oracle = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == oracle

    uncapped = sql.replace("1, 256)", "1, 1000000)")
    assert uncapped != sql
    diverged = sorted(tuple(r) for r in con.execute(uncapped).fetchall())
    assert diverged != oracle  # the cap binds on this fixture

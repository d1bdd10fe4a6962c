"""Operator-level tests: MMR golden behavior, dedup families, similarity,
plan-shape invariants (SURVEY §5.2.4, §4.3.3).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from review_engine_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from review_engine_spark.operators.ranking import _mmr_picks, mmr_diversify, top_k_by
from review_engine_spark.operators.similarity import brute_force_topk, ivf_topk


def _mmr(spark, candidates, *args, **kwargs):
    """The MMR picks as a frame, the way ``q_mmr`` returns them."""
    return spark.createDataFrame(mmr_diversify(candidates, *args, **kwargs))


def test_mmr_first_pick_is_pure_relevance(spark):
    # Two near-identical top docs: MMR must pick the best, then skip its
    # twin in favor of the diverse third (rank.py:282-325 semantics).
    rows = [
        (1, 1.00, [1.0, 0.0]),
        (2, 0.99, [1.0, 0.0]),   # duplicate direction of 1
        (3, 0.50, [0.0, 1.0]),   # orthogonal
    ]
    df = spark.createDataFrame(rows, "id long, rel double, vec array<double>")
    out = mmr_diversify(df, "id", "rel", "vec", k=2).to_pylist()
    assert [r["id"] for r in out] == [1, 3]
    assert [r["mmr_rank"] for r in out] == [1, 2]


def test_mmr_none_vector_tolerated(spark):
    rows = [(1, 1.0, [1.0, 0.0]), (2, 0.9, None), (3, 0.8, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "id long, rel double, vec array<double>")
    out = mmr_diversify(df, "id", "rel", "vec", k=3).to_pylist()
    # None vector → similarity 0.0 (rank.py:195-197), so id=2 ranks 2nd
    assert [r["id"] for r in out] == [1, 2, 3]


MMR_PASSTHROUGH = (
    "title string, id string, price double, n int, flag boolean, "
    "day date, rel float, vec array<double>, tags array<string>"
)
MMR_PASSTHROUGH_OUT = (
    "struct<mmr_rank:bigint,id:string,rel:double,title:string,"
    "price:double,n:int,flag:boolean,day:date,tags:array<string>>"
)


def test_mmr_passes_other_columns_through(spark, plan_nodes):
    import datetime

    day = datetime.date(2024, 2, 29)
    rows = [
        ("one", "a", 9.5, 3, True, day, 1.0, [1.0, 0.0], ["x"]),
        ("twin", "b", 8.0, 2, False, None, 0.75, [1.0, 0.0], None),
        (None, "c", None, None, None, day, 0.5, [0.0, 1.0], []),
    ]
    df = spark.createDataFrame(rows, MMR_PASSTHROUGH)
    out = _mmr(spark, df, "id", "rel", "vec", k=3)
    assert out.schema.simpleString() == MMR_PASSTHROUGH_OUT
    assert [tuple(r) for r in out.collect()] == [
        (1, "a", 1.0, "one", 9.5, 3, True, day, ["x"]),
        (2, "c", 0.5, None, None, None, None, day, []),
        (3, "b", 0.75, "twin", 8.0, 2, False, None, None),
    ]
    nodes = plan_nodes(out)
    assert [name for name, leaf in nodes if leaf] == ["LocalTableScan"]
    assert not any("ExistingRDD" in name for name, _ in nodes)


def test_mmr_nulls_stay_null_without_arrow(spark):
    rows = [(None, "a", None, 1.0, [1.0, 0.0]), ("t", "b", 2.0, 0.5, None)]
    df = spark.createDataFrame(
        rows, "title string, id string, price double, rel double, vec array<double>"
    )
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = _mmr(spark, df, "id", "rel", "vec", k=2).collect()
    finally:
        spark.conf.set(key, before)
    assert [(r["title"], r["price"]) for r in out] == [(None, None), ("t", 2.0)]


def test_mmr_empty_candidates(spark):
    df = spark.createDataFrame([], MMR_PASSTHROUGH)
    out = _mmr(spark, df, "id", "rel", "vec", k=3)
    assert out.collect() == []
    assert out.schema.simpleString() == MMR_PASSTHROUGH_OUT


def test_mmr_ties_keep_first_seen(spark):
    rows = [(7, 0.5, [1.0, 0.0]), (3, 0.5, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, rel double, vec array<double>")
    out = mmr_diversify(df, "id", "rel", "vec", k=1).to_pylist()
    # candidate order is (-score, id): id=3 first on equal scores
    assert out[0]["id"] == 3


def _mmr_picks_quadratic(ordered, id2score, id2vec, k, mmr_lambda):
    """The O(k²·n·d) loop ``_mmr_picks`` replaced: max similarity to the
    picks recomputed from scratch for every candidate on every pick."""

    def dot(a, b):
        if a is None or b is None:
            return 0.0
        return sum(x * y for x, y in zip(a, b))

    selected, remaining = [], list(ordered)
    while len(selected) < min(k, len(ordered)):
        best_id, best_val = None, -1e9
        for cid in remaining:
            relevance = id2score[cid]
            if not selected:
                mmr_val = relevance
            else:
                max_sim = max(dot(id2vec[cid], id2vec[s]) for s in selected)
                mmr_val = mmr_lambda * relevance - (1.0 - mmr_lambda) * max_sim
            if mmr_val > best_val:
                best_id, best_val = cid, mmr_val
        if best_id is None:
            break
        selected.append(best_id)
        remaining.remove(best_id)
    return selected


def test_mmr_running_max_matches_quadratic_loop():
    rng = random.Random(7)
    for trial in range(400):
        n, d = rng.randint(0, 30), rng.randint(1, 6)
        # few distinct scores and small-integer components: tied scores
        # and tied similarities; signed components: negative similarities
        scores = [rng.choice([0.1, 0.5, 0.5, 0.9, rng.random()]) for _ in range(n)]
        id2score = dict(zip(range(n), scores))
        id2vec = {
            cid: None if rng.random() < 0.15 else [
                float(rng.randint(-2, 2)) if rng.random() < 0.5 else rng.gauss(0, 1) for _ in range(d)
            ]
            for cid in range(n)
        }
        ordered = sorted(id2score, key=lambda cid: (-id2score[cid], cid))
        k = rng.choice([1, 3, 10, n, n + 5])
        lam = rng.choice([0.0, 0.3, 0.7, 1.0])
        want = _mmr_picks_quadratic(ordered, id2score, id2vec, k, lam)
        assert _mmr_picks(ordered, id2score, id2vec, k, lam) == want, trial
        assert len(want) == min(k, n)


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely different words describing an unrelated topic entirely here now"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {
        (r["left_id"], r["right_id"])
        for r in minhash_lsh_pairs(df, "text", "doc_id", min_jaccard=0.3).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"
    far = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    # short docs have noisy bits (each bit's vote sum is near zero), so the
    # one-token edit lands at hamming ≈ 10 — recall threshold 16 catches it
    # while the unrelated doc (hamming ≈ 31) must stay excluded
    pairs = {
        (r["left_id"], r["right_id"])
        for r in simhash_near_dups(df, "text", "doc_id", max_hamming=16).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact_value(spark):
    # identical docs → jaccard 1.0
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
    )
    out = ngram_jaccard_pairs(df, "text", "doc_id").collect()
    assert len(out) == 1 and out[0]["jaccard"] == 1.0


def test_brute_force_topk_self_excluded(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = brute_force_topk(emb, queries, k=5).collect()
    assert len(out) == 10
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        assert 1 <= r["rn"] <= 5


def test_ivf_recall_against_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=6).collect()
    }
    # probing 6/8 cells should recover a decent fraction of the exact set
    assert len(exact & approx) >= len(exact) // 2


def test_topk_plan_uses_take_ordered(spark, sf_dir):
    """E1/F1 physical invariant: global top-k compiles to
    TakeOrderedAndProject, not a full sort (SURVEY §4.1)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    plan = (
        top_k_by(part, "p_retailprice", "p_partkey", 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_scan_pushdown(spark, sf_dir):
    """A1 physical invariant: projection prunes ReadSchema and the filter
    reaches the parquet scan as a pushed filter."""
    from review_engine_spark.plans.roster_text import q_scan_docs

    df = q_scan_docs(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,200)" in plan
    assert "text" not in plan.split("ReadSchema")[1][:200]


def test_rerank_stub_called_after_topk_cut(spark, sf_dir):
    """§4.3.3 invariant: the rerank UDF runs on ≤200 rows — the limit sits
    below the UDF in the plan, so the Python worker sees only the cut."""
    from review_engine_spark.plans.roster_ext import q_rerank_stub

    out = q_rerank_stub(spark, sf_dir)
    assert out.count() <= 200
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the limit must appear below (after, in printed order) the Python eval
    assert "TakeOrderedAndProject" in plan


def test_embedding_near_dup_lsh_recall(spark, sf_dir):
    """LSH-bucketed embedding near-dup must recover most of the exact
    all-pairs result at the same threshold (probabilistic recall, but the
    fixture's label clusters are well-separated)."""
    from review_engine_spark.operators.dedup import embedding_near_dups
    from review_engine_spark.functions.vector import cosine_similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    left = emb.select(F.col("vec_id").alias("left_id"), F.col("embedding").alias("lv"))
    right = emb.select(F.col("vec_id").alias("right_id"), F.col("embedding").alias("rv"))
    exact = {
        (r["left_id"], r["right_id"])
        for r in left.join(right, F.col("left_id") < F.col("right_id"))
        .select(
            "left_id",
            "right_id",
            cosine_similarity(F.col("lv"), F.col("rv")).alias("cs"),
        )
        .filter(F.col("cs") >= 0.5)
        .collect()
    }
    got = {
        (r["left_id"], r["right_id"])
        for r in embedding_near_dups(emb, "embedding", "vec_id", min_cosine=0.5).collect()
    }
    # no false positives (candidates are exact-verified) …
    assert got <= exact
    # … and decent recall from 4-block banding of a 16-bit signature
    if exact:
        assert len(got) >= len(exact) * 0.5


def test_asof_join_semantics(spark, tmp_path):
    """As-of: latest order at-or-before each event; date ties -> max
    orderkey; no prior order -> NULL."""
    from review_engine_spark.plans import roster_rel
    import datetime as dt

    def t(s):
        return dt.datetime.fromisoformat(s)

    ev = spark.createDataFrame(
        [(1, 10, t("2024-01-05T00:00:00")), (2, 10, t("2024-01-01T00:00:00")),
         (3, 20, t("2024-01-05T00:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    orders = spark.createDataFrame(
        [(100, 10, t("2024-01-02T00:00:00")), (101, 10, t("2024-01-02T00:00:00")),
         (102, 10, t("2024-01-04T00:00:00")), (200, 30, t("2024-01-01T00:00:00"))],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    import os

    d = str(tmp_path)
    ev.write.parquet(os.path.join(d, "events.parquet"))
    orders.selectExpr(
        "o_orderkey", "o_custkey", "'O' AS o_orderstatus", "1.0 AS o_totalprice",
        "o_orderdate", "'x' AS o_orderpriority"
    ).write.parquet(os.path.join(d, "orders.parquet"))
    out = {r["event_id"]: r["asof_orderkey"] for r in roster_rel.q_asof_join(spark, d).collect()}
    assert out == {1: 102, 2: None, 3: None}


def test_range_join_counts(spark, tmp_path):
    """Bucketed range join: only same-user events in (t, t+5min] count,
    bucket-boundary crossings included, self excluded."""
    from review_engine_spark.plans import roster_rel
    import datetime as dt
    import os

    def t(s):
        return dt.datetime.fromisoformat(s)

    ev = spark.createDataFrame(
        [
            (1, 10, t("2024-01-01T00:04:50"), 1.0),   # followed by 2 (10s later, crosses bucket); 3 is 5m09s away
            (2, 10, t("2024-01-01T00:05:00"), 1.0),   # followed by 3 (4m59s later)
            (3, 10, t("2024-01-01T00:09:59"), 1.0),
            (4, 20, t("2024-01-01T00:05:30"), 1.0),   # other user
            (5, 10, t("2024-01-01T01:00:00"), 1.0),   # far away
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    d = str(tmp_path)
    ev.selectExpr("event_id", "ts", "user_id", "'c' AS event_type", "value", "'{}' AS props") \
        .write.parquet(os.path.join(d, "events.parquet"))
    out = {r["event_id"]: r["n_follow"] for r in roster_rel.q_range_join(spark, d).collect()}
    assert out == {1: 1, 2: 1, 3: 0, 4: 0, 5: 0}


def test_star_join_broadcasts_dims(spark, sf_dir):
    """Physical invariant: both dimension joins are broadcast-hash — the
    fact side never shuffles for the joins."""
    from review_engine_spark.plans.roster_rel import q_star_join

    plan = (
        q_star_join(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_stateful_sessionize_matches_session_window(spark, sf_dir):
    """applyInPandasWithState sessionization must reproduce session_window
    exactly (same gap semantics, same end = last event + gap)."""
    from review_engine_spark.plans.roster_ext import q_sessionize, q_sessionize_state

    via_window = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_v"], 4))
        for r in q_sessionize(spark, sf_dir).collect()
    }
    via_state = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_v"], 4))
        for r in q_sessionize_state(spark, sf_dir).collect()
    }
    assert via_state == via_window


def test_blurb_prompt_null_tolerance(spark):
    """J4 prompt assembly: missing name/category/rating render fallbacks,
    never null (the reference tolerates absent meta, rank.py:21-27)."""
    from review_engine_spark.operators.summarize import build_blurb_prompt

    df = spark.createDataFrame(
        [("Washer X", "appliance", 4.25), (None, None, None)],
        "name string, category string, rating double",
    )
    out = [
        r[0]
        for r in df.select(
            build_blurb_prompt(
                F.col("name"), F.col("category"), F.col("rating"), F.lit("friendly")
            )
        ).collect()
    ]
    assert "Washer X" in out[0] and "4.2/5" in out[0] and "friendly" in out[0]
    assert "this product" in out[1] and "n/a/5" in out[1]
    assert all(o is not None for o in out)


def test_predict_batch_udf_path(spark):
    """J1/J3 production machinery (predict_batch_udf: worker-cached model,
    numpy batch marshalling) runs end-to-end with the stub loaders and is
    deterministic across invocations."""
    from review_engine_spark.inference.batch import embedder_batch_udf, scorer_batch_udf

    df = spark.createDataFrame(
        [(i, f"document number {i}") for i in range(7)], "id long, text string"
    )
    embed = embedder_batch_udf(dim=8, batch_size=3)
    out1 = {r["id"]: r["v"] for r in df.select("id", embed(F.col("text")).alias("v")).collect()}
    out2 = {r["id"]: r["v"] for r in df.select("id", embed(F.col("text")).alias("v")).collect()}
    assert out1 == out2 and all(len(v) == 8 for v in out1.values())
    # unit-normalized like the reference encoder (embed.py:77)
    assert sum(x * x for x in out1[0]) == pytest.approx(1.0, abs=1e-9)

    score = scorer_batch_udf(batch_size=4)
    scored = df.select(
        score(F.lit("a query"), F.col("text")).alias("s")
    ).collect()
    assert all(0.0 <= r["s"] < 1.0 for r in scored)


def test_predict_batch_udf_real_model_loader(spark):
    """A real (non-stub) model callable through the J1/J3 constructors:
    a numpy linear projection posing as an encoder, loaded once per
    worker by ``make_model`` and fed Arrow numpy batches — the exact
    wiring a SentenceTransformer/cross-encoder swap-in uses
    (embed.py:73-78 / rank.py:15-41 batching semantics). Outputs are
    verified value-for-value against the same model run driver-side."""
    import numpy as np

    from review_engine_spark.inference.batch import embedder_batch_udf, scorer_batch_udf

    DIM = 4

    def _featurize(texts):
        # text -> 3 deterministic numeric features (stand-in tokenizer)
        return np.array(
            [[len(t), sum(t.encode()) % 97, t.count(" ")] for t in texts],
            dtype=np.float64,
        )

    def make_encoder():
        # "weights load" happens here, once per Python worker
        w = np.arange(12, dtype=np.float64).reshape(3, DIM) / 10.0

        def predict(inputs: np.ndarray) -> np.ndarray:
            return _featurize([str(t) for t in inputs]) @ w

        return predict

    def make_scorer():
        w = np.array([0.5, -0.25, 2.0])

        def predict(queries: np.ndarray, docs: np.ndarray) -> np.ndarray:
            q = _featurize([str(t) for t in queries])
            d = _featurize([str(t) for t in docs])
            return (q * d) @ w

        return predict

    texts = [f"doc {i} body {'x' * i}" for i in range(9)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")

    embed = embedder_batch_udf(make_model=make_encoder, dim=DIM, batch_size=4)
    got = {
        r["id"]: r["v"]
        for r in df.select("id", embed(F.col("text")).alias("v")).collect()
    }
    want = make_encoder()(np.array(texts))
    for i, t in enumerate(texts):
        assert got[i] == pytest.approx(list(want[i]), abs=1e-12)

    score = scorer_batch_udf(make_model=make_scorer, batch_size=4)
    got_s = [
        r["s"]
        for r in df.select(score(F.lit("the query"), F.col("text")).alias("s"))
        .collect()
    ]
    want_s = make_scorer()(np.array(["the query"] * len(texts)), np.array(texts))
    assert got_s == pytest.approx(list(want_s), abs=1e-12)


def test_stream_dedup_matches_batch_distinct(spark, sf_dir):
    """dropDuplicatesWithinWatermark over the finite source must keep
    exactly one row per key — same cardinality and key set as the batch
    distinct."""
    from review_engine_spark.plans.roster_ext import q_stream_dedup
    from review_engine_spark.sources.io import read_parquet_table

    got = {
        (r["user_id"], r["event_type"])
        for r in q_stream_dedup(spark, sf_dir).collect()
    }
    want = {
        (r["user_id"], r["event_type"])
        for r in read_parquet_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want


def test_grouped_mmr_matches_driver_loop(spark, sf_dir):
    """applyInPandas grouped MMR must reproduce the driver-side greedy
    loop group by group (same normalize/tie/None rules)."""
    from review_engine_spark.operators.ranking import mmr_diversify_grouped

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # distinct per-id relevance: with dense score ties the two
    # implementations can differ by float-summation order on the
    # (1-λ)·max_sim term; tie semantics are pinned exactly in
    # test_grouped_mmr_tie_semantics below instead
    cands = emb.select(
        "label",
        "vec_id",
        F.round(F.col("vec_id") / 1000.0, 6).alias("rel"),
        "embedding",
    )
    grouped = {
        (r["label"], r["mmr_rank"]): r["vec_id"]
        for r in mmr_diversify_grouped(
            cands, "label", "vec_id", "rel", "embedding", k=4
        ).collect()
    }
    labels = [r["label"] for r in cands.select("label").distinct().collect()]
    for lbl in labels:
        one = mmr_diversify(
            cands.filter(F.col("label") == lbl).drop("label"),
            "vec_id",
            "rel",
            "embedding",
            k=4,
        ).to_pylist()
        for r in one:
            assert grouped[(lbl, r["mmr_rank"])] == r["vec_id"]


def test_grouped_mmr_tie_semantics(spark):
    """Exact-arithmetic tie case: equal scores and 0/1 orthogonal vectors
    make every float path exact, so tie handling (first-seen in
    relevance-then-id order) must match the driver loop bit-for-bit."""
    from review_engine_spark.operators.ranking import mmr_diversify_grouped

    rows = [
        ("g", 1, 0.5, [1.0, 0.0, 0.0]),
        ("g", 2, 0.5, [1.0, 0.0, 0.0]),   # duplicate of 1, same score
        ("g", 3, 0.5, [0.0, 1.0, 0.0]),   # orthogonal, same score
        ("g", 4, 0.25, [0.0, 0.0, 1.0]),  # lower score, orthogonal
    ]
    df = spark.createDataFrame(
        rows, "label string, vec_id long, rel double, vec array<double>"
    )
    got = [
        (r["mmr_rank"], r["vec_id"])
        for r in mmr_diversify_grouped(
            df, "label", "vec_id", "rel", "vec", k=4
        ).orderBy("mmr_rank").collect()
    ]
    want = [
        (r["mmr_rank"], r["vec_id"])
        for r in mmr_diversify(df.drop("label"), "vec_id", "rel", "vec", k=4).to_pylist()
    ]
    assert got == want
    # and the picks make sense: 1 (first tie), then 3 (orthogonal beats
    # the duplicate 2), then 4 (diversity), duplicate 2 last
    assert [v for _, v in got] == [1, 3, 4, 2]


def test_funnel_ordering_semantics(spark):
    """A step only counts strictly after the previous step's first
    completion — pre-view clicks and the abandoned tail must not count."""
    from review_engine_spark.operators.funnel import funnel_stages
    from datetime import datetime as dt

    rows = [
        # user 1: full funnel in order
        (1, dt(2024, 1, 1, 0), "view"), (1, dt(2024, 1, 1, 1), "click"),
        (1, dt(2024, 1, 1, 2), "purchase"),
        # user 2: click BEFORE view → funnel stops at view
        (2, dt(2024, 1, 1, 0), "click"), (2, dt(2024, 1, 1, 1), "view"),
        # user 3: view then purchase but no click → stage 1
        (3, dt(2024, 1, 1, 0), "view"), (3, dt(2024, 1, 1, 1), "purchase"),
        # user 4: never viewed → absent from output
        (4, dt(2024, 1, 1, 0), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r["user_id"]: r for r in funnel_stages(ev, ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["stage"] == 3 and out[1]["t3"] == dt(2024, 1, 1, 2)
    assert out[2]["stage"] == 1 and out[2]["t2"] is None
    assert out[3]["stage"] == 1


def test_cohort_retention_offsets(spark):
    from review_engine_spark.operators.funnel import cohort_retention
    from datetime import datetime as dt

    rows = [
        (1, dt(2024, 1, 1, 5), "x"), (1, dt(2024, 1, 3, 1), "x"),
        (2, dt(2024, 1, 1, 9), "x"),
        (3, dt(2024, 1, 2, 0), "x"), (3, dt(2024, 1, 3, 0), "x"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {(str(r["cohort"])[:10], r["offset"]): r["n_active"]
           for r in cohort_retention(ev).collect()}
    assert out == {
        ("2024-01-01", 0): 2,   # users 1, 2 day-0
        ("2024-01-01", 2): 1,   # user 1 returns on day 3
        ("2024-01-02", 0): 1,   # user 3 cohort
        ("2024-01-02", 1): 1,   # user 3 returns next day
    }


def test_hll_union_estimate_close_to_exact(spark, sf_dir):
    """Unioned per-day HLL sketches must estimate the global distinct
    user count within the m=512 register array's expected error
    (rse ~1.04/sqrt(512) ≈ 4.6%; allow 3 sigma) — and MERGEABILITY must
    hold from the emitted values alone: element-wise max over the
    per-day register arrays reproduces the ALL sketch exactly (daily
    partitions keep sketches; re-aggregation never rescans history)."""
    from review_engine_spark.plans.roster_rel import q_hll_mergeable
    from review_engine_spark.sources.io import read_parquet_table

    rows = {
        r["day_s"]: (r["sketch"], r["est_users"])
        for r in q_hll_mergeable(spark, sf_dir).collect()
    }
    exact = (
        read_parquet_table(spark, sf_dir, "events")
        .select("user_id").distinct().count()
    )
    assert abs(rows["ALL"][1] - exact) <= max(3, exact * 3 * 1.04 / 512**0.5)

    merged = [0] * 512
    for day, (sk, _e) in rows.items():
        if day == "ALL":
            continue
        for i, reg in enumerate(int(x) for x in sk.split(",")):
            merged[i] = max(merged[i], reg)
    assert ",".join(map(str, merged)) == rows["ALL"][0]


def test_hll_md5_twin_estimates_close_to_exact(spark, sf_dir):
    """The md5-twin's explicit m=512 registers must estimate within
    HLL's expected error (m=512 → rse ~1.04/sqrt(512) ≈ 4.6%; allow 3
    sigma) — per day AND for the bucket-max merged ALL row, whose exact
    twin column the query itself carries."""
    from review_engine_spark.plans.roster_retrieval import q_hll_md5

    rows = q_hll_md5(spark, sf_dir).collect()
    assert {r["day_s"] for r in rows} >= {"ALL"}
    for r in rows:
        tol = max(3.0, r["exact_users"] * 3 * 1.04 / (512 ** 0.5))
        assert abs(r["est_users"] - r["exact_users"]) <= tol, r


def test_dau_mau_hll_tracks_exact_rolling_mau(spark, sf_dir):
    """The sketch companion's rolling 28-day MAU must sit within HLL's
    3-sigma band (m=512 → rse ≈ 4.6%) of q_dau_mau's exact rolling
    distinct, for EVERY day both queries emit — the error-vs-exact pin
    that licenses shipping the sketch at the scale where the exact form
    is 23.6x super-linear (SCALING.md)."""
    from review_engine_spark.plans.roster_mining import q_dau_mau
    from review_engine_spark.plans.roster_retrieval import q_dau_mau_hll

    exact = {
        r["day"].strftime("%Y-%m-%d"): r["mau"]
        for r in q_dau_mau(spark, sf_dir).collect()
    }
    est = {r["day_s"]: r["mau_est"] for r in q_dau_mau_hll(spark, sf_dir).collect()}
    assert set(est) == set(exact)
    for day, mau in exact.items():
        tol = max(3.0, mau * 3 * 1.04 / (512 ** 0.5))
        assert abs(est[day] - mau) <= tol, (day, est[day], mau)


def test_stream_stream_join_matches_batch_interval_join(spark, sf_dir):
    """The watermarked stream-stream attribution join must produce
    exactly the batch interval-join pairs (finite source, generous
    watermark ⇒ nothing dropped)."""
    from review_engine_spark.plans.roster_ext import q_stream_stream_join
    from review_engine_spark.sources.io import read_parquet_table

    got = {
        (r["purchase_id"], r["click_id"])
        for r in q_stream_stream_join(spark, sf_dir).collect()
    }
    ev = read_parquet_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") < F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_resample_ffill_gaps(spark):
    from review_engine_spark.operators.timeseries import resample_ffill
    from datetime import datetime as dt

    rows = [
        (1, dt(2024, 1, 1, 0, 15), 2.0),
        (1, dt(2024, 1, 1, 0, 45), 4.0),   # same bucket → avg 3.0
        (1, dt(2024, 1, 1, 3, 0), 9.0),    # hours 1, 2 are gaps
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sorted(resample_ffill(ev).collect(), key=lambda r: r["bucket"])
    assert [r["v_obs"] for r in out] == [3.0, None, None, 9.0]
    assert [r["v_filled"] for r in out] == [3.0, 3.0, 3.0, 9.0]
    assert [r["is_gap"] for r in out] == [False, True, True, False]


def test_approx_percentile_error_bound(spark, sf_dir):
    """approx_percentile with accuracy 10000 must sit within rank error
    1/10000 of the exact interpolated percentile — checked by value
    proximity on the fixture distribution."""
    from review_engine_spark.sources.io import read_parquet_table

    li = read_parquet_table(spark, sf_dir, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("ap"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("ex"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["ap"] - r["ex"]) <= max(1.0, abs(r["ex"]) * 0.01)


def test_stateful_sessionize_merges_across_microbatches(spark, tmp_path):
    """The open session must genuinely live in GroupState: with
    maxFilesPerTrigger=1 the second file's events arrive in a later
    micro-batch, and a session spanning the file boundary may only come
    out whole if the state seeded it. Update-mode contract: the latest
    row per (user_id, session_start) is the session's final form."""
    import pandas as pd

    from review_engine_spark.streaming.jobs import run_sessionize_stateful, sessionize

    base = pd.Timestamp("2024-01-01 08:00:00")

    def ns(minutes):
        return int((base + pd.Timedelta(minutes=minutes)).value)

    # (user_id, minutes-offset) per file; gap = 30 min
    file_a = [(1, 120), (1, 130), (2, 60), (3, 0)]
    file_b = [(1, 140), (1, 240), (2, 89), (3, 60)]

    def write(rows, name):
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": [ns(m) for _, m in rows],
                "user_id": [u for u, _ in rows],
                "event_type": "click",
                "value": 1.0,
                "props": "{}",
            }
        ).to_parquet(tmp_path / name)

    import time as _time

    write(file_a, "a_events.parquet")
    _time.sleep(1.1)  # file-source ordering is by modification time
    write(file_b, "b_events.parquet")

    raw = run_sessionize_stateful(
        spark,
        str(tmp_path),
        path_glob="*_events.parquet",
        max_files_per_trigger=1,
    ).toPandas()

    # supersede: keep the widest row per (user, session_start)
    final = (
        raw.sort_values("n_events")
        .drop_duplicates(["user_id", "session_start"], keep="last")
    )
    # provisional rows from batch 1 must exist alongside their superseding
    # rows — proof that two batches ran and re-emitted
    assert len(raw) > len(final)

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_v, 4))
        for r in final.itertuples()
    }
    # cross-batch merge: user 1's first session spans the file boundary
    # (2 events in batch 1 + 1 in batch 2 → one 3-event session)
    assert (1, base + pd.Timedelta(minutes=120), base + pd.Timedelta(minutes=170), 3, 3.0) in got

    # full equality vs the batch session_window reference on the same rows
    all_rows = [
        (u, (base + pd.Timedelta(minutes=m)).to_pydatetime(), 1.0)
        for u, m in file_a + file_b
    ]
    batch = spark.createDataFrame(
        all_rows, "user_id long, ts timestamp, value double"
    )
    want = {
        (
            r["user_id"],
            pd.Timestamp(r["session_start"]),
            pd.Timestamp(r["session_end"]),
            r["n_events"],
            round(r["total_v"], 4),
        )
        for r in sessionize(batch).collect()
    }
    assert got == want


def test_contamination_check_exact_overlap(spark):
    from review_engine_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),      # superset of probe 10
            (2, "totally unrelated words live here"),   # no overlap
            (3, "alpha beta gamma nothing else atall"), # partial overlap
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(10, "alpha beta gamma delta")], "doc_id long, text string"
    )
    out = {
        (r["doc_id"], r["probe_id"]): (r["n_shared"], r["probe_n"], r["overlap_frac"])
        for r in contamination_check(corpus, probes, "text", "doc_id", k=3).collect()
    }
    # probe has 2 distinct 3-grams; doc 1 contains both, doc 3 contains one
    assert out[(1, 10)] == (2, 2, 1.0)
    assert out[(3, 10)] == (1, 2, 0.5)
    assert (2, 10) not in out


def test_repetition_stats_values(spark):
    from review_engine_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "x x x y"), (2, "a b c d"), (3, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["dup_token_frac"], r["top_token_frac"])
        for r in repetition_stats(df, "text", "doc_id").collect()
    }
    assert out[1] == (4, 0.5, 0.75)
    assert out[2] == (4, 0.0, 0.25)
    assert 3 not in out  # zero-token docs drop (no signal to threshold)


def test_quality_gate_reason_priority(spark, sf_dir):
    """First failing rule wins: a doc can be both short and low-quality;
    it must report too_short. And keep == (reason == 'ok') everywhere."""
    from review_engine_spark.plans.roster_ext import q_quality_gate

    rows = q_quality_gate(spark, sf_dir).collect()
    assert len(rows) > 0
    reasons = {r["reason"] for r in rows}
    assert reasons <= {"ok", "too_short", "low_quality", "und_lang"}
    for r in rows:
        assert r["keep"] == (r["reason"] == "ok")


def test_dedup_apply_drops_only_cluster_non_survivors(spark, sf_dir):
    """Survivor set = all parts minus (cluster members - min id): sizes
    must reconcile exactly with q_dedup_clusters' labels."""
    from review_engine_spark.plans.roster_ext import q_dedup_apply, q_dedup_clusters

    labels = q_dedup_clusters(spark, sf_dir).collect()
    n_dropped = sum(1 for r in labels if r["node"] != r["cluster_id"])
    n_part = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    kept = q_dedup_apply(spark, sf_dir).count()
    assert kept == n_part - n_dropped


def test_stream_parquet_sink_equals_batch_distinct(spark, sf_dir):
    """The parquet file sink must land exactly the batch-distinct key
    set (exactly-once semantics over the finite source)."""
    from review_engine_spark.plans.roster_ext import q_stream_sink_parquet
    from review_engine_spark.sources.io import read_parquet_table

    got = {
        (r["user_id"], r["event_type"])
        for r in q_stream_sink_parquet(spark, sf_dir).collect()
    }
    want = {
        (r["user_id"], r["event_type"])
        for r in read_parquet_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want


def test_capped_top_per_key_equals_single_window(spark):
    """Two-stage pre-capped first-n must equal the single-window form on
    a skewed fixture (one key with 40x the rows of the others)."""
    from pyspark.sql import Window

    from review_engine_spark.operators.skew import capped_top_per_key

    rows = [("hot", i) for i in range(400)] + [
        (f"k{j}", i) for j in range(5) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "key string, v long")
    got = {
        (r["key"], r["v"], r["rk"])
        for r in capped_top_per_key(df, "key", "v", 7, n_salts=4).collect()
    }
    w = Window.partitionBy("key").orderBy("v")
    want = {
        (r["key"], r["v"], r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 7)
        .collect()
    }
    assert got == want


def test_winnow_fingerprints_matches_python_reference(spark):
    """The narrow winnowing form must reproduce the definition verbatim:
    min hash of every sliding window of `window` consecutive k-shingle
    hashes, distinct and sorted; short docs get empty arrays."""
    from review_engine_spark.operators.textstats import winnow_fingerprints

    texts = {
        1: "a b c d e f g h",
        2: "x y",                       # too short for one shingle
        3: "p q r s t u p q r s t",     # repeated region -> duplicate mins
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["fingerprints"])
        for r in winnow_fingerprints(df, "text", "doc_id", k=3, window=2).collect()
    }

    def ref(text, k=3, window=2):
        toks = text.split()
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        if not grams:
            return []
        hs = [
            r["h"]
            for r in spark.createDataFrame([(g,) for g in grams], "g string")
            .select(F.xxhash64("g").alias("h"))
            .collect()
        ]
        mins = [min(hs[j : j + window]) for j in range(len(hs) - window + 1)]
        return sorted(set(mins))

    for doc_id, text in texts.items():
        assert got[doc_id] == ref(text), f"doc {doc_id}"


def test_read_parquet_table_pins_result_critical_confs(spark, sf_dir):
    """Harness-parity guard: reading a fixture table must pin BOTH
    result-critical session confs at runtime (nanos-as-long and UTC
    session timezone), so correctness never depends on who built the
    SparkSession — the round-1 failure mode."""
    from review_engine_spark.sources.io import read_parquet_table

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    df = read_parquet_table(spark, sf_dir, "events")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_session_broadcast_doctrine(spark):
    """Scale guard (SCALING.md round-3): the static planner must never
    guess-broadcast (estimates under-count filtered corpus tables, the
    cause of both stress-run OOMs); AQE converts at runtime from actual
    shuffle sizes instead."""
    from review_engine_spark.session import DEFAULT_CONF

    assert DEFAULT_CONF["spark.sql.autoBroadcastJoinThreshold"] == "-1"
    assert DEFAULT_CONF["spark.sql.adaptive.autoBroadcastJoinThreshold"] == "64MB"
    assert DEFAULT_CONF["spark.sql.adaptive.enabled"] == "true"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"


def test_freq_items_contains_all_truly_frequent(spark, sf_dir):
    """Sketch-verified heavy hitters are EXACT: freqItems guarantees no
    false negatives above the support threshold, and the exact-count
    verification join removes the sketch's merge-order-dependent false
    positives — so the output equals the true > support·N set (and is
    therefore deterministic across partitionings)."""
    from review_engine_spark.plans.roster_rel import q_freq_items
    from review_engine_spark.sources.io import read_parquet_table

    candidates = {r["candidate"] for r in q_freq_items(spark, sf_dir).collect()}
    li = read_parquet_table(spark, sf_dir, "lineitem")
    n = li.count()
    truly_frequent = {
        r["l_suppkey"]
        for r in li.groupBy("l_suppkey").count()
        .filter(F.col("count") > 0.01 * n)
        .collect()
    }
    assert candidates == truly_frequent


def test_url_normalize_branches(spark):
    """Every canonicalization branch on hand-built URLs: case folding,
    www./default-port stripping (non-default ports survive), duplicate
    slash collapse, empty path, tracking-param removal, fragment drop."""
    from review_engine_spark.plans.roster_ext import _url_parts

    cases = [
        (1, "HTTP://WWW.Ex.COM:80//a//b?utm_source=x&keep=1&ref=r#f"),
        (2, "https://ex.com:443/"),
        (3, "Http://ex.com:8080?utm_campaign=c"),
        (4, "https://WWW.EX.com:80/p"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, url string")
    got = {r["doc_id"]: r.asDict() for r in _url_parts(df).collect()}
    assert got[1]["norm_url"] == "http://ex.com/a/b?keep=1"
    assert got[2]["norm_url"] == "https://ex.com/"
    # non-default port survives; empty path becomes '/'
    assert got[3]["norm_url"] == "http://ex.com:8080/"
    # :80 on https is NOT a default port — it survives
    assert got[4]["norm_url"] == "https://ex.com:80/p"

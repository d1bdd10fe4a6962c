"""Storage-layout tests: bucketed joins are exchange-free, partitioned
scans prune at planning time (SURVEY §7 M6)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from review_engine_spark.sources.bucketing import (
    read_table,
    write_bucketed_table,
    write_partitioned,
)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Both sides bucketed on the join key with equal bucket counts →
    the sort-merge join plans with zero Exchange nodes (the write paid
    the shuffle once)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_extendedprice"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    write_bucketed_table(li, "b_lineitem", ["l_partkey"], 4, ["l_partkey"])
    write_bucketed_table(part, "b_part", ["p_partkey"], 4, ["p_partkey"])
    try:
        lb = read_table(spark, "b_lineitem")
        pb = read_table(spark, "b_part")
        # force the sort-merge path: at fixture scale Catalyst would
        # (rightly) broadcast the dim and skip bucketing entirely — the
        # property under test is the big-big join layout
        joined = lb.join(pb.hint("merge"), lb.l_partkey == pb.p_partkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # sanity: result matches the unbucketed join
        assert joined.count() == li.join(
            part, li.l_partkey == part.p_partkey
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_part")


def test_partitioned_scan_prunes(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = str(tmp_path / "part_docs")
    write_partitioned(docs, d, ["lang"])
    back = spark.read.parquet(d).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:80]
    n_en = docs.filter(F.col("lang") == "en").count()
    assert back.count() == n_en


def test_zorder_key_locality(spark):
    """Nearby (x, y) points share Z-key prefixes: the max Z-key spread
    inside a 4x4 tile is bounded, so sorted files cover rectangles."""
    from review_engine_spark.sources.bucketing import zorder_key
    from pyspark.sql import functions as F

    pts = spark.range(256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y")
    )
    rows = pts.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    # exhaustive 16x16 grid: z is a bijection onto 0..255
    zs = sorted(r["z"] for r in rows)
    assert zs == list(range(256))
    # locality: any 2x2-aligned tile occupies 4 consecutive z values
    by_xy = {(r["x"], r["y"]): r["z"] for r in rows}
    for tx in range(0, 16, 2):
        for ty in range(0, 16, 2):
            tile = [by_xy[(tx + dx, ty + dy)] for dx in (0, 1) for dy in (0, 1)]
            assert max(tile) - min(tile) == 3


def test_corpus_scaled_joins_never_broadcast(spark, sf_dir):
    """SCALING.md rule: joins whose build side is O(corpus) must pin a
    shuffle strategy — a size threshold that admits them at some scale
    broadcasts an O(N) table and OOMs (observed at 100k docs). Guard the
    three near-dup pipelines' plans against broadcast regressions."""
    from review_engine_spark.operators.dedup import (
        embedding_near_dups,
        minhash_lsh_pairs,
        simhash_near_dups,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for df in (
        minhash_lsh_pairs(docs, "text", "doc_id", min_jaccard=0.3),
        simhash_near_dups(docs, "text", "doc_id"),
        embedding_near_dups(emb, "embedding", "vec_id", min_cosine=0.2),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan

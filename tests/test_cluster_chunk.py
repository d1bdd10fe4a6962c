"""Tests: connected components, document chunking, vector quantization."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from review_engine_spark.operators.chunking import (
    chunk_documents,
    quantize_vector,
)
from review_engine_spark.operators.cluster import (
    blocked_connected_components,
    connected_components,
)


def _labels(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return {
        r["node"]: r["cluster_id"]
        for r in connected_components(df, **kw).collect()
    }


def test_cc_two_components(spark):
    out = _labels(spark, [(1, 2), (2, 3), (10, 11)])
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_long_chain_converges(spark):
    # a 40-node path: min-label alone needs 39 rounds; pointer jumping
    # must resolve it inside the default max_iter
    out = _labels(spark, [(i, i + 1) for i in range(1, 40)])
    assert set(out.values()) == {1}
    assert len(out) == 40


def test_cc_self_loops_and_duplicates_ignored(spark):
    out = _labels(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
    assert out == {1: 1, 2: 1}


def test_blocked_cc_chain_and_components_per_block(spark):
    # chains inside two blocks + an isolated pair: union-find must give
    # min-member labels per block, identical contract to the iterative op
    rows = (
        [("x", i, i + 1) for i in range(1, 6)]       # block x: 1-2-3-4-5-6
        + [("y", 10, 11), ("y", 12, 13), ("y", 11, 12)]  # y: 10..13 one comp
        + [("z", 20, 21)]
    )
    df = spark.createDataFrame(rows, "blk string, src long, dst long")
    got = {
        r["node"]: r["cluster_id"]
        for r in blocked_connected_components(
            df, block_cols=["blk"]
        ).collect()
    }
    want = {i: 1 for i in range(1, 7)}
    want.update({i: 10 for i in range(10, 14)})
    want.update({20: 20, 21: 20})
    assert got == want


def test_blocked_cc_matches_iterative_on_random_blocked_graph(spark):
    import random

    rng = random.Random(7)
    rows = []
    for blk in range(8):
        base = blk * 100
        nodes = list(range(base, base + rng.randint(2, 20)))
        for _ in range(rng.randint(1, 25)):
            rows.append((str(blk), rng.choice(nodes), rng.choice(nodes)))
    rows = [r for r in rows if r[1] != r[2]]
    df = spark.createDataFrame(rows, "blk string, src long, dst long")
    got = {
        r["node"]: r["cluster_id"]
        for r in blocked_connected_components(
            df, block_cols=["blk"]
        ).collect()
    }
    want = {
        r["node"]: r["cluster_id"]
        for r in connected_components(df.select("src", "dst")).collect()
    }
    assert got == want


def test_chunking_windows_and_tail(spark):
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_size=4, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # starts 0,3,6,9 → windows of 4 tokens, last is the 1-token tail
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2, 3]
    assert rows[0]["chunk_text"] == "t0 t1 t2 t3"
    assert rows[1]["chunk_text"] == "t3 t4 t5 t6"
    assert rows[3]["chunk_text"] == "t9"
    assert [r["n_tok"] for r in rows] == [4, 4, 4, 1]


def test_chunking_empty_doc_yields_no_chunks(spark):
    df = spark.createDataFrame([(1, "   "), (2, "one two")], "doc_id long, text string")
    rows = chunk_documents(df, chunk_size=4, stride=3).collect()
    assert {r["doc_id"] for r in rows} == {2}


def test_quantize_roundtrip_error_bounded(spark):
    vec = [0.5, -1.0, 0.25, 0.0]
    df = spark.createDataFrame([(1, vec)], "id long, v array<double>")
    codes, scale = quantize_vector(F.col("v"))
    out = df.select(codes.alias("codes"), scale.alias("scale")).collect()[0]
    assert out["codes"] == [64, -127, 32, 0]
    # max error is half a quantization step
    step = 1.0 / 127.0
    back = [c * out["scale"] for c in out["codes"]]
    for orig, b in zip(vec, back):
        # step/2 plus slack for the 9-digit-rounded scale column
        assert abs(orig - b) <= step / 2 + 1e-6


def test_quantize_zero_vector(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0])], "id long, v array<double>")
    codes, scale = quantize_vector(F.col("v"))
    out = df.select(codes.alias("c"), scale.alias("s")).collect()[0]
    assert out["c"] == [0, 0] and out["s"] == 0.0


def test_pagerank_star_graph(spark):
    """Star graph: the hub (all edges point to it) must out-rank leaves,
    and ranks must sum to 1."""
    from review_engine_spark.operators.cluster import pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long"
    )
    rows = {r["node"]: r["rank"] for r in pagerank(edges, max_iter=15).collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-6
    hub, leaves = rows[0], [rows[i] for i in range(1, 6)]
    assert all(hub > leaf for leaf in leaves)
    # leaves are symmetric
    assert max(leaves) - min(leaves) < 1e-9


try:
    from hypothesis import given, settings, strategies as st

    _doc = st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=5), min_size=0, max_size=40
    ).map(" ".join)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(_doc, min_size=1, max_size=6), st.integers(2, 8), st.integers(1, 8))
    def test_chunking_covers_every_token(spark, docs, chunk_size, stride):
        """Every token of every doc appears in at least one chunk, chunk
        windows are ≤ chunk_size tokens, and chunk 0 starts at token 0."""
        stride = min(stride, chunk_size)  # stride > size would skip tokens
        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        out = chunk_documents(df, chunk_size=chunk_size, stride=stride).collect()
        by_doc: dict = {}
        for r in out:
            assert 1 <= r["n_tok"] <= chunk_size
            by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"]
        for i, doc in enumerate(docs):
            toks = [t for t in doc.lower().split() if t]
            if not toks:
                assert i not in by_doc
                continue
            chunks = by_doc[i]
            assert 0 in chunks
            covered = []
            for idx in sorted(chunks):
                covered.extend(chunks[idx].split())
            # stride ≤ size ⇒ concatenated windows cover the doc in order
            # (with overlap); dedupe by position via reconstruction check
            reconstructed = []
            for idx in sorted(chunks):
                start = idx * stride
                reconstructed.extend(toks[start:start + chunk_size])
            assert covered == reconstructed
            assert set(toks) <= set(covered)

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.floats(-1e6, 1e6, allow_nan=False, width=32),
                min_size=1, max_size=16,
            ),
            min_size=1, max_size=8,
        )
    )
    def test_quantize_property(spark, vecs):
        """Codes stay in [-127, 127]; dequantized error ≤ half a step."""
        dim = max(len(v) for v in vecs)
        vecs = [v + [0.0] * (dim - len(v)) for v in vecs]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)], "id long, v array<double>"
        )
        codes, scale = quantize_vector(F.col("v"))
        rows = df.select(
            "id", codes.alias("c"), scale.alias("s"), "v"
        ).collect()
        for r in rows:
            assert all(-127 <= c <= 127 for c in r["c"])
            step = r["s"] if r["s"] > 0 else 0.0
            for orig, c in zip(r["v"], r["c"]):
                back = c * r["s"]
                assert abs(orig - back) <= step / 2 + max(1e-6, abs(orig) * 1e-5)

except ImportError:  # pragma: no cover
    pass


def test_pack_sequences_invariants(spark):
    from review_engine_spark.operators.chunking import pack_sequences

    df = spark.createDataFrame(
        [(i, 100 + (i * 37) % 300) for i in range(60)], "doc_id long, n long"
    )
    out = pack_sequences(df, "n", "doc_id", budget=512, n_shards=4).collect()
    # every doc assigned exactly once
    assert sorted(r["doc_id"] for r in out) == list(range(60))
    by_pack = {}
    for r in out:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for rows in by_pack.values():
        # pack_pos is 1..n within the pack, ordered by doc_id
        rows = sorted(rows, key=lambda r: r["pack_pos"])
        assert [r["pack_pos"] for r in rows] == list(range(1, len(rows) + 1))
        assert [r["doc_id"] for r in rows] == sorted(r["doc_id"] for r in rows)
        # contiguous fill: all docs in a pack share a shard
        assert len({r["shard"] for r in rows}) == 1
    # deterministic: a second run yields identical assignments
    again = pack_sequences(df, "n", "doc_id", budget=512, n_shards=4).collect()
    assert {(r["doc_id"], r["pack_id"]) for r in again} == {
        (r["doc_id"], r["pack_id"]) for r in out
    }


def test_assign_split_deterministic_and_partitioned(spark):
    from review_engine_spark.operators.chunking import assign_split

    df = spark.createDataFrame([(i,) for i in range(8000)], "id long")
    out = {r["id"]: r["split"] for r in assign_split(df, "id").collect()}
    assert len(out) == 8000  # exhaustive, one split each
    frac = {s: sum(1 for v in out.values() if v == s) / 8000 for s in ("train", "val", "test")}
    assert 0.85 < frac["train"] < 0.95
    assert 0.02 < frac["val"] < 0.08
    assert 0.02 < frac["test"] < 0.08
    # stable across runs and partitionings
    again = {
        r["id"]: r["split"]
        for r in assign_split(df.repartition(13), "id").collect()
    }
    assert again == out


def test_stratified_sample_rates_and_determinism(spark):
    from review_engine_spark.operators.chunking import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(10000)],
        "id long, lang string",
    )
    out = stratified_sample(df, "id", "lang", rates={"en": 0.5}, default_rate=0.1)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 0.4 < counts["en"] / 5000 < 0.6
    assert 0.05 < counts["de"] / 5000 < 0.15
    # deterministic under repartition
    ids = {r["id"] for r in out.collect()}
    again = {
        r["id"]
        for r in stratified_sample(
            df.repartition(17), "id", "lang", rates={"en": 0.5}, default_rate=0.1
        ).collect()
    }
    assert again == ids



def test_batch_topk_matches_python_reference(spark):
    """The numpy matmul path must reproduce the expression kernel's
    cosine (dot/(|a||b|+1e-9), round 6) with low-id tie-breaks, and the
    per-partition local cut must never lose a global top-k member."""
    import random

    from review_engine_spark.operators.similarity import brute_force_topk_batch

    rng = random.Random(9)
    corpus = [
        (i, [rng.gauss(0, 1) for _ in range(12)]) for i in range(200)
    ]
    queries = [[rng.gauss(0, 1) for _ in range(12)] for _ in range(3)]
    # many partitions so the local-cut-then-merge path actually executes
    df = spark.createDataFrame(
        corpus, "vec_id long, embedding array<double>"
    ).repartition(16)
    got = {
        (r["query_idx"], r["rn"]): (r["neighbor_id"], r["cos_sim"])
        for r in brute_force_topk_batch(df, queries, k=7).collect()
    }

    def cos(a, b):
        import math

        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return round(dot / (na * nb + 1e-9), 6)

    for qi, q in enumerate(queries):
        ranked = sorted(
            ((cos(v, q), -i) for i, v in corpus), key=lambda t: (-t[0], -t[1])
        )[:7]
        for rn, (sim, neg_id) in enumerate(ranked, start=1):
            assert got[(qi, rn)] == (-neg_id, sim), (qi, rn)


def test_pca_power_recovers_rank1_direction(spark, tmp_path):
    """Vectors all parallel to (3, 1): the top component converges to
    the infinity-normalized direction (1.0, 1/3) immediately, and the
    deterministic all-ones start fixes the sign."""
    import pandas as pd
    import pytest as _pytest

    from review_engine_spark.plans.roster_vector import q_pca_power

    vecs = [[3.0, 1.0], [6.0, 2.0], [-3.0, -1.0], [30.0, 10.0]]
    pd.DataFrame(
        {"vec_id": range(1, 5), "embedding": vecs}
    ).to_parquet(tmp_path / "embeddings.parquet")

    out = {r["pos"]: r["component"] for r in q_pca_power(spark, str(tmp_path)).collect()}
    assert out[1] == _pytest.approx(1.0, abs=1e-9)
    assert out[2] == _pytest.approx(1 / 3, abs=1e-5)


def test_pca_topk_deflation_recovers_orthogonal_directions(
    spark, tmp_path, scratch_root
):
    """Data built from two orthogonal directions with very different
    variance: component 1 converges to the dominant direction and,
    after deflation, component 2 to the orthogonal one (both
    infinity-normalized, sign fixed by the all-ones start)."""
    import pandas as pd
    import pytest as _pytest

    from review_engine_spark.plans.roster_vector import pca_components

    # dominant direction (2, 1), minor orthogonal direction (1, -2)
    vecs = []
    for a in (10.0, -8.0, 12.0, -11.0, 9.0):
        vecs.append([2.0 * a, 1.0 * a])
    for b in (1.0, -1.5, 1.2):
        vecs.append([1.0 * b, -2.0 * b])
    pd.DataFrame(
        {"vec_id": range(1, len(vecs) + 1), "embedding": vecs}
    ).to_parquet(tmp_path / "embeddings.parquet")

    c1, c2 = pca_components(spark, str(tmp_path), k=2, iters=6)
    assert c1[0] == _pytest.approx(1.0, abs=1e-6)
    assert c1[1] == _pytest.approx(0.5, abs=1e-4)
    # after removing (2,1)-span mass, only the ±(1,-2) span remains;
    # the deterministic all-ones start picks the (-0.5, 1) orientation
    assert c2[1] == _pytest.approx(1.0, abs=1e-6)
    assert c2[0] == _pytest.approx(-0.5, abs=1e-4)


def test_pca_artifact_prefix_reuse_and_data_invalidation(
    spark, tmp_path, monkeypatch, scratch_root
):
    """(a) A k=4 artifact serves a k=1 request as a prefix with NO
    retraining (trainer stubbed out for the second call — the BPE
    convention). (b) Regenerating the embeddings fixture at the SAME
    path must invalidate the artifact: the r10 memo keyed on
    (applicationId, sf_dir) served stale components (ADVICE r10)."""
    import pandas as pd
    import pytest as _pytest

    from review_engine_spark.plans import roster_vector as rv

    # full-rank data (two orthogonal spans) so the k=2 deflation has a
    # real second direction to find
    vecs = [[3.0, 1.0], [6.0, 2.0], [-3.0, -1.0], [30.0, 10.0], [1.0, -3.0]]
    pd.DataFrame(
        {"vec_id": range(1, 6), "embedding": vecs}
    ).to_parquet(tmp_path / "embeddings.parquet")

    comps4 = rv.pca_components(spark, str(tmp_path), k=2, iters=6)
    scratch_root._MEMO.clear()  # force the disk-artifact path, not the memo

    real_read = rv.read_parquet_table

    def boom(*a, **k):
        raise AssertionError("pca retrained despite fresh k>=1 artifact")

    monkeypatch.setattr(rv, "read_parquet_table", boom)
    assert rv.pca_components(spark, str(tmp_path), k=1, iters=6) == comps4[:1]

    # rewrite the fixture in place (new mtime/size) -> MUST retrain
    monkeypatch.setattr(rv, "read_parquet_table", real_read)
    vecs2 = [[1.0, 4.0], [2.0, 8.0], [-1.0, -4.0], [10.0, 40.0]]
    pd.DataFrame(
        {"vec_id": range(1, 5), "embedding": vecs2}
    ).to_parquet(tmp_path / "embeddings.parquet")
    c1_new = rv.pca_components(spark, str(tmp_path), k=1, iters=6)[0]
    assert c1_new[1] == _pytest.approx(1.0, abs=1e-9)  # new dominant (1,4)
    assert c1_new[0] == _pytest.approx(0.25, abs=1e-5)

"""Lloyd's k-means over an embedding column — deterministic, oracle-
replayable iterative clustering.

The other iterative ops (``cluster.pagerank``, MLlib ALS) are rows-only
checked; this one is built so a SQL oracle can replay it exactly:

- seeding is the engine's LCG bucket hash (ANSI-C constants, pure
  integer arithmetic — same expression runs in DuckDB), min-id row per
  bucket, NOT a random sample;
- a FIXED number of Lloyd iterations (no data-dependent convergence
  test, which SQL could not replay without knowing the iteration count);
- squared distances and updated centroid means are rounded to 6 decimals
  each round, so double summation-order differences between engines
  cannot flip an argmin.

Scale shape per iteration (the part that matters at 100 TB):
assignment is ONE narrow pass — centroids arrive as a k-row broadcast,
the argmin is a per-row expression over ``zip_with`` squared
differences; the update shuffles only (cluster, pos, partial-sum) pairs
after map-side partial aggregation — k·dim rows reach the reducers
regardless of corpus size; the k·dim new centroids come back to the
driver (trivially small). Empty clusters keep their previous centroid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from review_engine_spark.operators.chunking import _lcg
from review_engine_spark.operators.cluster import iter_checkpoint

__all__ = ["kmeans_fit", "lcg_bucket"]


def lcg_bucket(id_col: str, k: int):
    """(LCG(id) mod k) — deterministic, engine-portable bucket hash
    (``chunking._lcg``)."""
    return F.pmod(_lcg(F.col(id_col)), F.lit(k))


def _sq_dist(vec, cvec):
    return F.round(
        F.aggregate(
            F.zip_with(vec, cvec, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def kmeans_fit(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration Lloyd's k-means: (id, cluster_id, sq_dist).

    ``cluster_id`` is the 0..k-1 seed-bucket index of the final
    assignment; ``sq_dist`` the (rounded) squared euclidean distance to
    that centroid. Ties in the argmin break to the lower cluster id.
    Runs one eager job when called (the corpus checkpoint) before the
    seed collect and the iters driver rounds.
    """
    # every round's assignment job re-reads the corpus otherwise:
    # iters+1 assignment passes + the seed scan all share this table
    doubled = iter_checkpoint(
        emb.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
    )
    seeds = (
        doubled.withColumn("_b", lcg_bucket(id_col, k))
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_b").orderBy(id_col)),
        )
        .filter(F.col("_rn") == 1)
        .select(F.col("_b").alias("cluster_id"), F.col("_v").alias("_cvec"))
    )
    # centroids live on the driver between rounds: k·dim doubles
    cents: dict[int, list[float]] = {
        r["cluster_id"]: list(r["_cvec"]) for r in seeds.collect()
    }

    def _assign(centroids: dict[int, list[float]]) -> DataFrame:
        # centroids enter the plan as ONE string literal parsed by
        # from_json (ConstantFolding collapses it to a single nested
        # literal) — NOT per-entry F.lit nodes: k·dim lit nodes cost
        # optimizer-walk seconds PER PLAN BUILD, and this plan is built
        # iters+1 times (the round-5 planning-tax lesson, NOTES.md).
        # The argmin is array_min over (distance, cid) structs — struct
        # ordering IS (d, then cid), so ties resolve to the lower
        # cluster id. A NARROW per-row pass with zero exchanges (a
        # join+window argmin would shuffle N·k rows per iteration — 8×
        # the corpus per round at k=8). json.dumps round-trips binary64
        # exactly (shortest-repr), so assignments are bit-identical to
        # the literal-array form.
        import json as _json
        import math as _math

        # json.dumps would emit bare NaN/Infinity for non-finite values
        # and from_json would silently return NULL for the whole array —
        # every row would get NULL cluster_id with no error. A degenerate
        # centroid state (empty cluster mean, overflow) must fail loudly
        # on the driver instead; k·dim scalar checks are free.
        for cid, v in centroids.items():
            for x in v:
                if not _math.isfinite(x):
                    raise ValueError(
                        f"non-finite centroid component in cluster {cid}: {x}"
                    )
        cent_arr = F.from_json(
            F.lit(
                _json.dumps(
                    [
                        {"cid": cid, "cvec": [float(x) for x in v]}
                        for cid, v in sorted(centroids.items())
                    ]
                )
            ),
            "array<struct<cid:int,cvec:array<double>>>",
        )
        best = F.array_min(
            F.transform(
                cent_arr,
                lambda c: F.struct(
                    _sq_dist(F.col("_v"), c.cvec).alias("d"),
                    c.cid.alias("cid"),
                ),
            )
        )
        return doubled.select(
            F.col(id_col),
            F.col("_v"),
            best.getField("cid").alias("cluster_id"),
            best.getField("d").alias("sq_dist"),
        )

    for _ in range(iters):
        assigned = _assign(cents)
        means = (
            assigned.select(
                "cluster_id", F.posexplode("_v").alias("pos", "x")
            )
            .groupBy("cluster_id", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("_cvec")
            )
        )
        new_cents = {
            r["cluster_id"]: list(r["_cvec"]) for r in means.collect()
        }
        # an empty cluster keeps its previous centroid
        cents = {cid: new_cents.get(cid, v) for cid, v in cents.items()}

    return _assign(cents).select(
        F.col(id_col),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "sq_dist",
    )

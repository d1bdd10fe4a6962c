"""Connected components over candidate-pair edges — dedup clustering.

Near-dup detection (operators.dedup) emits *pairs*; deduplication needs
*clusters* (keep one canonical doc per component, drop the rest). This
is the transitive-closure step: component id = min node id reachable.

Algorithm: iterative min-label propagation with pointer jumping
("hash-to-min" family — Rastogi et al. 2012-style), pure DataFrame ops:

  1. each node's label ← min(own label, min neighbor label)   [1 hop]
  2. label ← label's label                                    [pointer jump]

Step 2 makes convergence O(log diameter) instead of O(diameter), so a
chain of 10^6 near-dups resolves in ~20 rounds. Each round is two
equi-joins + one aggregation on (node, label) pairs — 16 bytes a row,
no document payloads — and the lineage is truncated per round with
``localCheckpoint`` so the plan does not grow with the iteration count
(the classic iterative-Spark failure mode).

The *output* (node → min reachable id) is algorithm-independent and
deterministic, so the roster query is DuckDB-oracle-checked against a
recursive-CTE transitive closure even though the Spark side iterates.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "blocked_connected_components",
    "connected_components",
    "iter_checkpoint",
    "pagerank",
]


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """The engine's one way to reuse an intermediate: an eager,
    lineage-truncating checkpoint stored SERIALIZED with disk spill
    (MEMORY_AND_DISK). Runs one job when called.

    - It registers nothing with the session's CacheManager, so no later
      query can plan-match it: ``persist``/``cacheTable`` entries live
      for the session and make one query's timing depend on which query
      ran before.
    - The ContextCleaner frees its blocks once the returned frame is
      unreachable, so no ``unpersist`` has to be paired with it.
    - Serialized blocks are ~4-8x smaller than the deserialized Java
      objects a bare ``localCheckpoint()`` or ``persist()`` keeps, and
      evict to disk under pressure instead of failing the task: across
      rounds of an iterative algorithm those unroll spikes plus
      superseded-round blocks OOM'd a 24 g heap at the 100x stress
      scale (q_bfs_levels, r6)."""
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Component labels for every node with ≥1 edge: (node, cluster_id).

    ``cluster_id`` is the minimum node id in the component. Isolated
    nodes never appear (they have no edges — callers union them back
    with label = own id if needed).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # materialize the edge list once: every iteration joins against it,
    # and without this the (possibly expensive) upstream edge-generation
    # plan would re-run per round
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(iter_checkpoint)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(iter_checkpoint)
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("m"))
        )
        upd = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("m", "label")).alias("label"),
            )
        )
        # pointer jump: label ← label's label (labels are always node ids,
        # so the self-join below finds every label's current owner)
        x, y = upd.alias("x"), upd.alias("y")
        jumped = x.join(y, F.col("x.label") == F.col("y.node"), "left").select(
            F.col("x.node").alias("node"),
            F.coalesce(F.col("y.label"), F.col("x.label")).alias("label"),
        )
        new_labels = jumped.transform(iter_checkpoint)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("cluster_id"))


def blocked_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    block_cols: list[str],
) -> DataFrame:
    """Component labels when the edge graph is *block-decomposed*:
    (node, cluster_id), cluster_id = min member id, same contract as
    ``connected_components``.

    Requirement: every node belongs to exactly ONE block (the edge
    generator joined within single-membership blocking keys — e.g.
    (brand, size) record-linkage blocks, where each record has one brand
    and one size). Then no component ever spans blocks, and the global
    iterative min-label loop is overkill: each block's components are
    computed independently by a per-group union-find.

    This replaces O(log diameter) rounds of (join + agg + checkpoint)
    shuffles with ONE shuffle of the 16-byte edge pairs, and the blocks
    are embarrassingly parallel across executors — for blocked dedup
    graphs this is the 100 TB path. Per-task memory is O(block edges),
    already bounded upstream by whatever blocking bounded the O(block²)
    pair generation. NOT valid for multi-membership blocking (LSH band
    buckets: a doc sits in many bands, components span buckets — use
    ``connected_components`` there).
    """
    import pandas as pd

    e = edges.select(
        *block_cols,
        F.col(src).alias("a").cast("long"),
        F.col(dst).alias("b").cast("long"),
    ).filter(F.col("a") != F.col("b"))

    def _uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["a"], pdf["b"]):
            a, b = int(a), int(b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the label the component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        return pd.DataFrame(
            {"node": list(parent), "cluster_id": [find(n) for n in parent]}
        )

    return e.groupBy(*block_cols).applyInPandas(
        _uf, "node long, cluster_id long"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
) -> DataFrame:
    """PageRank over a directed edge list → (node, rank).

    Same iterative-DataFrame discipline as ``connected_components``:
    the edge list and out-degrees are materialized once, each round is
    join → aggregate → join (all keyed shuffles, 16-byte rows), and
    lineage is truncated per round. Dangling mass (nodes with no
    out-edges) is redistributed uniformly so ranks sum to 1 every
    round. Rows-only surface: fixed-point floats are not hash-stable
    across engines.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    e = e.distinct().transform(iter_checkpoint)
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .transform(iter_checkpoint)
    )
    n = nodes.count()
    deg = e.groupBy("a").agg(F.count("*").alias("out_deg"))
    # Hoist the per-round static work out of the loop: the edge⋈degree
    # join never changes (materialize edge weights once), and the SET of
    # dangling nodes is static — only their rank mass varies. When the
    # graph has no dangling nodes at all (always true for the symmetric
    # near-dup graphs this engine builds), the whole redistribution
    # branch — an anti-join, an agg, and a broadcast crossJoin per
    # round — disappears.
    ew = (
        e.join(deg, "a")
        .select("a", "b", (1.0 / F.col("out_deg")).alias("w"))
        .transform(iter_checkpoint)
    )
    dang = (
        nodes.join(deg.withColumnRenamed("a", "node"), "node", "left_anti")
        .transform(iter_checkpoint)
    )
    has_dangling = bool(dang.head(1))
    # Checkpoint cadence. With dangling nodes, EVERY round: a dangling
    # graph evaluates the un-truncated previous-round rank subplan twice
    # per round (once under contribs' shuffle join, once under the
    # dangling-mass broadcast agg — broadcast and shuffle exchanges don't
    # reuse each other), so skipping a round roughly doubles that round's
    # compute instead of saving the materialization. Without dangling
    # nodes (the symmetric near-dup graphs this engine builds), the
    # every-other-round saving is real — and on a SMALL graph the ~0.5 s
    # per materialization dominates the ~50 ms join, so stretch further:
    # the cadence is 100 TB lineage insurance, which a fixture-scale
    # graph shouldn't pay per round. Edge count is free (ew is already
    # materialized by its own checkpoint).
    if has_dangling:
        ckpt_every = 1
    elif ew.count() < 200_000:
        ckpt_every = 4
    else:
        ckpt_every = 2
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for it in range(max_iter):
        contribs = (
            ew.join(ranks.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"), (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        new_rank = F.lit((1.0 - damping) / n) + damping * F.coalesce(
            "in_sum", F.lit(0.0)
        )
        out = nodes.join(contribs, "node", "left")
        if has_dangling:
            # dangling nodes (no out-edges) leak their rank; redistribute
            dangling = (
                ranks.join(dang.select("node"), "node", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            )
            out = out.crossJoin(F.broadcast(dangling))
            new_rank = new_rank + damping * F.col("dm") / n
        ranks = out.select("node", new_rank.alias("rank"))
        # Truncate lineage every ckpt_every rounds (and on the last):
        # each eager checkpoint costs a full materialization, which at 8
        # rounds was ~8x the per-round compute at fixture scale. A few
        # un-truncated rounds keep the plan a bounded join→agg→join
        # chain; the storage pool also holds fewer superseded-round
        # blocks.
        if it % ckpt_every == ckpt_every - 1 or it == max_iter - 1:
            ranks = iter_checkpoint(ranks)
    return ranks.select("node", F.round("rank", 9).alias("rank"))

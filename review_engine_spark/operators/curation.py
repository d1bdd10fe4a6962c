"""Corpus-curation operators: vocabulary building, duplicated-span
removal, boilerplate filtering, semantic (embedding-space) dedup.

These are the remaining standard passes of a pretraining data pipeline
(SURVEY §2.K family) not covered by the doc-level dedup operators:

- ``top_tokens`` — corpus vocabulary with doc/total frequencies (the
  wordcount that seeds tokenizer training and stopword lists);
- ``span_dedup`` — remove *duplicated spans* across documents (the
  paragraph-dedup pass: exact repeated pieces survive doc-level near-dup
  detection when the containing docs differ elsewhere);
- ``boilerplate_flags`` — per-document ratio of spans shared with other
  documents (CCNet-style boilerplate signal: nav bars, license headers);
- ``semantic_dedup`` — SemDeDup-style: coarse-cluster embeddings, then
  drop near-cosine duplicates within each cluster only, so the pairwise
  cosine work is O(sum cluster²) ≪ O(N²).

All four are pure DataFrame compositions (no Python in the hot path)
and oracle-checkable; deterministic seeding uses the engine's LCG hash
(`chunking.id_hash_frac` constants) so the SQL oracle can reproduce it.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from review_engine_spark.functions.vector import (
    EPSILON,
    cosine_similarity,
    dot_product,
    l2_norm,
)
from review_engine_spark.operators.chunking import chunk_documents, chunk_tokens
from review_engine_spark.operators.kmeans import lcg_bucket

__all__ = [
    "top_tokens",
    "span_dedup",
    "substring_dedup",
    "substring_dedup_apply",
    "boilerplate_flags",
    "semantic_dedup",
    "ngram_novelty",
]


def top_tokens(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """Top-k corpus vocabulary: (token, n_docs, n_total, rank).

    explode → groupBy(token) gets map-side partial aggregation for the
    total count; the top-k cut is orderBy+limit (TakeOrderedAndProject:
    per-partition top-k, then a k·P-row merge) over the *vocabulary*
    (≪ corpus; Heaps' law), not the token stream — no global window
    ever sees the full vocabulary. Ranks are assigned on the bounded
    k-row result.
    """
    toks = docs.select(
        F.col(id_col), F.explode(chunk_tokens(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.countDistinct(id_col).cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_total"),
    )
    top = counts.orderBy(F.desc("n_total"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n_total"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 16,
) -> DataFrame:
    """Remove spans duplicated across the corpus; first occurrence wins.

    Documents are cut into non-overlapping ``span``-token pieces; a span
    is kept iff it is the (min doc_id, min chunk_idx) occurrence of its
    exact text. Returns one row per non-empty document:
    (id, n_chunks, n_kept, text_dedup).

    The winner election groups by the span *text* (the oracle-checkable
    exact semantic). At 100 TB, shuffle ``xxhash64(chunk_text)`` instead
    of the text bytes and resolve the (negligible-probability) collisions
    with one narrow recheck join — same plan shape, 8-byte shuffle keys.
    """
    ch = chunk_documents(docs, text_col, id_col, chunk_size=span, stride=span)
    w = Window.partitionBy("chunk_text").orderBy(id_col, "chunk_idx")
    flagged = ch.withColumn("keep", F.row_number().over(w) == 1)
    kept_piece = F.when(
        F.col("keep"), F.struct("chunk_idx", "chunk_text")
    )  # collect_list drops the nulls of non-kept spans
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_piece)), lambda s: s.chunk_text
            ),
        ).alias("text_dedup"),
    )


def boilerplate_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 8,
    min_docs: int = 2,
    max_ratio: float = 0.3,
) -> DataFrame:
    """Per-document boilerplate signal from cross-document span sharing:
    (id, n_spans, n_boiler, boiler_ratio, keep).

    A span is boilerplate iff it occurs in ≥ ``min_docs`` distinct
    documents; a document fails (keep = false) when more than
    ``max_ratio`` of its spans are boilerplate. The span doc-frequency
    table is itself a grouped aggregate (vocabulary-sized), joined back
    to the span stream on the span key — the same hash-vs-text shuffle
    trade as ``span_dedup`` applies at scale.
    """
    ch = chunk_documents(
        docs, text_col, id_col, chunk_size=span, stride=span
    ).select(F.col(id_col), "chunk_text")
    span_df = ch.groupBy("chunk_text").agg(
        F.countDistinct(id_col).alias("df")
    )
    # span_df is O(distinct spans) ≈ O(corpus) — pin shuffle_hash so no
    # size threshold ever broadcasts it (see SCALING.md)
    out = (
        ch.join(span_df.hint("shuffle_hash"), "chunk_text")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum((F.col("df") >= min_docs).cast("int"))
            .cast("long")
            .alias("n_boiler"),
        )
    )
    ratio = F.round(F.col("n_boiler") / F.col("n_spans"), 6)
    return out.select(
        F.col(id_col),
        "n_spans",
        "n_boiler",
        ratio.alias("boiler_ratio"),
        (ratio <= max_ratio).alias("keep"),
    )


def semantic_dedup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    threshold: float = 0.3,
    sub_target: int = 2048,
) -> DataFrame:
    """SemDeDup-style semantic dedup: (id, cluster_id, keep).

    1. k coarse centroids: per LCG-hash bucket, the min-id row's vector
       (deterministic, SQL-reproducible — no iterative fit, which is the
       point: the oracle can replay it).
    2. Every vector joins its argmax-cosine centroid (broadcast of k
       rows; ties to the lower cluster_id; cosine rounded to 6 so the
       argmax cut is engine-stable).
    3. Within a cluster only, a vector is dropped iff some *lower-id*
       cluster-mate has cosine ≥ ``threshold`` — the greedy keep-first
       rule.

    Scale bound (rounds 12-13): when every cluster fits ``sub_target``
    (true at every gate fixture — max cluster ~300) the pair stage is
    the exact expression form the DuckDB oracle replays bit-for-bit.
    Above it — the regime the first true 100x-embeddings replica
    exposed, where the fixed-k pair join is quadratic (24+ min at 100x;
    VERDICT r11 item 5's re-measure found it) — each cluster is
    CONTENT-blocked by SRP sign bits (round 13; round 12's id-hash
    sub-shards had isolated-pair recall ~1/n_shards): per-pair bucket
    collision probability is (1 − θ/π)^bits per table, OR-ed over 2
    independent tables, and EXACT duplicates always co-bucket. Bits
    per cluster are sized so the expected bucket fits ``sub_target``;
    buckets that overflow anyway (dup-group skew) stay exact via a
    chunked Gram kernel with an early-exit witness scan (an all-dup
    monster bucket costs O(n·sub_target), never O(n²)). Pair work is
    O(2·N·sub_target/2), linear in the corpus (NOTES lesson 2: the
    per-pair expression cosine costs ~40-50 µs; the ≤2048² matmul is
    ~20 ms per block). Trade-off, the family's usual kind (IVF probes,
    LSH bands): a pair whose SRP bits differ in both tables is missed —
    recall vs the exact pair stage is pinned in
    tests/test_curation_ops.py and measured on the 100x replica in
    SCALING.md — which is why the at-scale path only engages beyond
    the oracle-checked regime. The kernel rounds HALF_UP away from
    zero, matching Spark's ``F.round``, so the two regimes share one
    boundary rule (the remaining divergence is numpy's pairwise
    summation vs the fold's left-to-right order).

    Null tolerance mirrors the expression path's own rules: rows whose
    vector is NULL never become centroids, assign to NULL cluster_id,
    and are always kept; a NULL *element* inside a vector makes every
    cosine involving that vector NULL (the ``F.aggregate`` fold
    propagates it), so such rows are likewise kept and never cause a
    drop — the shard kernel reproduces this because the element arrives
    as NaN and NaN comparisons are False. An empty input returns an
    empty (id, cluster_id, keep) frame.

    The three-way-consumed intermediate is ``localCheckpoint``-ed (not
    ``persist``-ed): blocks are released by the ContextCleaner when the
    result frame is garbage-collected, so library callers don't leak a
    cached relation per call (VERDICT r12 item 7).
    """
    cents = (
        emb.filter(F.col(vec_col).isNotNull())
        .withColumn("_b", lcg_bucket(id_col, k))
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_b").orderBy(id_col)),
        )
        .filter(F.col("_rn") == 1)
        .select(F.col("_b").alias("cluster_id"), F.col(vec_col).alias("_cvec"))
    )
    # Assignment via DRIVER-HELD centroid literals (the k-means round
    # pattern; k rows is a bounded collect): one narrow projection
    # computing k round-6 cosines per row with greatest + first-
    # ascending-cluster tie-break — algebraically identical to the old
    # broadcast-join + per-id argmax window, but with NO N×k row
    # explosion and NO window shuffle of the vector payload (at 100x
    # embeddings that was 1.6M rows × 0.5 KB through one exchange).
    # Literal centroids are exact: FLOAT storage widens losslessly to
    # the driver's doubles, matching dot_product's in-engine casts.
    cent_rows = sorted(cents.collect(), key=lambda r: r["cluster_id"])
    if not cent_rows:
        # empty input (cents is non-empty whenever a non-null vector
        # exists): emit the contracted empty schema instead of crashing
        # on sims[0] below (ADVICE r12)
        return emb.select(
            F.col(id_col),
            F.lit(None).cast("long").alias("cluster_id"),
            F.lit(True).alias("keep"),
        )
    sims = [
        (
            int(r["cluster_id"]),
            F.round(
                cosine_similarity(
                    F.col(vec_col),
                    F.array(
                        *[
                            F.lit(float(x))
                            if x is not None
                            else F.lit(None).cast("double")
                            for x in r["_cvec"]
                        ]
                    ),
                ),
                6,
            ),
        )
        for r in cent_rows
    ]
    best = (
        F.greatest(*[s for _, s in sims]) if len(sims) > 1 else sims[0][1]
    )
    cl = F.when(sims[0][1] == best, F.lit(sims[0][0]))
    for cid, s in sims[1:]:
        cl = cl.when(s == best, F.lit(cid))
    # consumed 3x (size probe, pair stage, keep join) — NOTES lesson 5.
    # localCheckpoint, NOT persist: persist registers with the cache
    # manager for the session's lifetime (a leak for library callers;
    # ADVICE r12), while checkpoint blocks are dropped by the
    # ContextCleaner once the returned frame is unreachable.
    # `_nrm` is materialized ONCE per row here so the exact pair stage
    # below pays one fold per pair (the dot) instead of three (dot + two
    # norms) — bit-identical: l2_norm(v) per row is the same IEEE value
    # as l2_norm(v) per pair, and the cosine is assembled with the same
    # dot/(na*nb+eps) operand order (round 13: pair stage 4.0 s -> 1.7 s
    # at sf0.1, dropped set verified identical; guide §2.3 — don't
    # recompute what a narrower column can carry).
    assigned = emb.select(
        F.col(id_col),
        F.col(vec_col),
        cl.cast("int").alias("cluster_id"),
        l2_norm(F.col(vec_col)).alias("_nrm"),
    ).localCheckpoint(eager=True)
    # max cluster size decides the pair-stage plan: a bounded driver
    # read of k rows (the centroid collect's sibling)
    size_rows = (
        assigned.groupBy("cluster_id").agg(F.count("*").alias("_cn")).collect()
    )
    max_cn = max((r["_cn"] for r in size_rows), default=0)
    if max_cn <= sub_target:
        # oracle-checked regime: exact expression pairs, bit-identical
        # to the DuckDB replay
        hi = assigned.select(
            "cluster_id",
            F.col(id_col).alias("_i"),
            F.col(vec_col).alias("_a"),
            F.col("_nrm").alias("_na"),
        )
        lo = assigned.select(
            "cluster_id",
            F.col(id_col).alias("_j"),
            F.col(vec_col).alias("_b_v"),
            F.col("_nrm").alias("_nb"),
        )
        # cosine assembled from the PRE-materialized per-row norms: same
        # value as cosine_similarity(_a, _b_v) (identical dot fold,
        # identical norm values, identical dot/(na*nb+eps) operand
        # order), one array fold per pair instead of three
        pair_cos = dot_product(F.col("_a"), F.col("_b_v")) / (
            F.col("_na") * F.col("_nb") + F.lit(EPSILON)
        )
        # both within-cluster sides scale with the corpus — shuffle_hash
        dropped = (
            hi.join(lo.hint("shuffle_hash"), "cluster_id")
            .filter(F.col("_i") > F.col("_j"))
            .filter(F.round(pair_cos, 6) >= threshold)
            .select(F.col("_i").alias(id_col))
            .distinct()
        )
    else:
        # At-scale regime (round 13): CONTENT-blocked sub-shards.
        # Round 12 sub-sharded by id hash, whose isolated-pair recall is
        # ~1/n_shards — the recall pin exposed it. Instead, block by SRP
        # (sign-random-projection) bits: a near-dup pair agrees on each
        # bit with probability 1 − θ/π (θ = the pair's angle), so
        # near-identical vectors co-bucket with high probability and
        # EXACT duplicates always do; T independent tables OR the
        # chances (pair caught iff co-bucketed in ANY table). Per-
        # cluster bit count is sized so the expected bucket fits
        # ``sub_target``; buckets that still overflow (dup-group skew)
        # are handled EXACTLY by the chunked kernel below, not split.
        # Work is O(T · N · sub_target / 2) in the no-skew case; a
        # monster all-dup bucket costs O(n · sub_target) thanks to the
        # early-exit witness scan (each chunk dies against the first
        # witness block), never O(n²).
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        thr = float(threshold)
        n_tables = 2
        # bits_c = ceil(log2(ceil(cn / sub_target))): expected
        # (cluster, bucket) size ≤ sub_target
        bits_by_cluster = {
            int(r["cluster_id"]): (
                (-(-int(r["_cn"]) // sub_target)) - 1
            ).bit_length()
            for r in size_rows
            if r["cluster_id"] is not None  # null-vector rows: no pairs
        }
        bmax = max(bits_by_cluster.values(), default=0)
        bits_items = tuple(sorted(bits_by_cluster.items()))

        @pandas_udf("array<int>")
        def _srp_buckets(cl: pd.Series, vs: pd.Series) -> pd.Series:
            # fixed-seed hyperplanes: identical in every batch/executor,
            # so bucketing is deterministic (no per-run randomness)
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vs]
            )
            dim = X.shape[1] if X.ndim == 2 else 0
            if dim == 0 or bmax == 0:
                return pd.Series([[0] * n_tables] * len(vs))
            planes = np.random.RandomState(0x5EED).standard_normal(
                (n_tables, bmax, dim)
            )
            nbits = (
                cl.map(dict(bits_items)).fillna(0).to_numpy(np.int64)
            )
            # NaN elements (SQL NULL) sign as False — deterministic;
            # such rows never drop or witness anyway (NaN cosines)
            signs = (
                np.einsum("tbd,nd->ntb", planes, X) >= 0
            ).astype(np.int64)
            weights = (1 << np.arange(bmax)).astype(np.int64)
            mask = (
                np.arange(bmax)[None, :] < nbits[:, None]
            ).astype(np.int64)
            buckets = (
                signs * mask[:, None, :] * weights[None, None, :]
            ).sum(axis=2)
            return pd.Series(
                [row.tolist() for row in buckets.astype(np.int32)]
            )

        sharded = (
            assigned.filter(
                F.col("cluster_id").isNotNull() & F.col(vec_col).isNotNull()
            )
            .select(
                "cluster_id",
                F.col(id_col),
                F.col(vec_col),
                F.posexplode(
                    _srp_buckets(F.col("cluster_id"), F.col(vec_col))
                ).alias("_t", "_bk"),
            )
        )

        chunk = int(sub_target)

        def _bucket_drop(pdf: "pd.DataFrame") -> "pd.DataFrame":
            ids = pdf[id_col].to_numpy()
            order = np.argsort(ids)
            ids_s = ids[order]
            # NULL elements arrive as NaN and stay NaN: every cosine
            # touching that row goes NaN, every NaN comparison is
            # False — exactly the expression path's NULL propagation
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )[order]
            n = len(ids_s)
            norms = np.sqrt((mat * mat).sum(axis=1))
            dropped_m = np.zeros(n, dtype=bool)
            # chunked all-pairs with early exit: row i drops iff some
            # j < i has round6(cos) >= thr; witnesses scan low blocks
            # first and a chunk stops once every row in it is dropped
            for s in range(0, n, chunk):
                e = min(s + chunk, n)
                q, qn = mat[s:e], norms[s:e]
                active = np.ones(e - s, dtype=bool)
                ii = np.arange(s, e)[:, None]
                for ws in range(0, e, chunk):
                    if not active.any():
                        break
                    we = min(ws + chunk, e)
                    raw = (q @ mat[ws:we].T) / (
                        np.outer(qn, norms[ws:we]) + 1e-9
                    )
                    # HALF_UP away from zero, matching Spark F.round /
                    # the exact path (np.round is half-to-even —
                    # ADVICE r12)
                    sims_m = (
                        np.sign(raw)
                        * np.floor(np.abs(raw) * 1e6 + 0.5)
                        / 1e6
                    )
                    hit = (sims_m >= thr) & (
                        np.arange(ws, we)[None, :] < ii
                    )
                    newly = hit.any(axis=1) & active
                    dropped_m[s:e][newly] = True
                    active &= ~newly
            return pd.DataFrame({id_col: ids_s[dropped_m]})

        dropped = (
            sharded.groupBy("cluster_id", "_t", "_bk")
            .applyInPandas(_bucket_drop, schema=f"{id_col} long")
            .distinct()
        )
    return (
        assigned.select(id_col, "cluster_id")
        .join(
            dropped.withColumn("_dropped", F.lit(True)).hint("shuffle_hash"),
            id_col,
            "left",
        )
        .select(
            F.col(id_col),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
        )
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_k: int = 1000,
) -> DataFrame:
    """KenLM-proxy quality score, SQL-replayable: mean unigram
    log-probability per document under the corpus's own top-``vocab_k``
    vocabulary; out-of-vocabulary tokens take the floor probability
    ``1/total``. Low scores flag gibberish / non-language documents —
    the model-based quality filter of a pretraining pipeline reduced to
    its deterministic core.

    Scale shape: the vocabulary (top-k of the token counts, ≪ corpus by
    Heaps' law) BROADCASTS; the token stream joins it map-side and
    never shuffles strings — the only exchanges are the vocab count agg
    and the per-doc mean (map-side combined). Returns
    (id, n_tokens, logprob) with logprob rounded to 6.
    """
    from pyspark.sql.functions import broadcast

    from review_engine_spark.operators.chunking import chunk_tokens

    toks = docs.select(
        F.col(id_col), F.explode(chunk_tokens(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    total = counts.agg(F.sum("n").alias("_total"))
    # Vocabulary cut via orderBy+limit (distributed top-k) — no global
    # window over the full vocabulary.
    vocab = (
        counts.orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_k)
        .select("token", "n")
    )
    scored = (
        toks.join(broadcast(vocab), "token", "left")
        .crossJoin(broadcast(total))
        .select(
            F.col(id_col),
            F.log(
                F.coalesce(F.col("n"), F.lit(1)).cast("double")
                / F.col("_total")
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg("_lp"), 6).alias("logprob"),
    )


def _substring_base(
    docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Tokenized corpus shared by the substring family: (id, toks, n).
    Narrow (no shuffle) — cheap to recompute per caller."""
    from review_engine_spark.operators.chunking import chunk_tokens

    return docs.select(
        F.col(id_col), chunk_tokens(F.col(text_col)).alias("toks")
    ).withColumn("n", F.size("toks"))


def substring_dup_occurrences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    hasher: str = "md5",
) -> DataFrame:
    """Shared detect core of the substring-dedup family — the ONE
    corpus-scaled stage, factored out so detect → scrub (the normal
    pipeline order) pays the shingle stream and its shuffle once
    instead of twice (VERDICT r9 item 2): both ``substring_dedup`` and
    ``substring_dedup_apply`` accept this frame as an optional input.

    Returns (id, pos): every NON-canonical occurrence of a
    ``width``-token sliding window (stride 1) — the sparse duplicated
    residue. Canonical = the globally first (doc_id, pos) occurrence of
    each window's exact text.

    ``hasher`` selects the shuffle key:

    - ``"md5"`` — 128-bit key of the space-joined window; collision
      odds are negligible at any corpus size, and DuckDB computes the
      identical string, so this form IS the oracle (cross-engine
      convention of the md5 family).
    - ``"xxhash64"`` — the 100 TB production path the md5 docstring
      promised: 8-byte shuffle keys (vs 32-hex-char md5 strings — ~4×
      less shuffle width on the key column) plus a collision RECHECK.
      At ~10¹² windows, birthday collisions in 64 bits are expected in
      the thousands, so candidates cannot be trusted blindly: every
      rank ≥ 2 occurrence re-joins (with its rank-1 canonical) back to
      the token stream — a join bounded by the sparse residue, not the
      corpus — and survives only if the actual ``width``-token windows
      are equal. The recheck is one-sided by construction: a collision
      can only DROP a candidate (never cut a non-duplicate); a true
      duplicate is missed only when its window collides with an
      earlier DIFFERENT string under the same 64-bit key
      (~n_distinct/2⁶⁴ per window — vanishing). Equality of outputs on
      collision-free corpora is pinned in tests/test_curation.py.
    """
    base = _substring_base(docs, text_col, id_col)
    # posexplode-of-indices + slice of the MATERIALIZED token array —
    # the shingle_hash_rows narrow form. (A transform() lambda here
    # collapses the tokenizer INTO the per-element expression — the
    # measured O(n²)-per-doc HOF hazard, NOTES.md.)
    n_sh = F.col("n") - (width - 1)
    idx = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    ex = base.select(
        F.col(id_col), "toks", F.posexplode(idx).alias("_i", "pos")
    )
    win_str = F.concat_ws(" ", F.slice("toks", F.col("pos"), width))
    if hasher == "md5":
        key = F.md5(win_str)
    elif hasher == "xxhash64":
        key = F.xxhash64(win_str)
    else:
        raise ValueError(f"hasher must be 'md5' or 'xxhash64': {hasher!r}")
    sh = ex.select(id_col, "pos", key.alias("h"))
    wh = Window.partitionBy("h").orderBy(id_col, "pos")
    occ = sh.withColumn("rn", F.row_number().over(wh))
    if hasher == "md5":
        return occ.filter(F.col("rn") >= 2).select(id_col, "pos")
    # xxhash64 collision recheck: candidates + their canonicals (sparse
    # residue) re-fetch their window text via one join back to the
    # corpus on id — corpus-linear scan, but the shuffled side is the
    # residue, never the full shingle stream.
    cand = occ.filter(F.col("rn") >= 2).select(id_col, "pos", "h")
    canon = occ.filter(F.col("rn") == 1).join(
        cand.select("h").distinct(), "h", "left_semi"
    )
    toks = base.select(id_col, "toks")
    cand_txt = cand.join(toks, id_col).select(
        id_col, "pos", "h", win_str.alias("_w")
    )
    canon_txt = canon.join(toks, id_col).select(
        "h", win_str.alias("_w0")
    )
    return (
        cand_txt.join(canon_txt, "h")
        .filter(F.col("_w") == F.col("_w0"))
        .select(id_col, "pos")
    )


def substring_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    hasher: str = "md5",
    dup: DataFrame | None = None,
) -> DataFrame:
    """Substring-level exact dedup signal — the sliding-shingle version
    of the public "Deduplicating Training Data Makes Language Models
    Better" recipe (reference has no analogue; SURVEY §2.K family):
    find every maximal token interval that repeats anywhere in the
    corpus at ≥``width``-token resolution, keep the globally FIRST
    occurrence, and report the per-doc cut list the apply pass would
    remove.

    Algebra (all exact ints + md5 strings — zero float surface):

    1. every ``width``-token SLIDING window (stride 1) is hashed
       (md5 of the space-joined tokens — the md5 family's
       cross-engine convention; ``hasher="xxhash64"`` selects the
       built production path: 8-byte keys + collision recheck, see
       ``substring_dup_occurrences``);
    2. per hash, occurrences rank by (doc_id, pos) — rank 1 is the
       surviving canonical copy, every rank ≥ 2 is a dup occurrence
       (rank ≥ 2 implies global count ≥ 2, so no separate count);
    3. per doc, dup occurrences cover tokens [pos, pos+width-1];
       equal-width intervals merge into maximal runs with one ordered
       window (new run iff the gap to the previous dup pos exceeds
       ``width`` — touching coverage concatenates);
    4. per doc: number of maximal cut runs and total tokens cut,
       zero-filled for clean docs.

    Returns (id, n_tokens, n_dup_runs, n_cut_tokens).

    Scale shape: the shingle stream is corpus-linear (one row per
    token position, never a self-join); the only corpus-scaled shuffle
    keys by the shingle hash (cardinality grows with the data — the
    blocked-self-join scale rule); dup occurrences are a sparse
    residue, so the per-doc run-merge windows are tiny. Suffix-array
    exactness (arbitrary-length matches) is the paper's single-node
    luxury; stride-1 ``width``-shingles are the distributed
    equivalent: they detect every duplicated run of ≥ width tokens AND
    cover it token-exactly (the run's L−width+1 interior windows are
    each duplicated, so coverage = the full L tokens — boundary
    exactness pinned at a 23-token span in tests/test_curation.py);
    the only inexactness class is runs SHORTER than width, which
    survive whole (the resolution floor any shingle scheme has).

    ``dup`` (optional) injects a precomputed
    ``substring_dup_occurrences`` frame so a detect → scrub pipeline
    pays the corpus shuffle once; ``hasher`` is forwarded otherwise.
    """
    base = _substring_base(docs, text_col, id_col)
    if dup is None:
        dup = substring_dup_occurrences(docs, text_col, id_col, width, hasher)
    wd = Window.partitionBy(id_col).orderBy("pos")
    isl = dup.withColumn(
        "new_run",
        F.when(
            F.col("pos") - F.lag("pos").over(wd) <= width, 0
        ).otherwise(1),
    ).withColumn(
        "isl",
        F.sum("new_run").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    runs = isl.groupBy(id_col, "isl").agg(
        (F.max("pos") - F.min("pos") + width).alias("cut")
    )
    per_doc = runs.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_dup_runs"),
        F.sum("cut").cast("long").alias("n_cut_tokens"),
    )
    return (
        base.select(id_col, F.col("n").cast("long").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_runs", F.lit(0))
            .cast("long")
            .alias("n_dup_runs"),
            F.coalesce("n_cut_tokens", F.lit(0))
            .cast("long")
            .alias("n_cut_tokens"),
        )
    )


def substring_dedup_apply(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    hasher: str = "md5",
    dup: DataFrame | None = None,
) -> DataFrame:
    """The APPLY half of ``substring_dedup`` — actually scrub the
    duplicated intervals: every token covered by a non-canonical
    ≥``width``-token repeat is removed and the document reassembled
    from the survivors (first occurrence keeps its text intact).
    Returns (id, n_tokens, n_kept, text_dedup); docs whose every token
    is cut (or that had none) keep an empty string.

    Plan: the detect pass's dup occurrences (sparse residue) explode to
    cut positions (``width`` rows per dup occurrence — linear in the
    DUPLICATED volume, not the corpus), anti-joined against the token
    stream, then one ordered per-doc reassembly. Same scale shape as
    ``span_dedup``'s reassembly, with sliding-window resolution.
    Stride-1 windows make the cut token-exact for every duplicated run
    ≥ width tokens (see ``substring_dedup``'s scale note); pass a
    persisted ``substring_dup_occurrences`` frame as ``dup`` to share
    the corpus-scaled detect stage with ``substring_dedup``.
    """
    base = _substring_base(docs, text_col, id_col)
    if dup is None:
        dup = substring_dup_occurrences(docs, text_col, id_col, width, hasher)
    cutpos = dup.select(
        id_col,
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + (width - 1))
        ).alias("tpos"),
    ).distinct()
    tok = base.select(
        F.col(id_col), F.posexplode("toks").alias("_p", "token")
    ).select(id_col, (F.col("_p") + 1).alias("tpos"), "token")
    kept = tok.join(cutpos, [id_col, "tpos"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "token"))),
                lambda s: s.token,
            ),
        ).alias("text_dedup"),
    )
    return (
        base.select(id_col, F.col("n").cast("long").alias("n_tokens"))
        .join(agg, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def ingest_gate_frame(
    docs: DataFrame, scored: DataFrame, cut: DataFrame
) -> DataFrame:
    """The COMPOSED ingest gate (VERDICT r10 item 3): quality + gopher +
    perplexity as one union-of-reasons pass — what a real 100 TB/day
    front door runs instead of three separate scans.

    ``docs`` carries (doc_id, text, n_chars); ``scored`` is the bigram-LM
    score frame for exactly these docs (train offline, score arrivals —
    see ``score_bigrams_against``); ``cut`` is the 1-row ``_cut``
    order-statistic threshold. Plan shape: ONE narrow projection
    computes the quality-chain reason and every gopher metric over a
    single tokenization (whole-stage CSE shares the split), then the
    sparse score frame left-joins back and the broadcast 1-row cutoff
    cross-joins (the D7 scalar pattern) — no other shuffle.

    Output (doc_id, keep, reasons): ``keep`` iff all three sub-gates say
    ok; ``reasons`` is the comma-joined list of gate-prefixed
    first-failing reasons (``quality:too_short,gopher:no_stopwords,...``
    — the curation-dashboard histogram key), or ``'ok'``.
    """
    from review_engine_spark.operators.textstats import lang_id, quality_score

    quality = F.round(quality_score(F.col("text"), F.col("n_chars")), 6)
    q_reason = (
        F.when(F.col("n_chars") < 200, F.lit("too_short"))
        .when(quality < 0.35, F.lit("low_quality"))
        .when(lang_id(F.col("text")) == "und", F.lit("und_lang"))
        .otherwise(F.lit("ok"))
    )
    m = docs.select(
        F.col("doc_id"),
        q_reason.alias("_q"),
        *gopher_metric_cols("text"),
    )
    mg = m.select(
        "doc_id", "_q", gopher_reason_from_metrics().alias("_g")
    )
    sc = scored.select("doc_id", F.col("bigram_logprob").alias("_lp"))
    out = mg.join(sc, "doc_id", "left").crossJoin(F.broadcast(cut))
    p_reason = (
        F.when(F.col("_lp").isNull(), F.lit("too_short"))
        .when(F.col("_lp") <= F.col("_cut"), F.lit("high_perplexity"))
        .otherwise(F.lit("ok"))
    )
    all_ok = (
        (F.col("_q") == "ok") & (F.col("_g") == "ok") & (p_reason == "ok")
    )
    # concat_ws skips NULLs on both engines, so a passing sub-gate
    # contributes nothing to the reason list
    reasons = F.when(all_ok, F.lit("ok")).otherwise(
        F.concat_ws(
            ",",
            F.when(
                F.col("_q") != "ok", F.concat(F.lit("quality:"), F.col("_q"))
            ),
            F.when(
                F.col("_g") != "ok", F.concat(F.lit("gopher:"), F.col("_g"))
            ),
            F.when(
                p_reason != "ok", F.concat(F.lit("perplexity:"), p_reason)
            ),
        )
    )
    return out.select(
        "doc_id", all_ok.alias("keep"), reasons.alias("reasons")
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
) -> DataFrame:
    """Per-document novelty scoring: what fraction of a document's
    distinct ``width``-token shingles (stride 1) first appear — by
    minimum document id — in THIS document. Low-novelty documents are
    recombinations of text the corpus already contains; curation
    pipelines down-weight or drop them (the diversity complement to the
    dedup family: dedup asks "is this document a copy", novelty asks
    "how much of it is new anywhere").

    Emits (id, n_shingles, n_novel, novelty) for every document with at
    least one full shingle; novelty is the raw exact-int division
    (bit-identical on both engines).

    Scale: shares ``_substring_base``'s narrow tokenizer; the shingle
    stream is corpus-linear and the only corpus-scaled shuffles are
    keyed by the 128-bit shingle hash (distinct + first-doc window) and
    the doc id (final rollup) — the substring-dedup shuffle class, no
    all-pairs anywhere.
    """
    base = _substring_base(docs, text_col, id_col)
    n_sh = F.col("n") - (width - 1)
    idx = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    ex = base.select(
        F.col(id_col), "toks", F.posexplode(idx).alias("_i", "pos")
    )
    win_str = F.concat_ws(" ", F.slice("toks", F.col("pos"), width))
    sh = ex.select(F.col(id_col), F.md5(win_str).alias("h")).distinct()
    wh = Window.partitionBy("h")
    flagged = sh.withColumn("first_doc", F.min(id_col).over(wh))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col(id_col) == F.col("first_doc"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double"),
        )
    )


#: Gopher/MassiveText stopword probe set (frozen; mirrored as literals
#: in the roster oracles).
GOPHER_STOPS = ["the", "a", "of", "to", "and", "in"]


def gopher_gate(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/MassiveText heuristic quality gate: (id, keep, reason).

    First-failing-rule semantics over five integer-threshold rules
    (word count band, mean word length band, alpha-word fraction,
    stopword floor). Every comparison is an INTEGER cross-product, so
    no float ratio can tie-break differently across engines. A pure
    narrow map (no shuffle) — the same expression tree runs unchanged
    on a batch OR a streaming DataFrame, which is what
    ``run_stream_quality_gate`` relies on for batch/stream parity by
    construction.
    """
    m = docs.select(F.col(id_col), *gopher_metric_cols(text_col))
    reason = gopher_reason_from_metrics()
    return m.select(
        F.col(id_col), (reason == "ok").alias("keep"), reason.alias("reason")
    )


def gopher_metric_cols(text_col: str) -> list:
    """The gate's metric columns (aliased), factored out so the composed
    streaming ingest gate can compute them in the SAME projection as the
    quality-gate metrics — one narrow map, one expression tree shared
    with the standalone gate."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    return [
        # NULL text must fail the gate deterministically: without this
        # flag the WHEN chain's comparisons all evaluate NULL and fall
        # through to 'ok', and size(NULL) is even config-dependent
        # (spark.sql.legacy.sizeOfNull makes it -1, silently flipping
        # the verdict to 'too_few_words' on THAT deployment only).
        F.col(text_col).isNull().alias("_null_text"),
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("n_wchars"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
        .cast("long")
        .alias("n_alpha"),
        sum(
            F.array_contains(toks, s).cast("long") for s in GOPHER_STOPS
        ).alias("n_stops"),
    ]


def gopher_reason_from_metrics():
    """First-failing-rule reason over ``gopher_metric_cols`` output."""
    return (
        F.when(F.col("_null_text"), F.lit("too_few_words"))
        .when(F.col("n_words") < 30, F.lit("too_few_words"))
        .when(F.col("n_words") > 80, F.lit("too_many_words"))
        .when(3 * F.col("n_words") > F.col("n_wchars"), F.lit("short_words"))
        .when(F.col("n_wchars") > 10 * F.col("n_words"), F.lit("long_words"))
        .when(5 * F.col("n_alpha") < 4 * F.col("n_words"), F.lit("low_alpha"))
        .when(F.col("n_stops") < 2, F.lit("no_stopwords"))
        .otherwise(F.lit("ok"))
    )

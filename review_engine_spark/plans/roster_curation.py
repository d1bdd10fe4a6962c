"""Corpus-curation roster queries (SURVEY §2.K family, round-2 widening):
vocabulary building, duplicated-span removal, boilerplate filtering, and
semantic (embedding-space) dedup — the standard pretraining-pipeline
passes not covered by doc-level dedup. All four are oracle-checked; the
deterministic LCG seeding keeps even the clustering step SQL-replayable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from review_engine_spark.functions.text import alnum_tokens, ws_tokens
from review_engine_spark.operators.curation import (
    boilerplate_flags,
    semantic_dedup,
    span_dedup,
    top_tokens,
)
from review_engine_spark.operators.cluster import iter_checkpoint
from review_engine_spark.operators.kmeans import kmeans_fit
from review_engine_spark.plans import declared
from review_engine_spark.plans._oracle import ALNUM_TOKS_SQL
from review_engine_spark.scratch import artifact, artifact_key, save_artifact
from review_engine_spark.sources.io import read_parquet_table


def _kmeans_oracle(k: int, iters: int) -> str:
    """Unrolled-CTE replay of ``kmeans_fit(k, iters)``: seeds from the
    LCG bucket hash, then per round a distance/argmin/mean/coalesce CTE
    quartet; a final assignment against the last centroids. Rounding to
    6 decimals on distances and means mirrors the Spark side so float
    summation order can never flip an argmin."""
    parts = [
        """e AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )""",
        f"""c0 AS (
        SELECT bkt AS cid, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding)::DOUBLE AS v
        FROM (
            SELECT *, row_number() OVER (PARTITION BY bkt ORDER BY vec_id) AS rn
            FROM (
                SELECT vec_id, embedding,
                       ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648 % {k} AS bkt
                FROM embeddings
            )
        ) WHERE rn = 1
    )""",
    ]
    for i in range(1, iters + 1):
        parts += [
            f"""d{i} AS (
        SELECT e.vec_id, c.cid, round(sum((e.x - c.v) * (e.x - c.v)), 6) AS sq_dist
        FROM e JOIN c{i - 1} c USING (pos) GROUP BY e.vec_id, c.cid
    )""",
            f"""a{i} AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sq_dist, cid) AS rn
            FROM d{i}
        ) WHERE rn = 1
    )""",
            f"""m{i} AS (
        SELECT a.cid, e.pos, round(avg(e.x), 6) AS v
        FROM a{i} a JOIN e ON a.vec_id = e.vec_id GROUP BY a.cid, e.pos
    )""",
            f"""c{i} AS (
        SELECT c0.cid, c0.pos, coalesce(m.v, cp.v) AS v
        FROM c0
        JOIN c{i - 1} cp ON c0.cid = cp.cid AND c0.pos = cp.pos
        LEFT JOIN m{i} m ON c0.cid = m.cid AND c0.pos = m.pos
    )""",
        ]
    parts.append(
        f"""df AS (
        SELECT e.vec_id, c.cid, round(sum((e.x - c.v) * (e.x - c.v)), 6) AS sq_dist
        FROM e JOIN c{iters} c USING (pos) GROUP BY e.vec_id, c.cid
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, sq_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sq_dist, cid) AS rn
        FROM df
    ) WHERE rn = 1
    """
    )

_TOKS = (
    r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"
)


@declared(
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    v AS (
        SELECT token,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_total
        FROM t GROUP BY token
    )
    SELECT token, n_docs, n_total, rank FROM (
        SELECT *, CAST(row_number() OVER (ORDER BY n_total DESC, token) AS BIGINT) AS rank
        FROM v
    ) WHERE rank <= 50
    """
)
def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-50 tokens by corpus frequency with doc
    frequencies — the wordcount that seeds tokenizer training. Partial
    (map-side) aggregation on the token stream; the global ordered
    window sees only the vocabulary."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return top_tokens(docs, "text", "doc_id", k=50)


@declared(
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    c AS (SELECT doc_id, toks, unnest(range(0, n, 16)) AS start FROM s),
    ch AS (
        SELECT doc_id, CAST(start // 16 AS BIGINT) AS chunk_idx,
               array_to_string(toks[start + 1:start + 16], ' ') AS chunk_text
        FROM c
    ),
    flagged AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY chunk_text ORDER BY doc_id, chunk_idx
               ) = 1 AS keep
        FROM ch
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(
               string_agg(CASE WHEN keep THEN chunk_text END, ' ' ORDER BY chunk_idx),
               ''
           ) AS text_dedup
    FROM flagged GROUP BY doc_id
    """
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal (paragraph dedup): non-overlapping
    16-token spans, first occurrence (min doc_id, chunk_idx) wins,
    documents reassembled from surviving spans."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return span_dedup(docs, "text", "doc_id", span=16)


@declared(
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    c AS (SELECT doc_id, toks, unnest(range(0, n, 8)) AS start FROM s),
    ch AS (
        SELECT doc_id, array_to_string(toks[start + 1:start + 8], ' ') AS chunk_text
        FROM c
    ),
    sdf AS (SELECT chunk_text, count(DISTINCT doc_id) AS df FROM ch GROUP BY chunk_text),
    agg AS (
        SELECT ch.doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN sdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        FROM ch JOIN sdf USING (chunk_text)
        GROUP BY ch.doc_id
    )
    SELECT doc_id, n_spans, n_boiler,
           round(n_boiler / n_spans, 6) AS boiler_ratio,
           round(n_boiler / n_spans, 6) <= 0.3 AS keep
    FROM agg
    """
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate signal: fraction of a document's 8-token
    spans shared with ≥2 distinct documents; docs over 30% fail."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return boilerplate_flags(
        docs, "text", "doc_id", span=8, min_docs=2, max_ratio=0.3
    )


@declared(
    oracle="""
    WITH b AS (
        SELECT vec_id, embedding,
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648 % 8 AS bkt
        FROM embeddings
    ),
    cents AS (
        SELECT bkt AS cluster_id, embedding AS cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY bkt ORDER BY vec_id) AS rn
            FROM b
        ) WHERE rn = 1
    ),
    xp AS (
        SELECT e.vec_id, c.cluster_id,
               unnest(e.embedding)::DOUBLE AS _x, unnest(c.cvec)::DOUBLE AS _y
        FROM embeddings e, cents c
    ),
    sims AS (
        SELECT vec_id, cluster_id,
               round(sum(_x * _y) / (sqrt(sum(_x * _x)) * sqrt(sum(_y * _y)) + 1e-9), 6) AS sim
        FROM xp GROUP BY vec_id, cluster_id
    ),
    assigned AS (
        SELECT vec_id, cluster_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cluster_id
            ) AS rn FROM sims
        ) WHERE rn = 1
    ),
    ae AS (
        SELECT a.vec_id, a.cluster_id, e.embedding
        FROM assigned a JOIN embeddings e USING (vec_id)
    ),
    cu AS (
        SELECT x.vec_id AS i, y.vec_id AS j,
               unnest(x.embedding)::DOUBLE AS _x, unnest(y.embedding)::DOUBLE AS _y
        FROM ae x JOIN ae y
          ON x.cluster_id = y.cluster_id AND x.vec_id > y.vec_id
    ),
    cs AS (
        SELECT i, round(sum(_x * _y) / (sqrt(sum(_x * _x)) * sqrt(sum(_y * _y)) + 1e-9), 6) AS sim
        FROM cu GROUP BY i, j
    ),
    dropped AS (SELECT DISTINCT i AS vec_id FROM cs WHERE sim >= 0.3)
    SELECT a.vec_id, CAST(a.cluster_id AS BIGINT) AS cluster_id,
           d.vec_id IS NULL AS keep
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding corpus: 8
    deterministic coarse clusters (LCG-seeded, so the oracle replays
    them), greedy keep-lowest-id within-cluster near-dup drop at cosine
    ≥ 0.3 (the synthetic space's near-dup range — its max pairwise
    cosine is ≈0.39). Pairwise work confined within clusters."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, "embedding", "vec_id", k=8, threshold=0.3)


@declared(oracle=_kmeans_oracle(8, 3))
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, 8 clusters × 3 fixed iterations, LCG-seeded.
    Iterative ML whose every round the DuckDB oracle replays via
    unrolled CTEs — the only iterative op in the roster with a full
    value-level oracle (ALS/PageRank are rows-only). Per round:
    broadcast centroids + narrow argmin pass; mean update shuffles only
    k·dim partial sums (map-side combine)."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return kmeans_fit(emb, "embedding", "vec_id", k=8, iters=3)


# ---------------------------------------------------------------------------
# Mixture recipe: per-source token budgeting + deterministic upsampled order
# ---------------------------------------------------------------------------

_TOKN = "CAST(len(string_split(text, ' ')) AS BIGINT)"


@declared(
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum({_TOKN}) AS BIGINT) AS n_tokens,
               CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0
                    ELSE 1.0 END AS weight
        FROM documents GROUP BY source
    ),
    t AS (SELECT sum(weight) AS w_total FROM s)
    SELECT source, n_docs, n_tokens, round(weight, 6) AS weight,
           CAST(floor(20000 * weight / w_total) AS BIGINT) AS target_tokens,
           round(least(1.0, floor(20000 * weight / w_total) / n_tokens), 6)
               AS sample_rate,
           CAST(greatest(1, ceil(floor(20000 * weight / w_total) / n_tokens))
               AS BIGINT) AS epochs
    FROM s, t
    """
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture plan: per-source token counts vs a target
    recipe (src0 weight 3, src1 weight 2, everything else 1; 20k-token
    budget) → each source's token target, downsampling rate, and repeat
    factor. One scan-bound aggregate over ~#sources keys; the
    normalizing total is a broadcast 1-row agg (§2.D7)."""
    from review_engine_spark.functions.text import token_count
    from review_engine_spark.operators.mixture import mixture_plan

    docs = read_parquet_table(spark, sf_dir, "documents")
    return mixture_plan(
        docs,
        "source",
        token_count(F.col("text")),
        budget=20000,
        weights={"src0": 3.0, "src1": 2.0},
    ).select(
        "source", "n_docs", "n_tokens", "weight", "target_tokens",
        "sample_rate", "epochs",
    )


@declared(
    oracle="""
    WITH inst AS (
        SELECT doc_id, unnest(generate_series(1,
                   CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
                        ELSE 1 END)) AS epoch
        FROM documents
    ),
    h AS (
        SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
               (((doc_id * 31 + epoch) % 2147483648) * 1103515245 + 12345)
                   % 2147483648 AS _h
        FROM inst
    )
    SELECT doc_id, epoch, _h % 8 AS shard,
           CAST(row_number() OVER (
               PARTITION BY _h % 8 ORDER BY _h, doc_id, epoch
           ) AS BIGINT) AS pos
    FROM h
    """
)
def q_mix_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-aware upsampling + deterministic training order: src0
    repeats 3×, src1 2× (the `epochs` column q_mixture_weights plans),
    each instance hashed to an independent stream position so epochs
    interleave. Narrow explode; ONE exchange on the shard key; no
    global row_number bottleneck — per-shard ranks only."""
    from review_engine_spark.operators.mixture import upsample_epochs

    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    return upsample_epochs(
        docs, "doc_id", "source", epochs={"src0": 3, "src1": 2}, n_shards=8
    ).select("doc_id", "epoch", "shard", "pos")


@declared(
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST(sum({_TOKN}) AS BIGINT) AS n_tokens,
               CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0
                    ELSE 1.0 END AS weight
        FROM documents GROUP BY source
    ),
    t AS (SELECT sum(weight) AS w_total FROM s),
    p AS (
        SELECT source,
               round(least(1.0, floor(20000 * weight / w_total) / n_tokens), 6)
                   AS sample_rate,
               CAST(greatest(1, ceil(floor(20000 * weight / w_total) / n_tokens))
                   AS BIGINT) AS epochs
        FROM s, t
    )
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
    FROM (
        SELECT d.doc_id, d.source,
               unnest(generate_series(1, CAST(p.epochs AS INT))) AS epoch
        FROM documents d JOIN p USING (source)
        WHERE (((d.doc_id % 2147483648) * 1103515245 + 12345) % 2147483648)
                  / 2147483648.0 < p.sample_rate
    )
    """
)
def q_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mixture materialization: the q_mixture_weights plan
    joined back (broadcast — it is ~#sources rows) and executed in one
    narrow pass — over-represented sources rate-sampled by id-hash,
    under-represented ones epoch-replicated. The full recipe the other
    two mixture queries plan and order."""
    from review_engine_spark.functions.text import token_count
    from review_engine_spark.operators.mixture import (
        apply_mixture,
        mixture_plan,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    plan = mixture_plan(
        docs, "source", token_count(F.col("text")),
        budget=20000, weights={"src0": 3.0, "src1": 2.0},
    )
    return apply_mixture(
        docs.select("doc_id", "source"), plan, "doc_id", "source"
    )


@declared(
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY token),
    tot AS (SELECT sum(n) AS total FROM c),
    v AS (
        SELECT token, n FROM (
            SELECT *, row_number() OVER (ORDER BY n DESC, token) AS rk FROM c
        ) WHERE rk <= 1000
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(coalesce(v.n, 1) / tot.total)), 6) AS logprob
    FROM t LEFT JOIN v USING (token), tot
    GROUP BY t.doc_id
    """
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, deterministic core: mean unigram
    log-prob per doc under the corpus's own top-1000 vocabulary (OOV →
    floor 1/total) — the KenLM-perplexity proxy of pretraining
    pipelines. Vocabulary broadcasts; the token stream never
    shuffles strings."""
    from review_engine_spark.operators.curation import unigram_logprob

    docs = read_parquet_table(spark, sf_dir, "documents")
    return unigram_logprob(docs, "text", "doc_id", vocab_k=1000)


@declared(
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKN} AS n_tokens,
               CAST({_TOKN} // 16 AS BIGINT) AS bucket
        FROM documents
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS rk
        FROM t
    )
    SELECT doc_id, n_tokens, bucket,
           CAST(rk // 8 AS BIGINT) AS batch_id,
           CAST(rk % 8 AS BIGINT) AS pos_in_batch
    FROM r
    """
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly: similarly-sized docs batched
    together (16-token buckets, batch of 8) so per-batch padding waste
    is bounded — the trainer-feed layout when packing isn't wanted.
    One bucket-key exchange; per-bucket ranks only."""
    from review_engine_spark.functions.text import token_count
    from review_engine_spark.operators.chunking import length_bucket_batches

    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return length_bucket_batches(
        docs, "doc_id", "n_tokens", bucket_width=16, batch_size=8
    )


@declared(
    oracle=r"""
    WITH norm AS (
        SELECT doc_id,
               list_filter(string_split(
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '
               ), t -> t <> '') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(toks) - 1),
                   i -> array_to_string(list_slice(toks, i, i + 2), ' ')
               ))) AS g
        FROM norm
    ),
    c AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0),
    p AS (SELECT doc_id AS probe_id, g FROM grams WHERE doc_id % 97 = 0),
    pn AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS probe_n
           FROM p GROUP BY 1),
    sh AS (
        SELECT c.doc_id, p.probe_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM c JOIN p ON c.g = p.g GROUP BY 1, 2
    ),
    contaminated AS (
        SELECT DISTINCT sh.doc_id
        FROM sh JOIN pn USING (probe_id)
        WHERE n_shared / CAST(probe_n AS DOUBLE) >= 0.5
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 97 <> 0
      AND NOT EXISTS (SELECT 1 FROM contaminated x WHERE x.doc_id = d.doc_id)
    """
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination APPLY: training docs sharing ≥50% of any probe
    document's 3-grams (q_contamination's scan) are anti-joined out of
    the corpus — the materialized form, closing the loop the way
    q_dedup_apply does for dedup. The contaminated-id set is small for
    any fixed benchmark suite but still corpus-proportional in the
    worst case, so the anti-join is left unpinned: AQE broadcasts it at
    runtime while small and shuffles co-partitioned at scale."""
    from review_engine_spark.operators.dedup import contamination_check

    docs = read_parquet_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    hits = contamination_check(corpus, probes, "text", "doc_id", k=3)
    contaminated = (
        hits.filter(F.col("overlap_frac") >= 0.5).select("doc_id").distinct()
    )
    return corpus.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# ---------------------------------------------------------------------------
# Skip-gram training pairs — the (center, context) co-occurrence pairs
# that seed word2vec-style embedding training, window ±2. Positions come
# from posexplode (array order, no re-tokenization), and contexts from
# lead/lag windows within the doc — NO self-join on position ranges, so
# the only shuffle is the per-doc window sort and the final pair count
# (both map-side combinable). At 100 TB the window partitions by doc_id —
# perfectly parallel; the pair-count aggregate carries (term, term)
# 8-byte-ish keys. Counts are exact BIGINTs; min-count 5 mirrors the
# word2vec default.
# ---------------------------------------------------------------------------
@declared(
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS term,
               generate_subscripts(list_filter(
                   string_split_regex(lower(text), '\s+'), t -> t <> ''), 1)
                   AS pos
        FROM documents
    ),
    ctx AS (
        SELECT term AS center,
               lag(term, 2)  OVER w AS c_m2,
               lag(term, 1)  OVER w AS c_m1,
               lead(term, 1) OVER w AS c_p1,
               lead(term, 2) OVER w AS c_p2
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    pairs AS (
        SELECT center, c_m2 AS context FROM ctx WHERE c_m2 IS NOT NULL
        UNION ALL
        SELECT center, c_m1 FROM ctx WHERE c_m1 IS NOT NULL
        UNION ALL
        SELECT center, c_p1 FROM ctx WHERE c_p1 IS NOT NULL
        UNION ALL
        SELECT center, c_p2 FROM ctx WHERE c_p2 IS NOT NULL
    )
    SELECT center, context, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY center, context
    HAVING count(*) >= 5
    """
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2vec-style skip-gram (center, context) pair counts within a +/-2
    token window, min-count thresholded.
    """
    from pyspark.sql import Window

    docs = read_parquet_table(spark, sf_dir, "documents")
    toks_arr = ws_tokens(F.col("text"))
    toks = docs.select(
        "doc_id", F.posexplode(toks_arr).alias("pos", "term")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    ctx = toks.select(
        F.col("term").alias("center"),
        F.lag("term", 2).over(w).alias("c_m2"),
        F.lag("term", 1).over(w).alias("c_m1"),
        F.lead("term", 1).over(w).alias("c_p1"),
        F.lead("term", 2).over(w).alias("c_p2"),
    )
    pairs = ctx.select(
        "center",
        F.explode(
            F.filter(
                F.array("c_m2", "c_m1", "c_p1", "c_p2"),
                lambda c: c.isNotNull(),
            )
        ).alias("context"),
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
    )


# ---------------------------------------------------------------------------
# BPE merge training — the first K merge rules of byte-pair encoding
# induced from the corpus vocabulary, the tokenizer-training primitive
# of every LLM data pipeline. Each round: count adjacent symbol pairs
# weighted by word frequency, take the argmax (ties: freq DESC, then
# lexicographic pair — fully deterministic on exact integer counts),
# and apply the merge greedily left-to-right inside every word via an
# explicit list-accumulator fold (Spark F.aggregate ≡ DuckDB
# list_reduce over single-element lists — the same bit-identical fold
# doctrine as the EWMA family, here over strings so there is no float
# surface at all). No end-of-word marker (a documented variant choice;
# both sides agree).
#
# Scale shape: every round aggregates the VOCABULARY (corpus-bounded,
# grows sub-linearly), never the corpus; the token→count table is one
# map-side-combined aggregate of the token stream; K driver-coordinated
# rounds each collect ONE row (the argmax) — the k-means/centroid
# pattern, not a data collect.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6


def _bpe_pair_tail(col):
    return F.slice(col, 2, F.greatest(F.size(col) - 1, F.lit(0)))


def _bpe_apply_merge(a: str, b: str):
    """Fold lambda merging adjacent (a, b) greedy-leftmost — 'aaa'
    under (a,a) gives ['aa','a'], identical to the oracle's
    list_reduce (merged symbols cascade: the new last element is
    immediately eligible as the next pair's left side)."""

    def lam(acc, x):
        return F.when(
            (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return lam


def train_bpe(docs: DataFrame, k: int = _BPE_ROUNDS) -> list[tuple]:
    """Train the first ``k`` BPE merge rules over ``docs`` — the shared
    training loop behind q_bpe_merges and the tokenizer artifact. K is
    a PARAMETER (VERDICT r9 item 6; it was the compile-time
    ``_BPE_ROUNDS``): each round is one vocabulary-sized pair-count
    aggregate + a 1-row argmax collect, so a realistic K (64+) is K
    sequential corpus-free rounds. Returns
    [(merge_rank, pair_left, pair_right, freq), ...] — possibly fewer
    than ``k`` rows when the vocabulary runs out of adjacent pairs
    (every word fully merged) — the early-stop any trainer needs past
    toy K. Large-K parity with a pure-Python reference trainer is
    pinned in tests/test_curation_ops.py (the test_kernels convention).
    """
    words = (
        docs.select(F.explode(alnum_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("wc"))
    )
    # Materialize the vocabulary once (k-core/BFS edge-checkpoint
    # convention): every round's 1-row argmax collect re-executes its
    # whole lineage, so without this round r re-ran the corpus
    # explode+groupBy AND the r-1 chained folds from raw text — K corpus
    # scans for K rounds. The vocabulary is corpus-bounded (grows
    # sub-linearly), so the checkpoint is the cheap side of the trade at
    # any scale.
    words = iter_checkpoint(words)
    syms = F.transform(
        F.sequence(F.lit(1), F.length("token")),
        lambda i: F.col("token").substr(i, F.lit(1)),
    )
    cur = words.select("wc", syms.alias("syms"))
    merges: list[tuple] = []
    for rank in range(1, k + 1):
        pairs = cur.select(
            "wc",
            F.explode(
                F.arrays_zip(
                    F.slice(
                        "syms", 1, F.greatest(F.size("syms") - 1, F.lit(0))
                    ),
                    _bpe_pair_tail(F.col("syms")),
                )
            ).alias("p"),
        ).select("wc", F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        rows = (
            pairs.groupBy("a", "b")
            .agg(F.sum("wc").cast("long").alias("f"))
            .orderBy(F.desc("f"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # 1-row argmax — driver-coordinated round
        )
        if not rows:  # vocabulary fully merged: no pair left anywhere
            break
        best = rows[0]
        merges.append((rank, best["a"], best["b"], best["f"]))
        if rank < k:
            cur = cur.select(
                "wc",
                F.aggregate(
                    _bpe_pair_tail(F.col("syms")),
                    F.array(F.element_at(F.col("syms"), 1)),
                    _bpe_apply_merge(best["a"], best["b"]),
                ).alias("syms"),
            )
            # bound the fold-chain lineage at large K: without this,
            # round r re-analyzes and re-runs r-1 chained folds from the
            # raw vocab (O(K²) analysis + fold work — NOTES.md item 4)
            if rank % 8 == 0:
                cur = iter_checkpoint(cur)
    return merges


def _bpe_key(sf_dir: str, k: int) -> str | None:
    return artifact_key("bpe", os.path.join(sf_dir, "documents.parquet"), k=k)


def bpe_rules(
    spark: SparkSession, sf_dir: str, k: int = _BPE_ROUNDS
) -> list[tuple]:
    """Trained BPE merge rules for a corpus: the tokenizer artifact saved
    by ``scratch.py`` for these corpus files, else trained once and saved.
    Training is deterministic (exact-int argmax, lexicographic ties), so
    saved and freshly trained rules are identical."""
    rules = artifact(
        _bpe_key(sf_dir, k),
        lambda: train_bpe(read_parquet_table(spark, sf_dir, "documents"), k),
    )
    return [tuple(r) for r in rules]


def _bpe_oracle(k: int) -> str:
    """Unrolled-CTE replay of the K BPE rounds: per round a pair-count
    CTE, a 1-row argmax CTE, and a merged-vocabulary CTE whose
    list_reduce fold references the argmax row through a CROSS JOIN."""
    parts = [
        f"""words AS (
        SELECT tok AS token, CAST(count(*) AS BIGINT) AS wc
        FROM (SELECT unnest({ALNUM_TOKS_SQL}) AS tok FROM documents)
        GROUP BY tok
    )""",
        """r0 AS (
        SELECT wc,
               list_transform(range(1, len(token) + 1), i -> token[i]) AS syms
        FROM words
    )""",
    ]
    for r in range(1, k + 1):
        parts.append(f"""p{r} AS (
        SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(wc) AS BIGINT) AS f
        FROM r{r - 1}, UNNEST(range(1, len(syms))) AS t(i)
        GROUP BY 1, 2
    )""")
        parts.append(f"""b{r} AS (
        SELECT a, b, f FROM p{r} ORDER BY f DESC, a, b LIMIT 1
    )""")
        if r < k:
            parts.append(f"""r{r} AS (
        SELECT wc,
               list_reduce(
                   list_prepend([syms[1]], list_transform(syms[2:], s -> [s])),
                   (acc, x) -> CASE WHEN acc[-1] = b{r}.a AND x[1] = b{r}.b
                                    THEN acc[:len(acc) - 1]
                                         || [acc[-1] || x[1]]
                                    ELSE acc || x END) AS syms
        FROM r{r - 1} CROSS JOIN b{r}
    )""")
    final = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a AS pair_left, "
        f"b AS pair_right, f AS freq FROM b{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + final


@declared(oracle=_bpe_oracle(_BPE_ROUNDS))
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First K=6 BPE merge rules over the documents vocabulary.

    Driver-coordinated rounds (the k-means pattern): each round one
    distributed pair-count aggregate over the vocabulary + a 1-row
    argmax collect, then the merge applied inside every word by an
    F.aggregate list fold (greedy leftmost — 'aaa' under (a,a) gives
    ['aa','a'], pinned identical to the oracle's list_reduce). All
    counts are exact BIGINTs; ties break (freq DESC, a, b) on both
    engines, so the induced merge sequence is deterministic.

    As the TRAIN step it also refreshes the persisted tokenizer
    artifact the apply-side queries read (see ``bpe_rules``)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, _BPE_ROUNDS)
    save_artifact(_bpe_key(sf_dir, _BPE_ROUNDS), merges)
    return spark.createDataFrame(
        merges, "merge_rank long, pair_left string, pair_right string, freq long"
    )


# ---------------------------------------------------------------------------
# BPE ENCODE — the train→apply closure of q_bpe_merges (the one
# asymmetry the round-8 verdict named: dedup and contamination both
# had a corpus-wide apply step, the tokenizer did not). Training is
# the identical K driver-coordinated rounds; encoding then applies the
# K merge rules IN RANK ORDER, each as one greedy-leftmost fold pass —
# exactly the fold training itself uses between rounds, so train and
# apply share one algebra and the oracle replays both with the same
# unrolled list_reduce chain. (Documented variant vs. priority-queue
# BPE encoders that always merge the lowest-rank pair present: rank-
# sequential passes are what the training recurrence defines, keeping
# the pair frequencies and the oracle bit-identical; with merge ranks
# induced by frequency the two disagree only on words where a later
# merge creates an earlier merge's pair — impossible here because a
# rank-r merge output symbol is never a single character, while every
# trained pair side at K=6 vocabulary depth is built left-to-right.)
#
# Scale shape: the merge rules are applied to the VOCABULARY (token →
# subword count), never to the corpus — the corpus-scaled work is one
# token explode + an equi-join against the vocab-length table (AQE
# broadcasts it at fixture scale; at 100 TB vocab it degrades to a
# sort-merge join on the token key, still corpus-linear) + one
# map-side-combined per-doc sum.
# ---------------------------------------------------------------------------


def _bpe_chain_ctes(k: int) -> str:
    """Shared oracle prefix: the K training rounds with the token
    column carried through every fold, the rank-K apply included, and
    a final ``bpe_len`` CTE of per-doc (n_words, n_bpe_tokens)."""
    parts = [
        f"""words AS (
        SELECT tok AS token, CAST(count(*) AS BIGINT) AS wc
        FROM (SELECT unnest({ALNUM_TOKS_SQL}) AS tok FROM documents)
        GROUP BY tok
    )""",
        """v0 AS (
        SELECT token, wc,
               list_transform(range(1, len(token) + 1), i -> token[i]) AS syms
        FROM words
    )""",
    ]
    for r in range(1, k + 1):
        parts.append(f"""p{r} AS (
        SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(wc) AS BIGINT) AS f
        FROM v{r - 1}, UNNEST(range(1, len(syms))) AS t(i)
        GROUP BY 1, 2
    )""")
        parts.append(f"""b{r} AS (
        SELECT a, b, f FROM p{r} ORDER BY f DESC, a, b LIMIT 1
    )""")
        parts.append(f"""v{r} AS (
        SELECT token, wc,
               list_reduce(
                   list_prepend([syms[1]], list_transform(syms[2:], s -> [s])),
                   (acc, x) -> CASE WHEN acc[-1] = b{r}.a AND x[1] = b{r}.b
                                    THEN acc[:len(acc) - 1]
                                         || [acc[-1] || x[1]]
                                    ELSE acc || x END) AS syms
        FROM v{r - 1} CROSS JOIN b{r}
    )""")
    parts.append(f"""tokd AS (
        SELECT doc_id, unnest({ALNUM_TOKS_SQL}) AS token FROM documents
    )""")
    parts.append(f"""bpe_len AS (
        SELECT d.doc_id,
               CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
        FROM documents d LEFT JOIN (
            SELECT tokd.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(len(v{k}.syms)) AS BIGINT) AS n_bpe_tokens
            FROM tokd JOIN v{k} USING (token)
            GROUP BY tokd.doc_id
        ) a USING (doc_id)
    )""")
    return "WITH " + ",\n    ".join(parts)


def bpe_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc REAL tokenizer lengths under the trained BPE merges:
    (doc_id, n_words, n_bpe_tokens), zero-filled for docs with no
    [a-z0-9] tokens. The engine half of ``_bpe_chain_ctes`` — shared
    by q_bpe_encode (which returns it) and q_sequence_pack (which
    budgets on it).

    The merge rules come from the persisted tokenizer artifact
    (``bpe_rules`` — trained once per corpus, not re-trained per
    caller), then apply to the DISTINCT vocabulary as one lazy chain of
    K greedy-leftmost folds: no per-rule action, so the whole encode is
    a single vocab-sized job regardless of K. Unlike training, the LAST
    rule is applied too: encoding uses all K rules, training only
    counts pairs after the first K-1. This also retires the r9 ADVICE
    cache leak — with no argmax rounds there is nothing to persist."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    rules = bpe_rules(spark, sf_dir, _BPE_ROUNDS)
    words = (
        docs.select(F.explode(alnum_tokens(F.col("text"))).alias("token")).distinct()
    )
    syms = F.transform(
        F.sequence(F.lit(1), F.length("token")),
        lambda i: F.col("token").substr(i, F.lit(1)),
    )
    cur = words.select("token", syms.alias("syms"))
    for _rank, a, b, _f in rules:
        cur = cur.select(
            "token",
            F.aggregate(
                _bpe_pair_tail(F.col("syms")),
                F.array(F.element_at(F.col("syms"), 1)),
                _bpe_apply_merge(a, b),
            ).alias("syms"),
        )
    lens = cur.select("token", F.size("syms").cast("long").alias("n_sub"))
    tokd = docs.select("doc_id", F.explode(alnum_tokens(F.col("text"))).alias("token"))
    agg = (
        tokd.join(lens, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )


@declared(
    oracle=_bpe_chain_ctes(_BPE_ROUNDS)
    + "\n    SELECT doc_id, n_words, n_bpe_tokens FROM bpe_len"
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE tokenization under the trained merge rules —
    the apply half of q_bpe_merges' train step: every document's
    token count under the K-rule tokenizer (plus its whitespace-family
    word count for the compression comparison), exact BIGINTs, docs
    with no tokens kept at zero."""
    return bpe_doc_lengths(spark, sf_dir)


@declared(
    oracle=_bpe_chain_ctes(_BPE_ROUNDS)
    + """,
    f AS (
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(b.n_words) AS BIGINT) AS n_words,
               CAST(sum(b.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens
        FROM bpe_len b JOIN documents d USING (doc_id)
        GROUP BY d.lang
    )
    SELECT lang, n_docs, n_words, n_bpe_tokens,
           CASE WHEN n_words > 0
                THEN CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
                END AS fertility
    FROM f
    """
)
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (VERDICT r10 item 6): BPE
    subword tokens per whitespace word, grouped by the documents
    table's ``lang`` — the tokenizer-health metric every multilingual
    pipeline reports (fertility ≫ 1 on a language means the vocabulary
    underserves it and its sequences are inflated). Reads the per-doc
    lengths off the persisted tokenizer artifact (``bpe_doc_lengths``;
    no retraining), joins the lang label, and aggregates exact BIGINTs
    — the one division is of engine-identical integers, so the double
    is bit-identical RAW (no rounding). Languages with zero words emit
    NULL fertility on both engines (never a div-by-zero cast)."""
    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    lens = bpe_doc_lengths(spark, sf_dir)
    g = lens.join(docs, "doc_id").groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )
    fert = F.when(
        F.col("n_words") > 0,
        F.col("n_bpe_tokens").cast("double")
        / F.col("n_words").cast("double"),
    )
    return g.select(
        "lang", "n_docs", "n_words", "n_bpe_tokens", fert.alias("fertility")
    )


# ---------------------------------------------------------------------------
# UNIGRAM-LM TOKENIZER (SentencePiece-style; Kudo 2018) — the companion
# trainer to BPE (VERDICT r11 item 6): seed a candidate vocabulary from
# weighted substring counts, run fixed-iteration hard-EM (Viterbi
# E-step: each word's single best segmentation under current piece
# log-probs; M-step: re-estimate log-probs from the exact integer
# piece counts), then prune to the target size. Reference analog: the
# tokenize surface of rank.py:144-160 in hyperburn777/review_engine.
#
# Scale shape (100 TB): ONE corpus-scale distinct-words aggregate, then
# every EM round is a narrow vocabulary-sized projection (the Viterbi
# DP is unrolled Catalyst expressions against a ≤~100-entry literal
# piece→logprob map — no join, no Python) + a vocabulary-bounded
# aggregate + a ≤~100-row driver collect (the k-means/PCA round
# pattern). Encode is the same DP over distinct words + one broadcast
# join back to the corpus token stream (the bpe_doc_lengths shape).
#
# Determinism/oracle: Viterbi counts are exact BIGINTs (hard EM);
# log-probs are round(ln(c/total), 6) computed in-engine on BOTH sides
# (the round-6 float policy); DP scores are fixed-order sums of those
# round-6 doubles, so argmax choices and tie-breaks (longest piece
# first) are bit-identical across engines. The oracle replays seed +
# every EM round with the DP unrolled as DuckDB lateral column aliases
# — the q_bpe_merges unrolled-CTE convention.
# ---------------------------------------------------------------------------

_UNI_MAXW = 16  # words longer than this train/encode as char-count fallback
_UNI_MAXL = 4  # max piece length seeded
_UNI_SEED_V = 64  # seed vocabulary size (plus forced single chars)
_UNI_FINAL_V = 48  # pruned output vocabulary size
_UNI_EM_ROUNDS = 2
_UNI_NEG = -1.0e9  # unknown-span penalty (never wins over a known path)


def _uni_dp_ctes(prefix: str, src_cte: str, map_cte: str) -> list[str]:
    """Unrolled Viterbi DP as a chain of MATERIALIZED CTEs (one per
    position) against the 1-row piece→logprob MAP CTE ``map_cte``
    (lateral aliases cannot contain subqueries, so the vocabulary rides
    in as a cross-joined map; extraction yields a list — empty on miss
    — hence the [1]). Each level MUST materialize: DuckDB substitutes
    lateral aliases textually, so an un-materialized 16-level DP whose
    every score references up to 4 prior scores binds a 4^16-node
    expression tree. Level i adds best-score _b{{i}} and argmax-choice
    _c{{i}} (ties prefer the LONGEST piece — candidates are evaluated
    smallest-j first); the final CTE ``{{prefix}}`` appends the
    backtrack walk _p0.._pW (linear substitution — safe un-materialized)
    and the best-path ``pieces`` list. Token-for-token mirror of
    ``_viterbi_frame``."""
    ctes: list[str] = []
    prev = None
    for i in range(1, _UNI_MAXW + 1):
        js = list(range(max(0, i - _UNI_MAXL), i))
        exprs: list[str] = []
        for j in js:
            b = "0.0" if j == 0 else f"_b{j}"
            exprs.append(
                f"{b} + coalesce(umap[substr(token, {j + 1}, "
                f"{i - j})][1], -1000000000.0) AS _k{i}_{j}"
            )
        cand = ", ".join(f"_k{i}_{j}" for j in js)
        exprs.append(
            (f"greatest({cand})" if len(js) > 1 else f"_k{i}_{js[0]}")
            + f" AS _b{i}"
        )
        cases = " ".join(f"WHEN _k{i}_{j} = _b{i} THEN {j}" for j in js)
        exprs.append(f"CASE {cases} END AS _c{i}")
        src = f"{src_cte}, {map_cte}" if prev is None else prev
        name = f"{prefix}_l{i}"
        body = ",\n               ".join(exprs)
        ctes.append(
            f"""{name} AS MATERIALIZED (
        SELECT *,
               {body}
        FROM {src}
    )"""
        )
        prev = name
    # Backtrack walk: ALSO one materialized CTE per step — each _p
    # references its predecessor twice (guard + use), so an
    # un-materialized chain substitutes into a 2^W-node tree.
    carr = (
        "list_value("
        + ", ".join(f"_c{i}" for i in range(1, _UNI_MAXW + 1))
        + ")"
    )
    ctes.append(
        f"""{prefix}_w0 AS MATERIALIZED (
        SELECT *, {carr} AS _carr, len(token) AS _p0 FROM {prev}
    )"""
    )
    for k in range(1, _UNI_MAXW + 1):
        ctes.append(
            f"""{prefix}_w{k} AS MATERIALIZED (
        SELECT *,
               CASE WHEN _p{k - 1} > 0 THEN _carr[_p{k - 1}]
                    ELSE 0 END AS _p{k},
               CASE WHEN _p{k - 1} > 0 THEN
                    substr(token, _p{k} + 1, _p{k - 1} - _p{k})
               END AS _q{k}
        FROM {prefix}_w{k - 1}
    )"""
        )
    pieces = (
        "list_filter(list_value("
        + ", ".join(f"_q{k}" for k in range(1, _UNI_MAXW + 1))
        + "), x -> x IS NOT NULL)"
    )
    ctes.append(
        f"""{prefix} AS (
        SELECT *, {pieces} AS pieces FROM {prefix}_w{_UNI_MAXW}
    )"""
    )
    return ctes


def _uni_ctes(rounds: int = _UNI_EM_ROUNDS) -> str:
    """Seed + EM-round CTE chain ending at ``uvf`` (the pruned final
    vocabulary: piece, c, lp)."""
    parts = [
        f"""uw AS (
        SELECT tok AS token, CAST(count(*) AS BIGINT) AS wc
        FROM (SELECT unnest({ALNUM_TOKS_SQL}) AS tok FROM documents)
        GROUP BY tok
    )""",
        f"tw AS (SELECT token, wc FROM uw WHERE len(token) <= {_UNI_MAXW})",
        f"""usub AS (
        SELECT substr(token, i, l) AS piece, CAST(sum(wc) AS BIGINT) AS c
        FROM tw, UNNEST(range(1, len(token) + 1)) AS t(i),
             UNNEST(range(1, {_UNI_MAXL + 1})) AS u(l)
        WHERE i + l - 1 <= len(token)
        GROUP BY 1
    )""",
        f"""usel AS (
        SELECT piece, c FROM usub ORDER BY c DESC, piece LIMIT {_UNI_SEED_V}
    )""",
        "usng AS (SELECT piece, c FROM usub WHERE len(piece) = 1)",
        """uvset AS (
        SELECT piece, CAST(max(c) AS BIGINT) AS c
        FROM (SELECT * FROM usel UNION ALL SELECT * FROM usng)
        GROUP BY piece
    )""",
        "ut0 AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uvset)",
        """uv0 AS (
        SELECT piece, c, round(ln(CAST(c AS DOUBLE) / t), 6) AS lp
        FROM uvset, ut0
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""um{r} AS (
        SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece))
                   AS umap
        FROM uv{r - 1}
    )"""
        )
        parts.extend(_uni_dp_ctes(f"ud{r}", "tw", f"um{r}"))
        parts.append(
            f"""ue{r} AS (
        SELECT piece, CAST(sum(wc) AS BIGINT) AS c
        FROM (SELECT wc, unnest(pieces) AS piece FROM ud{r}) s
        WHERE piece IN (SELECT piece FROM uv{r - 1})
        GROUP BY 1
    )"""
        )
        parts.append(
            f"ut{r} AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ue{r})"
        )
        parts.append(
            f"""uv{r} AS (
        SELECT piece, c, round(ln(CAST(c AS DOUBLE) / t), 6) AS lp
        FROM ue{r}, ut{r}
    )"""
        )
    parts.append(
        f"""uvf AS (
        SELECT piece, c, lp FROM uv{rounds}
        ORDER BY c DESC, piece LIMIT {_UNI_FINAL_V}
    )"""
    )
    return "WITH " + ",\n    ".join(parts)


def _uni_len_ctes(rounds: int = _UNI_EM_ROUNDS) -> str:
    """Train chain + encode-apply chain ending at ``uni_len``
    (doc_id, n_words, n_uni_tokens) — the bpe_len analog. Unknown
    best-path spans encode as their character count (char fallback);
    words longer than the DP bound encode as their length."""
    dp = ",\n    ".join(_uni_dp_ctes("udf", "uws", "umf"))
    return (
        _uni_ctes(rounds)
        + f""",
    uww AS (
        SELECT DISTINCT tok AS token
        FROM (SELECT unnest({ALNUM_TOKS_SQL}) AS tok FROM documents)
    ),
    uws AS (SELECT token FROM uww WHERE len(token) <= {_UNI_MAXW}),
    umf AS (
        SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece))
                   AS umap
        FROM uvf
    ),
    {dp},
    upx AS (SELECT token, unnest(pieces) AS piece FROM udf),
    uns AS (
        SELECT upx.token,
               CAST(sum(CASE WHEN v.piece IS NOT NULL THEN 1
                             ELSE len(upx.piece) END) AS BIGINT) AS n_sub
        FROM upx LEFT JOIN uvf v ON v.piece = upx.piece
        GROUP BY upx.token
    ),
    unall AS (
        SELECT token, n_sub FROM uns
        UNION ALL
        SELECT token, CAST(len(token) AS BIGINT) AS n_sub
        FROM uww WHERE len(token) > {_UNI_MAXW}
    ),
    utokd AS (
        SELECT doc_id, unnest({ALNUM_TOKS_SQL}) AS token FROM documents
    ),
    uagg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n.n_sub) AS BIGINT) AS n_uni_tokens
        FROM utokd JOIN unall n USING (token) GROUP BY doc_id
    ),
    uni_len AS (
        SELECT d.doc_id,
               CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(a.n_uni_tokens, 0) AS BIGINT) AS n_uni_tokens
        FROM documents d LEFT JOIN uagg a USING (doc_id)
    )"""
    )


def _uni_lp_map(vocab: list[tuple]):
    return F.create_map(
        *[x for p, _c, lp in vocab for x in (F.lit(p), F.lit(float(lp)))]
    )


def _viterbi_frame(df: DataFrame, vocab: list[tuple]) -> DataFrame:
    """Add the best-path ``pieces`` column to a (token, ...) frame: the
    Viterbi DP as ONE ``F.aggregate`` fold over positions 1..len(token)
    carrying (best-scores, argmax-choices) arrays, then a second
    bounded fold for the backtrack walk. A single expression pair —
    the earlier per-position column unroll exploded at Catalyst
    optimization time (CollapseProject substitutes each level's score
    into up to 4 consumers → a 4^W tree), the same blowup the oracle's
    MATERIALIZED CTE chain avoids on the DuckDB side. Lookups hit the
    driver-held vocabulary as a literal piece→logprob map (corpus-free,
    no join); candidates evaluate smallest-j (longest piece) first, so
    tie-breaks on engine-identical doubles match ``_uni_dp_ctes``
    exactly. Interpreted-HOF cost is confined to VOCABULARY rows."""
    m = _uni_lp_map(vocab)
    neg_invalid = F.lit(-1.0e12)  # loses to any valid path (≥ -W·1e9)

    def lp(start0, length):
        # start0: 0-based span start (Column); length: span length
        return F.coalesce(
            F.try_element_at(
                m, F.col("token").substr(start0 + F.lit(1), length)
            ),
            F.lit(_UNI_NEG),
        )

    def step(acc, i):
        cands = []  # d descending == j ascending (longest piece first)
        for d in range(_UNI_MAXL, 0, -1):
            j = i - F.lit(d)
            cands.append(
                (
                    d,
                    F.when(
                        i >= F.lit(d),
                        F.try_element_at(acc["bs"], j + F.lit(1))
                        + lp(j, F.lit(d)),
                    ).otherwise(neg_invalid),
                )
            )
        b = F.greatest(*[c for _, c in cands])
        ci = None
        for d, c in cands:
            branch = (i - F.lit(d)).cast("int")
            ci = (
                F.when(c == b, branch)
                if ci is None
                else ci.when(c == b, branch)
            )
        return F.struct(
            F.concat(acc["bs"], F.array(b)).alias("bs"),
            F.concat(acc["cs"], F.array(ci)).alias("cs"),
        )

    dp = F.aggregate(
        F.sequence(F.lit(1), F.length("token")),
        F.struct(
            F.array(F.lit(0.0)).alias("bs"),
            F.array().cast("array<int>").alias("cs"),
        ),
        step,
    )
    out = df.withColumn("_dp", dp)
    cs = F.col("_dp")["cs"]

    def wstep(acc, _k):
        pos = acc["pos"]
        prev = F.try_element_at(cs, pos)
        piece = F.col("token").substr(prev + F.lit(1), pos - prev)
        return F.when(
            pos > 0,
            F.struct(
                prev.cast("int").alias("pos"),
                F.concat(acc["ps"], F.array(piece)).alias("ps"),
            ),
        ).otherwise(acc)

    walk = F.aggregate(
        F.sequence(F.lit(1), F.lit(_UNI_MAXW)),
        F.struct(
            F.length("token").cast("int").alias("pos"),
            F.array().cast("array<string>").alias("ps"),
        ),
        wstep,
    )
    return out.withColumn("pieces", walk["ps"]).drop("_dp")


def _uni_lp_cols(counts: DataFrame) -> DataFrame:
    """(piece, c) → (piece, c, lp) with lp = round(ln(c/total), 6)
    computed IN-ENGINE (the oracle computes its own ln the same way —
    never a driver-side math.log, whose bankers rounding differs)."""
    tot = counts.agg(F.sum("c").cast("long").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        "c",
        F.round(
            F.log(F.col("c").cast("double") / F.col("t").cast("double")), 6
        ).alias("lp"),
    )


def train_unigram(
    docs: DataFrame, rounds: int = _UNI_EM_ROUNDS
) -> list[tuple]:
    """Train the unigram-LM vocabulary over ``docs``; returns the
    pruned [(piece, freq, logprob), ...] sorted (freq DESC, piece)."""
    words = (
        docs.select(F.explode(alnum_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("wc"))
        .where(F.length("token") <= _UNI_MAXW)
    ).transform(iter_checkpoint)
    subs = (
        words.select(
            "wc",
            "token",
            F.explode(
                F.sequence(F.lit(1), F.length("token"))
            ).alias("i"),
        )
        .select(
            "wc",
            "token",
            "i",
            F.explode(F.sequence(F.lit(1), F.lit(_UNI_MAXL))).alias("l"),
        )
        .where(F.col("i") + F.col("l") - 1 <= F.length("token"))
        .select(
            F.col("token").substr(F.col("i"), F.col("l")).alias("piece"),
            "wc",
        )
        .groupBy("piece")
        .agg(F.sum("wc").cast("long").alias("c"))
    ).transform(iter_checkpoint)
    sel = subs.orderBy(F.desc("c"), F.asc("piece")).limit(_UNI_SEED_V)
    sing = subs.where(F.length("piece") == 1)
    vset = (
        sel.unionByName(sing)
        .groupBy("piece")
        .agg(F.max("c").cast("long").alias("c"))
    )
    vocab = [
        (r["piece"], r["c"], r["lp"]) for r in _uni_lp_cols(vset).collect()
    ]
    for _t in range(rounds):
        framed = _viterbi_frame(words, vocab)
        m = _uni_lp_map(vocab)
        counts = (
            framed.select(F.explode("pieces").alias("piece"), "wc")
            .where(F.try_element_at(m, F.col("piece")).isNotNull())
            .groupBy("piece")
            .agg(F.sum("wc").cast("long").alias("c"))
        )
        vocab = [
            (r["piece"], r["c"], r["lp"])
            for r in _uni_lp_cols(counts).collect()
        ]
    vocab.sort(key=lambda r: (-r[1], r[0]))
    return vocab[:_UNI_FINAL_V]


def _uni_key(sf_dir: str) -> str | None:
    return artifact_key(
        "unigram", os.path.join(sf_dir, "documents.parquet"),
        W=_UNI_MAXW, L=_UNI_MAXL, V=_UNI_SEED_V, F=_UNI_FINAL_V, T=_UNI_EM_ROUNDS,
    )


def unigram_vocab(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Trained unigram vocabulary for a corpus: the artifact saved by
    ``scratch.py`` for these corpus files, else trained once and saved."""
    vocab = artifact(
        _uni_key(sf_dir),
        lambda: train_unigram(read_parquet_table(spark, sf_dir, "documents")),
    )
    return [(str(p), int(c), float(lp)) for p, c, lp in vocab]


def uni_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram-tokenizer lengths under the trained vocabulary:
    (doc_id, n_words, n_uni_tokens), zero-filled — the
    ``bpe_doc_lengths`` analog. Unknown best-path spans count their
    characters (char fallback); words longer than the DP bound count
    their length. One vocab-sized DP frame, one broadcast join back to
    the corpus token stream. The vocabulary is ``unigram_vocab``'s, kept
    in the artifact store of ``scratch.py``."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    vocab = unigram_vocab(spark, sf_dir)
    m = _uni_lp_map(vocab)
    wall = docs.select(F.explode(alnum_tokens(F.col("text"))).alias("token")).distinct()
    framed = _viterbi_frame(
        wall.where(F.length("token") <= _UNI_MAXW), vocab
    )
    n_sub = F.aggregate(
        F.col("pieces"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.when(F.try_element_at(m, x).isNotNull(), F.lit(1))
        .otherwise(F.length(x))
        .cast("long"),
    )
    lens = framed.select("token", n_sub.alias("n_sub")).unionByName(
        wall.where(F.length("token") > _UNI_MAXW).select(
            "token", F.length("token").cast("long").alias("n_sub")
        )
    )
    tokd = docs.select("doc_id", F.explode(alnum_tokens(F.col("text"))).alias("token"))
    agg = (
        tokd.join(lens, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_uni_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_uni_tokens", F.lit(0))
            .cast("long")
            .alias("n_uni_tokens"),
        )
    )


@declared(
    oracle=_uni_ctes(_UNI_EM_ROUNDS)
    + "\n    SELECT piece, c AS freq, lp AS logprob FROM uvf"
)
def q_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece-style): seed top-64
    weighted substrings (single chars forced), 2 hard-EM rounds
    (Viterbi best-segmentation counts → re-estimated log-probs), prune
    to the top-48 vocabulary. Driver-coordinated rounds with exact
    BIGINT counts and in-engine round-6 log-probs; every DP/argmax
    step replayed by the oracle's unrolled lateral-alias CTEs. As the
    TRAIN step it also refreshes the persisted vocabulary artifact the
    apply-side queries read (see ``unigram_vocab``)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    vocab = train_unigram(docs, _UNI_EM_ROUNDS)
    save_artifact(_uni_key(sf_dir), vocab)
    return spark.createDataFrame(
        vocab, "piece string, freq long, logprob double"
    )


@declared(
    oracle=_uni_len_ctes(_UNI_EM_ROUNDS)
    + "\n    SELECT doc_id, n_words, n_uni_tokens FROM uni_len"
)
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide unigram-LM tokenization under the trained vocabulary
    — the apply half of q_unigram_lm_train: every document's piece
    count under the Viterbi segmenter (char fallback for unknown
    spans/overlong words), plus its word count for the compression
    comparison; exact BIGINTs, zero-filled."""
    return uni_doc_lengths(spark, sf_dir)


@declared(
    oracle=_uni_len_ctes(_UNI_EM_ROUNDS)
    + """,
    s AS (
        SELECT doc_id, n_uni_tokens AS n_tokens,
               CAST(doc_id % 8 AS INT) AS shard
        FROM uni_len
    ),
    c AS (
        SELECT doc_id, n_tokens, shard,
               COALESCE(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0
               ) AS cum_before
        FROM s
    ),
    p AS (
        SELECT doc_id, n_tokens, shard,
               CAST(floor(cum_before / 512) AS BIGINT) AS local
        FROM c
    )
    SELECT doc_id, n_tokens, shard,
           shard * 1099511627776 + local AS pack_id,
           CAST(row_number() OVER (
               PARTITION BY shard, local ORDER BY doc_id) AS BIGINT) AS pack_pos
    FROM p
    """
)
def q_unigram_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on REAL unigram-tokenizer lengths — the
    q_sequence_pack budget path (512-token packs, 8 shards, no global
    sort) fed by the unigram encode instead of BPE, closing the
    train→encode→pack chain for the second tokenizer family."""
    from review_engine_spark.operators.chunking import pack_sequences

    docs = uni_doc_lengths(spark, sf_dir).select(
        "doc_id", F.col("n_uni_tokens").alias("n_tokens")
    )
    return pack_sequences(docs, "n_tokens", "doc_id", budget=512, n_shards=8)


@declared(
    oracle=rf"""
    WITH b AS (
        SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM documents
    ),
    sh AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(toks[i:i + 15], ' ')) AS h
        FROM b, UNNEST(range(1, n - 16 + 2)) AS u(i)
        WHERE n >= 16
    ),
    d AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM sh
    ),
    dup AS (SELECT doc_id, pos FROM d WHERE rn >= 2),
    r AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (
                        PARTITION BY doc_id ORDER BY pos) <= 16
                    THEN 0 ELSE 1 END AS new_run
        FROM dup
    ),
    isl AS (
        SELECT doc_id, pos,
               sum(new_run) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS isl
        FROM r
    ),
    runs AS (
        SELECT doc_id, isl, max(pos) - min(pos) + 16 AS cut
        FROM isl GROUP BY doc_id, isl
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_runs,
               CAST(sum(cut) AS BIGINT) AS n_cut_tokens
        FROM runs GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_dup_runs, 0) AS BIGINT) AS n_dup_runs,
           CAST(COALESCE(a.n_cut_tokens, 0) AS BIGINT) AS n_cut_tokens
    FROM b LEFT JOIN agg a USING (doc_id)
    """
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (the sliding-shingle duplicated-
    substring recipe): maximal ≥16-token intervals repeated anywhere in
    the corpus, first occurrence surviving — per-doc cut-run count and
    tokens-to-cut, the signal the Lee-et-al-style apply pass removes."""
    from review_engine_spark.operators.curation import substring_dedup

    docs = read_parquet_table(spark, sf_dir, "documents")
    return substring_dedup(docs, "text", "doc_id", width=16)


@declared(
    oracle=rf"""
    WITH b AS (
        SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM documents
    ),
    sh AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(toks[i:i + 15], ' ')) AS h
        FROM b, UNNEST(range(1, n - 16 + 2)) AS u(i)
        WHERE n >= 16
    ),
    d AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM sh
    ),
    dup AS (SELECT doc_id, pos FROM d WHERE rn >= 2),
    cutpos AS (
        SELECT DISTINCT doc_id, pos + i AS tpos
        FROM dup, UNNEST(range(0, 16)) AS g(i)
    ),
    tok AS (
        SELECT doc_id, generate_subscripts(toks, 1) AS tpos,
               unnest(toks) AS token
        FROM b
    ),
    kept AS (
        SELECT t.doc_id, t.tpos, t.token
        FROM tok t LEFT JOIN cutpos c
          ON t.doc_id = c.doc_id AND t.tpos = c.tpos
        WHERE c.tpos IS NULL
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(token, ' ' ORDER BY tpos) AS text_dedup
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(a.text_dedup, '') AS text_dedup
    FROM b LEFT JOIN agg a USING (doc_id)
    """
)
def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of q_substring_dedup: remove every token covered
    by a non-canonical >=16-token repeated interval and reassemble each
    document from the survivors — the detect->apply closure for
    substring-level dedup (dedup, contamination, and the BPE tokenizer
    already have theirs)."""
    from review_engine_spark.operators.curation import substring_dedup_apply

    docs = read_parquet_table(spark, sf_dir, "documents")
    return substring_dedup_apply(docs, "text", "doc_id", width=16)


_BIGRAM_SC_CTES = rf"""t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    bg AS (
        SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
        FROM t, UNNEST(range(1, len(toks))) AS u(i)
    ),
    cab AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bg GROUP BY a, b
    ),
    un AS (
        SELECT tok AS a, CAST(count(*) AS BIGINT) AS ca
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
    ),
    vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM un),
    sc AS (
        SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ln((cab.cab + 1) / (un.ca + vv.v))), 6)
                   AS bigram_logprob
        FROM bg JOIN cab USING (a, b) JOIN un USING (a), vv
        GROUP BY bg.doc_id
    )"""


@declared(
    oracle="WITH "
    + _BIGRAM_SC_CTES
    + "\n    SELECT doc_id, n_bigrams, bigram_logprob FROM sc"
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy (the CCNet-style LM quality filter):
    per-doc mean log of the add-1-smoothed corpus bigram probability
    p(b|a) = (c_ab + 1) / (c_a + V) — exact integer counts, one log at
    the end; docs with <2 tokens emit no row. The n-gram upgrade of
    q_unigram_logprob's filter; q_perplexity_gate thresholds it into
    the kept/dropped decision."""
    return bigram_logprob_scores(spark, sf_dir)


def _bigram_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, a, b) — one row per adjacent token pair (narrow)."""
    toks = ws_tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks"))
    tail = F.slice(
        "toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))
    )
    head = F.slice(
        "toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))
    )
    return base.select(
        "doc_id", F.explode(F.arrays_zip(head, tail)).alias("p")
    ).select("doc_id", F.col("p.0").alias("a"), F.col("p.1").alias("b"))


def train_bigram_stats(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The TRAINING half of the bigram LM: (cab, un) count tables from a
    reference corpus. Factored from the scoring half so
    the streaming ingest gate can train ONCE on the standing corpus and
    apply per micro-batch (the CCNet deployment shape: the LM is an
    offline artifact, arrivals are scored against it)."""
    pairs = _bigram_pairs(docs)
    toks = ws_tokens(F.col("text"))
    cab = pairs.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("cab")
    )
    un = (
        docs.select(F.explode(toks).alias("a"))
        .groupBy("a")
        .agg(F.count("*").cast("long").alias("ca"))
    )
    return cab, un


def score_bigrams_against(
    docs: DataFrame, cab: DataFrame, un: DataFrame
) -> DataFrame:
    """The SCORING half: (doc_id, n_bigrams, bigram_logprob) for ``docs``
    against trained count tables. Unseen bigrams/unigrams contribute
    nothing (inner joins) — on the training corpus itself that is a
    no-op, which keeps this refactor bit-identical to the fused form."""
    pairs = _bigram_pairs(docs)
    vocab_n = un.agg(F.count("*").cast("long").alias("v"))
    scored = (
        # bigram/unigram tables are corpus-scaled — no forced
        # broadcast; AQE converts when actually small
        pairs.join(cab.hint("shuffle_hash"), ["a", "b"])
        .join(un.hint("shuffle_hash"), "a")
        .crossJoin(F.broadcast(vocab_n))  # D7: 1-row scalar aggregate
        .select(
            "doc_id",
            F.log((F.col("cab") + 1) / (F.col("ca") + F.col("v"))).alias(
                "_lp"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("bigram_logprob"),
    )


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, bigram_logprob) — the scoring core shared by
    q_bigram_logprob (which returns it) and q_perplexity_gate (which
    thresholds it): train on the corpus, score the corpus."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return score_bigrams_against(docs, *train_bigram_stats(docs))


def _rank_cutoff(sc: DataFrame, col: str, num: int, den: int) -> DataFrame:
    """1-row exact order-statistic cutoff: the ceil(num/den · n)-th
    smallest non-null value of ``col`` (n = non-null count).

    This deliberately REPLACES the interpolated percentile the two
    percentile gates first shipped with: at a TIED bracket (lo == hi, a
    common event on a 6dp score grid) Spark's ``percentile`` returns
    the grid value exactly (lo + (hi−lo)·f) while DuckDB's
    ``quantile_cont`` computes lo·(1−f) + hi·f, which is one ulp OFF
    the grid — so a document sitting exactly at the cutoff crossed the
    gate on one engine and not the other (caught by the round-10
    seed-2 sweep: q_dsir_sample doc 241). An order statistic is an
    ELEMENT of the shared grid, bit-identical by construction; only
    integer arithmetic picks the rank (cum·den ≥ n·num ⇔
    cum ≥ ceil(num·n/den)).

    Scale: the cumulative window runs over the per-VALUE aggregate,
    whose cardinality is bounded by the 1e-6 score grid × the score
    range — the q_ks_test domain-window class, not corpus rows (the
    plan-audit sweep verifies an aggregate feeds the global window).
    """
    vals = sc.select(F.col(col).alias("_v")).where(F.col("_v").isNotNull())
    g = vals.groupBy("_v").agg(F.count("*").alias("_c"))
    cw = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # total count in the SAME window pass (full-frame sum over the same
    # ordering — one WindowExec evaluates both frames): the old separate
    # `vals.agg(count)` made every caller evaluate its score subtree
    # twice (round 13; the exact-int rank pick cum·den ≥ n·num is
    # unchanged, n = Σ_c ≡ the old non-null count).
    nw = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = g.select(
        "_v",
        F.sum("_c").over(cw).alias("_cum"),
        F.sum("_c").over(nw).alias("_n"),
    )
    return cum.where(F.col("_cum") * den >= F.col("_n") * num).agg(
        F.min("_v").alias("_cut")
    )


def _rank_cutoff_sql(src: str, col: str, num: int, den: int) -> str:
    """Oracle mirror of ``_rank_cutoff`` (emits CTEs cutg/cutn/cut;
    read ``cut.c``)."""
    return f"""cutg AS (
        SELECT {col} AS v, count(*) AS c FROM {src}
        WHERE {col} IS NOT NULL GROUP BY 1
    ),
    cutn AS (
        SELECT count(*) AS n FROM {src} WHERE {col} IS NOT NULL
    ),
    cut AS (
        SELECT min(v) AS c FROM (
            SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM cutg
        ), cutn
        WHERE cum * {den} >= n * {num}
    )"""


@declared(
    oracle="WITH "
    + _BIGRAM_SC_CTES
    + ",\n    "
    + _rank_cutoff_sql("sc", "bigram_logprob", 3, 10)
    + """,
    r AS (
        SELECT d.doc_id,
               CASE WHEN sc.doc_id IS NULL THEN 'too_short'
                    WHEN sc.bigram_logprob <= cut.c THEN 'high_perplexity'
                    ELSE 'ok' END AS reason
        FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id, cut
    )
    SELECT doc_id, reason = 'ok' AS keep, reason FROM r
    """
)
def q_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet recipe's POINT — a kept/dropped decision from the
    bigram-LM score (VERDICT r9 item 7: q_bigram_logprob scored but
    nothing thresholded). First-failing-rule chain like q_quality_gate:
    docs with <2 tokens carry no bigram evidence → 'too_short'; docs in
    the worst-perplexity 30% of the corpus (bigram_logprob at or below
    the exact 30th-percentile ORDER STATISTIC — CCNet's tail bucket,
    value-thresholded so score ties cross the gate together) →
    'high_perplexity'; rest 'ok'.

    Scale shape: scoring is the shuffle-hash-pinned bigram pipeline;
    the cutoff is the exact-rank element via ``_rank_cutoff`` (see its
    docstring for why the interpolated percentile was cross-engine
    UNSAFE at tied brackets), broadcast back over the rows — the D7
    scalar pattern."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    sc = bigram_logprob_scores(spark, sf_dir).select(
        "doc_id", F.col("bigram_logprob").alias("_lp")
    )
    # Materialize the score frame ONCE: it feeds both the rank cutoff
    # and the verdict join, so without this the whole bigram train+score
    # pipeline (several corpus passes) plans — and runs — twice. At
    # fixture scale the re-run is cheap enough that this is noise-level
    # either way, but at the 100× replica the checkpoint is a stable
    # ~22% win (11.6–12.5 s → 8.9–9.5 s across three double-quiet
    # alternating A/B passes, round 13). q_ingest_gate deliberately does
    # NOT take the same checkpoint: the identical A/B measured it
    # fixture-negative (+0.3–0.6 s) and 100×-neutral there — its gate
    # frame shares the scoring exchanges at runtime already.
    sc = iter_checkpoint(sc)
    cut = _rank_cutoff(sc, "_lp", 3, 10)
    reason = (
        F.when(F.col("_lp").isNull(), F.lit("too_short"))
        .when(F.col("_lp") <= F.col("_cut"), F.lit("high_perplexity"))
        .otherwise(F.lit("ok"))
    )
    return (
        docs.select("doc_id")
        .join(sc, "doc_id", "left")
        .crossJoin(F.broadcast(cut))  # D7: 1-row scalar aggregate
        .select(
            "doc_id", (reason == "ok").alias("keep"), reason.alias("reason")
        )
    )


_DSIR_BUCKETS = 4096

_DSIR_O_CTES = rf"""t AS (
        SELECT doc_id, lang, {_TOKS} AS toks FROM documents
    ),
    f AS (
        SELECT doc_id, lang,
               unnest(list_concat(toks,
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])))
                   AS feat
        FROM t
    ),
    o AS (
        SELECT doc_id, lang,
               try_cast('0x' || substr(md5(feat), 1, 15) AS BIGINT)
                   % {_DSIR_BUCKETS} AS b
        FROM f
    ),
    r AS (SELECT b, CAST(count(*) AS BIGINT) AS rf FROM o GROUP BY b),
    g AS (
        SELECT b, CAST(count(*) AS BIGINT) AS tf
        FROM o WHERE lang = 'en' GROUP BY b
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS rn,
               CAST(coalesce(sum(CASE WHEN lang = 'en' THEN 1 END), 0)
                    AS BIGINT) AS tn
        FROM o
    ),
    w AS (
        SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               round(avg(
                   ln((coalesce(g.tf, 0) + 1) /
                      CAST(tot.tn + {_DSIR_BUCKETS} AS DOUBLE))
                 - ln((r.rf + 1) /
                      CAST(tot.rn + {_DSIR_BUCKETS} AS DOUBLE))), 6)
                   AS dsir_logweight
        FROM o JOIN r USING (b) LEFT JOIN g USING (b), tot
        GROUP BY o.doc_id
    )"""


def dsir_logweights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — the public hashed
    n-gram method): per doc, the mean over its unigram+bigram feature
    occurrences of ln p_target(f) − ln p_raw(f), where both feature
    distributions are add-1-smoothed counts over ``_DSIR_BUCKETS``
    hashed buckets; the target distribution here is the corpus's
    English slice (lang='en') — "select docs that look like the target
    domain". md5→15-hex→BIGINT is the established cross-engine hash
    (the md5-family convention); exact integer counts, logs of
    int-ratio doubles, one round(6) at the end.

    Scale shape: ONE narrow scan builds the feature stream (unigrams ∥
    bigrams concatenated before a single explode); the count tables are
    bounded by the bucket count (4096 rows — F.broadcast, never a
    corpus-keyed shuffle); totals are a 1-row D7 aggregate; the only
    corpus-scaled shuffle is the per-doc mean. This is the whole reason
    DSIR hashes features: the statistic tables stay O(B) at any corpus
    size."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    base = docs.select("doc_id", "lang", toks.alias("toks"))
    head = F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0)))
    tail = F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0)))
    bigrams = F.zip_with(head, tail, lambda a, b: F.concat_ws(" ", a, b))
    occ = base.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("toks"), bigrams)).alias("feat"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("feat"), 1, 15), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    # ONE aggregate builds raw+target bucket counts together (round 13:
    # the old raw/tgt/tot trio re-ran the tokenize→explode→md5 subtree
    # 3x beyond the scoring pass — plan showed 4 documents scans, each
    # with its own Generate; guide §2.4 "don't compute things twice").
    # tf is NULL when a bucket has no English occurrences, matching the
    # old left-join semantics bit-for-bit (coalesce(tf,0)+1 below).
    table = occ.groupBy("b").agg(
        F.count("*").cast("long").alias("rf"),
        F.sum(F.when(F.col("lang") == "en", 1)).cast("long").alias("tf"),
    )
    # corpus totals = sums over the B-bounded bucket table (4096 rows,
    # exact integers — identical to the old corpus-wide D7 aggregate),
    # via a single-partition window over the tiny table instead of a
    # second corpus pass + separate broadcast.
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    table = table.select(
        "b",
        "rf",
        "tf",
        F.sum("rf").over(wall).cast("long").alias("rn"),
        F.coalesce(F.sum("tf").over(wall), F.lit(0)).cast("long").alias("tn"),
    )
    lw = F.log(
        (F.coalesce(F.col("tf"), F.lit(0)) + 1)
        / (F.col("tn") + _DSIR_BUCKETS).cast("double")
    ) - F.log(
        (F.col("rf") + 1) / (F.col("rn") + _DSIR_BUCKETS).cast("double")
    )
    return (
        occ.join(F.broadcast(table), "b")  # B-bounded: broadcast by size
        .select("doc_id", lw.alias("_lw"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.round(F.avg("_lw"), 6).alias("dsir_logweight"),
        )
    )


@declared(
    oracle="WITH "
    + _DSIR_O_CTES
    + "\n    SELECT doc_id, n_feats, dsir_logweight FROM w"
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-ngram importance log-weight per document (see
    ``dsir_logweights``) — the scoring half; q_dsir_sample applies the
    selection."""
    return dsir_logweights(spark, sf_dir)


@declared(
    oracle="WITH "
    + _DSIR_O_CTES
    + ",\n    "
    + _rank_cutoff_sql("w", "dsir_logweight", 7, 10)
    + """,
    sel AS (
        SELECT d.doc_id,
               CASE WHEN w.doc_id IS NULL THEN 'no_features'
                    WHEN w.dsir_logweight < cut.c THEN 'low_weight'
                    ELSE 'ok' END AS reason
        FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id, cut
    )
    SELECT doc_id, reason = 'ok' AS keep, reason FROM sel
    """
)
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELECTION half of DSIR: keep the top 30% most
    target-domain-like documents by importance log-weight (value
    threshold at the exact 70th percentile — score ties cross the gate
    together, the q_perplexity_gate convention), with drop reasons.
    Same D7 scalar-cutoff shape; the cutoff is the exact 70th-
    percentile ORDER STATISTIC via ``_rank_cutoff`` — the interpolated
    percentile this query first shipped with diverged across engines
    at a tied bracket (seed-2 sweep, doc 241; see _rank_cutoff)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    w = dsir_logweights(spark, sf_dir).select(
        "doc_id", F.col("dsir_logweight").alias("_lw")
    )
    # Materialize the weight frame ONCE (the q_perplexity_gate pattern):
    # it feeds both the rank cutoff and the verdict join, so the whole
    # DSIR tokenize→hash→score pipeline otherwise plans and runs twice.
    # 100×-replica alternating A/B: checkpoint ahead in 4/4 passes by
    # 3.4–5.4 s (19–22 s → 14–17 s, ~25%), fixture-scale neutral
    # (median −0.06 s). The passes were disk-gusted, but the variants
    # alternate back-to-back inside each pass so the gust hits both —
    # the paired delta is the load-bearing number (round 13).
    w = iter_checkpoint(w)
    cut = _rank_cutoff(w, "_lw", 7, 10)
    reason = (
        F.when(F.col("_lw").isNull(), F.lit("no_features"))
        .when(F.col("_lw") < F.col("_cut"), F.lit("low_weight"))
        .otherwise(F.lit("ok"))
    )
    return (
        docs.select("doc_id")
        .join(w, "doc_id", "left")
        .crossJoin(F.broadcast(cut))
        .select(
            "doc_id", (reason == "ok").alias("keep"), reason.alias("reason")
        )
    )


_GOPHER_ORACLE = rf"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
                    AS BIGINT) AS n_wchars,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                    AS BIGINT) AS n_alpha,
               CAST(len(list_filter(
                   ['the', 'a', 'of', 'to', 'and', 'in'],
                   s -> list_contains(toks, s))) AS BIGINT) AS n_stops
        FROM t
    ),
    r AS (
        SELECT doc_id,
               CASE WHEN n_words IS NULL THEN 'too_few_words'
                    WHEN n_words < 30 THEN 'too_few_words'
                    WHEN n_words > 80 THEN 'too_many_words'
                    WHEN 3 * n_words > n_wchars THEN 'short_words'
                    WHEN n_wchars > 10 * n_words THEN 'long_words'
                    WHEN 5 * n_alpha < 4 * n_words THEN 'low_alpha'
                    WHEN n_stops < 2 THEN 'no_stopwords'
                    ELSE 'ok' END AS reason
        FROM m
    )
    SELECT doc_id, reason = 'ok' AS keep, reason FROM r
    """


@declared(oracle=_GOPHER_ORACLE)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition-free quality rules (Rae et al.
    2021, Table A1 — the public heuristic gate most pretraining
    pipelines start from), first-failing-rule chain: word-count bounds
    [30, 80], mean word length in [3, 10], ≥80% of words containing an
    alphabetic character, and ≥2 distinct common stop words present.
    Every rule compares INTEGER cross-products (3·n_words ≤ n_wchars,
    5·n_alpha ≥ 4·n_words, ...) so no float ratio can tie-break
    differently across engines. One scan, no shuffle, pure Catalyst —
    the same cost class as q_quality_gate, which it composes with (run
    both, union the reasons) in a real pipeline. The expression tree
    lives in ``operators.curation.gopher_gate`` so the streaming twin
    (q_stream_quality_gate) runs the IDENTICAL gate — batch/stream
    parity by construction, not by porting."""
    from review_engine_spark.operators.curation import gopher_gate

    docs = read_parquet_table(spark, sf_dir, "documents")
    return gopher_gate(docs, "text", "doc_id")


@declared(
    oracle=r"""
    WITH l AS (
        SELECT doc_id, coalesce(text, '') AS text,
               string_split(coalesce(text, ''), chr(10)) AS lines
        FROM documents
    ),
    k AS (
        SELECT doc_id, text, lines,
               list_filter(
                   lines,
                   x -> regexp_matches(x, '[.!?"]\s*$')
                        AND len(list_filter(
                                string_split_regex(x, '\s+'),
                                t -> t <> '')) >= 5
               ) AS kept
        FROM l
    ),
    m AS (
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept_lines,
               -- array_to_string of an EMPTY list is NULL in DuckDB but
               -- '' under Spark's array_join: coalesce to match
               coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
               CAST(len(regexp_extract_all(
                   coalesce(array_to_string(kept, chr(10)), ''), '[.!?]'
               )) AS BIGINT) AS n_sentences,
               contains(lower(text), 'lorem ipsum') AS has_lorem,
               contains(text, '{') AS has_brace
        FROM k
    )
    SELECT doc_id, n_lines, n_kept_lines, n_sentences,
           reason = 'ok' AS keep, reason, text_clean
    FROM (
        SELECT *,
               CASE WHEN has_lorem THEN 'lorem_ipsum'
                    WHEN has_brace THEN 'curly_brace'
                    WHEN n_sentences < 3 THEN 'too_few_sentences'
                    ELSE 'ok' END AS reason
        FROM m
    )
    """
)
def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2 — the other standard
    public pretraining filter bundle beside Gopher): keep only lines
    that end in terminal punctuation AND contain ≥5 words; drop pages
    containing "lorem ipsum" or a curly brace (code), or whose kept
    text has fewer than 3 sentences (sentence count = terminal-punct
    occurrences in the kept text — an exact integer, no tokenizer
    dependence). The paper's bad-words list and its three-sentence-span
    dedup are covered elsewhere (policy lists are deployment config;
    span dedup is q_span_dedup's family). One scan, zero shuffle, pure
    Catalyst higher-order array expressions — first-failing-rule chain
    like q_gopher_rules, plus the cleaned text for the keep path.
    NULL text coalesces to '' on BOTH sides (one empty "line", zero
    kept) — size(NULL) is -1 under Spark's legacy conf vs NULL in
    DuckDB, the q_gopher_rules ADVICE-r10 lesson."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(text, "\n")

    def _line_keep(x):
        words = F.filter(F.split(x, r"\s+"), lambda t: t != "")
        return x.rlike(r'[.!?"]\s*$') & (F.size(words) >= 5)

    kept = F.filter(lines, _line_keep)
    text_clean = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(text_clean, F.lit(r"[.!?]")).cast("long")
    has_lorem = F.lower(text).contains("lorem ipsum")
    has_brace = text.contains("{")
    reason = (
        F.when(has_lorem, F.lit("lorem_ipsum"))
        .when(has_brace, F.lit("curly_brace"))
        .when(n_sentences < 3, F.lit("too_few_sentences"))
        .otherwise(F.lit("ok"))
    )
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        (reason == F.lit("ok")).alias("keep"),
        reason.alias("reason"),
        text_clean.alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty scoring — the diversity complement to the dedup family:
# per document, the fraction of its distinct 8-token stride-1 shingles
# whose FIRST corpus occurrence (min doc_id) is this document. Shuffles
# are keyed by the 128-bit shingle hash + the doc id; novelty itself is
# a raw exact-int division (bit-identical).
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
    c AS (SELECT doc_id, toks, unnest(range(1, n - 6)) AS pos FROM s),
    sh AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(toks[pos:pos + 7], ' ')) AS h
        FROM c
    ),
    flagged AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS first_doc
        FROM sh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
    FROM flagged GROUP BY doc_id
    """
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: fraction of the doc's distinct
    8-token shingles first seen (min doc_id) in this doc — curation
    pipelines down-weight low-novelty recombinations of existing text."""
    from review_engine_spark.operators.curation import ngram_novelty

    docs = read_parquet_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, "text", "doc_id", width=8)



@declared(oracle=_GOPHER_ORACLE)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher-rule gate running INSIDE Structured Streaming over the
    finite documents feed (append mode, stateless narrow map) — the
    ingest front door. Shares q_gopher_rules' expression tree
    (operators.curation.gopher_gate), so the oracle is the identical
    batch SQL: streaming adds delivery, not semantics."""
    from review_engine_spark.streaming.jobs import run_stream_quality_gate

    return run_stream_quality_gate(spark, sf_dir)


# ---------------------------------------------------------------------------
# The COMPOSED ingest gate (VERDICT r10 item 3): quality + gopher +
# perplexity as ONE union-of-reasons pass — the filter chain a real
# 100 TB/day front door runs on arriving documents (reference analog:
# the embed front-door clean/filter chain, embed.py:59-61). The batch
# twin and the streaming form share operators.curation.ingest_gate_frame
# verbatim, and the bigram LM follows the CCNet deployment shape: train
# ONCE on the standing corpus (train_bigram_stats), score arrivals
# against the artifact (score_bigrams_against). Oracle: the three
# sub-gates' existing oracle fragments composed over shared CTEs.
# ---------------------------------------------------------------------------
def _ingest_gate_oracle() -> str:
    from review_engine_spark.plans.roster_ext import (
        _STOPS_SQL,
        _lang_case_expr,
    )

    return rf"""
    WITH {_BIGRAM_SC_CTES},
    {_rank_cutoff_sql("sc", "bigram_logprob", 3, 10)},
    qm AS (
        SELECT doc_id, n_chars, text,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                    x -> x <> '')) AS DOUBLE) AS n_tok,
               CAST(len(list_filter(
                    list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> ''),
                    x -> list_contains([{_STOPS_SQL}], x))) AS DOUBLE)
                   AS stop_hits,
               CAST(n_chars AS DOUBLE) AS length,
               CAST(n_chars - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                    AS DOUBLE) AS punct
        FROM documents
    ),
    qq AS (
        SELECT doc_id, n_chars, text,
               round(least(1.0, greatest(0.0,
                   0.2 + 0.1 * ln(1.0 + n_tok)
                   - 0.5 * (CASE WHEN n_tok > 0 THEN stop_hits / n_tok
                                 ELSE 0.0 END)
                   - 0.8 * (CASE WHEN length > 0 THEN punct / length
                                 ELSE 0.0 END)
               )), 6) AS quality
        FROM qm
    ),
    qr AS (
        SELECT doc_id,
               CASE WHEN n_chars < 200 THEN 'too_short'
                    WHEN quality < 0.35 THEN 'low_quality'
                    WHEN ({_lang_case_expr()}) = 'und' THEN 'und_lang'
                    ELSE 'ok' END AS q_reason
        FROM qq
    ),
    gm AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
                    AS BIGINT) AS n_wchars,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                    AS BIGINT) AS n_alpha,
               CAST(len(list_filter(
                   ['the', 'a', 'of', 'to', 'and', 'in'],
                   s -> list_contains(toks, s))) AS BIGINT) AS n_stops
        FROM t
    ),
    gr AS (
        SELECT doc_id,
               CASE WHEN n_words IS NULL THEN 'too_few_words'
                    WHEN n_words < 30 THEN 'too_few_words'
                    WHEN n_words > 80 THEN 'too_many_words'
                    WHEN 3 * n_words > n_wchars THEN 'short_words'
                    WHEN n_wchars > 10 * n_words THEN 'long_words'
                    WHEN 5 * n_alpha < 4 * n_words THEN 'low_alpha'
                    WHEN n_stops < 2 THEN 'no_stopwords'
                    ELSE 'ok' END AS g_reason
        FROM gm
    ),
    pr AS (
        SELECT d.doc_id,
               CASE WHEN sc.doc_id IS NULL THEN 'too_short'
                    WHEN sc.bigram_logprob <= cut.c THEN 'high_perplexity'
                    ELSE 'ok' END AS p_reason
        FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id, cut
    )
    SELECT qr.doc_id,
           (qr.q_reason = 'ok' AND gr.g_reason = 'ok'
            AND pr.p_reason = 'ok') AS keep,
           CASE WHEN qr.q_reason = 'ok' AND gr.g_reason = 'ok'
                     AND pr.p_reason = 'ok'
                THEN 'ok'
                ELSE concat_ws(',',
                     CASE WHEN qr.q_reason <> 'ok'
                          THEN 'quality:' || qr.q_reason END,
                     CASE WHEN gr.g_reason <> 'ok'
                          THEN 'gopher:' || gr.g_reason END,
                     CASE WHEN pr.p_reason <> 'ok'
                          THEN 'perplexity:' || pr.p_reason END)
                END AS reasons
    FROM qr JOIN gr USING (doc_id) JOIN pr USING (doc_id)
    """


def _ingest_gate_inputs(spark: SparkSession, sf_dir: str, reuse=lambda df: df):
    """(docs, stats, scored, cut) shared by the batch twin and the
    streaming front door — train the bigram LM on the standing corpus,
    score it, and take the exact 30th-percentile order-statistic
    cutoff (the q_perplexity_gate convention). ``reuse`` wraps the
    trained count tables and the cutoff: the streaming gate passes
    ``iter_checkpoint`` so every micro-batch reads them, trained once."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    stats = tuple(map(reuse, train_bigram_stats(docs)))
    scored = score_bigrams_against(docs, *stats)
    cut = reuse(
        _rank_cutoff(
            scored.select("doc_id", F.col("bigram_logprob").alias("_lp")),
            "_lp",
            3,
            10,
        )
    )
    return docs, stats, scored, cut


_INGEST_GATE_ORACLE = _ingest_gate_oracle()


@declared(oracle=_INGEST_GATE_ORACLE)
def q_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the composed ingest gate: quality + gopher +
    perplexity in one pass with union-of-reasons output. One narrow
    projection carries all row-level metrics (single shared
    tokenization); the only corpus-scaled shuffles are the bigram-LM
    score pipeline q_perplexity_gate already pays; the cutoff is the D7
    broadcast scalar."""
    from review_engine_spark.operators.curation import ingest_gate_frame

    docs, _stats, scored, cut = _ingest_gate_inputs(spark, sf_dir)
    return ingest_gate_frame(docs, scored, cut)


@declared(oracle=_INGEST_GATE_ORACLE)
def q_stream_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed gate running as the STREAMING front door: documents
    arrive through Structured Streaming and each micro-batch is gated by
    the IDENTICAL ingest_gate_frame expression tree against the
    statically trained LM artifact + cutoff (foreachBatch — the
    production ingest deployment; per-doc verdicts need no cross-batch
    state because every document's rows live in one micro-batch).
    Oracle: the same batch composition SQL — streaming adds delivery,
    not semantics; multi-batch == single-batch == batch twin is pinned
    in tests/test_streaming.py."""
    from review_engine_spark.streaming.jobs import run_stream_ingest_gate

    _docs, stats, _scored, cut = _ingest_gate_inputs(
        spark, sf_dir, iter_checkpoint
    )
    return run_stream_ingest_gate(spark, sf_dir, stats, cut)


# ---------------------------------------------------------------------------
# Zipf / vocabulary-growth corpus health (VERDICT r10 item 8): the
# log-log OLS slope of frequency vs rank over the top-K vocabulary,
# plus type/token counts. Determinism design (the q_mutual_info
# convention, extended to a FIT): every OLS input is either an exact
# BIGINT (rank, freq, K, n_types, n_tokens) or a per-term round-6 ln of
# one (x = ln rank, y = ln freq — the established libm 6dp guard); the
# order-dependent hazard of Σx/Σy/Σxy/Σxx is removed by folding over
# ONE rank-ordered array (Spark F.aggregate vs DuckDB list_reduce over
# a list(... ORDER BY rank) — same left fold, same element order, and
# 0.0+v == v bitwise for v >= +0.0, so the differing init conventions
# agree). The slope/intercept divisions then run on engine-identical
# doubles RAW. Scale: vocab aggregate is corpus-linear; the top-K cut
# is TakeOrderedAndProject; the rank window sits AFTER the K-row limit
# (the F1 rank-after-limit shape); the fit itself touches K=100 rows.
# ---------------------------------------------------------------------------
_ZIPF_K = 100


@declared(
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKS}) AS token FROM documents
    ),
    vc AS (
        SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(freq) AS BIGINT) AS n_tokens
        FROM vc
    ),
    top AS (
        SELECT token, freq FROM vc ORDER BY freq DESC, token LIMIT {_ZIPF_K}
    ),
    rk AS (
        SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
                   AS rank,
               freq
        FROM top
    ),
    terms AS (
        SELECT rank,
               round(ln(CAST(rank AS DOUBLE)), 6) AS x,
               round(ln(CAST(freq AS DOUBLE)), 6) AS y
        FROM rk
    ),
    arr AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               list(x ORDER BY rank) AS xs,
               list(y ORDER BY rank) AS ys
        FROM terms
    ),
    sums AS (
        SELECT k,
               list_reduce(xs, (p, q) -> p + q) AS sx,
               list_reduce(ys, (p, q) -> p + q) AS sy,
               list_reduce(list_transform(range(1, len(xs) + 1),
                   i -> xs[i] * ys[i]), (p, q) -> p + q) AS sxy,
               list_reduce(list_transform(xs, v -> v * v),
                   (p, q) -> p + q) AS sxx
        FROM arr
    )
    SELECT t.n_types, t.n_tokens, s.k AS k_ranks,
           (CAST(s.k AS DOUBLE) * s.sxy - s.sx * s.sy)
             / (CAST(s.k AS DOUBLE) * s.sxx - s.sx * s.sx) AS zipf_slope,
           (s.sy - ((CAST(s.k AS DOUBLE) * s.sxy - s.sx * s.sy)
             / (CAST(s.k AS DOUBLE) * s.sxx - s.sx * s.sx)) * s.sx)
             / CAST(s.k AS DOUBLE) AS zipf_intercept,
           CAST(t.n_types AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
               AS type_token_ratio
    FROM sums s, tot t
    """
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health fit: Zipf log-log OLS slope over the top-100
    vocabulary ranks (a healthy natural-language corpus sits near −1;
    drift toward 0 flags boilerplate/templating, steeper flags
    vocabulary collapse), plus type/token counts (the Heaps'-law
    inputs) and the type-token ratio."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    vc = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    tot = vc.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("freq").cast("long").alias("n_tokens"),
    )
    top = vc.orderBy(F.desc("freq"), F.asc("token")).limit(_ZIPF_K)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    rk = top.select(
        F.row_number().over(w).cast("long").alias("rank"), "freq"
    )
    terms = rk.select(
        "rank",
        F.round(F.log(F.col("rank").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 6).alias("y"),
    )
    arr = terms.agg(
        F.count("*").cast("long").alias("k"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("rank", "x"))),
            lambda t: t.x,
        ).alias("xs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("rank", "y"))),
            lambda t: t.y,
        ).alias("ys"),
    )
    fold = lambda col: F.aggregate(  # noqa: E731 — shared fold shape
        col, F.lit(0.0), lambda acc, v: acc + v
    )
    sums = arr.select(
        "k",
        fold(F.col("xs")).alias("sx"),
        fold(F.col("ys")).alias("sy"),
        fold(F.zip_with("xs", "ys", lambda a, b: a * b)).alias("sxy"),
        fold(F.transform("xs", lambda v: v * v)).alias("sxx"),
    )
    kd = F.col("k").cast("double")
    slope = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        kd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / kd
    return sums.crossJoin(F.broadcast(tot)).select(
        "n_types",
        "n_tokens",
        F.col("k").alias("k_ranks"),
        slope.alias("zipf_slope"),
        intercept.alias("zipf_intercept"),
        (F.col("n_types").cast("double") / F.col("n_tokens").cast("double"))
        .alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth — the companion fit to q_zipf_fit:
# V(n) ≈ K·n^β over CHECKPOINTS of the corpus in doc_id order (β ~0.4-0.6
# for natural language; β → 1 flags unbounded noise vocab — OCR junk,
# random ids; β → 0 flags template collapse). Scale design: NO global
# window over the corpus — 32 checkpoint doc_ids are exact integer
# fractions of max(doc_id) (D7 1-row broadcast), per-checkpoint token
# totals and first-seen-type totals are conditional aggregates against
# the broadcast checkpoint list (32 rows out), and the log-log OLS runs
# the q_zipf_fit fixed-fold recipe over ≤32 terms.
# ---------------------------------------------------------------------------
_HEAPS_CKPTS = 32


@declared(
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    mx AS (SELECT max(doc_id) AS m FROM documents),
    ck AS (
        SELECT CAST(i AS BIGINT) AS i,
               CAST(floor(CAST(i AS DOUBLE) * m / {_HEAPS_CKPTS})
                    AS BIGINT) AS c
        FROM mx, unnest(range(1, {_HEAPS_CKPTS} + 1)) AS t(i)
    ),
    fd AS (
        SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token
    ),
    types_at AS (
        SELECT ck.i, CAST(count(*) AS BIGINT) AS n_types
        FROM ck JOIN fd ON fd.first_doc <= ck.c GROUP BY ck.i
    ),
    tokens_at AS (
        SELECT ck.i, CAST(count(*) AS BIGINT) AS n_tokens
        FROM ck JOIN tok ON tok.doc_id <= ck.c GROUP BY ck.i
    ),
    terms AS (
        SELECT a.i, round(ln(CAST(a.n_tokens AS DOUBLE)), 6) AS x,
               round(ln(CAST(b.n_types AS DOUBLE)), 6) AS y
        FROM tokens_at a JOIN types_at b USING (i)
        WHERE a.n_tokens > 0 AND b.n_types > 0
    ),
    arr AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               list(x ORDER BY i) AS xs,
               list(y ORDER BY i) AS ys
        FROM terms
    ),
    sums AS (
        SELECT k,
               list_reduce(xs, (p, q) -> p + q) AS sx,
               list_reduce(ys, (p, q) -> p + q) AS sy,
               list_reduce(list_transform(range(1, len(xs) + 1),
                   i -> xs[i] * ys[i]), (p, q) -> p + q) AS sxy,
               list_reduce(list_transform(xs, v -> v * v),
                   (p, q) -> p + q) AS sxx
        FROM arr
    )
    SELECT s.k AS k_checkpoints,
           (CAST(s.k AS DOUBLE) * s.sxy - s.sx * s.sy)
             / (CAST(s.k AS DOUBLE) * s.sxx - s.sx * s.sx) AS heaps_beta,
           (s.sy - ((CAST(s.k AS DOUBLE) * s.sxy - s.sx * s.sy)
             / (CAST(s.k AS DOUBLE) * s.sxx - s.sx * s.sx)) * s.sx)
             / CAST(s.k AS DOUBLE) AS heaps_logk
    FROM sums s
    """
)
def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: log-log OLS of cumulative
    distinct types vs cumulative tokens at 32 doc-order checkpoints —
    the corpus-health companion to q_zipf_fit (β near 0.4-0.6 is
    healthy text; β → 1 flags noise vocabulary, β → 0 template
    collapse). Checkpoints are exact integer fractions of max(doc_id).

    Single-pass form (VERDICT r11 item 4): each token row / first-seen
    type is bucketed by its FIRST covering checkpoint
    j = ceil(K·d / m) — exact integer arithmetic, equivalent to
    "counted at every i with d ≤ floor(i·m/K)" — then a ≤K-row
    running-sum join recovers the cumulative totals. The corpus is
    scanned ONCE per side; the r11 form instead inequality-joined every
    exploded token row against the K-row checkpoint table
    (BroadcastNestedLoopJoin), emitting ~K/2 copies of the corpus into
    the aggregate — 16× the CPU at 100 TB for no information gain. The
    remaining inequality join is K×K (both sides ≤32 rows). The oracle
    keeps the conditional-count form: per-checkpoint totals are exact
    integers, so the two formulations are provably value-identical and
    the mirror-token policy (floats only) is not in play. The OLS
    reuses q_zipf_fit's fixed-order fold."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    tok = docs.select("doc_id", F.explode(toks).alias("token"))
    mx = docs.agg(F.max("doc_id").alias("m"))
    ck = (
        spark.range(1, _HEAPS_CKPTS + 1)
        .withColumnRenamed("id", "i")
        .crossJoin(F.broadcast(mx))
        .select(
            "i",
            F.floor(
                F.col("i").cast("double") * F.col("m") / _HEAPS_CKPTS
            )
            .cast("long")
            .alias("c"),
        )
    )
    fd = tok.groupBy("token").agg(F.min("doc_id").alias("first_doc"))

    def _bucketed_cumulative(
        rows: DataFrame, d_col: str, out: str, weight=None
    ) -> DataFrame:
        # j = ceil(K·d/m) in pure integer arithmetic ((K·d + m − 1) DIV m;
        # d ≤ m keeps j ≤ K, greatest() clamps a d=0 row to bucket 1):
        # j ≤ i ⟺ d ≤ floor(i·m/K), so the running sum of bucket counts
        # over the K ordered checkpoints reproduces the conditional
        # count exactly. The cumulative is a global window over the
        # K-row equi-joined checkpoint table — bounded by construction
        # (the plan-audit bounded-window doctrine), never an inequality
        # join. ``weight`` (a column NAME in ``rows``) turns the bucket
        # count into a bucket SUM of an integer per-row weight (exact —
        # sum of per-doc counts ≡ count of exploded rows).
        agg = (
            F.sum(F.col(weight)).cast("long")
            if weight is not None
            else F.count("*").cast("long")
        )
        buckets = (
            rows.crossJoin(F.broadcast(mx))
            .select(
                F.greatest(
                    F.lit(1).cast("long"),
                    F.expr(
                        f"CAST(({_HEAPS_CKPTS}L * {d_col} + m - 1) DIV m "
                        "AS BIGINT)"
                    ),
                ).alias("j"),
                *([F.col(weight)] if weight is not None else []),
            )
            .groupBy("j")
            .agg(agg.alias("cnt"))
        )
        cum = Window.orderBy("i").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            ck.join(buckets, ck.i == buckets.j, "left")
            .select("i", F.coalesce("cnt", F.lit(0)).alias("cnt"))
            .select(
                "i", F.sum("cnt").over(cum).cast("long").alias(out)
            )
        )

    types_at = _bucketed_cumulative(fd, "first_doc", "n_types")
    # the token side never needs the exploded stream — per-bucket token
    # totals are the SUM of per-doc token counts, so a narrow
    # (doc_id, size(toks)) projection replaces a full corpus explode
    # (§2: don't explode what you only count)
    doc_tok = docs.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(toks))
        .cast("long")
        .alias("_nt"),
    )
    tokens_at = _bucketed_cumulative(doc_tok, "doc_id", "n_tokens", weight="_nt")
    terms = (
        tokens_at.join(types_at, "i")
        .where((F.col("n_tokens") > 0) & (F.col("n_types") > 0))
        .select(
            "i",
            F.round(F.log(F.col("n_tokens").cast("double")), 6).alias("x"),
            F.round(F.log(F.col("n_types").cast("double")), 6).alias("y"),
        )
    )
    arr = terms.agg(
        F.count("*").cast("long").alias("k"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "x"))), lambda t: t.x
        ).alias("xs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "y"))), lambda t: t.y
        ).alias("ys"),
    )
    fold = lambda col: F.aggregate(  # noqa: E731 — shared fold shape
        col, F.lit(0.0), lambda acc, v: acc + v
    )
    sums = arr.select(
        "k",
        fold(F.col("xs")).alias("sx"),
        fold(F.col("ys")).alias("sy"),
        fold(F.zip_with("xs", "ys", lambda a, b: a * b)).alias("sxy"),
        fold(F.transform("xs", lambda v: v * v)).alias("sxx"),
    )
    kd = F.col("k").cast("double")
    slope = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        kd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / kd
    return sums.select(
        F.col("k").alias("k_checkpoints"),
        slope.alias("heaps_beta"),
        intercept.alias("heaps_logk"),
    )


# ---------------------------------------------------------------------------
# PCA outlier gate — the SemDeDup-style embedding-space cut that the
# multi-component PCA exists for: score every vector in the trained
# 4-component space, squared distance from the origin of that space,
# drop the top 5% (exact 95th-percentile order-statistic cutoff — score
# ties cross the gate together, the _rank_cutoff convention). Each
# component score is a round-6 dot against plan-literal components; the
# 4-term distance sum is a fixed-order literal expression on both
# engines, so dist2 is bit-identical and the cutoff compare is exact.
# ---------------------------------------------------------------------------
def _pca_outlier_oracle() -> str:
    from review_engine_spark.plans.roster_vector import _pca_topk_ctes

    projs = ",\n    ".join(
        f"""pr{c} AS MATERIALIZED (
        SELECT e.vec_id, round(sum(e.x * v.val), 6) AS s
        FROM e1 e JOIN v{c}_6 v USING (pos) GROUP BY e.vec_id
    )"""
        for c in range(1, 5)
    )
    return (
        _pca_topk_ctes(4, 6)
        + ",\n    "
        + projs
        + ",\n    "
        + """d AS (
        SELECT pr1.vec_id,
               pr1.s * pr1.s + pr2.s * pr2.s + pr3.s * pr3.s
                 + pr4.s * pr4.s AS dist2
        FROM pr1 JOIN pr2 USING (vec_id) JOIN pr3 USING (vec_id)
             JOIN pr4 USING (vec_id)
    ),
    """
        + _rank_cutoff_sql("d", "dist2", 19, 20)
        + """
    SELECT d.vec_id, d.dist2,
           d.dist2 <= cut.c AS keep,
           CASE WHEN d.dist2 <= cut.c THEN 'ok'
                ELSE 'pca_outlier' END AS reason
    FROM d, cut
    """
    )


@declared(oracle=_pca_outlier_oracle())
def q_pca_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier gate over the trained PCA artifact
    (SemDeDup-style curation cut): per-vector squared distance in the
    4-component space, keep iff within the exact 95th-percentile order
    statistic. One narrow projection pass (components are plan
    literals from the persisted artifact) + the D7 broadcast cutoff —
    no shuffle grows with the corpus beyond the cutoff's bounded
    value-grid aggregate."""
    from review_engine_spark.functions.vector import dot_product
    from review_engine_spark.plans.roster_vector import PCA_K, pca_components

    comps = pca_components(spark, sf_dir, k=PCA_K, iters=6)
    emb = read_parquet_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    ss = [
        F.round(
            dot_product(F.col("x"), F.array(*[F.lit(c) for c in comp])), 6
        )
        for comp in comps
    ]
    dist2 = (
        ss[0] * ss[0] + ss[1] * ss[1] + ss[2] * ss[2] + ss[3] * ss[3]
    )
    d = emb.select("vec_id", dist2.alias("dist2"))
    cut = _rank_cutoff(
        d.select("vec_id", F.col("dist2").alias("_d")), "_d", 19, 20
    )
    return d.crossJoin(F.broadcast(cut)).select(
        "vec_id",
        "dist2",
        (F.col("dist2") <= F.col("_cut")).alias("keep"),
        F.when(F.col("dist2") <= F.col("_cut"), F.lit("ok"))
        .otherwise(F.lit("pca_outlier"))
        .alias("reason"),
    )


# ---------------------------------------------------------------------------
# Document-containment dedup (RefinedWeb/FineWeb practice: a document
# wholly CONTAINED in another is a duplicate even when the container
# has extra boilerplate, so symmetric-Jaccard dedup misses it).
# Containment(A in B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| over
# distinct width-8 stride-1 md5 shingles. Candidate pairs come from
# RARE-shingle blocking (2 ≤ df ≤ 20 — the fuzzy-pairs convention:
# pair volume per shingle capped at C(20,2), and a df=1 shingle can
# pair nothing); the exact intersection then runs only over candidate
# pairs (candidate-bounded join, never corpus×corpus). The ≥ 0.8 gate
# is the integer cross-product 5·inter ≥ 4·n (no float tie-break);
# the reported containment is a raw division of engine-identical
# BIGINTs.
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    c AS (
        SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS pos
        FROM t WHERE len(toks) >= 8
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(toks[pos:pos + 7], ' ')) AS h
        FROM c
    ),
    n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns FROM sh GROUP BY 1),
    df AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
    rare AS (SELECT h FROM df WHERE df BETWEEN 2 AND 20),
    cand AS (
        SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        FROM sh a JOIN rare USING (h) JOIN sh b USING (h)
        WHERE a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.h = sa.h
        GROUP BY c.a, c.b
    ),
    directed AS (
        SELECT i.a AS contained_id, i.b AS container_id, i.i,
               na.ns AS n_shingles
        FROM inter i JOIN n na ON na.doc_id = i.a
        WHERE 5 * i.i >= 4 * na.ns
        UNION ALL
        SELECT i.b AS contained_id, i.a AS container_id, i.i,
               nb.ns AS n_shingles
        FROM inter i JOIN n nb ON nb.doc_id = i.b
        WHERE 5 * i.i >= 4 * nb.ns
    )
    SELECT contained_id, container_id,
           i AS n_shared, n_shingles,
           CAST(i AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS containment
    FROM directed
    """
)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: documents ≥ 80% shingle-contained in another
    document (both directions of each candidate pair evaluated). Rare-
    shingle blocking generates candidates; the exact intersection is
    candidate-bounded; the gate is an exact integer cross-product."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).withColumn(
        "nt", F.size("toks")
    )
    idx = F.when(
        F.col("nt") - 7 >= 1, F.sequence(F.lit(1), F.col("nt") - 7)
    ).otherwise(F.array().cast("array<int>"))
    sh = (
        base.select(
            "doc_id", "toks", F.posexplode(idx).alias("_i", "pos")
        )
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("pos"), 8))).alias(
                "h"
            ),
        )
        .distinct()
    )
    # The shingle frame is the query's lightweight proxy (doc_id, md5) —
    # and it feeds SIX consumers (per-doc counts, df blocking, both cand
    # sides, both inter sides). Unmaterialized, every consumer re-ran
    # the corpus tokenize+shingle+md5+distinct: 14 documents scans in
    # the initial plan. Materialize it once (semantic-dedup checkpoint
    # convention); everything downstream is candidate-bounded.
    sh = iter_checkpoint(sh)
    n = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("ns"))
    rare = (
        sh.groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df").between(2, 20))
        .select("h")
    )
    sa = sh.select(F.col("doc_id").alias("a"), "h")
    sb = sh.select(F.col("doc_id").alias("b"), "h")
    cand = (
        sa.join(rare.hint("shuffle_hash"), "h")
        .join(sb, "h")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    inter = (
        cand.join(sa, "a")
        .join(sb, ["b", "h"])
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("i"))
    )
    na = n.select(F.col("doc_id").alias("a"), F.col("ns").alias("ns_a"))
    nb = n.select(F.col("doc_id").alias("b"), F.col("ns").alias("ns_b"))
    j = inter.join(na, "a").join(nb, "b")
    # Both directions of each candidate pair from ONE pass over the
    # intersection frame (the round-13 cooccur/copurchase pattern):
    # the union-of-filtered-projections form planned the whole
    # candidate/intersection subtree once per branch.
    out = (
        j.select(
            "i",
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("contained_id"),
                        F.col("b").alias("container_id"),
                        F.col("ns_a").alias("n_shingles"),
                    ),
                    F.struct(
                        F.col("b").alias("contained_id"),
                        F.col("a").alias("container_id"),
                        F.col("ns_b").alias("n_shingles"),
                    ),
                )
            ).alias("d"),
        )
        .where(5 * F.col("i") >= 4 * F.col("d.n_shingles"))
        .select(
            F.col("d.contained_id").alias("contained_id"),
            F.col("d.container_id").alias("container_id"),
            F.col("i").alias("n_shared"),
            F.col("d.n_shingles").alias("n_shingles"),
        )
    )
    return out.select(
        "contained_id",
        "container_id",
        "n_shared",
        "n_shingles",
        (
            F.col("n_shared").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("containment"),
    )

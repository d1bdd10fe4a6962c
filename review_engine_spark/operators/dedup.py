"""Deduplication operators (SURVEY §2.K; BASELINE.json north star).

Three text tiers plus one embedding tier (exact dedup is a plain
groupBy on normalized text, ``q_dedup_exact``):

- MinHash+LSH:  shingle → minhash signature → banded bucket join
- SimHash:      per-token hash bit votes → 64-bit signature → hamming
- n-gram Jaccard: shingle-set intersection/union on candidate pairs
- embedding:    random-hyperplane signature → banded join → exact cosine

MinHash and n-gram Jaccard are pure DataFrame expressions. The
SimHash and random-hyperplane signatures are pandas UDFs (numpy per
Arrow batch); the banding, candidate joins and verification after them
are DataFrame ops again.

Scale design: every candidate-generation step shuffles 8-byte keys (never
document bodies); verification joins happen only on LSH-bucket candidate
pairs, so the O(N²) all-pairs comparison is avoided. Skewed buckets
(boilerplate text) are handled by AQE skew-join splitting plus the
``max_bucket_size`` guard that drops degenerate buckets.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from review_engine_spark.functions.text import alnum_tokens
from review_engine_spark.operators.cluster import iter_checkpoint

__all__ = [
    "normalize_text",
    "shingle_hash_rows",
    "minhash_signatures",
    "md5_minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_signatures_batch",
    "simhash_near_dups",
    "hamming_distance",
    "ngram_jaccard_pairs",
    "rh_signatures_batch",
    "embedding_near_dups",
    "contamination_check",
]


def normalize_text(col: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def shingle_hash_rows(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """One row per k-token shingle: ``(id, pos, h)`` with h =
    xxhash64(shingle string).

    ZERO-shuffle narrow form: the token array is materialized as a
    column ONCE, shingle start indexes posexplode out of it, and each
    shingle is a ``slice`` of the materialized array — O(k) per shingle,
    inside one codegen stage, partitioning inherited from the scan. Two
    forms this replaces, both rejected on measurement:

    - ``transform(indices, i -> hash(concat(slice(tokens, i, k))))``
      with the token pipeline INSIDE the lambda re-evaluates it per
      element — O(n²) per document, 100×+ slower on real documents.
      (Slicing a *materialized column* does not have this hazard — the
      same pattern chunk_documents uses.)
    - posexplode + ``rowsBetween(0, k-1)`` collect_list window: O(n)
      per document but forces a partitionBy(id) shuffle + sort of every
      token row — at corpus scale that shuffle IS the job. The narrow
      form deletes it (measured ~2× on the minhash pipeline locally;
      the gap widens with data since the shuffle was the scale cost).
    """
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
    )
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    n_sh = F.size("_toks") - (k - 1)
    idx = F.when(n_sh >= 1, F.sequence(F.lit(0), n_sh - 1)).otherwise(
        F.array().cast("array<int>")
    )
    ex = staged.select(
        F.col(id_col), F.col("_toks"), F.posexplode(idx).alias("pos", "_i")
    )
    return ex.select(
        F.col(id_col),
        F.col("pos").cast("int").alias("pos"),
        F.xxhash64(
            F.concat_ws(" ", F.slice("_toks", F.col("_i") + 1, k))
        ).alias("h"),
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 64, k: int = 3
) -> DataFrame:
    """MinHash signatures as ``(id, sig: array<bigint>)``.

    Hash family: h_s(shingle) = xxhash64(shingle_hash, s) for seed s — each
    shingle string is hashed once, then the ``num_hashes`` family members are
    8-byte mixes computed inside ONE hash aggregation (map-side partial
    combine ⇒ the shuffle carries num_hashes longs per document regardless
    of document length; duplicate shingles are harmless under min)."""
    sh = shingle_hash_rows(df, text_col, id_col, k)
    mins = [
        F.min(F.xxhash64(F.col("h"), F.lit(s))).alias(f"_m{s}")
        for s in range(num_hashes)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{s}") for s in range(num_hashes)]).alias("sig"),
    )


def md5_minhash_signatures(docs: DataFrame, n_seeds: int) -> DataFrame:
    """md5 MinHash signatures of ``(doc_id, text)`` documents as
    ``(doc_id, sig0 .. sig{n_seeds - 1})``: ``alnum_tokens`` → word
    3-shingles → per seed s, the min of md5("s|" || shingle). md5 is
    bit-identical in DuckDB, so the oracles replay every step
    (``plans._oracle.sql_minhash_sigs``); ``minhash_signatures``' xxhash64
    family is not. Documents with fewer than 3 tokens have no shingles
    and are dropped."""
    toks = docs.select("doc_id", alnum_tokens(F.col("text")).alias("toks"))
    sh = toks.filter(F.size("toks") >= 3).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i + 1),
                F.element_at(F.col("toks"), i + 2),
                F.element_at(F.col("toks"), i + 3),
            ),
        ).alias("sh"),
    )

    def seed_hash(seed: int):
        # a factory, not ``lambda x, s=seed:``: F.transform binds a
        # second lambda parameter to the element INDEX
        return lambda x: F.md5(F.concat(F.lit(f"{seed}|"), x))

    return sh.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("sh"), seed_hash(s))).alias(f"sig{s}")
            for s in range(n_seeds)
        ],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    min_jaccard: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    shingle → signature → split into ``bands`` bands of r rows → hash each
    band → self-join on (band_idx, band_hash) → verify estimated Jaccard
    (signature agreement fraction). With b=16, r=4 the S-curve threshold is
    (1/b)^(1/r) ≈ 0.5. Buckets larger than ``max_bucket_size`` are dropped
    (boilerplate guard): a single 10^5-doc bucket would reintroduce O(N²).

    Runs one eager job when called: the signature checkpoint.
    """
    rows_per_band = num_hashes // bands
    # The signature table is consumed three times (banding + both sides of
    # the candidate verification join); the checkpoint materializes the
    # shingle → minhash pipeline ONCE instead of re-running it per
    # consumer. Size is bounded: num_hashes longs + key per document
    # (~0.5 KB/doc), spilling to disk if the corpus is huge.
    sig = iter_checkpoint(minhash_signatures(df, text_col, id_col, num_hashes))
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    # banded rows carry (id, band, band_hash) ONLY — 24 bytes each. The
    # signature is projected away before any shuffle (the explode and the
    # band-hash slice happen inside one codegen stage); it is joined back
    # per candidate pair below instead of riding the ×bands self-join
    # (candidates ≪ banded rows for any non-degenerate corpus).
    banded = sig.select(F.col(id_col), F.col("sig"), band_idx).select(
        F.col(id_col),
        F.col("band"),
        F.xxhash64(
            F.col("band"),
            F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band),
        ).alias("band_hash"),
    )
    bucket_sizes = banded.groupBy("band", "band_hash").agg(
        F.count("*").alias("bucket_n")
    )
    # bucket_sizes is O(#buckets) ≈ O(N) — NEVER broadcastable. The
    # explicit shuffle_hash hint pins the physical strategy: a size
    # threshold that happens to admit it at some corpus size would
    # broadcast an O(corpus) table and OOM the driver (observed at 100k
    # docs with a 64 MB threshold).
    banded = banded.join(
        bucket_sizes.filter(F.col("bucket_n") <= max_bucket_size).hint(
            "shuffle_hash"
        ),
        ["band", "band_hash"],
    ).select("band", "band_hash", id_col)
    left = banded.select("band", "band_hash", F.col(id_col).alias("left_id"))
    right = banded.select("band", "band_hash", F.col(id_col).alias("right_id"))
    # both banding sides scale with the corpus — pin shuffle_hash (see
    # bucket_sizes note above)
    cand = (
        left.join(right.hint("shuffle_hash"), ["band", "band_hash"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    lsig = sig.select(F.col(id_col).alias("left_id"), F.col("sig").alias("left_sig"))
    rsig = sig.select(F.col(id_col).alias("right_id"), F.col("sig").alias("right_sig"))
    est = (
        F.size(
            F.filter(
                F.zip_with("left_sig", "right_sig", lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.size("left_sig")
    ).alias("est_jaccard")
    # The signature tables are O(corpus); hint them shuffle_hash for the
    # same reason as bucket_sizes above — the verification join must
    # shuffle on ids, never broadcast signatures.
    return (
        cand.join(lsig.hint("shuffle_hash"), "left_id")
        .join(rsig.hint("shuffle_hash"), "right_id")
        .select("left_id", "right_id", est)
        .filter(F.col("est_jaccard") >= min_jaccard)
    )


def simhash_signatures_batch(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """SimHash signatures, Arrow-batched numpy path (64-bit).

    Per token, a 64-bit hash (pandas siphash, fixed key → deterministic
    across executors); each bit votes +1 if set else -1; signature bit b
    = 1 iff the vote sum of bit b is positive. Computed per Arrow batch
    with one ``reduceat`` segment-sum — no token explode, no shuffle;
    the signature never leaves the scan partition. Documents with no
    tokens yield NULL and are dropped.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(texts: pd.Series) -> pd.Series:
        import numpy as np

        if len(texts) == 0:
            return pd.Series([], dtype="Int64")
        tok_lists = texts.fillna("").str.lower().str.findall(r"\S+")
        counts = tok_lists.str.len().to_numpy(dtype=np.int64)
        out = pd.array([pd.NA] * len(texts), dtype="Int64")
        nonzero = counts > 0
        if nonzero.any():
            flat = [t for toks in tok_lists[nonzero] for t in toks]
            h = pd.util.hash_pandas_object(
                pd.Series(flat, dtype=object), index=False
            ).to_numpy()
            bits = np.unpackbits(
                h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            ).astype(np.int32)
            votes = 2 * bits - 1
            nz_counts = counts[nonzero]
            starts = np.concatenate(([0], np.cumsum(nz_counts)[:-1]))
            sums = np.add.reduceat(votes, starts, axis=0)
            sig_bits = (sums > 0).astype(np.uint8)
            packed = np.packbits(sig_bits, axis=1, bitorder="little")
            sigs = packed.copy().view(np.int64).reshape(-1)
            out[np.flatnonzero(nonzero)] = sigs
        return pd.Series(out, dtype="Int64")

    return df.select(F.col(id_col), _sig(F.col(text_col)).alias("sig")).filter(
        F.col("sig").isNotNull()
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count — one JVM intrinsic."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into
    ``max_hamming + 1`` blocks (pigeonhole: hamming ≤ h ⇒ at least one of
    h+1 blocks equal), join on (block_idx, block), verify exact hamming.
    Candidate shuffle is 8-byte keys. Signatures come from the
    Arrow-batched path and are checkpointed (one eager job when called):
    both sides of the banding self-join consume them, and the table is
    two longs per doc."""
    sigs = iter_checkpoint(simhash_signatures_batch(df, text_col, id_col))
    n_blocks = min(max_hamming + 1, 32)
    base, rem = divmod(64, n_blocks)
    # shift amounts must be Python ints — build the banded rows as an
    # exploded literal-struct array; first `rem` blocks get base+1 bits
    widths = [base + 1 if b < rem else base for b in range(n_blocks)]
    offsets = [sum(widths[:b]) for b in range(n_blocks)]
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftright(F.col("sig"), offsets[b])
                .bitwiseAND(F.lit((1 << widths[b]) - 1))
                .alias("blk_val"),
            )
            for b in range(n_blocks)
        ]
    )
    banded = sigs.select(
        F.col(id_col), "sig", F.explode(blocks).alias("bb")
    ).select(F.col(id_col), "sig", F.col("bb.blk").alias("blk"), F.col("bb.blk_val").alias("blk_val"))
    left = banded.select(
        "blk", "blk_val", F.col(id_col).alias("left_id"), F.col("sig").alias("lsig")
    )
    right = banded.select(
        "blk", "blk_val", F.col(id_col).alias("right_id"), F.col("sig").alias("rsig")
    )
    # both banding sides scale with the corpus — pin shuffle_hash so no
    # size threshold ever broadcasts an O(N) table
    return (
        left.join(right.hint("shuffle_hash"), ["blk", "blk_val"])
        .filter(F.col("left_id") < F.col("right_id"))
        .dropDuplicates(["left_id", "right_id"])
        .select(
            "left_id",
            "right_id",
            hamming_distance(F.col("lsig"), F.col("rsig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def rh_signatures_batch(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_bits: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane LSH signatures, Arrow-batched numpy path.

    One long per vector: bit b = sign of the projection onto
    pseudo-random hyperplane b. Collision probability of bit b for two
    vectors is 1 − θ/π (Charikar's SimHash for cosine), so banding the
    signature gives a cosine-near-dup candidate generator. Computed as
    a single BLAS matmul per Arrow batch — measured ~50× per-row faster
    on 64-dim vectors than num_bits higher-order-function folds per
    row. The plane matrix is derived from a fixed seed, so every
    executor generates identical planes with no broadcast and no stored
    state.
    """
    if not 0 < num_bits < 64:
        raise ValueError("num_bits must be in [1, 63] to fit a signed long")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        X = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        planes = np.random.default_rng(seed).standard_normal(
            (X.shape[1], num_bits)
        )
        bits = (X @ planes > 0.0).astype(np.int64)
        weights = np.left_shift(np.int64(1), np.arange(num_bits, dtype=np.int64))
        return pd.Series(bits @ weights)

    return df.select(F.col(id_col), _sig(F.col(vec_col)).alias("sig"))


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    min_cosine: float = 0.8,
    num_bits: int | None = None,
    n_blocks: int = 4,
    target_bucket: int = 64,
    max_bucket_size: int = 20_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH.

    signature → band into ``n_blocks`` blocks (pigeonhole: two signatures
    within hamming ≤ n_blocks−1 share a block) → equi-join on
    (block, value) → exact cosine verification on the candidate pairs.

    Band width SCALES WITH THE CORPUS (the blocking-key-cardinality
    rule): when ``num_bits`` is None it is derived as

        n_blocks · max(4, ceil(log2(N / target_bucket)))

    so expected bucket size stays ~``target_bucket`` as N grows. A
    fixed width is the classic latent O(N²): at 8-bit bands a 100×
    corpus packs ~780 rows per bucket value and the banding self-join
    explodes to ~600M candidate pairs (measured: filled the stress
    box's disk with shuffle spill before round 7 made the width
    data-sized). Buckets larger than ``max_bucket_size`` are dropped
    outright — same boilerplate guard as ``minhash_lsh_pairs``: a
    degenerate bucket (a mass of near-identical vectors) contributes
    O(bucket²) candidates and nothing a sane near-dup report needs.

    The banding join shuffles (id, 8-byte block) rows only; vectors are
    joined back by id for verification, so the wide rows move just for
    the (few) candidates — the all-pairs O(N²) crossJoin of
    q_near_dup_embedding never happens. Signatures come from the
    Arrow-batched matmul path and are checkpointed (one eager job when
    called) because both sides of the banding self-join consume them
    (id + one long per row — tiny, spills if not).
    """
    import math

    from review_engine_spark.functions.vector import cosine_similarity

    if num_bits is None:
        n = df.count()  # 1-row agg — bounded driver work at any corpus
        width = max(4, math.ceil(math.log2(max(2.0, n / target_bucket))))
        num_bits = n_blocks * width
    sigs = iter_checkpoint(rh_signatures_batch(df, vec_col, id_col, num_bits))
    base, rem = divmod(num_bits, n_blocks)
    widths = [base + 1 if b < rem else base for b in range(n_blocks)]
    offsets = [sum(widths[:b]) for b in range(n_blocks)]
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftright(F.col("sig"), offsets[b])
                .bitwiseAND(F.lit((1 << widths[b]) - 1))
                .alias("blk_val"),
            )
            for b in range(n_blocks)
        ]
    )
    banded = sigs.select(F.col(id_col), F.explode(blocks).alias("bb")).select(
        F.col(id_col), F.col("bb.blk").alias("blk"), F.col("bb.blk_val").alias("blk_val")
    )
    bucket_sizes = banded.groupBy("blk", "blk_val").agg(
        F.count("*").alias("bucket_n")
    )
    banded = banded.join(
        bucket_sizes.filter(F.col("bucket_n") <= max_bucket_size).hint(
            "shuffle_hash"
        ),
        ["blk", "blk_val"],
    ).drop("bucket_n")
    left = banded.select("blk", "blk_val", F.col(id_col).alias("left_id"))
    right = banded.select("blk", "blk_val", F.col(id_col).alias("right_id"))
    # banding sides and the vector join-backs all scale with the corpus —
    # pin shuffle_hash so no size threshold ever broadcasts an O(N) table
    cand = (
        left.join(right.hint("shuffle_hash"), ["blk", "blk_val"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    lv = df.select(F.col(id_col).alias("left_id"), F.col(vec_col).alias("lv"))
    rv = df.select(F.col(id_col).alias("right_id"), F.col(vec_col).alias("rv"))
    return (
        cand.join(lv.hint("shuffle_hash"), "left_id")
        .join(rv.hint("shuffle_hash"), "right_id")
        .select(
            "left_id",
            "right_id",
            F.round(cosine_similarity(F.col("lv"), F.col("rv")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= min_cosine)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (all-pairs form — cap the
    input or feed LSH candidates at scale).

    Tokens are materialized as a column before the shingle transform so
    the per-shingle slice is linear (building the tokens inside the
    lambda would re-evaluate the token pipeline per element —
    O(n²)/doc)."""
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
    )
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    n_sh = F.size("_toks") - (n - 1)
    idx = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    sh = staged.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice("_toks", i, n)))
        ).alias("sh"),
    ).filter(F.size("sh") > 0)
    left = sh.select(F.col(id_col).alias("left_id"), F.col("sh").alias("lsh"))
    right = sh.select(F.col(id_col).alias("right_id"), F.col("sh").alias("rsh"))
    pairs = left.join(right, F.col("left_id") < F.col("right_id"))
    jac = (
        F.size(F.array_intersect("lsh", "rsh"))
        / F.size(F.array_union("lsh", "rsh"))
    ).alias("jaccard")
    return pairs.select("left_id", "right_id", F.round(jac, 6).alias("jaccard")).filter(
        F.col("jaccard") >= min_jaccard
    )


def contamination_check(
    corpus: DataFrame,
    probes: DataFrame,
    text_col: str,
    id_col: str,
    probe_id_col: str = "probe_id",
    k: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination scan: for each (training doc, probe doc)
    pair, the count and fraction of the probe's distinct k-token shingles
    that appear verbatim in the training doc — the standard n-gram
    overlap test run before a pretraining corpus ships (probes = eval
    benchmark items).

    Output: (id, probe_id, n_shared, probe_n, overlap_frac) for pairs
    with n_shared >= min_shared.

    Scale shape: both sides reduce to distinct (id, shingle-hash) rows —
    the join carries 8-byte hashes, never text — and the probe side (a
    benchmark, thousands of rows, not billions) is broadcast, so the
    corpus never shuffles. Equality on xxhash64 stands in for equality
    on the shingle string (collision odds ~n²/2⁶⁴; an oracle that joins
    on the raw shingle text agrees except on such collisions).
    """
    c = (
        shingle_hash_rows(corpus, text_col, id_col, k)
        .select(F.col(id_col), "h")
        .distinct()
    )
    p_rows = shingle_hash_rows(probes, text_col, id_col, k).select(
        F.col(id_col).alias(probe_id_col), "h"
    ).distinct()
    probe_n = p_rows.groupBy(probe_id_col).agg(F.count("*").alias("probe_n"))
    shared = (
        c.join(F.broadcast(p_rows), "h")
        .groupBy(id_col, probe_id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return shared.join(F.broadcast(probe_n), probe_id_col).select(
        F.col(id_col),
        F.col(probe_id_col),
        F.col("n_shared"),
        F.col("probe_n"),
        F.round(F.col("n_shared") / F.col("probe_n").cast("double"), 6).alias(
            "overlap_frac"
        ),
    )

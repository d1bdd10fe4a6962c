"""Document chunking and embedding quantization — training-data /
RAG-corpus preparation operators (north-star §2.K family).

The reference's RAG store holds one whole-document blob per product
(`rag.py:49-52`); a real corpus is chunked into overlapping token
windows before embedding, and stored vectors are usually quantized.
Both operators here are pure expression compositions (JVM-side,
oracle-checkable) — no Python in the hot path.

Scale notes (100 TB): chunking is a narrow map + explode (no shuffle;
output partitioning follows the input scan), and the chunk count per
document is ceil((n_tok - overlap) / stride) so output size is linear
in corpus token count. Quantization is a per-row map that cuts vector
storage 4× (float32 → int8 semantics carried as small ints); the scale
factor survives in a side column for dequantization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "chunk_tokens",
    "chunk_documents",
    "quantize_vector",
    "dequantize_vector",
    "pack_sequences",
    "id_hash_frac",
    "assign_split",
    "stratified_sample",
]


def chunk_tokens(col: Column) -> Column:
    """Whitespace tokens of a lowercased document (empty tokens dropped)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunks: (id, chunk_idx, chunk_text, n_tok).

    Windows start every ``stride`` tokens and span ``chunk_size``; the
    final short window is kept iff it adds unseen tokens (start < n).
    Implemented as sequence → transform → posexplode: the token array is
    a materialized column, so the per-chunk slice does not re-run the
    tokenizer (the O(n²)-per-doc HOF pitfall — NOTES.md).
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    toks = docs.select(
        F.col(id_col), chunk_tokens(F.col(text_col)).alias("toks")
    ).withColumn("n", F.size("toks"))
    starts = F.when(
        F.col("n") > 0,
        F.sequence(
            F.lit(0),
            ((F.col("n") - 1) / stride).cast("int") * stride,
            F.lit(stride),
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunks = toks.select(
        F.col(id_col),
        F.col("toks"),
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    piece = F.slice(F.col("toks"), F.col("start") + 1, chunk_size)
    return chunks.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tok"),
    )


def quantize_vector(v: Column) -> tuple[Column, Column]:
    """Symmetric int8-style quantization: returns (codes, scale).

    codes[i] = round(127 * v[i] / max_abs(v)) as small ints; scale =
    max_abs / 127 reconstructs values. Zero vectors quantize to all-zero
    codes with scale 0. Deterministic: round-half-up on both engines is
    avoided by using bankers-insensitive floor(x + 0.5) semantics via
    round() on a value already scaled to integral grid — DuckDB and
    Spark agree on round() for .5 cases away from float noise, so codes
    are computed from round(x, 0) after a 6-digit pre-round.
    """
    max_abs = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = max_abs / F.lit(127.0)
    codes = F.when(
        max_abs > 0.0,
        F.transform(
            v,
            lambda x: F.round(F.round(x.cast("double") / scale, 6), 0).cast(
                "long"
            ),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    return codes, F.round(scale, 9)


def dequantize_vector(codes: Column, scale: Column) -> Column:
    """Inverse of ``quantize_vector``: codes[i] * scale."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


def pack_sequences(
    df: DataFrame,
    n_col: str,
    id_col: str,
    budget: int = 512,
    n_shards: int = 32,
) -> DataFrame:
    """Sequence packing for training-batch prep: group documents into
    packs of ~``budget`` tokens using deterministic contiguous fill —
    doc d joins the pack at floor(tokens-before-d / budget) within its
    shard, so a document straddling a boundary overflows its pack rather
    than splitting (closed-form, SQL-mirrorable; exact capped bin-packing
    needs a sequential scan and lives behind applyInPandas if ever
    needed — corpus docs ≪ budget make the overflow negligible).

    Scale shape: a single global ordering would be one reducer, so
    packing runs per shard (``pmod(id, n_shards)``) — n_shards
    independent window sorts, deterministic pack membership regardless
    of cluster layout. pack_id = shard·2⁴⁰ + local pack ordinal.

    Returns (id, n, shard, pack_id, pack_pos).
    """
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(id_col)
    cum_before = F.coalesce(
        F.sum(n_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    staged = df.select(
        F.col(id_col), F.col(n_col), shard.alias("shard")
    ).withColumn("_local", F.floor(cum_before / budget))
    wp = Window.partitionBy("shard", "_local").orderBy(id_col)
    return staged.select(
        F.col(id_col),
        F.col(n_col),
        F.col("shard"),
        (F.col("shard").cast("long") * (1 << 40) + F.col("_local")).alias(
            "pack_id"
        ),
        F.row_number().over(wp).cast("long").alias("pack_pos"),
    )


#: 2^31 — the modulus of the engine's LCG hash (``_lcg``).
_M = 2147483648


def _lcg(expr: Column) -> Column:
    """One LCG step over ``expr mod 2^31`` → integer in [0, 2^31) — the
    hash ``id_hash_frac`` describes. Pure 64-bit-safe integer arithmetic
    ((2^31)·1103515245 < 2^62)."""
    return F.pmod(
        F.pmod(expr, F.lit(_M)) * F.lit(1103515245) + F.lit(12345), F.lit(_M)
    )


def id_hash_frac(id_col: str) -> Column:
    """Deterministic uniform-ish fraction in [0, 1) from an integer id:
    one 31-bit LCG step (a=1103515245, c=12345 — the classic ANSI-C
    constants) over ``id mod 2³¹``. Pure integer arithmetic that
    evaluates identically in Spark and any SQL oracle, with no reliance
    on engine-specific hash functions — the basis for splits, sampling,
    cluster seeding and shuffles that must be stable across runs,
    engines, partitionings.
    """
    return _lcg(F.col(id_col)).cast("double") / F.lit(float(_M))


def assign_split(
    df: DataFrame,
    id_col: str,
    train: float = 0.9,
    val: float = 0.05,
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash: stable across
    runs, engines, and partitionings (the property random() splits lack),
    so downstream joins against either side never leak. Adds ``split``.
    """
    frac = id_hash_frac(id_col)
    return df.withColumn(
        "split",
        F.when(frac < train, F.lit("train"))
        .when(frac < train + val, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-mixing knob of
    a pretraining pipeline (e.g. keep 50% of English, 20% of everything
    else). Row kept iff id_hash_frac(id) < rate(stratum); no rand(), so
    reruns, retries, and different partitionings keep identical rows,
    and the sample composes with assign_split without correlation only
    if the two use different hash constants — callers needing both
    should offset ids (documented limitation of the single LCG).
    """
    rate = F.lit(float(default_rate))
    for value, r in rates.items():
        rate = F.when(F.col(stratum_col) == value, F.lit(float(r))).otherwise(rate)
    return df.filter(id_hash_frac(id_col) < rate)


def length_bucket_batches(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    bucket_width: int = 16,
    batch_size: int = 8,
) -> DataFrame:
    """Length-bucketed batch assembly — the padding-minimizing trainer
    feed: rows bucket by ``floor(n_tokens / bucket_width)`` so each
    batch holds similarly-sized sequences (padding waste bounded by
    ``bucket_width - 1`` tokens/row), then get deterministic
    ``batch_id`` / ``pos_in_batch`` from an id-ordered rank within the
    bucket. Complements ``pack_sequences`` (greedy budget fill): packing
    concatenates into fixed contexts, bucketing preserves one-doc-per-
    row training.

    One exchange on the bucket key; ranks are per-bucket (buckets are
    bounded by max_len/width, so no global-window bottleneck — same
    sharding posture as assign_global_ids).
    """
    from pyspark.sql import Window

    bucket = F.floor(F.col(n_tokens_col) / F.lit(int(bucket_width))).cast(
        "long"
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    ranked = df.select(
        F.col(id_col), F.col(n_tokens_col), bucket.alias("bucket")
    ).withColumn("_rk", F.row_number().over(w) - 1)
    return ranked.select(
        id_col,
        n_tokens_col,
        "bucket",
        (F.col("_rk") / F.lit(int(batch_size)))
        .cast("long")
        .alias("batch_id"),
        F.pmod(F.col("_rk"), F.lit(int(batch_size))).cast("long").alias(
            "pos_in_batch"
        ),
    )

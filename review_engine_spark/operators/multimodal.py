"""Multimodal (image/audio/video) column operators (SURVEY §2.A A6, §2.K).

Convention: media payloads are opaque ``binary`` columns plus typed
metadata (schemas.MEDIA_SCHEMA). The reference fetches image URLs into
PIL images inline (summarize.py:28-35); at scale fetch/decode are
Arrow-batched ``mapInPandas`` stages placed AFTER every limit/top-k cut
(SURVEY §4.3.3 — the reference's own cap, summarize.py:76, becomes
``slice(images, 1, n)`` pushed below the fetch).

The decode kernels are STUBBED deterministically (image/audio libs are
not in this container): the Spark-side plumbing — schema, batch iterator
shape, partitioning — is real and tested; swap `_decode_stub` for a
PIL/ffmpeg call in production.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "attach_media_binary",
    "decode_image_meta",
    "image_features",
    "sample_video_frames",
    "resize_images",
    "audio_fingerprint",
    "DECODED_META_SCHEMA",
]


def attach_media_binary(df: DataFrame, url_col: str, out_col: str = "content") -> DataFrame:
    """Deterministic fake of the HTTP fetch (summarize.py:28-35): bytes
    derived from the URL hash. Real impl: a mapInPandas stage doing
    pooled HTTP GETs — still AFTER the final limit."""
    return df.withColumn(
        out_col, F.sha2(F.col(url_col).cast("binary"), 256).cast("binary")
    )


DECODED_META_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("format", StringType()),
    ]
)


def _decode_stub(payload: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for an image decoder. Production:
    PIL.Image.open(io.BytesIO(payload)) — raise NotImplementedError paths
    stay identical."""
    if payload is None:
        raise ValueError("null payload")
    h = hashlib.md5(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, ["jpeg", "png", "webp"][h[2] % 3]


def decode_image_meta(df: DataFrame, id_col: str = "media_id", content_col: str = "content") -> DataFrame:
    """mapInPandas decode stage: binary → (width, height, n_bytes, format).

    Arrow-batched; one Python worker pass per partition. Errors are
    skipped per-row (dirty payloads must not kill a 100 TB job)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[content_col]):
                try:
                    w, h, fmt = _decode_stub(payload)
                    rows.append((str(mid), w, h, len(payload), fmt))
                except Exception:  # noqa: BLE001 — skip dirty payloads
                    continue
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "n_bytes", "format"]
            )

    return df.select(id_col, content_col).mapInPandas(decode, DECODED_META_SCHEMA)


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def image_features(df: DataFrame, id_col: str = "media_id", content_col: str = "content", dim: int = 8) -> DataFrame:
    """Feature-extraction stage shape (stubbed): binary → array<double>.
    Production: a predict_batch_udf wrapping a vision encoder."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[content_col]):
                if payload is None:
                    continue
                dig = hashlib.md5(bytes(payload)).digest()
                vec = [dig[i] / 255.0 for i in range(dim)]
                rows.append((str(mid), vec))
            yield pd.DataFrame(rows, columns=["media_id", "features"])

    return df.select(id_col, content_col).mapInPandas(featurize, FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", StringType()),  # stub: digest; real: binary
    ]
)


def sample_video_frames(df: DataFrame, id_col: str = "media_id", content_col: str = "content", every_n: int = 10) -> DataFrame:
    """Frame-sampling stage shape (stubbed 1:N flatMap): one input row →
    sampled frame rows. Real impl decodes via ffmpeg per batch."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[content_col]):
                if payload is None:
                    continue
                n_frames = 1 + hashlib.md5(bytes(payload)).digest()[0] % 5
                for i in range(n_frames):
                    frame_digest = hashlib.md5(bytes(payload) + bytes([i])).hexdigest()
                    rows.append((str(mid), i * every_n, frame_digest))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return df.select(id_col, content_col).mapInPandas(sample, FRAME_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("content", StringType()),  # stub: digest; real: binary
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(
    df: DataFrame,
    width: int = 224,
    height: int = 224,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Resize stage shape (stubbed): binary → resized payload at the
    model's input resolution — the standard pre-embedding normalization
    pass. Production swaps the digest stub for
    ``PIL.Image.open(...).resize((width, height))`` re-encoded per
    batch; schema, Arrow batch iteration, and per-row error skipping
    are the real contract. Dirty payloads are dropped, not fatal."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[content_col]):
                if payload is None:
                    continue
                digest = hashlib.md5(
                    bytes(payload) + f"{width}x{height}".encode()
                ).hexdigest()
                rows.append((str(mid), digest, width, height))
            yield pd.DataFrame(
                rows, columns=["media_id", "content", "width", "height"]
            )

    return df.select(id_col, content_col).mapInPandas(resize, RESIZED_SCHEMA)


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("fingerprint", ArrayType(LongType())),
        StructField("n_windows", IntegerType()),
    ]
)


def audio_fingerprint(
    df: DataFrame,
    window_bytes: int = 16,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Audio fingerprint stage shape (stubbed chromaprint analog): the
    payload is windowed and each window hashes to one code — the
    audio-dedup key (near-dup audio joins on banded fingerprint codes,
    exactly like MinHash bands join for text). Production decodes PCM
    and computes spectral peaks per window; the windowing, schema, and
    per-row skip contract are real."""

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[content_col]):
                if payload is None:
                    continue
                b = bytes(payload)
                codes = []
                for s in range(0, len(b), window_bytes):
                    win = b[s:s + window_bytes]
                    codes.append(
                        int.from_bytes(
                            hashlib.md5(win).digest()[:8], "big", signed=True
                        )
                    )
                rows.append((str(mid), codes, len(codes)))
            yield pd.DataFrame(
                rows, columns=["media_id", "fingerprint", "n_windows"]
            )

    return df.select(id_col, content_col).mapInPandas(fp, AUDIO_FP_SCHEMA)

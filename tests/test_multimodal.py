"""Tests: multimodal binary-column stages (stubbed decode, real plumbing).

The decode kernels are deterministic fakes (no image/audio libs in this
container); what these tests pin is the Spark-side contract — schemas,
mapInPandas batch iteration, per-row dirty-payload skipping, 1:N frame
fan-out — which is identical when the stub is swapped for PIL/ffmpeg.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from review_engine_spark.operators.multimodal import (
    attach_media_binary,
    audio_fingerprint,
    decode_image_meta,
    resize_images,
    sample_video_frames,
)


def _media(spark, n=5, scheme="img"):
    df = spark.createDataFrame(
        [(str(i), f"{scheme}://m/{i}") for i in range(n)],
        "media_id string, url string",
    )
    return attach_media_binary(df, "url")


def test_decode_meta_schema_and_determinism(spark):
    out1 = {r["media_id"]: r.asDict() for r in decode_image_meta(_media(spark)).collect()}
    out2 = {r["media_id"]: r.asDict() for r in decode_image_meta(_media(spark)).collect()}
    assert out1 == out2 and len(out1) == 5
    for r in out1.values():
        assert 64 <= r["width"] <= 255 and 64 <= r["height"] <= 255
        # payload = sha2 hex digest cast to binary = 64 bytes
        assert r["format"] in {"jpeg", "png", "webp"} and r["n_bytes"] == 64


def test_decode_skips_null_payloads(spark):
    df = spark.createDataFrame(
        [("a", bytearray(b"ok")), ("b", None)],
        "media_id string, content binary",
    )
    out = decode_image_meta(df).collect()
    assert [r["media_id"] for r in out] == ["a"]


def test_resize_stamps_target_dims_and_skips_nulls(spark):
    df = spark.createDataFrame(
        [("a", bytearray(b"px")), ("b", None)],
        "media_id string, content binary",
    )
    out = resize_images(df, width=128, height=96).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["media_id"], r["width"], r["height"]) == ("a", 128, 96)
    # resized payload differs per target resolution (stub mirrors a real
    # resample producing different bytes)
    r2 = resize_images(df, width=64, height=64).collect()[0]
    assert r2["content"] != r["content"]


def test_frame_sampling_fans_out_with_stride(spark):
    out = sample_video_frames(_media(spark, scheme="vid"), every_n=10).collect()
    by_media: dict = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert set(by_media) == {str(i) for i in range(5)}
    for idxs in by_media.values():
        assert sorted(idxs) == [10 * i for i in range(len(idxs))]
        assert 1 <= len(idxs) <= 5


def test_audio_fingerprint_windows_payload(spark):
    out = {r["media_id"]: r for r in audio_fingerprint(_media(spark, scheme="aud"), window_bytes=16).collect()}
    assert len(out) == 5
    for r in out.values():
        # 64-byte payloads / 16-byte windows = 4 codes
        assert r["n_windows"] == 4 and len(r["fingerprint"]) == 4
    # identical payloads → identical fingerprints (the dedup-key property)
    again = {r["media_id"]: r for r in audio_fingerprint(_media(spark, scheme="aud"), window_bytes=16).collect()}
    assert {m: r["fingerprint"] for m, r in out.items()} == {
        m: r["fingerprint"] for m, r in again.items()
    }


def test_observed_metrics_on_pipeline(spark):
    """Production instrumentation: `Observation` counters ride the job
    (no second pass) — rows in, nulls seen, bytes decoded are collected
    as a side effect of the action, the Spark-native form of the
    reference's progress prints (embed.py:64-71)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, b"abc"), (2, None), (3, b"xyzzy")], "media_id long, content binary"
    )
    obs = Observation("ingest")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("content").isNull(), 1)).alias("n_null"),
        F.sum(F.length("content")).alias("n_bytes"),
    )
    assert observed.filter(F.col("content").isNotNull()).count() == 2
    assert obs.get == {"n_rows": 3, "n_null": 1, "n_bytes": 8}

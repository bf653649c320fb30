"""Multimodal tests: binary payload columns, Arrow UDF batch shapes, and
(round 5) REAL decode — stdlib PNG/BMP/WAV/frame-container codecs, so
pixel/sample values are verified, not just plumbing."""

from __future__ import annotations

import numpy as np
import pytest

from pasgal_spark.functions import codecs
from pasgal_spark.functions import multimodal as mm


def test_synthesize_media_deterministic_and_typed(spark):
    a = mm.synthesize_media(spark, 30).collect()
    b = mm.synthesize_media(spark, 30).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    kinds = {r["kind"] for r in a}
    assert kinds == {"image", "audio", "video"}
    for r in a:
        assert isinstance(r["payload"], (bytes, bytearray))
        assert len(r["payload"]) == 64
        if r["kind"] == "image":
            assert r["width"] >= 16 and r["height"] >= 16
        if r["kind"] == "audio":
            assert r["sample_rate"] == 16000


def test_decode_image_rejects_non_media_payloads_loudly(spark):
    # legacy opaque-hash payloads are not decodable media: the real
    # decoder must fail per-payload with a clear error, never return junk
    media = mm.synthesize_media(spark, 3)
    with pytest.raises(Exception, match="PNG"):
        mm.decode_image(media).collect()


# -- real decode paths (round 5) ---------------------------------------------

def test_synthesize_real_media_payloads_are_decodable_and_deterministic(spark):
    a = mm.synthesize_real_media(spark, 18).collect()
    b = mm.synthesize_real_media(spark, 18, partitions=3).collect()
    # bit-identical payloads regardless of partitioning
    assert {r["media_id"]: bytes(r["payload"]) for r in a} == {
        r["media_id"]: bytes(r["payload"]) for r in b
    }
    for r in a:
        data = bytes(r["payload"])
        if r["kind"] == "image":
            img = codecs.decode_png(data)
            assert img.shape == (r["height"], r["width"], 3)
        elif r["kind"] == "audio":
            samples, rate = codecs.decode_wav(data)
            assert rate == r["sample_rate"] == 16000
            assert len(samples) == 1600
        else:
            frames = codecs.decode_video_frames(data)
            assert 3 <= len(frames) <= 6


def test_decode_image_real_pixels(spark):
    media = mm.synthesize_real_media(spark, 18)
    feats = {r["media_id"]: r for r in mm.decode_image(media).collect()}
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.filter("kind = 'image'").collect()
    }
    assert feats.keys() == payloads.keys()
    for mid, row in feats.items():
        img = codecs.decode_png(payloads[mid])
        assert (row["height"], row["width"]) == img.shape[:2]
        assert row["mean_r"] == pytest.approx(img[:, :, 0].mean())
        thumb = codecs.rgb_to_gray(codecs.resize_nearest(img, 8, 8))
        assert row["gray_thumb"] == thumb.reshape(-1).tolist()


def test_decode_audio_sine_energy(spark):
    media = mm.synthesize_real_media(spark, 18)
    rows = mm.decode_audio(media).collect()
    assert rows
    for r in rows:
        assert r["duration_sec"] == pytest.approx(0.1)
        # RMS of a 0.4-amplitude sine is 0.4/sqrt(2); PCM16 quantization
        # and non-integer cycle counts keep it within a loose tolerance
        assert r["rms"] == pytest.approx(0.4 / np.sqrt(2), rel=0.02)
        assert 0.35 <= r["peak"] <= 0.41
        assert len(r["frame_rms"]) == 4  # 0.1 s / 25 ms


def test_resize_images_roundtrip_dims(spark):
    media = mm.synthesize_real_media(spark, 12)
    out = mm.resize_images(media, width=6, height=5).collect()
    assert len(out) == media.filter("kind = 'image'").count()
    for r in out:
        assert codecs.decode_png(bytes(r["payload"])).shape == (5, 6, 3)


def test_frame_sample_decoded_strides_and_stats(spark):
    media = mm.synthesize_real_media(spark, 18)
    rows = mm.frame_sample_decoded(media, every_n=2).collect()
    assert rows
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.filter("kind = 'video'").collect()
    }
    for mid, rs in by_id.items():
        frames = dict(codecs.decode_video_frames(payloads[mid], every_n=2))
        assert sorted(r["frame_idx"] for r in rs) == sorted(frames)
        for r in rs:
            g = codecs.rgb_to_gray(frames[r["frame_idx"]])
            assert r["mean_gray"] == pytest.approx(g.mean())


def test_frame_sample_stride(spark):
    media = mm.synthesize_media(spark, 30)
    frames = mm.frame_sample(media, every_n=10)
    rows = frames.collect()
    assert rows, "video rows expected"
    assert all(r["frame_idx"] % 10 == 0 for r in rows)
    assert all(len(r["frame_payload"]) == 16 for r in rows)


def test_media_stats_prunes_payload(spark):
    media = mm.synthesize_media(spark, 30)
    stats = {r["kind"]: r for r in mm.media_stats(media).collect()}
    assert stats["image"]["total_bytes"] == stats["image"]["n"] * 64
    assert stats["audio"]["avg_width"] is None


def test_decode_image_rgba_channel_means(spark):
    """RGBA (PNG color type 6) is in the codec's documented scope; the
    channel means must come from the RGB slice flattened to (-1, 3) —
    a reshape by shape[2]==4 either crashes or scrambles channels."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 3, 4), dtype=np.uint8)
    media = spark.createDataFrame(
        [(0, "image", bytearray(codecs.encode_png(img)))],
        "media_id long, kind string, payload binary",
    )
    row = mm.decode_image(media).collect()[0]
    assert (row["height"], row["width"]) == (5, 3)
    assert row["mean_r"] == pytest.approx(img[:, :, 0].mean())
    assert row["mean_g"] == pytest.approx(img[:, :, 1].mean())
    assert row["mean_b"] == pytest.approx(img[:, :, 2].mean())

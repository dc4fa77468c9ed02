"""Multimodal plumbing: schema, batch shape, determinism, raster decode.

The feature kernel is stubbed (no Pillow/ffmpeg here) — what MUST be
real and tested is the Spark side (mapInPandas schemas, partitioning
independence, frame sampling) and the pure-numpy PPM/BMP decoder.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    refs = spark.range(60).select(
        F.format_string("img://doc/%d.png", F.col("id")).alias("media_ref")
    )
    return multimodal.synthesize_media(spark, refs)


def test_features_partition_invariant(spark, media):
    a = multimodal.extract_features(media.repartition(1), dim=8).collect()
    b = multimodal.extract_features(media.repartition(7), dim=8).collect()
    key = lambda r: r.media_ref
    assert sorted((r.media_ref, r.feature) for r in a) == sorted(
        (r.media_ref, r.feature) for r in b
    )
    assert all(len(r.feature) == 8 for r in a)


def test_frame_sampling_only_for_video(media):
    rows = multimodal.extract_features(media, dim=4, frame_stride_ms=1000).collect()
    meta = {r.media_ref: r for r in media.collect()}
    for r in rows:
        if r.media_type == "video":
            assert r.n_frames_sampled == max(1, meta[r.media_ref].duration_ms // 1000)
        else:
            assert r.n_frames_sampled is None


# ---------------------------------------------------------------------------
# REAL raster decode (PPM P6 / 24-bit BMP, pure numpy) — no longer stubbed
# ---------------------------------------------------------------------------


def _random_px(seed, w, h):
    import numpy as np

    return np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype="uint8")


def test_encode_decode_roundtrip_all_paddings():
    import numpy as np

    # widths 4..7 exercise every BMP row-padding remainder (0..3 bytes)
    for i, (w, h) in enumerate([(4, 3), (5, 3), (6, 2), (7, 5), (1, 1), (64, 50)]):
        px = _random_px(i, w, h)
        fmt, out = multimodal.decode_image(multimodal.encode_ppm(px))
        assert fmt == "ppm" and np.array_equal(out, px)
        fmt, out = multimodal.decode_image(multimodal.encode_bmp(px))
        assert fmt == "bmp" and np.array_equal(out, px), (w, h)
        # negative-height (top-down) BMP variant: rows stored first-to-last,
        # the height field (offset 22) negated
        buf = bytearray(multimodal.encode_bmp(px[::-1]))
        struct.pack_into("<i", buf, 22, -h)
        fmt, out = multimodal.decode_image(bytes(buf))
        assert fmt == "bmp" and np.array_equal(out, px)


def test_ppm_header_comments_and_whitespace():
    body = bytes(range(45))  # 5*3*3
    ppm = b"P6\n# comment line\n5 3\n# another\n255\n" + body
    fmt, px = multimodal.decode_image(ppm)
    assert fmt == "ppm" and px.shape == (3, 5, 3) and px.tobytes() == body
    # single-space separated header is equally legal
    fmt, px = multimodal.decode_image(b"P6 5 3 255\n" + body)
    assert px.shape == (3, 5, 3)


def test_decode_rejects_unknown_and_truncated():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="magic"):
        multimodal.decode_image(b"\x89PNG\r\n")
    with _pytest.raises(ValueError, match="truncated"):
        multimodal.decode_image(b"P6\n5 3\n255\n\x00\x00")
    with _pytest.raises(ValueError, match="maxval|8-bit"):
        multimodal.decode_image(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")


def test_decode_stats_partition_invariant_and_correct(spark):
    import numpy as np

    refs = spark.range(40).select(
        F.format_string("img://doc/%d.png", F.col("id")).alias("media_ref")
    )
    media = multimodal.synthesize_image_payloads(spark, refs)
    a = sorted(map(tuple, multimodal.decode_image_stats(media.repartition(1)).collect()))
    b = sorted(map(tuple, multimodal.decode_image_stats(media.repartition(7)).collect()))
    assert a == b and len(a) == 40
    # decoded dims must equal the synthesized metadata, means must equal a
    # local recompute from the payload bytes
    meta = {r.media_ref: r for r in media.collect()}
    for row in multimodal.decode_image_stats(media).collect():
        m = meta[row.media_ref]
        assert (row.fmt, row.width, row.height) == (m.fmt, m.width, m.height)
        _, px = multimodal.decode_image(bytes(m.payload))
        exp = px.reshape(-1, 3).astype(np.int64).mean(axis=0)
        assert (row.mean_r, row.mean_g, row.mean_b) == tuple(exp)
        assert row.n_pixels == m.width * m.height


def test_decode_rejects_truncated_and_degenerate_headers():
    import pytest as _pytest

    # a 'BM' magic with a truncated header must raise the documented
    # ValueError, not struct.error
    for bad in (b"BM", b"BM" + b"\x00" * 20):
        with _pytest.raises(ValueError, match="truncated"):
            multimodal.decode_image(bad)
    with _pytest.raises(ValueError, match="dimensions"):
        multimodal.decode_image(b"P6\n-1 1\n255\n" + b"\x00" * 9)

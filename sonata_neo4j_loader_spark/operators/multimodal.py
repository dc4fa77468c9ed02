"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct; decode / feature-extract / frame-sample run as Arrow-batched
``mapInPandas`` stages. Uncompressed raster images (PPM P6 and 24-bit BMP)
decode for REAL via the pure-numpy parsers below (``decode_image`` /
``decode_image_stats``) — header parse, row padding, bottom-up order, and
BGR swizzle are all genuine. Codecs that need an external library
(JPEG/PNG/audio/video) remain STUBBED: ``extract_features`` derives each
feature vector from a seeded fake decoder, so the Spark-side plumbing —
schema, batch shape, partitioning — is real and testable without
Pillow/librosa/ffmpeg.

Batch-shape contract: ``mapInPandas`` receives an iterator of
pandas.DataFrame batches (one per Arrow record batch, bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``); each kernel is pure and
per-batch, so partitioning is free to change without affecting results.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("media_type", StringType(), False),
        StructField("feature", ArrayType(FloatType()), True),
        StructField("n_frames_sampled", IntegerType(), True),
    ]
)


def _twin_hash(ref_col: str) -> F.Column:
    """The cross-engine twin-hash convention, in ONE place: the 60-bit md5
    prefix DuckDB reproduces exactly
    (``('0x'||substr(md5(ref),1,15))::BIGINT``). Every oracle twin in this
    module derives from this expression — keep the prefix length in
    lockstep with the SQL side.
    """
    return F.conv(F.substring(F.md5(F.col(ref_col)), 1, 15), 16, 10).cast("bigint")


def synthesize_media(spark, refs: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """Deterministic fake media table for the given refs (payload = seeded
    bytes, metadata derived from the ref hash). Real pipelines read these
    from object storage; shape is identical.

    The metadata derives from a 60-bit md5 prefix that DuckDB reproduces
    exactly (see :func:`_twin_hash`), so the whole media table is
    cross-engine-verifiable."""
    h = _twin_hash(ref_col)
    return refs.select(
        F.col(ref_col).alias("media_ref"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(h, F.lit(3)) + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.format_string("payload:%d", h), "utf-8").cast("binary").alias("payload"),
        (F.pmod(h, F.lit(1920)) + 16).cast("int").alias("width"),
        (F.pmod(h, F.lit(1080)) + 16).cast("int").alias("height"),
        (F.pmod(h, F.lit(60000)) + 100).cast("int").alias("duration_ms"),
    )


def _fake_feature(ref: str, media_type: str, dim: int) -> np.ndarray:
    seed = int.from_bytes(
        hashlib.blake2b(f"{media_type}:{ref}".encode(), digest_size=4).digest(), "big"
    )
    rng = np.random.default_rng(seed)
    return rng.standard_normal(dim).astype(np.float32)


def extract_features(
    media: DataFrame,
    dim: int = 16,
    frame_stride_ms: int = 1000,
) -> DataFrame:
    """Feature-extract (+ frame-sample for video) via mapInPandas: a
    ``dim``-vector per row from the seeded fake decoder, and one sampled
    frame per ``frame_stride_ms`` of a video (at least one)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_feature(r, t, dim).tolist()
                for r, t in zip(pdf["media_ref"], pdf["media_type"], strict=True)
            ]
            n_frames = [
                int(max(1, d // frame_stride_ms)) if t == "video" else None
                for t, d in zip(pdf["media_type"], pdf["duration_ms"], strict=True)
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                    "n_frames_sampled": pd.array(n_frames, dtype="Int32"),
                }
            )

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Real raster decode: PPM (P6) and 24-bit uncompressed BMP, pure numpy.
#
# These two formats need no external codec — a header parse plus a byte
# reshape — so they are implemented for real (the ≙ reference stores media
# only as opaque refs inside spans, load_circuit.py's media_ref pass-through;
# decoding is an engine-added capability). Everything the formats make
# tricky is handled and tested: PPM comment lines and flexible header
# whitespace; BMP row padding to 4 bytes, bottom-up vs top-down row order,
# and BGR channel order.
# ---------------------------------------------------------------------------

DECODE_STATS_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("fmt", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("n_pixels", LongType(), False),
        StructField("mean_r", DoubleType(), False),
        StructField("mean_g", DoubleType(), False),
        StructField("mean_b", DoubleType(), False),
    ]
)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as binary PPM (P6)."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError("PPM P6 encodes 3-channel RGB")
    return f"P6\n{w} {h}\n255\n".encode() + np.ascontiguousarray(
        pixels, dtype=np.uint8
    ).tobytes()


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit uncompressed BMP.

    Rows bottom-up (positive height), channels as BGR, each row
    zero-padded to a 4-byte boundary — the decoder must undo all three.
    """
    import struct

    h, w, c = pixels.shape
    if c != 3:
        raise ValueError("24-bit BMP encodes 3-channel RGB")
    bgr = np.ascontiguousarray(pixels[::-1, :, ::-1], dtype=np.uint8)
    row = w * 3
    stride = (row + 3) & ~3
    data = np.zeros((h, stride), dtype=np.uint8)
    data[:, :row] = bgr.reshape(h, row)
    body = data.tobytes()
    off = 14 + 40
    file_header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info_header = struct.pack(
        "<IiiHHIIiiII",
        40,
        w,
        h,
        1,
        24,
        0,
        len(body),
        2835,
        2835,
        0,
        0,
    )
    return file_header + info_header + body


def _decode_ppm(buf: bytes) -> np.ndarray:
    # header: "P6" then three whitespace-separated ints (width, height,
    # maxval), '#' comment lines allowed anywhere between tokens, then
    # EXACTLY ONE whitespace byte before the raw RGB data.
    i = 2
    vals: list[int] = []
    while len(vals) < 3:
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if buf[i : i + 1] == b"#":
            while i < len(buf) and buf[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        vals.append(int(buf[i:j]))
        i = j
    i += 1  # the single whitespace byte terminating the header
    w, h, maxval = vals
    if w <= 0 or h <= 0:
        raise ValueError(f"non-positive PPM dimensions ({w}x{h})")
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported (maxval={maxval})")
    n = w * h * 3
    if len(buf) - i < n:
        raise ValueError("truncated PPM pixel data")
    return np.frombuffer(buf, dtype=np.uint8, count=n, offset=i).reshape(h, w, 3)


def _decode_bmp(buf: bytes) -> np.ndarray:
    import struct

    # header fields below end at byte 34 — length-check up front so a
    # truncated header raises decode_image's documented ValueError, not
    # struct.error. A negative height marks top-down rows: encode_bmp never
    # writes one, but outside payloads do.
    if len(buf) < 34:
        raise ValueError("truncated BMP header")
    off = struct.unpack_from("<I", buf, 10)[0]
    hsize = struct.unpack_from("<I", buf, 14)[0]
    if hsize < 40:
        raise ValueError("pre-BITMAPINFOHEADER BMP not supported")
    w, h_signed = struct.unpack_from("<ii", buf, 18)
    bpp = struct.unpack_from("<H", buf, 28)[0]
    comp = struct.unpack_from("<I", buf, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit uncompressed BMP supported (bpp={bpp}, comp={comp})")
    if w <= 0 or h_signed == 0:
        raise ValueError(f"non-positive BMP dimensions ({w}x{h_signed})")
    top_down = h_signed < 0
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    if len(buf) - off < stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(buf, dtype=np.uint8, count=stride * h, offset=off).reshape(
        h, stride
    )
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1]


def decode_image(payload: bytes) -> tuple[str, np.ndarray]:
    """Decode a PPM-P6 or 24-bit-BMP payload to ``(fmt, HxWx3 uint8 RGB)``.

    Raises ``ValueError`` for any other magic and for a malformed header
    or truncated pixel data.
    """
    if payload[:2] == b"P6":
        return "ppm", _decode_ppm(payload)
    if payload[:2] == b"BM":
        return "bmp", _decode_bmp(payload)
    raise ValueError("unrecognized image magic (PPM P6 / BMP supported)")


def _ramp_pixels(seed: int, width: int, height: int) -> np.ndarray:
    # logical pixel bytes form a mod-256 ramp from the seed: byte j of the
    # flat RGB layout is (seed + j) % 256 — chosen because a SQL oracle can
    # recompute every channel mean in closed form (generate_series + avg)
    # without any decoder of its own.
    return (
        ((seed + np.arange(width * height * 3)) % 256)
        .astype(np.uint8)
        .reshape(height, width, 3)
    )


def synthesize_image_payloads(
    spark, refs: DataFrame, ref_col: str = "media_ref"
) -> DataFrame:
    """Deterministic raster payloads (real PPM/BMP bytes) for the refs.

    Like ``synthesize_media`` but the payload is a genuinely decodable
    image: format, dimensions and pixel ramp all derive from the ref hash
    (:func:`_twin_hash`, the DuckDB-reproducible md5 prefix).
    Encoding runs in an Arrow-batched ``mapInPandas`` kernel;
    partitioning does not affect results (per-row pure function).
    """
    h = _twin_hash(ref_col)
    spec = refs.select(
        F.col(ref_col).alias("media_ref"),
        F.when(F.pmod(h, F.lit(2)) == 0, F.lit("ppm")).otherwise(F.lit("bmp")).alias("fmt"),
        (F.pmod(h, F.lit(61)) + 4).cast("int").alias("width"),
        (F.pmod(h, F.lit(47)) + 4).cast("int").alias("height"),
        F.pmod(h, F.lit(256)).cast("int").alias("seed"),
    )

    out_schema = StructType(
        [
            StructField("media_ref", StringType(), False),
            StructField("fmt", StringType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for fmt, w, hgt, seed in zip(
                pdf["fmt"], pdf["width"], pdf["height"], pdf["seed"], strict=True
            ):
                px = _ramp_pixels(int(seed), int(w), int(hgt))
                payloads.append(
                    encode_ppm(px) if fmt == "ppm" else encode_bmp(px)
                )
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "fmt": pdf["fmt"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "payload": payloads,
                }
            )

    return spec.mapInPandas(kernel, out_schema)


def decode_image_stats(
    media: DataFrame, ref_col: str = "media_ref", payload_col: str = "payload"
) -> DataFrame:
    """REAL image decode: parse each payload's header, recover the RGB
    pixel array, and emit per-channel means + decoded dimensions.

    Everything in the output comes from the BYTES, not from metadata
    columns — a decoder bug (mis-parsed header, padding counted as pixels,
    missed BGR swizzle, wrong row order... the last is caught by tests;
    means are row-order invariant) shows up as a wrong stat. Channel sums
    fit exactly in float64 (int sums < 2^40), so the means are
    bit-deterministic across engines.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, fmts, ws, hs, ns = [], [], [], [], []
            mr, mg, mb = [], [], []
            for ref, payload in zip(pdf[ref_col], pdf[payload_col], strict=True):
                fmt, px = decode_image(bytes(payload))
                hgt, w = px.shape[0], px.shape[1]
                n = w * hgt
                sums = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
                refs.append(ref)
                fmts.append(fmt)
                ws.append(w)
                hs.append(hgt)
                ns.append(n)
                mr.append(sums[0] / n)
                mg.append(sums[1] / n)
                mb.append(sums[2] / n)
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "fmt": fmts,
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "n_pixels": pd.array(ns, dtype="int64"),
                    "mean_r": mr,
                    "mean_g": mg,
                    "mean_b": mb,
                }
            )

    return media.select(ref_col, payload_col).mapInPandas(kernel, DECODE_STATS_SCHEMA)


"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct.
The Spark-side plumbing — schema, Arrow batch shape, ``mapInPandas``
UDF signatures, partitioning — is real and tested. The decode ladder:

- **metadata level is REAL**: :func:`parse_image_header` /
  :func:`image_header_features` read PNG IHDR / JPEG SOF / GIF
  logical-screen dimensions with stdlib byte arithmetic (no PIL), and
  :func:`media_metadata` sniffs magic bytes JVM-side;
- **pixel level is STUBBED** (codec libraries are not in this
  container): :func:`decode_image_batches` raises
  ``NotImplementedError`` unless ``fake=True``, in which case a
  deterministic fake decoder derives channel stats from the bytes (so
  tests exercise the full distributed path).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("byte_len", T.LongType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("mean_luma", T.DoubleType(), True),
])


def media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap JVM-side metadata — no Python, no decode: byte length,
    md5 digest, magic-byte sniffing."""
    p = F.col(payload_col)
    return df.withColumn("byte_len", F.length(p).cast("long")).withColumn(
        "digest", F.md5(p)
    ).withColumn(
        "sniffed_mime",
        F.when(F.hex(F.substring(p, 1, 3)) == "FFD8FF", "image/jpeg")
        .when(F.hex(F.substring(p, 1, 4)) == "89504E47", "image/png")
        .otherwise(F.lit("application/octet-stream")),
    )


IMAGE_HEADER_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("fmt", T.StringType(), True),         # png|jpeg|gif|None
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
])


def parse_image_header(b: bytes | None) -> tuple[str | None, int | None, int | None]:
    """REAL (stdlib-only) image dimension decode from container headers
    — no PIL needed for the metadata level:

    - PNG: 8-byte signature, then the IHDR chunk carries width/height
      as big-endian u32 at offsets 16/20.
    - JPEG: walk the marker segments from SOI until a start-of-frame
      marker (C0-C3, C5-C7, C9-CB, CD-CF); height/width are big-endian
      u16 at offsets +3/+5 into the SOF payload.
    - GIF: 6-byte signature, then logical-screen width/height as
      little-endian u16.

    Returns (format, width, height); (None, None, None) for anything
    unrecognized or truncated. Pixel-level decode (channels stats,
    resampling) remains behind the codec stub below."""
    if not b:
        return (None, None, None)
    b = bytes(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        return ("png",
                int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"))
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            if i + 4 > len(b):
                break
            seg_len = int.from_bytes(b[i + 2:i + 4], "big")
            if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                          0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                if i + 9 <= len(b):
                    return ("jpeg",
                            int.from_bytes(b[i + 7:i + 9], "big"),
                            int.from_bytes(b[i + 5:i + 7], "big"))
                break
            i += 2 + seg_len
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return ("gif",
                int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"))
    return (None, None, None)


def synthesize_image_payload(fmt: str, width: int, height: int) -> bytes:
    """Deterministic minimal-but-well-formed image headers for tests
    and oracles (no codec libs in the container, so fixtures are built
    at the byte level)."""
    if fmt == "png":
        ihdr = (width.to_bytes(4, "big") + height.to_bytes(4, "big")
                + bytes([8, 6, 0, 0, 0]))
        return (b"\x89PNG\r\n\x1a\n"
                + (13).to_bytes(4, "big") + b"IHDR" + ihdr
                + b"\x00\x00\x00\x00"          # placeholder CRC
                + (0).to_bytes(4, "big") + b"IEND" + b"\x00\x00\x00\x00")
    if fmt == "jpeg":
        app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
        sof0 = (b"\xff\xc0" + (17).to_bytes(2, "big") + bytes([8])
                + height.to_bytes(2, "big") + width.to_bytes(2, "big")
                + bytes([3]) + bytes(9))
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    if fmt == "gif":
        return (b"GIF89a" + width.to_bytes(2, "little")
                + height.to_bytes(2, "little") + bytes(3) + b"\x3b")
    raise ValueError(f"unknown fmt {fmt!r}")


def image_header_features(df: DataFrame) -> DataFrame:
    """REAL metadata-level decode over (media_id, payload): mapInPandas
    batches through :func:`parse_image_header`. This is the production
    Arrow path — only the pixel level remains stubbed."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                (int(mid),) + parse_image_header(payload)
                for mid, payload in zip(pdf["media_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_HEADER_SCHEMA.fields])

    return df.select("media_id", "payload").mapInPandas(
        batches, schema=IMAGE_HEADER_SCHEMA)


def _fake_decode(payload: bytes | None) -> tuple[int, int, int, int, float]:
    """Deterministic fake 'decode': dimensions/stats derived from md5
    of the bytes. Stands in for PIL/ffmpeg so the distributed plumbing
    (schema, batching, skew) is testable in this container."""
    if payload is None:
        return (0, 0, 0, 0, 0.0)
    d = hashlib.md5(bytes(payload)).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    channels = 1 + d[2] % 3
    mean_luma = d[3] / 255.0
    return (len(payload), width, height, channels, mean_luma)


def decode_image_batches(df: DataFrame, fake: bool = False) -> DataFrame:
    """mapInPandas image decode -> feature rows.

    Metadata-level decode (format + dimensions from container headers)
    is REAL — see :func:`image_header_features` /
    :func:`parse_image_header`, stdlib byte arithmetic, no PIL. This
    function's PIXEL level (channel statistics, luma) would decode
    with PIL/ffmpeg inside the batch loop; those libs are not in this
    container, so ``fake=False`` raises (clearly-marked stub scoped to
    the pixel path only)."""
    if not fake:
        raise NotImplementedError(
            "pixel-level decode requires PIL/ffmpeg (not in this "
            "container); header-level dims are real via "
            "image_header_features; pass fake=True for the "
            "deterministic stub pixel decoder"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [
                (int(mid),) + _fake_decode(payload)
                for mid, payload in zip(pdf["media_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                out, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields]
            )

    return df.select("media_id", "payload").mapInPandas(
        batches, schema=IMAGE_FEATURES_SCHEMA
    )

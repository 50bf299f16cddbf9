"""Image encoders that synthesize real PPM/PGM, BMP and PNG files for the
decoder round-trip tests of ``operators/imagecodec.py``."""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ipl_dagster_pipeline_spark.operators.imagecodec import PNG_SIG, UnsupportedImage


def encode_ppm(arr: np.ndarray) -> bytes:
    """P6 (3-channel) / P5 (1-channel) from a (h, w[, c]) uint8 array."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c == 1:
        return b"P5\n%d %d\n255\n" % (w, h) + arr.tobytes()
    if c == 3:
        return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()
    raise UnsupportedImage(f"ppm supports 1 or 3 channels, got {c}")


def encode_bmp(arr: np.ndarray) -> bytes:
    """24-bit uncompressed BMP (BITMAPINFOHEADER) from (h, w, 3) uint8 RGB."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise UnsupportedImage("bmp encoder takes (h, w, 3) RGB")
    h, w, _ = arr.shape
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        body += arr[r, :, ::-1].tobytes()  # BGR
        body += b"\x00" * pad
    pixel_offset = 14 + 40
    size = pixel_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def png_chunk(tag: bytes, payload: bytes) -> bytes:
    """One PNG chunk: length, tag, payload, CRC-32 of tag + payload."""
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """8-bit non-interlaced PNG (filter 0 rows) from (h, w[, c]) uint8."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if color_type is None:
        raise UnsupportedImage(f"png encoder: {c} channels")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    return (
        PNG_SIG
        + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(raw))
        + png_chunk(b"IEND", b"")
    )

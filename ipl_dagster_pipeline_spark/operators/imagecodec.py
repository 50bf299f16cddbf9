"""Pure-stdlib image codecs for the real branch of the multimodal operators.

No PIL/ffmpeg exists in this environment, so the engine ships its own
decoders for three well-specified formats — enough for the multimodal path
to move REAL pixels end-to-end (the reference moves real webcam JPEGs,
webcam_worker.py:87-98; the Spark engine decodes real bytes too, just for
the formats a stdlib can honestly implement):

* **PPM/PGM** (netpbm P6/P5, 8-bit) — plain header + raw samples;
* **BMP** (Windows BITMAPINFOHEADER, 24-bit uncompressed) — bottom-up rows,
  4-byte row padding, BGR order;
* **PNG** (8-bit grey/RGB/RGBA/grey+alpha, non-interlaced) — zlib IDAT +
  per-scanline filter reconstruction (filters 0-4 per the PNG spec).

Decoders return ``(height, width, channels)`` uint8 numpy arrays.
Everything here is plain Python/numpy called from inside Arrow batches
(mapInPandas) — per-batch vectorized where it matters, never a Spark-row
Python UDF.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"


class UnsupportedImage(ValueError):
    """Bytes are not one of the supported formats/variants."""


# -- netpbm ------------------------------------------------------------------


def _decode_netpbm(b: bytes) -> np.ndarray:
    magic = b[:2]
    channels = 3 if magic == b"P6" else 1
    # header tokens: magic, width, height, maxval — whitespace separated,
    # '#' comments allowed; ONE whitespace byte then raw samples
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(b[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise UnsupportedImage(f"netpbm maxval {maxval} != 255")
    n = w * h * channels
    data = np.frombuffer(b, dtype=np.uint8, count=n, offset=pos)
    return data.reshape(h, w, channels)


# -- BMP ---------------------------------------------------------------------


def _decode_bmp(b: bytes) -> np.ndarray:
    if b[:2] != b"BM":
        raise UnsupportedImage("not a BMP")
    pixel_offset = struct.unpack_from("<I", b, 10)[0]
    header_size = struct.unpack_from("<I", b, 14)[0]
    if header_size < 40:
        raise UnsupportedImage(f"BMP core header {header_size} unsupported")
    w, h_signed = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0:
        raise UnsupportedImage(f"BMP bpp={bpp} compression={compression} unsupported")
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=pixel_offset)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


# -- PNG ---------------------------------------------------------------------

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, w: int, c: int) -> np.ndarray:
    """Reconstruct scanlines per the five PNG filter types (spec §6)."""
    stride = w * c
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for r in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).astype(np.int32)
        pos += 1 + stride
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for i in range(c, stride):
                cur[i] = (cur[i] + cur[i - c]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for i in range(stride):
                left = cur[i - c] if i >= c else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for i in range(stride):
                a = cur[i - c] if i >= c else 0
                bb = prev[i]
                cc = prev[i - c] if i >= c else 0
                p = a + bb - cc
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else cc)
                cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise UnsupportedImage(f"png filter {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, c)


def _decode_png(b: bytes) -> np.ndarray:
    if b[:8] != PNG_SIG:
        raise UnsupportedImage("not a PNG")
    pos, idat, meta = 8, [], None
    while pos < len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        tag = b[pos + 4 : pos + 8]
        payload = b[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
                raise UnsupportedImage(
                    f"png depth={depth} color_type={color_type} interlace={interlace} unsupported"
                )
            meta = (h, w, _PNG_CHANNELS[color_type])
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if meta is None or not idat:
        raise UnsupportedImage("png missing IHDR/IDAT")
    h, w, c = meta
    return _png_unfilter(zlib.decompress(b"".join(idat)), h, w, c)


# -- dispatch ----------------------------------------------------------------


def decode_image(b: bytes) -> np.ndarray:
    """(h, w, channels) uint8 from PPM/PGM, BMP, or PNG bytes.

    Raises :class:`UnsupportedImage` on anything else — the multimodal
    operators surface that loudly rather than fabricating pixels.
    """
    if b[:8] == PNG_SIG:
        return _decode_png(b)
    if b[:2] in (b"P5", b"P6"):
        return _decode_netpbm(b)
    if b[:2] == b"BM":
        return _decode_bmp(b)
    raise UnsupportedImage(f"unrecognized image magic {b[:8]!r}")


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample (the classic pixel-center mapping) — the
    real pixel path behind ``resize_images(fake=False)``."""
    h, w = arr.shape[:2]
    ri = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    ci = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return arr[ri][:, ci]

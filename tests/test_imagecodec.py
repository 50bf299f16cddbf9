"""Real image codecs: encoder/decoder round-trips (PPM/PGM, BMP, PNG with
all five filter types) and the real-pixel Spark operators built on them."""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest
from imagefixtures import encode_bmp, encode_png, encode_ppm, png_chunk

from ipl_dagster_pipeline_spark.operators.imagecodec import (
    PNG_SIG,
    UnsupportedImage,
    decode_image,
    resize_nearest,
)


def _arr(h, w, c, seed=0):
    rng = np.random.RandomState(seed)
    a = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)
    return a[:, :, 0] if c == 1 else a


# -- pure codec round-trips --------------------------------------------------


@pytest.mark.parametrize("h,w,c", [(7, 5, 3), (1, 1, 3), (4, 9, 1)])
def test_ppm_roundtrip(h, w, c):
    a = _arr(h, w, c, seed=h * w * c)
    got = decode_image(encode_ppm(a))
    assert got.shape == (h, w, c)
    np.testing.assert_array_equal(got.reshape(h, w, c), np.atleast_3d(a))


def test_ppm_header_comments_and_whitespace():
    a = _arr(3, 4, 3, seed=9)
    raw = encode_ppm(a)
    # re-write the header with comments + odd whitespace (spec-legal)
    body = raw.split(b"255\n", 1)[1]
    fancy = b"P6 # magic\n# a comment line\n  4\t3 # dims\n255 " + body
    np.testing.assert_array_equal(decode_image(fancy), np.atleast_3d(a))


@pytest.mark.parametrize("h,w", [(5, 5), (3, 7), (2, 2)])  # odd widths hit row padding
def test_bmp_roundtrip(h, w):
    a = _arr(h, w, 3, seed=h + w)
    got = decode_image(encode_bmp(a))
    np.testing.assert_array_equal(got, a)


@pytest.mark.parametrize("c", [1, 2, 3, 4])
def test_png_roundtrip_all_color_types(c):
    a = _arr(6, 5, c, seed=c)
    got = decode_image(encode_png(a))
    assert got.shape == (6, 5, c)
    np.testing.assert_array_equal(got, np.atleast_3d(a))


def _encode_png_filtered(arr: np.ndarray, ftype: int) -> bytes:
    """PNG with every scanline filtered as ``ftype`` — exercises the decoder's
    filter reconstruction (our encoder only emits filter 0)."""
    arr = np.atleast_3d(arr).astype(np.int32)
    h, w, c = arr.shape
    stride = w * c
    flat = arr.reshape(h, stride)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        cur = flat[r]
        line = np.zeros(stride, dtype=np.int32)
        for i in range(stride):
            a = cur[i - c] if i >= c else 0
            b = prev[i]
            cc = prev[i - c] if i >= c else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            line[i] = (cur[i] - pred) & 0xFF
        raw += bytes([ftype]) + bytes(line.astype(np.uint8))
        prev = cur
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        PNG_SIG
        + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_decoder_handles_every_filter_type(ftype):
    a = _arr(5, 6, 3, seed=ftype + 40)
    got = decode_image(_encode_png_filtered(a, ftype))
    np.testing.assert_array_equal(got, a)


def test_unsupported_bytes_fail_loudly():
    with pytest.raises(UnsupportedImage, match="unrecognized"):
        decode_image(b"GIF89a notreally")
    with pytest.raises(UnsupportedImage):
        decode_image(b"P6\n2 2\n65535\n" + b"\x00" * 24)  # 16-bit maxval


def test_resize_nearest_identity_and_downscale():
    a = _arr(8, 8, 3, seed=3)
    np.testing.assert_array_equal(resize_nearest(a, 8, 8), a)
    half = resize_nearest(a, 4, 4)
    assert half.shape == (4, 4, 3)
    np.testing.assert_array_equal(half[0, 0], a[1, 1])  # pixel-center mapping


# -- Spark operators on real bytes -------------------------------------------


@pytest.fixture(scope="module")
def real_media(spark):
    """Three REAL images (ppm/bmp/png) as a media table."""
    from pyspark.sql import functions as F

    arrs = {1: _arr(12, 20, 3, seed=1), 2: _arr(9, 9, 3, seed=2), 3: _arr(300, 500, 3, seed=3)}
    payloads = {1: encode_ppm(arrs[1]), 2: encode_bmp(arrs[2]), 3: encode_png(arrs[3])}
    rows = [(mid, "image", bytearray(payloads[mid])) for mid in arrs]
    df = spark.createDataFrame(rows, "media_id long, media_type string, payload binary")
    df = df.withColumn(
        "meta",
        F.struct(
            F.lit("cam").alias("source"),
            F.to_timestamp(F.lit("2024-01-01")).alias("captured_ts"),
        ),
    )
    return df, arrs, payloads


def test_decode_media_real_reports_true_dimensions(real_media):
    from ipl_dagster_pipeline_spark.operators.multimodal import decode_media

    df, arrs, payloads = real_media
    got = {r.media_id: r for r in decode_media(df, fake=False).collect()}
    for mid, a in arrs.items():
        assert (got[mid].width, got[mid].height) == (a.shape[1], a.shape[0])
        assert got[mid].n_bytes == len(payloads[mid])
        assert got[mid].content_hash == hashlib.md5(payloads[mid]).hexdigest()
        assert got[mid].duration_s is None


def test_resize_images_real_pixels(real_media):
    from ipl_dagster_pipeline_spark.operators.multimodal import resize_images

    df, arrs, _ = real_media
    got = {r.media_id: r for r in resize_images(df, target=(224, 224), fake=False).collect()}
    # small images are never upscaled
    assert (got[1].out_w, got[1].out_h, got[1].scale) == (20, 12, 1.0)
    assert (got[2].out_w, got[2].out_h) == (9, 9)
    # the big png is downscaled fit-within and the hash is of REAL pixels
    a = arrs[3]
    scale = min(224 / 500, 224 / 300, 1.0)
    ow, oh = int(500 * scale), int(300 * scale)
    assert (got[3].out_w, got[3].out_h) == (ow, oh)
    exp_hash = hashlib.md5(resize_nearest(a, ow, oh).tobytes()).hexdigest()
    assert got[3].resized_hash == exp_hash


def test_resize_extreme_aspect_ratio_clamps_to_one_pixel(spark):
    """Round-5 ADVICE: a 300x2 image fit within 96x96 would truncate the
    short dim to 0 and hash zero pixels — the real branch clamps to >=1."""
    import numpy as np

    from ipl_dagster_pipeline_spark.operators.multimodal import resize_images

    arr = (np.arange(2 * 300 * 3, dtype=np.uint64) * 37 % 251).astype(np.uint8).reshape(2, 300, 3)
    df = spark.createDataFrame(
        [(9, "image", bytearray(encode_ppm(arr)))],
        "media_id long, media_type string, payload binary",
    )
    [r] = resize_images(df, target=(96, 96), fake=False).collect()
    assert r.out_w == 96 and r.out_h == 1  # not 0
    expected = resize_nearest(arr, 96, 1)
    assert r.resized_hash == hashlib.md5(expected.tobytes()).hexdigest()

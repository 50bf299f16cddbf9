"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct — the Spark
analog of the reference's webcam image pipeline (FTP mirror → files →
latest-per-camera probe, webcam_worker.py) where the pipeline never decodes
pixels either; it moves bytes and tracks metadata.

The Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested.  The features are deterministic
md5-arithmetic features of the bytes, which every SQL oracle replays; a
deployment swaps a real codec (PIL, torchaudio, pyav) into the same Arrow
batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("content_hash", T.StringType(), True),
    ]
)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table: payload = utf-8 bytes of the text
    (stand-in for image bytes), typed meta struct."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("synthetic").alias("source"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("captured_ts"),
        ).alias("meta"),
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched media decode via ``mapInPandas``.

    The iterator-of-batches shape is the one a real codec needs (stream
    batches, never materialize the partition).  The features are
    deterministic pseudo-features derived from the payload bytes
    (oracle-replayable).
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(lambda b: len(b) if b is not None else 0)
            digest = payloads.map(
                lambda b: hashlib.md5(b).hexdigest() if b is not None else None
            )
            # deterministic fake dimensions from the first hash byte
            h0 = digest.map(lambda d: int(d[:2], 16) if d else 0)
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes.astype("int64"),
                    "width": (64 + (h0 % 64)).astype("int32"),
                    "height": (64 + (h0 % 48)).astype("int32"),
                    "duration_s": (n_bytes / 1000.0).astype("float64"),
                    "content_hash": digest,
                }
            )
            out.loc[pdf["media_type"] != "image", ["width", "height"]] = None
            out.loc[pdf["media_type"] == "image", "duration_s"] = None
            yield out

    return media.mapInPandas(_decode, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("target_w", T.IntegerType(), False),
        T.StructField("target_h", T.IntegerType(), False),
        T.StructField("out_w", T.IntegerType(), True),
        T.StructField("out_h", T.IntegerType(), True),
        T.StructField("scale", T.DoubleType(), True),
        T.StructField("resized_hash", T.StringType(), True),
    ]
)


def resize_images(media: DataFrame, target: tuple[int, int] = (224, 224)) -> DataFrame:
    """Aspect-preserving image resize via Arrow ``mapInPandas`` (image rows
    only — non-images are filtered BEFORE the Python stage so the Arrow
    exchange never carries bytes it won't use).

    Computes the REAL resize geometry (fit-within scale, output dims) from
    the decode's pseudo-dimensions and a deterministic content hash — all
    integer/md5 arithmetic a SQL oracle can replay.
    """
    tw, th = target

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            digest = pdf["payload"].map(
                lambda b: hashlib.md5(b).hexdigest() if b is not None else None
            )
            h0 = digest.map(lambda d: int(d[:2], 16) if d else 0)
            w = 64 + (h0 % 64)
            h = 64 + (h0 % 48)
            # fit-within scale, never upscale: scale = min(tw/w, th/h, 1)
            scale = pd.concat([tw / w, th / h], axis=1).min(axis=1).clip(upper=1.0)
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "target_w": tw,
                    "target_h": th,
                    "out_w": (w * scale).astype("int64").astype("int32"),
                    "out_h": (h * scale).astype("int64").astype("int32"),
                    "scale": scale.round(6),
                    "resized_hash": (digest + f":{tw}x{th}").map(
                        lambda s: hashlib.md5(s.encode()).hexdigest() if s else None
                    ),
                }
            )
            yield out

    images = media.filter(F.col("media_type") == "image")
    return images.mapInPandas(_resize, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ts_s", T.DoubleType(), True),
        T.StructField("frame_hash", T.StringType(), True),
    ]
)


def sample_frames(media: DataFrame) -> DataFrame:
    """Sample frames from video rows at 1 fps via Arrow ``mapInPandas`` —
    one OUTPUT ROW PER FRAME (the iterator-of-batches contract allows 1→N
    expansion without materializing the partition).

    Frame count = min(floor(pseudo duration) + 1, 16); frame timestamps are
    i seconds; the frame hash is md5(content_hash:i) —
    deterministic arithmetic the SQL oracle replays exactly.  Non-video rows
    are pruned before the Arrow exchange.
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "frame_ts_s": [], "frame_hash": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                digest = hashlib.md5(payload).hexdigest() if payload is not None else None
                duration = (len(payload) if payload is not None else 0) / 1000.0
                n = min(int(duration) + 1, 16)
                for i in range(n):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["frame_ts_s"].append(float(i))
                    rows["frame_hash"].append(
                        hashlib.md5(f"{digest}:{i}".encode()).hexdigest() if digest else None
                    )
            yield pd.DataFrame(rows).astype(
                {"media_id": "int64", "frame_idx": "int32", "frame_ts_s": "float64"}
            )

    videos = media.filter(F.col("media_type") == "video")
    return videos.mapInPandas(_sample, schema=FRAME_SCHEMA)


def latest_media_per_source(media: DataFrame) -> DataFrame:
    """A3 parity: latest media per (source, media_type) by captured_ts —
    max_by, no self-join (reference: latest webcam image probe)."""
    return media.groupBy(F.col("meta.source").alias("source"), "media_type").agg(
        F.max_by("media_id", F.struct(F.col("meta.captured_ts"), F.col("media_id"))).alias(
            "latest_media_id"
        ),
        F.count("*").alias("n_items"),
    )

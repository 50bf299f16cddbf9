"""Media queries: decode, latest per source, resize and frame sampling of binary payloads."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ipl_dagster_pipeline_spark.catalog.common import CatalogEntry, _read
from ipl_dagster_pipeline_spark.operators.multimodal import (
    decode_media,
    latest_media_per_source,
    resize_images,
    sample_frames,
    synthesize_media,
)


# ---------------------------------------------------------------------------
# batch 4: multimodal plumbing queries
# ---------------------------------------------------------------------------


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow mapInPandas media decode (fake codec) — rows-only check; the
    deterministic fake features are covered by tests/test_trainingdata.py."""
    docs = _read(spark, sf_dir, "documents")
    return decode_media(synthesize_media(docs), fake=True)


def q_media_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 parity: latest media per (source, media_type) via max_by."""
    docs = _read(spark, sf_dir, "documents")
    return latest_media_per_source(synthesize_media(docs))


# synthesize_media maps media_type = ['image','audio','video'][doc_id % 3] with a
# constant source/captured_ts, so latest == max media_id per type (tie-break by id)
SQL_MEDIA_LATEST = """
WITH m AS (
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type
    FROM documents
)
SELECT 'synthetic' AS source, media_type,
       max(media_id) AS latest_media_id, count(*) AS n_items
FROM m
GROUP BY media_type
"""


# -- media_decode_features oracle: the fake decode is pure md5-of-payload
# arithmetic (payload = utf-8 bytes of text), so DuckDB recomputes n_bytes /
# content_hash / h0-derived dims exactly — flips the query from rows-only to
# a full value-hash row.
SQL_MEDIA_DECODE = """
WITH m AS (
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           md5(text) AS content_hash,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
),
h AS (
    SELECT *, CAST(concat('0x', substring(content_hash, 1, 2)) AS BIGINT) AS h0 FROM m
)
SELECT media_id, media_type, n_bytes,
       CASE WHEN media_type = 'image' THEN CAST(64 + (h0 % 64) AS INTEGER) END AS width,
       CASE WHEN media_type = 'image' THEN CAST(64 + (h0 % 48) AS INTEGER) END AS height,
       CASE WHEN media_type <> 'image' THEN n_bytes / 1000.0 END AS duration_s,
       content_hash
FROM h
"""


# ---------------------------------------------------------------------------
# batch 10 (round 2): multimodal resize + frame-sample plumbing (oracle-gated)
# ---------------------------------------------------------------------------


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving image resize plumbing: non-images pruned before the
    Arrow exchange; fake path computes REAL fit-within geometry from the
    fake-decode dims — fully replayed by the DuckDB oracle."""
    docs = _read(spark, sf_dir, "documents")
    return resize_images(synthesize_media(docs), target=(96, 96), fake=True)


SQL_MEDIA_RESIZE = """
WITH m AS (
    SELECT doc_id AS media_id, md5(text) AS content_hash
    FROM documents WHERE doc_id % 3 = 0
),
h AS (SELECT *, CAST(concat('0x', substring(content_hash, 1, 2)) AS BIGINT) AS h0 FROM m),
d AS (SELECT media_id, content_hash, 64 + (h0 % 64) AS w, 64 + (h0 % 48) AS h FROM h),
s AS (SELECT *, least(96.0 / w, 96.0 / h, 1.0) AS sc FROM d)
SELECT media_id,
       CAST(96 AS INTEGER) AS target_w,
       CAST(96 AS INTEGER) AS target_h,
       CAST(floor(w * sc) AS INTEGER) AS out_w,
       CAST(floor(h * sc) AS INTEGER) AS out_h,
       round(sc, 6) AS scale,
       md5(concat(content_hash, ':96x96')) AS resized_hash
FROM s
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: 1→N row expansion inside mapInPandas (videos
    only reach the Arrow exchange); frame count/timestamps/hashes are
    deterministic arithmetic the oracle replays."""
    docs = _read(spark, sf_dir, "documents")
    return sample_frames(synthesize_media(docs), fps=1.0, max_frames=16, fake=True)


SQL_MEDIA_FRAMES = """
WITH v AS (
    SELECT doc_id AS media_id, md5(text) AS content_hash,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents WHERE doc_id % 3 = 2
),
n AS (
    SELECT *, least(CAST(floor(n_bytes / 1000.0 * 1.0) AS BIGINT) + 1, 16) AS n_frames FROM v
),
f AS (
    SELECT media_id, content_hash,
           unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS i
    FROM n
)
SELECT media_id,
       CAST(i AS INTEGER) AS frame_idx,
       round(i / 1.0, 6) AS frame_ts_s,
       md5(concat(content_hash, ':', CAST(i AS VARCHAR))) AS frame_hash
FROM f
"""


CATALOG: dict[str, CatalogEntry] = {
    "media_decode_features": (q_media_features, SQL_MEDIA_DECODE),
    "media_latest_per_source": (q_media_latest, SQL_MEDIA_LATEST),
    "media_resize_images": (q_media_resize, SQL_MEDIA_RESIZE),
    "media_sample_frames": (q_media_frames, SQL_MEDIA_FRAMES),
}

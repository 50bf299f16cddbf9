"""Helpers shared by the catalog families: reads, timestamps, transcript CTEs, DuckDB hash."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.sources.transcripts import TOOL_DIM_CTE, TRANSCRIPTS_CTE


# One catalog row: the Spark query and its DuckDB oracle SQL (None = rows-only).
CatalogEntry = tuple[Callable[[SparkSession, str], DataFrame], str | None]


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

WITH_T = f"WITH {TRANSCRIPTS_CTE.strip()}"
WITH_TD = f"WITH {TRANSCRIPTS_CTE.strip()}, {TOOL_DIM_CTE.strip()}"

# The canonical window, as SQL text (stable tie-break on turn_idx).
W_SQL = "PARTITION BY conv_id ORDER BY ts, turn_idx"
# floor-seconds epoch, matching Spark's cast(timestamp as long)
SECS = "CAST(floor(epoch(ts)) AS BIGINT)"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ts_us(df: DataFrame, *cols: str) -> DataFrame:
    """Replace timestamp cols by epoch-microsecond bigints named <col>_us."""
    for c in cols:
        # parquet written by pandas reads as TIMESTAMP_NTZ; session tz is UTC
        # so the cast to TIMESTAMP is the identity instant
        df = df.withColumn(f"{c}_us", F.unix_micros(F.col(c).cast("timestamp"))).drop(c)
    return df


def _duck_hash(seed: int, expr: str) -> str:
    """DuckDB text of text_dedup.portable_hash."""
    return f"CAST(concat('0x', substring(md5(concat('{seed}:', {expr})), 1, 15)) AS BIGINT)"

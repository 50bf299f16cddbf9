"""Declared schemas + boundary enforcement (schema-on-write, never inferred).

The reference declares fixed column→dtype dicts and coerces every frame to
exactly those columns — extras dropped, missing created as typed nulls, dtypes
cast (reference: pipeline/sources/lamassu.py:31-72 `STATION_COLUMNS` et al.,
and `_enforce_columns` lamassu.py:315-337).  `enforce_schema` is the Spark
re-expression of that contract (SURVEY §2.3 P1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The engine's fact table (BASELINE.json input_hint).
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Slowly-changing dimension snapshot, joined AS-OF ts (the analog of the GBFS
# vehicle_types dim joined onto status frames, lamassu.py:162,224).
TOOL_DIM_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("effective_from", T.TimestampType(), False),
        T.StructField("tool_category", T.StringType(), True),
        T.StructField("cost_weight", T.DoubleType(), True),
    ]
)

CONV_DIM_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("snapshot_ts", T.TimestampType(), False),
        T.StructField("cohort", T.StringType(), True),
    ]
)

# Per-stage lineage record (north rule: lineage + row-count / checksum
# metrics; reference precedent: num_rows output metadata,
# postgis_geopandas_io_manager.py:103).  One row per commit, partition_id = -1;
# per-file row counts live in the snapshot manifest (io.py).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
        # summed drop/cap counts the stage's operators observed,
        # "<prefix>.<metric>" -> n (metrics.scope_observations)
        T.StructField("observations", T.MapType(T.StringType(), T.LongType()), True),
    ]
)


def enforce_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Coerce ``df`` to exactly ``schema``: drop extras, create missing as
    typed nulls, cast mismatches.  Column-pruning + casts stay inside
    whole-stage codegen — this is a pure projection, no shuffle.

    Reference parity: `_enforce_columns` (lamassu.py:315-337).
    """
    existing = {f.name for f in df.schema.fields}
    cols = [
        (F.col(f.name).cast(f.dataType) if f.name in existing else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)

"""Transcript fact-table sources.

Two deterministic ways to obtain the engine's fact table
``transcripts(conv_id, turn_idx, role, text, tool, ts)``:

1. ``transcripts_from_events`` — derives it from the driver-provided
   ``events`` parquet (TESTDATA.md).  The derivation is mirrored exactly by
   the ``TRANSCRIPTS_CTE`` SQL so DuckDB can serve as the correctness oracle.
2. ``synthesize_transcripts`` — a fully distributed deterministic generator
   (hash-based pseudo-randomness, no driver-side data, no ``Date.now``)
   usable at any scale for tests and benchmarks.

Reference parity: the reference's sources fetch external feeds and coerce
them to declared frames (pipeline/sources/lamassu.py:137-235); here the
"fetch" is a parquet scan and the coercion is `schema.enforce_schema`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schema import CONV_DIM_SCHEMA, TOOL_DIM_SCHEMA, TRANSCRIPT_SCHEMA, enforce_schema

# ---------------------------------------------------------------------------
# events → transcripts derivation (Spark) + identical DuckDB CTE (oracle)
# ---------------------------------------------------------------------------

# Keep the SQL text in lock-step with the DataFrame code below: same role
# mapping, same tool null-out, same tie-break (ts, event_id).
TRANSCRIPTS_CTE = """
transcripts AS (
    SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS turn_idx,
           CASE WHEN event_type IN ('click', 'view') THEN 'user'
                WHEN event_type = 'error' THEN 'tool'
                ELSE 'assistant' END AS role,
           props AS text,
           CASE WHEN event_type IN ('click', 'view') THEN NULL
                ELSE event_type END AS tool,
           ts
    FROM events
)
"""

TOOL_DIM_CTE = """
tool_dim AS (
    SELECT event_type AS tool,
           date_trunc('day', ts) AS effective_from,
           CASE WHEN event_type IN ('purchase', 'signup') THEN 'transact'
                ELSE 'interact' END AS tool_category,
           round(avg(value), 4) AS cost_weight
    FROM events
    GROUP BY 1, 2
)
"""

CONV_DIM_CTE = """
conv_dim AS (
    SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
           date_trunc('day', min(ts)) AS snapshot_ts,
           CASE WHEN user_id % 3 = 0 THEN 'alpha'
                WHEN user_id % 3 = 1 THEN 'beta'
                ELSE 'gamma' END AS cohort
    FROM events
    GROUP BY user_id
)
"""


# the first generated timestamp (UTC) of transcripts and tool-dim snapshots
START_TS = "2024-01-01 00:00:00"


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcripts view over the driver's events table.

    Stable turn ordering: row_number over (ts, event_id) — the secondary key
    makes ties deterministic (reference precedent: deterministic keep-first
    dedup, lamassu.py:307; SURVEY §2.6 frame-spec note).
    """
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    df = (
        ev.withColumn("turn_idx", F.row_number().over(w).cast("int"))
        .select(
            F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
            F.col("turn_idx"),
            F.when(F.col("event_type").isin("click", "view"), F.lit("user"))
            .when(F.col("event_type") == "error", F.lit("tool"))
            .otherwise(F.lit("assistant"))
            .alias("role"),
            F.col("props").alias("text"),
            F.when(F.col("event_type").isin("click", "view"), F.lit(None).cast("string"))
            .otherwise(F.col("event_type"))
            .alias("tool"),
            F.col("ts"),
        )
    )
    return enforce_schema(df, TRANSCRIPT_SCHEMA)


def tool_dim_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small slowly-changing dimension: one snapshot per (tool, day).

    Broadcastable — the analog of the GBFS vehicle_types dim
    (lamassu.py:141,162).  cost_weight is rounded to 4 dp on BOTH engines so
    double summation order cannot flip the oracle value-hash.
    """
    ev = read_events(spark, sf_dir)
    df = (
        ev.groupBy(
            F.col("event_type").alias("tool"),
            F.date_trunc("day", F.col("ts")).alias("effective_from"),
        )
        .agg(F.round(F.avg("value"), 4).alias("cost_weight"))
        .withColumn(
            "tool_category",
            F.when(F.col("tool").isin("purchase", "signup"), F.lit("transact")).otherwise(F.lit("interact")),
        )
    )
    return enforce_schema(df, TOOL_DIM_SCHEMA)


def conv_dim_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    df = ev.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("snapshot_ts")).select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("snapshot_ts"),
        F.when(F.col("user_id") % 3 == 0, F.lit("alpha"))
        .when(F.col("user_id") % 3 == 1, F.lit("beta"))
        .otherwise(F.lit("gamma"))
        .alias("cohort"),
    )
    return enforce_schema(df, CONV_DIM_SCHEMA)


# ---------------------------------------------------------------------------
# Fully-synthetic distributed generator (tests / arbitrary-scale bench)
# ---------------------------------------------------------------------------

_ROLES = ("user", "assistant", "tool")
_TOOLS = ("search", "code", "browse", "none")


def synthesize_transcripts(
    spark: SparkSession,
    n_convs: int = 100,
    turns_per_conv: int = 20,
    seed: int = 42,
    hot_conv_fraction: float = 0.0,
    hot_multiplier: int = 50,
) -> DataFrame:
    """Deterministic, fully-distributed transcript generator.

    * No driver-side data: built from ``spark.range`` (scales to any size).
    * Pseudo-randomness via ``xxhash64(seed, conv, turn)`` — reproducible
      across runs, partitionings, and cluster sizes.
    * ``hot_conv_fraction`` > 0 makes a fraction of conv_ids hot
      (``hot_multiplier``× more turns) to exercise skew handling.
    """
    convs = spark.range(n_convs).select(F.col("id").alias("conv_no"))
    if hot_conv_fraction > 0:
        n_hot = max(1, int(n_convs * hot_conv_fraction))
        convs = convs.withColumn(
            "n_turns",
            F.when(F.col("conv_no") < n_hot, F.lit(turns_per_conv * hot_multiplier)).otherwise(
                F.lit(turns_per_conv)
            ),
        )
    else:
        convs = convs.withColumn("n_turns", F.lit(turns_per_conv))

    turns = convs.select(
        "conv_no", F.explode(F.sequence(F.lit(1), F.col("n_turns"))).alias("turn_idx")
    )
    h = F.abs(F.xxhash64(F.lit(seed), F.col("conv_no"), F.col("turn_idx")))
    # gap seconds in [1, 3600]; ~5% of turns share the previous ts (tie-break tests)
    gap = F.when(h % 20 == 0, F.lit(0)).otherwise((h % 3600) + 1)
    w = Window.partitionBy("conv_no").orderBy("turn_idx")
    df = (
        turns.withColumn("gap_s", gap)
        .withColumn("offset_s", F.sum("gap_s").over(w) + F.col("conv_no") % 86400)
        .select(
            F.concat(F.lit("c"), F.col("conv_no").cast("string")).alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.element_at(F.array(*[F.lit(r) for r in _ROLES]), ((h % 3) + 1).cast("int")).alias("role"),
            F.concat(F.lit("msg-"), F.col("conv_no"), F.lit("-"), F.col("turn_idx"), F.lit("-"), h % 997).alias(
                "text"
            ),
            F.when(h % 4 == 3, F.lit(None).cast("string"))
            .otherwise(F.element_at(F.array(*[F.lit(t) for t in _TOOLS]), ((h % 4) + 1).cast("int")))
            .alias("tool"),
            (F.to_timestamp(F.lit(START_TS)) + F.make_interval(secs=F.col("offset_s").cast("double"))).alias("ts"),
        )
    )
    return enforce_schema(df, TRANSCRIPT_SCHEMA)


def synthesize_tool_dim(spark: SparkSession, seed: int = 42, n_days: int = 40) -> DataFrame:
    """Deterministic dim snapshots: one row per (tool, day)."""
    days = spark.range(n_days).select(F.col("id").alias("day_no"))
    tools = spark.createDataFrame([(t,) for t in _TOOLS], ["tool"])
    h = F.abs(F.xxhash64(F.lit(seed), F.col("tool"), F.col("day_no")))
    df = days.crossJoin(tools).select(
        "tool",
        (F.to_timestamp(F.lit(START_TS)) + F.make_interval(days=F.col("day_no").cast("int"))).alias(
            "effective_from"
        ),
        F.when(h % 2 == 0, F.lit("interact")).otherwise(F.lit("transact")).alias("tool_category"),
        F.round((h % 1000) / 100.0, 4).alias("cost_weight"),
    )
    return enforce_schema(df, TOOL_DIM_SCHEMA)

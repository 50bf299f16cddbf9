"""Transcript queries: windows, sessionization, as-of joins, dedup, flagship and rich features."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.catalog.common import (
    SECS,
    WITH_T,
    WITH_TD,
    W_SQL,
    CatalogEntry,
    _read,
    _ts_us,
)
from ipl_dagster_pipeline_spark.operators.asof import (
    asof_join_broadcast_range,
    asof_join_cogrouped,
    asof_snapshot_broadcast,
)
from ipl_dagster_pipeline_spark.operators.sessionize import (
    session_aggregates,
    sessionize,
    sessionize_grouped,
)
from ipl_dagster_pipeline_spark.operators.windows import (
    backfill,
    rank_dedup,
    with_lag_features,
    with_lead_targets,
    with_rolling_range,
    with_rolling_rows,
)
from ipl_dagster_pipeline_spark.plans.features import build_rich_turn_features, build_turn_features
from ipl_dagster_pipeline_spark.schema import TRANSCRIPT_SCHEMA, enforce_schema
from ipl_dagster_pipeline_spark.sources.transcripts import (
    CONV_DIM_CTE,
    TRANSCRIPTS_CTE,
    conv_dim_from_events,
    tool_dim_from_events,
    transcripts_from_events,
)


# ---------------------------------------------------------------------------
# transcript feature queries
# ---------------------------------------------------------------------------


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return _ts_us(with_lag_features(t), "ts")


SQL_LAG = f"""{WITH_T}
SELECT conv_id, turn_idx, role, text, tool,
       lag(role) OVER ({W_SQL}) AS prev_role_1,
       lag(tool) OVER ({W_SQL}) AS prev_tool_1,
       {SECS} - lag({SECS}) OVER ({W_SQL}) AS ts_delta_s_1,
       epoch_us(ts) AS ts_us
FROM transcripts
"""


def q_lead_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return _ts_us(with_lead_targets(t), "ts")


SQL_LEAD = f"""{WITH_T}
SELECT conv_id, turn_idx, role, text, tool,
       lead(role) OVER ({W_SQL}) AS lead_role_1,
       lead(text) OVER ({W_SQL}) AS lead_text_1,
       epoch_us(ts) AS ts_us
FROM transcripts
"""


def q_rolling_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir).withColumn("text_len", F.length("text").cast("long"))
    out = with_rolling_rows(t, F.col("text_len"), k=5, out_prefix="chars")
    return _ts_us(out.withColumn("chars_avg_5", F.round("chars_avg_5", 6)), "ts")


SQL_ROLL_ROWS = f"""{WITH_T}
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us,
       CAST(length(text) AS BIGINT) AS text_len,
       CAST(sum(CAST(length(text) AS BIGINT)) OVER w5 AS BIGINT) AS chars_sum_5,
       round(avg(CAST(length(text) AS BIGINT)) OVER w5, 6) AS chars_avg_5,
       count(CAST(length(text) AS BIGINT)) OVER w5 AS chars_cnt_5
FROM transcripts
WINDOW w5 AS ({W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def q_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir).withColumn("text_len", F.length("text").cast("long"))
    return _ts_us(with_rolling_range(t, F.col("text_len"), seconds=3600, out_prefix="chars"), "ts")


SQL_ROLL_RANGE = f"""{WITH_T}
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us,
       CAST(length(text) AS BIGINT) AS text_len,
       CAST(sum(CAST(length(text) AS BIGINT)) OVER wr AS BIGINT) AS chars_rsum_3600s,
       count(CAST(length(text) AS BIGINT)) OVER wr AS chars_rcnt_3600s
FROM transcripts
WINDOW wr AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return _ts_us(backfill(t, "tool", out="tool_ffill"), "ts")


SQL_BACKFILL = f"""{WITH_T}
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us,
       last_value(tool IGNORE NULLS) OVER ({W_SQL}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_ffill
FROM transcripts
"""

SQL_SESSIONIZE = f"""{WITH_T},
g AS (
    SELECT *, {SECS} - lag({SECS}) OVER ({W_SQL}) AS delta
    FROM transcripts
)
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us,
       CAST(sum(CASE WHEN delta IS NULL OR delta > 1800 THEN 1 ELSE 0 END)
            OVER ({W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
           AS session_id
FROM g
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return _ts_us(sessionize(t, gap_seconds=1800), "ts")


def q_sessionize_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via vectorized grouped-map Arrow (applyInArrow) — north rule."""
    t = transcripts_from_events(spark, sf_dir)
    return _ts_us(sessionize_grouped(t, gap_seconds=1800), "ts")


def q_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    agg = session_aggregates(sessionize(t, gap_seconds=1800))
    return _ts_us(agg, "session_start", "session_end")


SQL_SESSION_AGG = f"""{WITH_T},
g AS (
    SELECT *, {SECS} - lag({SECS}) OVER ({W_SQL}) AS delta
    FROM transcripts
),
s AS (
    SELECT *, CAST(sum(CASE WHEN delta IS NULL OR delta > 1800 THEN 1 ELSE 0 END)
              OVER ({W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
              AS session_id
    FROM g
)
SELECT conv_id, session_id,
       count(*) AS n_turns,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) AS session_end_us,
       max({SECS}) - min({SECS}) AS span_s,
       count(DISTINCT tool) AS n_tools,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user_turns,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM s
GROUP BY conv_id, session_id
"""


def q_asof_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via interval-broadcast (low-cardinality key path)."""
    t = transcripts_from_events(spark, sf_dir)
    d = tool_dim_from_events(spark, sf_dir)
    out = asof_join_broadcast_range(t, d, key="tool", ts_col="ts")
    return _ts_us(out, "ts", "matched_effective_from")


def q_asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of semantics via cogrouped-map Arrow (applyInArrow, numpy
    searchsorted with merge_asof semantics — the sort-merge path)."""
    t = transcripts_from_events(spark, sf_dir)
    d = tool_dim_from_events(spark, sf_dir)
    out = asof_join_cogrouped(t, d, key="tool", ts_col="ts")
    return _ts_us(out, "ts", "matched_effective_from")


SQL_ASOF = f"""{WITH_TD}
SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, epoch_us(t.ts) AS ts_us,
       d.tool_category, d.cost_weight,
       epoch_us(d.effective_from) AS matched_effective_from_us
FROM transcripts t
ASOF LEFT JOIN tool_dim d
  ON t.tool = d.tool AND t.ts >= d.effective_from
"""


def q_dedup_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    out = rank_dedup(t, ["conv_id", "turn_idx"], [F.col("ts"), F.col("text")], keep="first")
    return _ts_us(out, "ts")


SQL_DEDUP = f"""{WITH_T}
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
FROM transcripts
QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts, text) = 1
"""


def q_schema_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: coerce an eventish frame to the declared transcript schema —
    missing cols created as typed nulls, extras dropped, dtypes cast."""
    ev = _read(spark, sf_dir, "events")
    raw = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id").alias("turn_idx"),  # long → must cast to int
        F.col("props").alias("text"),
        F.col("ts"),
        F.col("value"),  # extra column → must be dropped
    )
    return _ts_us(enforce_schema(raw, TRANSCRIPT_SCHEMA), "ts")


SQL_SCHEMA_ENFORCE = """
SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
       CAST(event_id AS INTEGER) AS turn_idx,
       CAST(NULL AS VARCHAR) AS role,
       props AS text,
       CAST(NULL AS VARCHAR) AS tool,
       epoch_us(ts) AS ts_us
FROM events
"""


def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end feature build: as-of dim join + lag + rolling + backfill +
    sessionize, all PIT-correct."""
    t = transcripts_from_events(spark, sf_dir)
    d = tool_dim_from_events(spark, sf_dir)
    out = build_turn_features(t, d)
    out = out.withColumn("chars_avg_5", F.round("chars_avg_5", 6))
    return _ts_us(out, "ts", "matched_effective_from")


SQL_FLAGSHIP = f"""{WITH_TD},
j AS (
    SELECT t.*, CAST(length(t.text) AS BIGINT) AS text_len,
           d.tool_category, d.cost_weight, d.effective_from AS matched_effective_from
    FROM transcripts t
    ASOF LEFT JOIN tool_dim d ON t.tool = d.tool AND t.ts >= d.effective_from
),
g AS (
    SELECT *, {SECS} - lag({SECS}) OVER ({W_SQL}) AS delta
    FROM j
)
SELECT conv_id, turn_idx, role, text, tool, tool_category, cost_weight, text_len,
       epoch_us(ts) AS ts_us, epoch_us(matched_effective_from) AS matched_effective_from_us,
       lag(role) OVER ({W_SQL}) AS prev_role_1,
       lag(tool) OVER ({W_SQL}) AS prev_tool_1,
       {SECS} - lag({SECS}) OVER ({W_SQL}) AS ts_delta_s_1,
       CAST(sum(text_len) OVER w5 AS BIGINT) AS chars_sum_5,
       round(avg(text_len) OVER w5, 6) AS chars_avg_5,
       count(text_len) OVER w5 AS chars_cnt_5,
       CAST(sum(text_len) OVER wr AS BIGINT) AS chars_rsum_3600s,
       count(text_len) OVER wr AS chars_rcnt_3600s,
       last_value(tool IGNORE NULLS) OVER ({W_SQL}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_ffill,
       CAST(sum(CASE WHEN delta IS NULL OR delta > 1800 THEN 1 ELSE 0 END)
            OVER ({W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
           AS session_id
FROM g
WINDOW w5 AS ({W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       wr AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_asof_conv_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of union-fill path on the HIGH-cardinality key (conv_id)."""
    from ipl_dagster_pipeline_spark.operators.asof import asof_join_union_fill

    t = transcripts_from_events(spark, sf_dir)
    d = conv_dim_from_events(spark, sf_dir)
    out = asof_join_union_fill(t, d, key="conv_id", ts_col="ts", dim_ts="snapshot_ts")
    return _ts_us(out, "ts", "matched_effective_from")


SQL_ASOF_CONV = f"""WITH {TRANSCRIPTS_CTE.strip()}, {CONV_DIM_CTE.strip()}
SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, epoch_us(t.ts) AS ts_us,
       d.cohort, epoch_us(d.snapshot_ts) AS matched_effective_from_us
FROM transcripts t
ASOF LEFT JOIN conv_dim d
  ON t.conv_id = d.conv_id AND t.ts >= d.snapshot_ts
"""


def q_top3_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ipl_dagster_pipeline_spark.operators.windows import top_k_per_group

    t = transcripts_from_events(spark, sf_dir)
    out = top_k_per_group(t, ["conv_id"], [F.col("ts"), F.col("turn_idx")], k=3)
    return _ts_us(out, "ts")


SQL_TOP3 = f"""{WITH_T}
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
FROM transcripts
QUALIFY row_number() OVER ({W_SQL}) <= 3
"""


# ---------------------------------------------------------------------------
# batch 5: pinned-snapshot as-of, epoch parsing, embedding near-dup pairs
# ---------------------------------------------------------------------------

AS_OF_PIN = "2024-01-15 00:00:00"


def q_asof_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of strategy 4: pin the dim to its latest snapshot <= a fixed as_of,
    broadcast equi-join (single-timestamp feature builds)."""
    t = transcripts_from_events(spark, sf_dir)
    d = tool_dim_from_events(spark, sf_dir)
    out = asof_snapshot_broadcast(t, d, key="tool", as_of=AS_OF_PIN)
    return _ts_us(out, "ts", "matched_effective_from")


SQL_ASOF_PINNED = f"""{WITH_TD},
pinned AS (
    SELECT tool, effective_from AS matched_effective_from, tool_category, cost_weight
    FROM tool_dim
    WHERE effective_from <= TIMESTAMP '{AS_OF_PIN}'
    QUALIFY row_number() OVER (PARTITION BY tool ORDER BY effective_from DESC) = 1
)
SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, epoch_us(t.ts) AS ts_us,
       p.tool_category, p.cost_weight,
       epoch_us(p.matched_effective_from) AS matched_effective_from_us
FROM transcripts t
LEFT JOIN pinned p ON t.tool = p.tool
"""


# ---------------------------------------------------------------------------
# batch 6: the scaling-evidence job itself, oracle-verified
# ---------------------------------------------------------------------------


def q_rich_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact job measured in BENCH/BASELINE.md (fused ~30-column feature
    build), verified against a full SQL oracle."""
    t = transcripts_from_events(spark, sf_dir)
    d = tool_dim_from_events(spark, sf_dir)
    out = build_rich_turn_features(t, d)
    out = out.withColumn("chars_avg_5", F.round("chars_avg_5", 6)).withColumn(
        "chars_avg_20", F.round("chars_avg_20", 6)
    )
    return _ts_us(out, "ts", "matched_effective_from")


_RICH_LAGS = "\n       ".join(
    f"lag(role, {n}) OVER ({W_SQL}) AS prev_role_{n},\n       "
    f"lag(tool, {n}) OVER ({W_SQL}) AS prev_tool_{n},\n       "
    f"{SECS} - lag({SECS}, {n}) OVER ({W_SQL}) AS ts_delta_s_{n},"
    for n in (1, 2, 3)
)
_RICH_ROLL = "\n       ".join(
    f"CAST(sum(text_len) OVER w{k} AS BIGINT) AS chars_sum_{k},\n       "
    f"round(avg(text_len) OVER w{k}, 6) AS chars_avg_{k},\n       "
    f"count(text_len) OVER w{k} AS chars_cnt_{k},"
    for k in (5, 20)
)
SQL_RICH = f"""{WITH_TD},
j AS (
    SELECT t.*, CAST(length(t.text) AS BIGINT) AS text_len,
           d.tool_category, d.cost_weight, d.effective_from AS matched_effective_from
    FROM transcripts t
    ASOF LEFT JOIN tool_dim d ON t.tool = d.tool AND t.ts >= d.effective_from
),
g AS (
    SELECT *, {SECS} - lag({SECS}) OVER ({W_SQL}) AS delta
    FROM j
)
SELECT conv_id, turn_idx, role, text, tool, tool_category, cost_weight, text_len,
       epoch_us(ts) AS ts_us, epoch_us(matched_effective_from) AS matched_effective_from_us,
       {_RICH_LAGS}
       {_RICH_ROLL}
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) OVER w20 AS BIGINT) AS user_turns_20,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) OVER w20 AS BIGINT) AS asst_turns_20,
       CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER w20 AS BIGINT) AS tool_turns_20,
       max(text_len) OVER w20 AS chars_max_20w,
       min(text_len) OVER w20 AS chars_min_20w,
       CAST(sum(text_len) OVER wr AS BIGINT) AS chars_rsum_3600s,
       count(text_len) OVER wr AS chars_rcnt_3600s,
       last_value(tool IGNORE NULLS) OVER ({W_SQL}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_ffill,
       CAST(sum(CASE WHEN delta IS NULL OR delta > 1800 THEN 1 ELSE 0 END)
            OVER ({W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
           AS session_id
FROM g
WINDOW w5 AS ({W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       w20 AS ({W_SQL} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       wr AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# batch 28 (round 4): transcripts-native training-data prep — sliding
# context-window assembly, prompt/completion pairing, tool-transition
# statistics.  The turn-ordering contract (ts, event_id tie-break) carries
# through all three.  Catalog-only; value-hash oracles.
# ---------------------------------------------------------------------------

_CTX_TURNS = 3  # current + 2 preceding


def q_turn_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn training context: the last 3 turns (role-tagged) joined into
    one string under the stable turn ordering — the sliding-window example
    assembly step of a conversation-tuning pipeline.  One window pass riding
    the per-conversation sort; list order IS the frame order, so the
    assembled context is deterministic at any parallelism."""
    t = transcripts_from_events(spark, sf_dir)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-(_CTX_TURNS - 1), 0)
    )
    # NULL-explicit tagging: coalesce BOTH parts on BOTH engines.  concat_ws
    # silently skips null args (Spark-only semantics) while the oracle's
    # `||` nulls the whole element, which string_agg then drops — under a
    # null-text stratum the two diverge.  coalesce-to-'' makes the element
    # total and identical everywhere (advice r4 #1).
    tagged = F.concat(
        F.coalesce(F.col("role"), F.lit("")),
        F.lit(": "),
        F.coalesce(F.col("text"), F.lit("")),
    )
    return t.select(
        "conv_id",
        "turn_idx",
        F.array_join(F.collect_list(tagged).over(w), " | ").alias("context"),
        F.count(F.lit(1)).over(w).cast("int").alias("n_ctx_turns"),
    )


SQL_CONTEXT_WINDOWS = f"""{WITH_T}
SELECT conv_id, turn_idx,
       string_agg(coalesce(role, '') || ': ' || coalesce(text, ''), ' | ') OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN {_CTX_TURNS - 1} PRECEDING AND CURRENT ROW) AS context,
       CAST(count(*) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN {_CTX_TURNS - 1} PRECEDING AND CURRENT ROW) AS INTEGER) AS n_ctx_turns
FROM transcripts
"""


def q_prompt_completion_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prompt, completion) extraction: every assistant turn whose
    immediately preceding turn is a user turn becomes one training pair —
    the lag features and the stable ordering doing supervision-data work."""
    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = t.select(
        "conv_id",
        "turn_idx",
        F.lag("role").over(w).alias("prev_role"),
        F.lag("text").over(w).alias("prompt"),
        F.col("role"),
        F.col("text").alias("completion"),
    )
    return pairs.filter(
        (F.col("role") == "assistant") & (F.col("prev_role") == "user")
    ).select("conv_id", "turn_idx", "prompt", "completion")


SQL_PROMPT_COMPLETION = f"""{WITH_T}
SELECT conv_id, turn_idx, prompt, completion
FROM (
    SELECT conv_id, turn_idx,
           lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
           lag(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prompt,
           role, text AS completion
    FROM transcripts
)
WHERE role = 'assistant' AND prev_role = 'user'
"""


def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-usage bigram statistics: counts of consecutive (prev_tool →
    tool) transitions within conversations over the tool-bearing turns —
    the Markov-transition profile of agent behavior."""
    t = transcripts_from_events(spark, sf_dir).filter(F.col("tool").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tr = t.select("conv_id", F.lag("tool").over(w).alias("prev_tool"), "tool")
    return (
        tr.filter(F.col("prev_tool").isNotNull())
        .groupBy("prev_tool", "tool")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


SQL_TOOL_TRANSITIONS = f"""{WITH_T}
SELECT prev_tool, tool, CAST(count(*) AS BIGINT) AS n_transitions
FROM (
    SELECT conv_id,
           lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool,
           tool
    FROM transcripts WHERE tool IS NOT NULL
)
WHERE prev_tool IS NOT NULL
GROUP BY prev_tool, tool
"""


CATALOG: dict[str, CatalogEntry] = {
    # windowed features (SURVEY §2.6)
    "lag_features": (q_lag_features, SQL_LAG),
    "lead_targets": (q_lead_targets, SQL_LEAD),
    "rolling_rows": (q_rolling_rows, SQL_ROLL_ROWS),
    "rolling_range": (q_rolling_range, SQL_ROLL_RANGE),
    "backfill_ffill": (q_backfill, SQL_BACKFILL),
    # sessionization (W5) — both physical paths, same oracle
    "sessionize_window": (q_sessionize, SQL_SESSIONIZE),
    "sessionize_grouped": (q_sessionize_grouped, SQL_SESSIONIZE),
    "session_aggregates": (q_session_agg, SQL_SESSION_AGG),
    # as-of join (J5) — both physical paths, same oracle
    "asof_broadcast_range": (q_asof_tool, SQL_ASOF),
    "asof_cogrouped": (q_asof_cogrouped, SQL_ASOF),
    # dedup / schema (P1/P7)
    "dedup_turns": (q_dedup_turns, SQL_DEDUP),
    "schema_enforce": (q_schema_enforce, SQL_SCHEMA_ENFORCE),
    # flagship end-to-end
    "flagship_features": (q_flagship, SQL_FLAGSHIP),
    "asof_conv_dim_union_fill": (q_asof_conv_dim, SQL_ASOF_CONV),
    "top3_turns_per_conv": (q_top3_turns, SQL_TOP3),
    "asof_pinned_snapshot": (q_asof_pinned, SQL_ASOF_PINNED),
    "rich_features": (q_rich_features, SQL_RICH),
    "turn_context_windows": (q_turn_context_windows, SQL_CONTEXT_WINDOWS),
    "prompt_completion_pairs": (q_prompt_completion_pairs, SQL_PROMPT_COMPLETION),
    "tool_transitions": (q_tool_transitions, SQL_TOOL_TRANSITIONS),
}

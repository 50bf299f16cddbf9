"""The flagship end-to-end feature-build plan (north rule).

transcripts → as-of join dim snapshots (PIT-correct) → lag features →
rolling windows → backfill → gap sessionization → per-turn feature vector
(+ optional per-session rollup).

One declarative DataFrame plan: Catalyst fuses the window chain (all windows
share partitionBy(conv_id) orderBy(ts, turn_idx), so a single sort/shuffle
serves lag + rolling + backfill + sessionize), the as-of union-fill adds one
more pass over the same partitioning, and the dim build broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.asof import asof_join_broadcast_range
from ..operators.sessionize import session_aggregates


def build_turn_features(
    transcripts: DataFrame,
    tool_dim: DataFrame | None = None,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-turn PIT-correct feature vector: lag-1, 5-row and 3600 s rolling
    text lengths, the forward-filled tool and the gap session id.

    Every feature reads only rows with ts' <= ts (lag/rolling/backfill frames
    end at CURRENT ROW; the as-of join matches effective_from <= ts).
    """
    # FUSED: all window expressions with the shared (conv_id | ts, turn_idx)
    # spec in one select → 2 Window passes (plus the interval range frame
    # which shares the sort as a prefix).  Each physical Window node is a full
    # row-copy pass, so fusion halves wall time vs chaining the operator
    # helpers (which stay available for à-la-carte use and are what the
    # equivalence tests compare against).
    from ..operators.windows import turn_window

    df = transcripts.withColumn("text_len", F.length("text").cast("long"))
    if tool_dim is not None:
        # tool has ~5 distinct values → interval-broadcast path (skew-free),
        # not the window path (which would partition by tool).
        df = asof_join_broadcast_range(df, tool_dim, key="tool")

    from pyspark.sql import Window as W

    w = turn_window()
    wk = w.rowsBetween(-4, 0)
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    tl = F.col("text_len")
    range_over = (
        "OVER (PARTITION BY conv_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 3600 SECONDS PRECEDING AND CURRENT ROW)"
    )
    df = df.select(
        "*",
        F.lag("role").over(w).alias("prev_role_1"),
        F.lag("tool").over(w).alias("prev_tool_1"),
        (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)).alias("ts_delta_s_1"),
        F.sum(tl).over(wk).alias("chars_sum_5"),
        F.avg(tl).over(wk).alias("chars_avg_5"),
        F.count(tl).over(wk).alias("chars_cnt_5"),
        F.expr(f"sum(text_len) {range_over}").alias("chars_rsum_3600s"),
        F.expr(f"count(text_len) {range_over}").alias("chars_rcnt_3600s"),
        F.last("tool", ignorenulls=True).over(wcum).alias("tool_ffill"),
    )
    new_sess = F.when(
        F.col("ts_delta_s_1").isNull() | (F.col("ts_delta_s_1") > gap_seconds), 1
    ).otherwise(0)
    return df.select("*", F.sum(new_sess).over(wcum).cast("int").alias("session_id"))


def build_session_features(turn_features: DataFrame) -> DataFrame:
    """Per-session rollup over the sessionized turn features."""
    return session_aggregates(turn_features)


def build_rich_turn_features(transcripts: DataFrame, tool_dim: DataFrame | None = None) -> DataFrame:
    """Production-shaped feature set (~30 feature columns), FUSED: lags 1-3,
    5- and 20-row and 3600 s rolling windows, 1800 s gap sessions.

    Every Window physical node is one full row-copy pass over the partition;
    chaining operator helpers layer-by-layer planned ~10 Window nodes — 10
    passes over ever-wider rows, which saturates memory bandwidth long before
    32 cores.  Here all window expressions with the shared (conv_id |
    ts, turn_idx) spec are emitted in ONE select (one-two Window passes), and
    only the session cumsum — which depends on the computed gap — takes a
    second pass.  Same single shuffle + single sort as `build_turn_features`.
    """
    from ..operators.windows import turn_window

    df = transcripts.withColumn("text_len", F.length("text").cast("long"))
    if tool_dim is not None:
        df = asof_join_broadcast_range(df, tool_dim, key="tool")

    w = turn_window()
    from pyspark.sql import Window as W

    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    tl = F.col("text_len")
    range_over = (
        "OVER (PARTITION BY conv_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 3600 SECONDS PRECEDING AND CURRENT ROW)"
    )
    exprs = []
    for n in (1, 2, 3):
        exprs += [
            F.lag("role", n).over(w).alias(f"prev_role_{n}"),
            F.lag("tool", n).over(w).alias(f"prev_tool_{n}"),
            (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), n).over(w)).alias(
                f"ts_delta_s_{n}"
            ),
        ]
    for k in (5, 20):
        wk = w.rowsBetween(-(k - 1), 0)
        exprs += [
            F.sum(tl).over(wk).alias(f"chars_sum_{k}"),
            F.avg(tl).over(wk).alias(f"chars_avg_{k}"),
            F.count(tl).over(wk).alias(f"chars_cnt_{k}"),
        ]
    w20 = w.rowsBetween(-19, 0)
    exprs += [
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).over(w20).alias("user_turns_20"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).over(w20).alias("asst_turns_20"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).over(w20).alias("tool_turns_20"),
        F.max(tl).over(w20).alias("chars_max_20w"),
        F.min(tl).over(w20).alias("chars_min_20w"),
        F.expr(f"sum(text_len) {range_over}").alias("chars_rsum_3600s"),
        F.expr(f"count(text_len) {range_over}").alias("chars_rcnt_3600s"),
        F.last("tool", ignorenulls=True).over(wcum).alias("tool_ffill"),
        (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)).alias("__gap_s"),
    ]
    df = df.select("*", *exprs)
    new_sess = F.when(F.col("__gap_s").isNull() | (F.col("__gap_s") > 1800), 1).otherwise(0)
    return df.select("*", F.sum(new_sess).over(wcum).cast("int").alias("session_id")).drop("__gap_s")

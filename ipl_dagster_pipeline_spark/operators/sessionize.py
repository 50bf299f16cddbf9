"""Gap-based sessionization (SURVEY §2.6 W5) — two equivalent implementations.

1. ``sessionize`` — pure-Spark window-sum: flag turns whose gap from the
   previous turn exceeds the threshold, cumulative-sum the flags.  Whole-stage
   codegen, one shuffle on conv_id.  This is the default/scale path.
2. ``sessionize_grouped`` — vectorized grouped-map Arrow (`applyInArrow`, one
   ``pyarrow.Table`` per conversation, numpy over the Arrow buffers, no
   pandas and no per-row Python) — the north-rule-mandated grouped-map
   variant; also the template for arbitrary per-conversation feature blocks
   (reference precedent: per-feed frame transforms, lamassu.py:137-235).

Both order by (ts, turn_idx), NULLs first, for stable tie-breaking.  A first
turn (no predecessor) always starts session 1.  A turn with a NULL ``ts``
has no gap to either neighbour, so it and the turn after it both open a new
session.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windows import turn_window


def sessionize(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Window-sum sessionization: session_id = 1 + count of gaps > threshold
    among all preceding turns of the conversation.  A NULL gap (first turn,
    or a NULL ``ts`` on either side) opens a session; the flag reads the
    gap once, so the plan holds one ``lag``."""
    w = turn_window()
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_sess = F.coalesce((gap > gap_seconds).cast("int"), F.lit(1))
    cum = turn_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)  # shares the chain sort
    return df.withColumn("__new", new_sess).withColumn(
        "session_id", F.sum("__new").over(cum).cast("int")
    ).drop("__new")


def sessionize_grouped(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Grouped-map Arrow sessionization — the same session ids as
    ``sessionize`` (equivalence covered by tests/test_sessionize.py and
    tests/test_property.py), NULL ``ts`` included: a NULL-``ts`` turn sorts
    first and it and its successor each open a session.

    Scale notes: each group is one conversation; conversations are bounded in
    length (hot ones should be salted upstream via partitioning.salt_hot_keys
    only for aggregations — sessionization itself is a sequential scan per
    conversation and must see the whole group).  Each group arrives as one
    Arrow table and leaves with one appended int32 column.
    """
    from pyspark.sql import types as T

    # fresh StructType — StructType.add would mutate the DataFrame's cached schema
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField("session_id", T.IntegerType(), False)])
    order = [("ts", "ascending"), ("turn_idx", "ascending")]

    def _sessionize_table(tbl: pa.Table) -> pa.Table:
        tbl = tbl.take(pc.sort_indices(tbl, sort_keys=order, null_placement="at_start"))
        ts = tbl.column("ts")
        valid = ts.is_valid().to_numpy(zero_copy_only=False)
        # FLOOR-second deltas, exactly like the window path's
        # cast(ts as long): a fractional diff would disagree on sub-second
        # timestamps whenever a gap straddles the threshold (delta in
        # (gap, gap+1) floors to gap → same session in the window path)
        secs = pc.fill_null(ts.cast(pa.int64()), 0).to_numpy() // 1_000_000
        new = np.ones(len(secs), dtype=bool)
        new[1:] = ~(valid[1:] & valid[:-1]) | (np.diff(secs) > gap_seconds)
        return tbl.append_column(
            pa.field("session_id", pa.int32(), nullable=False), pa.array(np.cumsum(new, dtype=np.int32))
        )

    return df.groupBy("conv_id").applyInArrow(_sessionize_table, schema=out_schema)


def session_aggregates(sessions: DataFrame) -> DataFrame:
    """Per-session rollup after sessionization (SURVEY §2.5 engine-added
    aggregates): turn count, span, distinct tools, role mix."""
    return sessions.groupBy("conv_id", "session_id").agg(
        F.count("*").alias("n_turns"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias("span_s"),
        F.count_distinct("tool").alias("n_tools"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("n_user_turns"),
        F.sum(F.length("text")).alias("total_chars"),
    )

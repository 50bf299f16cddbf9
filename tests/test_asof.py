"""As-of join: all strategies agree, match pd.merge_asof, and never leak."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from ipl_dagster_pipeline_spark.operators.asof import (
    asof_join_broadcast_range,
    asof_join_cogrouped,
    asof_join_union_fill,
    asof_snapshot_broadcast,
)


def _key(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)


def _oracle(facts: pd.DataFrame, dim: pd.DataFrame, key: str) -> pd.DataFrame:
    f = facts.sort_values("ts", kind="mergesort")
    d = dim.sort_values("effective_from", kind="mergesort").rename(
        columns={"effective_from": "matched_effective_from"}
    )
    out = pd.merge_asof(
        f, d, left_on="ts", right_on="matched_effective_from", by=key, direction="backward"
    )
    return out


def test_all_asof_strategies_agree(small_transcripts, small_tool_dim, small_transcripts_pdf):
    dim_pdf = small_tool_dim.toPandas()
    exp = _key(_oracle(small_transcripts_pdf, dim_pdf, "tool"))

    for fn in (asof_join_union_fill, asof_join_cogrouped, asof_join_broadcast_range):
        got = _key(fn(small_transcripts, small_tool_dim, key="tool").toPandas())
        assert len(got) == len(exp), fn.__name__
        assert (
            got["matched_effective_from"].astype("int64", errors="ignore").fillna(-1).tolist()
            if got["matched_effective_from"].notna().all()
            else got["matched_effective_from"].fillna(pd.Timestamp(0)).tolist()
        ) == (
            exp["matched_effective_from"].fillna(pd.Timestamp(0)).tolist()
        ), fn.__name__
        pd.testing.assert_series_equal(
            got["cost_weight"], exp["cost_weight"], check_names=False, check_exact=False, atol=1e-9
        )
        assert got["text"].tolist() == exp["text"].tolist()  # stable ordering invariant


def test_zero_temporal_leakage(small_transcripts, small_tool_dim):
    for fn in (asof_join_union_fill, asof_join_cogrouped, asof_join_broadcast_range):
        out = fn(small_transcripts, small_tool_dim, key="tool")
        leaks = out.filter(F.col("matched_effective_from") > F.col("ts")).count()
        assert leaks == 0, fn.__name__


def test_exact_match_visible(spark):
    """A snapshot effective exactly at ts must be matched (allow_exact_matches)."""
    facts = (
        spark.createDataFrame([("c1", 1, "search", "2024-01-02 00:00:00")], ["conv_id", "turn_idx", "tool", "ts"])
        .withColumn("ts", F.to_timestamp("ts"))
    )
    dim = (
        spark.createDataFrame(
            [("search", "2024-01-01 00:00:00", 1.0), ("search", "2024-01-02 00:00:00", 2.0)],
            ["tool", "effective_from", "w"],
        )
        .withColumn("effective_from", F.to_timestamp("effective_from"))
    )
    for fn in (asof_join_union_fill, asof_join_cogrouped, asof_join_broadcast_range):
        row = fn(facts, dim, key="tool").collect()[0]
        assert row.w == 2.0, fn.__name__


def test_null_ts_fact_matches_nothing(spark):
    """A fact with a NULL ts has no snapshot at or before it: every
    strategy returns it with NULL dim columns, and a fact with a ts in the
    same group still matches."""
    import datetime as dt

    t = dt.datetime(2024, 1, 2)
    facts = spark.createDataFrame(
        [("c1", 1, "search", None), ("c1", 2, "search", t)],
        "conv_id string, turn_idx int, tool string, ts timestamp",
    )
    dim = spark.createDataFrame(
        [("search", t - dt.timedelta(days=1), 1.0)], "tool string, effective_from timestamp, w double"
    )
    for fn in (asof_join_union_fill, asof_join_cogrouped, asof_join_broadcast_range):
        got = {r.turn_idx: (r.w, r.matched_effective_from) for r in fn(facts, dim, key="tool").collect()}
        assert got == {1: (None, None), 2: (1.0, t - dt.timedelta(days=1))}, fn.__name__


def test_null_effective_from_dim_row_is_never_effective(spark):
    """A dim row with a NULL effective_from matches no fact on any
    strategy: the fact before the only dated snapshot gets NULL dim
    columns, not the undated row's value."""
    import datetime as dt

    facts = spark.createDataFrame(
        [("c1", 1, "search", dt.datetime(2024, 1, 2))],
        "conv_id string, turn_idx int, tool string, ts timestamp",
    )
    dim = spark.createDataFrame(
        [("search", None, 9.0), ("search", dt.datetime(2024, 1, 3), 1.0)],
        "tool string, effective_from timestamp, w double",
    )
    for fn in (asof_join_union_fill, asof_join_cogrouped, asof_join_broadcast_range):
        [row] = fn(facts, dim, key="tool").collect()
        assert (row.w, row.matched_effective_from) == (None, None), fn.__name__


def test_snapshot_broadcast_pins_latest_leq_asof(spark):
    facts = spark.createDataFrame([("search", 1)], ["tool", "x"])
    dim = (
        spark.createDataFrame(
            [("search", "2024-01-01 00:00:00", 1.0), ("search", "2024-03-01 00:00:00", 3.0)],
            ["tool", "effective_from", "w"],
        )
        .withColumn("effective_from", F.to_timestamp("effective_from"))
    )
    row = asof_snapshot_broadcast(facts, dim, key="tool", as_of="2024-02-01 00:00:00").collect()[0]
    assert row.w == 1.0


def test_union_fill_matched_snapshot_is_atomic(spark):
    """A newer dim snapshot with a NULL value column must yield NULL for that
    column (row-wise as-of semantics) — per-column forward-fill would bleed
    the older snapshot's non-null value through while reporting the newer
    matched_effective_from (ADVICE round 1)."""
    import pytest

    facts = (
        spark.createDataFrame(
            [("c1", 1, "search", "2024-01-03 00:00:00")],
            ["conv_id", "turn_idx", "tool", "ts"],
        ).withColumn("ts", F.to_timestamp("ts"))
    )
    dim = (
        spark.createDataFrame(
            [
                ("search", "2024-01-01 00:00:00", "cat_old", 1.0),
                ("search", "2024-01-02 00:00:00", None, 2.0),  # newer: NULL category
            ],
            ["tool", "effective_from", "tool_category", "cost_weight"],
        ).withColumn("effective_from", F.to_timestamp("effective_from"))
    )
    for fn in (asof_join_union_fill, asof_join_cogrouped, asof_join_broadcast_range):
        row = fn(facts, dim, key="tool").collect()[0]
        assert row.cost_weight == 2.0, fn.__name__
        assert row.tool_category is None, f"{fn.__name__}: older snapshot value bled through"

    # fact/dim value-column name collision must raise, not silently null out
    facts_clash = facts.withColumn("cost_weight", F.lit(9.9))
    with pytest.raises(ValueError, match="collision"):
        asof_join_union_fill(facts_clash, dim, key="tool")

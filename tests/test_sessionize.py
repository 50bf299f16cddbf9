"""Sessionization: window-sum vs grouped-map Arrow equivalence + pandas oracle."""

from __future__ import annotations

import pandas as pd

from ipl_dagster_pipeline_spark.operators.sessionize import (
    session_aggregates,
    sessionize,
    sessionize_grouped,
)

GAP = 900


def _key(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)


def _pandas_oracle(pdf: pd.DataFrame, gap: int) -> pd.Series:
    pdf = _key(pdf.copy())
    delta = pdf.groupby("conv_id", sort=False)["ts"].diff().dt.total_seconds()
    return (delta.isna() | (delta > gap)).groupby(pdf["conv_id"], sort=False).cumsum().astype(int)


def test_sessionize_matches_pandas(small_transcripts, small_transcripts_pdf):
    got = _key(sessionize(small_transcripts, gap_seconds=GAP).toPandas())
    exp = _pandas_oracle(small_transcripts_pdf, GAP)
    assert got["session_id"].tolist() == exp.tolist()


def test_grouped_map_equivalent_to_window_sum(small_transcripts):
    a = _key(sessionize(small_transcripts, gap_seconds=GAP).toPandas())
    b = _key(sessionize_grouped(small_transcripts, gap_seconds=GAP).toPandas())
    assert a["session_id"].tolist() == b["session_id"].tolist()
    assert a["text"].tolist() == b["text"].tolist()  # per-turn text equality, stable order


def test_gap_exactly_threshold_stays_same_session(spark):
    import pyspark.sql.functions as F

    rows = [("c", 1, "2024-01-01 00:00:00"), ("c", 2, "2024-01-01 00:15:00"), ("c", 3, "2024-01-01 00:30:01")]
    df = (
        spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts"])
        .withColumn("ts", F.to_timestamp("ts"))
        .withColumn("role", F.lit("user"))
        .withColumn("text", F.lit("t"))
        .withColumn("tool", F.lit(None).cast("string"))
    )
    out = sessionize(df, gap_seconds=900).orderBy("turn_idx").toPandas()
    # 900s gap == threshold → same session; 901s → new session
    assert out["session_id"].tolist() == [1, 1, 2]


def test_session_aggregates_counts(small_transcripts):
    sess = sessionize(small_transcripts, gap_seconds=GAP)
    agg = session_aggregates(sess)
    total = agg.agg({"n_turns": "sum"}).collect()[0][0]
    assert total == small_transcripts.count()


def test_subsecond_boundary_semantics_agree_across_all_paths(spark):
    """Floor-second gap semantics (cast(ts as long)) on SUB-SECOND timestamps:
    delta 00:00:00.100 → 00:30:00.700 floats to 1800.6s but floors to exactly
    1800 → SAME session on both paths; 00:00:00.900 → 00:30:01.000 floors to
    1801 → NEW session on both paths.  Round-2 regression: the grouped path
    used float total_seconds() and disagreed with the window path on exactly
    these shapes."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 1, "user", "a", None, base + dt.timedelta(milliseconds=100)),
        ("c1", 2, "user", "b", None, base + dt.timedelta(minutes=30, milliseconds=700)),
        ("c2", 1, "user", "c", None, base + dt.timedelta(milliseconds=900)),
        ("c2", 2, "user", "d", None, base + dt.timedelta(minutes=30, seconds=1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    expected = {("c1", 1): 1, ("c1", 2): 1, ("c2", 1): 1, ("c2", 2): 2}
    for fn in (sessionize, sessionize_grouped):
        got = {(r.conv_id, r.turn_idx): r.session_id for r in fn(df, gap_seconds=1800).collect()}
        assert got == expected, fn.__name__


def test_null_ts_turn_opens_a_session_on_both_paths(spark):
    """A NULL-ts turn sorts first (NULLS FIRST, as the window orders) and has
    no gap to its neighbours, so it and the turn after it both open a new
    session — on the grouped-map path too, not only the window path."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    rows = [
        ("c", 3, "user", "c", None, t + dt.timedelta(seconds=10)),
        ("c", 1, "user", "a", None, None),
        ("c", 2, "user", "b", None, t),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    for fn in (sessionize, sessionize_grouped):
        got = {r.turn_idx: r.session_id for r in fn(df, gap_seconds=1800).collect()}
        assert got == {1: 1, 2: 2, 3: 2}, fn.__name__

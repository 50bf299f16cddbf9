"""Leakage-safe target encoding (operators/encoding.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.operators import encoding
from ipl_dagster_pipeline_spark.operators.encoding import MICRO, target_encode_pit


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), k, v) for i, s, k, v in rows],
        "event_id long, ts timestamp, user_id long, value double",
    )


def test_first_row_gets_exactly_the_prior(spark, monkeypatch):
    monkeypatch.setattr(encoding, "TE_SMOOTHING", 2)
    df = _events(spark, [(1, 0, 7, 2.0), (2, 10, 7, 4.0), (3, 20, 7, 100.0)])
    out = (
        target_encode_pit(df, "user_id", "value", ["ts", "event_id"])
        .orderBy("event_id")
        .collect()
    )
    # prior mean = (2+4+100)/3; first row has cnt 0 → te == prior mean
    assert out[0]["te_cnt"] == 0
    assert out[0]["te_value"] == pytest.approx(106.0 / 3, abs=1e-6)
    # second row: (2 + 2·(106/3)) / (1 + 2)
    assert out[1]["te_cnt"] == 1 and out[1]["te_sum_micro"] == 2 * MICRO
    assert out[1]["te_value"] == pytest.approx((2 + 2 * 106 / 3) / 3, abs=1e-6)


def test_zero_temporal_leakage(spark):
    """Perturbing a LATER label never changes an earlier row's encoding, and
    a row's own label never feeds its own encoding."""
    base = [(1, 0, 7, 2.0), (2, 10, 7, 4.0), (3, 20, 7, 8.0), (4, 5, 9, 1.0)]
    prior = (int(15 * MICRO), 4)  # pin the prior so only the window differs
    a = target_encode_pit(
        _events(spark, base), "user_id", "value", ["ts", "event_id"], prior=prior
    )
    poisoned = [(i, s, k, 9999.0 if i == 3 else v) for i, s, k, v in base]
    b = target_encode_pit(
        _events(spark, poisoned), "user_id", "value", ["ts", "event_id"], prior=prior
    )
    rows_a = {r["event_id"]: r["te_value"] for r in a.collect()}
    rows_b = {r["event_id"]: r["te_value"] for r in b.collect()}
    # rows 1, 2 precede the poisoned row; row 3 is the poisoned row itself —
    # its OWN encoding must also be unchanged (own label excluded)
    for eid in (1, 2, 3, 4):
        assert rows_a[eid] == rows_b[eid], eid


def test_null_labels_skipped_but_rows_kept(spark):
    df = _events(spark, [(1, 0, 7, None), (2, 10, 7, 6.0), (3, 20, 7, None)])
    out = {
        r["event_id"]: r
        for r in target_encode_pit(
            df, "user_id", "value", ["ts", "event_id"], prior=(6 * MICRO, 1)
        ).collect()
    }
    assert len(out) == 3  # null-label rows still encoded
    assert out[2]["te_cnt"] == 0  # the null row before it contributes nothing
    assert out[3]["te_cnt"] == 1 and out[3]["te_sum_micro"] == 6 * MICRO


def test_explicit_prior_and_validation(spark, monkeypatch):
    monkeypatch.setattr(encoding, "TE_SMOOTHING", 5)
    df = _events(spark, [(1, 0, 7, 2.0)])
    out = target_encode_pit(
        df, "user_id", "value", ["ts", "event_id"], prior=(10 * MICRO, 2)
    ).collect()[0]
    assert out["te_value"] == pytest.approx(5.0, abs=1e-6)  # prior mean 10/2
    with pytest.raises(ValueError, match="denominator"):
        target_encode_pit(df, "user_id", "value", ["ts"], prior=(1, 0))


def test_plan_one_exchange_one_sort(spark):
    """The whole encoding is one hash shuffle on the key + one sort — no
    joins, no extra exchanges (the prior is literal-folded)."""
    df = _events(spark, [(1, 0, 7, 2.0), (2, 10, 7, 4.0)])
    plan = (
        target_encode_pit(df, "user_id", "value", ["ts", "event_id"], prior=(1 * MICRO, 1))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Join" not in plan

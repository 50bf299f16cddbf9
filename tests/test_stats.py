"""Feature-selection statistics (operators/stats.py)."""

from __future__ import annotations

import math

import pytest

from ipl_dagster_pipeline_spark.operators.stats import (
    mutual_information,
    pairwise_correlations,
)


def test_pairwise_correlations_exact_cases(spark):
    # y = 2x (r=1), z = -x (r=-1 with x), w constant (degenerate → 0)
    rows = [(float(i), 2.0 * i, -float(i), 5.0) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "x double, y double, z double, w double")
    out = {(r["col_a"], r["col_b"]): r for r in
           pairwise_correlations(df, ["x", "y", "z", "w"]).collect()}
    assert len(out) == 6
    assert out[("x", "y")]["r"] == pytest.approx(1.0)
    assert out[("x", "z")]["r"] == pytest.approx(-1.0)
    assert out[("x", "w")]["r"] == 0.0  # zero variance → 0, not NaN
    assert out[("x", "y")]["n_pair"] == 8
    with pytest.raises(ValueError, match=">= 2"):
        pairwise_correlations(df, ["x"])


def test_pairwise_correlations_pairwise_null_deletion(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0, None), (2.0, 2.0, 4.0), (3.0, 3.0, 6.0), (None, 9.0, 9.0)],
        "x double, y double, z double",
    )
    out = {(r["col_a"], r["col_b"]): r for r in
           pairwise_correlations(df, ["x", "y", "z"]).collect()}
    assert out[("x", "y")]["n_pair"] == 3   # row with NULL x dropped for this pair only
    assert out[("x", "z")]["n_pair"] == 2
    assert out[("y", "z")]["n_pair"] == 3
    assert out[("x", "z")]["r"] == pytest.approx(1.0)


def test_mutual_information_independent_and_determined(spark):
    # independent: every (x, y) combination equally likely → MI = 0
    indep = spark.createDataFrame(
        [(x, y) for x in ("a", "b") for y in (0, 1) for _ in range(5)],
        "x string, y int",
    )
    [r] = mutual_information(indep, "x", "y").collect()
    assert r["mi_mnats_scaled"] == 0 and r["mi"] == 0.0 and r["n_rows"] == 20
    # fully determined: y = f(x) → MI = H(x) = ln 2 (uniform binary)
    det = spark.createDataFrame(
        [("a", 0)] * 8 + [("b", 1)] * 8, "x string, y int"
    )
    [r] = mutual_information(det, "x", "y").collect()
    assert r["mi"] == pytest.approx(math.log(2), abs=1e-3)


def test_mutual_information_null_category_and_empty(spark):
    df = spark.createDataFrame(
        [(None, 0)] * 4 + [("a", 1)] * 4, "x string, y int"
    )
    [r] = mutual_information(df, "x", "y").collect()
    # NULL is a real category; x determines y → MI = ln 2
    assert r["mi"] == pytest.approx(math.log(2), abs=1e-3)
    [r] = mutual_information(df.limit(0), "x", "y").collect()
    assert (r["n_rows"], r["mi_mnats_scaled"], r["mi"]) == (0, 0, 0.0)


def test_feature_psi_identical_and_shifted(spark):
    from ipl_dagster_pipeline_spark.operators.stats import feature_psi

    exp = spark.createDataFrame([(i, float(i % 100)) for i in range(400)], "id long, x double")
    # identical distribution → every term 0
    rows = feature_psi(exp, exp, "x", "id", n_bins=4).collect()
    assert rows and all(r["psi_term_scaled"] == 0 for r in rows)
    # shifted distribution → positive PSI, mass in the top bin
    act = spark.createDataFrame([(i, 1000.0) for i in range(400)], "id long, x double")
    rows = {r["bin"]: r for r in feature_psi(exp, act, "x", "id", n_bins=4).collect()}
    psi = sum(r["psi_term_scaled"] for r in rows.values()) / 1e9
    assert psi > 0.5  # massive shift
    assert rows[3]["a_ppm"] == 1_000_000  # all actual mass in the last bin


def test_feature_psi_null_bin_tracks_missingness(spark):
    from ipl_dagster_pipeline_spark.operators.stats import feature_psi

    exp = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, x double")
    act = spark.createDataFrame(
        [(i, None if i % 2 == 0 else float(i)) for i in range(100)],
        "id long, x double",
    )
    rows = {r["bin"]: r for r in feature_psi(exp, act, "x", "id", n_bins=4).collect()}
    assert -1 in rows and rows[-1]["n_act"] == 50 and rows[-1]["n_exp"] == 0
    assert rows[-1]["e_ppm"] == 1  # deterministic 1-ppm floor, not a NaN/inf


def test_sample_class_cap_caps_and_keeps_null_class(spark):
    from ipl_dagster_pipeline_spark.operators.sampling import sample_class_cap

    rows = [(i, "big" if i < 90 else ("small" if i < 96 else None)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, cls string")
    out = sample_class_cap(df, "cls", 10, "id").collect()
    by = {}
    for r in out:
        by.setdefault(r["cls"], []).append(r)
    assert len(by["big"]) == 10          # majority capped
    assert len(by["small"]) == 6         # under cap → all kept
    assert len(by[None]) == 4            # NULL class survives
    assert all(1 <= r["class_rank"] <= 10 for r in out)
    # deterministic under different parallelism
    out2 = sample_class_cap(df.repartition(13), "cls", 10, "id").collect()
    assert sorted((r["id"], r["class_rank"]) for r in out) == sorted(
        (r["id"], r["class_rank"]) for r in out2
    )
    import pytest as _pt
    with _pt.raises(ValueError, match="cap"):
        sample_class_cap(df, "cls", 0, "id")

"""Feature-vector assembly (operators/featurize.py)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.operators.featurize import (
    hash_bucket_onehot,
    one_hot,
    standardize_fit,
    standardize_transform,
)


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        (1, "train", 10.0, "click"),
        (2, "train", 20.0, "view"),
        (3, "train", 30.0, None),
        (4, "val", 1000.0, "weird"),
        (5, "test", None, "click"),
    ]
    return spark.createDataFrame(rows, "id long, fold string, x double, cat string").cache()


def test_fit_is_train_only_and_transform_is_frozen(frame):
    stats = standardize_fit(frame.where(F.col("fold") == "train"), ["x"])
    [s] = stats.collect()
    # exact integers over milli units: n=3, sum=60000, sumsq(10^2+20^2+30^2 milli)
    assert (s["n_x"], s["s_x"]) == (3, 60_000)
    assert s["q_x"] == 10_000**2 + 20_000**2 + 30_000**2
    out = {r["id"]: r["z_x"] for r in standardize_transform(frame, stats, ["x"]).collect()}
    # train mean 20, pop std ≈ 8.1650 ⇒ z(10) ≈ -1.2247; val's huge outlier
    # did NOT contaminate the fit (leakage-safe): z(1000) ≈ 120
    assert out[1] == pytest.approx(-1.224745, abs=1e-6)
    assert out[4] > 100
    assert out[5] is None  # NULL in → NULL out


def test_degenerate_fits_yield_zero(spark, frame):
    const = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id long, x double")
    stats = standardize_fit(const, ["x"])
    vals = {r["id"]: r["z_x"] for r in standardize_transform(const, stats, ["x"]).collect()}
    assert vals == {1: 0.0, 2: 0.0}  # zero variance
    empty_stats = standardize_fit(const.limit(0), ["x"])
    vals = {r["id"]: r["z_x"] for r in standardize_transform(const, empty_stats, ["x"]).collect()}
    assert vals == {1: 0.0, 2: 0.0}  # empty fit


def test_one_hot_declared_domain(frame):
    out = one_hot(frame, "cat", ["click", "view"], prefix="oh")
    rows = {r["id"]: r for r in out.collect()}
    assert (rows[1]["oh_click"], rows[1]["oh_view"], rows[1]["oh_other"]) == (1, 0, 0)
    assert rows[4]["oh_other"] == 1  # unseen value
    assert rows[3]["oh_other"] == 1  # NULL counts as other
    # schema is a pure function of the domain, not the data
    assert [c for c in out.columns if c.startswith("oh_")] == ["oh_click", "oh_view", "oh_other"]


def test_hash_bucket_onehot_partition_of_unity(frame):
    out = hash_bucket_onehot(frame, "cat", 4, seed=11)
    hb = [f"hb_{i}" for i in range(4)]
    rows = out.select(*[F.col(c) for c in hb]).collect()
    assert all(sum(r) == 1 for r in rows)  # exactly one bucket per row
    # NULL key is deterministic, not dropped
    null_rows = out.where(F.col("cat").isNull()).select(*hb).collect()
    assert len(null_rows) == 1 and sum(null_rows[0]) == 1


def test_quantile_bins_fit_transform_leakage_safe(spark):
    from ipl_dagster_pipeline_spark.operators.featurize import (
        quantile_bins_fit,
        quantile_bins_transform,
    )

    # train = 1..8 → quartile edges (type-1 lower-rank over n=8): ranks for
    # i=1..3 are ((8-1)*i) DIV 4 + 1 = 2, 4, 6 → edges 2.0, 4.0, 6.0
    train = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 9)], "id long, x double"
    )
    edges = quantile_bins_fit(train, "x", "id", 4)
    [e] = edges.collect()
    assert (e["be_x_1"], e["be_x_2"], e["be_x_3"]) == (2.0, 4.0, 6.0)
    score = spark.createDataFrame(
        [(1, 2.0), (2, 2.5), (3, 6.0), (4, 1000.0), (5, None), (6, -5.0)],
        "id long, x double",
    )
    out = {r["id"]: r["qb_x"] for r in quantile_bins_transform(score, edges, "x", 4).collect()}
    # ties land in the LOWER bin; out-of-range clips to the outer bins;
    # the huge outlier did not move the frozen train edges (leakage-safe)
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: None, 6: 0}


def test_quantile_bins_empty_fit_maps_to_bin_zero(spark):
    from ipl_dagster_pipeline_spark.operators.featurize import (
        quantile_bins_fit,
        quantile_bins_transform,
    )

    df = spark.createDataFrame([(1, 3.0)], "id long, x double")
    edges = quantile_bins_fit(df.limit(0), "x", "id", 4)
    assert edges.count() == 1  # one row of NULL edges, not zero rows
    [r] = quantile_bins_transform(df, edges, "x", 4).collect()
    assert r["qb_x"] == 0


def test_quantile_bins_rejects_degenerate_n_bins(spark):
    from ipl_dagster_pipeline_spark.operators.featurize import quantile_bins_fit

    df = spark.createDataFrame([(1, 3.0)], "id long, x double")
    with pytest.raises(ValueError, match="n_bins"):
        quantile_bins_fit(df, "x", "id", 1)


def test_hash_cross_null_and_boundary_safety(spark):
    from ipl_dagster_pipeline_spark.operators.featurize import hash_cross

    df = spark.createDataFrame(
        [(1, "a", "b|c"), (2, "a|b", "c"), (3, None, "c"), (4, "<null>", "c")],
        "id long, u string, v string",
    )
    rows = {r["id"]: r["cb"] for r in hash_cross(df, ["u", "v"], 64, out_col="cb").collect()}
    assert all(0 <= b < 64 for b in rows.values())
    # component boundaries cannot collide ("a","b|c") vs ("a|b","c"),
    # and a literal "<null>" string is distinguishable only by chance —
    # but a real NULL maps deterministically to the sentinel bucket
    assert rows[1] != rows[2]
    assert rows[3] == rows[4]
    with pytest.raises(ValueError, match=">= 2"):
        hash_cross(df, ["u"], 64)


def test_impute_fit_transform_median_and_mean(spark):
    from ipl_dagster_pipeline_spark.operators.featurize import (
        impute_fit,
        impute_transform,
    )

    train = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, None)],
        "id long, x double",
    )
    med = impute_fit(train, ["x"], "id", strategy="median")
    assert med.collect()[0]["imp_x"] == 20.0  # lower median ELEMENT of 4 non-nulls
    mean = impute_fit(train, ["x"], "id", strategy="mean")
    assert mean.collect()[0]["imp_x"] == 25.0
    score = spark.createDataFrame([(9, None), (10, 7.0)], "id long, x double")
    out = {r["id"]: r["x"] for r in impute_transform(score, med, ["x"]).collect()}
    assert out == {9: 20.0, 10: 7.0}  # only NULLs filled
    # degenerate fit: fill value NULL → NULLs stay NULL (loud, not zero)
    empty = impute_fit(train.limit(0), ["x"], "id", strategy="mean")
    out = {r["id"]: r["x"] for r in impute_transform(score, empty, ["x"]).collect()}
    assert out == {9: None, 10: 7.0}
    with pytest.raises(ValueError, match="strategy"):
        impute_fit(train, ["x"], "id", strategy="mode")


def test_clip_fit_transform_winsorizes_to_frozen_elements(spark):
    from ipl_dagster_pipeline_spark.operators.featurize import clip_fit, clip_transform

    train = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id long, x double"
    )
    bounds = clip_fit(train, "x", "id", lo_percent=5, hi_percent=95)
    [b] = bounds.collect()
    # exact lower-rank elements: rank (99*5)//100+1 = 5 → 5.0; (99*95)//100+1 = 95 → 95.0
    assert (b["clip_lo"], b["clip_hi"]) == (5.0, 95.0)
    score = spark.createDataFrame(
        [(1, -100.0), (2, 50.0), (3, 1e6), (4, None)], "id long, x double"
    )
    out = {r["id"]: r["cx"] for r in
           clip_transform(score, bounds, "x", out_col="cx").collect()}
    assert out == {1: 5.0, 2: 50.0, 3: 95.0, 4: None}
    with pytest.raises(ValueError, match="lo"):
        clip_fit(train, "x", "id", lo_percent=95, hi_percent=5)
    with pytest.raises(ValueError, match="bounds row"):
        clip_transform(score, bounds.limit(0), "x")


def test_quantile_fit_elements_single_pass_feeds_both_transforms(spark):
    from ipl_dagster_pipeline_spark.operators.featurize import (
        clip_transform,
        impute_transform,
        quantile_fit_elements,
    )

    train = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id long, x double"
    )
    fit = quantile_fit_elements(
        train, "x", "id", {"imp_x": 50, "clip_lo": 5, "clip_hi": 95}
    )
    [f] = fit.collect()
    # same rank formula as group_quantiles: ((n-1)*p)//100 + 1
    assert (f["imp_x"], f["clip_lo"], f["clip_hi"]) == (50.0, 5.0, 95.0)
    score = spark.createDataFrame(
        [(1, None), (2, -7.0), (3, 200.0)], "id long, x double"
    )
    out = impute_transform(score, fit.select("imp_x"), ["x"])
    out = clip_transform(out, fit.select("clip_lo", "clip_hi"), "x", out_col="cx")
    rows = {r["id"]: (r["x"], r["cx"]) for r in out.collect()}
    assert rows == {1: (50.0, 50.0), 2: (-7.0, 5.0), 3: (200.0, 95.0)}


def test_sketch_fits_drop_in_for_exact_fits(spark):
    """Sketch-based clip/impute fits freeze artifacts of the SAME shape as
    the exact fits (consumed unchanged by the transforms) and land within
    the sketch's 2^-3 relative error of the exact rank elements."""
    from ipl_dagster_pipeline_spark.operators.featurize import (
        clip_fit,
        clip_fit_sketch,
        clip_transform,
        impute_fit,
        impute_fit_sketch,
        impute_transform,
    )

    ev = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 13 == 0, F.lit(None).cast("double"))
        .otherwise((F.col("id") * 17 % 997) / 3.0 + 1)
        .alias("v"),
    )
    exact_clip = clip_fit(ev, "v", "k", 5, 95).collect()[0]
    sk_clip_df = clip_fit_sketch(ev, "v", 5, 95)
    assert sk_clip_df.columns == ["clip_lo", "clip_hi"]
    sk_clip = sk_clip_df.collect()[0]
    for name in ("clip_lo", "clip_hi"):
        e, s = float(exact_clip[name]), float(sk_clip[name])
        assert abs(s - e) <= 0.125 * abs(e) + 0.26, (name, e, s)

    exact_imp = impute_fit(ev, ["v"], "k").collect()[0]["imp_v"]
    sk_imp_df = impute_fit_sketch(ev, ["v"])
    assert sk_imp_df.columns == ["imp_v"]
    sk_imp = sk_imp_df.collect()[0]["imp_v"]
    assert abs(sk_imp - float(exact_imp)) <= 0.125 * abs(float(exact_imp)) + 0.26

    # the transforms consume the sketch artifacts unchanged
    out = clip_transform(impute_transform(ev, sk_imp_df, ["v"]), sk_clip_df, "v")
    assert out.filter(F.col("v").isNull()).count() == 0
    assert out.filter(
        (F.col("clipped_v") < sk_clip["clip_lo"]) | (F.col("clipped_v") > sk_clip["clip_hi"])
    ).count() == 0


def test_impute_fit_sketch_single_scan_for_many_columns(spark):
    """Round-6 verdict #2 'done' criterion: the sketch-based multi-column
    impute fit melts (col, value) once — the physical plan holds exactly ONE
    scan of the train source for k columns (the per-column loop it replaced
    scanned once per column)."""
    from ipl_dagster_pipeline_spark.operators.featurize import impute_fit_sketch

    import tempfile

    path = tempfile.mkdtemp(prefix="ipl_fit_")
    spark.range(0, 500).select(
        F.col("id").cast("double").alias("a"),
        (F.col("id") * 3 % 101).cast("double").alias("b"),
        (F.col("id") % 11).cast("double").alias("c"),
    ).write.mode("overwrite").parquet(path)
    train = spark.read.parquet(path)
    fit = impute_fit_sketch(train, ["a", "b", "c"])
    plan = fit._sc._jvm.PythonSQLUtils.explainString(fit._jdf.queryExecution(), "formatted")
    # one scan node == one "Location:" detail line (each node prints twice:
    # once in the tree, once in the operator details)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    row = fit.collect()[0]
    assert set(fit.columns) == {"imp_a", "imp_b", "imp_c"}
    assert all(row[c] is not None for c in fit.columns)


@pytest.fixture(scope="module")
def mixed(spark):
    """Fit columns of mixed types: long ``a`` and double ``b`` with value
    ties across keys and NULLs in some rows, all-NULL double ``c``, int
    ``d`` with NULLs."""
    rows = [
        (
            k,
            (k * 7) % 5 if k % 4 else None,
            float((k * 3) % 4) / 2 if k % 3 else None,
            None,
            k % 6 if k % 5 else None,
        )
        for k in range(37, 0, -1)
    ]
    return spark.createDataFrame(rows, "id long, a long, b double, c double, d int")


def _median_recount(rows, c):
    """The lower-rank median element of ``c``: rank ((n-1)*1) DIV 2 + 1 in
    (value, id) order over the non-NULL values."""
    vals = sorted((r[c], r["id"]) for r in rows if r[c] is not None)
    return vals[(len(vals) - 1) // 2][0] if vals else None


def test_impute_fit_median_equals_per_column_recount(spark, mixed):
    from ipl_dagster_pipeline_spark.operators.featurize import impute_fit

    cols = ["b", "a", "c", "d"]
    fit = impute_fit(mixed, cols, "id", n_partitions=3)
    # names and order follow cols; each fill value keeps its input type
    assert fit.dtypes == [("imp_b", "double"), ("imp_a", "bigint"), ("imp_c", "double"),
                          ("imp_d", "int")]
    rows = mixed.collect()
    [got] = fit.collect()
    assert got.asDict() == {f"imp_{c}": _median_recount(rows, c) for c in cols}
    assert got["imp_c"] is None and got["imp_a"] is not None
    empty = impute_fit(mixed.limit(0), cols, "id")
    assert empty.dtypes == fit.dtypes
    assert [r.asDict() for r in empty.collect()] == [{f"imp_{c}": None for c in cols}]


def _job_count(spark, thunk) -> int:
    sc = spark.sparkContext
    group = f"fit-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_impute_fit_ranks_all_columns_in_one_pass(spark, mixed):
    """Structural pin: the median fit ranks every column in ONE ranking, so
    three columns run exactly as many Spark jobs as one."""
    from ipl_dagster_pipeline_spark.operators.featurize import impute_fit

    one = _job_count(spark, lambda: impute_fit(mixed, ["a"], "id").collect())
    three = _job_count(spark, lambda: impute_fit(mixed, ["a", "b", "d"], "id").collect())
    assert one > 0 and three == one


def test_empty_fit_conventions(spark, mixed):
    """One row of NULLs for the bin edges and fill values; zero rows for the
    named elements and the clip bounds, so clip_transform raises."""
    from ipl_dagster_pipeline_spark.operators.featurize import (
        clip_fit,
        clip_transform,
        impute_fit,
        quantile_bins_fit,
        quantile_fit_elements,
    )

    empty = mixed.limit(0)
    for fit in (
        quantile_bins_fit(empty, "b", "id", 3),
        impute_fit(empty, ["a", "b"], "id"),
        impute_fit(empty, ["a", "b"], "id", strategy="mean"),
    ):
        assert [set(r.asDict().values()) for r in fit.collect()] == [{None}]
    bounds = clip_fit(empty, "b", "id")
    assert bounds.columns == ["clip_lo", "clip_hi"] and bounds.count() == 0
    assert quantile_fit_elements(empty, "b", "id", {"m": 50}).count() == 0
    with pytest.raises(ValueError, match="bounds row"):
        clip_transform(mixed, bounds, "b")

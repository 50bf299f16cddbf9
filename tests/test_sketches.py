"""Deterministic HyperLogLog sketches (operators/sketches.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.operators.sketches import (
    HLL_M,
    hll_distinct,
    hll_sketch,
)


@pytest.fixture(scope="module")
def vals(spark):
    # 3 groups with known cardinalities 5 / 500 / 5000, plus repeats + nulls
    rows = []
    for g, n in (("a", 5), ("b", 500), ("c", 5000)):
        rows += [(g, f"{g}:{i % n}") for i in range(2 * n)]
    rows += [("a", None)] * 7
    return spark.createDataFrame(rows, "g string, v string").cache()


def test_estimate_within_hll_error(vals):
    out = {r["g"]: r for r in hll_distinct(vals, ["g"], F.col("v")).collect()}
    # σ ≈ 1.04/√64 = 13%; assert 3σ
    for g, n in (("a", 5), ("b", 500), ("c", 5000)):
        assert out[g]["hll_est"] == pytest.approx(n, rel=0.39), (g, out[g]["hll_est"])
    # small group in linear-counting regime estimates tiny cardinalities well
    assert out["a"]["hll_est"] == pytest.approx(5, rel=0.05)


def test_sketch_is_bounded_and_duplicate_insensitive(vals, spark):
    sk = hll_sketch(vals, ["g"], F.col("v"))
    per_group = sk.groupBy("g").count().collect()
    assert all(r["count"] <= HLL_M for r in per_group)
    # duplicating the input changes NOTHING (registers are max-stable)
    doubled = hll_sketch(vals.unionAll(vals), ["g"], F.col("v"))
    assert sk.exceptAll(doubled).count() == 0 and doubled.exceptAll(sk).count() == 0


def test_nulls_skipped_and_empty_input(spark):
    df = spark.createDataFrame([("a", None)], "g string, v string")
    assert hll_sketch(df, ["g"], F.col("v")).count() == 0
    empty = spark.createDataFrame([], "g string, v string")
    assert hll_distinct(empty, ["g"], F.col("v")).count() == 0


def test_plan_single_aggregation_no_join(vals):
    plan = (
        hll_distinct(vals, ["g"], F.col("v"))._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "Window" not in plan
    # partial (map-side) aggregation present: two HashAggregate levels per agg
    assert plan.count("HashAggregate") >= 2


# --- count-min sketch -------------------------------------------------------

from ipl_dagster_pipeline_spark.operators.sketches import (  # noqa: E402
    CMS_D,
    CMS_W,
    cms_estimate,
    cms_merge,
    cms_sketch,
)


@pytest.fixture(scope="module")
def freq_vals(spark):
    # skewed frequencies: key k appears (k+1)^2 times, plus nulls
    rows = [(f"k{k}",) for k in range(40) for _ in range((k + 1) ** 2)]
    rows += [(None,)] * 9
    return spark.createDataFrame(rows, "v string").cache()


def test_cms_overestimates_never_under(freq_vals, spark):
    sk = cms_sketch(freq_vals, [], F.col("v"))
    exact = (
        freq_vals.where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    est = cms_estimate(sk, exact, "v")
    bad = est.where(F.col("cms_est") < F.col("exact_cnt")).count()
    assert bad == 0
    # heavy keys are estimated exactly (few collisions at this scale)
    heavy = est.where(F.col("exact_cnt") >= 900).collect()
    assert heavy and all(r["cms_est"] == r["exact_cnt"] for r in heavy)


def test_cms_sketch_bounded_and_merge_law(freq_vals):
    a = freq_vals.where(F.crc32(F.col("v")) % 2 == 0)
    b = freq_vals.where(F.col("v").isNull() | (F.crc32(F.col("v")) % 2 == 1))
    full = cms_sketch(freq_vals, [], F.col("v"))
    assert full.count() <= CMS_D * CMS_W
    merged = cms_merge(cms_sketch(a, [], F.col("v")), cms_sketch(b, [], F.col("v")))
    assert merged.exceptAll(full).count() == 0 and full.exceptAll(merged).count() == 0


def test_cms_absent_key_and_empty_sketch(freq_vals, spark):
    sk = cms_sketch(freq_vals, [], F.col("v"))
    probe = spark.createDataFrame([("never-seen-xyz",)], "v string")
    [row] = cms_estimate(sk, probe, "v").collect()
    # an absent key may collide into a small counter but is bounded by the
    # lightest of its d cells; with 40 keys over 4x256 cells it probes 0
    assert row["cms_est"] >= 0
    empty = cms_sketch(freq_vals.limit(0), [], F.col("v"))
    [row0] = cms_estimate(empty, probe, "v").collect()
    assert row0["cms_est"] == 0


def test_cms_grouped_sketch_probes_per_group(spark, freq_vals):
    """Round-5 ADVICE: a sketch built WITH group columns must join the probe
    on them too — mixing counters across groups can under-estimate, breaking
    the est >= true guarantee."""
    grouped = freq_vals.where(F.col("v").isNotNull()).withColumn(
        "grp", (F.crc32(F.col("v")) % 2).cast("int")
    )
    sk = cms_sketch(grouped, ["grp"], F.col("v"))
    exact = grouped.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(sk, exact, "v")
    assert est.where(F.col("cms_est") < F.col("exact_cnt")).count() == 0
    heavy = est.where(F.col("exact_cnt") >= 900).collect()
    assert heavy and all(r["cms_est"] == r["exact_cnt"] for r in heavy)
    # probing without the group column is refused loudly, never mixed
    with pytest.raises(ValueError, match="grouped by"):
        cms_estimate(sk, exact.drop("grp"), "v")


def test_loghist_sketch_merge_and_error_bound(spark):
    """Log-histogram quantiles: bounds are monotone in the value, NULLs are
    excluded, negatives mirror, and every quantile estimate is within the
    2^-3 relative-error bound of the exact rank element (milli scale)."""
    from ipl_dagster_pipeline_spark.operators.sketches import (
        loghist_bound,
        loghist_quantiles,
        loghist_sketch,
    )

    vals = [(-1234.5,), (-0.4,), (0.0,), (0.001,), (0.5,), (1.0,), (7.25,),
            (100.0,), (100.1,), (4096.0,), (None,), (123456.789,)]
    df = spark.createDataFrame(vals, "v double")

    # bound is a monotone integer projection; NULL in → NULL out
    rows = df.select("v", loghist_bound(F.col("v")).alias("b")).orderBy(
        F.col("v").asc_nulls_last()
    ).collect()
    bs = [r.b for r in rows if r.b is not None]
    assert bs == sorted(bs)
    assert rows[-1].b is None  # NULL value
    assert rows[0].b < 0  # negative mirrors

    # relative error bound: |bound| ≤ |m| < |bound|·(1+2^-3) for m ≠ 0
    import math

    for r in rows:
        if r.v is None or r.b is None:
            continue
        m = math.floor(r.v * 1000)
        if m == 0:
            assert r.b == 0
        elif m > 0:
            assert r.b <= m < r.b + max(r.b // 8, 1) + 1
        else:
            # negatives mirror: representative is the bucket bound closer to
            # zero (an UPPER bound of the value), same ≤2^-3 relative error
            assert m <= r.b < 0 and -r.b <= -m < -r.b + max(-r.b // 8, 1) + 1

    # grouped quantiles stay within the sketch's relative error of exact
    ev = spark.range(0, 2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 7 % 1000 / 3.0 + 1).alias("v"),
    )
    sk = loghist_sketch(ev, "v", ["g"])
    q = loghist_quantiles(sk, {"p50": 50, "p99": 99}, ["g"])
    exact = ev.groupBy("g").agg(
        F.expr("percentile(v, 0.5)").alias("x50"), F.expr("percentile(v, 0.99)").alias("x99")
    )
    j = q.join(exact, "g").collect()
    for r in j:
        assert abs(r.q_p50 / 1000 - r.x50) <= 0.125 * r.x50 + 0.26
        assert abs(r.q_p99 / 1000 - r.x99) <= 0.125 * r.x99 + 0.26


def test_loghist_sketch_drops_non_finite(spark):
    """NaN/±Inf never reach the bucket math (Spark would cast NaN→0L and
    corrupt the zero bucket; DuckDB would refuse the cast) — the sketch is a
    pure function of the finite values."""
    from ipl_dagster_pipeline_spark.operators.sketches import loghist_sketch

    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (float("inf"),), (float("-inf"),), (None,), (1.0,)],
        "v double",
    )
    got = {(r.bound, r.cnt) for r in loghist_sketch(df, "v").collect()}
    assert got == {(960, 2)}  # m=1000 → top-4-bit lower bound 960; nothing else


def test_cms_estimate_explicit_group_cols_guard(spark):
    """Round-6 ADVICE: schema inference ("everything except r/c/cnt") would
    silently equi-join on any stray column in the sketch frame.  With
    group_cols passed explicitly, a sketch carrying undeclared extras is
    REJECTED instead of mis-probed; the empty-group declaration matches the
    ungrouped build."""
    from ipl_dagster_pipeline_spark.operators.sketches import cms_estimate, cms_sketch

    df = spark.createDataFrame([(1,), (1,), (2,)], "v long")
    sk = cms_sketch(df, [], F.col("v"))
    probe = df.distinct()
    est = {r.v: r.cms_est for r in cms_estimate(sk, probe, "v", group_cols=[]).collect()}
    assert est[1] >= 2 and est[2] >= 1
    poisoned = sk.withColumn("stray", F.lit(7))
    with pytest.raises(ValueError, match="stray"):
        cms_estimate(poisoned, probe, "v", group_cols=[])

"""Geo semantics (S9): haversine, linestring parse/length, geom type, and the
wrapped-grid radius join vs brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.functions.geo import (
    geom_type,
    grid_radius_join,
    haversine_km,
    linestring_length_km,
    parse_linestring,
)


def _stations(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("s_id"),
        (((F.col("id") * 97) % 7200) / 20.0 - 180.0).alias("s_lon"),
        (((F.col("id") * 53) % 2600) / 20.0 - 65.0).alias("s_lat"),
    )


def _probes(spark, n=1500):
    return spark.range(n).select(
        F.col("id").alias("c_id"),
        (((F.col("id") * 31) % 7200) / 20.0 - 180.0).alias("c_lon"),
        (((F.col("id") * 17) % 2600) / 20.0 - 65.0).alias("c_lat"),
    )


def test_haversine_known_values(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 1.0), (0.0, 0.0, 0.0, 0.0), (179.9, 0.0, -179.9, 0.0)],
        "lon1 double, lat1 double, lon2 double, lat2 double",
    )
    got = [
        r.d
        for r in df.select(
            haversine_km(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")
        ).collect()
    ]
    assert got[0] == pytest.approx(111.195, abs=0.01)  # 1° of latitude
    assert got[1] == 0.0
    # antimeridian: 0.2° of longitude at the equator, NOT ~360°
    assert got[2] == pytest.approx(0.2 * 111.195, abs=0.05)


@pytest.mark.parametrize("radius", [150.0, 500.0, 3000.0, 12000.0])
def test_grid_radius_join_matches_bruteforce(spark, radius):
    """The wrapped-grid prefilter is exact: same pair set as the cross-join
    brute force (the 500 km case crosses the antimeridian; 12000 km collapses
    the lon grid to few cells, exercising the wrap-dedup)."""
    sup, cust = _stations(spark), _probes(spark)
    bf = (
        cust.crossJoin(sup)
        .withColumn("d", haversine_km(F.col("c_lon"), F.col("c_lat"), F.col("s_lon"), F.col("s_lat")))
        .filter(F.col("d") <= radius)
        .select("c_id", "s_id")
    )
    gr = grid_radius_join(
        cust, sup, radius, p_lon="c_lon", p_lat="c_lat", c_lon="s_lon", c_lat="s_lat"
    ).select("c_id", "s_id")
    n_bf, n_gr, n_gr_distinct = bf.count(), gr.count(), gr.distinct().count()
    assert n_bf == n_gr == n_gr_distinct  # exact AND duplicate-free
    assert gr.exceptAll(bf).count() == 0 and bf.exceptAll(gr).count() == 0


def test_grid_radius_join_guards(spark):
    sup, cust = _stations(spark), _probes(spark)
    with pytest.raises(ValueError, match="share column names"):
        grid_radius_join(sup, sup, 10.0)
    with pytest.raises(ValueError, match="radius_km"):
        grid_radius_join(cust, sup, 0.0, p_lon="c_lon", p_lat="c_lat", c_lon="s_lon", c_lat="s_lat")
    polar = spark.createDataFrame([(1, 10.0, 80.0)], "p_id long, p_lon double, p_lat double")
    with pytest.raises(Exception, match="beyond max_abs_lat"):
        grid_radius_join(
            polar, sup, 10.0, p_lon="p_lon", p_lat="p_lat", c_lon="s_lon", c_lat="s_lat"
        ).count()


def test_parse_linestring_and_length(spark):
    rows = [
        (1, "0.0 0.0 1.0 0.0"),        # lat lon lat lon: 1° lat apart
        (2, "48.7 9.1"),               # single point
        (3, ""),                       # empty → Empty geometry
        (4, None),                     # null in → null geometry
    ]
    df = spark.createDataFrame(rows, "id long, txt string").select(
        "id", parse_linestring(F.col("txt")).alias("pts")
    )
    out = {
        r.id: r
        for r in df.select(
            "id",
            geom_type(F.col("pts")).alias("gt"),
            F.size("pts").alias("n"),
            linestring_length_km(F.col("pts")).alias("len_km"),
        ).collect()
    }
    assert out[1].gt == "LineString" and out[1].n == 2
    assert out[1].len_km == pytest.approx(111.195, abs=0.01)
    # lon comes SECOND in the text (lat lon), struct field order is (lon, lat)
    first = df.filter(F.col("id") == 2).select(F.col("pts")[0]).collect()[0][0]
    assert (first.lon, first.lat) == (9.1, 48.7)
    assert out[2].gt == "Point" and out[2].len_km == 0.0
    assert out[3].gt == "Empty" and out[3].n == 0
    assert out[4].n is None  # null text → null geometry, never a crash


def test_grid_radius_join_null_coords_never_match(spark):
    sup = _stations(spark, 10)
    cust = spark.createDataFrame(
        [(1, None, 10.0), (2, 10.0, None), (3, None, None)],
        "c_id long, c_lon double, c_lat double",
    )
    out = grid_radius_join(
        cust, sup, 20000.0, p_lon="c_lon", p_lat="c_lat", c_lon="s_lon", c_lat="s_lat"
    )
    assert out.count() == 0

"""Geo semantics (SURVEY §2 S9) — lon/lat points, linestrings, distance.

Reference precedent: stations get EPSG:4326 point geometry from lon/lat
columns (pipeline/sources/lamassu.py:192-196), roadworks are filtered by
geometry type (pipeline/assets/traffic_incidents.py:100-107), and CIFS
linestrings are parsed from "lat lon lat lon ..." text
(pipeline/assets/cifs.py:251-253,303).

Spark has no native geometry type; the engine's representation is plain
columns — ``lon``/``lat`` doubles for points and ``array<struct<lon,lat>>``
for linestrings — so every predicate below is a Column expression that stays
inside whole-stage codegen (no UDFs, no geo library).

Scale shape: the one non-trivial operator is the radius join.  A naive
points×centers distance filter is a cross product; :func:`grid_radius_join`
assigns both sides to a lon/lat grid whose cell size is conservatively at
least the radius (so a true match is never more than one cell away), explodes
the SMALL side to its 3×3 cell neighborhood, equi-joins on the cell id (a
plain shuffle-or-broadcast hash join), and only then applies the exact
haversine refine.  The grid is a superset prefilter — correctness never
depends on it, only the candidate count does.
"""

from __future__ import annotations

import math
from itertools import product

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088

# minimum km per degree of latitude (at the equator) — dividing by the MINIMUM
# yields the MAXIMUM degree extent of a km radius, i.e. conservative cells
_KM_PER_DEG_LAT_MIN = 110.574
_KM_PER_DEG_LON_EQUATOR = 111.320


def haversine_km(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in km (haversine, spherical earth) — pure
    Column math, codegen-friendly, identical formula renderable in ANSI SQL."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """The SAME haversine rendered as ANSI SQL (the generated-oracle hook)."""
    dlat = f"radians(({lat2}) - ({lat1}))"
    dlon = f"radians(({lon2}) - ({lon1}))"
    a = (
        f"pow(sin({dlat} / 2), 2) + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin({dlon} / 2), 2)"
    )
    return f"2.0 * {EARTH_RADIUS_KM!r} * asin(sqrt({a}))"


def parse_linestring(text: Column) -> Column:
    """CIFS-style ``"lat lon lat lon ..."`` text → ``array<struct<lon,lat>>``
    (reference cifs.py:251-253,303 — F6 split + pairwise restructure).

    Pure array expressions: split → alternating-index filters → zip; empty/
    blank text yields an empty array.  The pairing deliberately avoids
    ``element_at(toks, i)`` inside a ``transform`` lambda: an expression
    referenced from a lambda BODY is re-evaluated per element, so the split
    would run once per vertex — O(tokens²) character work per row (r7: the
    same pattern cost lm.doc_bigrams 20× on its explode).  ``filter``/
    ``zip_with`` only reference lambda-bound values; the split is evaluated
    once per row as a plain HOF child."""
    toks = F.split(F.trim(text), r"\s+")
    n_pairs = (F.size(toks) / 2).cast("int")
    lats = F.slice(F.filter(toks, lambda x, i: i % 2 == 0), 1, n_pairs)
    lons = F.slice(F.filter(toks, lambda x, i: i % 2 == 1), 1, n_pairs)
    pairs = F.zip_with(
        lons,
        lats,
        lambda lo, la: F.struct(lo.cast("double").alias("lon"), la.cast("double").alias("lat")),
    )
    return F.when(
        F.trim(text) == "", F.array().cast("array<struct<lon:double,lat:double>>")
    ).otherwise(pairs)


def linestring_length_km(points: Column) -> Column:
    """Total great-circle length of a linestring: Σ haversine over consecutive
    vertex pairs.  ``zip_with(points, shifted, haversine)`` keeps the whole
    computation a single array expression — no explode, no shuffle."""
    shifted = F.slice(points, 2, F.greatest(F.size(points) - 1, F.lit(0)))
    segs = F.zip_with(
        F.slice(points, 1, F.greatest(F.size(points) - 1, F.lit(0))),
        shifted,
        lambda a, b: haversine_km(a["lon"], a["lat"], b["lon"], b["lat"]),
    )
    return F.coalesce(F.aggregate(segs, F.lit(0.0), lambda acc, x: acc + x), F.lit(0.0))


def geom_type(points: Column) -> Column:
    """'Point' (exactly one vertex), 'LineString' (≥2), 'Empty' (0) — the
    derived column the reference's geom_type filter keys on
    (traffic_incidents.py:100-107)."""
    return (
        F.when(F.size(points) <= 0, F.lit("Empty"))
        .when(F.size(points) == 1, F.lit("Point"))
        .otherwise(F.lit("LineString"))
    )


def grid_radius_join(
    points: DataFrame,
    centers: DataFrame,
    radius_km: float,
    p_lon: str = "lon",
    p_lat: str = "lat",
    c_lon: str = "lon",
    c_lat: str = "lat",
    max_abs_lat: float = 75.0,
    broadcast_centers: bool = True,
    dist_col: str = "dist_km",
) -> DataFrame:
    """All (point, center) pairs within ``radius_km`` — WITHOUT a cross join.

    Both sides are assigned to a lon/lat grid whose cell size is ≥ the radius
    everywhere below ``max_abs_lat`` (cells sized by the equatorial minimum
    km-per-degree and the polar-most cosine, so the degree extent of the
    radius never exceeds one cell); centers are exploded to their 3×3 cell
    neighborhood and equi-joined on the cell id, then the exact haversine
    refine applies.  The grid prefilter is a strict superset of the true
    result at any scale — enlarging the corpus only grows candidates, never
    loses a match.

    ``max_abs_lat`` is a declared contract: rows beyond it would need wider
    neighborhoods, so they raise at plan-build time via a runtime assert
    column rather than silently losing matches.
    """
    if radius_km <= 0:
        raise ValueError("radius_km must be positive")
    if max_abs_lat >= 89.0:
        raise ValueError("grid_radius_join is undefined at the poles; max_abs_lat < 89")
    overlap = (set(points.columns) & set(centers.columns)) - set()
    if overlap:
        raise ValueError(
            f"points/centers share column names {sorted(overlap)} — rename one side"
        )
    lat_cell = radius_km / _KM_PER_DEG_LAT_MIN
    lon_cell_min = radius_km / (_KM_PER_DEG_LON_EQUATOR * math.cos(math.radians(max_abs_lat)))
    # longitude WRAPS at ±180° and haversine is periodic, so the lon grid must
    # tile the circle: n cells of equal width ≥ the radius's degree extent,
    # indexed modulo n (a flat grid silently loses matches across the
    # antimeridian — caught by the brute-force parity test).
    n_lon = max(1, int(360.0 // lon_cell_min))
    lon_width = 360.0 / n_lon

    def _guarded_lat(lat: str, side: str) -> Column:
        # loud, not silent: a latitude outside the declared band would break
        # the one-cell coverage guarantee.  The guard wraps the latitude that
        # FEEDS the cell id, so Catalyst cannot prune it away.  NULL
        # coordinates are explicitly passed through (null cell id → the inner
        # equi-join drops the row: null coords never match, never raise).
        return (
            F.when(F.abs(F.col(lat)) <= max_abs_lat, F.col(lat))
            .when(F.col(lat).isNull(), F.lit(None).cast("double"))
            .otherwise(F.raise_error(F.lit(f"{side} latitude beyond max_abs_lat={max_abs_lat}")))
        )

    def _cx(lon: str, delta: int = 0) -> Column:
        return F.pmod(F.floor((F.col(lon) + F.lit(180.0)) / F.lit(lon_width)) + F.lit(delta), F.lit(n_lon))

    p = points.withColumns(
        {
            "__cx": _cx(p_lon),
            "__cy": F.floor(_guarded_lat(p_lat, "points") / F.lit(lat_cell)),
        }
    )
    # array_distinct: with few lon cells (huge radius) the ±1 wrap collapses
    # onto the same cell — distinct keeps each (point, center) pair emitted
    # at most once
    neighborhood = F.array_distinct(
        F.array(
            *[
                F.struct(
                    _cx(c_lon, di).alias("cx"),
                    (F.floor(_guarded_lat(c_lat, "centers") / F.lit(lat_cell)) + F.lit(dj)).alias("cy"),
                )
                for di, dj in product((-1, 0, 1), repeat=2)
            ]
        )
    )
    c = (
        centers.withColumn("__cell", F.explode(neighborhood))
        .withColumn("__cx", F.col("__cell.cx"))
        .withColumn("__cy", F.col("__cell.cy"))
        .drop("__cell")
    )
    if broadcast_centers:
        c = F.broadcast(c)
    joined = p.join(c, on=["__cx", "__cy"]).withColumn(
        dist_col,
        haversine_km(F.col(p_lon), F.col(p_lat), F.col(c_lon), F.col(c_lat)),
    )
    return joined.filter(F.col(dist_col) <= F.lit(float(radius_km))).drop("__cx", "__cy")

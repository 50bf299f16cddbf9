"""Scalar function surface (SURVEY §2.8 F1-F15) — reference parity as Column
expressions (JVM-side, codegen'd; no UDFs).

Each function cites the reference behavior it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_seconds_to_utc_ts(col: Column) -> Column:
    """F1: epoch seconds → UTC timestamp, bad input → null
    (reference: pd.to_datetime(unit='s', utc=True, errors='coerce'),
    lamassu.py:303-304).  Non-numeric strings cast to null long first."""
    return F.to_timestamp(F.from_unixtime(col.cast("long")))


def concat_trim(*cols: Column) -> Column:
    """F3: space-join + trim (reference: f'{roadnumber} {roadname}'.strip(),
    cifs.py:101).  concat_ws skips nulls like the reference's '' default."""
    return F.trim(F.concat_ws(" ", *cols))


def split_latlon_pairs(col: Column) -> Column:
    """F6: 'lat lon lat lon …' string → array<struct<lat,lon>>
    (reference: geometry.split() consumed pairwise, cifs.py:251-253,303)."""
    # alternating-index filters + zip_with instead of element_at inside a
    # transform lambda: lambda-BODY expressions re-evaluate per element, so
    # the split would run once per pair — O(tokens²) (see geo.parse_linestring)
    toks = F.split(F.trim(col), r"\s+")
    n_pairs = (F.size(toks) / 2).cast("int")
    lats = F.slice(F.filter(toks, lambda x, i: i % 2 == 0), 1, n_pairs)
    lons = F.slice(F.filter(toks, lambda x, i: i % 2 == 1), 1, n_pairs)
    return F.zip_with(
        lats,
        lons,
        lambda la, lo: F.struct(la.cast("double").alias("lat"), lo.cast("double").alias("lon")),
    )


def local_date_parts(ts: Column, tz: str = "Europe/Berlin") -> list[Column]:
    """F12: tz conversion + date-part extraction (reference: Berlin-tz
    year/month/day/hour path parts, webcam_worker.py:158-169)."""
    local = F.from_utc_timestamp(ts, tz)
    return [
        F.year(local).alias("year"),
        F.month(local).alias("month"),
        F.dayofmonth(local).alias("day"),
        F.hour(local).alias("hour"),
    ]


def human_moment(ts: Column) -> Column:
    """F13: display formatting (reference: strftime('%d.%m.%Y, %H:%M:%S'),
    templates/webcam_index.html.j2:34)."""
    return F.date_format(ts, "dd.MM.yyyy, HH:mm:ss")


def point_geom(lon: Column, lat: Column) -> Column:
    """F15: geometry from lon/lat (reference: gpd.points_from_xy,
    lamassu.py:194,233) — modeled as struct<lon,lat>."""
    return F.struct(lon.cast("double").alias("lon"), lat.cast("double").alias("lat"))

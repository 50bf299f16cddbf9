"""Incident/interval-record derivations — the DATEX II → CIFS transform
semantics (SURVEY §2.3 P4-P6, §2.4 J3/J4, §2.8 F4/F9/F10) as Column exprs and
DataFrame ops.  Behavior mirrors the reference transformer
(pipeline/transformer/cifs.py); implementation is Spark-native.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.relational import anti_join, map_lookup

# F4: lane-status encoding validation (reference: LANE_STATUS_PATTERN, cifs.py:40)
LANE_STATUS_PATTERN = r"^([sxui]*l?)?[suioewx]*(1|2)[suioewx]*(r?[xsoe]*)?$"

# F9: incident-type mapping with default (reference: INCIDENT_TYPE_MAPPPING,
# cifs.py:27-32 — subset; unknown → CONSTRUCTION)
INCIDENT_TYPE_MAPPING = {
    "constructionWork": "CONSTRUCTION",
    "newRoadworksLayout": "CONSTRUCTION",
    "repairWork": "CONSTRUCTION",
    "roadClosed": "ROAD_CLOSED",
}


def valid_lane_status(col: Column) -> Column:
    return col.rlike(LANE_STATUS_PATTERN)


def incident_type(col: Column) -> Column:
    return map_lookup(col, INCIDENT_TYPE_MAPPING, "CONSTRUCTION")


def incident_subtype(type_col: Column) -> Column:
    """F10: subtype derived from type (reference: cifs.py:114-118)."""
    return F.when(type_col == "ROAD_CLOSED", F.lit("ROAD_CLOSED_CONSTRUCTION")).otherwise(F.lit(""))


def is_opposite_direction_concerned(lane_status: Column) -> Column:
    """Truth-table parity with the reference's lane decoding
    (cifs.py:188-201; table from tests/transformer/test_cifs.py:43-50):
    opposite direction is concerned iff

    * any lane left of the centre line ('1'/'2') is something other than
      unrestricted/shoulder/separator ([usl]), OR
    * any lane right of the centre line carries opposite-direction traffic
      ([uiw]).
    """
    left = F.regexp_extract(lane_status, r"^([^12]*)", 1)
    right = F.regexp_extract(lane_status, r"^[^12]*[12]([^12]*)", 1)
    left_concerned = (F.length(left) > 0) & (F.length(F.regexp_replace(left, r"[usl]", "")) > 0)
    right_concerned = F.length(F.regexp_replace(right, r"[^uiw]", "")) > 0
    return left_concerned | right_concerned


def detect_direction(incidents: DataFrame) -> DataFrame:
    """J4 parity: closure records `X-sperrung` are BOTH_DIRECTIONS iff a
    sibling `X-gegen-sperrung` exists (reference: cifs.py:218-224); otherwise
    fall back to the lane-status rule; unknown → BOTH_DIRECTIONS (defensive,
    cifs.py:226-229)."""
    gegen = incidents.filter(F.col("id").contains("-gegen-")).select(
        F.regexp_replace(F.col("id"), "-gegen-", "-").alias("__sib")
    )
    out = incidents.join(
        F.broadcast(gegen.distinct().withColumn("__has_gegen", F.lit(True))),
        incidents["id"] == F.col("__sib"),
        "left",
    ).drop("__sib")
    direction = (
        F.when(
            F.col("id").endswith("-sperrung") & ~F.col("id").contains("-gegen-"),
            F.when(F.col("__has_gegen"), F.lit("BOTH_DIRECTIONS")).otherwise(F.lit("ONE_DIRECTION")),
        )
        .when(
            F.col("lane_status").isNotNull() & valid_lane_status(F.col("lane_status")),
            F.when(is_opposite_direction_concerned(F.col("lane_status")), F.lit("BOTH_DIRECTIONS")).otherwise(
                F.lit("ONE_DIRECTION")
            ),
        )
        .otherwise(F.lit("BOTH_DIRECTIONS"))
    )
    return out.withColumn("direction", direction).drop("__has_gegen")


def drop_managed_causes(incidents: DataFrame) -> DataFrame:
    """J3 parity: drop records referenced as another record's managed cause
    (reference: cifs.py:120-126,149-151) — a left-anti join."""
    causes = incidents.filter(F.col("cause_ref").isNotNull()).select(F.col("cause_ref").alias("id"))
    return anti_join(incidents, causes.distinct(), on="id")


def skip_gegen_records(incidents: DataFrame) -> Column | DataFrame:
    """P6 parity: direction markers are metadata, not incidents themselves
    (reference skips ids containing '-gegen', cifs.py:135-141)."""
    return incidents.filter(~F.col("id").contains("-gegen"))

"""Reference-shaped validation fixtures (FIXTURES.md §3, SURVEY §5):
station-status pivot chain, temporal-validity/direction incident transform,
latest-as-of selection — the reference's own golden-test scenarios run through
the engine's operators.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ipl_dagster_pipeline_spark.functions.incidents import (
    detect_direction,
    drop_managed_causes,
    incident_subtype,
    incident_type,
    is_opposite_direction_concerned,
    skip_gegen_records,
    valid_lane_status,
)
from ipl_dagster_pipeline_spark.operators.relational import (
    broadcast_dim_join,
    explode_json_records,
    group_pivot_sum,
    temporal_validity_filter,
)
from ipl_dagster_pipeline_spark.operators.windows import rank_dedup


# -- §3.1 station-status pivot chain (lamassu.py:137-180 semantics) ----------


def test_station_status_pivot_chain(spark):
    stations = spark.createDataFrame(
        [
            ("s1", True, True, [("bike", 2), ("car", 1)]),
            ("s2", True, True, [("bike", 3)]),
            ("s3", False, True, [("bike", 9)]),  # not renting → filtered
            ("s4", True, True, None),  # missing array → default record
            ("s5", True, True, []),  # empty array → default record
        ],
        "station_id string, is_renting boolean, is_installed boolean, "
        "vehicle_types_available array<struct<vehicle_type_id string, count int>>",
    )
    vehicle_types = spark.createDataFrame(
        [("bike", "bicycle"), ("car", "car"), ("car", "car_dup"), ("default", "bicycle")],
        "vehicle_type_id string, form_factor string",
    )

    active = stations.filter(F.col("is_renting") & F.col("is_installed"))
    exploded = explode_json_records(
        active,
        "vehicle_types_available",
        meta_cols=["station_id"],
        default_record=F.struct(F.lit("default").alias("vehicle_type_id"), F.lit(0).alias("count")),
    )
    # keep-last dim dedup before the join (lamassu.py:221)
    vehicle_types = rank_dedup(
        vehicle_types, ["vehicle_type_id"], [F.col("form_factor")], keep="last"
    )
    joined = broadcast_dim_join(exploded, vehicle_types, on="vehicle_type_id")
    pivoted = group_pivot_sum(joined, ["station_id"], "form_factor", "count",
                              pivot_values=["bicycle", "car_dup"])
    rows = {r.station_id: r.asDict() for r in pivoted.collect()}

    assert "s3" not in rows  # boolean conjunctive filter
    assert rows["s1"]["bicycle"] == 2 and rows["s1"]["car_dup"] == 1  # keep-last dedup won
    assert rows["s2"]["bicycle"] == 3
    assert rows["s4"]["bicycle"] == 0 and rows["s5"]["bicycle"] == 0  # default injection


# -- §3.2 temporal validity + direction (cifs.py semantics) -------------------

LANE_TRUTH_TABLE = [
    ("x2x", True),
    ("u1x", False),
    ("sluu2xxro", False),
    ("uo2xx", True),
    ("uu2uoo", True),
]


@pytest.mark.parametrize("lane,expected", LANE_TRUTH_TABLE)
def test_opposite_direction_truth_table(spark, lane, expected):
    """Parity with the reference's parametrized table (test_cifs.py:43-50)."""
    got = (
        spark.range(1)
        .select(is_opposite_direction_concerned(F.lit(lane)).alias("v"))
        .collect()[0]
        .v
    )
    assert got == expected, lane


def test_lane_status_validation(spark):
    df = spark.createDataFrame([("x2x",), ("u1x",), ("not a status",), ("33",)], ["ls"])
    got = df.select("ls", valid_lane_status(F.col("ls")).alias("ok")).collect()
    assert [r.ok for r in got] == [True, True, False, False]


def test_incident_transform_chain(spark):
    as_of = "2024-01-01 00:00:00"
    incidents = spark.createDataFrame(
        [
            # id, type, end_ts, cause_ref, lane_status
            ("a-sperrung", "roadClosed", "2024-06-01 00:00:00", None, None),
            ("a-gegen-sperrung", "roadClosed", "2024-06-01 00:00:00", None, None),
            ("b-sperrung", "roadClosed", "2024-06-01 00:00:00", None, None),
            ("c", "constructionWork", "2023-12-01 00:00:00", None, "x2x"),  # expired
            ("d", "repairWork", "2024-06-01 00:00:00", None, "u1x"),
            ("e", "unknownKind", "2024-06-01 00:00:00", "d", None),  # references d as cause
        ],
        "id string, type string, end_ts string, cause_ref string, lane_status string",
    ).withColumn("end_ts", F.to_timestamp("end_ts"))

    # direction detection BEFORE gegen-records are dropped (they carry the signal)
    directed = detect_direction(incidents)
    live = temporal_validity_filter(directed, "end_ts", as_of)  # P5: drop expired
    live = skip_gegen_records(live)  # P6
    live = drop_managed_causes(live)  # J3: 'd' is e's managed cause → dropped
    out = live.withColumn("cifs_type", incident_type(F.col("type"))).withColumn(
        "subtype", incident_subtype(incident_type(F.col("type")))
    )
    rows = {r.id: r.asDict() for r in out.collect()}

    assert set(rows) == {"a-sperrung", "b-sperrung", "e"}  # c expired, d anti-joined, gegen skipped
    assert rows["a-sperrung"]["direction"] == "BOTH_DIRECTIONS"  # gegen sibling exists (J4)
    assert rows["b-sperrung"]["direction"] == "ONE_DIRECTION"  # no sibling
    assert rows["e"]["direction"] == "BOTH_DIRECTIONS"  # defensive default
    assert rows["a-sperrung"]["cifs_type"] == "ROAD_CLOSED"
    assert rows["a-sperrung"]["subtype"] == "ROAD_CLOSED_CONSTRUCTION"
    assert rows["e"]["cifs_type"] == "CONSTRUCTION" and rows["e"]["subtype"] == ""


# -- §3.3 latest-as-of selection (webcam_worker.py:154-207 semantics) ---------


def test_latest_per_entity_as_of_now(spark):
    obs = spark.createDataFrame(
        [
            ("cam1", "2024-01-01 10:00:00", "old"),
            ("cam1", "2024-01-01 11:00:00", "new"),
            ("cam1", "2024-01-01 12:00:00", "future"),  # after frozen now
            ("cam2", "2024-01-01 09:00:00", "only"),
            ("cam3", "2024-01-01 09:00:00", ""),  # invalid payload → skipped
        ],
        "entity string, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    now = "2024-01-01 11:30:00"

    latest = (
        obs.filter((F.col("ts") <= F.lit(now).cast("timestamp")) & (F.length("payload") > 0))
        .groupBy("entity")
        .agg(F.max_by("payload", F.struct("ts", "payload")).alias("payload"), F.max("ts").alias("ts"))
        .orderBy("entity")
    )
    rows = latest.collect()
    assert [(r.entity, r.payload) for r in rows] == [("cam1", "new"), ("cam2", "only")]


def test_xml_situation_decode(spark):
    """S5 second half: literal DATEX-II-style XML decode with Spark's native
    from_xml (reference walks situation XML element-by-element,
    pipeline/transformer/cifs.py:243-249,276-306).  Attributes arrive under
    the `_` prefix, nested elements as structs, missing elements as NULL,
    and a malformed document as an all-NULL row (PERMISSIVE) — the
    errors-become-NULL discipline the pipeline relies on to drop bad docs."""
    from ipl_dagster_pipeline_spark.catalog.relational import _XML_SITUATION_SCHEMA

    rows = [
        ('<sit id="inc-1-sperrung" type="roadClosed">'
         "<restriction><laneStatus>s1</laneStatus></restriction>"
         '<cause ref="inc-3"/></sit>',),
        ('<sit id="inc-2" type="constructionWork"><restriction/></sit>',),
        ('<sit id="inc-4" type="other"></sit>',),
        ('<sit id="inc-5',),  # truncated mid-attribute
    ]
    parsed = (
        spark.createDataFrame(rows, "xml string")
        .select(F.from_xml("xml", _XML_SITUATION_SCHEMA).alias("p"))
        .select(
            F.col("p._id").alias("id"),
            F.col("p.restriction.laneStatus").alias("lane"),
            F.col("p.cause._ref").alias("cause_ref"),
            F.col("p._type").alias("itype"),
        )
        .collect()
    )
    assert [tuple(r) for r in parsed] == [
        ("inc-1-sperrung", "s1", "inc-3", "roadClosed"),
        ("inc-2", None, None, "constructionWork"),
        ("inc-4", None, None, "other"),
        (None, None, None, None),
    ]

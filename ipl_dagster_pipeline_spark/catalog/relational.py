"""Relational and event queries: TPC-H joins, scalars, OLAP, dimensions, geo, incidents, XML."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.catalog.common import WITH_T, CatalogEntry, _read, _ts_us
from ipl_dagster_pipeline_spark.functions.geo import (
    geom_type,
    grid_radius_join,
    haversine_sql,
    linestring_length_km,
    parse_linestring,
)
from ipl_dagster_pipeline_spark.functions.incidents import (
    detect_direction,
    drop_managed_causes,
    incident_subtype,
    incident_type,
    skip_gegen_records,
)
from ipl_dagster_pipeline_spark.functions.scalars import (
    concat_trim,
    epoch_seconds_to_utc_ts,
    human_moment,
    local_date_parts,
    point_geom,
    split_latlon_pairs,
)
from ipl_dagster_pipeline_spark.operators.dimensions import merge_upsert, scd2_history
from ipl_dagster_pipeline_spark.operators.graph import pagerank
from ipl_dagster_pipeline_spark.operators.relational import (
    anti_join,
    broadcast_dim_join,
    explode_json_records,
    group_pivot_sum,
    map_lookup,
    prefer_first,
    rollup_aggregate,
    semi_join,
    temporal_validity_filter,
    union_by_name,
)
from ipl_dagster_pipeline_spark.operators.windows import rank_dedup
from ipl_dagster_pipeline_spark.partitioning import morton_code, morton_sql, salted_agg
from ipl_dagster_pipeline_spark.sources.transcripts import transcripts_from_events


# ---------------------------------------------------------------------------
# relational queries over the TPC-H-ish tables
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style hash aggregate (bench headline q1)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: fact×dim broadcast chain orders→customer→nation→region."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    enriched = broadcast_dim_join(
        orders, cust.select("c_custkey", "c_name", "c_nationkey"), on=[orders.o_custkey == cust.c_custkey]
    )
    enriched = broadcast_dim_join(enriched, nation, on=[F.col("c_nationkey") == nation.n_nationkey])
    enriched = broadcast_dim_join(enriched, region, on=[F.col("n_regionkey") == region.r_regionkey])
    return enriched.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


SQL_BROADCAST_ENRICH = """
SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: customers with no orders (left-anti)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return anti_join(cust, orders, on="c_custkey").select("c_custkey", "c_name", "c_mktsegment")


SQL_ANTI = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: parts that appear in at least one lineitem (left-semi)."""
    part = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return semi_join(part, li, on="p_partkey").select("p_partkey", "p_name", "p_brand")


SQL_SEMI = """
SELECT p_partkey, p_name, p_brand
FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: group-sum + pivot with explicit pivot domain (no distinct pass)."""
    orders = _read(spark, sf_dir, "orders")
    out = group_pivot_sum(
        orders, ["o_orderpriority"], "o_orderstatus", "o_totalprice", pivot_values=["F", "O", "P"]
    )
    return out.select(
        "o_orderpriority",
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("total_f"),
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("total_o"),
        F.round(F.coalesce(F.col("P"), F.lit(0.0)), 2).alias("total_p"),
    )


SQL_PIVOT = """
SELECT o_orderpriority,
       round(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0), 2) AS total_f,
       round(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0), 2) AS total_o,
       round(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 0), 2) AS total_p
FROM orders
GROUP BY o_orderpriority
"""


def q_union_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union-by-name across differently-shaped frames."""
    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    supp = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return union_by_name([cust, supp])


SQL_UNION = """
SELECT c_custkey AS entity_key, c_name AS entity_name, c_acctbal AS acctbal, 'customer' AS kind
FROM customer
UNION ALL
SELECT s_suppkey, s_name, s_acctbal, 'supplier' FROM supplier
"""


def q_temporal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: temporal validity filter (drop rows expired before as_of)."""
    ev = _read(spark, sf_dir, "events")
    out = temporal_validity_filter(ev, "ts", "2024-01-15 00:00:00")
    return _ts_us(out.select("event_id", "user_id", "event_type", "value", "ts"), "ts")


SQL_TEMPORAL = """
SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
FROM events
WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
"""


def q_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: dict-lookup mapping with default (INCIDENT_TYPE_MAPPPING analog)."""
    ev = _read(spark, sf_dir, "events")
    mapping = {"click": "INTERACTION", "view": "INTERACTION", "purchase": "CONVERSION"}
    return ev.groupBy(
        map_lookup(F.col("event_type"), mapping, "OTHER").alias("event_class")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))


SQL_MAP_LOOKUP = """
SELECT CASE WHEN event_type = 'click' THEN 'INTERACTION'
            WHEN event_type = 'view' THEN 'INTERACTION'
            WHEN event_type = 'purchase' THEN 'CONVERSION'
            ELSE 'OTHER' END AS event_class,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY 1
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5-style nested payload decode: parse the JSON props column."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"), F.max("k").alias("max_k"))
    )


SQL_JSON = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# batch 3: salting equivalence, latest-per-key, scalar functions, batch windows
# ---------------------------------------------------------------------------


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation — the oracle is the plain GROUP BY, so the
    driver gate itself proves salting preserves semantics (SURVEY §4 skew)."""
    t = transcripts_from_events(spark, sf_dir)
    return salted_agg(
        t,
        key="conv_id",
        aggs={"n_turns": F.count("*"), "total_chars": F.sum(F.length("text"))},
        merges={"n_turns": F.sum("n_turns"), "total_chars": F.sum("total_chars")},
        n_salts=8,
        hot_keys=["c1", "c2", "c3"],
    )


SQL_SALTED = f"""{WITH_T}
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM transcripts
GROUP BY conv_id
"""


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: latest record per key via deterministic rank (keep-last dedup)."""
    ev = _read(spark, sf_dir, "events")
    out = rank_dedup(ev, ["user_id"], [F.col("ts"), F.col("event_id")], keep="last")
    return _ts_us(out.select("user_id", "event_id", "event_type", "ts"), "ts")


SQL_LATEST_EVENT = """
SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


def q_distinct_group_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: distinct-group count + single-group detection (reference picks a
    default vehicle type when only one form factor exists, lamassu.py:129-135)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("n_types"),
        (F.count_distinct("event_type") == 1).alias("single_type"),
        F.min("event_type").alias("first_type"),
    )


SQL_DISTINCT_PROBE = """
SELECT user_id,
       count(DISTINCT event_type) AS n_types,
       count(DISTINCT event_type) = 1 AS single_type,
       min(event_type) AS first_type
FROM events
GROUP BY user_id
"""


def q_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/U-explode: nested array normalize — word frequencies over documents."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


SQL_WORDS = """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE length(word) > 0
GROUP BY word
"""


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4/F5/F7 scalar parity: concat+trim, rlike, regexp_replace, contains."""
    cust = _read(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        concat_trim(F.col("c_name"), F.col("c_mktsegment")).alias("display_name"),
        F.col("c_name").rlike("^Customer#0*1").alias("is_first_block"),
        F.regexp_replace(F.col("c_name"), "[0-9]+", "#").alias("name_shape"),
        F.col("c_mktsegment").contains("MACH").alias("is_machinery"),
    )


SQL_SCALARS = """
SELECT c_custkey,
       trim(concat_ws(' ', c_name, c_mktsegment)) AS display_name,
       regexp_matches(c_name, '^Customer#0*1') AS is_first_block,
       regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_shape,
       contains(c_mktsegment, 'MACH') AS is_machinery
FROM customer
"""


def q_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling window (F.window) — per-hour per-type event stats."""
    ev = _read(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "total_value")
    )
    return _ts_us(out, "hour_start")


SQL_HOURLY = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_start_us, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join aggregate (bench headline)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_REVENUE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: top revenue among unshipped orders."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    cutoff = F.lit("1995-03-15").cast("timestamp")
    out = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        # per-row cents as BIGINT, exact integer sum — immune to the
        # double-summation-order .005 boundary that flips round(sum, 2)
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast("long"))
                / 100.0
            ).alias("revenue")
        )
    )
    return _ts_us(out, "o_orderdate")


SQL_SHIPPING = """
SELECT o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
"""


def q_epoch_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: epoch-seconds -> UTC timestamp with bad input -> null."""
    ev = _read(spark, sf_dir, "events")
    secs = F.floor(F.col("ts").cast("timestamp").cast("double")).cast("long")
    out = ev.select(
        "event_id",
        secs.alias("epoch_s"),
        epoch_seconds_to_utc_ts(secs).alias("parsed_ts"),
        epoch_seconds_to_utc_ts(F.lit(None).cast("long")).alias("bad_ts"),
    )
    return _ts_us(out, "parsed_ts", "bad_ts")


SQL_EPOCH = """
SELECT event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       CAST(floor(epoch(ts)) AS BIGINT) * 1000000 AS parsed_ts_us,
       CAST(NULL AS BIGINT) AS bad_ts_us
FROM events
"""


# -- scalar_extras: exercises the four previously-untested scalar helpers
# (F6 split+pairwise restructure, F12 tz conversion + date parts, F13
# strftime formatting, F15 geometry struct) in one oracle-gated query.
# The geometry string is built from INTEGER fields so the string→double
# round-trip is exact on both engines.


def q_scalar_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    geom_str = F.concat_ws(
        " ",
        (F.col("user_id") % 90).cast("string"),
        (F.col("event_id") % 180).cast("string"),
        ((F.col("user_id") + 7) % 90).cast("string"),
        ((F.col("event_id") + 13) % 180).cast("string"),
    )
    pairs = split_latlon_pairs(geom_str)
    p1 = F.element_at(pairs, 1)
    p2 = F.element_at(pairs, 2)
    geom = point_geom(p1["lon"], p1["lat"])
    berlin_local = F.from_utc_timestamp(F.col("ts").cast("timestamp"), "Europe/Berlin")
    return ev.select(
        "event_id",
        F.size(pairs).alias("n_pairs"),
        p1["lat"].alias("lat1"),
        p1["lon"].alias("lon1"),
        p2["lat"].alias("lat2"),
        p2["lon"].alias("lon2"),
        geom["lon"].alias("geom_lon"),
        geom["lat"].alias("geom_lat"),
        *local_date_parts(F.col("ts").cast("timestamp")),
        human_moment(berlin_local).alias("berlin_human"),
    )


SQL_SCALAR_EXTRAS = r"""
WITH g AS (
    SELECT event_id,
           concat_ws(' ', CAST(user_id % 90 AS VARCHAR), CAST(event_id % 180 AS VARCHAR),
                     CAST((user_id + 7) % 90 AS VARCHAR), CAST((event_id + 13) % 180 AS VARCHAR)) AS geom_str,
           timezone('Europe/Berlin', timezone('UTC', ts)) AS berlin
    FROM events
),
p AS (
    SELECT *, regexp_split_to_array(trim(geom_str), '\s+') AS toks FROM g
)
SELECT event_id,
       CAST(len(toks) // 2 AS INTEGER) AS n_pairs,
       CAST(toks[1] AS DOUBLE) AS lat1,
       CAST(toks[2] AS DOUBLE) AS lon1,
       CAST(toks[3] AS DOUBLE) AS lat2,
       CAST(toks[4] AS DOUBLE) AS lon2,
       CAST(toks[2] AS DOUBLE) AS geom_lon,
       CAST(toks[1] AS DOUBLE) AS geom_lat,
       CAST(year(berlin) AS INTEGER) AS year,
       CAST(month(berlin) AS INTEGER) AS month,
       CAST(day(berlin) AS INTEGER) AS day,
       CAST(hour(berlin) AS INTEGER) AS hour,
       strftime(berlin, '%d.%m.%Y, %H:%M:%S') AS berlin_human
FROM p
"""


# -- S2: catalog/preference lookup as a real engine op (reference
# lamassu.py:93-104 — first matching language in the preference list wins,
# fallback = any remaining language, deterministic tie-break).
_LANG_PREFS = ["de", "en", "fr"]


def q_prefer_first_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    out = prefer_first(
        docs, keys=["source"], pref_col="lang", preferences=_LANG_PREFS, tie_break=[F.col("doc_id")]
    )
    return out.select("source", F.col("lang").alias("picked_lang"), F.col("doc_id").alias("picked_doc_id"))


_PREF_CASE = "CASE " + " ".join(
    f"WHEN lang = '{v}' THEN {i}" for i, v in enumerate(_LANG_PREFS)
) + f" ELSE {len(_LANG_PREFS)} END"

SQL_PREFER_FIRST = f"""
SELECT source, lang AS picked_lang, doc_id AS picked_doc_id
FROM documents
QUALIFY row_number() OVER (PARTITION BY source ORDER BY {_PREF_CASE}, doc_id) = 1
"""


# ---------------------------------------------------------------------------
# batch 14 (round 2): the incident-transform chain as one oracle-gated query
# (P6 pattern predicates, F4 lane validation, F10 conditional derivation,
# J3 managed-cause anti-join, J4 gegen-sibling existence probe)
# ---------------------------------------------------------------------------

_LANES = ["s1", "x1", "1x", "u2w", "1", "zz"]  # + NULL slot
_ITYPES = ["constructionWork", "roadClosed", "repairWork", "other"]


def q_incident_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference transform chain on a deterministic synthetic incident
    table derived from events: sibling-gegen direction detection → gegen-row
    skip → managed-cause anti-join → type/subtype mapping — every rule from
    cifs.py re-expressed and value-hash-gated."""
    ev = _read(spark, sf_dir, "events")
    base = ev.select(
        F.when(
            ev.event_id % 5 == 0,
            F.concat(F.lit("inc-"), ev.event_id.cast("string"), F.lit("-sperrung")),
        )
        .when(
            ev.event_id % 5 == 1,
            F.concat(F.lit("inc-"), (ev.event_id - 1).cast("string"), F.lit("-gegen-sperrung")),
        )
        .otherwise(F.concat(F.lit("inc-"), ev.event_id.cast("string")))
        .alias("id"),
        F.element_at(
            F.array(*[F.lit(x) for x in _LANES], F.lit(None).cast("string")),
            (ev.event_id % 7 + 1).cast("int"),
        ).alias("lane_status"),
        F.when(
            ev.event_id % 11 == 0, F.concat(F.lit("inc-"), (ev.event_id + 2).cast("string"))
        ).alias("cause_ref"),
        F.element_at(
            F.array(*[F.lit(x) for x in _ITYPES]), (ev.event_id % 4 + 1).cast("int")
        ).alias("itype"),
    )
    d = detect_direction(base)
    d = skip_gegen_records(d)
    d = drop_managed_causes(d)
    mapped = incident_type(F.col("itype"))
    return d.select(
        "id",
        "lane_status",
        "direction",
        mapped.alias("itype_mapped"),
        incident_subtype(mapped).alias("isubtype"),
    )


SQL_INCIDENTS = r"""
WITH base AS (
    SELECT CASE WHEN event_id % 5 = 0 THEN 'inc-' || CAST(event_id AS VARCHAR) || '-sperrung'
                WHEN event_id % 5 = 1 THEN 'inc-' || CAST(event_id - 1 AS VARCHAR) || '-gegen-sperrung'
                ELSE 'inc-' || CAST(event_id AS VARCHAR) END AS id,
           (['s1', 'x1', '1x', 'u2w', '1', 'zz', NULL])[(event_id % 7) + 1] AS lane_status,
           CASE WHEN event_id % 11 = 0 THEN 'inc-' || CAST(event_id + 2 AS VARCHAR) END AS cause_ref,
           (['constructionWork', 'roadClosed', 'repairWork', 'other'])[(event_id % 4) + 1] AS itype
    FROM events
),
gegen AS (
    SELECT DISTINCT regexp_replace(id, '-gegen-', '-') AS sib FROM base WHERE id LIKE '%-gegen-%'
),
dirs AS (
    SELECT b.*, g.sib IS NOT NULL AS has_gegen
    FROM base b LEFT JOIN gegen g ON b.id = g.sib
),
d2 AS (
    SELECT *,
        CASE WHEN id LIKE '%-sperrung' AND id NOT LIKE '%-gegen-%'
             THEN CASE WHEN has_gegen THEN 'BOTH_DIRECTIONS' ELSE 'ONE_DIRECTION' END
             WHEN lane_status IS NOT NULL
                  AND regexp_matches(lane_status, '^([sxui]*l?)?[suioewx]*(1|2)[suioewx]*(r?[xsoe]*)?$')
             THEN CASE WHEN (length(regexp_extract(lane_status, '^([^12]*)', 1)) > 0
                             AND length(regexp_replace(regexp_extract(lane_status, '^([^12]*)', 1),
                                                       '[usl]', '', 'g')) > 0)
                            OR length(regexp_replace(regexp_extract(lane_status, '^[^12]*[12]([^12]*)', 1),
                                                     '[^uiw]', '', 'g')) > 0
                  THEN 'BOTH_DIRECTIONS' ELSE 'ONE_DIRECTION' END
             ELSE 'BOTH_DIRECTIONS' END AS direction
    FROM dirs
),
nogegen AS (
    SELECT * FROM d2 WHERE id NOT LIKE '%-gegen%'
),
filtered AS (
    -- managed causes come from the post-gegen-skip frame (pipeline order)
    SELECT * FROM nogegen
    WHERE id NOT IN (SELECT DISTINCT cause_ref FROM nogegen WHERE cause_ref IS NOT NULL)
)
SELECT id, lane_status, direction,
       CASE WHEN itype IN ('constructionWork', 'newRoadworksLayout', 'repairWork') THEN 'CONSTRUCTION'
            WHEN itype = 'roadClosed' THEN 'ROAD_CLOSED'
            ELSE 'CONSTRUCTION' END AS itype_mapped,
       CASE WHEN (CASE WHEN itype IN ('constructionWork', 'newRoadworksLayout', 'repairWork') THEN 'CONSTRUCTION'
                       WHEN itype = 'roadClosed' THEN 'ROAD_CLOSED'
                       ELSE 'CONSTRUCTION' END) = 'ROAD_CLOSED'
            THEN 'ROAD_CLOSED_CONSTRUCTION' ELSE '' END AS isubtype
FROM filtered
"""


# ---------------------------------------------------------------------------
# batch 15 (round 2): S3/A5 — nested-array normalize with injected default
# record, oracle-gated
# ---------------------------------------------------------------------------


def q_explode_default_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/A5: explode a nested record array to one row per element with parent
    meta propagated; docs with an EMPTY array (doc_id % 10 == 0) get the
    injected default record (reference: default vehicle-type record,
    lamassu.py:253-259)."""
    docs = _read(spark, sf_dir, "documents")
    arr = F.when(
        F.col("doc_id") % 10 == 0, F.array().cast("array<struct<w:string,l:int>>")
    ).otherwise(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.struct(w.alias("w"), F.length(w).cast("int").alias("l")),
        )
    )
    default = F.struct(F.lit("none").alias("w"), F.lit(0).cast("int").alias("l"))
    out = explode_json_records(
        docs.withColumn("recs", arr), "recs", meta_cols=["doc_id"], default_record=default
    )
    return out.select("doc_id", "w", "l")


SQL_EXPLODE_DEFAULT = """
WITH a AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN [{'w': 'none', 'l': 0}]
                ELSE list_transform(string_split(text, ' '),
                                    w -> {'w': w, 'l': CAST(length(w) AS INTEGER)}) END AS arr
    FROM documents
)
SELECT doc_id, u.w AS w, u.l AS l
FROM (SELECT doc_id, unnest(arr) AS u FROM a)
"""


# ---------------------------------------------------------------------------
# batch 23 (round 4): exact all-pairs n-gram Jaccard dedup (the deterministic
# complement of the MinHash path), SCD2 dimension validity-interval history,
# and MERGE-upsert (SCD1) snapshot maintenance.  Catalog-only (the exported
# gate stays at exactly 50 entries); oracle-checked via check_oracles --all.
# ---------------------------------------------------------------------------


def q_dim_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event_type SCD2 history: half-open validity intervals with
    consecutive no-op events collapsed — the dimension shape the as-of joins
    consume for point-in-time lookups."""
    ev = _read(spark, sf_dir, "events")
    return scd2_history(
        ev, key_cols=["user_id"], ts_col="ts", attr_cols=["event_type"],
        tie_cols=["event_id"],
    )


SQL_SCD2_HISTORY = """
WITH o AS (
    SELECT user_id, ts, event_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
v AS (
    SELECT user_id, event_type, ts AS valid_from, event_id
    FROM o WHERE rn = 1 OR prev IS DISTINCT FROM event_type
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS INTEGER) AS version
FROM v
"""

_MU_CUTOFF = "2024-01-03 00:00:00"


def q_dim_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics: the pre-cutoff per-user snapshot upserted with
    every post-cutoff event (greatest event_id wins per user ACROSS target
    and updates — late/stale change rows never regress a key; unmatched
    users insert) — the next SCD1 snapshot as a pure DataFrame plan."""
    ev = _read(spark, sf_dir, "events").select("user_id", "event_type", "value", "event_id", "ts")
    cut = F.lit(_MU_CUTOFF).cast("timestamp_ntz")
    w_latest = ev.filter(F.col("ts") < cut).withColumn(
        "__rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy(F.col("event_id").desc())),
    )
    target = w_latest.filter(F.col("__rn") == 1).select("user_id", "event_type", "value", "event_id")
    updates = ev.filter(F.col("ts") >= cut).select("user_id", "event_type", "value", "event_id")
    merged = merge_upsert(target, updates, key_cols=["user_id"], order_col="event_id")
    return merged.select("user_id", "event_type", "value", "event_id")


SQL_MERGE_UPSERT = f"""
WITH t AS (
    SELECT user_id, event_type, value, event_id
    FROM events WHERE ts < TIMESTAMP '{_MU_CUTOFF}'
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
),
u AS (
    SELECT user_id, event_type, value, event_id
    FROM events WHERE ts >= TIMESTAMP '{_MU_CUTOFF}'
),
b AS (
    SELECT *, 0 AS prio FROM t
    UNION ALL
    SELECT *, 1 AS prio FROM u
)
SELECT user_id, event_type, value, event_id
FROM b
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC NULLS LAST, prio DESC) = 1
"""

def q_dim_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment THROUGH the SCD2 intervals: each event joins
    the dimension version whose half-open validity interval contains its ts
    — the lookup shape the history table exists for.  An equi-join on the
    dimension key plus an interval predicate: per-event fan-in is that key's
    version count (dimension-sized), never a theta join over facts.

    By construction every event falls in exactly one version (the intervals
    partition each key's timeline), so row count == event count — temporal
    leakage is structurally impossible (valid_from <= ts < valid_to)."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    hist = q_dim_scd2_history(spark, sf_dir)
    j = ev.join(hist, on="user_id", how="left").filter(
        (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return j.select(
        "event_id", "user_id", "ts",
        F.col("event_type").alias("state_at_ts"),
        "version",
    )


SQL_PIT_ENRICH = f"""
WITH h AS ({SQL_SCD2_HISTORY})
SELECT e.event_id, e.user_id, e.ts, h.event_type AS state_at_ts, h.version
FROM events e
JOIN h ON h.user_id = e.user_id
      AND h.valid_from <= e.ts
      AND (h.valid_to IS NULL OR e.ts < h.valid_to)
"""


# ---------------------------------------------------------------------------
# batch 25 (round 4): multi-level OLAP aggregation (ROLLUP with explicit
# grouping id — subtotal NULLs disambiguated from genuine NULL dims) and
# exact fixed-width histogram profiling.  Catalog-only; value-hash oracles.
# ---------------------------------------------------------------------------


def q_events_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily × event-type ROLLUP in ONE shuffle: detail rows, per-type
    subtotals, and the grand total, each tagged with grouping_id so a
    subtotal NULL is distinguishable from a genuine NULL dim.  Values are
    integer-cents so every level's sum is exact on any engine."""
    ev = _read(spark, sf_dir, "events")
    dimmed = ev.select(
        F.col("event_type"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return rollup_aggregate(
        dimmed,
        dims=["event_type", "day"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        ],
    )


SQL_ROLLUP_DAILY = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       CAST(2 * GROUPING(event_type) + GROUPING(strftime(ts, '%Y-%m-%d')) AS INTEGER) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
"""


# ---------------------------------------------------------------------------
# batch 26 (round 4): funnel/sequence analytics over event streams,
# per-row-weight deterministic sampling, and edit-distance fuzzy matching.
# Catalog-only; value-hash oracles.
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_S = 600


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence/funnel analytics: per user, how often an 'error' event is
    followed by a 'click' within 600s, and the first such conversion time.

    Scale shape: an equi-join on user_id with a bounded time-range
    predicate — per-user fan-in is that user's error×click density inside
    the window, never a cross join; the aggregation is map-side combined."""
    ev = _read(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("t0"), F.col("event_id").alias("err_id")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("t1")
    )
    hits = err.join(
        clk,
        (F.col("user_id") == F.col("u2"))
        & (F.col("t1") > F.col("t0"))
        & (F.col("t1") <= F.col("t0") + F.expr(f"INTERVAL {_FUNNEL_WINDOW_S} SECONDS")),
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("err_id").alias("n_converting_errors"),
        F.min("t1").alias("first_conversion"),
    )


SQL_EVENT_FUNNEL = f"""
SELECT e.user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT e.event_id) AS BIGINT) AS n_converting_errors,
       min(c.ts) AS first_conversion
FROM events e
JOIN events c ON c.user_id = e.user_id
             AND e.event_type = 'error' AND c.event_type = 'click'
             AND c.ts > e.ts AND c.ts <= e.ts + INTERVAL {_FUNNEL_WINDOW_S} SECOND
GROUP BY e.user_id
"""


# ---------------------------------------------------------------------------
# batch 31 (round 5): GEO semantics (SURVEY §2 S9 — reference builds station
# point geometry from lon/lat (lamassu.py:192-196), splits roadworks by
# geometry type with the dropped set warned (traffic_incidents.py:100-107),
# and parses CIFS "lat lon ..." linestrings (cifs.py:251-253,303)).  The
# testdata tables carry no coordinates, so both engines derive the SAME
# deterministic lon/lat from integer keys — the geometry MATH is what is
# value-hashed, not the fixture.
# ---------------------------------------------------------------------------

_GEO_RADIUS_KM = 150.0


def _derived_lonlat(df: DataFrame, key: str, mul_lon: int, mul_lat: int, pfx: str) -> DataFrame:
    """lon ∈ [-180, 179.95], lat ∈ [-65, 64.95] from an integer key — exact
    decimal-by-20 division, bit-identical in Spark and DuckDB."""
    return df.select(
        F.col(key),
        (((F.col(key) * mul_lon) % 7200) / 20.0 - 180.0).alias(f"{pfx}_lon"),
        (((F.col(key) * mul_lat) % 2600) / 20.0 - 65.0).alias(f"{pfx}_lat"),
    )


def q_geo_station_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest station within 150 km per probe point — the S9 capability on
    Spark terms: a wrapped lon/lat-grid equi-join (never a cross product;
    antimeridian-safe) + exact haversine refine + rank-1 window.  Suppliers
    play stations, customers play probes; distances round to 6 dp BEFORE the
    rank so the cross-engine ordering is identical (ties break by station
    key)."""
    sup = _derived_lonlat(_read(spark, sf_dir, "supplier"), "s_suppkey", 97, 53, "s")
    cust = _derived_lonlat(_read(spark, sf_dir, "customer"), "c_custkey", 31, 17, "c")
    pairs = grid_radius_join(
        cust, sup, _GEO_RADIUS_KM,
        p_lon="c_lon", p_lat="c_lat", c_lon="s_lon", c_lat="s_lat",
    ).withColumn("dist_km", F.round(F.col("dist_km"), 6))
    w = Window.partitionBy("c_custkey").orderBy(F.col("dist_km").asc(), F.col("s_suppkey").asc())
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("c_custkey", "s_suppkey", "dist_km")
    )


_HAV_CS = haversine_sql("c_lon", "c_lat", "s_lon", "s_lat")

SQL_GEO_STATION_PROXIMITY = f"""
WITH s AS (
    SELECT s_suppkey,
           ((s_suppkey * 97) % 7200) / 20.0 - 180.0 AS s_lon,
           ((s_suppkey * 53) % 2600) / 20.0 - 65.0 AS s_lat
    FROM supplier
),
c AS (
    SELECT c_custkey,
           ((c_custkey * 31) % 7200) / 20.0 - 180.0 AS c_lon,
           ((c_custkey * 17) % 2600) / 20.0 - 65.0 AS c_lat
    FROM customer
),
p AS (
    SELECT c_custkey, s_suppkey, round({_HAV_CS}, 6) AS dist_km
    FROM c CROSS JOIN s
    WHERE {_HAV_CS} <= {_GEO_RADIUS_KM!r}
)
SELECT c_custkey, s_suppkey, dist_km
FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY dist_km ASC, s_suppkey ASC) AS rnk
    FROM p
)
WHERE rnk = 1
"""


def q_geo_route_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIFS-style route processing end-to-end: per-order "lat lon lat lon"
    TEXT (integer degrees derived from the key, 1-3 vertices) → parse →
    geometry-type filter (only LineStrings survive, the reference's
    roadworks rule) → great-circle length.  The oracle computes the same
    lengths straight from the vertex arithmetic — equality proves the whole
    Spark parse/type/length chain."""
    o = _read(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    toks = F.array(
        *[
            ((k * m) % F.lit(mod) - F.lit(off)).cast("string")
            for m, mod, off in [(7, 120, 60), (11, 360, 180), (10, 120, 60),
                                (16, 360, 180), (13, 120, 60), (21, 360, 180)]
        ]
    )
    n_v = (k % 3 + 1).cast("int")
    txt = F.array_join(F.slice(toks, 1, n_v * 2), " ")
    geoms = o.select("o_orderkey", parse_linestring(txt).alias("pts"))
    return (
        geoms.filter(geom_type(F.col("pts")) == "LineString")
        .select(
            "o_orderkey",
            F.size("pts").alias("n_pts"),
            F.round(linestring_length_km(F.col("pts")), 6).alias("len_km"),
        )
    )


_HAV_01 = haversine_sql("lon0", "lat0", "lon1", "lat1")
_HAV_12 = haversine_sql("lon1", "lat1", "lon2", "lat2")

SQL_GEO_ROUTE_LENGTHS = f"""
WITH v AS (
    SELECT o_orderkey,
           CAST(o_orderkey % 3 + 1 AS INTEGER) AS n_pts,
           CAST((o_orderkey * 7) % 120 - 60 AS DOUBLE) AS lat0,
           CAST((o_orderkey * 11) % 360 - 180 AS DOUBLE) AS lon0,
           CAST((o_orderkey * 10) % 120 - 60 AS DOUBLE) AS lat1,
           CAST((o_orderkey * 16) % 360 - 180 AS DOUBLE) AS lon1,
           CAST((o_orderkey * 13) % 120 - 60 AS DOUBLE) AS lat2,
           CAST((o_orderkey * 21) % 360 - 180 AS DOUBLE) AS lon2
    FROM orders
)
SELECT o_orderkey, n_pts,
       round({_HAV_01} + CASE WHEN n_pts = 3 THEN {_HAV_12} ELSE 0.0 END, 6) AS len_km
FROM v
WHERE n_pts >= 2
"""


# ---------------------------------------------------------------------------
# batch 40 (round 5): fixed-point integer PageRank over the event-type
# transition graph — the iterative-algorithm capability (per-round
# equi-join + agg, lineage-truncated) with an oracle that UNROLLS the
# rounds in SQL; floor-division fixed-point means both engines replay the
# exact same integers.
# ---------------------------------------------------------------------------

_PR_ITERS, _PR_SCALE = 3, 1_000_000


def q_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank of event types in the per-user transition graph (edge =
    consecutive events under the (ts, event_id) order, deduped)."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("__prev", F.lag("event_type").over(w))
    edges = (
        seq.filter(F.col("__prev").isNotNull())
        .select(F.col("__prev").alias("src"), F.col("event_type").alias("dst"))
        .distinct()
    )
    return pagerank(edges, iters=_PR_ITERS, scale=_PR_SCALE)


def _pr_oracle_sql(iters: int) -> str:
    its = []
    for i in range(1, iters + 1):
        its.append(f"""
c{i} AS (
    SELECT e.dst AS v, CAST(sum(((r.r * 17) // 20) // e.k) AS BIGINT) AS s
    FROM e JOIN r{i - 1} r ON e.src = r.v
    GROUP BY 1
),
r{i} AS (
    SELECT n.v, CAST(base.b + coalesce(c{i}.s, 0) AS BIGINT) AS r
    FROM nodes n CROSS JOIN base LEFT JOIN c{i} ON n.v = c{i}.v
)""")
    return f"""
WITH seq AS (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
e0 AS (SELECT DISTINCT prev AS src, event_type AS dst FROM seq WHERE prev IS NOT NULL),
nodes AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e0 UNION ALL SELECT dst FROM e0)),
cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
base AS (SELECT ({_PR_SCALE} * 3 // 20) // n AS b, {_PR_SCALE} // n AS r0v FROM cnt),
k AS (SELECT src, CAST(count(*) AS BIGINT) AS k FROM e0 GROUP BY 1),
e AS (SELECT e0.src, e0.dst, k.k FROM e0 JOIN k USING (src)),
r0 AS (SELECT v, r0v AS r FROM nodes CROSS JOIN base),{",".join(its)}
SELECT v, r AS pr_scaled, round(r / {_PR_SCALE}.0, 6) AS pr FROM r{iters}
"""


SQL_EVENT_PAGERANK = _pr_oracle_sql(_PR_ITERS)


# ---------------------------------------------------------------------------
# batch 53 (round 6): literal XML decode — the second half of SURVEY §2 S5.
# The reference walks real DATEX II situation XML element-by-element
# (pipeline/transformer/cifs.py:243-249,276-306: attribute ids, nested
# restriction/lane elements, managed-cause references); until now the repo
# proved the nested-payload pattern only on JSON.  Here the incident fixture
# is rendered as a literal XML STRING column and decoded with Spark 4's
# native from_xml (attributes via the `_` prefix, nested structs, missing
# elements → NULL, malformed documents → all-NULL row in PERMISSIVE mode),
# then fed through the exact cifs.py transform chain already gated by
# incident_pipeline.  The oracle never parses XML: it derives the same
# fields from first principles, so any from_xml mis-parse (lost attribute,
# swallowed nested element, wrong NULL semantics) fails the value hash.
# ---------------------------------------------------------------------------

_XML_SITUATION_SCHEMA = (
    "struct<_id: string, _type: string, "
    "restriction: struct<laneStatus: string>, cause: struct<_ref: string>>"
)


def q_incident_xml_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATEX-II-style XML decode → full incident transform chain.

    Render each event as a situation document (id/type as ATTRIBUTES, lane
    status as a NESTED element, managed cause as an attribute of an empty
    element — the shapes cifs.py walks), with every 13th document truncated
    mid-attribute.  from_xml decodes JVM-side (no Python in the loop);
    malformed rows parse to NULL and are dropped before the chain, the
    errors-become-NULL discipline of F1.  Scale: one projection, no shuffle
    added over incident_pipeline's own joins (the fan-out below is a no-op
    once the source scan is already wide; locally it spreads the per-row
    XML parse across the session's cores instead of one scan task).
    """
    from ipl_dagster_pipeline_spark.partitioning import fan_out_scan

    ev = fan_out_scan(_read(spark, sf_dir, "events"))
    id_col = (
        F.when(
            ev.event_id % 5 == 0,
            F.concat(F.lit("inc-"), ev.event_id.cast("string"), F.lit("-sperrung")),
        )
        .when(
            ev.event_id % 5 == 1,
            F.concat(F.lit("inc-"), (ev.event_id - 1).cast("string"), F.lit("-gegen-sperrung")),
        )
        .otherwise(F.concat(F.lit("inc-"), ev.event_id.cast("string")))
    )
    lane = F.element_at(
        F.array(*[F.lit(x) for x in _LANES], F.lit(None).cast("string")),
        (ev.event_id % 7 + 1).cast("int"),
    )
    cause = F.when(
        ev.event_id % 11 == 0, F.concat(F.lit("inc-"), (ev.event_id + 2).cast("string"))
    )
    itype = F.element_at(F.array(*[F.lit(x) for x in _ITYPES]), (ev.event_id % 4 + 1).cast("int"))
    doc = F.concat(
        F.lit('<sit id="'), id_col, F.lit('" type="'), itype, F.lit('">'),
        F.coalesce(
            F.concat(F.lit("<restriction><laneStatus>"), lane, F.lit("</laneStatus></restriction>")),
            F.lit("<restriction/>"),
        ),
        F.coalesce(F.concat(F.lit('<cause ref="'), cause, F.lit('"/>')), F.lit("")),
        F.lit("</sit>"),
    )
    doc = F.when(ev.event_id % 13 == 0, F.lit('<sit id="broken')).otherwise(doc)
    parsed = ev.select(F.from_xml(doc, _XML_SITUATION_SCHEMA).alias("p"))
    base = parsed.select(
        F.col("p._id").alias("id"),
        F.col("p.restriction.laneStatus").alias("lane_status"),
        F.col("p.cause._ref").alias("cause_ref"),
        F.col("p._type").alias("itype"),
    ).filter(F.col("id").isNotNull())  # malformed docs parsed to NULL → dropped
    d = detect_direction(base)
    d = skip_gegen_records(d)
    d = drop_managed_causes(d)
    mapped = incident_type(F.col("itype"))
    return d.select(
        "id",
        "lane_status",
        "direction",
        mapped.alias("itype_mapped"),
        incident_subtype(mapped).alias("isubtype"),
    )


# first-principles oracle: same field distributions, same chain, with the
# malformed 13th documents excluded up front (they parse to NULL on Spark)
SQL_INCIDENTS_XML = r"""
WITH base AS (
    SELECT CASE WHEN event_id % 5 = 0 THEN 'inc-' || CAST(event_id AS VARCHAR) || '-sperrung'
                WHEN event_id % 5 = 1 THEN 'inc-' || CAST(event_id - 1 AS VARCHAR) || '-gegen-sperrung'
                ELSE 'inc-' || CAST(event_id AS VARCHAR) END AS id,
           (['s1', 'x1', '1x', 'u2w', '1', 'zz', NULL])[(event_id % 7) + 1] AS lane_status,
           CASE WHEN event_id % 11 = 0 THEN 'inc-' || CAST(event_id + 2 AS VARCHAR) END AS cause_ref,
           (['constructionWork', 'roadClosed', 'repairWork', 'other'])[(event_id % 4) + 1] AS itype
    FROM events
    WHERE event_id % 13 <> 0
),
gegen AS (
    SELECT DISTINCT regexp_replace(id, '-gegen-', '-') AS sib FROM base WHERE id LIKE '%-gegen-%'
),
dirs AS (
    SELECT b.*, g.sib IS NOT NULL AS has_gegen
    FROM base b LEFT JOIN gegen g ON b.id = g.sib
),
d2 AS (
    SELECT *,
        CASE WHEN id LIKE '%-sperrung' AND id NOT LIKE '%-gegen-%'
             THEN CASE WHEN has_gegen THEN 'BOTH_DIRECTIONS' ELSE 'ONE_DIRECTION' END
             WHEN lane_status IS NOT NULL
                  AND regexp_matches(lane_status, '^([sxui]*l?)?[suioewx]*(1|2)[suioewx]*(r?[xsoe]*)?$')
             THEN CASE WHEN (length(regexp_extract(lane_status, '^([^12]*)', 1)) > 0
                             AND length(regexp_replace(regexp_extract(lane_status, '^([^12]*)', 1),
                                                       '[usl]', '', 'g')) > 0)
                            OR length(regexp_replace(regexp_extract(lane_status, '^[^12]*[12]([^12]*)', 1),
                                                     '[^uiw]', '', 'g')) > 0
                  THEN 'BOTH_DIRECTIONS' ELSE 'ONE_DIRECTION' END
             ELSE 'BOTH_DIRECTIONS' END AS direction
    FROM dirs
),
nogegen AS (
    SELECT * FROM d2 WHERE id NOT LIKE '%-gegen%'
),
filtered AS (
    SELECT * FROM nogegen
    WHERE id NOT IN (SELECT DISTINCT cause_ref FROM nogegen WHERE cause_ref IS NOT NULL)
)
SELECT id, lane_status, direction,
       CASE WHEN itype IN ('constructionWork', 'newRoadworksLayout', 'repairWork') THEN 'CONSTRUCTION'
            WHEN itype = 'roadClosed' THEN 'ROAD_CLOSED'
            ELSE 'CONSTRUCTION' END AS itype_mapped,
       CASE WHEN (CASE WHEN itype IN ('constructionWork', 'newRoadworksLayout', 'repairWork') THEN 'CONSTRUCTION'
                       WHEN itype = 'roadClosed' THEN 'ROAD_CLOSED'
                       ELSE 'CONSTRUCTION' END) = 'ROAD_CLOSED'
            THEN 'ROAD_CLOSED_CONSTRUCTION' ELSE '' END AS isubtype
FROM filtered
"""


# ---------------------------------------------------------------------------
# batch 57 (round 6): Z-order (Morton) layout clustering — the
# multi-dimensional file-layout key behind Iceberg/Delta Z-ordering
# (partitioning.py: morton_code).  Range-partitioning on
# one column prunes on that column only; interleaving bits of several gives
# every clustered column narrow per-file min/max ranges, so a 100 TB scan
# with a predicate on ANY of them skips most files on footer statistics.
# Pure BIGINT bit arithmetic, identical in ANSI SQL — value-hashed.
# ---------------------------------------------------------------------------


def q_event_morton_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order key for events clustered on (hour-of-day, value): one
    projection, no shuffle; NULL in either dimension → NULL key (incomplete
    rows sort together at the end of the layout)."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        morton_code([F.hour(F.col("ts").cast("timestamp")), F.floor("value")]).alias("zcode"),
    )


SQL_MORTON_LAYOUT = f"""
SELECT event_id, {morton_sql(["hour(ts)", "floor(value)"])} AS zcode
FROM events
"""


CATALOG: dict[str, CatalogEntry] = {
    # relational core (§2.3-2.5, §2.7-2.8)
    "q1_pricing_summary": (q_pricing_summary, SQL_PRICING),
    "broadcast_enrich": (q_broadcast_enrich, SQL_BROADCAST_ENRICH),
    "anti_join_customers": (q_anti_join, SQL_ANTI),
    "semi_join_parts": (q_semi_join, SQL_SEMI),
    "pivot_order_status": (q_pivot_status, SQL_PIVOT),
    "union_entities": (q_union_entities, SQL_UNION),
    "temporal_filter": (q_temporal_filter, SQL_TEMPORAL),
    "map_lookup_classes": (q_map_lookup, SQL_MAP_LOOKUP),
    "json_extract_props": (q_json_extract, SQL_JSON),
    "salted_agg_by_conv": (q_salted_agg, SQL_SALTED),
    "latest_event_per_user": (q_latest_event_per_user, SQL_LATEST_EVENT),
    "distinct_group_probe": (q_distinct_group_probe, SQL_DISTINCT_PROBE),
    "word_counts": (q_word_counts, SQL_WORDS),
    "scalar_functions": (q_scalar_functions, SQL_SCALARS),
    "hourly_tumbling": (q_hourly_tumbling, SQL_HOURLY),
    "q5_revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE),
    "q3_shipping_priority": (q_shipping_priority, SQL_SHIPPING),
    "epoch_parse": (q_epoch_parse, SQL_EPOCH),
    "scalar_extras": (q_scalar_extras, SQL_SCALAR_EXTRAS),
    "prefer_first_lang": (q_prefer_first_lang, SQL_PREFER_FIRST),
    "incident_pipeline": (q_incident_pipeline, SQL_INCIDENTS),
    "explode_default_record": (q_explode_default_record, SQL_EXPLODE_DEFAULT),
    "dim_scd2_history": (q_dim_scd2_history, SQL_SCD2_HISTORY),
    "dim_merge_upsert": (q_dim_merge_upsert, SQL_MERGE_UPSERT),
    "dim_pit_enrich": (q_dim_pit_enrich, SQL_PIT_ENRICH),
    "events_rollup_daily": (q_events_rollup_daily, SQL_ROLLUP_DAILY),
    "event_funnel": (q_event_funnel, SQL_EVENT_FUNNEL),
    "geo_station_proximity": (q_geo_station_proximity, SQL_GEO_STATION_PROXIMITY),
    "geo_route_lengths": (q_geo_route_lengths, SQL_GEO_ROUTE_LENGTHS),
    "event_pagerank": (q_event_pagerank, SQL_EVENT_PAGERANK),
    "incident_xml_pipeline": (q_incident_xml_pipeline, SQL_INCIDENTS_XML),
    "event_morton_layout": (q_event_morton_layout, SQL_MORTON_LAYOUT),
}

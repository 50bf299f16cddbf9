"""The merged gate entries: parity and suite queries built from the family queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.catalog.common import (
    SECS,
    WITH_T,
    WITH_TD,
    W_SQL,
    CatalogEntry,
    _read,
    _ts_us,
)
from ipl_dagster_pipeline_spark.catalog.documents import (
    SQL_DOC_FP,
    SQL_DOC_LANG,
    SQL_DOC_QUALITY,
    SQL_DOC_TOKENS,
)
from ipl_dagster_pipeline_spark.catalog.embeddings import q_emb_ivf_topk, q_lsh_topk
from ipl_dagster_pipeline_spark.catalog.media import (
    SQL_MEDIA_DECODE,
    SQL_MEDIA_LATEST,
    q_media_features,
    q_media_latest,
)
from ipl_dagster_pipeline_spark.catalog.relational import (
    SQL_BROADCAST_ENRICH,
    SQL_DISTINCT_PROBE,
    SQL_EPOCH,
    SQL_LATEST_EVENT,
    SQL_REVENUE,
    SQL_SCALAR_EXTRAS,
    q_anti_join,
    q_broadcast_enrich,
    q_distinct_group_probe,
    q_epoch_parse,
    q_latest_event_per_user,
    q_revenue_by_nation,
    q_scalar_extras,
    q_semi_join,
)
from ipl_dagster_pipeline_spark.catalog.transcripts import AS_OF_PIN
from ipl_dagster_pipeline_spark.operators.asof import (
    asof_join_broadcast_range,
    asof_join_cogrouped,
    asof_snapshot_broadcast,
)
from ipl_dagster_pipeline_spark.operators.sessionize import sessionize, sessionize_grouped
from ipl_dagster_pipeline_spark.operators.textstats import (
    with_fingerprint,
    with_lang_id,
    with_quality_scores,
    with_token_counts,
)
from ipl_dagster_pipeline_spark.operators.windows import (
    with_lag_features,
    with_lead_targets,
    with_rolling_range,
    with_rolling_rows,
)
from ipl_dagster_pipeline_spark.sources.transcripts import (
    CONV_DIM_CTE,
    TOOL_DIM_CTE,
    TRANSCRIPTS_CTE,
    conv_dim_from_events,
    tool_dim_from_events,
    transcripts_from_events,
)


# ---------------------------------------------------------------------------
# batch 17 (round 3): driver-gate consolidation.
#
# The driver's correctness gate checks the FIRST 50 ``queries()`` entries in
# insertion order (round 2 shipped 64 and the newest 14 got no gate row), so
# the exported contract is consolidated to EXACTLY 50 entries with the
# previously-unchecked capability classes FIRST.  No capability is dropped:
# overlapping queries are merged into parity/suite queries whose oracles are
# composed from the SAME SQL building blocks (joined subqueries / tagged
# unions), so every merged entry still carries a full value-hash gate — and
# the parity merges are STRONGER than the originals (two physical strategies
# must now agree row-by-row inside one gated result).  The full un-merged
# catalog stays available as ``all_queries()`` / ``all_oracle_sql()`` for the
# bench harness and local debugging.
# ---------------------------------------------------------------------------


def q_lag_lead_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 lag features + lead targets in one window pass (merged gate entry:
    lag_features + lead_targets)."""
    t = transcripts_from_events(spark, sf_dir)
    return _ts_us(with_lead_targets(with_lag_features(t)), "ts")


SQL_LAG_LEAD = f"""{WITH_T}
SELECT conv_id, turn_idx, role, text, tool,
       lag(role) OVER ({W_SQL}) AS prev_role_1,
       lag(tool) OVER ({W_SQL}) AS prev_tool_1,
       {SECS} - lag({SECS}) OVER ({W_SQL}) AS ts_delta_s_1,
       lead(role) OVER ({W_SQL}) AS lead_role_1,
       lead(text) OVER ({W_SQL}) AS lead_text_1,
       epoch_us(ts) AS ts_us
FROM transcripts
"""


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 rows-frame + range-frame rolling aggregates sharing one sort
    (merged gate entry: rolling_rows + rolling_range)."""
    t = transcripts_from_events(spark, sf_dir).withColumn("text_len", F.length("text").cast("long"))
    out = with_rolling_rows(t, F.col("text_len"), k=5, out_prefix="chars")
    out = with_rolling_range(out, F.col("text_len"), seconds=3600, out_prefix="chars")
    return _ts_us(out.withColumn("chars_avg_5", F.round("chars_avg_5", 6)), "ts")


SQL_ROLLING = f"""{WITH_T}
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us,
       CAST(length(text) AS BIGINT) AS text_len,
       CAST(sum(CAST(length(text) AS BIGINT)) OVER w5 AS BIGINT) AS chars_sum_5,
       round(avg(CAST(length(text) AS BIGINT)) OVER w5, 6) AS chars_avg_5,
       count(CAST(length(text) AS BIGINT)) OVER w5 AS chars_cnt_5,
       CAST(sum(CAST(length(text) AS BIGINT)) OVER wr AS BIGINT) AS chars_rsum_3600s,
       count(CAST(length(text) AS BIGINT)) OVER wr AS chars_rcnt_3600s
FROM transcripts
WINDOW w5 AS ({W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       wr AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_sessionize_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 sessionization, BOTH physical paths in one gated result: window-sum
    and grouped-map Arrow session ids joined per turn — the oracle emits the
    same SQL session id under both aliases, so any divergence between the two
    implementations value-hash-fails the gate (merged: sessionize_window +
    sessionize_grouped)."""
    t = transcripts_from_events(spark, sf_dir)
    w = sessionize(t, gap_seconds=1800).withColumnRenamed("session_id", "session_id_window")
    g = sessionize_grouped(t, gap_seconds=1800).select(
        "conv_id", "turn_idx", F.col("session_id").alias("session_id_grouped")
    )
    return _ts_us(w.join(g, ["conv_id", "turn_idx"]), "ts")


_SESS_EXPR = f"""CAST(sum(CASE WHEN delta IS NULL OR delta > 1800 THEN 1 ELSE 0 END)
            OVER ({W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)"""
SQL_SESSIONIZE_PARITY = f"""{WITH_T},
g AS (
    SELECT *, {SECS} - lag({SECS}) OVER ({W_SQL}) AS delta
    FROM transcripts
)
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us,
       {_SESS_EXPR} AS session_id_window,
       {_SESS_EXPR} AS session_id_grouped
FROM g
"""


def q_asof_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 as-of join, BOTH physical strategies in one gated result: the
    interval-broadcast path's columns plus the cogrouped-map Arrow as-of path's
    columns (suffix _cg) joined per turn; the oracle duplicates the single
    ASOF JOIN answer under both names (merged: asof_broadcast_range +
    asof_cogrouped)."""
    t = transcripts_from_events(spark, sf_dir)
    d = tool_dim_from_events(spark, sf_dir)
    a = asof_join_broadcast_range(t, d, key="tool")
    c = asof_join_cogrouped(t, d, key="tool").select(
        "conv_id",
        "turn_idx",
        F.col("tool_category").alias("tool_category_cg"),
        F.col("cost_weight").alias("cost_weight_cg"),
        F.col("matched_effective_from").alias("matched_effective_from_cg"),
    )
    out = a.join(c, ["conv_id", "turn_idx"])
    return _ts_us(out, "ts", "matched_effective_from", "matched_effective_from_cg")


SQL_ASOF_PARITY = f"""{WITH_TD}
SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, epoch_us(t.ts) AS ts_us,
       d.tool_category, d.cost_weight,
       epoch_us(d.effective_from) AS matched_effective_from_us,
       d.tool_category AS tool_category_cg, d.cost_weight AS cost_weight_cg,
       epoch_us(d.effective_from) AS matched_effective_from_cg_us
FROM transcripts t
ASOF LEFT JOIN tool_dim d
  ON t.tool = d.tool AND t.ts >= d.effective_from
"""


def q_asof_dim_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining two as-of strategies in one gated result: union-fill on
    the HIGH-cardinality conv_dim key plus the pinned-snapshot broadcast on
    the tool key (prefix pinned_) joined per turn (merged:
    asof_conv_dim_union_fill + asof_pinned_snapshot)."""
    from ipl_dagster_pipeline_spark.operators.asof import asof_join_union_fill

    t = transcripts_from_events(spark, sf_dir)
    cd = conv_dim_from_events(spark, sf_dir)
    td = tool_dim_from_events(spark, sf_dir)
    u = asof_join_union_fill(t, cd, key="conv_id", dim_ts="snapshot_ts")
    p = asof_snapshot_broadcast(t, td, key="tool", as_of=AS_OF_PIN).select(
        "conv_id",
        "turn_idx",
        F.col("tool_category").alias("pinned_tool_category"),
        F.col("cost_weight").alias("pinned_cost_weight"),
        F.col("matched_effective_from").alias("pinned_effective_from"),
    )
    out = u.join(p, ["conv_id", "turn_idx"])
    return _ts_us(out, "ts", "matched_effective_from", "pinned_effective_from")


SQL_ASOF_DIM_PARITY = f"""WITH {TRANSCRIPTS_CTE.strip()}, {CONV_DIM_CTE.strip()}, {TOOL_DIM_CTE.strip()},
pinned AS (
    SELECT tool, effective_from AS pinned_effective_from, tool_category, cost_weight
    FROM tool_dim
    WHERE effective_from <= TIMESTAMP '{AS_OF_PIN}'
    QUALIFY row_number() OVER (PARTITION BY tool ORDER BY effective_from DESC) = 1
)
SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, epoch_us(t.ts) AS ts_us,
       d.cohort, epoch_us(d.snapshot_ts) AS matched_effective_from_us,
       p.tool_category AS pinned_tool_category, p.cost_weight AS pinned_cost_weight,
       epoch_us(p.pinned_effective_from) AS pinned_effective_from_us
FROM transcripts t
ASOF LEFT JOIN conv_dim d ON t.conv_id = d.conv_id AND t.ts >= d.snapshot_ts
LEFT JOIN pinned p ON t.tool = p.tool
"""


def q_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F6/F12/F13/F15 scalar parity in one gated result (merged:
    scalar_extras + epoch_parse)."""
    base = q_scalar_extras(spark, sf_dir)
    ep = q_epoch_parse(spark, sf_dir)
    return base.join(ep, "event_id")


SQL_SCALAR_SUITE = f"""
SELECT a.*, b.epoch_s, b.parsed_ts_us, b.bad_ts_us
FROM ({SQL_SCALAR_EXTRAS}) a JOIN ({SQL_EPOCH}) b USING (event_id)
"""


def q_q5_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style revenue rollup joined with the broadcast enrich chain's
    per-nation order stats (merged: q5_revenue_by_nation + broadcast_enrich)."""
    q5 = q_revenue_by_nation(spark, sf_dir)
    be = q_broadcast_enrich(spark, sf_dir)
    return q5.join(be, "n_name")


SQL_Q5_ENRICHED = f"""
SELECT a.n_name, a.revenue, a.n_items, b.r_name, b.n_orders, b.total_price
FROM ({SQL_REVENUE}) a JOIN ({SQL_BROADCAST_ENRICH}) b USING (n_name)
"""


def q_join_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 anti-join + J4 semi-join probes as one tagged union (merged:
    anti_join_customers + semi_join_parts)."""
    anti = q_anti_join(spark, sf_dir).select(
        F.lit("anti_customer_no_orders").alias("probe"),
        F.col("c_custkey").cast("long").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("detail"),
    )
    semi = q_semi_join(spark, sf_dir).select(
        F.lit("semi_part_in_lineitem").alias("probe"),
        F.col("p_partkey").cast("long").alias("key"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("detail"),
    )
    return anti.unionByName(semi)


SQL_JOIN_FILTERS = """
SELECT 'anti_customer_no_orders' AS probe, CAST(c_custkey AS BIGINT) AS key,
       c_name AS name, c_mktsegment AS detail
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT 'semi_part_in_lineitem', CAST(p_partkey AS BIGINT), p_name, p_brand
FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
"""


def q_user_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 distinct-group probe + A3 latest-per-key joined per user (merged:
    latest_event_per_user + distinct_group_probe)."""
    latest = q_latest_event_per_user(spark, sf_dir).select(
        "user_id",
        F.col("event_id").alias("latest_event_id"),
        F.col("event_type").alias("latest_event_type"),
        F.col("ts_us").alias("latest_ts_us"),
    )
    probe = q_distinct_group_probe(spark, sf_dir)
    return latest.join(probe, "user_id")


SQL_USER_EVENT_STATS = f"""
SELECT l.user_id, l.event_id AS latest_event_id, l.event_type AS latest_event_type,
       l.ts_us AS latest_ts_us, p.n_types, p.single_type, p.first_type
FROM ({SQL_LATEST_EVENT}) l JOIN ({SQL_DISTINCT_PROBE}) p USING (user_id)
"""


def q_doc_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-document text-analysis block in one pass: token counts,
    quality scores, language ID, content fingerprint (merged:
    doc_token_counts + doc_quality_scores + doc_lang_id + doc_fingerprint)."""
    docs = _read(spark, sf_dir, "documents")
    out = with_fingerprint(with_lang_id(with_quality_scores(with_token_counts(docs))))
    return out.select(
        "doc_id", "lang", "source", "n_ws_tokens", "n_re_tokens",
        "n_chars", "alpha_ratio", "punct_ratio", "mean_word_len", "stopword_ratio",
        "score_en", "score_de", "score_es", "score_fr", "score_zh", "lang_pred",
        "fp", "norm_len",
    )


SQL_DOC_TEXTSTATS = f"""
SELECT t.doc_id, t.lang, t.source, t.n_ws_tokens, t.n_re_tokens,
       q.n_chars, q.alpha_ratio, q.punct_ratio, q.mean_word_len, q.stopword_ratio,
       l.score_en, l.score_de, l.score_es, l.score_fr, l.score_zh, l.lang_pred,
       f.fp, f.norm_len
FROM ({SQL_DOC_TOKENS}) t
JOIN ({SQL_DOC_QUALITY}) q USING (doc_id)
JOIN ({SQL_DOC_LANG}) l USING (doc_id)
JOIN ({SQL_DOC_FP}) f USING (doc_id)
"""


def q_media_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode features enriched with the latest-per-source rollup
    (merged: media_decode_features + media_latest_per_source)."""
    decode = q_media_features(spark, sf_dir)
    latest = q_media_latest(spark, sf_dir)
    return decode.join(F.broadcast(latest), "media_type", "left")


SQL_MEDIA_SUITE = f"""
SELECT d.*, l.source, l.latest_media_id, l.n_items
FROM ({SQL_MEDIA_DECODE}) d LEFT JOIN ({SQL_MEDIA_LATEST}) l USING (media_type)
"""


def q_emb_ann_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both approximate ANN paths (hyperplane LSH + IVF) as one tagged union,
    each row carrying the ``within_bf_bound`` invariant vs the exact
    brute-force ranking (merged: emb_lsh_topk + emb_ivf_topk; approximate by
    design -> rows-only, invariants asserted in tests/test_trainingdata.py)."""
    lsh = q_lsh_topk(spark, sf_dir).withColumn("method", F.lit("lsh"))
    ivf = q_emb_ivf_topk(spark, sf_dir).withColumn("method", F.lit("ivf"))
    return lsh.unionByName(ivf)


CATALOG: dict[str, CatalogEntry] = {
    "lag_lead_features": (q_lag_lead_features, SQL_LAG_LEAD),
    "rolling_features": (q_rolling_features, SQL_ROLLING),
    "sessionize_parity": (q_sessionize_parity, SQL_SESSIONIZE_PARITY),
    "asof_parity": (q_asof_parity, SQL_ASOF_PARITY),
    "asof_dim_parity": (q_asof_dim_parity, SQL_ASOF_DIM_PARITY),
    "scalar_suite": (q_scalar_suite, SQL_SCALAR_SUITE),
    "q5_revenue_enriched": (q_q5_enriched, SQL_Q5_ENRICHED),
    "join_filters": (q_join_filters, SQL_JOIN_FILTERS),
    "user_event_stats": (q_user_event_stats, SQL_USER_EVENT_STATS),
    "doc_textstats": (q_doc_textstats, SQL_DOC_TEXTSTATS),
    "media_suite": (q_media_suite, SQL_MEDIA_SUITE),
    # emb_ann_parity: intentionally no oracle (approximate, rows-only)
    "emb_ann_parity": (q_emb_ann_parity, None),
}

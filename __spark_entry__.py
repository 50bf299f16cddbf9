"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 implemented with the
engine (`ipl_dagster_pipeline_spark`); ``oracle_sql()`` holds the equivalent
DuckDB SQL over the same parquet views.  Transcript-shaped queries derive the
``transcripts`` / ``tool_dim`` / ``conv_dim`` tables deterministically from
``events`` with IDENTICAL logic on both engines (sources/transcripts.py CTEs).

Cross-engine hygiene (drivers hash values after sorting columns by name):
* timestamps are emitted as epoch microseconds (``unix_micros`` / ``epoch_us``)
* floating aggregates are rounded on BOTH sides
* every computed column is aliased identically on both sides

The queries live in the family modules of ``ipl_dagster_pipeline_spark.catalog``;
each exports one ``CATALOG`` table of ``name -> (query, oracle SQL or None)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ipl_dagster_pipeline_spark.catalog import (
    documents,
    embeddings,
    features,
    media,
    relational,
    sampling,
    suites,
    transcripts,
)
from ipl_dagster_pipeline_spark.catalog.common import CatalogEntry


def _merge(*tables: dict[str, CatalogEntry]) -> dict[str, CatalogEntry]:
    """Union of the family tables; a name defined in two tables is an error."""
    merged: dict[str, CatalogEntry] = {}
    for table in tables:
        for name, row in table.items():
            if name in merged:
                raise ValueError(f"catalog entry {name!r} is defined twice")
            merged[name] = row
    return merged


CATALOG = _merge(
    transcripts.CATALOG,
    relational.CATALOG,
    sampling.CATALOG,
    documents.CATALOG,
    embeddings.CATALOG,
    media.CATALOG,
    features.CATALOG,
    suites.CATALOG,
)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end PIT feature build on sf0.001."""
    return transcripts.q_flagship(spark, "/root/testdata/sf0.001")


# The 50 gate entries, previously-unchecked capability classes FIRST (the
# driver checks the first 50 in insertion order).
DRIVER_QUERY_ORDER = [
    # --- round-5 rotation: new capabilities + the 8 round-4 catalog-only
    # classes get the hard driver rows.  The 10 demoted entries stay
    # --all-checked in the catalog and their capabilities remain gated
    # transitively: doc_token_budget's keyed prefix sum + null stratum runs
    # inside doc_bpe_token_budget (same token_budget_select, real-BPE meter);
    # doc_length_quantiles' rank-arithmetic quantile core is the median/MAD
    # inside doc_length_outliers; doc_stratified_sample's row-level hash
    # keep-probability family is doc_weighted_sample; doc_hash_split's
    # portable-hash bucketing drives doc_weighted_sample + doc_mixture_epochs;
    # doc_top_terms' integer tf/df ranking is subsumed by doc_bm25's full
    # lexical scorer; doc_quality_gate's scores come from doc_textstats and
    # its conjunctive filter from join_filters/incident_pipeline;
    # q1_pricing_summary's agg family lives in events_rollup_daily, and
    # pivot_order_status' explicit-domain pivot in doc_bm25's max(CASE)
    # per-term pivot; temporal_filter's point-in-time validity predicate is
    # the interval join inside dim_pit_enrich (+ both asof parities);
    # media_resize_images' grouped mapInPandas shape is media_sample_frames +
    # media_suite. ---
    # --- round-5 rotation #2: the late-round-5 capability classes (the
    # fit/transform family, PIT encoding, decay, sketches, iterative graph,
    # LM scoring, geo, rolling order statistics) take the hard driver rows.
    # The 12 demoted entries stay --all-checked; their capabilities remain
    # gated transitively: doc_mixture_epochs' hash keep-probability family
    # is doc_weighted_sample; doc_shuffle_shards' global prefix sum runs
    # inside doc_pack_sequences + doc_bpe_token_budget; emb_lsh_topk_oracle's
    # hyperplane-bucket equi-join + exact re-rank is emb_near_dup_lsh (and
    # the ANN value-hash row stays via emb_ivf_topk_oracle);
    # doc_winnow_fingerprints' shingle-hash machinery is
    # doc_minhash_lsh_pairs + doc_incr_index_probe; doc_collapse_repeats'
    # regex-normalize cleaning is doc_pii_redact; explode_default_record's
    # explode shape is doc_token_chunks' posexplode and its defensive
    # defaults are schema_enforce; union_entities' union-by-name is the
    # branch union inside sessionize_parity + asof_parity;
    # q5_revenue_enriched's broadcast fact×dim join is dim_pit_enrich +
    # join_filters; doc_exact_dedup's hash-groupBy uniqueness is dedup_turns
    # + doc_incr_index_probe's signature distinct; doc_simhash's near-dup
    # bit-hash family is doc_minhash_lsh_pairs/doc_ngram_jaccard + the
    # hashing trick gated in event_feature_vectors; lag_lead_features and
    # rolling_features are verbatim sub-expressions of the gated
    # rich_features/flagship_features fused window pass (lead stays
    # catalog-checked in lead_targets, range frames in rolling_range).
    # Catalog-only siblings of newly gated rows: event_cms_user_counts ↔
    # event_hll_users (same mergeable-sketch register machinery),
    # source_unigram_kl/doc_pmi_collocations ↔ doc_lm_surprisal (same
    # integer milli-nat determinism core), event_hash_cross ↔
    # event_feature_vectors (same portable-hash bucketing),
    # doc_containment_pairs ↔ doc_ngram_jaccard (same df-capped inverted
    # index), geo_route_lengths ↔ geo_station_proximity (same haversine
    # core), doc_temperature_sample ↔ doc_weighted_sample (same hash
    # keep-probability), event_skew_profile ↔ salted_agg_by_conv +
    # event_hll_users (distribution metrics over the same agg shapes). ---
    # --- round-6 rotation #3: every capability class has now been gated at
    # least once.  The 15 round-5 catalog-only classes plus the new literal
    # XML decode take the hard driver rows; the 16 demoted entries stay
    # --all-checked and their capabilities remain gated transitively:
    # incident_pipeline's full cifs chain runs VERBATIM inside
    # incident_xml_pipeline (which adds the from_xml decode in front);
    # doc_bm25's df-rank + integer rarity weighting is doc_tfidf_vectors and
    # its per-term max(CASE) pivot shape is event_feature_vectors' one_hot;
    # doc_length_histogram's integer binning is event_quantile_bins;
    # doc_weighted_sample's hash keep-probability is doc_temperature_sample
    # (same split_bucket core, temperature-weighted); turn_context_windows'
    # lag/lead context collection is rich_features' fused window pass +
    # doc_token_chunks' sliding windows; dim_scd2_history's interval
    # construction feeds (and is probed by) the gated dim_pit_enrich +
    # dim_merge_upsert; events_rollup_daily's agg family is
    # session_aggregates + event_class_balance; doc_pii_redact's regex
    # substitution is incident_xml_pipeline's F5 rules; media_sample_frames'
    # grouped mapInPandas shape is media_suite; doc_contamination's k-gram
    # hash semi-join is doc_ngram_jaccard's inverted index (and runs e2e in
    # jobs/pretrain_prep.py); doc_pack_sequences' global prefix sum is
    # doc_bpe_token_budget's budget walk; user_event_stats' distinct-group +
    # latest-per-group is dedup_turns + media_suite's max_by;
    # prefer_first_lang's preference-order lookup is scalar_suite's coalesce
    # defaults + the F9 map-lookup inside incident_xml_pipeline;
    # doc_textstats' score columns are consumed and re-checked by
    # doc_length_outliers + doc_lm_surprisal; emb_near_dup_lsh's hyperplane
    # bucket join + exact re-rank is emb_ivf_topk_oracle (ANN value-hash)
    # and feeds the gated emb_dup_components; event_funnel's ordered-stage
    # windows are event_target_encode's strictly-earlier expanding frames +
    # rich_features' lag/lead. ---
    # --- round-6 rotation #4 (same round): the five operators BORN this
    # round take gate rows immediately so no class ships ungated.  The five
    # demoted entries stay --all-checked with their capabilities gated
    # transitively: event_cms_user_counts' mergeable integer registers are
    # event_hll_users (gated) + the two loghist sketch rows (gated);
    # event_hash_cross' portable-hash bucketing is event_feature_vectors'
    # hashing trick; source_unigram_kl's integer milli-nat family is
    # doc_lm_surprisal + doc_pmi_collocations, and its drift-monitor role is
    # event_value_psi; doc_temperature_sample's hash keep-probability rule
    # is doc_negative_pairs' draws + event_class_balance's hash-order caps;
    # event_skew_profile's exact ppm concentration diagnostics back the
    # gated salted_agg_by_conv and event_class_balance shapes. ---
    "event_value_sketch",
    "event_sketch_quantiles",
    "emb_ann_recall",
    "doc_fuzzy_contamination",
    "event_morton_layout",
    "incident_xml_pipeline",
    "doc_containment_pairs",
    "doc_pmi_collocations",
    "event_feature_correlations",
    "event_type_hour_mi",
    "doc_negative_pairs",
    "event_value_psi",
    "event_class_balance",
    "event_imputed_clipped",
    "event_feature_melt",
    "geo_route_lengths",
    # --- round-5 rotation rows retained ---
    "event_feature_vectors",
    "event_quantile_bins",
    "event_count_encoding",
    "doc_tfidf_vectors",
    "doc_token_chunks",
    "event_target_encode",
    "event_decayed_features",
    "event_hll_users",
    "event_pagerank",
    "doc_lm_surprisal",
    "geo_station_proximity",
    "event_rolling_quantiles",
    "doc_bpe_token_budget",
    "doc_incr_index_probe",
    "doc_length_outliers",
    "doc_prefix_editdist",
    # --- round-3/4 rows retained ---
    "emb_ivf_topk_oracle",
    "dim_pit_enrich",
    "dim_merge_upsert",
    "doc_ngram_jaccard",
    "emb_dup_components",
    # --- flagship + windowed features ---
    "flagship_features",
    "rich_features",
    "sessionize_parity",
    "session_aggregates",
    # --- as-of strategies (4 paths across 2 parity entries) ---
    "asof_parity",
    "asof_dim_parity",
    # --- dedup / ranking / schema / scalars ---
    "dedup_turns",
    "schema_enforce",
    "scalar_suite",
    # --- relational core ---
    "join_filters",
    "salted_agg_by_conv",
    # --- documents / embeddings ---
    "doc_minhash_lsh_pairs",
    "media_suite",
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The full un-merged catalog (pre-consolidation names + merged suites) —
    used by bench.py and scripts/check_oracles.py --all."""
    return {name: fn for name, (fn, _) in CATALOG.items()}


def all_oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in CATALOG.items() if sql is not None}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = all_queries()
    return {k: q[k] for k in DRIVER_QUERY_ORDER}


def oracle_sql() -> dict[str, str]:
    o = all_oracle_sql()
    return {k: o[k] for k in DRIVER_QUERY_ORDER if k in o}

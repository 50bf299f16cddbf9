"""Empty-input totality: every operator must return an EMPTY frame with its
normal schema (not raise, not yield phantom rows) when the corpus is empty —
the behavior an incremental pipeline hits on every quiet window."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.fixture()
def empty_emb(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>")


def test_text_dedup_family_on_empty(empty_docs):
    from ipl_dagster_pipeline_spark.operators.text_dedup import (
        exact_dedup,
        minhash_lsh_dedup,
        ngram_jaccard_pairs,
        winnow_fingerprints,
    )

    assert exact_dedup(empty_docs).count() == 0
    assert minhash_lsh_dedup(empty_docs).count() == 0
    pairs = ngram_jaccard_pairs(empty_docs)
    assert pairs.columns == ["doc_a", "doc_b", "jaccard"] and pairs.count() == 0
    assert winnow_fingerprints(empty_docs).count() == 0


def test_sampling_family_on_empty(empty_docs):
    from ipl_dagster_pipeline_spark.operators.sampling import (
        hash_split,
        mixture_epochs,
        sample_stratified,
        sample_weighted,
        shuffle_shards,
        token_budget_select,
    )

    assert hash_split(empty_docs, "doc_id").count() == 0
    assert sample_stratified(empty_docs, "lang", "doc_id", {"en": 0.5}).count() == 0
    assert sample_weighted(empty_docs, "doc_id", F.lit(0.5)).count() == 0
    assert mixture_epochs(empty_docs, "lang", "doc_id", {"en": 1.5}).count() == 0
    assert token_budget_select(
        empty_docs, "source", "doc_id", "n_chars", budgets={"a": 10}
    ).count() == 0
    assert shuffle_shards(empty_docs, "doc_id", 4).count() == 0


def test_prefix_sums_profiling_on_empty(empty_docs):
    from ipl_dagster_pipeline_spark.operators.packing import (
        pack_sequences,
        with_keyed_cumsum,
    )
    from ipl_dagster_pipeline_spark.operators.profiling import (
        group_histogram,
        group_quantiles,
        robust_outliers,
    )

    assert with_keyed_cumsum(empty_docs, [], ["doc_id"], "n_chars").count() == 0
    assert with_keyed_cumsum(empty_docs, ["source"], ["doc_id"], "n_chars").count() == 0
    assert pack_sequences(empty_docs.withColumnRenamed("n_chars", "n_tokens"), 512).count() == 0
    assert group_quantiles(empty_docs, ["source"], "n_chars", "doc_id").count() == 0
    assert group_histogram(empty_docs, ["source"], "n_chars", 100).count() == 0
    assert robust_outliers(empty_docs, ["source"], "n_chars", "doc_id").count() == 0


def test_similarity_graph_ranking_on_empty(spark, empty_docs, empty_emb):
    from ipl_dagster_pipeline_spark.operators.graph import connected_components
    from ipl_dagster_pipeline_spark.operators.ranking import bm25_scores
    from ipl_dagster_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk_pinned,
        near_dup_pairs_lsh,
    )

    assert cosine_topk_bruteforce(empty_emb, [0, 1]).count() == 0
    assert near_dup_pairs_lsh(empty_emb).count() == 0
    assert ivf_topk_pinned(empty_emb, [0, 1]).count() == 0
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0
    assert bm25_scores(empty_docs, ["table"]).count() == 0


def test_dimensions_cleaning_on_empty(spark, empty_docs):
    from ipl_dagster_pipeline_spark.operators.cleaning import contamination_flags
    from ipl_dagster_pipeline_spark.operators.dimensions import merge_upsert, scd2_history

    changes = spark.createDataFrame([], "k string, ts timestamp, eid int, attr string")
    h = scd2_history(changes, ["k"], "ts", ["attr"], tie_cols=["eid"])
    assert h.count() == 0
    assert set(h.columns) == {"k", "attr", "valid_from", "valid_to", "version"}
    t = spark.createDataFrame([(1, "a")], "k int, v string")
    u = spark.createDataFrame([], "k int, v string")
    # empty updates -> snapshot unchanged; empty target -> pure insert
    assert {r.k: r.v for r in merge_upsert(t, u, ["k"]).collect()} == {1: "a"}
    assert merge_upsert(u, t, ["k"]).count() == 1
    bench = spark.createDataFrame([(1, "contaminating text")], "doc_id long, text string")
    flags = contamination_flags(empty_docs, bench)
    assert flags.count() == 0


def test_round5_operators_on_empty(empty_docs, spark):
    from ipl_dagster_pipeline_spark.functions.geo import grid_radius_join
    from ipl_dagster_pipeline_spark.operators.lm import with_bigram_surprisal
    from ipl_dagster_pipeline_spark.operators.text_dedup import overlap_pairs
    from ipl_dagster_pipeline_spark.operators.tokenizer import with_bpe_token_counts

    out = with_bpe_token_counts(empty_docs)
    assert "n_bpe_tokens" in out.columns and out.count() == 0
    lm = with_bigram_surprisal(empty_docs)
    assert {"n_bigrams", "surprisal_mnats", "bits_per_bigram"} <= set(lm.columns)
    assert lm.count() == 0
    ct = overlap_pairs(empty_docs)
    assert ct.columns == ["doc_a", "doc_b", "n_inter", "n_a", "n_b", "overlap", "doc_small"]
    assert ct.count() == 0
    pts = spark.createDataFrame([], "p_id long, p_lon double, p_lat double")
    ctr = spark.createDataFrame([], "c_id long, c_lon double, c_lat double")
    gj = grid_radius_join(pts, ctr, 100.0, p_lon="p_lon", p_lat="p_lat", c_lon="c_lon", c_lat="c_lat")
    assert gj.count() == 0 and "dist_km" in gj.columns


def test_dedup_index_on_empty_batch(empty_docs, spark, tmp_path):
    """An empty arrival (quiet day) must commit cleanly and change nothing."""
    from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex

    idx = MinHashIndex(str(tmp_path / "idx"))
    docs = spark.createDataFrame(
        [(1, "the same text the same text"), (2, "the same text the same text")],
        "doc_id long, text string",
    )
    idx.add_batch(docs, batch_id="b1")
    n_pairs = idx.all_pairs(spark).count()
    out = idx.add_batch(empty_docs.select("doc_id", "text"), batch_id="empty")
    assert out.count() == 0
    assert idx.all_pairs(spark).count() == n_pairs

"""Flagship plans: simple vs fused-rich equivalence + physical-plan shape."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from conftest import shuffle_partitions

from ipl_dagster_pipeline_spark.plans.features import (
    build_rich_turn_features,
    build_turn_features,
)


def _node_counts(spark, df) -> dict[str, int]:
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    out: dict[str, int] = {}
    for line in plan.splitlines():
        m = re.match(r"^\s*\(\d+\)\s+(\w+)", line)
        if m:
            out[m.group(1)] = out.get(m.group(1), 0) + 1
    return out


def test_rich_build_matches_simple_on_shared_columns(spark, small_transcripts, small_tool_dim):
    shared = ["conv_id", "turn_idx", "session_id", "chars_sum_5", "tool_ffill",
              "chars_rsum_3600s", "prev_role_1", "ts_delta_s_1", "cost_weight"]
    a = build_turn_features(small_transcripts, small_tool_dim).select(shared)
    b = build_rich_turn_features(small_transcripts, small_tool_dim).select(shared)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_flagship_plan_shape(spark, small_transcripts, small_tool_dim, tmp_path):
    """Scale contract: over parquet sources (the production shape) the whole
    feature chain costs ONE fact-side exchange and ONE fact-side sort (plus
    the tiny dim-side pair). A regression here means a new window spec broke
    sort sharing — catch it in CI, not on a cluster."""
    tdir, ddir = str(tmp_path / "t"), str(tmp_path / "d")
    small_transcripts.write.parquet(tdir)
    small_tool_dim.write.parquet(ddir)
    t = spark.read.parquet(tdir)
    d = spark.read.parquet(ddir)
    for builder, max_windows in ((build_turn_features, 8), (build_rich_turn_features, 5)):
        counts = _node_counts(spark, builder(t, d))
        assert counts.get("Exchange", 0) <= 2, counts  # 1 dim + 1 fact
        assert counts.get("Sort", 0) <= 2, counts  # 1 dim + 1 fact
        assert counts.get("Window", 0) <= max_windows, counts


def test_rich_build_pit_safety(spark, small_transcripts, small_tool_dim):
    out = build_rich_turn_features(small_transcripts, small_tool_dim)
    leaks = out.filter(F.col("matched_effective_from") > F.col("ts")).count()
    assert leaks == 0


def test_lsh_paths_have_no_nested_loop_joins(spark):
    """Scale contract for the dedup/ANN scale paths: candidate generation must
    be EQUI joins (hash/sort-merge) — a CartesianProduct or
    BroadcastNestedLoopJoin in the plan means the theta-join regression came
    back.  (The brute-force oracle modes are exempt by design.)"""
    from ipl_dagster_pipeline_spark.operators.similarity import lsh_topk, near_dup_pairs_lsh
    from ipl_dagster_pipeline_spark.operators.text_dedup import minhash_lsh_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (
        near_dup_pairs_lsh(emb, threshold=0.4, n_planes=4, n_tables=2),
        lsh_topk(emb, query_ids=[0, 1], k=3, n_planes=4, n_tables=2),
        minhash_lsh_dedup(docs),
    ):
        counts = _node_counts(spark, df)
        assert counts.get("CartesianProduct", 0) == 0, counts
        assert counts.get("BroadcastNestedLoopJoin", 0) == 0, counts


def test_prefix_sum_plans_have_single_data_exchange(spark):
    """Scale contract: the two-phase prefix sums move the data exactly ONCE
    (the range exchange).  A Window.partitionBy(__pid) variant makes Catalyst
    add a second full-data hash exchange after the range partition — this
    test pins the Arrow-local-cumsum plan that avoids it.  The only hash
    exchanges allowed are broadcast-side/offset plumbing: zero on the final
    frame's data path."""
    from ipl_dagster_pipeline_spark.operators.packing import with_keyed_cumsum

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", i % 7) for i in range(100)], ["k", "g", "v"]
    )
    with shuffle_partitions(spark, 4):
        for out in (
            with_keyed_cumsum(df, [], ["k"], "v"),
            with_keyed_cumsum(df, ["g"], ["k"], "v"),
        ):
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange hashpartitioning") == 0, plan
            assert "BroadcastExchange" in plan  # offsets join stays broadcast
            assert "SinglePartition" not in plan


def test_grouped_maps_run_arrow_native(small_transcripts, small_tool_dim):
    """The grouped-map operators cross the Python boundary as Arrow tables:
    a fallback to a pandas grouped map would still give the same rows, so
    only the executed plan shows it."""
    from ipl_dagster_pipeline_spark.operators.asof import asof_join_cogrouped
    from ipl_dagster_pipeline_spark.operators.sessionize import sessionize_grouped

    for out, node in (
        (sessionize_grouped(small_transcripts), "FlatMapGroupsInArrow"),
        (asof_join_cogrouped(small_transcripts, small_tool_dim, key="tool"), "FlatMapCoGroupsInArrow"),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert node in plan, plan
        assert "InPandas" not in plan, plan


def test_sessionize_plans_one_lag(small_transcripts):
    """The window twin reads the gap once: one lag expression in its plan."""
    from ipl_dagster_pipeline_spark.operators.sessionize import sessionize

    plan = sessionize(small_transcripts)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("lag(") == 1, plan


def test_scd2_history_single_exchange_single_sort(spark):
    """Dimension-history contract: the change-collapse window and the
    interval/lead window must SHARE one key exchange and one sort — a second
    sort or exchange means the two window specs diverged."""
    from ipl_dagster_pipeline_spark.operators.dimensions import scd2_history

    df = spark.createDataFrame(
        [(f"k{i % 5}", i, i, f"v{i % 3}") for i in range(100)],
        ["k", "ts", "eid", "attr"],
    )
    out = scd2_history(df, ["k"], "ts", ["attr"], tie_cols=["eid"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan
    assert "SinglePartition" not in plan


def test_geo_radius_join_plan_is_equi_broadcast(spark):
    """Scale contract for the geo radius join: candidate generation is an
    EQUI join on the grid cell (broadcast when centers are small) — never a
    CartesianProduct/BroadcastNestedLoopJoin theta join on the distance
    predicate — and the haversine refine runs inside codegen, not Python."""
    from ipl_dagster_pipeline_spark.functions.geo import grid_radius_join

    pts = spark.range(1000).select(
        F.col("id").alias("p_id"),
        (((F.col("id") * 31) % 7200) / 20.0 - 180.0).alias("p_lon"),
        (((F.col("id") * 17) % 2600) / 20.0 - 65.0).alias("p_lat"),
    )
    ctrs = spark.range(50).select(
        F.col("id").alias("c_id"),
        (((F.col("id") * 97) % 7200) / 20.0 - 180.0).alias("c_lon"),
        (((F.col("id") * 53) % 2600) / 20.0 - 65.0).alias("c_lat"),
    )
    out = grid_radius_join(pts, ctrs, 200.0, p_lon="p_lon", p_lat="p_lat",
                           c_lon="c_lon", c_lat="c_lat")
    counts = _node_counts(spark, out)
    assert counts.get("CartesianProduct", 0) == 0, counts
    assert counts.get("BroadcastNestedLoopJoin", 0) == 0, counts
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan


def test_lm_and_containment_plans_stay_jvm_side(spark):
    """The bigram-LM scorer and containment pairs are pure DataFrame plans:
    equi joins only, zero Python eval nodes, and the count aggregations are
    map-side combined (partial_count present)."""
    from ipl_dagster_pipeline_spark.operators.lm import with_bigram_surprisal
    from ipl_dagster_pipeline_spark.operators.text_dedup import overlap_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for out in (with_bigram_surprisal(docs), overlap_pairs(docs, max_df=50)):
        counts = _node_counts(spark, out)
        assert counts.get("CartesianProduct", 0) == 0, counts
        assert counts.get("BroadcastNestedLoopJoin", 0) == 0, counts
        plan = out._jdf.queryExecution().executedPlan().toString()
        for bad in ("ArrowEvalPython", "BatchEvalPython"):
            assert bad not in plan
        assert "partial_count" in plan or "partial count" in plan.lower()


def test_fit_transform_family_plan_shapes(spark, tmp_path):
    """Scale contracts for the round-5 fit/transform family over parquet
    sources (the production shape):

    * chunking and hashed crosses are PURE projections — zero exchanges;
    * the standardize/one-hot/hashing feature assembly costs exactly the
      fit's one global aggregation (broadcast back as a 1-row frame) —
      no key shuffle anywhere;
    * TF-IDF transform joins the frozen vocabulary by BROADCAST, never a
      shuffled join on the term key.
    """
    from ipl_dagster_pipeline_spark.operators.chunking import chunk_token_windows
    from ipl_dagster_pipeline_spark.operators.featurize import (
        hash_bucket_onehot,
        hash_cross,
        one_hot,
        standardize_fit,
        standardize_transform,
    )
    from ipl_dagster_pipeline_spark.operators.vectorize import tfidf_transform, vocab_fit

    ddir = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta", float(i), "a" if i % 2 else "b")
         for i in range(50)],
        "doc_id long, text string, x double, cat string",
    ).write.parquet(ddir)
    docs = spark.read.parquet(ddir)

    # pure projections: no exchange at all
    for df in (
        chunk_token_windows(docs, chunk_size=3, overlap=1),
        hash_cross(docs, ["cat", "doc_id"], 16),
    ):
        counts = _node_counts(spark, df)
        assert counts.get("Exchange", 0) == 0, counts

    # feature assembly: the only exchange is the fit's global agg
    stats = standardize_fit(docs, ["x"])
    out = standardize_transform(docs, stats, ["x"])
    out = one_hot(out, "cat", ["a", "b"])
    out = hash_bucket_onehot(out, "doc_id", 4)
    counts = _node_counts(spark, out)
    assert counts.get("Exchange", 0) <= 1, counts
    assert counts.get("BroadcastExchange", 0) >= 1, counts
    assert "SortMergeJoin" not in counts and "CartesianProduct" not in counts, counts

    # TF-IDF: frozen vocab joins by broadcast, not a term-key shuffle join
    vec = tfidf_transform(docs, vocab_fit(docs, 4))
    counts = _node_counts(spark, vec)
    assert counts.get("BroadcastHashJoin", 0) >= 1, counts
    assert "SortMergeJoin" not in counts, counts


def test_feature_stats_and_negatives_plan_shapes(spark, tmp_path):
    """Scale contracts for the round-5 statistics/sampling ops over parquet:

    * pairwise_correlations is ONE global aggregation — no join of any
      kind, no per-key exchange;
    * sample_negatives joins candidates to positions with an EQUI join —
      never a CartesianProduct / BroadcastNestedLoopJoin.
    """
    from ipl_dagster_pipeline_spark.operators.sampling import sample_negatives
    from ipl_dagster_pipeline_spark.operators.stats import pairwise_correlations

    ddir = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, float(i), float(i * 2), float(i % 7)) for i in range(64)],
        "id long, a double, b double, c double",
    ).write.parquet(ddir)
    ev = spark.read.parquet(ddir)

    counts = _node_counts(spark, pairwise_correlations(ev, ["a", "b", "c"]))
    assert not any("Join" in k for k in counts), counts
    assert counts.get("HashAggregate", 0) >= 1, counts

    counts = _node_counts(spark, sample_negatives(ev, "id", 3))
    assert "CartesianProduct" not in counts, counts
    assert "BroadcastNestedLoopJoin" not in counts, counts
    assert any(k.endswith("HashJoin") or k == "SortMergeJoin" for k in counts), counts


def test_round6_plan_shapes(spark, tmp_path):
    """Round-6 operators keep their scale contracts: the log-histogram
    sketch is one partial-aggregated exchange with no window over the data;
    fuzzy decontamination broadcasts the benchmark band table (never a
    shuffled corpus×bench join, never a nested loop); the XML incident
    pipeline stays JVM-side (no Python eval nodes)."""
    from ipl_dagster_pipeline_spark.operators.cleaning import fuzzy_contamination_pairs
    from ipl_dagster_pipeline_spark.operators.sketches import (
        loghist_quantiles,
        loghist_sketch,
    )

    ev = spark.range(0, 500).select(
        (F.col("id") % 5).cast("string").alias("g"), (F.col("id") / 7.0).alias("v")
    )
    evp = str(tmp_path / "ev")
    ev.write.parquet(evp)
    ev = spark.read.parquet(evp)

    sk = loghist_sketch(ev, "v", ["g"])
    counts = _node_counts(spark, sk)
    assert counts.get("Window", 0) == 0, counts          # never a window over the data
    assert counts.get("Exchange", 0) <= 1, counts        # one partial-agg shuffle
    assert "HashAggregate" in counts, counts             # map-side combine present

    q = loghist_quantiles(sk, {"p50": 50}, ["g"])
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" in plan  # the window runs — over the tiny sketch frame

    docs = spark.createDataFrame(
        [(i, f"document body number {i} with some shared words") for i in range(20)],
        "doc_id long, text string",
    )
    dp = str(tmp_path / "docs")
    docs.write.parquet(dp)
    docs = spark.read.parquet(dp)
    pairs = fuzzy_contamination_pairs(
        docs.filter("doc_id % 5 != 0"), docs.filter("doc_id % 5 = 0")
    )
    plan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    import __spark_entry__ as em

    xml = em.all_queries()["incident_xml_pipeline"](spark, "/root/testdata/sf0.001")
    plan = xml._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_fan_out_scan_adaptive(spark, tmp_path):
    """fan_out_scan spreads a narrow under-split scan to the session's
    parallelism, and refuses to touch wide plans (probing one under AQE
    would execute its stages)."""
    from ipl_dagster_pipeline_spark.partitioning import fan_out_scan

    p = str(tmp_path / "one")
    spark.range(0, 100).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() == 1
    wide_target = spark.sparkContext.defaultParallelism
    out = fan_out_scan(df)
    assert out.rdd.getNumPartitions() == wide_target
    # wide plan (aggregate) returned untouched — same object, no added shuffle
    agg = df.groupBy((F.col("id") % 3).alias("g")).count()
    assert fan_out_scan(agg) is agg


def test_incremental_update_counts_rows_on_its_write(spark, tmp_path, monkeypatch):
    """One incremental update runs the touched-bucket collect and the
    publishing write, nothing more: ``rebuilt_rows`` is observed by the
    write itself, not by a cache plus a count pass over the rebuilt
    features, and the collected bucket ids both count the touched buckets
    and prune full history, so no second scan of the new rows feeds a
    broadcast join."""
    import uuid

    from ipl_dagster_pipeline_spark.io import SnapshotTable
    from ipl_dagster_pipeline_spark.plans import incremental
    from ipl_dagster_pipeline_spark.plans.incremental import (
        incremental_update,
        write_feature_buckets,
    )

    monkeypatch.setattr(incremental, "N_BUCKETS", 8)
    from ipl_dagster_pipeline_spark.sources.transcripts import (
        synthesize_tool_dim,
        synthesize_transcripts,
    )

    dim = synthesize_tool_dim(spark, seed=8, n_days=40)
    base = synthesize_transcripts(spark, n_convs=12, turns_per_conv=10, seed=8)
    late = synthesize_transcripts(spark, n_convs=2, turns_per_conv=4, seed=9).withColumn(
        "turn_idx", F.col("turn_idx") + 10
    )
    tbl = SnapshotTable(str(tmp_path / "transcripts"))
    s1 = tbl.commit(base)
    feats_path = str(tmp_path / "features")
    write_feature_buckets(build_turn_features(tbl.read(spark), dim), feats_path)
    tbl.commit(late, mode="append")

    sc = spark.sparkContext
    group = f"incremental-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        stats = incremental_update(spark, tbl, dim, feats_path, since_snapshot_id=s1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    written = spark.read.parquet(feats_path)
    touched = [r.conv_bucket for r in late.select("conv_id").distinct().join(
        written.select("conv_id", "conv_bucket").distinct(), "conv_id").collect()]
    assert stats["touched_buckets"] == len(set(touched))
    assert stats["rebuilt_rows"] == written.where(F.col("conv_bucket").isin(touched)).count()
    # the touched-bucket collect and the write (its AQE stages); a count
    # pass over the rebuilt features would add its own jobs
    assert n_jobs == 7, n_jobs

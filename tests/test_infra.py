"""Partitioning/salting, lineage metrics, checkpoint resume, snapshot IO."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
from ipl_dagster_pipeline_spark.io import SnapshotTable, write_day_partitioned
from ipl_dagster_pipeline_spark.metrics import (
    append_lineage,
    observe_stage,
    stage_totals,
    total_from_lineage,
)
from ipl_dagster_pipeline_spark.partitioning import (
    detect_hot_keys,
    salted_agg,
    with_salt,
)


def test_detect_hot_keys_finds_planted_skew(spark):
    from ipl_dagster_pipeline_spark.sources.transcripts import synthesize_transcripts

    df = synthesize_transcripts(spark, n_convs=50, turns_per_conv=10, seed=3, hot_conv_fraction=0.02, hot_multiplier=100)
    hot = detect_hot_keys(df, sample_fraction=1.0, hot_multiplier=5.0)
    assert "c0" in hot


def test_salted_agg_matches_plain_agg(small_transcripts):
    hot = ["c0", "c1"]
    got = (
        salted_agg(
            small_transcripts,
            key="conv_id",
            aggs={"cnt": F.count("*"), "chars": F.sum(F.length("text"))},
            merges={"cnt": F.sum("cnt"), "chars": F.sum("chars")},
            n_salts=8,
            hot_keys=hot,
        )
        .orderBy("conv_id")
        .toPandas()
    )
    exp = (
        small_transcripts.groupBy("conv_id")
        .agg(F.count("*").alias("cnt"), F.sum(F.length("text")).alias("chars"))
        .orderBy("conv_id")
        .toPandas()
    )
    assert got["cnt"].tolist() == exp["cnt"].tolist()
    assert got["chars"].tolist() == exp["chars"].tolist()


def test_salt_spreads_hot_key(small_transcripts):
    salted = with_salt(small_transcripts, hot_keys=["c0"], n_salts=8)
    n_salts_hot = salted.filter("conv_id = 'c0'").select("salt").distinct().count()
    n_salts_cold = salted.filter("conv_id = 'c5'").select("salt").distinct().count()
    assert n_salts_hot > 1 and n_salts_cold == 1


def test_lineage_reconciles_total(spark, small_transcripts, tmp_path):
    """The same frame committed at 1 and at 7 partitions through
    CheckpointedPipeline.stage: identical lineage totals (the checksum is
    order- and partitioning-insensitive), one lineage row per commit, and
    the manifest's per-file footer rows sum to the same count."""
    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    pipe.stage("one", lambda: small_transcripts.coalesce(1))
    pipe.stage("seven", lambda: small_transcripts.repartition(7))
    totals = stage_totals(spark, pipe.lineage_path)
    n = small_transcripts.count()
    assert totals["one"] == totals["seven"] and totals["one"][0] == n
    assert total_from_lineage(spark, pipe.lineage_path, "seven") == totals["seven"]
    lin = spark.read.parquet(pipe.lineage_path).collect()
    assert sorted(r.stage for r in lin) == ["one", "seven"]
    assert {r.partition_id for r in lin} == {-1}
    for stage, n_files in (("one", 1), ("seven", 7)):
        files = pipe.table(stage).snapshots()[-1]["files"]
        assert len(files) == n_files and sum(f["rows"] for f in files) == n


def test_append_lineage_enforces_schema(spark, tmp_path):
    """A drifted lineage producer fails at the write boundary."""
    import pytest

    path = str(tmp_path / "lineage")
    with pytest.raises(ValueError, match="snapshot_id"):
        append_lineage([{"stage": "s", "partition_id": -1, "row_count": 1, "checksum": 0}], path)
    append_lineage(
        [{"stage": "s", "snapshot_id": 3, "partition_id": -1, "row_count": 2, "checksum": 5, "x": 1}],
        path,
    )
    assert total_from_lineage(spark, path, "s") == (2, 5)


def test_observe_stage_counts(small_transcripts):
    df, obs = observe_stage(small_transcripts, "obs_test")
    df.write.mode("overwrite").format("noop").save()
    assert obs.get["rows"] == small_transcripts.count()


def test_snapshot_table_atomic_commit_and_incremental(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    s1 = tbl.commit(spark.range(10).toDF("id"))
    s2 = tbl.commit(spark.range(10, 15).toDF("id"))
    assert tbl.current_snapshot_id() == s2 == s1 + 1
    assert tbl.read(spark).count() == 5
    assert tbl.read(spark, snapshot_id=s1).count() == 10
    assert tbl.read_incremental(spark, start_snapshot_id=s1).count() == 5


def test_snapshot_expiration_keeps_reachable_chain(spark, tmp_path):
    """expire_snapshots keeps every ancestor a kept append chain walks
    through — reads of kept snapshots are identical before/after — and
    deletes unreferenced manifests AND data dirs."""
    import os

    import pytest

    tbl = SnapshotTable(str(tmp_path / "t"))
    s1 = tbl.commit(spark.range(5).toDF("id"))                      # overwrite (dead base)
    s2 = tbl.commit(spark.range(10).toDF("id"))                     # overwrite (live base)
    s3 = tbl.commit(spark.range(10, 12).toDF("id"), mode="append")  # append on s2
    before = sorted(r.id for r in tbl.read(spark).collect())
    stats = tbl.expire_snapshots(keep_last=1)  # keep s3 → s2 retained via chain
    assert stats["expired_manifests"] == 1 and stats["deleted_dirs"] == 1
    assert sorted(r.id for r in tbl.read(spark).collect()) == before
    assert sorted(r.id for r in tbl.read(spark, snapshot_id=s3).collect()) == before
    with pytest.raises(FileNotFoundError):
        tbl._manifest(s1)
    # only the two referenced data dirs remain on disk
    dirs = [d for d in os.listdir(tbl.root) if d.startswith("snap-")]
    assert len(dirs) == 2
    # the expired base cannot resurrect: next commit gets a fresh id
    s4 = tbl.commit(spark.range(3).toDF("id"), mode="append")
    assert s4 == s3 + 1


def test_snapshot_compaction_preserves_contents_and_chains(spark, tmp_path):
    """compact() rewrites an append chain into one balanced overwrite
    snapshot: identical contents, fewer files, and post-compaction appends +
    incremental reads chain off it normally."""
    import glob

    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(spark.range(0, 20).repartition(6).toDF("id"))
    for lo in (20, 30, 40):
        tbl.commit(spark.range(lo, lo + 10).repartition(4).toDF("id"), mode="append")
    before = sorted(r.id for r in tbl.read(spark).collect())
    files_before = len(glob.glob(str(tmp_path / "t" / "snap-*" / "*.parquet")))
    sc = tbl.compact(spark, target_files=2)
    assert sorted(r.id for r in tbl.read(spark).collect()) == before
    files_now = len(glob.glob(tbl._manifest(sc)["data_dir"] + "/*.parquet"))
    assert files_now == 2 < files_before
    # incremental crossing the compaction → conservative full state
    assert tbl.read_incremental(spark, start_snapshot_id=sc - 1).count() == len(before)
    # appends after compaction chain off it; incremental from the compaction
    # snapshot returns exactly the new rows
    tbl.commit(spark.range(50, 55).toDF("id"), mode="append")
    assert sorted(
        r.id for r in tbl.read_incremental(spark, start_snapshot_id=sc).collect()
    ) == list(range(50, 55))
    assert tbl.read(spark).count() == len(before) + 5
    # expiration after compaction drops the whole pre-compaction chain
    stats = tbl.expire_snapshots(keep_last=2)
    assert stats["expired_manifests"] == 4
    assert tbl.read(spark).count() == len(before) + 5


def test_snapshot_tags_survive_expiry(spark, tmp_path):
    """Scalar- and list-valued meta tags are answered from the live
    manifests (value -> snapshot id) and, once expired, from _tags.json
    (value -> None)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    s1 = tbl.commit(spark.range(3).toDF("id"), meta={"batch_id": "b1", "files": ["f1", "f2"]})
    s2 = tbl.commit(spark.range(3).toDF("id"), mode="append", meta={"batch_id": "b2"})
    s3 = tbl.commit(spark.range(3).toDF("id"), meta={"batch_id": "b3", "files": ["f3"]})
    assert tbl.tags("batch_id") == {"b1": s1, "b2": s2, "b3": s3}
    assert tbl.tags("files") == {"f1": s1, "f2": s1, "f3": s3}
    assert tbl.tags("absent") == {}
    assert tbl.expire_snapshots(keep_last=1)["expired_manifests"] == 2
    assert tbl.tags("batch_id") == {"b1": None, "b2": None, "b3": s3}
    assert tbl.tags("files") == {"f1": None, "f2": None, "f3": s3}
    # a second expiry folds into, never over, the earlier record
    s4 = tbl.commit(spark.range(3).toDF("id"), meta={"batch_id": "b4"})
    tbl.expire_snapshots(keep_last=1)
    assert tbl.tags("batch_id") == {"b1": None, "b2": None, "b3": None, "b4": s4}


@pytest.mark.parametrize("failing_delete", [0, 1])
def test_snapshot_tags_complete_when_expiry_stops_part_way(
    spark, tmp_path, monkeypatch, failing_delete
):
    """Expiry folds the tags before it deletes any manifest: a delete that
    fails part way (at the first or the second expired manifest) loses no
    tag, and a second expiry finishes the job."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    for i in range(3):
        tbl.commit(spark.range(3).toDF("id"), meta={"batch_id": f"b{i}"})
    real_remove = os.remove
    deletes = []

    def fail_one_manifest(path):
        if os.path.dirname(path) == tbl.manifest_dir:
            deletes.append(path)
            if len(deletes) == failing_delete + 1:
                raise OSError("interrupted")
        real_remove(path)

    monkeypatch.setattr(os, "remove", fail_one_manifest)
    with pytest.raises(OSError, match="interrupted"):
        tbl.expire_snapshots(keep_last=1)
    monkeypatch.setattr(os, "remove", real_remove)
    assert set(tbl.tags("batch_id")) == {"b0", "b1", "b2"}
    assert tbl.expire_snapshots(keep_last=1)["expired_manifests"] == 2 - failing_delete
    assert [m["meta"]["batch_id"] for m in tbl.snapshots()] == ["b2"]
    assert tbl.tags("batch_id") == {"b0": None, "b1": None, "b2": tbl.current_snapshot_id()}


def test_index_add_batch_reads_each_tables_tags_once(spark, tmp_path, monkeypatch):
    """One add_batch lists each index table's manifests for tags at most
    once — on a first batch, on a probing batch and on a replay."""
    from collections import Counter

    from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex

    calls: Counter = Counter()
    for method in ("snapshots", "tags"):
        real = getattr(SnapshotTable, method)

        def counted(self, *a, _real=real, **kw):
            calls[os.path.basename(self.root)] += 1
            return _real(self, *a, **kw)

        monkeypatch.setattr(SnapshotTable, method, counted)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 3} eta theta") for i in range(12)],
        "doc_id long, text string",
    )
    idx = MinHashIndex(str(tmp_path / "idx"))
    for lo, batch_id in ((0, "b1"), (6, "b2"), (6, "b2")):
        calls.clear()
        idx.add_batch(docs.filter(F.col("doc_id").between(lo, lo + 5)), batch_id).count()
        assert calls and max(calls.values()) == 1, (batch_id, calls)


def test_checkpoint_resume_skips_committed(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "ckpt")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return small_transcripts

    pipe = CheckpointedPipeline(spark, root)
    a = pipe.stage("convert", compute)
    assert calls["n"] == 1 and a.count() == small_transcripts.count()

    # simulate restart: new pipeline object, same root → stage not recomputed
    pipe2 = CheckpointedPipeline(spark, root)
    b = pipe2.stage("convert", compute)
    assert calls["n"] == 1 and b.count() == small_transcripts.count()
    assert pipe2.completed_stages() == ["convert"]
    # lineage was appended exactly once
    rows, _ = total_from_lineage(spark, pipe2.lineage_path, "convert")
    assert rows == small_transcripts.count()


def test_dynamic_partition_overwrite_is_idempotent(spark, small_transcripts, tmp_path):
    path = str(tmp_path / "days")
    write_day_partitioned(small_transcripts, path)
    before = spark.read.parquet(path).count()
    # rewrite only one day — other days must survive (dynamic overwrite)
    one_day = small_transcripts.filter(F.to_date("ts") == F.lit("2024-01-01"))
    assert one_day.count() > 0
    write_day_partitioned(one_day, path)
    after = spark.read.parquet(path).count()
    assert after == before
    assert len([d for d in os.listdir(path) if d.startswith("day=")]) > 1


def test_identifier_safety_guard():
    """K5: unsafe identifiers must be rejected before any DDL-ish use
    (reference _assert_sql_safety, postgis_geopandas_io_manager.py:62-69)."""
    import pytest

    from ipl_dagster_pipeline_spark.schema import assert_identifier_safety

    assert_identifier_safety("features", "conv_id", "_private")  # all fine
    assert_identifier_safety("A1", "__dunder", "x")  # boundary accepts
    for bad in (
        "drop table", "a-b", "1abc", "x;--", "", "täble",
        'a"b',            # double-quote smuggling
        "`tick`",         # backtick quoting
        "'; DROP TABLE t; --",  # classic injection
        "a.b",            # qualified names must be validated per part
        "a\nb", " a", "a ",      # whitespace edges
    ):
        with pytest.raises(ValueError, match="unsafe identifier"):
            assert_identifier_safety(bad)
    with pytest.raises(ValueError, match="unsafe identifier"):
        assert_identifier_safety("ok", "bad;")  # any member failing → raise


def test_driver_contract_consistency():
    """The exported gate is EXACTLY 50 entries (the driver checks the first
    50 in insertion order), previously-unchecked capability classes first.
    Round 4: every gate entry has a value-hash oracle — zero rows-only rows
    (the learned-k-means ANN parity union stays catalog-only; the pinned
    deterministic IVF quantizer took its gate slot).  The un-merged catalog
    stays a superset for bench/debugging."""
    import __spark_entry__ as em

    qs, oracles = em.queries(), em.oracle_sql()
    assert set(oracles) <= set(qs), set(oracles) - set(qs)
    assert set(qs) - set(oracles) == set()  # 50/50 fully value-hashed
    assert len(qs) == 50 and len(oracles) == 50
    assert list(qs) == em.DRIVER_QUERY_ORDER
    # round-6 rotations #3+#4: the round-5 catalog-only classes AND every
    # operator born this round lead the gate — no capability class has ever
    # shipped ungated
    assert list(qs)[:16] == [
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
    ]
    # every demotion (rounds 4+5, both round-5 rotations) stays
    # catalog-checked (--all), and its capability remains transitively
    # inside gated queries (see the DRIVER_QUERY_ORDER comment for the
    # per-entry mapping)
    for demoted in (
        "scalar_functions", "json_extract_props", "emb_cosine_topk", "emb_near_dup_pairs",
        "doc_token_budget", "doc_length_quantiles", "doc_stratified_sample", "doc_hash_split",
        "doc_quality_gate", "doc_top_terms", "q1_pricing_summary", "pivot_order_status",
        "temporal_filter", "media_resize_images",
        "doc_mixture_epochs", "doc_shuffle_shards", "emb_lsh_topk_oracle",
        "doc_winnow_fingerprints", "doc_collapse_repeats", "explode_default_record",
        "union_entities", "q5_revenue_enriched", "doc_exact_dedup", "doc_simhash",
        "lag_lead_features", "rolling_features",
        # rotation #3 demotions (round 6)
        "incident_pipeline", "doc_bm25", "doc_length_histogram",
        "doc_weighted_sample", "turn_context_windows", "dim_scd2_history",
        "events_rollup_daily", "doc_pii_redact", "media_sample_frames",
        "doc_contamination", "doc_pack_sequences", "user_event_stats",
        "prefer_first_lang", "doc_textstats", "emb_near_dup_lsh", "event_funnel",
        # rotation #4 demotions (round 6): held a gate row during this round
        "event_cms_user_counts", "event_hash_cross", "source_unigram_kl",
        "doc_temperature_sample", "event_skew_profile",
    ):
        assert demoted not in qs and demoted in em.all_queries() and demoted in em.all_oracle_sql()
    # every merged-away original is still runnable via the full catalog
    all_qs, all_oracles = em.all_queries(), em.all_oracle_sql()
    assert set(qs) <= set(all_qs) and set(oracles) <= set(all_oracles)
    # rows-only catalog entries: exactly the approximate/learned ANN family
    assert set(all_qs) - set(all_oracles) == {
        "emb_lsh_topk", "emb_ivf_topk", "emb_ann_parity"
    }
    assert len(all_qs) == 133 and len(all_oracles) == 130


def test_no_per_row_python_udfs():
    """North rule: vectorized pandas/Arrow UDFs only — no row-at-a-time
    Python UDFs anywhere in the engine or the driver contract."""
    import pathlib

    roots = [pathlib.Path("ipl_dagster_pipeline_spark"), pathlib.Path("__spark_entry__.py")]
    files = [p for r in roots for p in ([r] if r.is_file() else r.rglob("*.py"))]
    assert files
    for f in files:
        t = f.read_text()
        assert "F.udf(" not in t and "@F.udf" not in t and "udf.register" not in t, f


def test_snapshot_diff_cdc(spark, tmp_path):
    """Content CDC between snapshots: added/removed/changed by key, exact
    across overwrites (where read_incremental degrades to full state), and
    loud on duplicate keys."""
    import pytest

    from ipl_dagster_pipeline_spark.io import snapshot_diff

    tbl = SnapshotTable(str(tmp_path / "dim"))
    s1 = tbl.commit(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, name string, v long"))
    s2 = tbl.commit(spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)], "k long, name string, v long"))
    got = {(r.k, r.change) for r in snapshot_diff(spark, tbl, s1, s2, ["k"]).collect()}
    assert got == {(2, "changed"), (3, "removed"), (4, "added")}
    # identical snapshots → empty diff
    assert snapshot_diff(spark, tbl, s2, s2, ["k"]).count() == 0
    # duplicate keys violate the K3 contract → loud
    tbl.commit(spark.createDataFrame([(1, "x", 1), (1, "y", 2)], "k long, name string, v long"))
    with pytest.raises(ValueError, match="duplicate keys"):
        snapshot_diff(spark, tbl, s2, tbl.current_snapshot_id(), ["k"]).collect()


def test_skew_profile_exact_numbers(spark):
    from ipl_dagster_pipeline_spark.partitioning import skew_profile

    df = spark.createDataFrame([("a",)] * 6 + [("b",)] * 3 + [(None,)], "k string")
    rows = skew_profile(df, "k", top_n=2).collect()
    assert [(r["k"], r["cnt"], r["share_ppm"], r["rnk"], r["cum_ppm"]) for r in rows] == [
        ("a", 6, 600000, 1, 600000),
        ("b", 3, 300000, 2, 900000),
    ]
    assert rows[0]["hot_ratio"] == 1.8  # 6 / (10/3 keys)
    # top_n cuts AFTER ranking; null key profiles as a real key when included
    all_rows = skew_profile(df, "k", top_n=10).collect()
    assert all_rows[-1]["k"] is None and all_rows[-1]["cum_ppm"] == 1000000
    import pytest

    with pytest.raises(ValueError):
        skew_profile(df, "k", top_n=0)


def test_publish_web_asset_gz_sibling(tmp_path):
    """K4 web-asset publish (reference urllib.py:90-113,
    webasset_io_manager.py:45-54): atomic tmp→rename, precompressed .gz
    sibling with the SAME mtime as the source, deterministic gz bytes, no
    partial files on writer failure."""
    import gzip
    import json
    import os

    from ipl_dagster_pipeline_spark.io import publish_web_asset

    target = str(tmp_path / "assets" / "summary.json")
    payload = {"stations": 3, "updated": "2026-08-18"}
    m = publish_web_asset(target, content=payload)
    assert m["path"] == target and m["gz_path"] == target + ".gz"
    with open(target) as fh:
        assert json.load(fh) == payload
    with gzip.open(target + ".gz") as fh:
        assert json.load(fh) == payload
    st, st_gz = os.stat(target), os.stat(target + ".gz")
    assert st.st_mtime == st_gz.st_mtime  # one Last-Modified for both encodings
    assert not [f for f in os.listdir(tmp_path / "assets") if f.endswith(".tmp")]

    # republish with a pinned source_mtime → byte-identical gz AND file
    publish_web_asset(target, content=payload, source_mtime=1700000000.0)
    gz1 = open(target + ".gz", "rb").read()
    publish_web_asset(target, content=payload, source_mtime=1700000000.0)
    assert open(target + ".gz", "rb").read() == gz1
    assert os.stat(target).st_mtime == os.stat(target + ".gz").st_mtime == 1700000000.0

    # writer failure leaves no partial files and keeps the old asset
    def bad_writer(tmp):
        with open(tmp, "w") as fh:
            fh.write("partial")
        raise OSError("disk full")

    import pytest

    with pytest.raises(OSError, match="disk full"):
        publish_web_asset(target, write_fn=bad_writer)
    with open(target) as fh:
        assert json.load(fh) == payload  # old asset intact
    assert not [f for f in os.listdir(tmp_path / "assets") if ".tmp" in f]

    # misuse is loud; the committed pair survives everything above unchanged
    with pytest.raises(ValueError, match="exactly one"):
        publish_web_asset(target)
    assert open(target + ".gz", "rb").read() == gz1


def test_publish_web_asset_concurrent_publishers(tmp_path):
    """Two publishers of one artifact: A's writer pauses after writing its
    tmp while B publishes.  Each call has its own tmp, so both return, the
    last rename wins and no tmp file is left behind."""
    import gzip
    import json
    import os
    import threading

    from ipl_dagster_pipeline_spark.io import publish_web_asset

    target = str(tmp_path / "assets" / "summary.json")
    a_wrote, b_done = threading.Event(), threading.Event()
    result: dict = {}

    def slow_writer(tmp):
        with open(tmp, "w") as fh:
            json.dump({"by": "a"}, fh)
        a_wrote.set()
        assert b_done.wait(30)

    def publish_a():
        try:
            result["a"] = publish_web_asset(target, write_fn=slow_writer)
        except Exception as err:  # noqa: BLE001 — asserted below
            result["a"] = err

    t = threading.Thread(target=publish_a)
    t.start()
    assert a_wrote.wait(30)
    result["b"] = publish_web_asset(target, content={"by": "b"})
    b_done.set()
    t.join(30)
    assert not t.is_alive()
    assert not isinstance(result["a"], Exception), result["a"]
    assert result["a"]["path"] == result["b"]["path"] == target
    with open(target) as fh:
        assert json.load(fh) == {"by": "a"}  # A renamed last
    with gzip.open(target + ".gz") as fh:
        assert json.load(fh) == {"by": "a"}
    assert sorted(os.listdir(tmp_path / "assets")) == ["summary.json", "summary.json.gz"]


def test_morton_zorder_layout(spark, tmp_path):
    """Z-order clustering: the Morton code round-trips (de-interleaving
    recovers the clamped inputs), NULL dims yield NULL codes, and the
    clustered layout gives EVERY interleaved column narrow per-file min/max
    ranges (the footer statistics data skipping reads) — range-partitioning
    on one column cannot."""
    import pyarrow.parquet as pq

    from ipl_dagster_pipeline_spark.partitioning import cluster_by_morton, morton_code

    df = spark.range(0, 4096).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") / 64).cast("long") % 64).alias("y"),  # independent 64×64 grid
    )
    coded = df.select("x", "y", morton_code([F.col("x"), F.col("y")], bits=6).alias("z")).collect()
    for r in coded:
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(6))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(6))
        assert (x, y) == (r.x, r.y)

    [nz] = (
        spark.createDataFrame([(None, 3)], "a int, b int")
        .select(morton_code([F.col("a"), F.col("b")], bits=6).alias("z"))
        .collect()
    )
    assert nz.z is None

    def per_file_range_sum(path: str, col: str) -> int:
        total = 0
        import glob

        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            ci = [md.row_group(0).column(i).path_in_schema for i in range(md.num_columns)].index(col)
            lo = min(md.row_group(i).column(ci).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(ci).statistics.max for i in range(md.num_row_groups))
            total += hi - lo
        return total

    zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
    cluster_by_morton(df, [F.col("x"), F.col("y")], n_partitions=16, bits=6).write.parquet(zdir)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(rdir)

    # single-column layout: x prunes perfectly but y is ~full-range per file;
    # Z-order: BOTH columns' summed per-file ranges are far below full-range
    full = 63 * 16
    assert per_file_range_sum(rdir, "y") > 0.8 * full
    assert per_file_range_sum(zdir, "x") < 0.5 * full
    assert per_file_range_sum(zdir, "y") < 0.5 * full

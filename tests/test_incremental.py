"""Incremental feature maintenance: late data, idempotence, equivalence."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ipl_dagster_pipeline_spark.io import SnapshotTable
from ipl_dagster_pipeline_spark.plans import incremental
from ipl_dagster_pipeline_spark.plans.features import build_turn_features
from ipl_dagster_pipeline_spark.plans.incremental import (
    incremental_update,
    write_feature_buckets,
)
from ipl_dagster_pipeline_spark.sources.transcripts import (
    synthesize_tool_dim,
    synthesize_transcripts,
)

N_BUCKETS = 8


@pytest.fixture(autouse=True)
def _few_buckets(monkeypatch):
    monkeypatch.setattr(incremental, "N_BUCKETS", N_BUCKETS)


def _key(pdf):
    cols = ["conv_id", "turn_idx"]
    return pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)


def test_incremental_matches_full_rebuild(spark, tmp_path):
    dim = synthesize_tool_dim(spark, seed=5, n_days=40)
    base = synthesize_transcripts(spark, n_convs=30, turns_per_conv=20, seed=5)
    # late batch: extra turns for 3 conversations (including out-of-order ts)
    late = synthesize_transcripts(spark, n_convs=3, turns_per_conv=5, seed=99).withColumn(
        "turn_idx", F.col("turn_idx") + 20
    )

    tbl = SnapshotTable(str(tmp_path / "transcripts"))
    s1 = tbl.commit(base)
    feats_path = str(tmp_path / "features")
    write_feature_buckets(build_turn_features(tbl.read(spark), dim), feats_path)
    before = spark.read.parquet(feats_path).count()
    assert before == base.count()

    tbl.commit(late, mode="append")  # read() now sees base+late (append chain)
    stats = incremental_update(spark, tbl, dim, feats_path, since_snapshot_id=s1)
    assert stats["touched_buckets"] <= N_BUCKETS

    got = _key(spark.read.parquet(feats_path).drop("conv_bucket").toPandas())
    exp = _key(build_turn_features(base.unionByName(late), dim).toPandas())
    assert len(got) == len(exp)
    for col in ("session_id", "chars_sum_5", "tool_ffill", "prev_role_1"):
        assert got[col].fillna(-1 if got[col].dtype != object else "∅").tolist() == exp[col].fillna(
            -1 if exp[col].dtype != object else "∅"
        ).tolist(), col


def test_incremental_rerun_is_idempotent(spark, tmp_path):
    dim = synthesize_tool_dim(spark, seed=6, n_days=40)
    base = synthesize_transcripts(spark, n_convs=10, turns_per_conv=10, seed=6)
    late = synthesize_transcripts(spark, n_convs=2, turns_per_conv=3, seed=7).withColumn(
        "turn_idx", F.col("turn_idx") + 10
    )
    tbl = SnapshotTable(str(tmp_path / "t"))
    s1 = tbl.commit(base)
    feats_path = str(tmp_path / "f")
    write_feature_buckets(build_turn_features(tbl.read(spark), dim), feats_path)
    tbl.commit(late, mode="append")

    r1 = incremental_update(spark, tbl, dim, feats_path, since_snapshot_id=s1)
    count1 = spark.read.parquet(feats_path).count()
    r2 = incremental_update(spark, tbl, dim, feats_path, since_snapshot_id=s1)
    count2 = spark.read.parquet(feats_path).count()
    assert count1 == count2 and r1["rebuilt_rows"] == r2["rebuilt_rows"]


def test_untouched_buckets_survive_overwrite(spark, tmp_path):
    """The reason for bucket partitioning: overwriting touched buckets must
    not clip conversations in other buckets."""
    dim = synthesize_tool_dim(spark, seed=8, n_days=40)
    base = synthesize_transcripts(spark, n_convs=40, turns_per_conv=5, seed=8)
    tbl = SnapshotTable(str(tmp_path / "t"))
    s1 = tbl.commit(base)
    feats_path = str(tmp_path / "f")
    write_feature_buckets(build_turn_features(tbl.read(spark), dim), feats_path)

    late = base.filter("conv_id = 'c0'").withColumn("turn_idx", F.col("turn_idx") + 5)
    tbl.commit(late, mode="append")
    incremental_update(spark, tbl, dim, feats_path, since_snapshot_id=s1)

    out = spark.read.parquet(feats_path)
    assert out.select("conv_id").distinct().count() == 40  # nothing clipped
    assert out.count() == base.count() + late.count()


def test_overwrite_in_range_rebuilds_everything_without_double_count(spark, tmp_path):
    """An OVERWRITE snapshot inside the incremental range resets the table
    basis: read_incremental must return the full current state (not overwrite
    dir + appends, which double-counts), and incremental_update must rebuild
    from it idempotently."""
    from ipl_dagster_pipeline_spark.io import SnapshotTable
    from ipl_dagster_pipeline_spark.sources.transcripts import (
        synthesize_tool_dim,
        synthesize_transcripts,
    )

    tbl = SnapshotTable(str(tmp_path / "t"))
    base = synthesize_transcripts(spark, n_convs=20, turns_per_conv=10, seed=3)
    s1 = tbl.commit(base)
    tbl.commit(base.limit(50), mode="append")
    replaced = synthesize_transcripts(spark, n_convs=25, turns_per_conv=10, seed=4)
    tbl.commit(replaced, mode="overwrite")

    inc = tbl.read_incremental(spark, start_snapshot_id=s1)
    assert inc.count() == replaced.count()  # full current state, counted once

    feats_path = str(tmp_path / "f")
    dim = synthesize_tool_dim(spark, seed=3, n_days=10)
    stats = incremental_update(spark, tbl, dim, feats_path, since_snapshot_id=s1)
    assert stats["rebuilt_rows"] == replaced.count()
    assert spark.read.parquet(feats_path).count() == replaced.count()

"""Streaming log-histogram sketch maintenance == batch sketch of all rows."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ipl_dagster_pipeline_spark.io import SnapshotTable
from ipl_dagster_pipeline_spark.operators.sketches import loghist_quantiles, loghist_sketch
from ipl_dagster_pipeline_spark.streaming.sketch_stream import stream_sketch_maintenance


def _frames_equal(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_streaming_sketch_matches_batch(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    table = str(tmp_path / "sk")
    ck = str(tmp_path / "ck")

    wave1 = spark.range(0, 300).select(
        (F.col("id") % 3).cast("string").alias("g"), (F.col("id") / 7.0).alias("v")
    )
    wave1.write.mode("overwrite").parquet(input_dir)
    stream_sketch_maintenance(spark, input_dir, table, "v", ["g"], ck).awaitTermination()
    got = SnapshotTable(table).read(spark)
    assert _frames_equal(got, loghist_sketch(spark.read.parquet(input_dir), "v", ["g"]))
    first_id = SnapshotTable(table).current_snapshot_id()

    # wave 2: maintained sketch == batch sketch over ALL rows so far
    wave2 = spark.range(300, 500).select(
        (F.col("id") % 3).cast("string").alias("g"), (F.col("id") / 3.0 - 40).alias("v")
    )
    wave2.write.mode("append").parquet(input_dir)
    stream_sketch_maintenance(spark, input_dir, table, "v", ["g"], ck).awaitTermination()
    got = SnapshotTable(table).read(spark)
    exp = loghist_sketch(spark.read.parquet(input_dir), "v", ["g"])
    assert _frames_equal(got, exp)
    assert SnapshotTable(table).current_snapshot_id() != first_id

    # quantile reads off the maintained sketch == reads off the batch sketch
    assert _frames_equal(
        loghist_quantiles(got, {"p50": 50, "p99": 99}, ["g"]),
        loghist_quantiles(exp, {"p50": 50, "p99": 99}, ["g"]),
    )

    # catch-up with nothing new: no commit churn
    before = SnapshotTable(table).current_snapshot_id()
    stream_sketch_maintenance(spark, input_dir, table, "v", ["g"], ck).awaitTermination()
    assert SnapshotTable(table).current_snapshot_id() == before


def test_streaming_sketch_replay_does_not_double_count(spark, tmp_path):
    """A crash-replayed foreachBatch invocation must not double-count: the
    batch-id tag skips it (sum-merge is NOT naturally idempotent)."""
    input_dir = str(tmp_path / "in")
    table = str(tmp_path / "sk")
    ck = str(tmp_path / "ck")
    spark.range(0, 100).select((F.col("id") / 9.0).alias("v")).write.parquet(input_dir)
    stream_sketch_maintenance(spark, input_dir, table, "v", None, ck).awaitTermination()
    tbl = SnapshotTable(table)
    before = tbl.read(spark).agg(F.sum("cnt").alias("n")).collect()[0].n
    snap_before = tbl.current_snapshot_id()

    # simulate the replay: fresh checkpoint dir, same batch ids re-fire
    stream_sketch_maintenance(
        spark, input_dir, table, "v", None, str(tmp_path / "ck2")
    ).awaitTermination()
    assert tbl.current_snapshot_id() == snap_before
    assert tbl.read(spark).agg(F.sum("cnt").alias("n")).collect()[0].n == before == 100


def test_streaming_sketch_starts_on_empty_dir_with_schema(spark, tmp_path):
    """Fresh deployment: an explicit schema lets the query start before the
    first input file lands (round-5 ADVICE discipline)."""
    input_dir = str(tmp_path / "in")
    import os

    os.makedirs(input_dir)
    q = stream_sketch_maintenance(
        spark, input_dir, str(tmp_path / "sk"), "v", None,
        str(tmp_path / "ck"), schema="v double",
    )
    q.awaitTermination()
    assert SnapshotTable(str(tmp_path / "sk")).current_snapshot_id() is None


def test_streaming_sketch_housekeeping_bounds_snapshots(spark, tmp_path):
    """Long-running stream: snapshots are expired down to keep_last, and the
    durable tag registry keeps replay-skipping correct even after the tagged
    manifests are gone (fresh checkpoint replays batch 0 → still skipped)."""
    input_dir = str(tmp_path / "in")
    table = str(tmp_path / "sk")

    ck = str(tmp_path / "ck")
    for wave in range(4):
        spark.range(wave * 50, wave * 50 + 50).select(
            (F.col("id") / 5.0).alias("v")
        ).write.mode("append").parquet(input_dir)
        stream_sketch_maintenance(
            spark, input_dir, table, "v", None, ck,
            maintain_every=2, keep_last=1,
        ).awaitTermination()

    tbl = SnapshotTable(table)
    assert len(tbl.snapshots()) <= 2  # bounded, not one per batch
    # content still equals the batch sketch over ALL rows
    assert _frames_equal(
        tbl.read(spark), loghist_sketch(spark.read.parquet(input_dir), "v", None)
    )
    # registry-backed replay skip: yet another fresh checkpoint re-fires b0
    before = tbl.read(spark).agg(F.sum("cnt").alias("n")).collect()[0].n
    stream_sketch_maintenance(
        spark, input_dir, table, "v", None, str(tmp_path / "ck_replay"),
        maintain_every=2, keep_last=1,
    ).awaitTermination()
    assert tbl.read(spark).agg(F.sum("cnt").alias("n")).collect()[0].n == before == 200


def test_streaming_sketch_fresh_checkpoint_new_file_counts_once(spark, tmp_path):
    """Round-6 ADVICE failure scenario: the checkpoint dir is LOST and the
    stream restarts with a fresh one — Spark renumbers batches from 0 and
    delivers ALL files (old + one genuinely new) in the first batch.  The
    file-level registry must merge ONLY the new file's rows: no double
    count of history, no silent skip of the new file (a raw b0 tag match
    did the latter)."""
    input_dir = str(tmp_path / "in")
    table = str(tmp_path / "sk")
    spark.range(0, 100).select((F.col("id") / 9.0).alias("v")).coalesce(1).write.parquet(
        f"{input_dir}/f1"
    )
    stream_sketch_maintenance(
        spark, f"{input_dir}/*", table, "v", None, str(tmp_path / "ck1")
    ).awaitTermination()
    tbl = SnapshotTable(table)
    assert tbl.read(spark).agg(F.sum("cnt").alias("n")).collect()[0].n == 100

    # new arrival + LOST checkpoint: fresh dir re-delivers everything as b0
    spark.range(100, 150).select((F.col("id") / 9.0).alias("v")).coalesce(1).write.parquet(
        f"{input_dir}/f2"
    )
    stream_sketch_maintenance(
        spark, f"{input_dir}/*", table, "v", None, str(tmp_path / "ck2")
    ).awaitTermination()
    assert tbl.read(spark).agg(F.sum("cnt").alias("n")).collect()[0].n == 150


def test_crash_after_commit_counts_once(spark, tmp_path, monkeypatch):
    """A crash right after the snapshot commit, before the stream records the
    batch as done: the rerun on the SAME checkpoint replays that batch, and
    the files the commit tagged must keep it from being merged twice."""
    input_dir = str(tmp_path / "in")
    table = str(tmp_path / "sk")
    ck = str(tmp_path / "ck")
    spark.range(0, 100).select((F.col("id") / 9.0).alias("v")).write.parquet(input_dir)

    real_commit = SnapshotTable.commit
    crashed = []

    def commit_then_crash(self, *a, **kw):
        snap = real_commit(self, *a, **kw)
        if not crashed:
            crashed.append(snap)
            raise RuntimeError("crash after commit")
        return snap

    monkeypatch.setattr(SnapshotTable, "commit", commit_then_crash)
    with pytest.raises(Exception):
        stream_sketch_maintenance(spark, input_dir, table, "v", None, ck).awaitTermination()
    assert crashed
    stream_sketch_maintenance(spark, input_dir, table, "v", None, ck).awaitTermination()
    tbl = SnapshotTable(table)
    assert tbl.read(spark).agg(F.sum("cnt").alias("n")).collect()[0].n == 100

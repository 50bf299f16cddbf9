"""Stage lineage that rides the commit: the observed totals equal a recount
of the committed snapshot, manifests carry the read schema, and a
checkpointed stage starts no Spark job after its commit's write."""

from __future__ import annotations

import json
import os
import sys
import uuid
from functools import reduce

import pytest
import pyspark.sql.functions as F

from ipl_dagster_pipeline_spark import io
from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
from ipl_dagster_pipeline_spark.io import SnapshotTable
from ipl_dagster_pipeline_spark.metrics import stage_totals
from test_trainingdata import SF  # the sf0.001 fixture tables (TESTDATA.md)

JOB_ARGS = {
    "pretrain_prep": ["--token-budget", "2000", "--shards", "4"],
    "feature_build": [],
}


@pytest.fixture(scope="module", params=sorted(JOB_ARGS))
def job_run(request, spark, tmp_path_factory) -> tuple[str, str]:
    """(job name, checkpoint root) of one sf0.001 run of the job."""
    import importlib

    job = importlib.import_module(f"jobs.{request.param}")
    out = str(tmp_path_factory.mktemp(request.param))
    saved = sys.argv
    sys.argv = [f"{request.param}.py", "--input", SF, "--output", out, *JOB_ARGS[request.param]]
    try:
        job.main()
    finally:
        sys.argv = saved
    return request.param, out


def _inferred(spark, tbl: SnapshotTable):
    """The committed snapshot read the way it was before manifests carried
    a schema: parquet schema inference over the same dirs."""
    return spark.read.parquet(*tbl._state_dirs(tbl.current_snapshot_id()))


def _recount(spark, pipe: CheckpointedPipeline, stage: str):
    """One row (stage, rows, crc32(to_json(struct(*))) sum) recounted from
    the stage's committed snapshot."""
    df = _inferred(spark, pipe.table(stage))
    crc = F.crc32(F.to_json(F.struct(*[F.col(c) for c in df.columns])).cast("binary"))
    return df.agg(F.lit(stage).alias("stage"), F.count(F.lit(1)), F.sum(crc))


def test_lineage_equals_snapshot_recount(spark, job_run):
    """For every stage, the totals observed during the commit's write equal
    a crc32(to_json(struct(*))) recount of the committed snapshot."""
    pipe = CheckpointedPipeline(spark, job_run[1])
    stages = pipe.completed_stages()
    assert stages

    def recount(stage: str):
        return _recount(spark, pipe, stage)

    committed = {
        r[0]: (int(r[1]), int(r[2] or 0))
        for r in reduce(lambda a, b: a.union(b), map(recount, stages)).collect()
    }
    assert stage_totals(pipe.lineage_path) == committed
    lin = spark.read.parquet(pipe.lineage_path)
    assert lin.count() == len(stages)  # one row per commit
    assert {r.partition_id for r in lin.collect()} == {-1}


def test_lineage_observations_equal_recount(spark, job_run):
    """The drop counts on the lineage rows equal a recount: pretrain_prep's
    ``index_pairs`` stage (two ``MinHashIndex.add_batch`` calls) carries the
    batch rows and probe band rows it observed, nothing dropped at this
    size; every stage that registers no Observation has a NULL map."""
    import pyarrow.parquet as pq

    from ipl_dagster_pipeline_spark.operators import text_dedup

    name, root = job_run
    rows = {r["stage"]: r["observations"] for r in pq.read_table(os.path.join(root, "_lineage")).to_pylist()}
    want = {}
    if name == "pretrain_prep":
        docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
        candidates = docs.filter(F.col("doc_id") % 97 != 0)
        bands = text_dedup.band_rows(text_dedup.minhash_signatures(text_dedup.shingles(candidates)))
        want["index_pairs"] = {
            "incr_index_dup_ids.batch_rows": candidates.count(),
            "incr_index_dup_ids.dropped_dup_ids": 0,
            "incr_index_dup_ids.dropped_batch_dups": 0,
            "incr_lsh_dropped.probe_rows": bands.count(),
            "incr_lsh_dropped.dropped_probe_rows": 0,
        }
    assert {s: dict(m) for s, m in rows.items() if m} == want


def test_manifest_schema_equals_inferred(spark, job_run):
    """``SnapshotTable.read`` under the manifest's schema reports the same
    schema as inference over the same dirs — timestamps (feature_build's
    stages carry them) stay TIMESTAMP or TIMESTAMP_NTZ exactly as inference
    reads them — and the per-file footer rows sum to the snapshot's rows."""
    name, root = job_run
    pipe = CheckpointedPipeline(spark, root)
    totals = stage_totals(pipe.lineage_path)
    types = set()
    for stage in pipe.completed_stages():
        tbl = pipe.table(stage)
        schema = tbl.read(spark).schema
        assert schema == _inferred(spark, tbl).schema, stage
        types |= {f.dataType.typeName() for f in schema}
        manifest = tbl.snapshots()[-1]
        assert sum(f["rows"] for f in manifest["files"]) == totals[stage][0], stage
    if name == "feature_build":
        assert types & {"timestamp", "timestamp_ntz"}


def test_manifest_without_schema_still_reads(spark, tmp_path):
    """Checkpoint roots written before manifests carried a schema still
    resume: the read falls back to inference, also under a newer append."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00")], "id long, s string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    s1 = tbl.commit(df)
    path = os.path.join(tbl.manifest_dir, f"{s1:012d}.json")
    with open(path) as fh:
        manifest = json.load(fh)
    for key in ("schema", "files"):
        manifest.pop(key)
    with open(path, "w") as fh:
        json.dump(manifest, fh)

    back = tbl.read(spark)
    assert back.schema == spark.read.parquet(manifest["data_dir"]).schema
    assert back.collect() == df.collect()
    tbl.commit(df.withColumn("id", F.lit(2).cast("long")), mode="append")
    assert sorted(r.id for r in tbl.read(spark).collect()) == [1, 2]
    assert tbl.read(spark, snapshot_id=s1).count() == 1


def test_stage_starts_no_job_after_its_commit(spark, tmp_path, monkeypatch):
    """Structural pin: the commit's write is a checkpointed stage's last
    Spark job — lineage, the footer check and the read-back start none."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"stage-pin-{uuid.uuid4().hex}"
    seen: dict[str, set[int]] = {}
    real_commit = SnapshotTable.commit

    def commit(self, *args, **kwargs):
        out = real_commit(self, *args, **kwargs)
        bus.waitUntilEmpty()
        seen["commit"] = set(sc.statusTracker().getJobIdsForGroup(group))
        return out

    monkeypatch.setattr(SnapshotTable, "commit", commit)
    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    sc.setJobGroup(group, "stage pin")
    try:
        df = pipe.stage("small", lambda: spark.range(50).withColumn("x", F.col("id") * 2))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    assert seen["commit"], "the commit's write started no job"
    assert set(sc.statusTracker().getJobIdsForGroup(group)) == seen["commit"]
    assert df.count() == 50


def test_stage_totals_reads_old_lineage_files_without_a_job(spark, tmp_path):
    """A ``_lineage`` file written with the six columns the table had before
    ``observations`` existed reads next to new files: the totals are
    unchanged, its ``observations`` read NULL, and the reconcile starts no
    Spark job."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from ipl_dagster_pipeline_spark.schema import LINEAGE_SCHEMA

    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    pipe.stage("new", lambda: spark.range(5))
    before = stage_totals(pipe.lineage_path)
    old_schema = T.StructType([f for f in LINEAGE_SCHEMA.fields if f.name != "observations"])
    old = {"stage": "old", "snapshot_id": 1, "partition_id": -1, "row_count": 9, "checksum": 4,
           "committed_at": datetime.now(timezone.utc)}
    pq.write_table(
        pa.Table.from_pylist([old], schema=to_arrow_schema(old_schema)),
        os.path.join(pipe.lineage_path, "part-old.parquet"),
    )

    sc = spark.sparkContext
    group = f"reconcile-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "reconcile")
    try:
        totals = stage_totals(pipe.lineage_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert totals == {**before, "old": (9, 4)}
    lin = ds.dataset(pipe.lineage_path, schema=to_arrow_schema(LINEAGE_SCHEMA), format="parquet")
    assert {r["stage"]: r["observations"] for r in lin.to_table().to_pylist()} == {
        "new": None, "old": None
    }


def _late_observation(obs):
    raise RuntimeError("observation was not delivered")


@pytest.mark.parametrize("broken", ["footers", "observation"])
def test_commit_raises_when_footers_disagree(spark, tmp_path, monkeypatch, broken):
    """Observed rows ≠ Σ footer rows, or metrics that never arrive, fail the
    commit loudly: no manifest, no data dir, no lineage row."""
    if broken == "footers":
        real = io.footer_rows
        monkeypatch.setattr(
            io, "footer_rows", lambda d: [{**f, "rows": f["rows"] + 1} for f in real(d)]
        )
    else:
        monkeypatch.setattr(io, "observation_result", _late_observation)
    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError, match=broken):
        pipe.stage("s", lambda: spark.range(10))
    assert not pipe.is_committed("s")
    assert not [d for d in os.listdir(pipe.table("s").root) if d.startswith("snap-")]
    assert not os.path.exists(pipe.lineage_path)

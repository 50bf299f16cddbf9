"""``CheckpointedPipeline.run``: a stage graph whose independent stages
commit at the same time, each through ``stage``, the one commit/resume
primitive."""

from __future__ import annotations

import os
import threading
import time
import uuid

import pytest
import pyspark.sql.functions as F

from ipl_dagster_pipeline_spark.caching import tracked_persist
from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
from ipl_dagster_pipeline_spark.io import SnapshotTable

WAIT_S = 60


def test_independent_stages_overlap(spark, tmp_path):
    """Two independent stages each wait on one two-party barrier: run
    sequentially, the first would time out; run concurrently, both pass."""
    barrier = threading.Barrier(2, timeout=WAIT_S)

    def meet(n):
        barrier.wait()
        return spark.range(n)

    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    out = pipe.run(a=lambda: meet(3), b=lambda: meet(5))
    assert {k: v.count() for k, v in out.items()} == {"a": 3, "b": 5}
    assert pipe.completed_stages() == ["a", "b"]


def test_sibling_release_keeps_a_shared_plan_cached(spark, tmp_path):
    """Two concurrent stages persist the same plan, as two stages running
    the same fit do; Spark keeps one cache entry for both.  When the first
    stage has committed (and released its scope), the entry must still be
    cached for the sibling that reads it."""
    both_persisted = threading.Barrier(2, timeout=WAIT_S)
    cached_after_a: list[bool] = []
    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))

    def fit():
        local = tracked_persist(spark.range(60).selectExpr("id % 5 AS k", "id AS v"))
        local.count()
        both_persisted.wait()
        return local

    def a():
        return fit().groupBy("k").count()

    def b():
        local = fit()
        # a's lineage row is appended after its scope released its frames
        lineage = pipe.lineage_path
        deadline = time.monotonic() + WAIT_S
        while not (os.path.isdir(lineage) and any(
            f.endswith(".parquet") and not f.startswith(".") for f in os.listdir(lineage)
        )):
            assert time.monotonic() < deadline, "stage a never committed"
            time.sleep(0.05)
        cached_after_a.append(local.storageLevel.useMemory)
        return local.groupBy("k").agg(F.sum("v").alias("v"))

    out = pipe.run(a=a, b=b)
    assert cached_after_a == [True]
    assert out["b"].count() == 5
    assert not spark.range(60).selectExpr("id % 5 AS k", "id AS v").storageLevel.useMemory


def test_dependent_stage_reads_committed_input(spark, tmp_path):
    """A stage's argument is its input's committed read-back: a random
    column reads back as the committed values, from the table's own files."""
    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    seen = {}

    def b(a):
        seen["a"] = a
        return a.select((F.col("id") * 2).alias("x"))

    out = pipe.run(a=lambda: spark.range(20).withColumn("r", F.rand()), b=b)
    committed = sorted(pipe.table("a").read(spark).collect())
    assert sorted(seen["a"].collect()) == committed == sorted(out["a"].collect())
    root = pipe.table("a").root
    assert seen["a"].inputFiles() and all(root in f for f in seen["a"].inputFiles())
    assert sorted(r.x for r in out["b"].collect()) == list(range(0, 40, 2))


@pytest.mark.parametrize(
    "stages, match",
    [
        ({"a": lambda: None, "b": lambda a, nope: None}, "unknown"),
        ({"a": lambda c: None, "b": lambda a: None, "c": lambda b: None}, "cycle"),
        ({"a": lambda a: None}, "cycle"),
    ],
)
def test_bad_graph_rejected_before_any_stage(spark, tmp_path, stages, match):
    """An unknown input name or a cycle raises before any stage runs: the
    checkpoint root holds no table directory afterwards."""
    root = tmp_path / "ckpt"
    pipe = CheckpointedPipeline(spark, str(root))
    with pytest.raises(ValueError, match=match):
        pipe.run(ok=lambda: spark.range(1), **stages)
    assert os.listdir(root) == []


def test_failure_lets_running_sibling_commit(spark, tmp_path):
    """``a`` fails while its sibling ``b`` is running: ``b`` still commits,
    nothing downstream starts, and ``a``'s own exception propagates.  A
    rerun resumes: ``b``'s snapshot id is unchanged."""
    b_running, a_failed = threading.Event(), threading.Event()
    started: list[str] = []
    boom = RuntimeError("a failed")

    def a():
        assert b_running.wait(WAIT_S)
        a_failed.set()
        raise boom

    def b():
        b_running.set()
        assert a_failed.wait(WAIT_S)
        return spark.range(7)

    def mark(name):
        started.append(name)
        return spark.range(1)

    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    graph = {"a": a, "b": b, "c": lambda a: mark("c"), "d": lambda b: mark("d")}
    with pytest.raises(RuntimeError) as err:
        pipe.run(**graph)
    assert err.value is boom
    assert started == []
    assert pipe.completed_stages() == ["b"]
    snap_b = pipe.table("b").current_snapshot_id()

    graph["a"] = lambda: spark.range(2)
    graph["b"] = lambda: pytest.fail("a committed stage was recomputed")
    out = pipe.run(**graph)
    assert pipe.table("b").current_snapshot_id() == snap_b
    assert pipe.completed_stages() == ["a", "b", "c", "d"]
    assert out["b"].count() == 7 and sorted(started) == ["c", "d"]


def test_caller_job_group_covers_every_stage(spark, tmp_path, monkeypatch):
    """A job group set by the caller is the group of every stage's commit
    and of every job the run starts."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"graph-{uuid.uuid4().hex}"
    groups_at_commit = {}
    real_commit = SnapshotTable.commit

    def commit(self, *args, **kwargs):
        groups_at_commit[os.path.basename(self.root)] = sc.getLocalProperty("spark.jobGroup.id")
        return real_commit(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "commit", commit)
    bus.waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    sc.setJobGroup(group, "stage graph")
    try:
        pipe.run(
            a=lambda: spark.range(10),
            b=lambda: spark.range(20).groupBy((F.col("id") % 3).alias("k")).count(),
            c=lambda a, b: a.crossJoin(b.select("k")),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    assert groups_at_commit == {"a": group, "b": group, "c": group}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3
    # a subset, not equality: the tracker drops its oldest jobs in batches
    # once it holds spark.ui.retainedJobs, and the run may cross that line
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped

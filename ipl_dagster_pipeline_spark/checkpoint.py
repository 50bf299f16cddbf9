"""Checkpointed, resumable multi-stage runs (north rule: "resumable from the
last committed checkpoint snapshot").

Reference precedent: run monitoring with ≤3 resume attempts
(dagster.docker.yaml:16-25) and the startup reaper that terminates stuck runs
(scripts/terminate_starting_and_started_runs.py) — supervision bolted onto
non-resumable compute.  Here resumability is structural: every stage writes
its output as an atomic `SnapshotTable` commit whose own write also yields the
stage's lineage row; re-running the pipeline skips stages whose snapshot
already committed and recomputes the rest from their inputs' snapshots.

A job declares its stages as one graph (``CheckpointedPipeline.run``): each
stage names its inputs by its parameter names, as a Dagster asset does
(pipeline/__init__.py:26-58), and stages whose inputs have committed run at
the same time on worker threads — the reference's multiprocess executor
materializes independent assets concurrently (sharing.py:122-128).  Every
stage still goes through ``stage``, the one commit/resume primitive.
"""

from __future__ import annotations

import inspect
import os
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from .caching import tracked_scope
from .io import SnapshotTable
from .metrics import append_lineage, observation_result, observe_stage, scope_observations


class CheckpointedPipeline:
    """Registry of named stages over a checkpoint root directory.

    Usage:
        pipe = CheckpointedPipeline(spark, "/tmp/ckpt")
        out = pipe.run(
            convert=lambda: transcripts_from_events(spark, sf),
            tool_dim=lambda: tool_dim_from_events(spark, sf),
            features=lambda convert, tool_dim: build_turn_features(convert, tool_dim),
        )
    Each stage is computed at most once per checkpoint root; a rerun after a
    crash resumes from the last committed stage snapshot.

    Stage graph: ``run`` reads each stage's inputs from its parameter names
    and starts the stage as soon as all of them have committed, so
    ``convert`` and ``tool_dim`` above run at the same time and
    ``features`` starts when both are durable.  Failure rule: after the first
    stage raises, no new stage starts; stages already running finish their
    atomic commits (a rerun resumes from them), then the first exception is
    re-raised.

    Thread-safety contract: concurrent stages share the SparkSession and the
    checkpoint root.  Each stage commits to its own table directory and
    appends its own uniquely named lineage file; each stage's persisted
    intermediates belong to a ``caching.tracked_scope`` on its own thread,
    and a frame whose plan a sibling also persisted (two stages running the
    same fit persist one shared Spark cache entry) stays cached until the
    last of them releases it, so one stage's release never unpersists a
    frame a sibling still reads.  Stage callables must not mutate
    session-wide state (``spark.conf``, temp views) that a sibling reads.
    """

    def __init__(self, spark: SparkSession, root: str, force: bool = False) -> None:
        self.spark = spark
        self.root = root
        self.force = force
        self.lineage_path = os.path.join(root, "_lineage")
        os.makedirs(root, exist_ok=True)

    def table(self, stage: str) -> SnapshotTable:
        return SnapshotTable(os.path.join(self.root, stage))

    def is_committed(self, stage: str) -> bool:
        return self.table(stage).current_snapshot_id() is not None

    def stage(self, name: str, fn: Callable[[], DataFrame]) -> DataFrame:
        """Run (or resume) a stage: if a committed snapshot exists, read it
        back; otherwise compute and commit atomically, and return the
        committed snapshot (so downstream stages always consume the durable
        copy, never a recomputable plan).

        The commit's write is the stage's last Spark job.  Its rows and
        checksum are observed during that write (``metrics.observe_stage``)
        and checked against the parquet footers before the publish; the
        lineage row (one per commit, ``partition_id = -1``) is appended with
        pyarrow, and the read-back uses the schema the manifest recorded,
        so no job (no second pass, no schema inference) follows it.  The
        row's ``observations`` map sums the drop counts the stage's
        operators registered (``metrics.scope_observations``); NULL when
        they registered none."""
        tbl = self.table(name)
        if not self.force and tbl.current_snapshot_id() is not None:
            return tbl.read(self.spark)
        # the commit IS the consuming action — scope every intermediate the
        # stage persists (MinHash shingles, LSH buckets, prefix-sum locals)
        # so a multi-stage run never accumulates executor storage; the SCOPE
        # (not the global registry) owns the frames, so a concurrent pipeline
        # in the same session can't have its caches yanked by this stage
        with tracked_scope() as scope:
            df, obs = observe_stage(fn(), name)
            snap_id = tbl.commit(df, observation=obs)
            totals = observation_result(obs)
            observed = scope_observations(scope.observations)
        self._lineage(name, snap_id, totals, observed)
        return tbl.read(self.spark)

    def run(self, **stages: Callable[..., DataFrame]) -> dict[str, DataFrame]:
        """Run (or resume) a stage graph; returns ``{name: committed frame}``.

        Each keyword is a stage name; its callable's parameter names are
        the stages it reads, and it is called with their committed
        read-backs (a callable must not use default arguments to capture
        values — every parameter is an input).  An unknown input or a cycle
        raises ``ValueError`` before any stage runs.  Each stage goes
        through :meth:`stage` on a worker thread as soon as its inputs have
        committed; the threads inherit the caller's local properties (job
        group, description), so the caller's job group covers every
        stage's jobs.  After the first exception no new stage starts, the
        running ones finish their commits, and that exception is re-raised.
        """
        inputs = {name: list(inspect.signature(fn).parameters) for name, fn in stages.items()}
        for name, ins in inputs.items():
            unknown = [i for i in ins if i not in stages]
            if unknown:
                raise ValueError(f"stage {name!r} reads unknown stage(s) {unknown}")
        graph = TopologicalSorter(inputs)
        graph.prepare()  # a cycle raises graphlib.CycleError, a ValueError

        done: dict[str, DataFrame] = {}
        running: dict[Future, str] = {}
        error: BaseException | None = None
        with ThreadPoolExecutor(max_workers=len(stages), thread_name_prefix="stage") as pool:

            def start_ready() -> None:
                for n in graph.get_ready():
                    fn, args = stages[n], {i: done[i] for i in inputs[n]}
                    # wrapped here, on the caller's thread: the wrapper
                    # copies the caller's local properties when created
                    target = inheritable_thread_target(self.spark)(self.stage)
                    running[pool.submit(target, n, lambda fn=fn, args=args: fn(**args))] = n

            start_ready()
            while running:
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    name = running.pop(fut)
                    try:
                        done[name] = fut.result()
                        graph.done(name)
                    except BaseException as err:  # noqa: BLE001 — re-raised below
                        error = error or err
                if error is None:
                    start_ready()
        if error is not None:
            raise error
        return done

    def _lineage(self, name: str, snapshot_id: int, totals: dict, observed: dict) -> None:
        """One lineage row for a commit (``partition_id = -1``)."""
        append_lineage(
            [{
                "stage": name,
                "snapshot_id": snapshot_id,
                "partition_id": -1,
                "row_count": int(totals.get("rows") or 0),
                "checksum": int(totals.get("checksum") or 0),
                "observations": observed or None,
            }],
            self.lineage_path,
        )

    def completed_stages(self) -> list[str]:
        return [
            d
            for d in sorted(os.listdir(self.root))
            if not d.startswith("_") and self.is_committed(d)
        ]

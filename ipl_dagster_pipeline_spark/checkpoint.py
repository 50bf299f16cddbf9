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
from .io import SnapshotTable, _write_json
from .metrics import append_lineage, observation_result, observe_stage


class ExternalStageTimeout(RuntimeError):
    """An external stage attempt exceeded its max runtime (the stuck-run
    condition the reference's reaper terminates,
    scripts/terminate_starting_and_started_runs.py:126-150)."""


# scratch dirs whose timed-out (abandoned) worker thread may still be alive
# in THIS process — the startup reap must never delete these; a process
# restart clears the set, at which point the dirs are truly dead and reapable
_ABANDONED_SCRATCH: set[str] = set()


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
        if os.path.exists(os.path.join(self.root, stage, "manifest.json")):
            return True  # external (non-Spark) stage — see external_stage
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
        so no job (no second pass, no schema inference) follows it."""
        tbl = self.table(name)
        if not self.force and tbl.current_snapshot_id() is not None:
            return tbl.read(self.spark)
        # the commit IS the consuming action — scope every intermediate the
        # stage persists (MinHash shingles, LSH buckets, prefix-sum locals)
        # so a multi-stage run never accumulates executor storage; the SCOPE
        # (not the global registry) owns the frames, so a concurrent pipeline
        # in the same session can't have its caches yanked by this stage
        with tracked_scope():
            df, obs = observe_stage(fn(), name)
            snap_id = tbl.commit(df, observation=obs)
        self._lineage(name, snap_id, observation_result(obs))
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

    def _lineage(self, name: str, snapshot_id: int, totals: dict) -> None:
        """One lineage row for a commit (``partition_id = -1``)."""
        append_lineage(
            [{
                "stage": name,
                "snapshot_id": snapshot_id,
                "partition_id": -1,
                "row_count": int(totals.get("rows") or 0),
                "checksum": int(totals.get("checksum") or 0),
            }],
            self.lineage_path,
        )

    def external_stage(
        self,
        name: str,
        fn: Callable[..., dict],
        max_attempts: int = 3,
        timeout_sec: float | None = None,
    ) -> dict:
        """Supervise a NON-Spark stage under the same checkpoint registry
        (SURVEY §2 S10).

        Reference precedent: the GTFS import runs an external container under
        a supervising op (pipeline/assets/gtfs.py:28-70) and the deployment
        resumes stuck runs up to 3 times (dagster.docker.yaml:16-25) — the
        compute is opaque to the orchestrator, only its lifecycle is managed.
        Same split here: ``fn(work_dir)`` is arbitrary non-Spark work (fetch a
        feed, unzip an archive, call a loader) that writes its artifacts into
        ``work_dir`` and returns a small metadata dict (e.g. ``{'rows': n}``).
        The pipeline owns idempotence and atomicity:

        * committed stage → ``fn`` is NOT called; the stored manifest returns
        * success publishes atomically: scratch dir → versioned output dir
          (one rename), then the manifest (tmp + rename) — the manifest IS
          the commit point, exactly like ``SnapshotTable.commit``
        * an exception inside ``fn`` retries up to ``max_attempts`` with a
          fresh scratch dir; exhaustion re-raises the last error
        * ``timeout_sec`` bounds each attempt's runtime (the reference bounds
          every run: start timeout 180 s / max runtime 6 h,
          dagster.docker.yaml:16-25, plus a stuck-run reaper,
          scripts/terminate_starting_and_started_runs.py:126-150).  A
          timed-out attempt counts as a failed attempt.  Cancellation is
          cooperative: if ``fn`` accepts a second parameter it receives a
          ``threading.Event`` that is set on timeout so well-behaved work can
          exit early; a truly hung callable is ABANDONED on its thread —
          every attempt gets a private scratch dir, so an abandoned zombie
          can never corrupt a later attempt's output or the publish
        * exhaustion (errors or timeouts) appends a FAILURE row to
          ``_lineage`` (snapshot_id=-1, row_count=-1) before re-raising, so
          supervision is visible in K6 reconciliation; no manifest is
          written, so the next run resumes cleanly into a new version
        * a crash after the output rename but before the manifest write
          leaves an orphan versioned dir; the next run re-runs ``fn`` into a
          NEW version and commits that — readers only ever follow the
          manifest
        * the metadata lands in the same ``_lineage`` table (row_count from
          ``meta['rows']``), so K6 reconciliation covers external stages too

        Returns the manifest dict: ``{'stage', 'version', 'path', 'meta',
        'attempts'}``.
        """
        import json
        import shutil
        import time

        stage_root = os.path.join(self.root, name)
        manifest_path = os.path.join(stage_root, "manifest.json")
        os.makedirs(stage_root, exist_ok=True)
        if not self.force and os.path.exists(manifest_path):
            with open(manifest_path) as f:
                return json.load(f)

        import inspect
        import threading
        import uuid

        # reap scratch left by a crashed PREVIOUS process — but never a dir a
        # still-live abandoned (timed-out) thread of THIS process may be
        # writing (tracked in _ABANDONED_SCRATCH); scratch names also carry a
        # per-call uuid token, so a retry can never recreate a zombie's path
        for d in os.listdir(stage_root):
            p = os.path.join(stage_root, d)
            if d.startswith("_scratch_") and p not in _ABANDONED_SCRATCH:
                shutil.rmtree(p, ignore_errors=True)
        run_token = uuid.uuid4().hex[:8]

        existing = [
            int(d.split("_v")[1])
            for d in os.listdir(stage_root)
            if d.startswith("ext_v") and d.split("_v")[1].isdigit()
        ]
        version = max(existing, default=0) + 1
        out_dir = os.path.join(stage_root, f"ext_v{version}")

        # cooperative cancel: fn(work_dir, cancel_event) if it takes 2 args
        try:
            wants_cancel = len(inspect.signature(fn).parameters) >= 2
        except (TypeError, ValueError):
            wants_cancel = False

        def run_attempt(scratch: str) -> dict:
            if timeout_sec is None:
                return (fn(scratch, threading.Event()) if wants_cancel else fn(scratch)) or {}
            cancel = threading.Event()
            box: dict = {}

            def target() -> None:
                try:
                    box["meta"] = (fn(scratch, cancel) if wants_cancel else fn(scratch)) or {}
                except Exception as err:  # noqa: BLE001 — propagated below
                    box["err"] = err

            t = threading.Thread(target=target, name=f"ext-{name}", daemon=True)
            t.start()
            t.join(timeout_sec)
            if t.is_alive():
                cancel.set()  # cooperative callables exit; hung ones are abandoned
                raise ExternalStageTimeout(
                    f"external stage {name!r} attempt exceeded {timeout_sec}s"
                )
            if "err" in box:
                raise box["err"]
            return box["meta"]

        last_err: Exception | None = None
        scratch = ""
        for attempt in range(1, max_attempts + 1):
            scratch = os.path.join(stage_root, f"_scratch_{run_token}_a{attempt}")
            shutil.rmtree(scratch, ignore_errors=True)
            os.makedirs(scratch)
            try:
                meta = run_attempt(scratch)
                break
            except Exception as err:  # supervised retry, never a silent skip
                last_err = err
                if isinstance(err, ExternalStageTimeout):
                    # the abandoned thread may still write here — never reap
                    # this path from THIS process (in-process retries use a
                    # fresh uuid token, so no collision is possible either)
                    _ABANDONED_SCRATCH.add(scratch)
                else:
                    # safe to reap: the attempt finished (no zombie writer)
                    shutil.rmtree(scratch, ignore_errors=True)
        else:
            self._lineage(name, -1, {"rows": -1})  # failure visible to K6 reconciliation
            raise RuntimeError(
                f"external stage {name!r} failed after {max_attempts} attempts"
            ) from last_err

        os.replace(scratch, out_dir)  # atomic publish of the artifacts
        manifest = {
            "stage": name,
            "version": version,
            "path": out_dir,
            "meta": meta,
            "attempts": attempt,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        _write_json(manifest_path, manifest)  # the commit point

        self._lineage(name, version, meta)
        return manifest

    def completed_stages(self) -> list[str]:
        return [
            d
            for d in sorted(os.listdir(self.root))
            if not d.startswith("_") and self.is_committed(d)
        ]

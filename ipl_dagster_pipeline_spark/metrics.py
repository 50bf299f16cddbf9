"""Per-stage lineage + row-count/checksum metrics (north rule; SURVEY §2.2 K6).

Reference precedent: every publish emits ``num_rows`` output metadata
(postgis_geopandas_io_manager.py:103,260) and dedup deltas are warned
(lamassu.py:306-311).  Here the numbers ride the commit itself:

* ``observe_stage`` attaches rows + checksum to the frame being committed,
  so the commit's own write computes them — no second pass over the data;
* the commit checks the observed rows against the parquet footers and
  records each file's row count in the snapshot manifest (``io.py``);
* ``append_lineage`` adds one row per commit (``partition_id = -1``) to the
  parquet ``_lineage`` table with pyarrow, in-process — no Spark job;
* ``stage_totals`` reconciles every stage's latest snapshot in one query.

Checksums are order-insensitive (sum of per-row crc32 of the row's JSON) so
they are stable under any partitioning/parallelism, and a recount of the
committed snapshot gives the same number.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# named-observation registry: operators that silently cap/drop rows (LSH
# oversized buckets) register an Observation here so the enclosing pipeline
# can report the dropped counts after its action — the A4-style dedup-delta
# warning (reference lamassu.py:306-311) made queryable.
# ---------------------------------------------------------------------------

_OBS_COUNTER = itertools.count()
STAGE_OBSERVATIONS: dict[str, Observation] = {}


def register_observation(prefix: str) -> Observation:
    """A fresh uniquely-named Observation, retrievable by its prefix via
    :func:`observed_metrics` after the consuming action ran."""
    name = f"{prefix}_{next(_OBS_COUNTER)}"
    obs = Observation(name)
    STAGE_OBSERVATIONS[name] = obs
    return obs


def _probe_completed(obs: Observation, deadline: float) -> bool | None:
    """True/False = the pinned-Spark private probe (``obs._jo.future()``)
    says completed / not completed by ``deadline``; None = the probe API is
    gone (Spark upgrade drift) — caller must use the public fallback."""
    import time

    jo = getattr(obs, "_jo", None)
    if jo is None:  # never attached to a DataFrame — definitively not run
        return False
    try:
        while not jo.future().isCompleted():
            if time.monotonic() >= deadline:
                return False
            time.sleep(0.02)
        return True
    except Exception:  # private API drifted — signal "probe unavailable"
        return None


def _get_with_timeout(obs: Observation, timeout_secs: float) -> dict | None:
    """Public-API fallback for drifted Spark: ``obs.get`` on a daemon thread
    bounded by ``timeout_secs``.  ``obs.get`` blocks forever if the observing
    action never ran — the daemon thread caps that at one (leaked, idle)
    thread per un-run observation instead of blocking the pipeline."""
    import threading

    box: list[dict] = []

    def fetch() -> None:
        try:
            box.append(obs.get)
        except Exception:
            pass

    t = threading.Thread(target=fetch, daemon=True)
    t.start()
    t.join(max(timeout_secs, 0.05))
    return box[0] if box else None


def observed_metrics(prefix: str, timeout_secs: float = 1.0) -> dict[str, dict]:
    """All collected metrics for observations registered under ``prefix``
    whose action has already executed (un-executed ones are skipped; metric
    delivery is listener-async, so attached-but-not-yet-delivered ones are
    polled up to ``timeout_secs``).

    Successfully read observations are CONSUMED (dropped from the registry):
    repeated polls in a long-lived session — bench loops, streaming
    foreachBatch — neither leak JVM-backed Observation objects nor report
    stale counts from earlier queries.  Un-run ones stay registered.

    Probe order: the pinned-Spark completion probe (``obs._jo.future()``,
    non-blocking) first; if that private API disappears in a Spark upgrade,
    the public ``obs.get`` bounded by a daemon-thread timeout — cap-honesty
    degrades to a bounded wait, never to silently-off (round-3 verdict #3).

    Caveat: an observation attached to a plan branch that AQE prunes away
    entirely (e.g. empty-relation propagation when EVERY bucket was dropped)
    never fires — treat "absent" as "branch never executed"."""
    import time

    out: dict[str, dict] = {}
    deadline = time.monotonic() + timeout_secs
    for name, obs in list(STAGE_OBSERVATIONS.items()):
        if not name.startswith(prefix):
            continue
        ready = _probe_completed(obs, deadline)
        if ready is False:
            continue
        if ready is None:  # API drift — public fallback with bounded wait
            if getattr(obs, "_jo", None) is None:
                continue
            row = _get_with_timeout(obs, deadline - time.monotonic())
            if row is None:
                continue
            out[name] = row
            STAGE_OBSERVATIONS.pop(name, None)
            continue
        try:
            out[name] = obs.get
        except Exception:
            # completed but unreadable — ALSO consumed: a permanently-raising
            # observation must not accumulate in long-lived sessions
            # (advice r4 #3); it will never become readable later.
            STAGE_OBSERVATIONS.pop(name, None)
            continue
        STAGE_OBSERVATIONS.pop(name, None)
    return out


def clear_observations(prefix: str = "") -> int:
    """Drop registered observations matching ``prefix`` (all by default) —
    the explicit stage-boundary hook for long-lived sessions; returns how
    many were dropped."""
    names = [n for n in STAGE_OBSERVATIONS if n.startswith(prefix)]
    for n in names:
        STAGE_OBSERVATIONS.pop(n, None)
    return len(names)


def _row_checksum(df: DataFrame) -> F.Column:
    """Order-insensitive row checksum: crc32 of the canonical JSON of all
    columns.  Summed per group → insensitive to row order and partitioning."""
    return F.crc32(F.to_json(F.struct(*[F.col(c) for c in df.columns])).cast("binary"))


def observe_stage(df: DataFrame, stage: str) -> tuple[DataFrame, Observation]:
    """Attach a uniquely-named observation: rows + checksum, evaluated for
    free with whatever action executes the plan.  Usage:

        df, obs = observe_stage(df, 'convert')
        df.write...   # any action
        obs.get  # {'rows': ..., 'checksum': ...}
    """
    obs = Observation(f"{stage}_{next(_OBS_COUNTER)}")
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(_row_checksum(df)).alias("checksum")), obs


# how long a commit waits for its write's observed metrics to arrive
_OBSERVATION_TIMEOUT_S = 30.0


def observation_result(obs: Observation) -> dict:
    """The metrics of ``obs`` once its action has run; raises if they are not
    delivered within ``_OBSERVATION_TIMEOUT_S`` (``obs.get`` alone would block
    forever on an observation whose action never ran)."""
    import time

    deadline = time.monotonic() + _OBSERVATION_TIMEOUT_S
    ready = _probe_completed(obs, deadline)
    if ready is None:  # API drift — public fallback with bounded wait
        row = _get_with_timeout(obs, deadline - time.monotonic())
    else:
        row = obs.get if ready else None
    if row is None:
        raise RuntimeError(
            f"observation {obs._name!r} was not delivered within {_OBSERVATION_TIMEOUT_S}s"
        )
    return row


def append_lineage(rows: list[dict], lineage_path: str) -> None:
    """Append lineage rows to the parquet ``_lineage`` table (the engine's
    metrics sink; an Iceberg metadata table in production).

    Written in-process with pyarrow, no Spark job: one small parquet file
    per call, hidden while written and renamed into place, so a reader
    never sees a torn file.  Rows are coerced to ``schema.LINEAGE_SCHEMA`` first
    (``committed_at`` defaults to now, extra keys are dropped) — a drifted
    producer (missing snapshot_id, wrong dtype) fails here, at the write
    boundary, not at some later reconciliation read."""
    import uuid
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import LINEAGE_SCHEMA

    names = [f.name for f in LINEAGE_SCHEMA.fields]
    now = datetime.now(timezone.utc)
    rows = [{"committed_at": now, **r} for r in rows]
    missing = {n for r in rows for n in names if r.get(n) is None}
    if missing:
        raise ValueError(f"lineage rows missing columns: {sorted(missing)}")
    table = pa.Table.from_pylist(
        [{n: r[n] for n in names} for r in rows], schema=to_arrow_schema(LINEAGE_SCHEMA)
    )
    os.makedirs(lineage_path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(lineage_path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(lineage_path, name))


def stage_totals(spark, lineage_path: str) -> dict[str, tuple[int, int]]:
    """Reconcile every stage at once: ``{stage: (rows, checksum)}`` summed
    over each stage's LATEST snapshot — summing all history would
    double-count recomputed stages.  One aggregation over the whole lineage
    table, read under its declared schema."""
    from .schema import LINEAGE_SCHEMA

    if not os.path.isdir(lineage_path):
        return {}
    lin = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    rows = (
        lin.groupBy("stage", "snapshot_id")
        .agg(F.sum("row_count").alias("r"), F.sum("checksum").alias("c"))
        .collect()
    )
    latest: dict[str, tuple[int, tuple[int, int]]] = {}
    for r in rows:
        if r["stage"] not in latest or r["snapshot_id"] > latest[r["stage"]][0]:
            latest[r["stage"]] = (r["snapshot_id"], (int(r["r"]), int(r["c"])))
    return {stage: totals for stage, (_, totals) in latest.items()}


def total_from_lineage(spark, lineage_path: str, stage: str) -> tuple[int, int]:
    """One stage of :func:`stage_totals`: (total rows, total checksum) at the
    stage's latest snapshot; (0, 0) if absent."""
    return stage_totals(spark, lineage_path).get(stage, (0, 0))

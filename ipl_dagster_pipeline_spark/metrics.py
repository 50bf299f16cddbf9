"""Per-stage lineage + row-count/checksum metrics (north rule; SURVEY §2.2 K6).

Reference precedent: every publish emits ``num_rows`` output metadata
(postgis_geopandas_io_manager.py:103,260) and dedup deltas are warned
(lamassu.py:306-311).  Here the numbers ride the commit itself:

* ``observe_stage`` attaches rows + checksum to the frame being committed,
  so the commit's own write computes them — no second pass over the data;
* the commit checks the observed rows against the parquet footers and
  records each file's row count in the snapshot manifest (``io.py``);
* operators that cap or drop rows (LSH oversized buckets, duplicate ids)
  ``register_observation`` their counts with the stage's scope
  (``caching.tracked_scope``), and the stage sums them per prefix
  (``scope_observations``) — the dedup-delta warning made queryable;
* ``append_lineage`` adds one row per commit (``partition_id = -1``, the
  drop counts in its ``observations`` map) to the parquet ``_lineage``
  table with pyarrow, in-process — no Spark job;
* ``stage_totals`` reconciles every stage's latest snapshot, reading the
  lineage table back with pyarrow — no Spark job either.

Checksums are order-insensitive (sum of per-row crc32 of the row's JSON) so
they are stable under any partitioning/parallelism, and a recount of the
committed snapshot gives the same number.
"""

from __future__ import annotations

import itertools
import os
import threading
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .caching import current_scope

_OBS_COUNTER = itertools.count()
# how long a stage waits, in all, for the Observations of its scope
_SCOPE_OBSERVATION_TIMEOUT_S = 1.0


def register_observation(prefix: str) -> Observation:
    """A fresh Observation named ``<prefix>_<n>`` for an operator that caps
    or drops rows.  Inside a ``caching.tracked_scope`` (every checkpointed
    stage opens one) it joins that scope, so the stage reports its counts
    on the lineage row (:func:`scope_observations`); outside a scope only
    the caller holds it."""
    obs = Observation(f"{prefix}_{next(_OBS_COUNTER)}")
    scope = current_scope()
    if scope is not None:
        scope.observations.append(obs)
    return obs


def _probe_completed(obs: Observation, deadline: float) -> bool | None:
    """True/False = the pinned-Spark private probe (``obs._jo.future()``)
    says completed / not completed by ``deadline``; None = the probe API is
    gone (Spark upgrade drift) — caller must use the public fallback."""
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


def _read(obs: Observation, deadline: float) -> dict | None:
    """The metrics of ``obs`` if they arrive by ``deadline``, else None: the
    pinned-Spark completion probe first, the public fallback if it drifted
    — a bounded wait, never silently-off (round-3 verdict #3)."""
    ready = _probe_completed(obs, deadline)
    if ready is None:
        return _get_with_timeout(obs, deadline - time.monotonic())
    return obs.get if ready else None


def scope_observations(observations: list[Observation]) -> dict[str, int]:
    """``{"<prefix>.<metric>": n}``: the metrics of a scope's Observations
    (each named ``<prefix>_<n>``) summed per prefix, NULL counting 0; all
    share one ``_SCOPE_OBSERVATION_TIMEOUT_S`` deadline for the
    listener-async delivery.

    Caveat: an Observation not delivered by the deadline is left out — its
    plan branch never ran, e.g. AQE pruned it away entirely (empty-relation
    propagation when EVERY bucket was dropped).  Treat "absent" as "branch
    never executed", not as zero."""
    deadline = time.monotonic() + _SCOPE_OBSERVATION_TIMEOUT_S
    out: dict[str, int] = {}
    for obs in observations:
        try:
            row = _read(obs, deadline) or {}
        except Exception:  # completed but unreadable: its action failed
            row = {}
        prefix = obs._name.rsplit("_", 1)[0]
        for metric, value in row.items():
            key = f"{prefix}.{metric}"
            out[key] = out.get(key, 0) + int(value or 0)
    return out


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
    row = _read(obs, time.monotonic() + _OBSERVATION_TIMEOUT_S)
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
    (``committed_at`` defaults to now, extra keys are dropped, a missing
    nullable column is NULL) — a drifted producer (missing snapshot_id,
    wrong dtype) fails here, at the write boundary, not at some later
    reconciliation read."""
    import uuid
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import LINEAGE_SCHEMA

    names = [f.name for f in LINEAGE_SCHEMA.fields]
    now = datetime.now(timezone.utc)
    rows = [{"committed_at": now, **r} for r in rows]
    required = [f.name for f in LINEAGE_SCHEMA.fields if not f.nullable]
    missing = {n for r in rows for n in required if r.get(n) is None}
    if missing:
        raise ValueError(f"lineage rows missing columns: {sorted(missing)}")
    table = pa.Table.from_pylist(
        [{n: r.get(n) for n in names} for r in rows], schema=to_arrow_schema(LINEAGE_SCHEMA)
    )
    os.makedirs(lineage_path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(lineage_path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(lineage_path, name))


def stage_totals(lineage_path: str) -> dict[str, tuple[int, int]]:
    """Reconcile every stage at once: ``{stage: (rows, checksum)}`` summed
    over each stage's LATEST snapshot — summing all history would
    double-count recomputed stages.

    The lineage table is tiny and written by pyarrow, so pyarrow reads it
    back under the declared schema, starting no Spark job: files written
    before a nullable column existed read it as NULL, and the hidden
    ``.part-*.tmp`` files of a write in flight are skipped."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import LINEAGE_SCHEMA

    if not os.path.isdir(lineage_path):
        return {}
    lin = ds.dataset(lineage_path, schema=to_arrow_schema(LINEAGE_SCHEMA), format="parquet")
    sums: dict[tuple[str, int], tuple[int, int]] = {}
    for r in lin.to_table(columns=["stage", "snapshot_id", "row_count", "checksum"]).to_pylist():
        rows, checksum = sums.get((r["stage"], r["snapshot_id"]), (0, 0))
        sums[r["stage"], r["snapshot_id"]] = (rows + r["row_count"], checksum + r["checksum"])
    latest = {stage: snap for stage, snap in sorted(sums)}  # the last snapshot wins
    return {stage: sums[stage, snap] for stage, snap in latest.items()}


def total_from_lineage(spark, lineage_path: str, stage: str) -> tuple[int, int]:
    """One stage of :func:`stage_totals`: (total rows, total checksum) at the
    stage's latest snapshot; (0, 0) if absent.  ``spark`` is unused: the
    lineage table is read with pyarrow."""
    return stage_totals(lineage_path).get(stage, (0, 0))

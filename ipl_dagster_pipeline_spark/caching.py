"""Deterministic release of persisted intermediates.

Several operators persist mid-pipeline frames that are read more than once
(MinHash shingles, LSH band/bucket frames, the prefix-sum local cumsums).
Within one query that is correct and necessary — but in a long-lived session
(bench reruns, the multi-stage curation job) the blocks would pin executor
storage until LRU eviction.

Every operator persist goes through :func:`tracked_persist`, always at
``MEMORY_AND_DISK`` (what executor memory cannot hold spills to
``spark.local.dir`` instead of being recomputed); after the action that
consumes a stage, the caller releases everything with :func:`release_tracked`
(the checkpointed pipeline does this automatically per stage).  Reference precedent for explicit resource hygiene at stage
boundaries: the io-manager closes its COPY buffers per publish
(postgis_geopandas_io_manager.py:96-107).

Concurrency contract (round-3 ADVICE): the global registry is
lock-protected, and a pipeline that shares one SparkSession with OTHER
concurrently running pipelines should wrap its work in
:func:`tracked_scope` — persists registered on that thread inside the scope
are released at scope exit and never touch the global registry, so one
pipeline's release can't unpersist a frame another thread still reads.
Unscoped use keeps the original single-pipeline-at-a-time semantics.
A scope also holds the Observations (capped operators' drop counts,
``metrics.register_observation``) its thread registers, until it exits.

Spark's cache is keyed by query plan, not by DataFrame object: a second
persist of a plan that is already cached is a no-op, and unpersisting
EITHER frame drops the one shared entry.  Two concurrent stages that run
the same fit (``trainer_prep``'s ``edges`` and ``psi`` both persist the
same prefix-sum local) would otherwise lose the cache under the slower
one, which then recomputes it through a fresh range shuffle whose sampled
bounds need not match the offsets it already collected.  So every
registration holds the shared entry: persists of semantically equal plans
(``DataFrame.sameSemantics``, the match Spark's cache uses) count as holders
of one entry, and a release unpersists only when the last holder lets go.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []
_SCOPES = threading.local()  # .stack: list[Scope] per thread
# semanticHash -> [[first frame persisted with that plan, holders], ...]:
# one entry per shared Spark cache entry, guarded by _LOCK
_HOLDS: dict[int, list[list]] = {}


@dataclass
class Scope:
    """What one :func:`tracked_scope` owns on its thread."""

    frames: list[DataFrame] = field(default_factory=list)
    observations: list[Observation] = field(default_factory=list)


def current_scope() -> Scope | None:
    """The innermost :func:`tracked_scope` open on this thread, if any."""
    stack = getattr(_SCOPES, "stack", None)
    return stack[-1] if stack else None


def tracked_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (``MEMORY_AND_DISK``) and register it for a later
    bulk release.

    Registers with the innermost active :func:`tracked_scope` on this thread
    if one exists, else with the process-global registry.  A plan another
    live registration already persisted adds a holder to that cache entry
    instead of a second entry (see the module docstring)."""
    h = df.semanticHash()  # analyzes the plan outside the lock
    with _LOCK:
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        entries = _HOLDS.setdefault(h, [])
        held = _held(entries, out)
        if held is None:
            entries.append([out, 1])
        else:
            held[1] += 1
        scope = current_scope()
        (scope.frames if scope else _TRACKED).append(out)
    return out


def _release(frames: list[DataFrame], blocking: bool) -> int:
    n = 0
    while frames:
        frame = frames.pop()
        try:
            # under the lock: a sibling's persist of the same plan either
            # lands before (and keeps the entry held) or after the unpersist
            with _LOCK:
                if _let_go(frame):
                    frame.unpersist(blocking)
        except Exception:  # session already stopped — nothing to release
            pass
        n += 1
    return n


def _held(entries: list[list], frame: DataFrame) -> list | None:
    """The entry whose cache entry ``frame`` shares: same SparkContext (one
    cache manager) and the same plan by Spark's own cache match."""
    sc = frame.sparkSession.sparkContext
    return next(
        (e for e in entries if e[0].sparkSession.sparkContext is sc and e[0].sameSemantics(frame)),
        None,
    )


def _let_go(frame: DataFrame) -> bool:
    """Drop one holder of ``frame``'s cache entry; True when it was the last."""
    h = frame.semanticHash()
    entries = _HOLDS.get(h, [])
    held = _held(entries, frame)
    if held is None:  # not registered: release it as before
        return True
    held[1] -= 1
    if held[1]:
        return False
    entries.remove(held)
    if not entries:
        del _HOLDS[h]
    return True


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every GLOBALLY tracked frame; returns how many were
    released.  Scoped frames (inside a :func:`tracked_scope`) are not
    touched — their scope owns them."""
    with _LOCK:
        frames, _TRACKED[:] = _TRACKED[:], []
    return _release(frames, blocking)


@contextmanager
def tracked_scope() -> Iterator[Scope]:
    """Isolate this thread's tracked persists and Observations: frames
    persisted inside the ``with`` block are released (non-blocking) at
    exit, and a concurrent pipeline calling :func:`release_tracked` (or
    running its own scope) cannot release them; the Observations are
    dropped at exit."""
    stack = getattr(_SCOPES, "stack", None)
    if stack is None:
        stack = _SCOPES.stack = []
    scope = Scope()
    stack.append(scope)
    try:
        yield scope
    finally:
        stack.pop()
        scope.observations.clear()
        _release(scope.frames, False)

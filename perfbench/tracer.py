"""Spans around calls into the package, and Spark engine counts per span.

A span is opened by the benchmark itself, either around one of its own
calls or by a wrapper patched over a public function of the package for
the length of a traced run (``Tracer.wrap`` / ``Tracer.wrap_function``;
``Tracer.restore`` takes every patch off again).  Nothing in the package is
edited.  Each span records name, layer, start, end, parent span and run id,
and is kept in memory until ``Tracer.write`` dumps them as JSON.

While a span is open its id is the Spark job group, so every Spark job
knows the innermost span that started it.  ``Tracer.engine_counts`` reads
Spark's status stores once the run is over and attributes jobs,
stages, SQL executions, Exchanges, shuffle/spill bytes, failed tasks,
executor run time and the Python-UDF boundary bytes to spans.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024
# spans whose jobs are the committing or forcing action; every other job is
# "eager" (started while a plan was being built, or a second action)
ACTION_LAYERS = ("io", "action")
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def parse_size(text: str) -> int:
    """Bytes in a formatted SQL size metric ("total (min, med, max ...)\\n
    1.2 MiB (...)" or "1.2 MiB"): the first value is the total."""
    m = _SIZE_RE.search(text.split("\n", 1)[-1])
    return int(float(m.group(1).replace(",", "")) * _SIZE[m.group(2)]) if m else 0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; files starting with ``.`` or
    ``_`` (checksums, _SUCCESS) are not data files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += not n.startswith((".", "_"))
    return size, files


@dataclass
class Span:
    sid: str
    run_id: str
    name: str
    layer: str
    parent: str | None
    start: float = 0.0
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _set_group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top.sid, top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, layer: str, name: str):
        t0 = time.perf_counter()
        sp = Span(
            sid=f"{self.run_id}/{len(self.spans)}",
            run_id=self.run_id,
            name=name,
            layer=layer,
            parent=self._stack[-1].sid if self._stack else None,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group()
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group()
            self.overhead_s += time.perf_counter() - sp.end

    # -- patching public functions -----------------------------------------

    def wrap(self, owner, attr: str, layer: str, name=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``name`` is a string or a function of the call's positional args;
        ``after(result, args)`` may return counts to store on the span."""
        real = getattr(owner, attr)
        tracer = self

        @functools.wraps(real)
        def traced(*args, **kwargs):
            label = name(args) if callable(name) else name or attr
            with tracer.span(layer, label) as sp:
                out = real(*args, **kwargs)
                if after is not None:
                    t0 = time.perf_counter()
                    sp.counts.update(after(out, args))
                    tracer.overhead_s += time.perf_counter() - t0
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, real))

    def wrap_function(self, module, attr: str, layer: str, name=None) -> None:
        """Wrap a module-level function in its module and in every loaded
        module that imported it by name."""
        real = getattr(module, attr)
        for mod in [m for m in list(sys.modules.values()) if m is not None]:
            if mod is module or getattr(mod, attr, None) is real:
                self.wrap(mod, attr, layer, name)

    def restore(self) -> None:
        while self._patches:
            owner, attr, real = self._patches.pop()
            setattr(owner, attr, real)

    # -- engine counts -----------------------------------------------------

    def engine_counts(self) -> None:
        """Attribute every Spark job, stage and SQL execution of this run to
        the span that started it; stores the totals in ``span.counts``.
        Call it after the timed region: it waits for the listener bus."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_sid = {sp.sid: sp for sp in self.spans}
        job_span: dict[int, Span] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            group = jd.jobGroup()
            sp = by_sid.get(group.get()) if group.isDefined() else None
            if sp is None:
                continue
            job_span[jd.jobId()] = sp
            _add(sp, "jobs", 1)
            for sid in _seq(jd.stageIds()):
                sp.counts.setdefault("_stages", set()).add(int(sid))
        seen: set[int] = set()
        for sp in self.spans:
            for sid in sorted(sp.counts.pop("_stages", ())):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage the store never saw ran nothing
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                _add(sp, "stages", 1)
                _add(sp, "tasks", st.numTasks())
                _add(sp, "failed_tasks", st.numFailedTasks())
                _add(sp, "executor_run_s", st.executorRunTime() / 1000.0)
                _add(sp, "shuffle_write_bytes", st.shuffleWriteBytes())
                _add(sp, "spill_bytes", st.diskBytesSpilled())
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            job_ids = [int(j) for j in _seq(ex.jobs().keys().toSeq())]
            owners = [job_span[j] for j in job_ids if j in job_span]
            if not owners:
                continue
            sp = owners[0]
            _add(sp, "sql_executions", 1)
            values = None
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                label = node.name()
                if label == "Exchange":
                    _add(sp, "exchanges", 1)
                elif "Pandas" in label or "Python" in label:
                    if values is None:
                        values = _metric_values(sql.executionMetrics(ex.executionId()))
                    metrics = node.metrics()
                    for m in range(metrics.size()):
                        pm = metrics.apply(m)
                        key = {_PY_SENT: "udf_bytes_to_python", _PY_BACK: "udf_bytes_from_python"}.get(pm.name())
                        if key:
                            _add(sp, key, parse_size(values.get(pm.accumulatorId(), "")))

    # -- output ------------------------------------------------------------

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's children."""
        child: dict[str, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.seconds
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.layer] = out.get(sp.layer, 0.0) + sp.seconds - child.get(sp.sid, 0.0)
        return out

    def total(self, key: str, layers: tuple[str, ...] | None = None, exclude: bool = False) -> float:
        return sum(
            sp.counts.get(key, 0)
            for sp in self.spans
            if layers is None or ((sp.layer in layers) != exclude)
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(sp) for sp in self.spans], fh, indent=1, default=list)


def _add(sp: Span, key: str, value) -> None:
    sp.counts[key] = sp.counts.get(key, 0) + value


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _metric_values(scala_map) -> dict[int, str]:
    """accumulator id → formatted value, from a Scala ``Map[Long, String]``
    (one py4j round trip; py4j would look a Long key up as an Integer)."""
    out: dict[int, str] = {}
    for entry in scala_map.mkString("\x1e").split("\x1e"):
        key, sep, value = entry.partition(" -> ")
        if sep and key.strip().lstrip("-").isdigit():
            out[int(key)] = value
    return out

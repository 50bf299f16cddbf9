"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload feature_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One client runs one iteration at a time
(closed loop) on ``local[nproc]`` with ``nproc`` shuffle partitions:

1. set-up, three times: restart the SparkContext (``bench.fresh_session``;
   the first time this launches the JVM), generate the seeded inputs as
   parquet and scan them once.  ``setup_s`` is the median of the three;
2. check the outputs (``checks`` of the workload), untimed.  For
   ``feature_query`` the checks run first and are the warm-up: they run the
   same operators as an iteration, and its users query a warm session.
   ``pretrain_prep`` is a spark-submit job that pays its cold start on every
   run, so its timed iteration comes first and the checks read its output
   afterwards;
3. measure: whole iterations until ``--seconds`` have passed, at least one;
   with ``--trace 1`` every iteration is traced.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the ``end_to_end`` metrics of BENCHMARK.json
with ``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.  The line
before it is a readable summary with ``failed_frac`` and the core count.
Everything the run writes stays under ``.bench_work/`` in the checkout;
spans of traced runs are kept in ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

from tracer import ACTION_LAYERS, MB, Tracer
from workloads import WORKLOADS, write_region

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3


class RssSampler:
    """Samples a process's resident set size; ``peak`` is the high-water."""

    def __init__(self, pid: int, every_s: float = 0.05) -> None:
        self.path = f"/proc/{pid}/status"
        self.every_s = every_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open(self.path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    self.peak = max(self.peak, int(line.split()[1]) * 1024)
                    return

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.every_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


def run_checks(wl, spark, out: str, seed: int, state_dir: str) -> dict[str, bool]:
    t0 = time.perf_counter()
    try:
        checks = wl.checks(spark, out, seed, state_dir)
    except Exception:  # noqa: BLE001 — a check that cannot run has failed
        traceback.print_exc()
        checks = {"checks_ran": False}
    for name, ok in checks.items():
        if not ok:
            print(f"check failed: {name}", file=sys.stderr)
    print(f"checks: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    return checks


def layer_metrics(tracer, wall_s: float, cpus: int) -> dict[str, float]:
    """Per-layer metrics of one traced iteration, keyed like BENCHMARK.json."""
    m: dict[str, float] = {}
    for sp in tracer.spans:
        m[f"{sp.name}_s"] = m.get(f"{sp.name}_s", 0.0) + sp.seconds
        m[f"{sp.name}#"] = m.get(f"{sp.name}#", 0) + 1
    for layer, s in tracer.self_seconds().items():
        key = f"self.{layer.split('.')[0]}_s"
        m[key] = m.get(key, 0.0) + s
    m.update(
        {
            "io.commits": m.get("io.commit#", 0),
            "io.commit_mb": tracer.total("bytes", ("io",)) / MB,
            "io.files_written": tracer.total("files", ("io",)),
            "caching.tracked_persists": m.get("caching.tracked_persist#", 0),
            "udf.mb_to_python": tracer.total("udf_bytes_to_python") / MB,
            "udf.mb_from_python": tracer.total("udf_bytes_from_python") / MB,
            "spark.jobs": tracer.total("jobs"),
            "spark.eager_jobs": tracer.total("jobs", ACTION_LAYERS, exclude=True),
            "spark.stages": tracer.total("stages"),
            "spark.exchanges": tracer.total("exchanges"),
            "spark.shuffle_write_mb": tracer.total("shuffle_write_bytes") / MB,
            "spark.spill_mb": tracer.total("spill_bytes") / MB,
            "spark.failed_tasks": tracer.total("failed_tasks"),
            "spark.core_busy_frac": tracer.total("executor_run_s") / (cpus * wall_s),
            "trace.run_s": wall_s,
            "trace.overhead_s": tracer.overhead_s,
            "trace.spans": len(tracer.spans),
        }
    )
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # the JVM's own temp files (native libs, artifacts) and no
        # /tmp/hsperfdata file: a run writes only inside the checkout
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SHUFFLE=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from bench import force, fresh_session

        wl = WORKLOADS[args.workload](args.tiny)
        # -- set-up ---------------------------------------------------------
        setup_s, get_spark_s, generate_s = [], [], []
        for k in range(SETUPS):
            inp = os.path.join(work, f"input{k}")
            t0 = time.perf_counter()
            write_region(inp)
            spark = fresh_session(cpus, inp)
            t1 = time.perf_counter()
            wl.generate(spark, inp, args.seed)
            t2 = time.perf_counter()
            setup_s.append(t2 - t0)
            get_spark_s.append(t1 - t0)
            generate_s.append(t2 - t1)
            print(f"set-up {k + 1}: {t2 - t0:.3f} s", file=sys.stderr)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        state_dir = os.path.join(ROOT, ".bench_work", "expected")
        checks = None
        if wl.warm:
            checks = run_checks(wl, spark, "", args.seed, state_dir)

        # -- measure --------------------------------------------------------
        times: list[float] = []
        traced: list[dict[str, float]] = []
        tracers = []
        errors = 0
        out = ""
        start = time.perf_counter()
        with RssSampler(jvm_pid) as rss:
            while True:
                if out:
                    shutil.rmtree(out, ignore_errors=True)
                out = os.path.join(work, f"out{len(times) + errors}")
                tracer = Tracer(spark, f"{wl.name}-seed{args.seed}-it{len(tracers)}") if args.trace else None
                if tracer is not None:
                    wl.wrap(tracer)
                t0 = time.perf_counter()
                ok = False
                try:
                    wl.iterate(spark, out, tracer, force)
                    times.append(time.perf_counter() - t0)
                    print(f"iteration {len(times)}: {times[-1]:.3f} s", file=sys.stderr)
                    ok = True
                except Exception:  # noqa: BLE001 — a failed iteration is counted, not fatal
                    traceback.print_exc()
                    errors += 1
                finally:
                    if tracer is not None:
                        tracer.restore()
                if ok and tracer is not None:
                    tracer.engine_counts()
                    m = layer_metrics(tracer, times[-1], cpus)
                    m.update(wl.layer_counts(spark, out))
                    traced.append(m)
                    tracers.append(tracer)
                if time.perf_counter() - start >= args.seconds:
                    break
        if not times:
            raise RuntimeError("every iteration failed")

        if checks is None:
            checks = run_checks(wl, spark, out, args.seed, state_dir)
        for tr in tracers:
            tr.write(os.path.join(ROOT, ".bench_work", "traces", f"{tr.run_id}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    run_s = statistics.median(times)
    if args.trace:
        values = {k: statistics.median(m.get(k, 0.0) for m in traced) for k in {d["name"] for d in declared}}
        values.update(
            {
                "session.get_spark_s": statistics.median(get_spark_s),
                "sources.generate_s": statistics.median(generate_s),
                "spark.cores": cpus,
                "jvm.peak_rss_mb": rss.peak / MB,
            }
        )
    else:
        values = {
            "setup_s": statistics.median(setup_s),
            "run_s": run_s,
            "rows_per_s": wl.rows / run_s,
        }
    attempted = len(times) + errors + len(checks)
    failed = errors + sum(not ok for ok in checks.values())
    metrics = {d["name"]: {"value": values.get(d["name"], 0.0), "unit": d["unit"]} for d in declared}
    summary = " | ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    print(
        f"{wl.name} seed={args.seed} cpus={cpus} iterations={len(times)} "
        f"failed_frac={failed / attempted:.3g} | {summary}"
    )
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

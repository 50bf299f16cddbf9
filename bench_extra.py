"""Round-7 optimization harness — NOT the driver contract (bench.py is frozen).

Isolated per-query timing with the noop sink (guide §1.4) plus
``.explain("formatted")`` capture for plan evidence (guide §7.2).

Usage:
    python bench_extra.py time  <query> [<query> ...]   # isolated steady timing
    python bench_extra.py plan  <tag> <query> [...]     # dump plans/r07/<query>_<tag>.txt
    python bench_extra.py jobs  <query>                 # count Spark jobs/stages for one run

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), BENCH_EXTRA_REPS (default 3 timed reps after 1 warm).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from bench import force, fresh_session
from ipl_dagster_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
    mode = sys.argv[1]
    if mode == "plan":
        tag, names = sys.argv[2], sys.argv[3:]
    else:
        tag, names = "", sys.argv[2:]

    qs = entry_mod.all_queries()
    spark = get_spark(app_name="ipl-bench-extra", master=f"local[{cpus}]", shuffle_partitions=int(cpus))

    if mode == "plan":
        os.makedirs("plans/r07", exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            path = f"plans/r07/{name}_{tag}.txt"
            with open(path, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
            from ipl_dagster_pipeline_spark.caching import release_tracked

            release_tracked()
            print("wrote", path)
        return

    if mode == "jobs":
        name = names[0]
        sc = spark.sparkContext
        t0 = sc._jsc.sc().dagScheduler().nextJobId().get()
        force(qs[name](spark, sf_dir))
        t1 = sc._jsc.sc().dagScheduler().nextJobId().get()
        print(json.dumps({"query": name, "jobs": t1 - t0}))
        return

    # mode == "time": per query — warm once in the shared session, then `reps`
    # timed runs in a fresh context each (bench.py steady methodology).
    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warm:{name}")
        force(qs[name](spark, sf_dir))
    for name in names:
        ts = []
        for _ in range(reps):
            spark = fresh_session(cpus, sf_dir)
            spark.sparkContext.setJobDescription(f"steady:{name}")
            t0 = time.perf_counter()
            force(qs[name](spark, sf_dir))
            ts.append(round(time.perf_counter() - t0, 3))
        out[name] = {"best": min(ts), "samples": ts}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()

"""Layered profile of bench.py leaves or declared queries, read from Spark's event log.

    python tools/profile_layers.py <tag> [name ...]

A name is a bench.py leaf (``bench.headline_queries()``) or a declared
query (``__spark_entry__.queries()``); with no names, all bench.py
leaves run. Each query runs once untimed (JIT, Python workers, session
memos), then once profiled. The profiled run tags the jobs its plan
build launches ``<name>:build`` and the jobs of its action ``<name>``,
times the driver-side phases, and writes the formatted plan to
``plans/r08/<name>_<tag>.txt``. After ``spark.stop()`` it reads the event
log and prints one row per query; all times are seconds:

    wall_s      the whole query, build to end of action
    build_s     driver time building the DataFrame, less bbusy_s
    bjobs       jobs the build launched (eager checkpoints, collects)
    bbusy_s     union of those jobs' intervals
    catalyst_s  analysis, optimisation and physical planning (executedPlan())
    busy_s      union of the action's job intervals
    gap_s       driver time in the action outside its jobs
    jobs stages tasks           counts over build and action
    task_s cpu_s gc_s           summed task run, CPU and GC time
    py_rows arrow_mb            rows out of Python UDF nodes; Arrow MB both ways
    shuffle_mb bcast_mb         shuffle MB written; broadcast MB built
    job_s       each job's duration in start order, build | action

build_s + bbusy_s + catalyst_s + busy_s + gap_s is wall_s, less the
py4j calls that switch tags. A build job counted in the action makes
gap_s negative.

Environment: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS
(local[N], default min(4, cores)). The session is perfbench's
(``perfbench.run.start_session``); its files live under
``.profile_work/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402
from perfbench.eventlog import TAG_PROPERTY, TagStats, read_events, stats_by_tag  # noqa: E402
from perfbench.run import CORES, shutdown_jvm, start_session  # noqa: E402

PLANS = os.path.join(ROOT, "plans", "r08")
COLUMNS = ("query", "wall_s", "build_s", "bjobs", "bbusy_s", "catalyst_s", "busy_s", "gap_s",
           "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "py_rows", "arrow_mb",
           "shuffle_mb", "bcast_mb", "job_s")


def profile(spark, name: str, fn, sf_dir: str, tag: str) -> dict:
    """Run one query with its build and action jobs tagged apart."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    sc.setLocalProperty(TAG_PROPERTY, name + ":build")
    t1 = time.perf_counter()
    df = fn(spark, sf_dir)
    t2 = time.perf_counter()
    sc.setLocalProperty(TAG_PROPERTY, name)
    t3 = time.perf_counter()
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    t4 = time.perf_counter()
    bench.force(df)
    t5 = time.perf_counter()
    sc.setLocalProperty(TAG_PROPERTY, None)
    t6 = time.perf_counter()
    with open(os.path.join(PLANS, f"{name}_{tag}.txt"), "w", encoding="utf-8") as f:
        f.write(sc._jvm.PythonSQLUtils.explainString(qe, "formatted"))
    return {"wall": t6 - t0, "build": t2 - t1, "catalyst": t4 - t3, "action": t5 - t4}


def row(name: str, t: dict, stats: dict) -> list[str]:
    build = stats.get(name + ":build") or TagStats()
    act = stats.get(name) or TagStats()
    both = (build, act)

    def total(f):
        return sum(f(s) for s in both)

    def durations(s):
        return ",".join(f"{(e - b) / 1e3:.2f}" for b, e in sorted(s.intervals))

    bbusy, busy = build.busy_ms() / 1e3, act.busy_ms() / 1e3
    arrow = total(lambda s: s.python("data sent to Python workers")
                  + s.python("data returned from Python workers"))
    bcast = total(lambda s: s.node_sum("data size", nodes=("BroadcastExchange",)))
    mb = 1e6
    return [
        name,
        f"{t['wall']:.3f}",
        f"{t['build'] - bbusy:.3f}",
        str(build.jobs),
        f"{bbusy:.3f}",
        f"{t['catalyst']:.3f}",
        f"{busy:.3f}",
        f"{t['action'] - busy:.3f}",
        str(total(lambda s: s.jobs)),
        str(total(lambda s: s.stages)),
        str(total(lambda s: s.tasks)),
        f"{total(lambda s: s.run_ms) / 1e3:.2f}",
        f"{total(lambda s: s.cpu_ns) / 1e9:.2f}",
        f"{total(lambda s: s.gc_ms) / 1e3:.2f}",
        str(int(total(lambda s: s.python("number of output rows")))),
        f"{arrow / mb:.2f}",
        f"{total(lambda s: s.shuffle_write_bytes) / mb:.2f}",
        f"{bcast / mb:.2f}",
        f"{durations(build)}|{durations(act)}",
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tag", help="plan dumps go to plans/r08/<name>_<tag>.txt")
    ap.add_argument("names", nargs="*", help="bench.py leaves or declared queries")
    args = ap.parse_args(argv)

    leaves, declared = bench.headline_queries(), entry.queries()
    unknown = [n for n in args.names if n not in leaves and n not in declared]
    if unknown:
        ap.error(f"unknown queries {unknown}")
    qs = {n: leaves.get(n) or declared[n] for n in args.names} or leaves
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", CORES))

    work = os.path.join(ROOT, ".profile_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(PLANS, exist_ok=True)
    # keep every temporary file of Python, the JVM and Spark in the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    event_dir = os.path.join(work, "eventlog")
    spark = None
    try:
        spark, _ = start_session(work, event_dir, cores)
        for fn in qs.values():
            bench.force(fn(spark, sf_dir))
        times = {name: profile(spark, name, fn, sf_dir, args.tag) for name, fn in qs.items()}
        spark.stop()  # flushes and closes the event log
        spark = None
        stats = stats_by_tag(read_events(event_dir))
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    rows = [list(COLUMNS)] + [row(name, t, stats) for name, t in times.items()]
    widths = [max(len(r[i]) for r in rows) for i in range(len(COLUMNS))]
    print(f"# {sf_dir} local[{cores}] tag={args.tag}")
    for r in rows:
        print("  ".join(v.ljust(w) if i in (0, len(r) - 1) else v.rjust(w)
                        for i, (v, w) in enumerate(zip(r, widths))).rstrip())
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload zonal-pages --seed 1 --seconds 10 --trace 0

Runs one workload of perfbench/workloads.py on ``local[N]`` (N = min(4,
cores)) and prints, as the last line of standard output, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same work with Spark's
event log on and reports the per-layer metrics read from that log, plus
the traced run's own end-to-end figures (``trace.*``) to set against an
untraced run of the same seed. Every file the run writes lives
under ``.perfbench_work/`` in the repository root and is removed at exit.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"
# the warm-up round pays the cold JVM, Python-worker and first-use costs;
# the JIT keeps improving for several operations after it, which long
# runs and medians absorb more cheaply than more warm-up rounds
WARMUP_ROUNDS = 1


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.wait(0.2):
            self.sample()

    def sample(self):
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{name}/statm", encoding="ascii") as f:
                    rss[int(name)] = int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def stop(self):
        self._stop_event.set()
        self.join(timeout=5)
        self.sample()


def start_session(work: str, event_log: str | None, cores: int):
    from trefoil_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def run_rounds(spark, wl, seconds: float, label: str, ops: list) -> list:
    """Whole rounds of the workload's operations until ``seconds`` pass."""
    from perfbench.eventlog import TAG_PROPERTY
    from perfbench.workloads import Op

    sc = spark.sparkContext
    done = []
    t_end = time.perf_counter() + seconds
    while True:
        for kind in wl.round_kinds:
            i = len(ops)
            op = Op(i, kind, f"{label}:{i}:{kind}")
            sc.setLocalProperty(TAG_PROPERTY, op.tag)
            t0 = time.perf_counter()
            try:
                wl.run_op(spark, op)
            except Exception:  # one failed operation must not end the run
                op.error = traceback.format_exc()
            op.wall_s = time.perf_counter() - t0
            sc.setLocalProperty(TAG_PROPERTY, None)
            ops.append(op)
            done.append(op)
        if time.perf_counter() >= t_end:
            return done


def end_to_end(wl, ops: list, setup_s: float, peak_rss_kb: int) -> dict:
    n = len(wl.round_kinds)
    rounds = [ops[i:i + n] for i in range(0, len(ops), n)]
    m = {
        "setup_s": (setup_s, "s"),
        # median over rounds of the round's mean operation time: a round of
        # the interactive mix holds four different queries
        "op_s.p50": (statistics.median(sum(op.wall_s for op in r) / n for r in rounds), "s"),
        "items_per_s": (sum(wl.items(op) for op in ops) / sum(op.wall_s for op in ops), "items/s"),
        "peak_rss_mb": (peak_rss_kb / 1024.0, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def layer_metrics(wl, ops: list, session_s: float, e2e: dict, event_dir: str, cores: int) -> dict:
    from perfbench.eventlog import read_events, stats_by_tag

    stats = stats_by_tag(read_events(event_dir))
    ok = [op for op in ops if op.error is None]
    st = [stats.get(op.tag) for op in ok]
    pairs = [(op, s) for op, s in zip(ok, st) if s is not None]

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    def mean(values):
        values = list(values)
        return sum(values) / len(values) if values else 0.0

    def span(name):
        return med(op.clock.spans[name] for op in ok if name in op.clock.spans)

    mb = 1e6
    pip_ops = [(op, s) for op, s in pairs if "operators.pip_join.plan_s" in op.clock.spans]
    knn_ops = [(op, s) for op, s in pairs if "operators.knn.plan_s" in op.clock.spans]
    refine = sum(s.node_sum("number of output rows", nodes=("ArrowEvalPython",)) for _, s in pip_ops)
    boundary = sum(wl.boundary_rows(op) for op, _ in pip_ops)
    cand = sum(s.node_sum("number of output rows", nodes=("BroadcastHashJoin",)) for _, s in knn_ops)
    knn_pairs = sum(wl.knn_expected_pairs(op) for op, _ in knn_ops)
    action_s = sum(op.clock.spans.get("action_s", 0.0) for op, _ in pairs)
    render_ops = [(op, s) for op, s in pairs if "raster.plan_s" in op.clock.spans]

    m = {
        "session.get_spark_s": (session_s, "s"),
        "sources.pages.plan_s": (span("sources.pages.plan_s"), "s"),
        "operators.pip_join.plan_s": (span("operators.pip_join.plan_s"), "s"),
        "operators.zonal.plan_s": (span("operators.zonal.plan_s"), "s"),
        "operators.knn.plan_s": (span("operators.knn.plan_s"), "s"),
        "raster.plan_s": (span("raster.plan_s"), "s"),
        "raster.window_ops.plan_s": (span("raster.window_ops.plan_s"), "s"),
        "catalyst.plan_s": (span("catalyst.plan_s"), "s"),
        "driver.overhead_s": (
            med(op.clock.spans.get("action_s", 0.0) - s.busy_ms() / 1e3 for op, s in pairs), "s"),
        "spark.jobs": (mean(s.jobs for _, s in pairs), "count"),
        "spark.stages": (mean(s.stages for _, s in pairs), "count"),
        "spark.tasks": (mean(s.tasks for _, s in pairs), "count"),
        "spark.task_run_s": (mean(s.run_ms / 1e3 for _, s in pairs), "s"),
        "spark.task_cpu_s": (mean(s.cpu_ns / 1e9 for _, s in pairs), "s"),
        "spark.gc_s": (mean(s.gc_ms / 1e3 for _, s in pairs), "s"),
        "spark.scheduler_delay_s": (mean(s.sched_delay_ms / 1e3 for _, s in pairs), "s"),
        "spark.core_utilization": (
            sum(s.run_ms for _, s in pairs) / 1e3 / (cores * action_s) if action_s else 0.0, "ratio"),
        "spark.stage_skew": (med(s.stage_skew() for _, s in pairs), "ratio"),
        "scan.rows": (mean(s.scan_rows() for _, s in pairs), "rows"),
        "scan.mb": (mean(s.input_bytes / mb for _, s in pairs), "MB"),
        "shuffle.write_mb": (mean(s.shuffle_write_bytes / mb for _, s in pairs), "MB"),
        "shuffle.read_mb": (mean(s.shuffle_read_bytes / mb for _, s in pairs), "MB"),
        "shuffle.records": (mean(s.shuffle_records for _, s in pairs), "count"),
        "python.rows": (mean(s.python("number of output rows") for _, s in pairs), "rows"),
        "python.sent_mb": (mean(s.python("data sent to Python workers") / mb for _, s in pairs), "MB"),
        "python.received_mb": (
            mean(s.python("data returned from Python workers") / mb for _, s in pairs), "MB"),
        "python.run_s": (mean(s.python("time to run Python workers") / 1e3 for _, s in pairs), "s"),
        "python.boot_s": (mean(s.python("time to start Python workers") / 1e3 for _, s in pairs), "s"),
        # a reused worker's "initialize" clock starts when its previous task
        # ended, so this includes idle time between tasks (README)
        "python.init_s": (
            mean(s.python("time to initialize Python workers") / 1e3 for _, s in pairs), "s"),
        "spark.broadcast_s": (mean(sum(s.node_sum(m, nodes=("BroadcastExchange",)) for m in (
            "time to collect", "time to build", "time to broadcast")) / 1e3 for _, s in pairs), "s"),
        "spark.broadcast_mb": (
            mean(s.node_sum("data size", nodes=("BroadcastExchange",)) / mb for _, s in pairs), "MB"),
        "operators.pip_join.refine_rows": (refine / len(pip_ops) if pip_ops else 0.0, "rows"),
        "operators.pip_join.boundary_rows": (boundary / len(pip_ops) if pip_ops else 0.0, "rows"),
        "operators.pip_join.refine_useful": (boundary / refine if refine else 0.0, "ratio"),
        "operators.knn.candidates": (cand / len(knn_ops) if knn_ops else 0.0, "rows"),
        "operators.knn.useful": (knn_pairs / cand if cand else 0.0, "ratio"),
        "raster.render.tiles": (mean(op.png_tiles for op, _ in render_ops), "count"),
        "raster.render.png_mb": (mean(op.png_bytes / mb for op, _ in render_ops), "MB"),
        "output.write_mb": (mean(s.output_bytes / mb for _, s in pairs), "MB"),
    }
    # the traced run's own end-to-end figures: set against an untraced run
    # of the same seed they give the tracing overhead
    for k in ("setup_s", "op_s.p50", "items_per_s"):
        m["trace." + k] = (e2e[k]["value"], e2e[k]["unit"])
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def shutdown_jvm() -> None:
    """End the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=CORES,
                    help="local[N]; only the scaling reference figure changes it")
    args = ap.parse_args(argv)
    if not 1 <= args.cores <= len(os.sched_getaffinity(0)):
        ap.error("--cores must be between 1 and the number of usable cores")

    if not os.path.isfile(os.path.join(ROOT, "trefoil_spark", "__init__.py")):
        print(f"perfbench: no trefoil_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every scratch file of Python, the JVMs and Spark in the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    rss = RssSampler()
    rss.start()
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        event_dir = os.path.join(work, "eventlog") if args.trace else None
        t0 = time.perf_counter()
        spark, session_s = start_session(work, event_dir, args.cores)
        digest = wl.make_inputs()
        wl.write_inputs(spark)
        for _ in range(WARMUP_ROUNDS):
            for op in run_rounds(spark, wl, 0, "warmup", []):
                if op.error is not None:
                    raise RuntimeError(f"warm-up operation failed:\n{op.error}")
        setup_s = time.perf_counter() - t0
        if wl.make_inputs() != digest:
            raise RuntimeError("the same seed gave different inputs")
        shutil.rmtree(wl.out_dir, ignore_errors=True)
        wl.expect()

        ops = run_rounds(spark, wl, args.seconds, args.workload, [])
        spark.stop()
        spark = None
        rss.stop()

        wrong = 0
        for op in ops:
            if op.error is None:
                try:
                    op.error = wl.check(op)
                except Exception:
                    op.error = traceback.format_exc()
                wrong += op.error is not None
            if op.error is not None:
                print(f"perfbench: {op.tag} failed: {op.error}", file=sys.stderr)
        failed = sum(op.error is not None for op in ops)

        metrics = end_to_end(wl, ops, setup_s, rss.peak_kb)
        if args.trace:
            metrics = layer_metrics(wl, ops, session_s, metrics, event_dir, args.cores)
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "input_digest": digest,
            "ops": len(ops), "op_kinds": list(wl.round_kinds), "items_unit": wl.item_unit,
            "setup_s": round(setup_s, 4), "session_s": round(session_s, 4),
            "op_s": {k: [round(op.wall_s, 4) for op in ops if op.kind == k] for k in wl.round_kinds},
        }), file=sys.stderr)
        print(json.dumps({"correct": wrong == 0, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

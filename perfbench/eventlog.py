"""Offline reader for Spark's JSON event log (uncompressed).

The traced run tags every job with the ``perfbench.tag`` local property;
this module groups task metrics and SQL operator metrics by that tag. It
needs no UI, REST server or network: it reads the files Spark wrote.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

TAG_PROPERTY = "perfbench.tag"

_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "PythonMapInArrow")
_SCAN_NODES = ("Range", "InMemoryTableScan", "LocalTableScan")


class TagStats:
    """Everything the log says about the jobs that carry one tag."""

    def __init__(self):
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.intervals: list[tuple[int, int]] = []  # job (start, end) ms
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.sched_delay_ms = 0
        self.input_bytes = 0
        self.output_bytes = 0
        self.shuffle_write_bytes = 0
        self.shuffle_read_bytes = 0
        self.shuffle_records = 0
        self.stage_task_ms: dict[int, list[int]] = defaultdict(list)
        self.node_metric: dict[tuple[str, str], float] = defaultdict(float)

    def busy_ms(self) -> int:
        """Length of the union of this tag's job intervals."""
        total, end = 0, None
        for s, e in sorted(self.intervals):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return total

    def stage_skew(self) -> float:
        """Slowest over median task of the stage with the most task time."""
        stages = [d for d in self.stage_task_ms.values() if len(d) >= 2]
        if not stages:
            return 1.0
        d = max(stages, key=sum)
        med = statistics.median(d)
        return max(d) / med if med > 0 else 1.0

    def node_sum(self, metric: str, nodes=None, prefix: str | None = None) -> float:
        return sum(
            v for (n, m), v in self.node_metric.items()
            if m == metric and ((nodes and n in nodes) or (prefix and n.startswith(prefix)))
        )

    def python(self, metric: str) -> float:
        return self.node_sum(metric, nodes=_PYTHON_NODES)

    def scan_rows(self) -> float:
        return self.node_sum("number of output rows", nodes=_SCAN_NODES) + self.node_sum(
            "number of output rows", prefix="Scan "
        )


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", ()):
        _walk_plan(c, out)


def read_events(log_dir: str) -> list[dict]:
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    events = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def stats_by_tag(events: list[dict]) -> dict[str, TagStats]:
    accum_node: dict[int, tuple[str, str]] = {}
    job_tag: dict[int, str] = {}
    stage_tag: dict[int, str] = {}
    exec_tag: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, TagStats] = defaultdict(TagStats)
    driver_updates: list[tuple[int, list]] = []

    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(e["sparkPlanInfo"], accum_node)
        elif kind == "SparkListenerDriverAccumUpdates":
            driver_updates.append((e["executionId"], e["accumUpdates"]))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = props.get(TAG_PROPERTY)
            if tag is None:
                continue
            jid = e["Job ID"]
            job_tag[jid] = tag
            job_start[jid] = e["Submission Time"]
            out[tag].jobs += 1
            for sid in e["Stage IDs"]:
                stage_tag[sid] = tag
            if "spark.sql.execution.id" in props:
                exec_tag[int(props["spark.sql.execution.id"])] = tag
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_tag:
                out[job_tag[jid]].intervals.append((job_start[jid], e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            tag = stage_tag.get(e["Stage Info"]["Stage ID"])
            if tag is not None:
                out[tag].stages += 1
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(e["Stage ID"])
            if tag is None or e["Task End Reason"]["Reason"] != "Success":
                continue
            _add_task(out[tag], e, accum_node)

    for exec_id, updates in driver_updates:
        tag = exec_tag.get(exec_id)
        if tag is None:
            continue
        for acc_id, value in updates:
            if acc_id in accum_node:
                out[tag].node_metric[accum_node[acc_id]] += float(value)
    return dict(out)


def _add_task(s: TagStats, e: dict, accum_node: dict) -> None:
    info, m = e["Task Info"], e["Task Metrics"]
    s.tasks += 1
    duration = info["Finish Time"] - info["Launch Time"]
    s.run_ms += m["Executor Run Time"]
    s.cpu_ns += m["Executor CPU Time"]
    s.gc_ms += m["JVM GC Time"]
    s.sched_delay_ms += max(
        0,
        duration - m["Executor Run Time"] - m["Executor Deserialize Time"]
        - m["Result Serialization Time"] - info.get("Getting Result Time", 0),
    )
    s.input_bytes += m["Input Metrics"]["Bytes Read"]
    s.output_bytes += m["Output Metrics"]["Bytes Written"]
    sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
    s.shuffle_write_bytes += sw["Shuffle Bytes Written"]
    s.shuffle_records += sw["Shuffle Records Written"]
    s.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    s.stage_task_ms[e["Stage ID"]].append(duration)
    for a in info.get("Accumulables", ()):
        key = accum_node.get(a["ID"])
        if key is not None and "Update" in a:
            # SQL metric updates are logged as decimal strings
            s.node_metric[key] += float(a["Update"])

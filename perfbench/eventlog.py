"""Stdlib summarizer for a Spark event log.

Reads one uncompressed, non-rolling event log (the bench's traced
session sets `spark.eventLog.compress=false` and
`spark.eventLog.rolling.enabled=false`; Spark 4's default zstd rolling
directories are not readable with the stdlib) and sums, per group of
Spark jobs:

  * stage task metrics: executor run, CPU and GC time, shuffle bytes
    written and read, bytes spilled, stage and task counts, and the
    worst stage's task skew (max / median task run time);
  * SQL plan-node accumulables: Python worker start, init and run time,
    bytes to and from Python and rows out of the Python nodes
    (MapInArrow, MapInPandas, ArrowEvalPython, ...), and scan rows and
    scan time per scanned location.

A job's group is its `spark.job.description` when that is one of the
caller's labels, else the label of the innermost caller span (label,
start_ms, end_ms) containing the job's submission time, else "other".
Spark sets its own descriptions on streaming micro-batch jobs, which
is why spans exist.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

PY_METRICS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "bytes_in",
    "data returned from Python workers": "bytes_out",
}

# physical nodes that cross into a Python worker
PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
            "BatchEvalPython", "FlatMapGroupsInPandas",
            "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
            "AggregateInPandas", "ArrowAggregatePython",
            "WindowInPandas", "ArrowWindowPython", "PythonMapInArrow")

TASK_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def read_events(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def _plan_nodes(info: dict, out: dict) -> None:
    """accumulatorId -> (node name, metric name, scanned location)."""
    name = info.get("nodeName", "")
    loc = (info.get("metadata") or {}).get("Location", "")
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (name, m["name"], loc)
    for child in info.get("children", ()):
        _plan_nodes(child, out)


def _new_group() -> dict:
    return {"jobs": 0, "job_ms": 0, "stages": 0, "tasks": 0,
            "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "task_skew": 0.0,
            "py": {"start_ms": 0, "init_ms": 0, "run_ms": 0,
                   "bytes_in": 0, "bytes_out": 0, "rows": 0},
            "scan_rows": {}, "scan_ms": {},
            "failed_jobs": 0, "failed_tasks": 0}


def summarize(path: str, spans=()) -> dict:
    """Group label -> summed metrics (see module docstring)."""
    labels = {s[0] for s in spans}
    nodes: dict = {}
    job_group: dict = {}
    job_start: dict = {}
    stage_group: dict = {}
    stage_tasks = defaultdict(list)
    acc_value: dict = {}
    acc_group: dict = {}
    groups = defaultdict(_new_group)

    def group_for(props: dict, t_ms: int) -> str:
        desc = props.get("spark.job.description")
        if desc in labels:
            return desc
        best = None
        for label, t0, t1 in spans:
            if t0 <= t_ms <= t1 and (best is None or t1 - t0 < best[1]):
                best = (label, t1 - t0)
        return best[0] if best else "other"

    for ev in read_events(path):
        kind = ev["Event"]
        if kind in (SQL_START, SQL_AQE):
            _plan_nodes(ev["sparkPlanInfo"], nodes)
        elif kind == "SparkListenerJobStart":
            g = group_for(ev.get("Properties") or {}, ev["Submission Time"])
            job_group[ev["Job ID"]] = g
            job_start[ev["Job ID"]] = ev["Submission Time"]
            groups[g]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(ev["Job ID"], "other")
            groups[g]["job_ms"] += (ev["Completion Time"]
                                    - job_start.get(ev["Job ID"],
                                                    ev["Completion Time"]))
            if ev.get("Job Result", {}).get("Result") != "JobSucceeded":
                groups[g]["failed_jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                groups[stage_group.get(ev["Stage ID"], "other")][
                    "failed_tasks"] += 1
            else:
                run = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                stage_tasks[ev["Stage ID"]].append(run)
        elif kind == "SparkListenerStageCompleted":
            st = ev["Stage Info"]
            g = stage_group.get(st["Stage ID"], "other")
            groups[g]["stages"] += 1
            groups[g]["tasks"] += st["Number of Tasks"]
            for acc in st.get("Accumulables", ()):
                try:
                    v = int(acc.get("Value", 0))
                except (TypeError, ValueError):
                    continue
                aid = acc["ID"]
                # driver-side accumulators are cumulative: keep the
                # largest value seen, attribute it to its first stage
                acc_group.setdefault(aid, g)
                acc_value[aid] = max(v, acc_value.get(aid, 0))
                if acc.get("Name") in TASK_METRICS:
                    nodes.setdefault(aid, ("task", acc["Name"], ""))

    for sid, runs in stage_tasks.items():
        if len(runs) >= 2:
            med = statistics.median(runs)
            if med > 0:
                g = groups[stage_group.get(sid, "other")]
                g["task_skew"] = max(g["task_skew"], max(runs) / med)

    for aid, v in acc_value.items():
        if aid not in nodes:
            continue
        node, metric, loc = nodes[aid]
        g = groups[acc_group[aid]]
        if node == "task":
            g[TASK_METRICS[metric]] += v
        elif node.startswith(PY_NODES):
            if metric in PY_METRICS:
                g["py"][PY_METRICS[metric]] += v
            elif metric == "number of output rows":
                g["py"]["rows"] += v
        elif node.startswith("Scan"):
            if metric == "number of output rows":
                g["scan_rows"][loc] = g["scan_rows"].get(loc, 0) + v
            elif metric == "scan time":
                g["scan_ms"][loc] = g["scan_ms"].get(loc, 0) + v
    return dict(groups)


def total(summary: dict, prefix: str = "", exclude=()) -> dict:
    """Sum the groups whose label starts with `prefix` ("" = all) and is
    not in `exclude`."""
    out = _new_group()
    for label, g in summary.items():
        if not label.startswith(prefix) or label in exclude:
            continue
        for k, v in g.items():
            if k == "py":
                for pk, pv in v.items():
                    out["py"][pk] += pv
            elif k in ("scan_rows", "scan_ms"):
                for loc, n in v.items():
                    out[k][loc] = out[k].get(loc, 0) + n
            elif k == "task_skew":
                out[k] = max(out[k], v)
            else:
                out[k] += v
    return out

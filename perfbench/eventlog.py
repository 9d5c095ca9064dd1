"""Fold a Spark event log into per-job-group records.

Every op of a traced pass tags its jobs with ``setJobGroup``: the group id
is ``<op id>|<layer>``, so the jobs, stages and tasks of the log fold into
the op span that caused them.  SQL metrics (Python-node worker time and
bytes, broadcast sizes, written files and bytes) are matched to plan nodes
through the accumulator ids in each SQL execution's plan info.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
    "ArrowEvalPython", "BatchEvalPython", "AggregateInPandas", "WindowInPandas",
)
_SQL = "org.apache.spark.sql.execution.ui."
# (node class, metric name) -> field of GroupStats it adds to
_NODE_METRICS = {
    ("python", "time to start Python workers"): "python_init_ms",
    ("python", "time to initialize Python workers"): "python_init_ms",
    ("python", "time to run Python workers"): "python_ms",
    ("python", "data sent to Python workers"): "bytes_to_python",
    ("python", "data returned from Python workers"): "bytes_from_python",
    ("broadcast", "data size"): "broadcast_bytes",
    ("write", "written output"): "bytes_written",
    ("write", "number of written files"): "files_written",
    ("scan", "size of files read"): "input_bytes",
}


def _node_class(name: str) -> str | None:
    if name in PYTHON_NODES:
        return "python"
    if name.startswith("BroadcastExchange"):
        return "broadcast"
    if name.startswith("Execute InsertIntoHadoopFsRelationCommand") or name == "WriteFiles":
        return "write"
    if name.startswith("Scan "):
        return "scan"
    return None


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: list[int] = field(default_factory=list)
    scans: set[int] = field(default_factory=set)  # row-count accumulators of scan nodes


@dataclass
class GroupStats:
    jobs: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)  # job [start, end] s
    stages: dict[int, StageStats] = field(default_factory=dict)
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_nodes: int = 0
    python_ms: int = 0
    python_init_ms: int = 0
    bytes_to_python: int = 0
    bytes_from_python: int = 0
    broadcast_count: int = 0
    broadcast_bytes: int = 0
    bytes_written: int = 0
    files_written: int = 0
    split_scan_tasks: list[int] = field(default_factory=list)  # tasks of stages scanning >1 file

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages.values())

    def stage_skews(self) -> list[float]:
        out = []
        for s in self.stages.values():
            if len(s.run_ms) >= 2 and statistics.median(s.run_ms) > 0:
                out.append(max(s.run_ms) / statistics.median(s.run_ms))
        return out


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def log_files(log_dir: str, app_id: str) -> list[str]:
    """Event-log files of one application (rolling v2 directory or a single file)."""
    rolled = sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
    return rolled or glob.glob(os.path.join(log_dir, f"{app_id}*"))


def fold(paths: list[str]) -> dict[str, GroupStats]:
    """Per job-group statistics from the given event-log files."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_field: dict[int, str] = {}  # accumulator id -> GroupStats field
    acc_node: dict[int, tuple[int, str]] = {}  # accumulator id -> (exec id, node kind)
    acc_total: dict[int, int] = defaultdict(int)
    scan_files: dict[int, int] = {}  # scan row-count accumulator -> files-read accumulator

    def plan_info(exec_id: int, plan: dict) -> None:
        for node in _walk(plan):
            kind = _node_class(node.get("nodeName", ""))
            if kind is None:
                continue
            ids = {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}
            for name, acc_id in ids.items():
                f = _NODE_METRICS.get((kind, name))
                if f is not None:
                    acc_field[acc_id] = f
                    acc_node[acc_id] = (exec_id, kind)
            if kind == "scan" and "number of output rows" in ids and "number of files read" in ids:
                scan_files[ids["number of output rows"]] = ids["number of files read"]
                acc_node.setdefault(ids["number of files read"], (exec_id, kind))

    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = e["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = e["Submission Time"] / 1000.0
                    for sid in e.get("Stage IDs", ()):
                        stage_group[sid] = g
                    if "spark.sql.execution.id" in props:
                        exec_group[int(props["spark.sql.execution.id"])] = g
                    groups[g].jobs += 1
                elif ev == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]].intervals.append(
                            (job_start[jid], e["Completion Time"] / 1000.0))
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    if g is None:
                        continue
                    st = groups[g]
                    m = e.get("Task Metrics") or {}
                    stage = st.stages.setdefault(e["Stage ID"], StageStats())
                    stage.tasks += 1
                    run = m.get("Executor Run Time", 0)
                    stage.run_ms.append(run)
                    st.task_run_ms += run
                    st.task_cpu_ns += m.get("Executor CPU Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                        if acc.get("ID") in acc_field and "Update" in acc:
                            acc_total[acc["ID"]] += int(acc["Update"])  # SQL metrics log as strings
                        elif acc.get("ID") in scan_files:
                            stage.scans.add(acc["ID"])
                elif ev in (_SQL + "SparkListenerSQLExecutionStart",
                            _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_info(e["executionId"], e["sparkPlanInfo"])
                elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in e["accumUpdates"]:
                        if acc_id in acc_field or acc_id in acc_node:
                            acc_total[acc_id] += int(value)

    python_nodes: dict[str, set[int]] = defaultdict(set)
    for acc_id, total in acc_total.items():
        exec_id, kind = acc_node[acc_id]
        g = exec_group.get(exec_id)
        if g is None or acc_id not in acc_field:
            continue
        f = acc_field[acc_id]
        setattr(groups[g], f, getattr(groups[g], f) + total)
        if f == "bytes_to_python" and total > 0:
            python_nodes[g].add(acc_id)
        if f == "broadcast_bytes":
            groups[g].broadcast_count += 1
    for g, nodes in python_nodes.items():
        groups[g].python_nodes = len(nodes)
    for st in groups.values():
        for stage in st.stages.values():
            if any(acc_total.get(scan_files[a], 0) > 1 for a in stage.scans):
                st.split_scan_tasks.append(stage.tasks)
    return dict(groups)


def coverage(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def extent(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """From the first start to the last end of ``intervals``, clipped to [lo, hi]."""
    if not intervals:
        return 0.0
    return max(0.0, min(hi, max(b for _, b in intervals)) - max(lo, min(a for a, _ in intervals)))

"""Fold a Spark event log into per-query, per-stage records (stdlib only).

The log is the JSON-lines file Spark writes with ``spark.eventLog.enabled``
and ``spark.eventLog.compress=false`` (a zstd-compressed log would need a
decoder that is not installed). With rolling logs Spark writes a directory
``eventlog_v2_<app>/events_<n>_<app>``; both layouts are read.

What is folded:
- task-end metrics (duration, executor run time, JVM GC, spill, shuffle
  read/write, fetch wait) per stage;
- SQL metric accumulables of the physical plan (MapInArrow's Python worker
  metrics, Exchange's shuffle metrics, ...) per query, keyed by plan node
  name and metric name. Accumulator ids are resolved through the plan
  published at execution start and every adaptive re-plan, so an
  accumulator is attributed to the node that owns it, not matched by name.

A query is one SQL execution; its ``description`` is the job description
set while it ran (the benchmark sets it to the span that issued the call).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."

# SQL metric types → factor to the reported unit (seconds for timings)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Task:
    duration_s: float
    run_s: float
    gc_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    fetch_wait_s: float
    spill_bytes: int  # memory + disk bytes spilled


@dataclass
class Stage:
    stage_id: int
    execution_id: int | None
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: list[Task] = field(default_factory=list)
    nodes: set[str] = field(default_factory=set)  # plan nodes whose metrics it updated

    @property
    def reads_shuffle(self) -> bool:
        return any(t.shuffle_read_bytes for t in self.tasks)

    @property
    def writes_shuffle(self) -> bool:
        return any(t.shuffle_write_bytes for t in self.tasks)

    def skew(self) -> float:
        """max ÷ median task run time (1.0 for fewer than two tasks)."""
        runs = [t.run_s for t in self.tasks]
        med = statistics.median(runs) if len(runs) > 1 else 0.0
        return max(runs) / med if med > 0 else 1.0


@dataclass
class Query:
    execution_id: int
    description: str
    start_ms: int
    end_ms: int | None = None
    metrics: dict[tuple[str, str], float] = field(default_factory=dict)
    stages: list[Stage] = field(default_factory=list)

    def metric(self, node: str, name: str) -> float:
        return self.metrics.get((node, name), 0.0)


def event_files(path: str) -> list[str]:
    """The log's files in write order: ``path`` itself, or the numbered
    ``events_*`` files of a rolling-log directory."""
    if os.path.isfile(path):
        return [path]
    files = [f for f in os.listdir(path) if f.startswith("events_")]
    files.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in files]


def find_log(log_dir: str) -> str:
    """The single application log under ``log_dir``."""
    logs = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(logs) != 1:
        raise ValueError(f"expected one event log under {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def _plan_metrics(info: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def fold(lines) -> list[Query]:
    """Fold event-log lines into queries ordered by execution id. Stages
    that ran outside any SQL execution are dropped."""
    queries: dict[int, Query] = {}
    accum: dict[int, tuple[str, str, str]] = {}  # id → (node, metric, type)
    acc_exec: dict[int, int] = {}  # accumulator id → execution id
    stage_exec: dict[int, int] = {}
    stages: dict[int, Stage] = {}

    def add_metric(eid: int, acc_id: int, update) -> None:
        node, name, mtype = accum[acc_id]
        q = queries[eid]
        q.metrics[(node, name)] = q.metrics.get((node, name), 0.0) + _num(update) * _SCALE.get(mtype, 1)

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = ev["executionId"]
            if kind.endswith("ExecutionStart"):
                queries[eid] = Query(eid, ev.get("description", ""), ev["time"])
            found: dict[int, tuple[str, str, str]] = {}
            _plan_metrics(ev["sparkPlanInfo"], found)
            accum.update(found)
            acc_exec.update((a, eid) for a in found)
        elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in ev["sqlPlanMetrics"]:
                accum[m["accumulatorId"]] = ("AdaptiveSparkPlan", m["name"], m["metricType"])
                acc_exec[m["accumulatorId"]] = ev["executionId"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            eid = ev["executionId"]
            for acc_id, value in ev["accumUpdates"]:
                if acc_id in accum and eid in queries:
                    add_metric(eid, acc_id, value)
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            if ev["executionId"] in queries:
                queries[ev["executionId"]].end_ms = ev["time"]
        elif kind == "SparkListenerJobStart":
            eid = ev.get("Properties", {}).get("spark.sql.execution.id")
            if eid is not None:
                for sid in ev["Stage IDs"]:
                    stage_exec[sid] = int(eid)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], stage_exec.get(info["Stage ID"])))
            st.submit_ms = info.get("Submission Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stages:
                stages[info["Stage ID"]].complete_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, Stage(sid, stage_exec.get(sid)))
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            sr, sw = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
            st.tasks.append(Task(
                duration_s=(ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                run_s=tm.get("Executor Run Time", 0) / 1e3,
                gc_s=tm.get("JVM GC Time", 0) / 1e3,
                shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1e3,
                spill_bytes=tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            ))
            for a in ti.get("Accumulables", []):
                eid = acc_exec.get(a["ID"])
                if eid is not None and eid in queries and "Update" in a:
                    add_metric(eid, a["ID"], a["Update"])
                    st.nodes.add(accum[a["ID"]][0])
    for st in stages.values():
        if st.execution_id in queries:
            queries[st.execution_id].stages.append(st)
    return [queries[k] for k in sorted(queries)]


def load(path: str) -> list[Query]:
    """Fold the log at ``path`` (a file or a rolling-log directory)."""
    def lines():
        for fn in event_files(path):
            with open(fn) as f:
                yield from f
    return fold(lines())

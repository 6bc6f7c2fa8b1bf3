"""Per-layer counters from a Spark event log, keyed by job group.

The benchmark gives every query execution its own job group
(``sc.setJobGroup(exec_id, phase)``), so every job, stage, task and SQL
execution in the log can be attributed to one execution of one query.
Task metrics come from ``SparkListenerTaskEnd``; per-operator SQL metrics
come from joining the accumulator ids declared in each plan
(``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate``) with the task-end
accumulable updates and the ``DriverAccumUpdates`` events.

The log must be written uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# counter name -> (SQL node kind, metric name, scale to the counter's unit)
NODE_METRICS = {
    "scan_bytes": ("scan", "size of files read", 1),
    "scan_rows": ("scan", "number of output rows", 1),
    "scan_files": ("scan", "number of files read", 1),
    "scan_time_s": ("scan", "scan time", 1e-3),
    "python_run_s": ("python", "time to run Python workers", 1e-3),
    "python_start_s": ("python", "time to start Python workers", 1e-3),
    "python_bytes_sent": ("python", "data sent to Python workers", 1),
    "python_bytes_returned": ("python", "data returned from Python workers", 1),
    "python_rows_out": ("python", "number of output rows", 1),
}

COUNTERS = (
    "jobs", "stages", "tasks",
    "executor_cpu_s", "executor_run_s", "gc_s", "task_input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
    "exchanges", "broadcasts", "python_rows_in",
) + tuple(NODE_METRICS)


def read_events(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def _node_kind(node: dict) -> str | None:
    name = node["nodeName"]
    metric_names = {m["name"] for m in node.get("metrics", ())}
    if name.startswith("Scan parquet"):
        return "scan"
    if "data sent to Python workers" in metric_names:
        return "python"
    if name == "Exchange":
        return "exchange"
    if name == "BroadcastExchange":
        return "broadcast"
    return None


def _metric_id(node: dict, name: str) -> int | None:
    for m in node.get("metrics", ()):
        if m["name"] == name:
            return m["accumulatorId"]
    return None


def _input_rows_id(node: dict) -> int | None:
    """Accumulator counting the rows a node receives: the output-row
    metric of the nearest descendant along its single-child chain."""
    children = node.get("children", ())
    while len(children) == 1:
        child = children[0]
        acc = _metric_id(child, "number of output rows") or _metric_id(child, "records read")
        if acc is not None:
            return acc
        children = child.get("children", ())
    return None


def layer_counters(events: list[dict]) -> dict[str, dict[str, float]]:
    """``{job_group: {counter: value}}`` for every job group in the log."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    acc_total: dict[int, float] = defaultdict(float)
    acc_updated: set[int] = set()
    # Plan nodes are keyed by one of their accumulator ids: AQE re-sends
    # the same node in every plan update, with the same accumulators.
    acc_owner: dict[int, tuple[int, str, str]] = {}
    python_inputs: dict[int, tuple[int, int | None]] = {}
    executed_nodes: dict[str, dict[int, int]] = {"exchange": {}, "broadcast": {}}

    def walk(exec_id: int, node: dict) -> None:
        kind = _node_kind(node)
        if kind in ("scan", "python"):
            for m in node.get("metrics", ()):
                acc_owner[m["accumulatorId"]] = (exec_id, kind, m["name"])
            if kind == "python":
                sent = _metric_id(node, "data sent to Python workers")
                python_inputs[sent] = (exec_id, _input_rows_id(node))
        elif kind == "exchange":
            executed_nodes[kind][_metric_id(node, "shuffle records written")] = exec_id
        elif kind == "broadcast":
            executed_nodes[kind][_metric_id(node, "data size")] = exec_id
        for child in node.get("children", ()):
            walk(exec_id, child)

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            sql_id = props.get("spark.sql.execution.id")
            if sql_id is not None and exec_group.get(int(sql_id)) is None:
                exec_group[int(sql_id)] = group
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            out[stage_group.get(e["Stage Info"]["Stage ID"])]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(e["Stage ID"])]
            c["tasks"] += 1
            for acc in e.get("Task Info", {}).get("Accumulables", ()):
                acc_total[acc["ID"]] += _num(acc.get("Update"))
                acc_updated.add(acc["ID"])
            m = e.get("Task Metrics")
            if not m:
                continue
            c["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            c["executor_run_s"] += m["Executor Run Time"] / 1e3
            c["gc_s"] += m["JVM GC Time"] / 1e3
            c["task_input_bytes"] += m["Input Metrics"]["Bytes Read"]
            c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            r = m["Shuffle Read Metrics"]
            c["shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
            c["fetch_wait_s"] += r["Fetch Wait Time"] / 1e3
            c["spill_bytes"] += m["Disk Bytes Spilled"]
        elif kind == SQL_START:
            exec_group[e["executionId"]] = e.get("jobGroupId") or exec_group.get(e["executionId"])
            walk(e["executionId"], e["sparkPlanInfo"])
        elif kind == SQL_AQE_UPDATE:
            walk(e["executionId"], e["sparkPlanInfo"])
        elif kind == SQL_DRIVER_ACCUMS:
            for acc_id, value in e["accumUpdates"]:
                acc_total[acc_id] += _num(value)
                acc_updated.add(acc_id)

    by_metric = {(kind, metric): counter for counter, (kind, metric, _) in NODE_METRICS.items()}
    for acc_id, (exec_id, kind, metric) in acc_owner.items():
        counter = by_metric.get((kind, metric))
        if counter is not None and acc_id in acc_updated:
            out[exec_group.get(exec_id)][counter] += acc_total[acc_id] * NODE_METRICS[counter][2]
    for sent_id, (exec_id, rows_in_id) in python_inputs.items():
        if sent_id in acc_updated and rows_in_id is not None:
            out[exec_group.get(exec_id)]["python_rows_in"] += acc_total[rows_in_id]
    for kind, nodes in executed_nodes.items():
        for acc_id, exec_id in nodes.items():
            if acc_id in acc_updated:
                out[exec_group.get(exec_id)][kind + "s"] += 1
    return dict(out)

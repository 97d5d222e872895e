"""Per-query layer numbers from an uncompressed Spark event log.

Spark writes one JSON event per line when ``spark.eventLog.enabled`` is
on; ``spark.eventLog.compress=false`` keeps it readable without a zstd
module. Attribution:

- every job carries ``spark.jobGroup.id`` (set per query with
  ``setJobGroup``) and ``spark.sql.execution.id`` in its properties;
- stages map to jobs, tasks to stages, so each ``SparkListenerTaskEnd``
  (task metrics + accumulable updates) lands on one query;
- SQL operator metrics are accumulators: ``sparkPlanInfo`` of
  ``SparkListenerSQLExecutionStart`` and of every
  ``SparkListenerSQLAdaptiveExecutionUpdate`` re-plan names each
  accumulator id (operator node + metric name); task updates and
  ``SparkListenerDriverAccumUpdates`` carry the values.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _event_lines(path: str):
    """Lines of a single event-log file, or of a rolling event-log
    directory (``events_<n>_<app>`` files, in order)."""
    if os.path.isdir(path):
        files = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            yield from fh


def parse(path: str) -> dict[str, dict]:
    """{job group: {"task": {...sums}, "ops": {(node, metric): sum}}}."""
    accum_names: dict[int, tuple[str, str]] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    tasks: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    accums: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    driver_updates: list[tuple[int, list]] = []
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind in (_SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(ev["sparkPlanInfo"], accum_names)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            m = ev.get("Task Metrics") or {}
            t = tasks[group]
            t["count"] += 1
            t["cpu_ns"] += m.get("Executor CPU Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                accums[group][acc["ID"]] += _num(acc.get("Update"))
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            driver_updates.append((ev["executionId"], ev["accumUpdates"]))
    for exec_id, updates in driver_updates:
        group = exec_group.get(exec_id)
        if group is not None:
            for acc_id, value in updates:
                accums[group][acc_id] += _num(value)
    out = {}
    for group in set(tasks) | set(accums):
        ops: dict[tuple[str, str], float] = defaultdict(float)
        for acc_id, v in accums[group].items():
            if acc_id in accum_names:
                ops[accum_names[acc_id]] += v
        out[group] = {"task": dict(tasks[group]), "ops": dict(ops)}
    return out


def op_sum(ops: dict, node_prefix: str, metric: str) -> float:
    """Sum a metric over every operator whose node name starts with the prefix."""
    return sum(v for (node, name), v in ops.items()
               if node.startswith(node_prefix) and name == metric)

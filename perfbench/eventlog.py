"""Per-job-group metrics from Spark's own event log.

Needs the uncompressed, non-rolling log (``spark.eventLog.compress=
false``, ``spark.eventLog.rolling.enabled=false``): one JSON event per
line. Jobs carry their group in ``spark.jobGroup.id``; stages map to
jobs through ``SparkListenerJobStart``; task metrics come from
``SparkListenerTaskEnd``; SQL scan metrics that the driver updates
(files and bytes read) come from ``SparkListenerDriverAccumUpdates``,
named through the plan info of the SQL execution they belong to.
"""

from __future__ import annotations

import json
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."
# task accumulables (by SQL metric name) -> reported key
_TASK_ACCUMS = {
    "time to run Python workers": "python_exec_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
# driver-side SQL metrics -> reported key
_DRIVER_ACCUMS = {
    "number of files read": "scan_files",
    "size of files read": "scan_bytes",
}
KEYS = (
    "jobs", "tasks", "task_run_ms", "gc_ms", "spill_bytes",
    "scan_records", "scan_bytes", "scan_files",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
    "python_exec_ms", "python_bytes_sent", "python_bytes_received",
)


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for c in node.get("children", ()):
        _plan_metric_names(c, out)


def parse(lines) -> dict[str | None, dict[str, float]]:
    """Job group -> summed metrics (``KEYS``). Work outside any job
    group is reported under ``None``."""
    groups: dict[str | None, dict[str, float]] = defaultdict(lambda: dict.fromkeys(KEYS, 0))
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    accum_name: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            groups[g]["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_group[sid] = g
        elif ev == "SparkListenerTaskEnd":
            g = groups[stage_group.get(e.get("Stage ID"))]
            tm = e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["task_run_ms"] += tm.get("Executor Run Time", 0)
            g["gc_ms"] += tm.get("JVM GC Time", 0)
            g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            g["scan_records"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                key = _TASK_ACCUMS.get(a.get("Name"))
                if key:
                    g[key] += float(a.get("Update") or 0)
        elif ev in (_SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            if "jobGroupId" in e:
                exec_group[e["executionId"]] = e["jobGroupId"]
            _plan_metric_names(e.get("sparkPlanInfo") or {}, accum_name)
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            g = groups[exec_group.get(e.get("executionId"))]
            for acc_id, value in e.get("accumUpdates", ()):
                key = _DRIVER_ACCUMS.get(accum_name.get(acc_id))
                if key:
                    g[key] += value
    return dict(groups)


def parse_file(path: str) -> dict[str | None, dict[str, float]]:
    with open(path) as f:
        return parse(f)

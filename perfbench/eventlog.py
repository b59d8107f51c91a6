"""Stdlib reader for an uncompressed Spark event log.

Sums executor-side task metrics and the SQL metrics of scan and Python
nodes over the tasks that finished inside each labelled time window
(one window per key, pass and layer). Attribution by finish time, not by
job group, also covers jobs that run on other threads, such as streaming
micro-batches, because the benchmark keeps one query in flight.
"""

from __future__ import annotations

import bisect
import json
from collections import Counter, defaultdict

MB = float(1 << 20)

# SQL metric name -> (benchmark metric, divisor to seconds or MB by type).
SQL_METRICS = {
    "scan time": "scan.time_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}
UNIT_DIVISOR = {"timing": 1e3, "nsTiming": 1e9, "size": MB}

EXECUTOR_METRICS = (
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "executor.tasks_failed",
    "shuffle.write_mb",
    "shuffle.read_mb",
    "spill.mb",
) + tuple(SQL_METRICS.values())

_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _plan_metrics(node, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType"))
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _label(starts, windows, t_ms):
    i = bisect.bisect_right(starts, t_ms) - 1
    if i >= 0 and t_ms <= windows[i][1]:
        return windows[i][2]
    return None


def task_metrics(path: str, windows) -> dict:
    """Per-label sums of EXECUTOR_METRICS.

    ``windows`` is a list of ``(start_ms, end_ms, label)`` tuples that do
    not overlap; tasks finishing outside every window are dropped.
    """
    windows = sorted(windows)
    starts = [w[0] for w in windows]
    sql_meta: dict[int, tuple[str, str | None]] = {}
    out: dict = defaultdict(Counter)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind in _PLAN_EVENTS:
                _plan_metrics(ev["sparkPlanInfo"], sql_meta)
                continue
            if kind != "SparkListenerTaskEnd":
                continue
            info = ev["Task Info"]
            label = _label(starts, windows, info["Finish Time"])
            if label is None:
                continue
            c = out[label]
            tm = ev.get("Task Metrics") or {}
            c["executor.run_s"] += tm.get("Executor Run Time", 0) / 1e3
            c["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            c["spill.mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            sw = tm.get("Shuffle Write Metrics") or {}
            c["shuffle.write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            sr = tm.get("Shuffle Read Metrics") or {}
            c["shuffle.read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                c["executor.tasks_failed"] += 1
            for acc in info.get("Accumulables", ()):
                name, mtype = sql_meta.get(acc["ID"], (acc.get("Name"), None))
                metric = SQL_METRICS.get(name)
                if metric is None or acc.get("Update") is None:
                    continue
                c[metric] += float(acc["Update"]) / UNIT_DIVISOR.get(mtype, 1e3)
    return out

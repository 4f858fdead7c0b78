"""Spark event-log reader: task metrics summed per job group.

The traced run turns on ``spark.eventLog.enabled`` (uncompressed JSON
lines) and reads the log after the session stops, so no Spark UI or REST
API is needed."""

from __future__ import annotations

import json
from collections import defaultdict

# metric name -> (paths into a task-end event's "Task Metrics" object
# whose values are summed, divisor from the logged unit to the reported one)
TASK_METRICS = {
    "executor_run_s": ([("Executor Run Time",)], 1e3),
    "executor_cpu_s": ([("Executor CPU Time",)], 1e9),
    "gc_s": ([("JVM GC Time",)], 1e3),
    "shuffle_read_bytes": ([("Shuffle Read Metrics", "Remote Bytes Read"),
                            ("Shuffle Read Metrics", "Local Bytes Read")], 1),
    "shuffle_write_bytes": ([("Shuffle Write Metrics", "Shuffle Bytes Written")], 1),
    "spill_bytes": ([("Disk Bytes Spilled",)], 1),
    "input_bytes": ([("Input Metrics", "Bytes Read")], 1),
    "output_bytes": ([("Output Metrics", "Bytes Written")], 1),
}


def _dig(obj, path: tuple[str, ...]) -> float:
    for key in path:
        obj = obj.get(key) if isinstance(obj, dict) else None
        if obj is None:
            return 0.0
    return float(obj)


def task_metrics(tm: dict) -> dict[str, float]:
    """Reported metrics from one task-end event's "Task Metrics"."""
    return {name: sum(_dig(tm, p) for p in paths) / div
            for name, (paths, div) in TASK_METRICS.items()}


def metrics_by_group(lines) -> dict[str | None, dict[str, float]]:
    """Sum task metrics per job group over an event log's lines.

    A stage is attributed to the group of the first job that lists it;
    tasks of jobs without a group land under ``None``.  Each group also
    gets ``jobs`` and ``tasks`` counts."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            acc = out[group]
            acc["tasks"] += 1
            for name, value in task_metrics(ev.get("Task Metrics") or {}).items():
                acc[name] += value
    return {g: dict(m) for g, m in out.items()}


def read_event_log(path: str) -> dict[str | None, dict[str, float]]:
    with open(path) as fh:
        return metrics_by_group(fh)

"""Fold a Spark event log (uncompressed JSON lines) into per-layer
totals per job group.

Only public event-log fields are read: `SparkListenerJobStart` maps
stages to the job's group and submission time, `SparkListenerTaskEnd`
carries the task metrics and the SQL metrics (scan time, Python
worker time and bytes) as task accumulables.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from collections.abc import Iterable

# layer metric -> (paths into "Task Metrics" that are summed, scale
# to the metric's unit)
_TASK_METRICS = {
    "operators.task_cpu_s": ([("Executor CPU Time",)], 1e-9),
    "operators.task_run_s": ([("Executor Run Time",)], 1e-3),
    "operators.gc_s": ([("JVM GC Time",)], 1e-3),
    "operators.shuffle_write_bytes": ([("Shuffle Write Metrics", "Shuffle Bytes Written")], 1),
    "operators.shuffle_read_bytes": (
        [
            ("Shuffle Read Metrics", "Remote Bytes Read"),
            ("Shuffle Read Metrics", "Local Bytes Read"),
        ],
        1,
    ),
    "operators.spill_bytes": ([("Disk Bytes Spilled",)], 1),
    "sources.scan_bytes": ([("Input Metrics", "Bytes Read")], 1),
    "sources.scan_records": ([("Input Metrics", "Records Read")], 1),
}

# layer metric -> (SQL metric name on the task's accumulables, scale)
_ACCUMULABLES = {
    "sources.scan_ms": ("scan time", 1),
    "operators.python_run_s": ("time to run Python workers", 1e-3),
    "operators.python_start_s": ("time to start Python workers", 1e-3),
    "operators.python_bytes_sent": ("data sent to Python workers", 1),
    "operators.python_bytes_returned": ("data returned from Python workers", 1),
}

METRICS = tuple(_TASK_METRICS) + tuple(_ACCUMULABLES)


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for key in path:
        d = d.get(key) or {}
    return float(d) if not isinstance(d, dict) else 0.0


def _task_values(task_metrics: dict) -> dict[str, float]:
    return {
        name: sum(_dig(task_metrics, p) for p in paths) * scale
        for name, (paths, scale) in _TASK_METRICS.items()
    }


def fold(lines: Iterable[str], window_ms: tuple[float, float] | None = None) -> dict[str, dict[str, float]]:
    """Sum every metric in `METRICS` per job group.

    Jobs without a group fold under "". With `window_ms` (epoch
    milliseconds, inclusive), only jobs submitted inside the window
    count, so a run can keep its warm-up out of the totals.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(METRICS, 0.0))
    by_name = {v[0]: (k, v[1]) for k, v in _ACCUMULABLES.items()}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0)
            if window_ms and not window_ms[0] <= t <= window_ms[1]:
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            acc = out[group]
            for name, value in _task_values(ev.get("Task Metrics") or {}).items():
                acc[name] += value
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                hit = by_name.get(a.get("Name"))
                if hit is not None:
                    acc[hit[0]] += float(a.get("Update") or 0) * hit[1]
    return dict(out)


def read_dir(log_dir: str) -> list[str]:
    """All lines of every event-log file under `log_dir`."""
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith((".", "appstatus")):
            with open(path) as f:
                lines.extend(f)
    return lines


def total(groups: dict[str, dict[str, float]], keep=lambda g: True) -> dict[str, float]:
    """Sum the per-group metrics over the groups `keep` accepts."""
    out = dict.fromkeys(METRICS, 0.0)
    for g, vals in groups.items():
        if keep(g):
            for k, v in vals.items():
                out[k] += v
    return out

"""Spark event-log parser: per-job-group engine metrics.

Reads the JSON-lines event log Spark writes with ``spark.eventLog.enabled``
in either layout: one file per application (``<dir>/<app-id>``, optionally
``.inprogress``) or the rolling directory (``<dir>/eventlog_v2_<app-id>/
events_<n>_<app-id>``). Jobs are attributed to the job group set with
``SparkContext.setJobGroup`` when they were submitted; stages and tasks to
the job that submitted them.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from collections.abc import Iterator

# Task metric fields summed per group, with the output name and a scale
# (milliseconds and nanoseconds become seconds).
_TASK_SUMS = (
    ("executor_run_s", ("Executor Run Time",), 1e-3),
    ("executor_cpu_s", ("Executor CPU Time",), 1e-9),
    ("gc_s", ("JVM GC Time",), 1e-3),
    ("shuffle_write_bytes", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Local Bytes Read"), 1),
    ("spill_bytes", ("Memory Bytes Spilled",), 1),
    ("spill_bytes", ("Disk Bytes Spilled",), 1),
    ("input_bytes", ("Input Metrics", "Bytes Read"), 1),
    ("output_bytes", ("Output Metrics", "Bytes Written"), 1),
)

# SQL metric (milliseconds, summed over tasks) of the Arrow/pandas Python
# operators; worker start-up and initialisation are separate metrics.
PYTHON_RUN_METRIC = "time to run Python workers"

ENGINE_KEYS = (
    "exec_s", "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "output_bytes", "python_eval_s",
)


def log_files(event_dir: str) -> list[str]:
    """Every event-log file under ``event_dir``, in both layouts, in
    application then part order."""
    out = []
    for name in sorted(os.listdir(event_dir)):
        path = os.path.join(event_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(path, p) for p in parts)
        elif not name.startswith("."):
            out.append(path)
    return out


def _events(paths: list[str]) -> Iterator[dict]:
    for path in paths:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _dig(d: dict, keys: tuple[str, ...]) -> float:
    for k in keys:
        d = d.get(k) if isinstance(d, dict) else None
        if d is None:
            return 0.0
    return float(d)


def parse(event_dir: str) -> dict[str, dict[str, float]]:
    """Sum engine metrics per job group across every application logged
    under ``event_dir``. Returns ``{group: {metric: value}}`` with the
    metric names of ``ENGINE_KEYS``; jobs without a group land under ``""``.

    ``exec_s`` sums job wall time (submission to completion).
    ``python_eval_s`` sums ``PYTHON_RUN_METRIC`` where the physical
    operators expose it."""
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(ENGINE_KEYS, 0.0)
    )
    stage_group: dict[tuple[int, int], str] = {}
    job_group: dict[tuple[int, int], str] = {}
    job_start: dict[tuple[int, int], float] = {}
    app = -1
    for ev in _events(log_files(event_dir)):
        kind = ev.get("Event")
        if kind == "SparkListenerLogStart":
            app += 1  # ids restart per application
        elif kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            key = (app, ev["Job ID"])
            job_group[key] = grp
            job_start[key] = ev.get("Submission Time", 0)
            totals[grp]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[(app, sid)] = grp
        elif kind == "SparkListenerJobEnd":
            key = (app, ev["Job ID"])
            if key in job_start:
                grp = job_group[key]
                totals[grp]["exec_s"] += (
                    ev.get("Completion Time", 0) - job_start[key]
                ) / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            grp = stage_group.get((app, info["Stage ID"]), "")
            totals[grp]["stages"] += 1
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PYTHON_RUN_METRIC:
                    totals[grp]["python_eval_s"] += float(acc.get("Value", 0)) / 1e3
        elif kind == "SparkListenerTaskEnd":
            grp = stage_group.get((app, ev["Stage ID"]), "")
            t = totals[grp]
            t["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                t["failed_tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            for out, path, scale in _TASK_SUMS:
                t[out] += _dig(metrics, path) * scale
    return dict(totals)


def sum_groups(
    per_group: dict[str, dict[str, float]], prefix: str
) -> dict[str, float]:
    """Sum the per-group metrics of every group whose id starts with
    ``prefix``."""
    out = dict.fromkeys(ENGINE_KEYS, 0.0)
    for grp, vals in per_group.items():
        if grp.startswith(prefix):
            for k in ENGINE_KEYS:
                out[k] += vals[k]
    return out

"""Fold a Spark event log (uncompressed JSON lines) into per-job-group totals.

Each task is attributed to the job group of the first job that lists its
stage; the benchmark sets a job group before every builder call and every
sink, so the totals split each query's work into build and sink.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

MB = 1024 * 1024

# metric -> unit; every group total carries all of them
METRICS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "scheduler_delay_s": "s",
    "jvm_gc_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
}


def _scheduler_delay_ms(info: dict, metrics: dict) -> float:
    """The Spark UI's formula: task duration not spent deserializing,
    running, serializing the result or fetching it."""
    finish, launch = info.get("Finish Time", 0), info.get("Launch Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch = finish - getting if getting else 0
    busy = (
        metrics.get("Executor Run Time", 0)
        + metrics.get("Executor Deserialize Time", 0)
        + metrics.get("Result Serialization Time", 0)
        + fetch
    )
    return max(0.0, float(finish - launch - busy))


def fold(lines) -> dict[str, dict[str, float]]:
    """Totals of ``METRICS`` per job group. Jobs without a group fall under
    the empty string."""
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(METRICS, 0))
    stage_group: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            totals[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            totals[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            t = totals[stage_group.get(ev["Stage ID"], "")]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            if info.get("Failed"):
                t["failed_tasks"] += 1
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["scheduler_delay_s"] += _scheduler_delay_ms(info, m) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            t["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
    return dict(totals)


def fold_dir(log_dir: Path) -> dict[str, dict[str, float]]:
    """Fold every event log file under ``log_dir``; Spark 4 writes each
    application's log as a directory of numbered ``events_*`` files beside
    an empty ``appstatus_*`` marker and hidden checksum files."""
    totals: dict[str, dict[str, float]] = {}
    files = [
        p
        for p in log_dir.rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    ]
    for path in sorted(files):
        with path.open() as f:
            for group, t in fold(f).items():
                acc = totals.setdefault(group, dict.fromkeys(METRICS, 0))
                for k, v in t.items():
                    acc[k] += v
    return totals

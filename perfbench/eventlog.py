"""Reduce Spark's JSON event log to per-job-group runtime totals.

The traced run tags every call with ``SparkContext.setJobGroup``; each
job's group arrives in its ``SparkListenerJobStart`` properties, and each
task's metrics in ``SparkListenerTaskEnd``. Stages map to the first job
that listed them.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = (
    "tasks",
    "task_run_ms",
    "task_cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_records_written",
    "shuffle_read_bytes",
    "spill_bytes",
)


def _event_file(log_dir: str) -> str:
    """The one finished event log the traced session wrote (the benchmark
    pins a single uncompressed file; Hadoop's ``.crc`` files are hidden)."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if name.endswith(".inprogress"):
        raise RuntimeError(f"event log {name} was not finished")
    return os.path.join(log_dir, name)


def reduce_by_group(log_dir: str) -> dict[str, dict[str, int]]:
    """``{job_group: {field: total}}`` over the finished event log in
    ``log_dir``; jobs without a group are filed under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    with open(_event_file(log_dir), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                _add_task(out[stage_group.get(ev["Stage ID"], "")], ev)
    return dict(out)


def _add_task(acc: dict[str, int], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["task_run_ms"] += m.get("Executor Run Time", 0)
    acc["task_cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["shuffle_records_written"] += sw.get("Shuffle Records Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)


def total(by_group: dict[str, dict[str, int]], groups) -> dict[str, int]:
    acc = dict.fromkeys(FIELDS, 0)
    for g in groups:
        for k, v in by_group.get(g, {}).items():
            acc[k] += v
    return acc

"""Parser for Spark's JSON-lines event log.

Jobs carry the `spark.jobGroup.id` property that the traced run sets to
the statement's op id, so jobs, stages and tasks are attributed to the
statement that launched them. Only the fields the benchmark reports are
read; unknown events are skipped.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# Per-group counters, in the order they are reported.
FIELDS = (
    "jobs", "stages", "tasks", "job_ms", "executor_run_ms",
    "executor_cpu_ms", "jvm_gc_ms", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


def read_events(path: str):
    """Yield event dicts from one log file or every file of a rolling log
    directory (Spark writes `events_<n>_<app>` parts in order)."""
    paths = [path]
    if os.path.isdir(path):
        paths = sorted(
            (os.path.join(path, p) for p in os.listdir(path)
             if p.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]))
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def find_log(log_dir: str, app_id: str) -> str | None:
    for name in os.listdir(log_dir):
        if app_id in name:
            return os.path.join(log_dir, name)
    return None


class JobWindow:
    __slots__ = ("group", "start_ms", "end_ms")

    def __init__(self, group: str | None, start_ms: int):
        self.group, self.start_ms, self.end_ms = group, start_ms, start_ms


def parse(events) -> tuple[dict[str, dict[str, float]], list[JobWindow]]:
    """Return per-group counters and every job's [start, end] window."""
    per: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    jobs: dict[int, JobWindow] = {}
    stage_group: dict[int, str | None] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job = JobWindow(group, ev["Submission Time"])
            jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
                if job.group is not None:
                    g = per[job.group]
                    g["jobs"] += 1
                    g["job_ms"] += job.end_ms - job.start_ms
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is not None:
                per[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = per[group]
            g["tasks"] += 1
            g["executor_run_ms"] += m.get("Executor Run Time", 0)
            g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["jvm_gc_ms"] += m.get("JVM GC Time", 0)
            g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["shuffle_write_bytes"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(per), list(jobs.values())

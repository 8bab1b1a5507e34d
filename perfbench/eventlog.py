"""Per-job-group executor numbers from a Spark event log.

The traced run tags every outermost timed call with a job group
(``instrument.Probe.span``); this module folds the log's job and task
events into per-group task CPU, shuffle write and spill, plus the job
intervals that driver-only time is computed against.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    task_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Job group id -> stats, over every event log file in ``log_dir``.
    Jobs without a group are collected under the empty string."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
        if not n.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    groups.setdefault(group, GroupStats())
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        groups[job_group[jid]].job_intervals.append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    metrics = ev.get("Task Metrics")
                    if jid is None or not metrics:
                        continue
                    g = groups[job_group[jid]]
                    g.task_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
                    shuffle = metrics.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_mb += shuffle.get("Shuffle Bytes Written", 0) / 2**20
                    g.spill_mb += metrics.get("Disk Bytes Spilled", 0) / 2**20
    return groups

"""Spark event-log reader for the traced run.

The traced run labels every Spark job with ``sc.setJobGroup(<group>)``
and writes a local event log (the UI is off in the library's session, so
its REST API cannot be scraped). This module folds the log's task-end
events into per-group totals: jobs, tasks, executor run and CPU time,
JVM GC time, shuffle bytes and task skew.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    # stage id -> task run times (s), for skew
    stage_tasks: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max / median task run time in the group's busiest stage (1.0 when
        the group ran no tasks)."""
        if not self.stage_tasks:
            return 1.0
        times = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def log_files(log_dir: str) -> list[str]:
    """The event files of the single application logged under ``log_dir``,
    in write order: one plain file, or the ``events_<n>_*`` parts of a
    rolling log directory."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {len(apps)}")
    if os.path.isfile(apps[0]):
        return apps
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_groups(paths: list[str]) -> dict[str, GroupStats]:
    """Per job-group totals from one application's event files. Jobs
    without a group are filed under ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP_PROP) or ""
            groups[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                # a stage reused by a later job is skipped there: it
                # belongs to the job that first ran it
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            sid = ev["Stage ID"]
            gs = groups[stage_group.get(sid, "")]
            run_s = tm.get("Executor Run Time", 0) / 1e3
            gs.tasks += 1
            gs.run_s += run_s
            gs.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            gs.gc_s += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            gs.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
            gs.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            gs.stage_tasks[sid].append(run_s)
    return dict(groups)


def _lines(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            yield from f


def merge(stats: list[GroupStats]) -> GroupStats:
    """Sum of several groups (e.g. one layer across all traced batches)."""
    out = GroupStats()
    for s in stats:
        out.jobs += s.jobs
        out.tasks += s.tasks
        out.run_s += s.run_s
        out.cpu_s += s.cpu_s
        out.gc_s += s.gc_s
        out.shuffle_write_mb += s.shuffle_write_mb
        out.shuffle_read_mb += s.shuffle_read_mb
        for sid, t in s.stage_tasks.items():
            out.stage_tasks[sid].extend(t)
    return out

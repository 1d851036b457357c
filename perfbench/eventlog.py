"""Spark event-log reader: jobs with their job group, and task totals.

The benchmark sets the Spark job group (``spark.jobGroup.id``) to the name
of the innermost open span, so every job, and every task of its stages, is
attributed to the layer call that launched it. Reads plain or rolling
(``eventlog_v2_*/events_*``) uncompressed logs.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import re
import statistics
from typing import Iterable, Iterator


@dataclasses.dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float | None = None
    stages: tuple[int, ...] = ()


@dataclasses.dataclass
class TaskStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    # stage id -> task durations (s), for reduce-side skew
    stage_task_s: dict[int, list[float]] = dataclasses.field(default_factory=dict)
    reduce_stages: set[int] = dataclasses.field(default_factory=set)

    def add(self, other: "TaskStats") -> None:
        for f in dataclasses.fields(self):
            if f.name in ("stage_task_s", "reduce_stages"):
                continue
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        self.stage_task_s.update(other.stage_task_s)
        self.reduce_stages |= other.reduce_stages

    def reduce_task_skew(self) -> float | None:
        """Max over reduce stages of (max task time / median task time)."""
        ratios = []
        for sid in self.reduce_stages:
            ts = self.stage_task_s.get(sid, [])
            med = statistics.median(ts) if ts else 0.0
            if med > 0:
                ratios.append(max(ts) / med)
        return max(ratios) if ratios else None


@dataclasses.dataclass
class EventLog:
    jobs: list[Job]
    job_stats: dict[int, TaskStats]

    def stats(self, jobs: Iterable[Job]) -> TaskStats:
        """Task totals over the given jobs."""
        out = TaskStats()
        for j in jobs:
            out.add(self.job_stats.get(j.job_id, TaskStats()))
        return out

    def total(self) -> TaskStats:
        """Task totals over the whole log."""
        out = TaskStats()
        for st in self.job_stats.values():
            out.add(st)
        return out

    def in_groups(self, *prefixes: str) -> list[Job]:
        """Jobs whose group name starts with any of the prefixes."""
        return [j for j in self.jobs if j.group is not None and j.group.startswith(prefixes)]

    def started_within(self, intervals: Iterable[tuple[float, float]]) -> list[Job]:
        """Jobs submitted inside any of the [start, end] intervals."""
        iv = list(intervals)
        return [j for j in self.jobs if any(a <= j.start <= b for a, b in iv)]


def log_files(path: str) -> list[str]:
    """Event-log files under ``path`` (a file, a rolling-log directory, or a
    directory holding either), rolling parts in index order."""
    if os.path.isfile(path):
        return [path]
    parts = glob.glob(os.path.join(path, "events_*")) + glob.glob(
        os.path.join(path, "*", "events_*")
    )
    if parts:
        def index(p: str) -> int:
            m = re.match(r"events_(\d+)_", os.path.basename(p))
            return int(m.group(1)) if m else 0

        return sorted(parts, key=lambda p: (os.path.dirname(p), index(p)))
    return sorted(
        p for p in glob.glob(os.path.join(path, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


def read_events(path: str) -> Iterator[dict]:
    for fp in log_files(path):
        with open(fp) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a torn last line of an in-progress log


def parse(events: Iterable[dict]) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    job_stats: dict[int, TaskStats] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job = Job(ev["Job ID"], group, ev["Submission Time"] / 1e3, stages=tuple(ev.get("Stage IDs", ())))
            jobs[job.job_id] = job
            job_stats[job.job_id] = TaskStats(jobs=1)
            for sid in job.stages:
                # a stage reused by a later job was skipped there; its
                # tasks ran under the first job that listed it
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            owner = stage_job.get(ev["Stage ID"], -1)
            _add_task(job_stats.setdefault(owner, TaskStats()), ev)
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), job_stats)


def _add_task(st: TaskStats, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        st.failed_tasks += 1
    duration_ms = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
    run_ms = m.get("Executor Run Time", 0)
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1e3
    # the scheduler-delay definition of Spark's own UI
    st.scheduler_delay_s += max(
        0,
        duration_ms
        - run_ms
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0),
    ) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    read_bytes = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    im = m.get("Input Metrics") or {}
    st.input_records += im.get("Records Read", 0)
    sid = ev["Stage ID"]
    st.stage_task_s.setdefault(sid, []).append(duration_ms / 1e3)
    if read_bytes > 0 or sr.get("Total Records Read", 0) > 0:
        st.reduce_stages.add(sid)

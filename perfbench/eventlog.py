"""Spark event log reader: per-pass counters from the JSON events.

Spark 4 writes the log as a rolling directory (``eventlog_v2_<app>/events_<n>_<app>``);
a single file is read as well. A job belongs to the pass whose wall-clock
window holds its submission time, and a stage and its tasks belong to the
first job that lists the stage. So a job group or description set by the
program does not change the attribution.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# SQL metric names that only stages running Python workers carry
PYTHON_ACCUMULATOR = "Python workers"


def _event_files(log_dir: str) -> list[str]:
    entries = sorted(os.listdir(log_dir))
    if len(entries) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {entries}")
    path = os.path.join(log_dir, entries[0])
    if not os.path.isdir(path):
        return [path]

    def index(name: str) -> int:
        return int(name.split("_")[1])

    return [os.path.join(path, n)
            for n in sorted((n for n in os.listdir(path) if n.startswith("events_")), key=index)]


@dataclass
class Job:
    submitted_ms: int
    completed_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    completed: bool = False
    runs_python: bool = False


@dataclass
class PassCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    python_worker_s: float = 0.0
    busy_s: float = 0.0  # time covered by at least one running job
    csv_scans: int = 0


class EventLog:
    def __init__(self, log_dir: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.tasks: list[tuple[int, dict]] = []  # (stage id, task metrics)
        self.sql_starts: list[tuple[int, dict]] = []  # (time ms, plan info)
        for path in _event_files(log_dir):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = Job(ev["Submission Time"], stage_ids=ev["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]].completed_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], Stage())
            st.completed = True
            st.runs_python = any(PYTHON_ACCUMULATOR in (a.get("Name") or "")
                                 for a in info.get("Accumulables", ()))
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_starts.append((ev["time"], ev["sparkPlanInfo"]))

    def jobs_in(self, windows: list[tuple[int, int]]) -> list[int]:
        return [j for j, job in self.jobs.items()
                if any(a <= job.submitted_ms <= b for a, b in windows)]

    def counters(self, window: tuple[int, int]) -> PassCounters:
        """Counters of the jobs submitted inside ``window`` (epoch ms)."""
        job_ids = self.jobs_in([window])
        stage_job: dict[int, int] = {}
        for j in sorted(self.jobs):
            for s in self.jobs[j].stage_ids:
                stage_job.setdefault(s, j)
        mine = set(job_ids)
        c = PassCounters(jobs=len(job_ids))
        stage_run: dict[int, list[int]] = {}
        for sid, m in self.tasks:
            if stage_job.get(sid) not in mine:
                continue
            c.tasks += 1
            run_ms, cpu_ns = m.get("Executor Run Time", 0), m.get("Executor CPU Time", 0)
            c.executor_run_s += run_ms / 1e3
            c.executor_cpu_s += cpu_ns / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.scan_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            acc = stage_run.setdefault(sid, [0, 0])
            acc[0] += run_ms
            acc[1] += cpu_ns
        for sid, (run_ms, cpu_ns) in stage_run.items():
            st = self.stages.get(sid)
            if st is not None and st.completed:
                c.stages += 1
                if st.runs_python:
                    c.python_worker_s += max(run_ms / 1e3 - cpu_ns / 1e9, 0.0)
        c.busy_s = _covered_s([
            (self.jobs[j].submitted_ms, self.jobs[j].completed_ms or window[1])
            for j in job_ids], window)
        c.csv_scans = sum(_count_nodes(plan, "Scan csv")
                          for t, plan in self.sql_starts if window[0] <= t <= window[1])
        return c


def _covered_s(intervals: list[tuple[int, int]], window: tuple[int, int]) -> float:
    covered, end = 0, window[0]
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, window[1])
        if b > a:
            covered += b - a
            end = b
    return covered / 1e3


def _count_nodes(plan: dict, prefix: str) -> int:
    own = 1 if plan.get("nodeName", "").startswith(prefix) else 0
    return own + sum(_count_nodes(c, prefix) for c in plan.get("children", ()))

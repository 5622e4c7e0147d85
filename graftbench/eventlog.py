"""Parse Spark's own event log (uncompressed, non-rolling JSON lines)
into per-window job and task counters."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    start_s: float
    end_s: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> summed task metrics
    stage_tasks: dict[int, dict[str, float]] = field(default_factory=dict)
    size_bytes: int = 0


_TASK_KEYS = ("tasks", "run_s", "cpu_s", "gc_s", "spill_bytes", "shuffle_bytes")


def parse(log_dir: str) -> EventLog:
    """Read the one application log in ``log_dir``."""
    out = EventLog()
    for path in glob.glob(os.path.join(log_dir, "*")):
        out.size_bytes += os.path.getsize(path)
        with open(path) as fh:
            for line in fh:
                _event(out, json.loads(line))
    return out


def _event(out: EventLog, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        out.jobs[ev["Job ID"]] = Job(
            job_id=ev["Job ID"],
            group=props.get("spark.jobGroup.id"),
            start_s=ev["Submission Time"] / 1000,
            stages=list(ev.get("Stage IDs", [])),
        )
    elif kind == "SparkListenerJobEnd":
        job = out.jobs.get(ev["Job ID"])
        if job is not None:
            job.end_s = ev["Completion Time"] / 1000
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        acc = out.stage_tasks.setdefault(ev["Stage ID"], dict.fromkeys(_TASK_KEYS, 0.0))
        acc["tasks"] += 1
        acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)


def jobs_in(log: EventLog, t0: float, t1: float) -> list[Job]:
    """Jobs submitted inside the wall-clock window [t0, t1] (epoch s).

    Windowing, rather than the job group alone, also catches jobs that a
    query submits from its own worker threads, which do not inherit the
    caller's job group."""
    return [j for j in log.jobs.values() if t0 <= j.start_s <= t1]


def union_s(jobs: list[Job]) -> float:
    """Length of the union of the jobs' [start, end] spans."""
    spans = sorted((j.start_s, j.end_s or j.start_s) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def task_totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Summed task metrics and stage count over the given jobs' stages
    (stages that ran; skipped stages have no tasks)."""
    out = dict.fromkeys(_TASK_KEYS, 0.0)
    stages = {s for j in jobs for s in j.stages if s in log.stage_tasks}
    for s in stages:
        for k, v in log.stage_tasks[s].items():
            out[k] += v
    out["stages"] = len(stages)
    return out

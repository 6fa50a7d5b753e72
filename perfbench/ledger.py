"""Cost ledger from the Spark event log.

Jobs, tasks, executor CPU, GC and shuffle bytes are charged to the
benchmark-side call that was running when each job was SUBMITTED.  Job
groups would not do: the package starts driver threads that do not inherit
the caller's job group, so their jobs would go unnamed.  Calls run one at a
time from one client, so a job's submission time names its call exactly.
"""

from __future__ import annotations

import bisect
import glob
import json
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    stage_ids: list[int]


@dataclass
class Task:
    stage_id: int
    cpu_ms: float
    gc_ms: float
    shuffle_write_bytes: int


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


def parse(lines) -> EventLog:
    """Read the job-start and task-end events of an uncompressed,
    non-rolling event log (one JSON object per line)."""
    log = EventLog()
    for line in lines:
        if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
            continue  # cheap pre-filter: most lines are other events
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs.append(Job(ev["Job ID"], ev["Submission Time"], list(ev["Stage IDs"])))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            log.tasks.append(Task(
                ev["Stage ID"],
                m.get("Executor CPU Time", 0) / 1e6,
                float(m.get("JVM GC Time", 0)),
                wr.get("Shuffle Bytes Written", 0),
            ))
    return log


def read_dir(event_dir: str) -> EventLog:
    """Parse the single application log Spark wrote under ``event_dir``."""
    paths = sorted(glob.glob(f"{event_dir}/*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
    with open(paths[0]) as f:
        return parse(f)


@dataclass
class Cost:
    jobs: int = 0
    tasks: int = 0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_kb: float = 0.0  # shuffle bytes written


def attribute(log: EventLog, spans: list[tuple[str, float, float]]) -> list[Cost]:
    """One ``Cost`` per span ``(name, start_ms, end_ms)``; spans are in
    time order and do not overlap.  A job belongs to the span whose
    interval holds its submission time, a task to the job that lists its
    stage; jobs submitted outside every span are left out."""
    starts = [s for _, s, _ in spans]
    costs = [Cost() for _ in spans]
    stage_owner: dict[int, int] = {}
    for job in log.jobs:
        i = bisect.bisect_right(starts, job.submitted_ms) - 1
        if i < 0 or job.submitted_ms > spans[i][2]:
            continue
        costs[i].jobs += 1
        for sid in job.stage_ids:
            stage_owner.setdefault(sid, i)
    for t in log.tasks:
        i = stage_owner.get(t.stage_id)
        if i is None:
            continue
        c = costs[i]
        c.tasks += 1
        c.cpu_ms += t.cpu_ms
        c.gc_ms += t.gc_ms
        c.shuffle_kb += t.shuffle_write_bytes / 1024
    return costs

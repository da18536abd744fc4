"""Spark event log → per-span scheduler statistics.

A traced run writes an uncompressed event log into its scratch directory.
After the session stops, every job is matched to the innermost span whose
interval holds the job's submission time, and its tasks' metrics are summed
into that span and its ancestors.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .trace import Span, interval_union


@dataclass
class Job:
    id: int
    submit: float                 # seconds since the epoch
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0            # task core-seconds (executor run time)
    gc_s: float = 0.0
    shuffle_bytes: int = 0        # shuffle bytes written
    spill_bytes: int = 0          # memory + disk bytes spilled


def parse(lines) -> dict[int, Job]:
    """Jobs with their tasks' metrics from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, stages=ev["Stage IDs"])
            jobs[job.id] = job
            for sid in job.stages:
                # a stage runs in the first job that lists it; later jobs
                # (AQE re-plans) list it again as skipped
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job_id = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if job_id is None or not m:
                continue
            job = jobs[job_id]
            job.tasks += 1
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return jobs


def _log_files(log_dir: str) -> list[str]:
    """Files of the single application log in ``log_dir``: one plain file,
    or the ``events_<n>_*`` parts of a rolling log directory in order."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def read_dir(log_dir: str) -> dict[int, Job]:
    """Jobs of the single application log in ``log_dir``."""

    def lines():
        for name in _log_files(log_dir):
            with open(name) as f:
                yield from f

    return parse(lines())


def assign(spans: list[Span], jobs: dict[int, Job]) -> dict[int, list[int]]:
    """span id → ids of the jobs submitted inside it and no deeper span."""
    by_span: dict[int, list[int]] = {}
    depth = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, spans[p].parent
        depth[s.id] = d
    for job in jobs.values():
        holders = [
            s
            for s in spans
            if s.end is not None and s.start <= job.submit <= s.end
        ]
        if holders:
            inner = max(holders, key=lambda s: (depth[s.id], s.start))
            by_span.setdefault(inner.id, []).append(job.id)
    return by_span


def span_stats(
    span: Span, spans: list[Span], jobs: dict[int, Job], by_span: dict[int, list[int]]
) -> dict[str, float]:
    """Scheduler statistics of ``span`` including its descendants."""
    ids, todo = [], [span.id]
    while todo:
        sid = todo.pop()
        ids.extend(by_span.get(sid, []))
        todo.extend(s.id for s in spans if s.parent == sid)
    mine = [jobs[i] for i in ids]
    busy = interval_union(
        [
            (max(j.submit, span.start), min(j.end, span.end))
            for j in mine
            if j.end is not None and j.end > span.start
        ]
    )
    return {
        "jobs": len(mine),
        "tasks": sum(j.tasks for j in mine),
        "task_cpu_s": sum(j.run_s for j in mine),
        "driver_gap_s": max(0.0, span.wall - busy),
        "shuffle_bytes": sum(j.shuffle_bytes for j in mine),
        "spill_bytes": sum(j.spill_bytes for j in mine),
        "gc_s": sum(j.gc_s for j in mine),
    }

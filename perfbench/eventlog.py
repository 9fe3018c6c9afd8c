"""Fold an uncompressed Spark event log into per-span job statistics.

Reads the JSON-lines log with the standard library only (the session
must run with ``spark.eventLog.compress=false``). Jobs are attributed to
a span by the ``perfbench.span`` local property the tracer sets on the
submitting thread; a job without it goes to the innermost main-thread
span whose interval covers the job's submission time (build_graph's
barrier threads submit jobs without the property).
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

from spans import Tracer, covered

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Job:
    job_id: int
    submitted: float
    completed: float | None
    stage_ids: list
    span: int | None
    tasks: list = field(default_factory=list)  # per-task dicts


def read_jobs(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks_by_stage: dict[int, list] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = props.get(SPAN_PROPERTY)
                job = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000.0, None,
                    list(ev.get("Stage IDs", [])), int(tag) if tag else None,
                )
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks_by_stage.setdefault(ev["Stage ID"], []).append({
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "write": wr.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    for stage, tasks in tasks_by_stage.items():
        if stage in stage_job:
            jobs[stage_job[stage]].tasks.extend(tasks)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[Job], tracer: Tracer) -> None:
    """Fill ``job.span`` for jobs the property did not tag."""
    main = [s for s in tracer.spans if s.thread == tracer.main_thread and s.end is not None]
    depth = {s.sid: tracer.depth(s) for s in main}
    for job in jobs:
        if job.span is not None:
            continue
        covering = [s for s in main if s.start <= job.submitted <= s.end]
        if covering:
            job.span = max(covering, key=lambda s: (depth[s.sid], s.start)).sid


@dataclass
class JobStats:
    jobs: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 0.0  # max/median task time of the heaviest stage

    def as_metrics(self, prefix: str) -> dict[str, tuple[float, str]]:
        return {
            f"{prefix}.task_s": (self.task_s, "s"),
            f"{prefix}.gc_s": (self.gc_s, "s"),
            f"{prefix}.shuffle_read_bytes": (self.shuffle_read_bytes, "bytes"),
            f"{prefix}.shuffle_write_bytes": (self.shuffle_write_bytes, "bytes"),
            f"{prefix}.spill_bytes": (self.spill_bytes, "bytes"),
            f"{prefix}.task_skew": (self.task_skew, "ratio"),
        }


def stats_for(jobs: list[Job], span_ids: set[int], per: int = 1) -> JobStats:
    """Job statistics of the jobs attributed to ``span_ids``; additive
    figures are divided by ``per`` (e.g. the number of timed passes)."""
    mine = [j for j in jobs if j.span in span_ids]
    tasks = [t for j in mine for t in j.tasks]
    out = JobStats(jobs=len(mine))
    if not tasks:
        return out
    per = max(per, 1)
    out.task_s = sum(t["run_ms"] for t in tasks) / 1000.0 / per
    out.gc_s = sum(t["gc_ms"] for t in tasks) / 1000.0 / per
    out.shuffle_read_bytes = sum(t["read"] for t in tasks) / per
    out.shuffle_write_bytes = sum(t["write"] for t in tasks) / per
    out.spill_bytes = sum(t["spill"] for t in tasks) / per
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    heaviest = max(by_stage.values(), key=sum)
    med = statistics.median(heaviest)
    out.task_skew = max(heaviest) / med if med > 0 else 1.0
    return out


def idle_time(jobs: list[Job], lo: float, hi: float) -> float:
    """Part of [lo, hi] during which no Spark job was running."""
    busy = [(j.submitted, j.completed) for j in jobs if j.completed is not None]
    return (hi - lo) - covered(busy, lo, hi)

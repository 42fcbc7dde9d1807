"""Spans around calls into the package, and Spark job metrics per span.

With tracing off, ``Tracer.span`` only yields. With tracing on it records
(name, start, end, parent, request) in memory, tags the Spark jobs the
call launches with a job group named after the span, and after the
session stops, reads Spark's event log to give each span its jobs,
stages, tasks, executor run time, shuffle bytes and spill. Jobs that a
job group cannot tag (a streaming query runs its batches on its own
thread) are given to the innermost span open when they were submitted.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    request: str
    parent: str | None
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)  # (submit, complete) epoch seconds
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_gap_s(self) -> float:
        """Wall time not covered by any of the span's Spark jobs."""
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((max(s, self.start), min(e, self.end)) for s, e in self.jobs):
            if cur_e is None or s > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        covered += (cur_e - cur_s) if cur_e is not None else 0.0
        return max(0.0, self.wall_s - covered)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # the SparkContext, once it exists; job groups are set from then on
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{name}#{len(self.spans)}", name, request or (parent.request if parent else ""),
                  parent.id if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def attach_event_log(self, event_dir: str) -> None:
        """Fold the event log's job, stage and task records into the spans.
        Call after the session has stopped, so the log is complete."""
        by_id = {s.id: s for s in self.spans}
        job_span, job_times, stage_job = {}, {}, {}
        task_ends = []
        for path in sorted(glob.glob(f"{event_dir}/**", recursive=True)):
            if not os.path.isfile(path):
                continue
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        submit = ev["Submission Time"] / 1000.0
                        sp = by_id.get(group) or self._innermost_at(submit)
                        job_times[jid] = [submit, submit]
                        if sp is not None:
                            job_span[jid] = sp
                            sp.stages += len(ev["Stage IDs"])
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in job_times:
                            job_times[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        task_ends.append(ev)
        for jid, sp in job_span.items():
            sp.jobs.append(tuple(job_times[jid]))
        for ev in task_ends:
            sp = job_span.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if sp is None or not m:
                continue
            sp.tasks += 1
            sp.task_s += m.get("Executor Run Time", 0) / 1000.0
            sp.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            sp.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    def _innermost_at(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "request": s.request, "parent": s.parent,
             "start": s.start, "end": s.end, "jobs": len(s.jobs), "stages": s.stages,
             "tasks": s.tasks, "task_s": s.task_s, "driver_gap_s": s.driver_gap_s,
             "shuffle_write_bytes": s.shuffle_write_bytes, "spill_bytes": s.spill_bytes}
            for s in self.spans
        ]

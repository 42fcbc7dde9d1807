"""Print a Spark event log as a job timeline.

    python tools/job_timeline.py <event log file or directory> [--label TEXT]

One row per job, in submission order: its label, its start as an offset
from the first job's start, the gap since the latest earlier job ended
(driver time with no job running; 0 when jobs overlap), its duration and
the task count of each stage it ran (a stage skipped because its shuffle
output already existed is shown in brackets). Then one row per label: the
job count and the summed job time (overlapping jobs are summed, not
merged). ``--label`` keeps only the jobs whose label contains TEXT.

A job's label is its ``spark.job.description`` (``IndexStore`` names its
jobs, e.g. ``upsert seg=3 build``), else its job group, else its call
site. The log must be uncompressed: run the session with
``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false`` and
``spark.eventLog.dir=<dir>``, and pass the file or the directory after
the session has stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    label: str
    start: float  # epoch seconds
    end: float
    stages: list[tuple[int, int]] = field(default_factory=list)  # (stage id, tasks)
    ran: set[int] = field(default_factory=set)  # stage ids submitted

    @property
    def duration(self) -> float:
        return self.end - self.start

    def tasks(self) -> str:
        return " ".join(
            str(n) if sid in self.ran else f"[{n}]" for sid, n in sorted(self.stages)
        )


def _label(props: dict) -> str:
    """One line: a streaming batch's description spans several."""
    for key in ("spark.job.description", "spark.jobGroup.id", "callSite.short"):
        if props.get(key):
            return " ".join(props[key].split())
    return ""


def read_jobs(lines) -> list[Job]:
    """The jobs of an event log's JSON lines, in submission order. A
    submitted stage belongs to the latest running job that lists it; a
    job's other stages were skipped."""
    jobs: dict[int, Job] = {}
    running: list[Job] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            job = jobs[ev["Job ID"]] = Job(
                ev["Job ID"], _label(ev.get("Properties") or {}), t, t,
                [(s["Stage ID"], s["Number of Tasks"]) for s in ev.get("Stage Infos", [])],
            )
            running.append(job)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            job = jobs[ev["Job ID"]]
            job.end = ev["Completion Time"] / 1000.0
            running = [j for j in running if j is not job]
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            owners = [j for j in running if any(s == sid for s, _ in j.stages)]
            if owners:
                owners[-1].ran.add(sid)
    return sorted(jobs.values(), key=lambda j: (j.start, j.id))


def _log_lines(path: str):
    files = (
        sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        if os.path.isdir(path) else [path]
    )
    for name in files:
        if name.endswith((".lz4", ".lzf", ".snappy", ".zstd")):
            raise SystemExit(f"{name}: compressed event log; rerun with spark.eventLog.compress=false")
        with open(name) as f:
            yield from f


def render(jobs: list[Job]) -> str:
    """The per-job table, then the per-label totals."""
    out = [f"{'job':>5} {'start_s':>8} {'gap_s':>7} {'dur_s':>7}  tasks/stage  label"]
    t0 = jobs[0].start if jobs else 0.0
    last_end = None
    totals: dict[str, list] = {}
    for j in jobs:
        gap = 0.0 if last_end is None else max(0.0, j.start - last_end)
        last_end = j.end if last_end is None else max(last_end, j.end)
        out.append(
            f"{j.id:>5} {j.start - t0:>8.3f} {gap:>7.3f} {j.duration:>7.3f}  "
            f"{j.tasks():<11}  {j.label}"
        )
        tot = totals.setdefault(j.label, [0, 0.0])
        tot[0] += 1
        tot[1] += j.duration
    out.append("")
    out.append(f"{'jobs':>5} {'sum_s':>8}  label")
    for label, (n, s) in sorted(totals.items(), key=lambda kv: -kv[1][1]):
        out.append(f"{n:>5} {s:>8.3f}  {label}")
    return "\n".join(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("event_log", help="an uncompressed event log file, or its directory")
    ap.add_argument("--label", default="", help="keep only jobs whose label contains this")
    a = ap.parse_args(argv)
    jobs = [j for j in read_jobs(_log_lines(a.event_log)) if a.label in j.label]
    print(render(jobs))
    return 0


if __name__ == "__main__":
    sys.exit(main())

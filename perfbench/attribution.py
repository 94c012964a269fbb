"""Attribute wall time to layers from outside the program.

Pure functions over two inputs the benchmark collects without touching the
engine:

- a Spark event log (plain or zstd, single file or Spark 4 rolling
  directory), reduced to jobs and tasks with wall-clock times in seconds;
- spans the benchmark records around its calls into the program (session,
  engine, rounds, stage windows, queries).

A job belongs to the window that contains its submission time. A window's
idle time is the part of it during which no task of any job was running;
its busy time is the task time that overlaps it. A span's self time is its
duration minus the part its children cover.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
TABLE_RE = re.compile(r"/tables/(\w+)/v\d+")
MB = 1024 * 1024


# ---- event log -----------------------------------------------------------

def event_log_files(path: str) -> list[str]:
    """The event-log parts under ``path``: the file itself, or the
    ``events_<n>_*`` parts of a rolling directory in order of ``n``."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def read_events(path: str) -> list[dict]:
    out = []
    for part in event_log_files(path):
        if part.endswith(".zstd"):
            text = subprocess.run(["zstd", "-dcq", part], capture_output=True,
                                  check=True).stdout.decode()
        else:
            with open(part) as f:
                text = f.read()
        for line in text.splitlines():
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                continue  # a truncated last line of an unfinished log
    return out


@dataclass
class Job:
    id: int
    submit: float
    stages: list[int]
    desc: str | None = None
    table: str | None = None  # state table a write job writes, if any


@dataclass
class Task:
    job: int | None
    stage: int
    start: float
    end: float
    failed: bool
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int
    out_bytes: int


@dataclass
class Timeline:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    stages_run: set[int] = field(default_factory=set)

    @classmethod
    def from_events(cls, events: list[dict]) -> "Timeline":
        tl = cls()
        stage_job: dict[int, int] = {}
        exec_table: dict[str, str] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == SQL_START:
                m = TABLE_RE.search(ev.get("physicalPlanDescription") or "")
                if m:
                    exec_table[str(ev["executionId"])] = m.group(1)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                          list(ev.get("Stage IDs", [])),
                          props.get("spark.job.description"),
                          exec_table.get(str(props.get("spark.sql.execution.id"))))
                tl.jobs[job.id] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerStageCompleted":
                tl.stages_run.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                met = ev.get("Task Metrics") or {}
                rd = met.get("Shuffle Read Metrics") or {}
                wr = met.get("Shuffle Write Metrics") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                tl.tasks.append(Task(
                    job=stage_job.get(ev["Stage ID"]),
                    stage=ev["Stage ID"],
                    start=info.get("Launch Time", 0) / 1000.0,
                    end=info.get("Finish Time", 0) / 1000.0,
                    failed=bool(info.get("Failed")) or reason not in
                    (None, "Success"),
                    gc_s=met.get("JVM GC Time", 0) / 1000.0,
                    shuffle_bytes=(rd.get("Remote Bytes Read", 0)
                                   + rd.get("Local Bytes Read", 0)
                                   + wr.get("Shuffle Bytes Written", 0)),
                    spill_bytes=(met.get("Memory Bytes Spilled", 0)
                                 + met.get("Disk Bytes Spilled", 0)),
                    out_bytes=(met.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)))
        return tl


# ---- windows -------------------------------------------------------------

def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def assign_jobs(jobs, windows: dict[str, tuple[float, float]]
                ) -> dict[str, list[int]]:
    """Job ids per window, by submission time; a window is ``[start, end)``.
    Windows are expected not to overlap; a job outside all of them is left
    out."""
    out: dict[str, list[int]] = {name: [] for name in windows}
    for job in jobs:
        for name, (lo, hi) in windows.items():
            if lo <= job.submit < hi:
                out[name].append(job.id)
                break
    return out


def window_stats(tl: Timeline, lo: float, hi: float, job_ids,
                 cores: int) -> dict[str, float]:
    """Spark-side numbers for one window. ``jobs``/``stages``/``tasks`` and
    the per-task sums count the window's own jobs; ``busy_s``/``idle_s``
    look at every task that ran during the window, whoever submitted it."""
    ids = set(job_ids)
    own = [t for t in tl.tasks if t.job in ids]
    stages = {s for j in ids for s in tl.jobs[j].stages} & tl.stages_run
    spans = [(t.start, t.end) for t in tl.tasks]
    wall = hi - lo
    covered = union_length(spans, lo, hi)
    busy = sum(max(0.0, min(t.end, hi) - max(t.start, lo)) for t in tl.tasks)
    return {
        "jobs": len(ids),
        "stages": len(stages),
        "tasks": len(own),
        "failed_tasks": sum(t.failed for t in own),
        "busy_s": busy,
        "idle_s": wall - covered,
        "core_util": busy / (wall * cores) if wall > 0 else 0.0,
        "gc_s": sum(t.gc_s for t in own),
        "shuffle_mb": sum(t.shuffle_bytes for t in own) / MB,
        "spill_mb": sum(t.spill_bytes for t in own) / MB,
        "out_mb": sum(t.out_bytes for t in own) / MB,
    }


def table_out_mb(tl: Timeline, job_ids) -> dict[str, float]:
    """MB of output written per state table by the given jobs."""
    ids = set(job_ids)
    out: dict[str, float] = {}
    for t in tl.tasks:
        if t.job in ids and t.out_bytes:
            table = tl.jobs[t.job].table or "other"
            out[table] = out.get(table, 0.0) + t.out_bytes / MB
    return out


# ---- spans ---------------------------------------------------------------

@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: str | None = None, **attrs) -> str:
        sid = f"{len(self.spans)}"
        self.spans.append(Span(sid, name, start, end, parent, self.run_id,
                               attrs))
        return sid

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        rows = [{**s.__dict__, "self_s": st[s.id]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f)


def self_times(spans: list[Span]) -> dict[str, float]:
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: (s.end - s.start) - union_length(
        [(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
        for s in spans}


ROUND_METRICS = ("round.jobs", "round.stages", "round.tasks",
                 "round.failed_tasks", "round.busy_s", "round.idle_s",
                 "round.core_util", "round.other_s", "spark.gc_s",
                 "spark.shuffle_mb", "spark.spill_mb")


def round_metrics(st: dict, other_s: float) -> dict[str, float]:
    """The layer metrics every workload reports for one of its rounds, from
    the round's ``window_stats`` and the part of it no child span covers."""
    out = {f"round.{k}": st[k] for k in ("jobs", "stages", "tasks",
                                         "failed_tasks", "busy_s", "idle_s",
                                         "core_util")}
    out.update({f"spark.{k}": st[k] for k in ("gc_s", "shuffle_mb",
                                              "spill_mb")})
    out["round.other_s"] = other_s
    return out


def medians(rows: list[dict]) -> dict[str, float]:
    """Per key, the median over the rows that have it."""
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}

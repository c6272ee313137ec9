"""Spans around calls into the package's layers, and the Spark event
log read back after the run.

A span is (id, name, start, end, parent, run id). The layer of a span
is its name up to the first dot: `extract.surfaces` belongs to
`extract`, `tables.ordered.write` to `tables`. Spans stay in memory and
are written out once, when the run ends.

Spark jobs are attributed to spans by job tag where the tag reached
the job, and otherwise by submission time to the innermost span open
at that moment: jobs submitted from a thread other than the one that
opened the span (the stream execution thread of a micro-batch, a
background thread of the pipeline) do not inherit the tag.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

TAG_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, sc, run_id: str):
        self._sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        self._sc.clearJobTags()
        if span is not None:
            self._sc.addJobTag(f"{TAG_PREFIX}{span.id}")

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0,
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f, indent=1)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its children."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - child_time.get(s.id, 0.0) for s in spans}


# --- event log -----------------------------------------------------------

@dataclass
class Job:
    id: int
    submit: float
    end: float
    tags: tuple[str, ...]
    stages: tuple[int, ...]


@dataclass
class Task:
    stage: int
    run_s: float
    gc_s: float
    shuffle_write_b: int
    failed: bool


def read_event_log(log_dir: str) -> tuple[list[Job], list[Task]]:
    """Parse the (uncompressed, unrolled) event log of the one
    application that wrote into `log_dir`."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    tags = ev.get("Properties", {}).get("spark.job.tags", "")
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                        tuple(t for t in tags.split(",") if t),
                        tuple(ev["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    tasks.append(Task(
                        ev["Stage ID"],
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("JVM GC Time", 0) / 1000.0,
                        sw.get("Shuffle Bytes Written", 0),
                        reason not in (None, "Success"),
                    ))
    return list(jobs.values()), tasks


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, int]:
    """job id -> span id (jobs outside every span are left out)."""
    by_tag = {f"{TAG_PREFIX}{s.id}": s.id for s in spans}
    out: dict[int, int] = {}
    for j in jobs:
        tagged = [by_tag[t] for t in j.tags if t in by_tag]
        if tagged:
            out[j.id] = tagged[0]
            continue
        open_ = [s for s in spans if s.start <= j.submit <= s.end]
        if open_:
            out[j.id] = max(open_, key=lambda s: s.start).id
    return out


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_table(spans: list[Span], jobs: list[Job], tasks: list[Task],
                root: Span) -> dict:
    """Per layer: self time, job count, task time, shuffle write, GC and
    failed tasks of the jobs attributed to its spans, plus the whole
    pass's driver gap (time inside the pass with no job running)."""
    selfs = self_times(spans)
    job_span = attribute_jobs(spans, jobs)
    span_by_id = {s.id: s for s in spans}
    stage_job: dict[int, int] = {}
    for j in jobs:
        for st in j.stages:
            stage_job[st] = j.id
    layers: dict[str, dict] = {}

    def row(layer: str) -> dict:
        return layers.setdefault(layer, {
            "wall_s": 0.0, "jobs": 0, "task_s": 0.0,
            "shuffle_write_mb": 0.0, "gc_s": 0.0, "tasks_failed": 0,
        })

    for s in spans:
        row(s.layer)["wall_s"] += selfs[s.id]
    for j in jobs:
        if j.id in job_span:
            row(span_by_id[job_span[j.id]].layer)["jobs"] += 1
    for t in tasks:
        jid = stage_job.get(t.stage)
        if jid not in job_span:
            continue
        r = row(span_by_id[job_span[jid]].layer)
        r["task_s"] += t.run_s
        r["gc_s"] += t.gc_s
        r["shuffle_write_mb"] += t.shuffle_write_b / 2**20
        r["tasks_failed"] += int(t.failed)

    in_pass = [j for j in jobs if root.start <= j.submit <= root.end]
    stage_ids = {st for j in in_pass for st in j.stages}
    pass_tasks = [t for t in tasks if t.stage in stage_ids]
    wall = root.end - root.start
    busy = covered_seconds([(j.submit, j.end) for j in in_pass], root.start, root.end)
    return {
        "layers": layers,
        "pass": {
            "wall_s": wall,
            "driver_gap_s": wall - busy,
            "jobs": len(in_pass),
            "stages": len(stage_ids),
            "tasks_failed": sum(int(t.failed) for t in pass_tasks),
            "gc_s": sum(t.gc_s for t in pass_tasks),
            "self_time_sum_s": sum(selfs.values()),
        },
    }


def skew(rows_per_partition: list[int]) -> float:
    """max / median partition rows (1.0 = perfectly even)."""
    rows = [r for r in rows_per_partition if r > 0]
    if not rows:
        return 0.0
    return max(rows) / statistics.median(rows)

"""Spans around the benchmark's public calls, and the Spark event log
mapped onto them.

A traced run records one :class:`Span` per public call the workload
makes (and one per pass, as their parent), tags the Spark jobs a span
submits with its job group, and lets Spark write its own event log.
:func:`span_receipts` then joins the two: each job goes to the span
named by its job group, or, when it carries none (jobs submitted from
threads a product starts itself do not inherit the group), to the
innermost span open at its submission time.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    span_id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Keeps spans in memory; ``enabled`` can be switched between passes
    so one process measures traced and untraced passes alike."""

    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.time(), math.nan,
                  parent.span_id if parent else None, self.run_id)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.span_id}", sp.name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ---- interval arithmetic ---------------------------------------------------


def union_length(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
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


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part its child spans cover."""
    children = [(c.start, c.end) for c in spans if c.parent == span.span_id]
    return (span.end - span.start) - union_length(children, span.start, span.end)


def attribute_jobs(jobs: list[dict], spans: list[Span]) -> dict[int, int]:
    """Map job id → span id.

    A job whose group names a span belongs to it. Any other job belongs
    to the innermost span whose interval holds its submission time; a
    job outside every span is left out."""
    by_id = {s.span_id: s for s in spans}
    depth: dict[int, int] = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_id[p].parent
        depth[s.span_id] = d
    out: dict[int, int] = {}
    for job in jobs:
        group = job.get("group") or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
            if sid in by_id:
                out[job["job_id"]] = sid
                continue
        t = job["submit"]
        holders = [s for s in spans if s.start <= t <= s.end]
        if holders:
            out[job["job_id"]] = max(holders, key=lambda s: depth[s.span_id]).span_id
    return out


# ---- percentiles -------------------------------------------------------------

#: a percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100, nearest rank) of ``values``,
    or ``None`` when fewer than ``MIN_BEYOND`` samples lie beyond it."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q / 100 * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


# ---- event log ---------------------------------------------------------------


@dataclass
class EventLog:
    jobs: list[dict] = field(default_factory=list)
    stages: dict[int, dict] = field(default_factory=dict)  # completed only
    tasks: list[dict] = field(default_factory=list)


_PY_RUN = "time to run Python workers"


def read_event_log(paths) -> EventLog:
    """Parse uncompressed, unrolled Spark event log files into job,
    stage and task records (times in epoch seconds)."""
    log = EventLog()
    ends: dict[int, float] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    log.jobs.append({
                        "job_id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "stage_ids": list(ev.get("Stage IDs", [])),
                        "group": props.get("spark.jobGroup.id"),
                    })
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    log.stages[info["Stage ID"]] = {
                        "submit": info.get("Submission Time", 0) / 1000.0,
                        "end": info.get("Completion Time", 0) / 1000.0,
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    inp = tm.get("Input Metrics") or {}
                    py_ms = sum(
                        float(a.get("Update") or 0)
                        for a in ti.get("Accumulables", [])
                        if a.get("Name") == _PY_RUN
                    )
                    log.tasks.append({
                        "stage_id": ev["Stage ID"],
                        "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "py_s": py_ms / 1000.0,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "records_read": inp.get("Records Read", 0),
                    })
    for job in log.jobs:
        job["end"] = ends.get(job["job_id"], job["submit"])
    return log


SPAN_METRICS = (
    "wall_s", "driver_s", "jobs", "stages", "exec_cpu_s", "python_s",
    "shuffle_bytes", "task_skew",
)


def span_receipts(spans: list[Span], log: EventLog) -> dict[int, dict]:
    """Per-span layer metrics for every span that has a parent (the
    public calls; pass spans are only their containers)."""
    job_span = attribute_jobs(log.jobs, spans)
    stage_job: dict[int, int] = {}
    for job in log.jobs:
        for sid in job["stage_ids"]:
            stage_job.setdefault(sid, job["job_id"])
    tasks_by_stage: dict[int, list[dict]] = {}
    for t in log.tasks:
        tasks_by_stage.setdefault(t["stage_id"], []).append(t)
    out: dict[int, dict] = {}
    for sp in spans:
        if sp.parent is None:
            continue
        jobs = [j for j in log.jobs if job_span.get(j["job_id"]) == sp.span_id]
        stage_ids = [
            s for j in jobs for s in j["stage_ids"] if s in log.stages
        ]
        tasks = [t for s in stage_ids for t in tasks_by_stage.get(s, [])]
        skew = 1.0
        if stage_ids:
            longest = max(
                stage_ids, key=lambda s: log.stages[s]["end"] - log.stages[s]["submit"]
            )
            durs = [t["dur"] for t in tasks_by_stage.get(longest, [])]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        wall = sp.end - sp.start
        out[sp.span_id] = {
            "wall_s": wall,
            "driver_s": wall - union_length(
                [(j["submit"], j["end"]) for j in jobs], sp.start, sp.end
            ),
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "exec_cpu_s": sum(t["cpu_s"] for t in tasks),
            "python_s": sum(t["py_s"] for t in tasks),
            "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
            "task_skew": skew,
            "records_read": sum(t["records_read"] for t in tasks),
        }
    return out

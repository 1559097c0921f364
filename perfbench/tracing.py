"""Benchmark-side tracing: spans, summary statistics and Spark event-log
parsing.

Spans are recorded only around the benchmark's own calls into the engine
(run → workload → phase → step). They are kept in memory and written out
once at the end. Spark jobs are attributed to step spans by the job
description the benchmark sets from the calling thread, and otherwise by
the span whose time window holds the job's submission (streaming jobs carry
Spark's own batch description, not ours).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import asdict, dataclass

from .metrics import SPARK_UNITS

#: Prefix of the job descriptions the benchmark sets; the span id follows.
DESC_PREFIX = "perfbench:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float | None = None
    group: str | None = None  # metric family a step span reports under

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start


class Tracer:
    """An in-memory span tree. ``open``/``close`` keep a stack, so the
    parent of a span is whatever span was open when it started."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str, group: str | None = None) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, time.time(), group=group)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> float:
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span.name!r} closed out of order")
        self._stack.pop()
        span.end = time.time()
        return span.seconds

    def step_spans(self) -> list[Span]:
        return [s for s in self.spans if s.group is not None and s.end is not None]

    def check_tree(self) -> list[str]:
        """Parent links must point at an earlier span whose interval
        contains the child's; returns the violations."""
        problems = []
        for s in self.spans:
            if s.end is None:
                problems.append(f"{s.name}: never closed")
            if s.parent is None:
                continue
            if not 0 <= s.parent < s.id:
                problems.append(f"{s.name}: parent {s.parent} is not an earlier span")
                continue
            p = self.spans[s.parent]
            if s.start < p.start or (p.end is not None and s.end is not None and s.end > p.end):
                problems.append(f"{s.name}: outside its parent {p.name}")
        return problems

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# -- Spark event log ---------------------------------------------------------


def read_event_log(root: str) -> list[dict]:
    """All events of the (single) application logged under ``root``.
    Handles both a plain event file and Spark's rolling
    ``eventlog_v2_*/events_<n>_*`` directory."""
    files = []
    for dirpath, _, names in os.walk(root):
        files += [os.path.join(dirpath, n) for n in names if not n.startswith((".", "appstatus"))]

    def order(path: str):
        base = os.path.basename(path)
        parts = base.split("_")
        idx = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), idx, base)

    events = []
    for path in sorted(files, key=order):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int | None
    description: str | None
    stages: list[int]


def parse_jobs(events: list[dict]) -> tuple[dict[int, Job], dict[int, list[dict]]]:
    """Jobs by id, and task-end metrics by stage id."""
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                e["Job ID"],
                e["Submission Time"],
                None,
                props.get("spark.job.description"),
                list(e.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.setdefault(e["Stage ID"], []).append(
                {
                    "cpu_ms": (m.get("Executor CPU Time") or 0) / 1e6,
                    "gc_ms": m.get("JVM GC Time") or 0,
                    "shuffle_bytes": sw.get("Shuffle Bytes Written") or 0,
                }
            )
    return jobs, tasks


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[Span], events: list[dict]) -> dict[str, dict[str, float]]:
    """Per span group: jobs, tasks, executor CPU, GC, shuffle bytes written
    and the planning gap (span wall minus the time covered by its jobs),
    summed over the group's spans."""
    jobs, tasks = parse_jobs(events)
    by_id = {s.id: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    owner: dict[int, Span] = {}
    for job in jobs.values():
        span = None
        d = job.description or ""
        if d.startswith(DESC_PREFIX):
            span = by_id.get(int(d[len(DESC_PREFIX):].split(":", 1)[0]))
        if span is None:
            t = job.submit_ms / 1000.0
            span = next((s for s in ordered if s.start <= t <= s.end), None)
        if span is not None:
            owner[job.id] = span
    out: dict[str, dict[str, float]] = {}
    covered: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        g = out.setdefault(s.group, dict.fromkeys(SPARK_UNITS, 0.0))
        g["planning_gap_ms"] += s.seconds * 1000.0
    for jid, span in owner.items():
        job = jobs[jid]
        g = out[span.group]
        g["jobs"] += 1
        for st in job.stages:
            for t in tasks.get(st, []):
                g["tasks"] += 1
                g["task_cpu_ms"] += t["cpu_ms"]
                g["gc_ms"] += t["gc_ms"]
                g["shuffle_bytes"] += t["shuffle_bytes"]
        end = job.end_ms if job.end_ms is not None else job.submit_ms
        lo, hi = max(job.submit_ms, span.start * 1000.0), min(end, span.end * 1000.0)
        if hi > lo:
            covered.setdefault(span.id, []).append((lo, hi))
    for sid, iv in covered.items():
        out[by_id[sid].group]["planning_gap_ms"] -= _union_ms(iv)
    return out

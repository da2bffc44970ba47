"""Spans recorded from outside the engine, and Spark job attribution.

A span wraps one call into a public function of the engine: name,
start, end, parent span and op id. When tracing is on, each span also
tags the Spark jobs it issues with its own job group, and after the run
the Spark event log (plain JSON lines: rolling and compression off) is
read back to give every span its jobs, stages, tasks, task time, CPU
time, shuffle and output bytes, and driver gap. The driver gap is the
span's wall time minus the union of its jobs' run intervals.

With tracing off the same calls run through :class:`Tracer` with no
spans kept and no job groups set.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    sid: int
    spark: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``enabled=False`` makes every span free."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_op = 1
        #: seconds spent in the tracer's own bookkeeping (job-group calls
        #: into the JVM included): the cost tracing adds to traced calls
        self.overhead_s = 0.0

    def new_op(self) -> int:
        op, self._next_op = self._next_op, self._next_op + 1
        return op

    @contextlib.contextmanager
    def span(self, name: str, op: int = 0):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, op, sid)
        self.spans.append(s)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t0 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    p = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(f"span-{p.sid}", p.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def event_log_conf(log_dir: str) -> dict:
    """Spark conf for an event log this module can read: one plain JSON
    file per application."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file:{log_dir}",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def _union_seconds(intervals: list[tuple[float, float]], lo: float,
                   hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute_jobs(spans: list[Span], log_dir: str) -> None:
    """Fill ``span.spark`` for every span from the event log in
    ``log_dir``. Jobs count toward the span whose job group issued them
    (the innermost open span); a parent's figures include its
    children's."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jid = ev["Job ID"]
                jobs[jid] = {"group": group,
                             "start": ev["Submission Time"] / 1000.0,
                             "end": None, "stages": set(), "tasks": 0,
                             "task_s": 0.0, "cpu_s": 0.0, "shuffle_w": 0,
                             "output_w": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics") or {}
                if job is None:
                    continue
                job["stages"].add(ev["Stage ID"])
                job["tasks"] += 1
                job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                job["output_w"] += (m.get("Output Metrics") or {}) \
                    .get("Bytes Written", 0)
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
        by_group.setdefault(j["group"], []).append(j)
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.sid)

    def own_and_nested(sid: int) -> list[dict]:
        out = list(by_group.get(f"span-{sid}", []))
        for c in children.get(sid, []):
            out.extend(own_and_nested(c))
        return out

    for s in spans:
        js = own_and_nested(s.sid)
        busy = _union_seconds([(j["start"], j["end"]) for j in js],
                              s.start, s.end)
        s.spark = {
            "jobs": len(js),
            "stages": sum(len(j["stages"]) for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "task_s": sum(j["task_s"] for j in js),
            "cpu_s": sum(j["cpu_s"] for j in js),
            "shuffle_write_mb": sum(j["shuffle_w"] for j in js) / 1e6,
            "output_mb": sum(j["output_w"] for j in js) / 1e6,
            "driver_gap_s": max(0.0, s.seconds - busy),
        }

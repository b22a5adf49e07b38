"""Span tracer for the benchmark's traced run.

The tracer wraps the engine's public functions from outside (no program code
changes) and records one span per call: name, parent, thread, start and end.
Spans stay in memory and are written out when the run ends. Each span sets
the Spark job description to its id, so every Spark job in the event log is
attributed to the innermost span that launched it.

A span opened on a thread with no open span of its own (the micro-batch
engine calls ``foreachBatch`` functions back on other threads) takes the
innermost open span of the main thread as its parent.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    t0: float
    t1: float = 0.0
    produced: bool = False  # returned something other than None or False
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans while ``enabled``; wrapped functions pass straight
    through while it is not, so traced and untraced passes alternate in one
    process."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.spark_context = None
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_description(self, span: Span | None) -> None:
        if self.spark_context is not None:
            self.spark_context.setJobDescription(
                None if span is None else f"span={span.id} {span.name}"
            )

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            span = Span(
                len(self.spans), name, parent.id if parent else None,
                threading.current_thread().name, time.time(),
            )
            self.spans.append(span)
        stack.append(span)
        self._set_description(span)
        try:
            result = fn(*args, **kwargs)
            span.produced = result is not None and result is not False
            return result
        finally:
            span.t1 = time.time()
            stack.pop()
            self._set_description(stack[-1] if stack else None)

    def wrap_fn(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a traced version for the process."""
        setattr(owner, attr, self.wrap_fn(getattr(owner, attr), name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "thread": s.thread, "t0": s.t0, "t1": s.t1,
                }) + "\n")


# -- analysis ----------------------------------------------------------------


def link(spans: list[Span]) -> dict[int, Span]:
    by_id = {s.id: s for s in spans}
    for s in spans:
        s.children = []
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            by_id[s.parent].children.append(s)
    return by_id


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: Span) -> float:
    """Span duration minus the part of it its children cover."""
    covered = _union([
        (max(c.t0, span.t0), min(c.t1, span.t1)) for c in span.children
        if c.t1 > span.t0 and c.t0 < span.t1
    ])
    return span.dur - covered


def covered(spans: list[Span], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by root spans."""
    return _union([
        (max(s.t0, t0), min(s.t1, t1)) for s in spans
        if s.parent is None and s.t1 > t0 and s.t0 < t1
    ])


def ancestors(span: Span, by_id: dict[int, Span]):
    while span is not None:
        yield span
        span = by_id.get(span.parent)


# -- Spark event log -----------------------------------------------------------

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.input.recordsRead": ("input_rows", 1.0),
}


@dataclass
class Job:
    id: int
    submitted: float
    span: int | None
    stages: list[int]
    metrics: dict = field(default_factory=lambda: defaultdict(float))


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their stage counters summed, from Spark's JSON event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    span = None
                    if desc.startswith("span="):
                        span = int(desc.split()[0][5:])
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0, span,
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = defaultdict(float)
                    m["tasks"] = info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _STAGE_METRICS.get(acc.get("Name"))
                        if key and isinstance(acc.get("Value"), (int, float)):
                            m[key[0]] += acc["Value"] * key[1]
                    stages[info["Stage ID"]] = m
    for job in jobs.values():
        for sid in job.stages:
            if sid in stages:  # skipped stages never complete
                job.metrics["stages"] += 1
                for k, v in stages[sid].items():
                    job.metrics[k] += v
    return sorted(jobs.values(), key=lambda j: j.id)

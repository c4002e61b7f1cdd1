"""Spans recorded around calls into the program, and the Spark event log.

The traced run patches public entry points of the program's modules
(store appends, Bloom builds, the dequeue plan, the crawl epoch and the
DataFrame actions the engine forces) with wrappers that record a span:
name, start, end and the span that was open when it started. Spans stay
in memory and are summarised when the workload ends. Nothing inside the
program is edited; every wrapper is removed again by ``Tracer.restore``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass


@dataclass(eq=False)  # spans are told apart by identity
class Span:
    name: str
    start: float  # time.time(), comparable with event-log timestamps
    end: float
    parent: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.receivers: dict[str, object] = {}  # span name -> last `self`
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name, kind: str = "function") -> None:
        """Replace ``owner.attr`` by a recording wrapper. ``name`` is the
        span name or a callable of the call's arguments returning it.
        ``kind`` is "function", "method" or "classmethod"; for a method
        the last receiver is kept in ``receivers`` under the span name."""
        raw = owner.__dict__[attr] if kind == "classmethod" else getattr(owner, attr)
        fn = raw.__func__ if kind == "classmethod" else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            if kind == "method":
                tracer.receivers[label] = args[0]
            with tracer.span(label):
                return fn(*args, **kwargs)

        new = classmethod(wrapper) if kind == "classmethod" else wrapper
        self._patches.append((owner, attr, raw))
        setattr(owner, attr, new)

    def restore(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    # -- queries over recorded spans -----------------------------------------
    def named(self, prefix: str, within: Span | None = None,
              direct: bool = False) -> list[Span]:
        """Spans whose name starts with ``prefix``; with ``within``, only
        those inside it (``direct``: whose parent is that span)."""
        out = []
        idx = self.spans.index(within) if within is not None else None
        for s in self.spans:
            if not s.name.startswith(prefix):
                continue
            if within is not None:
                if direct and s.parent != idx:
                    continue
                if not (within.start <= s.start and s.end <= within.end):
                    continue
            out.append(s)
        return out

    def children(self, parent: Span) -> list[Span]:
        idx = self.spans.index(parent)
        return [s for s in self.spans if s.parent == idx]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.span = Span(self.name, time.time(), 0.0, parent)
        t.spans.append(self.span)
        t._stack.append(len(t.spans) - 1)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        self.tracer._stack.pop()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    stages: list[int]


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_write: int
    spill: int


def read_event_log(log_dir: str) -> tuple[list[Job], list[Task]]:
    """Jobs and finished tasks of the one application logged in ``log_dir``
    (times in seconds since the epoch)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a live log's unfinished last line
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000, 0.0,
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(Task(
                        ev["Stage ID"],
                        info.get("Launch Time", 0) / 1000,
                        info.get("Finish Time", 0) / 1000,
                        m.get("Executor Run Time", 0) / 1000,
                        m.get("JVM GC Time", 0) / 1000,
                        int(sw.get("Shuffle Bytes Written", 0)),
                        int(m.get("Memory Bytes Spilled", 0))
                        + int(m.get("Disk Bytes Spilled", 0)),
                    ))
    return sorted(jobs.values(), key=lambda j: j.submit), tasks


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def task_skew(tasks: list[Task]) -> float:
    """Max over median task run time: the hot-domain task's excess."""
    times = [t.finish - t.launch for t in tasks]
    med = statistics.median(times) if times else 0.0
    return max(times) / med if med > 0 else 1.0

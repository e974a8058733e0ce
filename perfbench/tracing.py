"""Outside-in tracing: spans around the public calls the streaming
replayer makes into each layer, Spark's own job/stage/task records from
its event log, and process facts (co-tenant CPU, peak RSS).

Spans are kept in memory (name, start, end, parent, batch id, thread) and
written as JSON when the run ends. Nothing here edits engine code: a
layer is traced by replacing one bound method on one object with a
wrapper that records a span around the original call.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import resource
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    batch: int | None
    thread: str
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``on``; batch ids come from ``batch``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.on = False
        self.batch: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: int | None = None
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, obj, attr: str, name: str, counts=None) -> None:
        """Replace ``obj.attr`` with a recording wrapper. ``counts(result,
        args, kwargs)`` returns a dict of counts to attach to the span."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            stack = self._stack()
            sid = next(self._ids)
            # a span opened on a worker thread (the replayer's per-table
            # legs) has no parent on that thread: hang it on the root
            parent = stack[-1] if stack else self._root
            stack.append(sid)
            if parent is None:
                self._root = sid
            t0 = time.time()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.time()
                stack.pop()
                if parent is None:
                    self._root = None
            span = Span(sid, name, t0, t1, parent, self.batch, threading.current_thread().name)
            if counts is not None:
                span.counts = counts(result, args, kwargs)
            with self._lock:
                self.spans.append(span)
            return result

        setattr(obj, attr, wrapper)

    def add(self, name: str, start: float, end: float, batch: int | None, **counts) -> None:
        """Record a span measured elsewhere (e.g. a Spark progress report)."""
        with self._lock:
            self.spans.append(
                Span(next(self._ids), name, start, end, None, batch, "-", counts)
            )

    def of_batch(self, batch: int) -> list[Span]:
        return [s for s in self.spans if s.batch == batch]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# -- Spark event log ---------------------------------------------------------


@dataclass
class SparkFacts:
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, end) epoch s
    stages: list[float] = field(default_factory=list)  # submission epoch s
    tasks: list[tuple[float, float, float]] = field(default_factory=list)  # (launch, run_s, shuffle_bytes)


def read_event_log(log_dir: str) -> SparkFacts:
    """Job intervals, stage submissions and task facts from the event log
    Spark wrote under ``log_dir`` (complete once the context stopped)."""
    facts = SparkFacts()
    job_start: dict[int, float] = {}
    paths = sorted(
        os.path.join(root, f) for root, _dirs, files in os.walk(log_dir) for f in files
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                elif kind == "SparkListenerJobEnd":
                    start = job_start.pop(ev["Job ID"], None)
                    if start is not None:
                        facts.jobs.append((start, ev["Completion Time"] / 1000))
                elif kind == "SparkListenerStageCompleted":
                    sub = ev["Stage Info"].get("Submission Time")
                    if sub is not None:
                        facts.stages.append(sub / 1000)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    facts.tasks.append(
                        (info["Launch Time"] / 1000, m.get("Executor Run Time", 0) / 1000, shuffle)
                    )
    return facts


def spark_per_window(facts: SparkFacts, lo: float, hi: float) -> dict:
    """Spark's work attributed to one batch window by time: jobs and
    stages submitted in it, tasks launched in it, and the share of the
    window no job covers (driver construction, planning, Python glue)."""
    jobs = [(s, e) for s, e in facts.jobs if lo <= s < hi]
    busy = union_s(clip(facts.jobs, lo, hi))
    tasks = [t for t in facts.tasks if lo <= t[0] < hi]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(1 for s in facts.stages if lo <= s < hi),
        "spark.task_s": sum(t[1] for t in tasks),
        "spark.jobs_wall_s": busy,
        "spark.gap_s": (hi - lo) - busy,
        "spark.shuffle_bytes": sum(t[2] for t in tasks),
    }


# -- process facts -----------------------------------------------------------


def peak_rss_mb() -> float:
    """Peak RSS of this process plus the largest waited-for child (the
    Spark JVM, once it has exited)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kids = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + kids) / 1024


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total

"""Run plumbing shared by the workloads: the Spark session and its JVM,
streaming drains and their per-batch progress, and the result record."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

from tracing import Tracer, peak_rss_mb, read_event_log, spark_per_window


@dataclass
class Batch:
    """One microbatch as Spark's progress report saw it."""

    id: int
    start: float  # epoch s
    wall: float  # s, trigger start to offsets committed
    rows: int
    progress: object


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    other_cores: float = -1.0
    notes: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one output check against the attempted operations."""
        if not ok:
            self.correct = False
            self.failed += 1
            self.notes.append(f"check failed: {what}")


class Run:
    """One benchmark run: work directory, session, tracer."""

    def __init__(self, work: str, seed: int, seconds: int, trace: bool, tiny: bool = False):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        # a tenth of the data, for a quick self-check of every workload
        self.tiny = tiny
        self.tracer = Tracer()
        self.event_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.session_s = 0.0

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def start_session(self) -> None:
        from connemara_spark.session import get_spark

        t = time.monotonic()
        self.spark = get_spark("perfbench")
        self.session_s = time.monotonic() - t
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        try:
            gateway.shutdown()
        finally:
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)

    def spark_facts(self):
        """Spark's job/stage/task records; the session must be stopped."""
        return read_event_log(self.event_dir)

    def proc_layers(self, other_cores: float) -> dict:
        return {"proc.other_cores": other_cores, "proc.peak_rss_mb": peak_rss_mb()}


def land(files: list[str], landing: str) -> None:
    """Copy landed files (mtimes kept) into a stream's landing directory."""
    os.makedirs(landing, exist_ok=True)
    for f in files:
        shutil.copy2(f, os.path.join(landing, os.path.basename(f)))


def drain(query, timeout: int = 120) -> list[Batch]:
    """Wait for an availableNow query to finish; its batches in order."""
    if not query.awaitTermination(timeout):
        query.stop()
        raise RuntimeError(f"drain did not finish within {timeout}s")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    out = []
    for p in query.recentProgress:
        if p.numInputRows == 0 and "addBatch" not in p.durationMs:
            continue  # idle trigger: no batch ran
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        out.append(Batch(p.batchId, start, p.durationMs["triggerExecution"] / 1000, p.numInputRows, p))
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_medians(per_batch: list[dict]) -> dict:
    """Median over traced batches of each per-batch layer metric."""
    keys = sorted({k for d in per_batch for k in d})
    return {k: median(d.get(k, 0.0) for d in per_batch) for k in keys}


def batch_layers(facts, batch: Batch, spans) -> dict:
    """Per-batch facts every workload reports: Spark's work in the batch
    window, and the share of the batch wall no layer span covers."""
    from tracing import union_s

    lo, hi = batch.start, batch.start + batch.wall
    out = spark_per_window(facts, lo, hi)
    inner = [(s.start, s.end) for s in spans if s.parent is not None or s.name != "streaming.foreach_batch"]
    out["trace.uncovered_s"] = batch.wall - union_s([(max(a, lo), min(b, hi)) for a, b in inner])
    return out


def seconds_to_batches(seconds: int, nominal_batch_s: float, lo: int, hi: int) -> int:
    """Timed batch count: ``seconds`` of work at the workload's nominal
    batch time on the reference host, so a given seed and ``--seconds``
    always process the same inputs whatever the host's speed. At least
    ``lo`` (3: a median with a middle)."""
    return max(lo, min(hi, round(seconds / nominal_batch_s)))

"""Job-ladder decomposition for one registry query via the Spark event log.

Usage: python tools/joblog_probe.py <query_name> [sf_dir]

Runs the query once at sf0.001 (codegen/JIT warm) and once timed at
``sf_dir``, in a ``session.get_spark`` session with spark.eventLog
enabled, then parses the event log into the per-job ladder: job wall
time, stage task counts, task-time sums, and the DRIVER GAPS between jobs
(submission latency + pure driver work — planning, collects, file moves).
The gap column is the number the per-batch protocols care about: at
100 TB the same ladder amortizes over data; locally it IS the cost. Per
pass it prints jobs per batch (batches counted from the ``"<label> b<i>:"``
job labels ``Replayer.step`` sets) and the generated classes the JVM
compiled (``session.codegen_compiles``). Writes nothing to the repo;
prints a table.
"""

from __future__ import annotations

import json
import os
import re
import shlex
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    logdir = tempfile.mkdtemp(prefix="sparklog_")
    # the event log is launch-time conf: pass it to the JVM the session
    # starts, as perfbench/run.py does
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": logdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"

    from connemara_spark.queries import REGISTRY
    from connemara_spark.session import codegen_compiles, get_spark

    spark = get_spark("joblog-probe")
    q = REGISTRY[name]
    passes = []  # (pass name, epoch ms at start, epoch ms at end, compiles)

    def run_pass(label, sf):
        c0, ms0 = codegen_compiles(spark), time.time() * 1000
        t0 = time.monotonic()
        n = len(q.fn(spark, sf).collect())
        wall = time.monotonic() - t0
        spark.catalog.clearCache()
        passes.append((label, ms0, time.time() * 1000, codegen_compiles(spark) - c0))
        return n, wall

    # warm pass at the smallest SF, which sits beside ``sf_dir``
    run_pass("warm", os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"))
    n, wall = run_pass("timed", sf_dir)
    # flush the event log
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    logs = []
    for root, _dirs, files in os.walk(logdir):
        for f in files:
            if not f.startswith(".") and not f.endswith(".inprogress"):
                logs.append(os.path.join(root, f))
    if not logs:  # the log may still be .inprogress until session stop
        spark.stop()
        for root, _dirs, files in os.walk(logdir):
            logs += [os.path.join(root, f) for f in files if not f.startswith(".")]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(logs[0]) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            k = ev.get("Event")
            if k == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )[:60],
                }
            elif k == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "ntasks": si["Number of Tasks"],
                    "name": si["Stage Name"][:40],
                }
            elif k == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                stages.setdefault(sid, {}).setdefault("task_ms", 0)
                info = ev.get("Task Info", {})
                stages[sid]["task_ms"] = stages[sid].get("task_ms", 0) + (
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )

    order = sorted(jobs)
    # the ladder and the rollup below cover both passes; the per-pass
    # lines split them by each pass's wall-clock window
    print(f"query={name} rows={n} wall={wall:.2f}s  jobs_total={len(order)}")
    for label, lo, hi, compiles in passes:
        in_pass = [jobs[j] for j in order if lo <= jobs[j]["t0"] <= hi]
        # jobs of a batch's step (its label), not the pass's parse,
        # summaries or reads
        labels = [m.group(1) for job in in_pass if (m := re.match(r"(.*? b\d+):", job["desc"]))]
        per = max(len(set(labels)), 1)
        print(
            f"{label} pass: jobs={len(in_pass)} batches={len(set(labels))} "
            f"jobs/batch={len(labels) / per:.1f} compiles={compiles} "
            f"compiles/batch={compiles / per:.1f}"
        )
    prev_end = None
    for j in order:
        job = jobs[j]
        if "t1" not in job:
            continue
        dur = (job["t1"] - job["t0"]) / 1000.0
        gap = ((job["t0"] - prev_end) / 1000.0) if prev_end else 0.0
        prev_end = job["t1"]
        st = [
            f"{sid}:{stages.get(sid, {}).get('ntasks', '?')}t/"
            f"{stages.get(sid, {}).get('task_ms', 0)}ms:"
            f"{stages.get(sid, {}).get('name', '')[:24]}"
            for sid in job["stages"]
            if sid in stages
        ]
        print(
            f"  job {j:3d}  dur {dur:6.3f}s  gap_before {gap:6.3f}s  "
            f"stages [{', '.join(st)}]  {job['desc']}"
        )
    # roll up by description (phase labels), duration + gap-before charged
    # to the phase whose job follows the gap
    agg: dict[str, list[float]] = {}
    prev_end = None
    for j in order:
        job = jobs[j]
        if "t1" not in job:
            continue
        dur = (job["t1"] - job["t0"]) / 1000.0
        gap = ((job["t0"] - prev_end) / 1000.0) if prev_end else 0.0
        prev_end = job["t1"]
        # strip the batch index so phases aggregate across batches
        key = re.sub(r" b\d+:", ":", job["desc"]) or "(unlabelled)"
        a = agg.setdefault(key, [0.0, 0.0, 0])
        a[0] += dur
        a[1] += max(gap, 0.0)
        a[2] += 1
    print("phase rollup (dur / gap / jobs):")
    for k, (d, g, c) in sorted(agg.items(), key=lambda kv: -(kv[1][0] + kv[1][1])):
        print(f"  {d:7.2f}s {g:7.2f}s {c:3d}  {k}")


if __name__ == "__main__":
    main()

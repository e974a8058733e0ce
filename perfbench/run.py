"""CDC engine benchmark on the production streaming path.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 12 --trace 0

Workloads: ``catchup``, ``fresh_views``, ``ingest_dedup`` (see README.md).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
from a traced run. A line before it gives the run's co-tenant CPU
(``other_cores``) and phase timings, so a disturbed run shows next to its
numbers.

Exits 2 without a result when the engine sources are not beside the
benchmark (a directory holding only the benchmark).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "batch_p50_s": "s",
    "rows_per_s": "1/s",
    "read_p50_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "streaming.trigger_s": "s",
    "streaming.overhead_s": "s",
    "streaming.input_rows": "count",
    "pipeline.parse_batch_s": "s",
    "pipeline.apply_batch_s": "s",
    "pipeline.tables_touched": "count",
    "apply.build_fold_s": "s",
    "stores.write_s": "s",
    "stores.buckets_rewritten": "count",
    "stores.rewrite_ratio": "ratio",
    "stores.bytes_written": "bytes",
    "stores.chain_length": "count",
    "stores.read_pass_s": "s",
    "ivm.minmax.before_apply_s": "s",
    "ivm.minmax.after_apply_s": "s",
    "ivm.topk.before_apply_s": "s",
    "ivm.topk.after_apply_s": "s",
    "ivm.topk.recompute_groups": "count",
    "sinks.before_apply_s": "s",
    "sinks.after_apply_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.task_s": "s",
    "spark.jobs_wall_s": "s",
    "spark.gap_s": "s",
    "spark.shuffle_bytes": "bytes",
    "stateful.state_rows": "count",
    "stateful.state_bytes": "bytes",
    "stateful.commit_s": "s",
    "dedup.rows_out": "count",
    "proc.other_cores": "cores",
    "proc.peak_rss_mb": "MB",
    "trace.uncovered_s": "s",
    "trace.overhead_s": "s",
}


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM, Derby and Python write inside the
    run's work directory, and size the session to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=cpus,
    )
    time.tzset()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }
    if trace:
        # Spark's own job/stage/task records for the traced run
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["catchup", "fresh_views", "ingest_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="a tenth of the data: a quick self-check, not a measurement")
    args = ap.parse_args()

    if not (
        os.path.isfile(os.path.join(ROOT, "connemara_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print(f"perfbench: no engine sources (connemara_spark/, bench.py) in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, bool(args.trace))
    from harness import Run

    run = Run(work, args.seed, args.seconds, bool(args.trace), args.tiny)
    try:
        if args.workload == "ingest_dedup":
            from dedup import run_ingest_dedup

            res = run_ingest_dedup(run)
        else:
            from cdc import CATCHUP, FRESH_VIEWS, run_cdc

            res = run_cdc(run, CATCHUP if args.workload == "catchup" else FRESH_VIEWS)
    finally:
        run.stop_session()
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            run.tracer.dump(os.path.join(base, "traces", f"{args.workload}-{args.seed}.spans.json"))
        shutil.rmtree(work, ignore_errors=True)

    for note in res.notes:
        print(f"# {note}")
    print(f"# other_cores={res.other_cores:.3f}")
    table = PER_LAYER if args.trace else END_TO_END
    values = res.layers if args.trace else res.e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in table.items()}
    print(json.dumps({
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

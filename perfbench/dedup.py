"""The ``ingest_dedup`` workload: a document landing zone drained through
the two Python-stateful dedup-on-ingest operators.

Segments of 300 documents land one file each. Two streaming queries read
the landing zone one file per trigger, one after the other (one drain at
a time): ``exact_dedup_stream`` (first-arrival-wins verdict per document)
and ``lsh_candidates_stream(md5_band_rows(...))`` (near-duplicate
candidate pairs), each into a parquet sink. A segment's batch time is
its trigger in the exact drain plus its trigger in the LSH drain: the
time for a landed segment to pass both dedup stages.

Set-up (``setup_s``) is ``get_spark`` plus both queries draining the
warm-up segment; the timed drains restart them on the same checkpoints.
"""

from __future__ import annotations

import hashlib
import time
from collections import Counter

from harness import Batch, Result, Run, drain, land, layer_medians, median, seconds_to_batches
from inputs import doc_inputs
from tracing import spark_per_window

SEGMENT_DOCS = 300
EXACT_DUP_SHARE = 0.08
NEAR_DUP_SHARE = 0.08
WARM_SEGMENTS = 1
NOMINAL_SEGMENT_S = 3.5
MIN_SEGMENTS, MAX_SEGMENTS = 3, 12
READ_PASSES = 3
READ_QUERIES = 6  # queries per read pass
LSH = {"k": 5, "num_hashes": 16, "bands": 8}
DOC_SCHEMA = "doc_id long, text string"


def _queries(run: Run) -> dict:
    """The two drains, keyed by stage, as start functions."""
    from connemara_spark.operators.dedup import md5_band_rows
    from connemara_spark.streaming.stateful import exact_dedup_stream, lsh_candidates_stream

    spark = run.spark
    landing = run.path("landing", "")

    def start(stage: str, frame):
        return lambda: (
            frame.writeStream.format("parquet")
            .option("path", run.path("out", stage, ""))
            .option("checkpointLocation", run.path("checkpoint", stage, ""))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def docs():
        return spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(landing)

    return {
        "landing": landing,
        "exact": start("exact", exact_dedup_stream(docs())),
        "lsh": start("lsh", lsh_candidates_stream(md5_band_rows(docs(), "doc_id", "text", **LSH))),
    }


def read_pass(run: Run) -> tuple[float, dict]:
    """The read set over the dedup outputs: keepers, duplicates per keeper,
    distinct candidate pairs, candidate degree per document, and the
    candidate pairs whose both ends are keepers."""
    from pyspark.sql import functions as F

    spark = run.spark
    t = time.monotonic()
    verdicts = spark.read.parquet(run.path("out", "exact", ""))
    pairs = spark.read.parquet(run.path("out", "lsh", "")).distinct()
    keepers = verdicts.filter(F.col("dup_of").isNull()).select("doc_id", "content_md5")
    k = keepers.select("doc_id")
    both = pairs.join(k.withColumnRenamed("doc_id", "id_a"), "id_a").join(
        k.withColumnRenamed("doc_id", "id_b"), "id_b"
    )
    ends = pairs.select(F.col("id_a").alias("id")).unionAll(pairs.select(F.col("id_b").alias("id")))
    out = {
        "keepers": Counter((row[0], row[1]) for row in keepers.collect()),
        "verdicts": verdicts.count(),
        "dups": {row[0]: row[1] for row in verdicts.groupBy("dup_of").count().dropna().collect()},
        "degree": {row[0]: row[1] for row in ends.groupBy("id").count().collect()},
        "pairs": {(row[0], row[1]) for row in pairs.collect()},
        "keeper_pairs": both.count(),
    }
    return time.monotonic() - t, out


def expected_pairs(run: Run, texts: dict) -> set:
    """The batch twin: the md5-family band self-join over the whole corpus."""
    from pyspark.sql import functions as F

    from connemara_spark.operators.dedup import md5_band_rows

    docs = run.spark.createDataFrame(sorted(texts.items()), DOC_SCHEMA)
    bands = md5_band_rows(docs, "doc_id", "text", **LSH)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id"), F.col("b.id"))
        .distinct()
    )
    return {(row[0], row[1]) for row in pairs.collect()}


def check_reads(res: Result, run: Run, texts: dict, reads: list[dict]) -> None:
    """Every read pass returned the answers derived here from the inputs:
    first arrival keeps each content hash, and the candidate pairs are the
    batch band self-join's."""
    first: dict = {}
    keeper_of = {}
    for doc_id in sorted(texts):
        keeper_of[doc_id] = first.setdefault(hashlib.md5(texts[doc_id].encode()).hexdigest(), doc_id)
    keepers = set(first.values())
    want_pairs = expected_pairs(run, texts)
    want = {
        "keepers": Counter((i, h) for h, i in first.items()),
        "verdicts": len(texts),
        "dups": Counter(k for d, k in keeper_of.items() if k != d),
        "pairs": want_pairs,
        "degree": Counter(d for pair in want_pairs for d in pair),
        "keeper_pairs": sum(1 for a, b in want_pairs if a in keepers and b in keepers),
    }
    for out in reads:
        for query, answer in want.items():
            res.check(out[query] == answer, f"read set: {query}")


def run_ingest_dedup(run: Run) -> Result:
    from bench import _CoTenantMeter

    res = Result()
    n_timed = seconds_to_batches(run.seconds, NOMINAL_SEGMENT_S, MIN_SEGMENTS, MAX_SEGMENTS)
    inp = doc_inputs(
        run.path("inputs", ""), seed=run.seed, n_segments=WARM_SEGMENTS + n_timed,
        segment_docs=SEGMENT_DOCS // 10 if run.tiny else SEGMENT_DOCS,
        exact_dup_share=EXACT_DUP_SHARE, near_dup_share=NEAR_DUP_SHARE,
    )
    run.start_session()
    t = time.monotonic()
    q = _queries(run)
    land(inp.segments[:WARM_SEGMENTS], q["landing"])
    warm_s = [round(b.wall, 2) for stage in ("exact", "lsh") for b in drain(q[stage]())]
    setup_s = run.session_s + time.monotonic() - t

    meter = _CoTenantMeter()
    land(inp.segments[WARM_SEGMENTS:], q["landing"])
    stages = {}
    for stage in ("exact", "lsh"):
        stages[stage] = [b for b in drain(q[stage]()) if b.id >= WARM_SEGMENTS]
    reads = [read_pass(run) for _ in range(READ_PASSES)]
    other_cores, _ = meter.window()

    segs = list(zip(stages["exact"], stages["lsh"]))
    res.attempted += len(segs) + len(reads) * READ_QUERIES
    res.check(len(segs) == n_timed, f"{n_timed} timed segments ran in both drains")
    timed_docs = sum(inp.segment_docs[WARM_SEGMENTS:])
    for stage, bs in stages.items():
        res.check(sum(b.rows for b in bs) == timed_docs, f"{stage}: every document read")

    t = time.monotonic()
    check_reads(res, run, inp.texts, [out for _, out in reads])
    check_s = time.monotonic() - t

    walls = [e.wall + lsh.wall for e, lsh in segs]
    res.e2e = {
        "batch_p50_s": median(walls),
        "rows_per_s": sum(e.rows for e, _ in segs) / sum(walls),
        "read_p50_s": median(w for w, _ in reads),
        "setup_s": setup_s,
    }
    res.notes.append(
        f"session_s={run.session_s:.2f} setup_s={setup_s:.2f} warm_s={warm_s} "
        f"segments_s={[round(w, 2) for w in walls]} reads_s={[round(w, 2) for w, _ in reads]} "
        f"check_s={check_s:.2f} other_cores={other_cores:.2f}"
    )
    res.other_cores = other_cores
    if run.trace:
        run.stop_session()
        facts = run.spark_facts()
        res.layers = layer_medians(
            [_segment_layers(run, facts, {"exact": e, "lsh": lsh}) for e, lsh in segs]
        )
        res.layers.update(run.proc_layers(other_cores))
    return res


def _rows_out(run: Run, stage: str, batch_id: int) -> int:
    """Rows a drain wrote in one batch: the parquet sink's commit log lists
    the batch's files, whose footers hold their row counts."""
    import json

    import pyarrow.parquet as pq

    with open(run.path("out", stage, "_spark_metadata", str(batch_id))) as fh:
        files = [json.loads(line)["path"] for line in fh if line.startswith("{")]
    return sum(pq.read_metadata(f.removeprefix("file:")).num_rows for f in files)


def _segment_layers(run: Run, facts, segment: dict[str, Batch]) -> dict:
    """One segment through both drains, from Spark's progress reports,
    its event log and the sinks' commit logs. No Python call of ours runs
    inside a trigger, so the trigger phases Spark reports stand in for
    layer spans; what they leave uncovered is the residual."""
    out: dict = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    for stage, b in segment.items():
        p = b.progress
        run.tracer.add(f"streaming.{stage}.trigger", b.start, b.start + b.wall, b.id, **p.durationMs)
        add("streaming.trigger_s", b.wall)
        add("streaming.overhead_s", b.wall - p.durationMs.get("addBatch", 0) / 1000)
        add("streaming.input_rows", b.rows / len(segment))
        phases = sum(v for k, v in p.durationMs.items() if k != "triggerExecution") / 1000
        add("trace.uncovered_s", max(b.wall - phases, 0.0))
        for op in p.stateOperators:
            add("stateful.state_rows", op.numRowsTotal)
            add("stateful.state_bytes", op.memoryUsedBytes)
            add("stateful.commit_s", op.commitTimeMs / 1000)
        add("dedup.rows_out", _rows_out(run, stage, b.id))
        for k, v in spark_per_window(facts, b.start, b.start + b.wall).items():
            add(k, v)
    return out

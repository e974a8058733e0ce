"""Streaming replayer: readStream over a CDC landing zone → foreachBatch.

Maps the reference's two daemons onto Structured Streaming (SURVEY §3.2/3.3):

- the C WAL receiver's role (protocol → spool) is played by whatever lands
  bronze files (a Debezium-style connector, Kafka sink, file drop); the
  engine reads the landing zone as a stream — S1's idiomatic mapping.
- the Perl replayer's role is the engine's one per-batch protocol,
  ``Replayer.step`` (parse, summary, maintainer pins, DDL-barrier apply,
  schema checks, concurrent maintainer patches), called once from
  ``foreachBatch`` — one microbatch == one spool pass == one commit barrier
  (W2/W5 are implicit in Spark's microbatch model). ``_foreach_batch`` adds
  only what is streaming-specific: segment-path expansion, the watermark
  filter, the batch cache and the watermark advance.

Exactly-once (W3, the replication-origin analog): the streaming checkpoint
dedups source files, and a per-(database, slot) **LSN high-watermark** file
makes re-application of a half-failed batch idempotent — events at or below
the watermark are filtered out before apply, and the watermark advances
only after every table write of the batch succeeded.

Fail-fast (W9): exceptions in foreachBatch propagate and kill the query —
no internal retry, matching the reference's suicide policy.

Backpressure (W6): ``maxFilesPerTrigger`` bounds a microbatch like the
reference's 1000-message queue bound.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connemara_spark.catalog import EngineCatalog
from connemara_spark.events import BRONZE_SCHEMA
from connemara_spark.pipeline import Replayer
from connemara_spark.stores import atomic_write_json


class LsnWatermark:
    """Per-(database, source_slotname) applied-LSN high watermark — the
    engine's replication origin (pg_replication_origin analog,
    connemara_replication.c:394-442,570-621)."""

    def __init__(self, path: str):
        self.path = path
        self._state: dict[str, int] = {}
        if os.path.exists(path):
            with open(path) as fh:
                self._state = json.load(fh)

    @staticmethod
    def _key(database: str, slot: str) -> str:
        return f"{database}\t{slot}"

    def get(self, database: str, slot: str) -> int:
        return self._state.get(self._key(database, slot), -1)

    def advance(self, updates: dict[tuple[str, str], int]) -> None:
        for (db, slot), lsn in updates.items():
            k = self._key(db, slot)
            self._state[k] = max(self._state.get(k, -1), lsn)
        atomic_write_json(self.path, self._state)

    # Above this many origins the per-row map lookup (a linear scan of the
    # map's keys) grows with every source database; switch to a broadcast
    # hash join against the watermark table. Below it the map literal
    # keeps the filter inside the scan's codegen span with zero join
    # machinery.
    BROADCAST_THRESHOLD = 100

    def filter_applied(self, bronze: DataFrame) -> DataFrame:
        """Drop events already applied (lsn <= watermark for their origin);
        events from origins the watermark has never seen pass through."""
        if not self._state:
            return bronze
        if len(self._state) <= self.BROADCAST_THRESHOLD:
            return self._filter_predicate(bronze)
        return self._filter_broadcast(bronze)

    def _filter_predicate(self, bronze: DataFrame) -> DataFrame:
        # One map literal {"db\tslot": watermark}, looked up per row with
        # the broadcast path's semantics. Generated code references a map
        # literal but compiles a long literal in, so a per-origin
        # ``lsn_start <= <lsn>`` chain would be a new class every batch;
        # the lookup's class is the same for every watermark.
        wm = F.create_map(*[
            c for k, lsn in self._state.items() for c in (F.lit(k), F.lit(lsn).cast("long"))
        ])
        w = wm[F.concat(F.col("database"), F.lit("\t"), F.col("source_slotname"))]
        return bronze.filter(w.isNull() | (F.col("lsn_start") > w))

    def _filter_broadcast(self, bronze: DataFrame) -> DataFrame:
        rows = []
        for k, lsn in self._state.items():
            db, slot = k.split("\t")
            rows.append((db, slot, int(lsn)))
        wm = bronze.sparkSession.createDataFrame(
            rows, "database string, source_slotname string, __wm long"
        )
        return (
            bronze.join(
                F.broadcast(wm), on=["database", "source_slotname"], how="left"
            )
            .filter(F.col("__wm").isNull() | (F.col("lsn_start") > F.col("__wm")))
            # the USING join reorders columns (join keys first); restore the
            # bronze order so downstream consumers (archive appends) see an
            # identical frame either path
            .select(*bronze.columns)
        )


class StreamingReplayer:
    """readStream(landing zone) → foreachBatch(batch core) with checkpoints."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: EngineCatalog,
        store,
        *,
        landing_dir: str,
        checkpoint_dir: str,
        watermark_path: str | None = None,
        landing_format: str = "parquet",
        max_files_per_trigger: int | None = None,
        maintainers: list | None = None,
        deterministic_sink_ids: bool = False,
        jvm_parse: bool = True,
        state_store_provider: str | None = None,
        **replayer_kwargs,
    ):
        self.spark = spark
        # e.g. stateful.ROCKSDB_STATE_PROVIDER: pinned at query start so
        # any stateful maintainer downstream holds its state off-heap —
        # the scale lever for crawl-sized key counts. None = session
        # default.
        self.state_store_provider = state_store_provider
        self.replayer = Replayer(spark, catalog, store, **replayer_kwargs)
        self.landing_dir = landing_dir
        self.checkpoint_dir = checkpoint_dir
        self.landing_format = landing_format
        self.max_files_per_trigger = max_files_per_trigger
        # wal_spool only: deliver=paths — the Python source plans offsets
        # and emits segment PATHS; the batch expands them JVM-side
        # (expand_segment_paths), keeping the per-line JSONL parse out of
        # the Python worker (the measured drain bottleneck, SCALE.md).
        # False restores row delivery (the same parse in the Python source).
        self.jvm_parse = jvm_parse and landing_format == "wal_spool"
        # incremental consumers (e.g. ivm.MaintainedJoinView): each gets
        # before_apply(parsed_events) with the batch + the version-pinned
        # pre-apply store, then after_apply() once the batch has landed
        self.maintainers = maintainers or []
        # Spark's foreachBatch epoch id is stable across checkpoint-replays
        # of the same microbatch — forwarding it as the sink batch id turns
        # a replayed batch into a LEDGER SKIP at an external target (true
        # exactly-once delivery) instead of a convergent re-apply. Opt-in
        # because it couples the ledger to the checkpoint's lifetime: a
        # FRESH checkpoint against an old ledger re-counts epochs from 0
        # and would skip real batches — wipe or re-point the ledger
        # whenever the checkpoint is wiped.
        self.deterministic_sink_ids = deterministic_sink_ids
        self.watermark = LsnWatermark(
            watermark_path or os.path.join(checkpoint_dir, "lsn_watermark.json")
        )
        self.batches_applied = 0

    def _foreach_batch(self, bronze: DataFrame, batch_id: int) -> None:
        if self.jvm_parse:
            # paths-mode batch: expand the planned segment paths into
            # BRONZE rows JVM-side (native text scan + from_json)
            from connemara_spark.sources.replication import expand_segment_paths

            bronze = expand_segment_paths(self.spark, bronze)
        # The batch frame is a PLAN, not data: every action below (DDL
        # collect, per-segment applies, watermark max — 3+ jobs) would
        # re-execute the source read, and for a Python DataSource batch
        # (wal_spool) that is a full re-parse of every segment per job.
        # Cache the batch once; measured 17.4s -> 13.7s on a 100k-event
        # drain (and 5.6s -> 3.2s on a 10k incremental batch). Bounded by the microbatch size (W6 backpressure).
        fresh = self.watermark.filter_applied(bronze).persist()
        try:
            self.replayer.step(
                fresh,
                maintainers=self.maintainers,
                batch_id=f"stream-{batch_id}" if self.deterministic_sink_ids else None,
                label=f"stream b{batch_id}",
            )
            maxes = (
                fresh.groupBy("database", "source_slotname")
                .agg(F.max("lsn_start").alias("max_lsn"))
                .collect()
            )
            self.watermark.advance(
                {(r["database"], r["source_slotname"]): r["max_lsn"] for r in maxes if r["max_lsn"] is not None}
            )
            self.batches_applied += 1
        finally:
            fresh.unpersist()

    def start(self, *, available_now: bool = False, processing_time: str = "15 seconds"):
        """Start the stream. ``available_now=True`` drains the landing zone
        and stops (test/batch-catchup mode); otherwise runs continuously with
        the given trigger interval (the reference's idle cadence, W8)."""
        if self.landing_format == "wal_spool":
            # custom Python DataSource (sources/replication.py): segment-count
            # offsets play the replication-origin role; no schema/file options
            from connemara_spark.sources.replication import register_wal_spool

            register_wal_spool(self.spark)
            reader = self.spark.readStream.format("wal_spool").option(
                "path", self.landing_dir
            )
            if self.jvm_parse:
                reader = reader.option("deliver", "paths")
            if self.max_files_per_trigger:
                # W6 backpressure maps onto the source's segment cap
                reader = reader.option("maxSegmentsPerTrigger", self.max_files_per_trigger)
            bronze = reader.load()
        else:
            reader = self.spark.readStream.schema(BRONZE_SCHEMA)
            if self.max_files_per_trigger:
                reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
            bronze = getattr(reader, "parquet" if self.landing_format == "parquet" else "json")(
                self.landing_dir
            )
        writer = bronze.writeStream.foreachBatch(self._foreach_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        from connemara_spark.streaming.stateful import state_store_provider

        # the provider class is captured when the query STARTS; the pin is
        # restored right after, so it never leaks to other queries
        with state_store_provider(self.spark, self.state_store_provider):
            return writer.start()

    def run_until_drained(self, timeout_sec: int = 300) -> None:
        """availableNow + awaitTermination — drain everything currently in
        the landing zone, fail-fast on error."""
        q = self.start(available_now=True)
        # False return = TIMEOUT with the query still running; proceeding
        # would report a partial drain as complete
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise RuntimeError(
                f"streaming drain did not finish within {timeout_sec}s"
            )
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

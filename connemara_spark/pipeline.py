"""Batch replayer: the reference's apply loop as a pure batch function.

``Replayer.step(bronze_df, maintainers=[...])`` is the engine's ONE
per-batch protocol — the analog of one dispatcher pass over the spool
(replay.pl:801-985). Streaming (``foreachBatch``), batch replay and the
registry fixtures all run it; nothing else drives the phases below:

1. parse + standard filters (temp tables F3, db/slot restriction F2),
   persisted once and shared by the summary, the maintainers and the apply
2. ONE batch-summary job: ordered DDL rows, per-table counts, touched
   buckets
3. every maintainer's ``before_apply(parsed, buckets=...)`` pin
4. ``apply_batch``: split DDL / DML (F4), then the **DDL barrier** (D11,
   replay.pl:867-876): the batch is cut at each DDL event's
   (insert_timestamp, lsn_start); each DML segment is fully applied
   (per-table latest-wins fold + store write, tables concurrently) BEFORE
   the DDL executes and the engine catalog is refreshed — the reference's
   commit-all → replay-DDL-alone → DISCARD protocol
5. after DDL, every maintainer's ``check_schema`` — before any patch
6. every maintainer's ``after_apply(batch_id=...)``, concurrently, under
   one static-plan session scope whose shuffle width the batch's event
   count sets

``BatchMetrics.phase_s`` reports each step's wall seconds per phase
(``summary`` = 1-3, ``fold`` = 4-5, ``patch`` = 6), and
``BatchMetrics.compiles`` the generated classes the JVM compiled during
the step (two counter reads, no Spark job).

``Replayer.replay(bronze, batch_ix, n_batches)`` runs a whole stream cut
into batches by one integer Column: one checkpointed parse, one summary
job for all batches, then ``step`` per slice.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connemara_spark.catalog import EngineCatalog, TableSpec
from connemara_spark.ddl.executor import DDLExecutor
from connemara_spark.ddl.rewriter import DDLAction, classify_ddl
from connemara_spark.events import parse_events, slot_restriction, split_ddl_dml, standard_filters
from connemara_spark.operators.apply import apply_changes, apply_changes_bounded
from connemara_spark.session import codegen_compiles
from connemara_spark.stores import VersionedDir


def parse_command_tags(tags: str | None) -> list[str]:
    """PG text-array literal → list (P8, replay.pl:300-309):
    '{COMMENT,"ALTER TABLE"}' → ['COMMENT', 'ALTER TABLE']."""
    if not tags:
        return []
    body = tags.strip()
    if body.startswith("{") and body.endswith("}"):
        body = body[1:-1]
    out, cur, in_q = [], [], False
    i = 0
    while i < len(body):
        c = body[i]
        if in_q:
            if c == '\\' and i + 1 < len(body):
                cur.append(body[i + 1])
                i += 2
                continue
            if c == '"':
                in_q = False
            else:
                cur.append(c)
        elif c == '"':
            in_q = True
        elif c == ",":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    if cur or (body and body.endswith(",")):
        out.append("".join(cur))
    return [t for t in out if t]


def run_legs(thunks):
    """Run independent legs (zero-arg callables, each submitting its own
    Spark jobs) concurrently and return their results in input order; a
    single leg runs inline. The first failure propagates once every leg
    has finished — callers' retries are idempotent (replacement
    discipline, ledger skip)."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(len(thunks), 4)) as ex:
        return list(ex.map(lambda t: t(), thunks))


@contextmanager
def _job_labels(spark: SparkSession, label: str | None):
    """Yield ``phase(name)``, which sets the calling thread's job
    description to ``"<label>: <name>"`` (a no-op when ``label`` is None);
    the description in force before is restored on exit."""
    sc = spark.sparkContext
    if label is None:
        yield lambda name: None
        return
    prev = sc.getLocalProperty("spark.job.description")
    try:
        yield lambda name: sc.setJobDescription(f"{label}: {name}")
    finally:
        sc.setLocalProperty("spark.job.description", prev)


class MemoryStore:
    """Lazy in-memory table store (DataFrames); for tests and small runs."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, DataFrame] = {}

    def read(self, spec: TableSpec) -> DataFrame:
        df = self.tables.get(spec.target_name)
        if df is None:
            return self.spark.createDataFrame([], spec.spark_schema())
        return df

    def write(self, spec: TableSpec, df: DataFrame) -> None:
        self.tables[spec.target_name] = df

    def create_table(self, spec: TableSpec) -> None:
        self.tables[spec.target_name] = self.spark.createDataFrame([], spec.spark_schema())

    def drop_table(self, spec: TableSpec) -> None:
        self.tables.pop(spec.target_name, None)

    def truncate_table(self, spec: TableSpec) -> None:
        self.create_table(spec)

    def rename_table(self, spec: TableSpec, new_name: str) -> None:
        df = self.tables.pop(spec.target_name, None)
        if df is not None:
            self.tables[f"{spec.target_schema}.{new_name}"] = df

    def evolve_add_column(self, spec: TableSpec, name: str, spark_type) -> None:
        df = self.read(spec)
        self.tables[spec.target_name] = df.withColumn(name, F.lit(None).cast(spark_type))

    def evolve_drop_column(self, spec: TableSpec, name: str) -> None:
        self.tables[spec.target_name] = self.read(spec).drop(name)

    def evolve_rename_column(self, spec: TableSpec, old: str, new: str) -> None:
        self.tables[spec.target_name] = self.read(spec).withColumnRenamed(old, new)


def _pre_rename(spec: TableSpec, old: str, new: str) -> TableSpec:
    """The spec AS IT WAS before a column rename (the DDL executor mutates
    the catalog spec in place before calling the store's evolve hook, so
    stores that read with an explicit spec schema need the pre-rename shape
    to address the still-old-named files on disk)."""
    from connemara_spark.catalog import ColumnSpec

    return TableSpec(
        database=spec.database,
        schema=spec.schema,
        table=spec.table,
        columns=[
            ColumnSpec(old if c.name == new else c.name, c.pg_type)
            for c in spec.columns
        ],
        pk_cols=[old if p == new else p for p in spec.pk_cols],
    )


class ParquetStore:
    """Versioned parquet table store ("silver" tables).

    Writes go to a NEW versioned directory then the current-version pointer
    advances — safe against Spark's lazy self-read-overwrite hazard and
    giving idempotent-recovery points (the replication-origin analog, W3).
    At cluster scale this layout maps 1:1 onto a table format commit log.
    """

    def __init__(self, spark: SparkSession, root: str):
        import os

        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._versions: dict[str, int] = {}

    def _vd(self, spec_name: str) -> VersionedDir:
        return VersionedDir(f"{self.root}/{spec_name}")

    def _dir(self, spec_name: str, version: int) -> str:
        return self._vd(spec_name).path(version)

    def current_version(self, spec_name: str) -> int | None:
        if spec_name in self._versions:
            return self._versions[spec_name]
        return self._vd(spec_name).current()

    def read(self, spec: TableSpec) -> DataFrame:
        v = self.current_version(spec.target_name)
        if v is None:
            return self.spark.createDataFrame([], spec.spark_schema())
        # explicit schema (same contract as BucketStore._read_manifest):
        # parquet matches columns BY NAME, and every committed version is
        # spec-shaped (evolve_* rewrite the files), so passing the schema
        # skips the per-read footer-inference job — measured as a 1-task
        # job + a driver gap on EVERY store read in the per-batch ladder
        return self.spark.read.schema(spec.spark_schema()).parquet(
            self._dir(spec.target_name, v)
        )

    def read_version(self, spec: TableSpec, version: int) -> DataFrame:
        """Time travel: read the table AS OF an earlier commit. Every
        ``write`` leaves its versioned directory in place (the
        idempotent-recovery points, W3), so any batch boundary remains
        queryable until retention GC removes it — the store-level analog
        of the LSN-bounded ``cdc_state_at_lsn`` fold. Only COMMITTED
        versions qualify: a directory left by a crashed write (data
        written, CURRENT never advanced) is not a recovery point — it may
        be partial and its slot will be overwritten by the next write."""
        import os

        cur = self.current_version(spec.target_name)
        d = self._dir(spec.target_name, version)
        if cur is None or version > cur or version < 1 or not os.path.isdir(d):
            raise ValueError(
                f"no committed version {version} for {spec.target_name} "
                f"(current: {cur})"
            )
        # current-spec schema, matched by name (BucketStore.read_version
        # semantics): an old version predating an ADD COLUMN null-fills the
        # new column; renames/drops fail loudly upstream (check_schema /
        # rebuild), so no caller can silently read the wrong column
        return self.spark.read.schema(spec.spark_schema()).parquet(d)

    def table_bytes(self, spec: TableSpec, buckets=None) -> int:
        """On-disk bytes of the CURRENT version (driver-side stat walk, no
        Spark job). A flat store has no buckets: ``buckets`` is always None
        for it (the batch summary prices none) and the whole table counts."""
        import os

        v = self.current_version(spec.target_name)
        if v is None:
            return 0
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(self._dir(spec.target_name, v))
            for f in files
        )

    def gc_versions(
        self, spec: TableSpec, *, keep_last: int = 1, min_age_seconds: float = 0.0
    ) -> list[int]:
        """Retention GC: drop committed version directories older than the
        newest ``keep_last`` (plus any orphaned never-committed dirs below
        CURRENT). This is what completes a ``forget_keys`` erasure — rows
        removed from the current version persist in older recovery points
        until this runs. Never touches CURRENT or versions above it.
        Returns the version numbers removed.

        CONCURRENCY: Spark DataFrames are lazy — a frame pinned to an old
        version (``read_version``, or a maintainer's pre-apply pin between
        ``before_apply``/``after_apply``) scans its directory at ACTION
        time, so GC'ing that version mid-flight fails the consumer's job.
        Run GC from the same single-writer process that owns the store (the
        reference's async-maintenance discipline, W10), after in-flight
        consumers finish — or pass ``min_age_seconds`` so only directories
        untouched for that long are eligible, which bounds the race to
        pins older than the window."""
        vd = self._vd(spec.target_name)
        return vd.gc(vd.retained(keep_last), min_age_seconds=min_age_seconds)

    def versions(self, spec: TableSpec) -> list[int]:
        """All retained COMMITTED versions, ascending (orphaned
        directories from crashed writes are excluded)."""
        return self._vd(spec.target_name).versions()

    def write(self, spec: TableSpec, df: DataFrame) -> None:
        name = spec.target_name
        v = (self.current_version(name) or 0) + 1
        df.write.mode("overwrite").parquet(self._dir(name, v))
        self._vd(name).advance({"version": v})
        self._versions[name] = v

    def create_table(self, spec: TableSpec) -> None:
        self.write(spec, self.spark.createDataFrame([], spec.spark_schema()))

    def drop_table(self, spec: TableSpec) -> None:
        import shutil

        shutil.rmtree(f"{self.root}/{spec.target_name}", ignore_errors=True)
        self._versions.pop(spec.target_name, None)

    def truncate_table(self, spec: TableSpec) -> None:
        self.create_table(spec)

    def rename_table(self, spec: TableSpec, new_name: str) -> None:
        import os

        new = f"{self.root}/{spec.target_schema}.{new_name}"
        os.replace(f"{self.root}/{spec.target_name}", new)
        v = self._versions.pop(spec.target_name, None)
        if v is not None:
            self._versions[f"{spec.target_schema}.{new_name}"] = v

    def evolve_add_column(self, spec: TableSpec, name: str, spark_type) -> None:
        self.write(spec, self.read(spec).withColumn(name, F.lit(None).cast(spark_type)))

    def evolve_drop_column(self, spec: TableSpec, name: str) -> None:
        self.write(spec, self.read(spec).drop(name))

    def evolve_rename_column(self, spec: TableSpec, old: str, new: str) -> None:
        # the catalog mutates the spec BEFORE this runs (executor.py), so
        # `spec` already carries the NEW name while the files on disk still
        # carry the OLD one — reading them under the post-rename schema
        # would silently null-fill the renamed column (parquet matches by
        # name). Read under the pre-rename schema instead.
        self.write(
            spec, self.read(_pre_rename(spec, old, new)).withColumnRenamed(old, new)
        )


@dataclass
class BatchMetrics:
    tables_touched: int = 0
    ddl_executed: int = 0
    ddl_skipped: int = 0
    segments: int = 1
    # table-folds routed through the hot-key-bounded fold this batch
    bounded_folds: int = 0
    actions: list[str] = field(default_factory=list)
    # Replayer.step's wall seconds per phase: "summary" (the summary job
    # when the step runs it, plus the maintainers' pins), "fold" (apply
    # and post-DDL schema checks), "patch" (the concurrent maintainer
    # patches)
    phase_s: dict[str, float] = field(default_factory=dict)
    # generated classes the JVM compiled during Replayer.step (a JVM-global
    # counter: a concurrent query's compiles count too). A steady-state
    # batch compiles none; ~150 means the codegen cache is smaller than
    # the batch's working set (session._CODEGEN_CACHE_ENTRIES), a few
    # that a per-batch literal is compiled into generated code
    compiles: int = 0


class Replayer:
    """Distributed replacement for connemara_replay.pl's dispatcher/workers."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: EngineCatalog,
        store,
        *,
        excluded_databases: list[str] | None = None,
        allowed_slots: list[tuple[str, str]] | None = None,
        md5_blocklist: set[str] | None = None,
        dml_hook=None,
        archive=None,
        lsn_bucket: int | None = 100_000,
        bounded_threshold: int = 500_000,
    ):
        self.spark = spark
        self.catalog = catalog
        self.store = store
        self.excluded_databases = excluded_databases
        self.allowed_slots = allowed_slots
        self.md5_blocklist = md5_blocklist or set()
        # Hot-key safety on the PRODUCTION apply path, auto-selected per
        # batch: when one table's event count in a batch exceeds
        # ``bounded_threshold``, its fold runs through
        # ``apply_changes_bounded`` (per-key state bounded at bucket
        # occupancy), so a counter-like row with millions of updates can
        # never build an unbounded collect_list array on an executor —
        # matching the reference's O(1) serial bound (replay.pl:879-960)
        # distributively. Below the threshold the single-shuffle unbounded
        # fold runs: a key's array is at most the table's batch count, so
        # the threshold IS the per-key memory bound, and the bounded fold's
        # second shuffle (measured 2.6x on a 100k-event batch) is only paid
        # when it buys real safety. The per-table counts ride on the
        # touched-tables aggregation — no extra job. The bounded fold
        # requires per-key insert_timestamp order consistent with lsn_start
        # order, which the WAL spool guarantees (segments are written in
        # LSN order; the reference's cursor orders by (insert_timestamp,
        # lsn) the same way) — ``lsn_bucket=None`` disables the bounded
        # path entirely for transports without that guarantee;
        # ``bounded_threshold=0`` forces it for every batch.
        if lsn_bucket is not None and lsn_bucket < 1:
            raise ValueError(f"lsn_bucket must be >= 1 or None (got {lsn_bucket})")
        if bounded_threshold < 0:
            raise ValueError(f"bounded_threshold must be >= 0 (got {bounded_threshold})")
        self.lsn_bucket = lsn_bucket
        self.bounded_threshold = bounded_threshold
        self.executor = DDLExecutor(catalog, store)
        # fix_object_dml analog (D14, connemara_rewrite.pm:136-140):
        # callable(db, schema, table) -> bool keep
        self.dml_hook = dml_hook
        # keep_data audit sink (S9, replay.pl:505-531): applied spool rows
        # are appended to an archive zone when enabled.
        self.archive = archive

    def parse_batch(self, bronze: DataFrame) -> DataFrame:
        """Parse + filter a bronze batch exactly as ``apply_batch`` will —
        exposed so per-batch consumers (view maintainers, metrics taps) can
        share ONE parse instead of re-parsing the JSON payloads, and see
        the same slot/standard filtering the apply sees."""
        events = standard_filters(parse_events(bronze))
        if self.excluded_databases or self.allowed_slots:
            events = slot_restriction(events, self.excluded_databases, self.allowed_slots)
        return events

    def _batch_summary(self, events: DataFrame):
        """ONE aggregation job over the (cached) parsed batch serving the
        three consumers that previously paid a driver-synchronous collect
        each: the ordered DDL barrier rows (replay.pl:867), the per-table
        DML counts (bounded-fold auto-selection), and — when the store
        supports partial rewrites — the per-table touched-bucket sets
        (partial-rewrite pricing, inlined via ``touched_bucket_array``).
        Multi-batch pipelines are job-floor-bound (~0.4-0.5s per driver-
        synchronous job on the bench box), so collapsing 3 collects into 1
        is a direct wall-clock win per microbatch.

        Returns ``(ddl_rows, counts, buckets)``; ``buckets`` is None for
        flat stores, else ``{(db, schema, table): sorted bucket ids}``."""
        return self.batch_summaries(events, F.lit(0)).get(
            0, self.empty_summary()
        )

    def empty_summary(self):
        """The summary of a batch with no events (shape matches
        ``_batch_summary`` on an empty frame)."""
        partial = hasattr(self.store, "write_partial") and hasattr(
            self.store, "n_buckets"
        )
        return [], {}, ({} if partial else None)

    def batch_summaries(self, events: DataFrame, batch_ix) -> dict:
        """Every batch's ``_batch_summary`` in ONE aggregation job.

        ``batch_ix`` is an integer Column assigning each parsed event row
        the SAME batch index the caller's per-batch slice predicates
        produce (the assignment is row-wise, so grouping the whole stream
        by it equals summarizing each slice separately). Replay loops that
        cut one checkpointed parse into n lsn batches previously paid a
        driver-synchronous collect (2 scheduler jobs under AQE) per batch;
        the per-batch summaries are tiny (per-table counts + bucket ids +
        the rare DDL rows), so folding the batch index into the grouping
        collapses 2n jobs into 2 with an identical result per batch.

        Returns ``{ix: (ddl_rows, counts, buckets)}``; batches with no
        events are absent (callers default to the empty summary)."""
        from connemara_spark.events import is_ddl_event
        from connemara_spark.operators.apply import touched_bucket_array

        empty = F.array().cast("array<int>")
        partial = hasattr(self.store, "write_partial") and hasattr(
            self.store, "n_buckets"
        )
        barr = empty
        if partial:
            expr = None
            for spec in self.catalog.tables():
                cond = (
                    (F.col("database") == spec.database)
                    & (F.col("schema") == spec.schema)
                    & (F.col("table") == spec.table)
                )
                # per-table bucket count: a rebucketed table's modulus is
                # its manifest's, not the store default
                n = (
                    self.store.bucket_count(spec.target_name)
                    if hasattr(self.store, "bucket_count")
                    else self.store.n_buckets
                )
                arm = touched_bucket_array(spec, n)
                expr = F.when(cond, arm) if expr is None else expr.when(cond, arm)
            if expr is not None:
                barr = expr.otherwise(empty)
        ddl = is_ddl_event()
        groups = (
            events.select(
                batch_ix.cast("int").alias("__bix"),
                "database",
                "schema",
                "table",
                ddl.alias("__ddl"),
                F.when(
                    ddl,
                    F.struct(
                        "insert_timestamp", "lsn_start", "database",
                        "columnnames", "columnvalues",
                    ),
                ).alias("__ddl_row"),
                F.when(~ddl, barr).otherwise(empty).alias("__buckets"),
            )
            # posexplode_outer keeps zero-bucket rows (DDL, unregistered
            # tables) with a NULL bucket; a row's count is attributed once
            # via its first position
            .select(
                "__bix", "database", "schema", "table", "__ddl", "__ddl_row",
                F.posexplode_outer("__buckets").alias("__pos", "__bucket"),
            )
            .groupBy("__bix", "database", "schema", "table", "__ddl", "__bucket")
            .agg(
                F.sum(
                    F.when(
                        F.col("__pos").isNull() | (F.col("__pos") == 0), 1
                    ).otherwise(0)
                ).alias("n"),
                F.collect_list("__ddl_row").alias("ddl_rows"),
            )
            .collect()
        )
        ixes = {g["__bix"] for g in groups}
        if None in ixes:
            # a NULL batch index means the caller's batch_ix expression is
            # not total over the parsed rows — those rows would silently
            # vanish from every summary (no slice predicate reads a None
            # key), understating counts/buckets with no error downstream
            raise ValueError(
                "batch_summaries: batch_ix evaluated to NULL for some rows — "
                "the index expression must assign every event a batch"
            )
        out: dict = {}
        for ix in ixes:
            gs = [g for g in groups if g["__bix"] == ix]
            ddl_rows = sorted(
                (r for g in gs if g["__ddl"] for r in g["ddl_rows"]),
                key=lambda r: (r["insert_timestamp"], r["lsn_start"]),
            )
            counts: dict = {}
            bucket_sets: dict = {}
            for g in gs:
                if g["__ddl"]:
                    continue
                k = (g["database"], g["schema"], g["table"])
                counts[k] = counts.get(k, 0) + g["n"]
                if partial and g["__bucket"] is not None:
                    bucket_sets.setdefault(k, set()).add(g["__bucket"])
            buckets = (
                {k: sorted(v) for k, v in bucket_sets.items()} if partial else None
            )
            out[ix] = (ddl_rows, counts, buckets)
        return out

    def step(
        self,
        bronze: DataFrame,
        *,
        parsed: DataFrame | None = None,
        summary: tuple | None = None,
        maintainers=(),
        batch_id: str | None = None,
        label: str | None = None,
    ) -> BatchMetrics:
        """Apply ONE batch and bring its maintainers up to date — the
        per-batch protocol of the module docstring, and the only code that
        drives it.

        ``parsed``/``summary``: the batch's parse and summary when the
        caller already has them (``replay`` slices one checkpointed
        parse). Otherwise the batch is parsed and persisted here, and the
        summary job fills that cache before the maintainers pin against
        it. ``batch_id`` reaches every ``after_apply`` (a sink's
        exactly-once ledger key; None lets the sink assign one).
        ``label`` prefixes the phase job descriptions (``"ivm b3"`` →
        ``"ivm b3: fold"``) that the UI and ``tools/joblog_probe.py``
        roll up."""
        owned = parsed is None
        compiles0 = codegen_compiles(self.spark)
        with _job_labels(self.spark, label) as phase:
            if owned:
                parsed = self.parse_batch(bronze).persist()
            try:
                t0 = time.monotonic()
                if summary is None:
                    phase("summary")
                    summary = self._batch_summary(parsed)
                for m in maintainers:
                    m.before_apply(parsed, buckets=summary[2])
                t1 = time.monotonic()
                phase("fold")
                metrics = self.apply_batch(bronze, events=parsed, summary=summary)
                if metrics.ddl_executed:
                    # DDL may have evolved a maintainer's base table: a
                    # dropped or renamed column fails loudly here, before
                    # any patch could null-fill it
                    for m in maintainers:
                        m.check_schema(self.catalog)
                t2 = time.monotonic()

                def patch(m):
                    phase(f"patch:{type(m).__name__}")
                    m.after_apply(batch_id=batch_id)

                if maintainers:
                    from connemara_spark.operators.ivm import _static_patch_plan

                    # the patches are independent (own view dir / own
                    # target; all read the same applied store version), so
                    # they run as concurrent Spark jobs — the patch phase
                    # costs max(maintainers), not the sum. ONE config
                    # scope around all of them: per-leg scopes entered
                    # concurrently would restore each other's patched
                    # values and leave AQE off for the session.
                    with _static_patch_plan(self.spark, sum(summary[1].values())):
                        run_legs([partial(patch, m) for m in maintainers])
                metrics.phase_s = {
                    "summary": t1 - t0,
                    "fold": t2 - t1,
                    "patch": time.monotonic() - t2,
                }
                metrics.compiles = codegen_compiles(self.spark) - compiles0
                return metrics
            finally:
                if owned:
                    parsed.unpersist()

    def replay(
        self,
        bronze: DataFrame,
        batch_ix,
        n_batches: int,
        *,
        maintainers=(),
        label: str | None = None,
    ) -> list[BatchMetrics]:
        """Replay a stream cut into ``n_batches`` batches by ``batch_ix``,
        an integer Column over bronze columns (e.g. an lsn-range index).

        The stream is parsed ONCE and localCheckpointed (parse is
        row-wise, so a slice of the parse equals the parse of the slice),
        ALL batch summaries come from one job, and ``step`` then runs on
        each slice ``batch_ix == i`` in order with
        ``batch_id="batch-<i>"``. Slices and summaries derive from the
        same Column, so they cannot disagree."""
        with _job_labels(self.spark, label) as phase:
            phase("parse")
            parsed_all = self.parse_batch(bronze).localCheckpoint()
            phase("summaries")
            summaries = self.batch_summaries(parsed_all, batch_ix)
        stray = set(summaries) - set(range(n_batches))
        if stray:
            # rows indexed outside 0..n_batches-1 would never be applied
            raise ValueError(
                f"replay: batch_ix assigned events to batches {sorted(stray)} "
                f"outside 0..{n_batches - 1}"
            )

        def in_batch(i):
            # the index sits in an array literal, which generated code
            # references: ``batch_ix == i`` would compile ``i`` in, and
            # every slice's fold and patch stages would be new classes
            return F.array_contains(F.array(F.lit(i)), batch_ix)

        return [
            self.step(
                bronze.filter(in_batch(i)),
                parsed=parsed_all.filter(in_batch(i)),
                summary=summaries.get(i, self.empty_summary()),
                maintainers=maintainers,
                batch_id=f"batch-{i}",
                label=None if label is None else f"{label} b{i}",
            )
            for i in range(n_batches)
        ]

    def apply_batch(
        self,
        bronze: DataFrame,
        *,
        events: DataFrame | None = None,
        summary: tuple | None = None,
    ) -> BatchMetrics:
        metrics = BatchMetrics()
        if self.archive is not None:
            self.archive.append(bronze)
        if events is None:
            events = self.parse_batch(bronze)
        _, dml = split_ddl_dml(events)

        # DDL is rare; pull it to the driver ordered (replay.pl:867 — the
        # dispatcher sees DDL inline in the cursor order) — on the SAME
        # job that prices the batch's DML. Callers that already ran
        # _batch_summary over the SAME cached parse (to fill the cache on
        # that job before cheap maintainer pins) pass it in and pay zero
        # extra jobs here.
        ddl_rows, counts, buckets = (
            summary if summary is not None else self._batch_summary(events)
        )

        # Cut points: each DDL event is a barrier (replay.pl:862-876).
        cuts = [(r["insert_timestamp"], r["lsn_start"]) for r in ddl_rows]
        bounds = [None, *cuts, None]
        metrics.segments = len(cuts) + 1

        if not cuts:
            # the whole batch is one segment: the batch summary already
            # priced it — no further driver-synchronous job before the fold
            self._apply_dml_segment(dml, metrics, counts=counts, buckets=buckets)
            return metrics

        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            seg = dml
            key = F.struct(
                F.col("insert_timestamp").alias("insert_timestamp"),
                F.col("lsn_start").alias("lsn_start"),
            )

            def bound(b):
                return F.struct(
                    F.lit(b[0]).cast("timestamp").alias("insert_timestamp"),
                    F.lit(b[1]).cast("long").alias("lsn_start"),
                )

            if lo is not None:
                seg = seg.filter(key > bound(lo))
            if hi is not None:
                seg = seg.filter(key <= bound(hi))
            self._apply_dml_segment(seg, metrics)
            if i < len(cuts):
                self._execute_ddl_event(ddl_rows[i], metrics)
        return metrics

    def _apply_dml_segment(
        self,
        seg: DataFrame,
        metrics: BatchMetrics,
        *,
        counts: dict | None = None,
        buckets: dict | None = None,
    ) -> None:
        # per-table event counts + touched buckets ride on ONE aggregation
        # (or arrive precomputed from apply_batch's batch summary when the
        # batch has no DDL cuts) and drive the bounded-fold auto-selection
        # and partial-rewrite pricing below
        if counts is None:
            _, counts, buckets = self._batch_summary(seg)
        touched = counts
        legs = []
        for db, schema, table in sorted(touched):
            if self.dml_hook is not None and not self.dml_hook(db, schema, table):
                continue
            spec = self.catalog.maybe_get(db, schema, table)
            if spec is None:
                continue  # unregistered table: events ignored (no target)
            legs.append(((db, schema, table), spec))

        def fold_and_write(key, spec) -> bool:
            new_state, tbl_buckets, bounded = self.build_fold(
                seg,
                spec,
                n_events=touched[key],
                buckets=(buckets.get(key, []) if buckets is not None else None),
            )
            if tbl_buckets is not None:
                self.store.write_partial(spec, new_state, buckets=tbl_buckets)
            else:
                self.store.write(spec, new_state)
            return bounded

        # A multi-table batch's per-table fold+write jobs are independent
        # (the shared parse is cached; every store artifact — version dir,
        # manifest, CURRENT pointer — is per-table), so run them as
        # CONCURRENT Spark jobs: the batch's fold phase costs max(tables)
        # instead of sum(tables). Spark's scheduler interleaves the jobs'
        # tasks across the executor pool; at production parallelism each
        # fold rarely saturates the cluster alone, which is exactly when
        # concurrent submission wins. Metrics fold in deterministically
        # after the join below; the first failure propagates (the batch
        # retry re-applies idempotently — replacement discipline).
        flags = run_legs([partial(fold_and_write, k, s) for k, s in legs])
        metrics.bounded_folds += sum(1 for b in flags if b)
        metrics.tables_touched += len(flags)

    def build_fold(
        self,
        seg: DataFrame,
        spec,
        *,
        n_events: int,
        buckets: list[int] | None = None,
    ):
        """The new-state frame one table's apply WRITES, pre-write —
        extracted so plan audits can ``.explain`` the exact steady-state
        fold plan the pipeline queries execute. Returns
        ``(new_state, tbl_buckets, bounded)``; ``tbl_buckets`` is None for
        flat stores (full rewrite) and the touched-bucket list for
        partial-rewrite stores.

        Delta-scoped storage (stores.BucketStore): the fold reads and
        rewrites ONLY the hash buckets the batch's touched keys fall
        into — batch IO is O(touched buckets), never O(table). The
        fold semantics are unchanged: a bucket slice is a complete
        per-key world (the fold key IS the bucket key), so folding
        the batch onto the slice equals the full fold restricted to
        those buckets."""
        partial = hasattr(self.store, "write_partial")
        tbl_buckets = None
        if partial:
            from connemara_spark.operators.apply import _effective_spec

            espec, _ = _effective_spec(spec)
            if buckets is not None:
                # precomputed on the batch-summary job under the table's
                # own manifest bucket count
                tbl_buckets = buckets
            else:
                from connemara_spark.operators.ivm import touched_keys

                keys = touched_keys(seg, espec)
                tbl_buckets = self.store.buckets_of(espec, keys)
            snapshot = self.store.read_buckets(spec, tbl_buckets)
        else:
            snapshot = self.store.read(spec)
        if self.lsn_bucket is not None and n_events > self.bounded_threshold:
            return (
                apply_changes_bounded(snapshot, seg, spec, lsn_bucket=self.lsn_bucket),
                tbl_buckets,
                True,
            )
        return apply_changes(snapshot, seg, spec), tbl_buckets, False

    def _execute_ddl_event(self, row, metrics: BatchMetrics) -> None:
        rec = dict(zip(row["columnnames"] or [], row["columnvalues"] or []))
        query = rec.get("current_query")
        database = row["database"]
        if not query:
            metrics.ddl_skipped += 1
            return
        # The event record carries the session's search_path; the reference
        # applies the rewritten path before replay (connemara_rewrite.pm:
        # 145-157) so unqualified names resolve in the source session's
        # schema, not blindly in 'public'.
        source_schema = "public"
        raw_path = rec.get("search_path")
        if raw_path:
            for p in str(raw_path).split(","):
                p = p.strip().strip('"')
                if p and p != "$user":
                    source_schema = p
                    break
        known = {s.schema for s in self.catalog.tables() if s.database == database} | {
            "public",
            source_schema,
        }
        decision = classify_ddl(
            query, database, known_schemas=known, md5_blocklist=self.md5_blocklist
        )
        if decision.action == DDLAction.SKIP:
            metrics.ddl_skipped += 1
            metrics.actions.append(f"skip:{decision.reason}")
            return
        tag = self.executor.execute(decision, database, source_schema=source_schema)
        metrics.ddl_executed += 1
        metrics.actions.append(tag)

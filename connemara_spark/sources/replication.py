"""Custom Spark 4 Python DataSource playing the WAL-receiver role (S1).

The reference's replication-protocol source is a C daemon speaking the PG
streaming-replication protocol and spooling framed wal2json transactions
(`connemara_replication/src/connemara_replication.c:497-568,623-734`). Its
essential *source semantics* — an append-only, LSN-ordered spool consumed
with a durable progress cursor (the replication origin,
`connemara_replication.c:394-442,570-621`) — map onto Spark's Python
DataSource API (`pyspark.sql.datasource`, new in Spark 4):

- **segment files** are the transport unit: a receiver (or test fixture)
  appends immutable JSONL files to a spool directory; file names sort in
  arrival order (the reference's `(insert_timestamp, lsn_start)` spool
  index, `connemara_replication.c:486`).
- **offsets** are the count of sealed segment files consumed, tracked by
  Spark's streaming checkpoint — restart resumes exactly after the last
  committed segment (W3 exactly-once, no duplicated or skipped segments).
- **partitions**: each microbatch plans one `InputPartition` per segment
  file, so the parse runs ON EXECUTORS (not the driver) and a batch of N
  files fans out N-wide — the Python-source analog of the C receiver's
  single-writer spool becoming a parallel scan.
- **ordering enforcement + backpressure** live in ``latestOffset`` (the
  one hook Spark 4.1 reliably calls on Python stream readers): the
  monotone-naming contract is checked against the previously returned
  listing, and ``maxSegmentsPerTrigger`` caps each planned batch (W6).
  ``commit`` would write a standby-feedback sidecar but is best-effort:
  Spark 4.1 does not invoke it for Python sources.

Rows are BRONZE_SCHEMA-shaped. LSNs arrive either as PG ``%X/%X`` text
(`connemara_replication.c:207-215`) or as integers; timestamps as ISO-8601
text or epoch microseconds. Malformed JSON lines raise — the receiver is
fail-fast (W9); quarantine policy belongs downstream (split_malformed).

A batch ``reader`` over the same spool directory serves backfills through
the identical parse path: ``spark.read.format("wal_spool").load(dir)``.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StringType, StructField, StructType

from connemara_spark.events import BRONZE_SCHEMA
from connemara_spark.stores import atomic_write_json

_BRONZE_FIELDS = [f.name for f in BRONZE_SCHEMA.fields]

# deliver=paths mode: the source emits one row per planned segment and the
# consumer expands them JVM-side (expand_segment_paths) — offset planning
# and exactly-once stay in the Python source, the per-line JSONL parse
# moves into Spark's native text reader + from_json (the Python worker was
# the measured drain bottleneck; see SCALE.md streaming throughput).
PATHS_SCHEMA = StructType([StructField("segment_path", StringType())])


def _parse_lsn_text(v) -> int | None:
    """PG %X/%X text → uint64 (connemara_replication.c:207-215), or pass
    through integers."""
    if v is None:
        return None
    if isinstance(v, int):
        return v
    hi, lo = str(v).split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def _parse_ts(v) -> datetime | None:
    """ISO-8601 text or epoch-µs int → naive UTC datetime (session tz is
    pinned UTC engine-wide)."""
    if v is None:
        return None
    if isinstance(v, (int, float)):
        return datetime.fromtimestamp(v / 1_000_000, tz=timezone.utc).replace(tzinfo=None)
    dt = datetime.fromisoformat(str(v))
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def _read_segment(path: str) -> Iterator[tuple]:
    """Parse one JSONL segment into BRONZE_SCHEMA tuples. Fail-fast on
    malformed lines (W9) — the spool is written by our own receiver, so a
    bad line means corruption, not noise."""
    with open(path, encoding="utf-8") as fh:
        for lineno, line in enumerate(fh, 1):
            line = line.strip()
            if not line:
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError as e:
                raise ValueError(f"malformed spool line {path}:{lineno}: {e}") from e
            yield (
                _parse_ts(rec.get("insert_timestamp")),
                rec.get("database"),
                rec.get("source_slotname"),
                _parse_lsn_text(rec.get("lsn_start")),
                rec.get("xid"),
                _parse_ts(rec.get("xid_timestamp")),
                rec.get("payload"),
            )


def _list_segments(spool_dir: str) -> list[str]:
    """Sealed segment files in deterministic (name-sorted) order. Names
    beginning with ``_`` or ``.`` are sidecars/tmp files, not segments —
    receivers write `.tmp` then rename, so a listed file is immutable."""
    if not os.path.isdir(spool_dir):
        return []
    return sorted(
        os.path.join(spool_dir, n)
        for n in os.listdir(spool_dir)
        if not n.startswith(("_", ".")) and n.endswith(".jsonl")
    )


class SegmentPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _deliver_paths(options) -> bool:
    return str(options.get("deliver", "rows")).lower() == "paths"


class WalSpoolBatchReader(DataSourceReader):
    """Batch backfill over the whole spool — same parse path as the stream."""

    def __init__(self, options):
        self.spool_dir = options.get("path")
        if not self.spool_dir:
            raise ValueError("wal_spool requires a path option (the spool directory)")
        self.paths_mode = _deliver_paths(options)

    def partitions(self) -> Sequence[InputPartition]:
        return [SegmentPartition(p) for p in _list_segments(self.spool_dir)] or [
            SegmentPartition("")
        ]

    def read(self, partition: SegmentPartition) -> Iterator[tuple]:
        if not partition.path:
            return iter(())
        if self.paths_mode:
            return iter([(partition.path,)])
        return _read_segment(partition.path)


class WalSpoolStreamReader(DataSourceStreamReader):
    """Offset = count of sealed segments consumed; one partition per
    segment per microbatch (executor-side parse).

    Offsets are POSITIONS in the name-sorted listing, so the receiver
    must name segments monotonically (LSN-named segments are, naturally).
    The contract is ENFORCED, not assumed: ``latestOffset`` keeps the
    listing it last returned and fails fast (W9) if that listing is no
    longer a PREFIX of the current one — a late-arriving segment whose
    name re-sorts the consumed region would otherwise silently shift the
    positional slice, replaying consumed segments and skipping the new
    one. (Enforcement lives here, not in ``commit``: Spark 4.1 never
    invokes ``commit`` on Python stream readers — verified empirically —
    so the commit hook below is best-effort observability only.)

    ``maxSegmentsPerTrigger`` (option) bounds each planned batch like the
    reference's queue bound (W6): successive ``latestOffset`` calls
    advance by at most the cap. Restart safety: the cap must never return
    an offset BELOW the checkpoint's committed offset (that would make
    Spark plan a backwards batch and then REPLAY consumed segments), but
    a fresh reader instance cannot see the checkpoint — so the planning
    floor is persisted in the sidecar on every latestOffset and read back
    at construction, and ``partitions`` raises it to any offset Spark
    replays from the checkpoint. A spool with NO sidecar has never been
    planned from, so construction arms the floor at 0 eagerly — the very
    first backlog-drain batch is capped too. (``initialOffset`` also arms
    the floor, but Spark's python-source runner does not reliably call it
    before latestOffset — observed empirically — so nothing depends on
    it.)
    """

    def __init__(self, options):
        self.spool_dir = options.get("path")
        if not self.spool_dir:
            raise ValueError("wal_spool requires a path option (the spool directory)")
        self.paths_mode = _deliver_paths(options)
        self.progress_path = os.path.join(self.spool_dir, "_receiver_progress.json")
        cap = options.get("maxSegmentsPerTrigger")
        self.max_per_trigger = int(cap) if cap is not None else None
        if self.max_per_trigger is not None and self.max_per_trigger < 1:
            raise ValueError(
                f"maxSegmentsPerTrigger must be >= 1, got {self.max_per_trigger} "
                "(0 would pin the offset forever and silently stall the stream)"
            )
        self._last_names: list[str] = []
        self._floor: int | None = self._read_floor()
        if self._floor is None and self._write_floor(0):
            # No sidecar AND we can persist one -> this spool has never been
            # planned from: arm the floor at 0 EAGERLY so even the very
            # first latestOffset — the backlog-drain batch the cap most
            # needs to bound — is capped at min(n, cap). If the eager write
            # FAILS (read-only spool), stay floor-less: a capped first
            # offset without a durable floor could undercut a surviving
            # checkpoint's committed offset and make Spark re-plan consumed
            # segments — the uncapped first drain is the safe fallback
            # there. A sidecar deleted out-of-band while the checkpoint
            # survived is still indistinguishable from brand-new; the
            # backwards-batch guard in partitions() turns that silent
            # redelivery into a fail-fast (W9).
            self._floor = 0

    def _read_floor(self) -> int | None:
        try:
            with open(self.progress_path) as fh:
                v = json.load(fh).get("planned_segments")
                return int(v) if v is not None else None
        except (OSError, ValueError, json.JSONDecodeError):
            return None

    def _write_floor(self, n: int) -> bool:
        try:
            atomic_write_json(self.progress_path, {"planned_segments": n})
            return True
        except OSError:
            return False  # planning floor is an optimization; the checkpoint rules

    def _check_ordering(self, names: list[str]) -> None:
        if names[: len(self._last_names)] != self._last_names:
            raise ValueError(
                "wal_spool segment ordering violated: a segment name sorts "
                "before already-listed segments (receivers must name "
                "segments monotonically, e.g. by start LSN) or listed "
                "segments were removed"
            )

    def initialOffset(self) -> dict:
        self._floor = 0  # brand-new query: cap applies from the first batch
        return {"segments": 0}

    def latestOffset(self) -> dict:
        segs = [os.path.basename(p) for p in _list_segments(self.spool_dir)]
        self._check_ordering(segs)
        n = len(segs)
        if self.max_per_trigger is not None and self._floor is not None:
            n = min(n, self._floor + self.max_per_trigger)
        self._last_names = segs[:n]
        self._floor = max(self._floor or 0, n)
        self._write_floor(self._floor)
        return {"segments": n}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        if end["segments"] < start["segments"]:
            # A backwards batch means latestOffset undercut the checkpoint's
            # committed offset (floor lost while the checkpoint survived).
            # Silently returning [] would COMMIT the regressed offset and
            # redeliver every segment between the two on the next batch —
            # fail fast instead (W9) so the operator restores the sidecar
            # or clears the checkpoint deliberately.
            raise ValueError(
                f"wal_spool: planned batch runs backwards (start="
                f"{start['segments']}, end={end['segments']}) — the planning"
                " floor regressed below the checkpoint's committed offset;"
                " restore the spool sidecar or restart from a fresh"
                " checkpoint"
            )
        # Spark replays the last planned batch from the checkpoint on
        # restart: its offsets are the authoritative floor for the cap
        self._floor = max(self._floor or 0, start["segments"], end["segments"])
        listing = _list_segments(self.spool_dir)
        names = [os.path.basename(p) for p in listing]
        # re-validate against the listing latestOffset approved: a segment
        # arriving between planning and execution that re-sorts the slice
        # would otherwise silently skip a counted segment (fail fast, W9)
        self._check_ordering(names)
        if end["segments"] > len(listing):
            raise ValueError(
                "wal_spool: planned offset beyond current listing — "
                "committed segments were removed from the spool"
            )
        return [SegmentPartition(p) for p in listing[start["segments"] : end["segments"]]]

    def read(self, partition: SegmentPartition) -> Iterator[tuple]:
        if self.paths_mode:
            return iter([(partition.path,)])
        return _read_segment(partition.path)

    def commit(self, end: dict) -> None:
        # standby-feedback analog — best-effort observability (Spark 4.1
        # does not call commit on Python stream readers; kept for when it
        # does). Merges with the planning floor rather than clobbering it.
        # Exactly-once correctness is the checkpoint's job.
        try:
            with open(self.progress_path) as fh:
                state = json.load(fh)
        except (OSError, json.JSONDecodeError):
            state = {}
        state["committed_segments"] = end["segments"]
        try:
            atomic_write_json(self.progress_path, state)
        except OSError:
            pass


class WalSpoolDataSource(DataSource):
    """``spark.dataSource.register(WalSpoolDataSource)`` then
    ``spark.readStream.format("wal_spool").option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return "wal_spool"

    def schema(self) -> StructType:
        return PATHS_SCHEMA if _deliver_paths(self.options) else BRONZE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return WalSpoolBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return WalSpoolStreamReader(self.options)


def register_wal_spool(spark) -> None:
    spark.dataSource.register(WalSpoolDataSource)


def expand_segment_paths(spark, paths_df) -> "DataFrame":
    """JVM-side segment expansion for ``deliver=paths`` batches: the
    handful of planned segment paths collect to the driver (one short
    string per segment — the microbatch plan, not data), then Spark's
    native text reader + ``from_json`` produce BRONZE_SCHEMA rows. This
    keeps the Python DataSource on the control plane only (offset
    planning, ordering, backpressure) and runs the per-line JSONL parse
    in the JVM, which is the measured drain bottleneck of the rows mode
    (SCALE.md): the Python worker pays per-line json.loads + datetime
    conversion + Arrow serialization; the JVM path is one codegen'd
    projection.

    Accepts the same value shapes as ``_read_segment``: LSNs as PG
    ``%X/%X`` text or integers, timestamps as ISO-8601 text or epoch
    microseconds. Fail-fast on malformed JSON lines (W9) with the
    offending file in the error."""
    from pyspark.sql import functions as F

    paths = [r["segment_path"] for r in paths_df.select("segment_path").collect()]
    if not paths:
        return spark.createDataFrame([], BRONZE_SCHEMA)
    line_schema = StructType(
        [
            StructField("insert_timestamp", StringType()),
            StructField("database", StringType()),
            StructField("source_slotname", StringType()),
            StructField("lsn_start", StringType()),
            StructField("xid", StringType()),
            StructField("xid_timestamp", StringType()),
            StructField("payload", StringType()),
        ]
    )

    def ts(col: str):
        s = F.col(f"r.{col}")
        return (
            F.when(s.rlike("^[0-9]+$"), F.timestamp_micros(s.cast("long")))
            .otherwise(F.to_timestamp(s))
            .alias(col)
        )

    def lsn(col: str):
        s = F.col(f"r.{col}")
        hi = F.conv(F.split(s, "/")[0], 16, 10).cast("long")
        lo = F.conv(F.split(s, "/")[1], 16, 10).cast("long")
        return (
            F.when(s.contains("/"), F.shiftleft(hi, 32) + lo)
            .otherwise(s.cast("long"))
            .alias(col)
        )

    raw = spark.read.text(paths).filter(F.trim("value") != "")
    parsed = raw.select(
        F.from_json("value", line_schema).alias("r"), "value", F.input_file_name().alias("__f")
    )
    # from_json yields a NULL struct only for non-JSON input (a JSON object
    # with missing keys parses to null FIELDS) — same failure surface as
    # _read_segment's json.loads fail-fast
    guard = F.when(
        F.col("r").isNull(),
        F.raise_error(
            F.concat(
                F.lit("malformed spool line in "),
                F.col("__f"),
                F.lit(": "),
                F.substring("value", 1, 120),
            )
        ).cast("string"),
    ).otherwise(F.col("r.database"))
    return parsed.select(
        ts("insert_timestamp"),
        guard.alias("database"),
        F.col("r.source_slotname").alias("source_slotname"),
        lsn("lsn_start"),
        F.col("r.xid").cast("long").alias("xid"),
        ts("xid_timestamp"),
        F.col("r.payload").alias("payload"),
    )


def write_segment(spool_dir: str, rows: list[dict], name: str) -> str:
    """Receiver-side segment writer: JSONL to ``.tmp`` then atomic rename —
    the single-commit-per-source-transaction contract (W2,
    connemara_replication.c:757-836): a segment is either fully visible or
    absent, never half-read."""
    os.makedirs(spool_dir, exist_ok=True)
    final = os.path.join(spool_dir, name if name.endswith(".jsonl") else name + ".jsonl")
    tmp = final + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r, default=str) + "\n")
    os.replace(tmp, final)
    return final

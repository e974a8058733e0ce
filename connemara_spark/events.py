"""CDC event transport model + parser.

The reference spools wal2json change events into ``replication.raw_messages``
(DDL at connemara_replication/src/connemara_replication.c:457-474) and the
replayer projects JSON fields per event (replayer/connemara_replay.pl:818-833,
:432-444). Here the transport is a DataFrame of ``BRONZE_SCHEMA`` rows; the
framing regexes of the C receiver (connemara_replication.c:33-104) are
unnecessary because ``from_json`` parses whole documents.

Parsing happens ONCE (not per consumer, unlike the reference's re-fetch per
worker): ``parse_events`` turns the raw spool into a typed event DataFrame
with the §1.2 SURVEY struct. All expressions are native Catalyst (from_json,
map_from_arrays) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Spool ("bronze") schema — replication.raw_messages analog.
# connemara_replication.c:457-474 + ALTER :471-474.
BRONZE_SCHEMA = T.StructType(
    [
        T.StructField("insert_timestamp", T.TimestampType()),
        T.StructField("database", T.StringType()),
        T.StructField("source_slotname", T.StringType()),
        T.StructField("lsn_start", T.LongType()),
        T.StructField("xid", T.LongType()),
        T.StructField("xid_timestamp", T.TimestampType()),
        T.StructField("payload", T.StringType()),
    ]
)

# wal2json v1 single-change payload (include-types=false,
# connemara_replication.c:504; fields consumed replay.pl:432-444).
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("columnnames", T.ArrayType(T.StringType())),
        T.StructField("columnvalues", T.ArrayType(T.StringType())),
        T.StructField(
            "oldkeys",
            T.StructType(
                [
                    T.StructField("keynames", T.ArrayType(T.StringType())),
                    T.StructField("keyvalues", T.ArrayType(T.StringType())),
                ]
            ),
        ),
    ]
)


def malformed_payload_pred() -> Column:
    """A spool row is malformed when it carries a payload that does not
    parse to a CDC event with a ``kind`` (from_json yields a null-field
    struct for unparseable or wrong-shape JSON — verified behavior, not
    a null struct). NULL payloads are not events at all and are left to
    the caller's filters."""
    return F.col("payload").isNotNull() & F.from_json(
        F.col("payload"), PAYLOAD_SCHEMA
    )["kind"].isNull()


def split_malformed(bronze: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Quarantine split: (well-formed spool rows, malformed spool rows).
    The quarantine side keeps the raw payload for operator inspection —
    the CDC analog of the corpus readers' corrupt-line quarantine
    (sources/textfiles.py). Use when a lossy upstream makes fail-fast
    (the default, W9) operationally wrong."""
    bad = malformed_payload_pred()
    return bronze.filter(~bad), bronze.filter(bad)


def parse_events(
    bronze: DataFrame, *, on_malformed: str = "fail", pushdown_barrier: bool = True
) -> DataFrame:
    """Spool rows -> typed CDC events (one row per row-change).

    Equivalent of the dispatcher's JSON projections (replay.pl:818-833) plus
    the worker re-fetch (replay.pl:432-444), done once. Output columns:
    transport fields + ``op, schema, table, columnnames, columnvalues,
    oldkeys`` — SURVEY §1.2's event struct, flattened.

    ``on_malformed`` is the corrupt-payload policy:
    - ``"fail"`` (default): any unparseable payload raises at execution —
      the reference's fail-fast stance (W9, docs/architecture.rst:185-186):
      a corrupt spool row means upstream corruption, and silently applying
      a null-field event would corrupt the target;
    - ``"ignore"``: malformed rows pass through with null fields (callers
      pre-splitting with ``split_malformed`` use this on the clean side).

    ``pushdown_barrier`` (default True): pin the JSON parse to ONE
    evaluation per row. Without it, Catalyst rewrites downstream
    parsed-field filters (table routing, op splits) through this
    projection — each rewritten site re-inlines the ``from_json`` tree, and
    the filters pushed into the scan re-parse every payload there (measured
    4 evaluations per row on the fold path; 1.63s -> 0.36s per stream at
    sf0.1). The barrier is a never-true non-deterministic branch folded
    into ``op`` — non-determinism is the one thing Catalyst will neither
    push a predicate through nor collapse a projection across, and the
    branch itself is dead at runtime. Cost: transport-column filters
    (database/slot/lsn) applied ABOVE the parse no longer reach the file
    scan — apply those to the BRONZE frame (as the replayer's watermark
    filter does) where scan pruning actually matters; parsed-field filters
    could never prune a JSON payload scan anyway. Set False only for a
    plan that needs post-parse predicates pushed into the source.
    """
    if on_malformed not in ("fail", "ignore"):
        raise ValueError(f"unknown on_malformed policy {on_malformed!r}")
    ev = F.from_json(F.col("payload"), PAYLOAD_SCHEMA).alias("ev")
    op = F.col("ev.kind")
    if on_malformed == "fail":
        # the guard lives INSIDE the always-selected op column so no
        # projection pruning can optimize it away
        op = F.when(
            F.col("payload").isNotNull() & F.col("ev.kind").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("malformed CDC payload (fail-fast, W9): "),
                    F.substring(F.col("payload"), 1, 120),
                )
            ).cast("string"),
        ).otherwise(F.col("ev.kind"))
    parsed = bronze.select(
        "insert_timestamp",
        "database",
        "source_slotname",
        "lsn_start",
        "xid",
        "xid_timestamp",
        "payload",
        ev,
    ).select(
        "insert_timestamp",
        "database",
        "source_slotname",
        "lsn_start",
        "xid",
        "xid_timestamp",
        op.alias("op"),
        F.col("ev.schema").alias("schema"),
        F.col("ev.table").alias("table"),
        F.col("ev.columnnames").alias("columnnames"),
        F.col("ev.columnvalues").alias("columnvalues"),
        F.col("ev.oldkeys").alias("oldkeys"),
    )
    if not pushdown_barrier:
        return parsed
    # Never-true non-deterministic branch: semantically `op`, but Catalyst
    # cannot push predicates through or collapse projections across a
    # non-deterministic projection, so from_json stays single-evaluation.
    guarded = (
        F.when(F.monotonically_increasing_id() < 0, F.lit(None).cast("string"))
        .otherwise(F.col("op"))
        .alias("op")
    )
    return parsed.select(
        *[guarded if c == "op" else c for c in parsed.columns]
    )


def standard_filters(events: DataFrame) -> DataFrame:
    """Built-in routing filters applied to every event stream:

    - temp-table rewrite artifacts dropped (F3, replay.pl:362-367)
    """
    return events.filter(~F.col("table").startswith("pg_temp"))


def slot_restriction(
    events: DataFrame,
    excluded_databases: list[str] | None = None,
    allowed_slots: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Db/slot restriction filter (F2, replay.pl:726-736,779-799):
    ``database NOT IN (excluded) OR (database, source_slotname) IN (allowed)``.
    """
    cond = F.lit(True)
    if excluded_databases:
        cond = ~F.col("database").isin(excluded_databases)
    if allowed_slots:
        pair = F.struct(F.col("database"), F.col("source_slotname"))
        allowed = [F.struct(F.lit(d), F.lit(s)) for d, s in allowed_slots]
        cond = cond | pair.isin(*allowed) if excluded_databases else pair.isin(*allowed)
    return events.filter(cond)


def is_ddl_event(schema_col: Column | None = None, table_col: Column | None = None) -> Column:
    """DDL-event predicate (F4, replay.pl:371,867): events on
    ``public.sql_ddl_statements`` route to the DDL path."""
    s = schema_col if schema_col is not None else F.col("schema")
    t = table_col if table_col is not None else F.col("table")
    return (s == "public") & (t == "sql_ddl_statements")


def split_ddl_dml(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split an event stream into (ddl_events, dml_events) — the F4 routing
    branch, as two filtered DataFrames off one parsed scan."""
    ddl = events.filter(is_ddl_event())
    dml = events.filter(~is_ddl_event())
    return ddl, dml


def schema_drift_report(events: DataFrame, catalog) -> DataFrame:
    """Schema-drift detector: observed event columns vs the engine catalog.

    The reference replayer treats an unknown column as a fatal drift (its
    generated UPDATE would fail the one-row assertion, replay.pl:416-426,
    after a missed DDL or cache-invalidation bug). A 1000-executor
    pipeline wants the OBSERVABILITY version first: per (db, schema,
    table, column), classify

    - ``unknown``    — column seen in events but absent from the catalog
      (missed DDL, upstream schema change, decoder mismatch);
    - ``unobserved`` — catalog column never present in any event payload
      over the window (dead column, or TOAST-suppressed everywhere —
      worth eyes either way).

    Healthy columns are omitted. One explode + one aggregation shuffle on
    (table, column) — column-name cardinality, not row cardinality; the
    catalog side is a driver-rendered literal table (catalogs are small
    by construction).

    Returns: database, schema, table, column, status, n_events,
    first_lsn, last_lsn (the LSN range localizes WHEN drift started —
    nulls for unobserved columns).
    """
    spark = events.sparkSession
    obs = (
        events.filter(F.col("columnnames").isNotNull())
        .select(
            "database", "schema", "table", "lsn_start",
            F.explode("columnnames").alias("column"),
        )
        .groupBy("database", "schema", "table", "column")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("lsn_start").alias("first_lsn"),
            F.max("lsn_start").alias("last_lsn"),
        )
    )
    spec_rows = [
        (t.database, t.schema, t.table, c.name)
        for t in catalog.tables()
        for c in t.columns
    ]
    spec = spark.createDataFrame(
        spec_rows, "database string, schema string, table string, column string"
    )
    joined = obs.join(
        F.broadcast(spec.withColumn("__in_cat", F.lit(1))),
        ["database", "schema", "table", "column"],
        "full_outer",
    )
    status = (
        F.when(F.col("__in_cat").isNull(), F.lit("unknown"))
        .when(F.col("n_events").isNull(), F.lit("unobserved"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            "database", "schema", "table", "column", "status",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            "first_lsn", "last_lsn",
        )
    )

"""JDBC apply sink: push CDC-folded state into a LIVE relational target.

The reference's apply sink IS a relational database — the Perl replayer
executes INSERT/UPDATE/DELETE directly against consolidation PostgreSQL
(``replayer/connemara_replay.pl:416-426``). This engine folds into its
own silver store; this module closes the loop for deployments that ALSO
serve a downstream RDBMS (reporting replicas, serving tables): per batch
it ships the touched-key slice of the new state over JDBC and merges it
into the target.

Spark-idiomatic shape (executors cannot speak JDBC-with-transactions
row-by-row from Python, and per-row DML from the driver would be the
reference's single-writer bottleneck): each target table's touched-key
slice is written DISTRIBUTEDLY to its own staging table with
``df.write.jdbc`` (the parallel, dumb-append fast path), and ONE
driver-side transaction then reconciles every target <- its staging:

    DELETE FROM target WHERE pk IN (SELECT pk FROM staging_keys);
    INSERT INTO target SELECT ... FROM staging;
    ...                                 -- every further target table
    INSERT INTO ledger VALUES (batch_id);  -- same transaction
    COMMIT;

Delete-then-insert-at-touched-keys is REPLACEMENT, the same idempotent
discipline as ``MaintainedJoinView``: a replayed batch (streaming
checkpoint rollback) converges because replacement overwrites rather
than diffs. The ledger row makes the whole apply exactly-once — a batch
id already in the ledger is skipped before any work, and the ledger
insert commits atomically WITH the data, so a crash either applied
nothing or recorded the application. Across several tables the one
transaction is the reference's per-source-transaction atomicity (W2)
reproduced at the external target: a reader never observes table A's
batch without table B's.

``JdbcMultiApplySink`` is the sink, over a list of per-table legs;
``JdbcApplySink`` is its one-target case (its constructor only names the
one leg, ledger and staging table).

Protocol: ``before_apply(parsed_events, buckets=None)`` pins the batch's
touched keys (same hook as the view maintainers — ``Replayer.step`` drives
the sink via ``maintainers=[...]``); ``check_schema(catalog)`` follows DDL
to the targets; ``after_apply(batch_id=None)`` ships and merges.
"""

from __future__ import annotations

import copy
import logging
from contextlib import closing
from dataclasses import dataclass
from functools import partial

from pyspark.sql import functions as F

from connemara_spark.catalog import TableSpec
from connemara_spark.operators.ivm import _table_buckets, touched_keys
from connemara_spark.pipeline import run_legs

_log = logging.getLogger(__name__)

# SQLStates that mean "that index/object already exists" — the only
# failures the staging-index CREATE may silently absorb (truncate-reuse
# keeps the index alive across batches, so re-creation IS expected):
# Derby X0Y32 (object already exists), PostgreSQL/standard 42P07
# (duplicate_table — covers indexes), 42710 (duplicate_object).
_DUP_OBJECT_SQLSTATES = frozenset({"X0Y32", "42P07", "42710"})


def _sql_state(exc) -> str | None:
    """SQLState off a py4j-wrapped SQLException chain, else None."""
    java_exc = getattr(exc, "java_exception", None)
    while java_exc is not None:
        get_state = getattr(java_exc, "getSQLState", None)
        if get_state is not None:
            try:
                state = get_state()
            except Exception:  # pragma: no cover - py4j bridge hiccup
                return None
            if state:
                return str(state)
        get_cause = getattr(java_exc, "getCause", None)
        java_exc = get_cause() if get_cause is not None else None
    return None


def _with_write_defaults(properties: dict[str, str] | None) -> dict[str, str]:
    """Connection/write properties with a larger JDBC batch size default:
    Spark's writer flushes executeBatch every 1000 rows, and the staging
    writes here are the sink's hot path — 10k rows per batch cuts the
    driver<->database roundtrips 10x on every staged slice and bootstrap
    (Spark merges connection properties and reader/writer options into one
    map, so this rides the existing ``properties`` plumbing). Caller-set
    values always win."""
    out = dict(properties or {})
    out.setdefault("batchsize", "10000")
    return out


def _quoted(cols: list[str]) -> str:
    return ", ".join(f'"{c}"' for c in cols)


# pg type -> portable SQL column type for target-side DDL following
# (ALTER TABLE ADD COLUMN). Dialect-specific needs go through the sink's
# ``type_overrides``; an unmapped type fails loudly rather than guessing.
_PG_TO_SQL = {
    "bigint": "BIGINT",
    "integer": "INTEGER",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "boolean": "BOOLEAN",
    "double precision": "DOUBLE",
    "real": "REAL",
    "text": "VARCHAR(32672)",
    "character varying": "VARCHAR(32672)",
    "varchar": "VARCHAR(32672)",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp without time zone": "TIMESTAMP",
    "numeric": "DECIMAL(31,6)",
    "bytea": "BLOB",
}


@dataclass
class _Leg:
    """One target table: the spec its target currently has (a snapshot,
    advanced only by ``check_schema``), the target and its staging table."""

    spec: TableSpec
    target: str
    staging: str


class JdbcMultiApplySink:
    """Apply one batch's folded state across the target tables in ONE
    transaction — the consolidation guarantee the reference inherits from
    executing a source transaction's DML inside a single PostgreSQL
    transaction (W2 tx integrity; replay.pl's commit barrier): the SHARED
    ledger row commits atomically with every table, so the whole batch is
    exactly-once as a unit. Before COMMIT nothing is visible anywhere,
    after COMMIT the retry is a ledger skip — there is no window where
    only SOME tables carry the batch.

    ``targets``: list of ``(spec, target_table)``. Each table stages to
    its own ``{table}_staging`` (one distributed write per table — the
    parallel fast path, submitted concurrently); the single driver
    transaction then replaces rows at every table's touched keys and
    records the batch id once.

    DDL following (``check_schema``): ADD COLUMN is always replayed to
    the target; DROP is destructive and only replayed with
    ``follow_destructive`` — otherwise it fails loudly for review (the
    reference replays DDL to consolidation verbatim; a distributed sink
    defaults to the cautious half of that). ``type_overrides`` maps pg
    types to target column types beyond ``_PG_TO_SQL``."""

    def __init__(
        self,
        spark,
        store,
        targets,
        *,
        url: str,
        properties: dict[str, str] | None = None,
        ledger_table: str = "multi_apply_ledger",
        follow_destructive: bool = False,
        type_overrides: dict[str, str] | None = None,
        staging_partitions: int = 8,
    ):
        if not targets:
            raise ValueError("JdbcMultiApplySink needs at least one (spec, table)")
        self.spark = spark
        self.store = store
        # JDBC write parallelism must track the TARGET's ingest concurrency,
        # not the store's layout: the staged slice inherits the bucketed
        # read's partitioning (+ the key-rows union), so a 32-bucket store
        # ships ~64 near-empty partitions, each opening a connection for a
        # tiny executeBatch — measured ~1.7s/batch against embedded Derby
        # where the reconcile transaction itself costs ~0.06s. Eight
        # concurrent connections is a sane ceiling for a PostgreSQL-class
        # target; large slices still parallelize up to it.
        self.staging_partitions = max(1, staging_partitions)
        # SNAPSHOT every spec: the catalog mutates TableSpec objects in
        # place when DDL executes, and each leg's spec must track what its
        # JDBC TARGET looks like, not what the catalog currently says — the
        # gap between the two is exactly what check_schema reconciles (and
        # what its destructive-drop refusal reports). Aliasing the
        # catalog's object would advance the staged shape the instant DDL
        # ran, before the target followed.
        self.legs = [
            _Leg(copy.deepcopy(spec), tbl, f"{tbl}_staging") for spec, tbl in targets
        ]
        self.url = url
        self.props = _with_write_defaults(properties)
        self.ledger = ledger_table
        self.follow_destructive = follow_destructive
        self.type_overrides = type_overrides or {}
        self._touched = None
        self._ensure_ledger()
        # auto-assigned batch ids must survive process restarts: a fresh
        # counter starting at 1 would collide with ledger entries from the
        # previous process and silently SKIP real batches — resume from
        # the highest committed sequence instead
        self._batch_seq = self._max_committed_seq()

    # -- maintainer protocol (driven by Replayer.step) ---------------------
    def before_apply(self, parsed_events, buckets: dict | None = None) -> None:
        # lazy pins, one per leg: they derive from the immutable (cached)
        # parsed batch only, so post-apply evaluation sees identical keys —
        # and the pins cost zero jobs. ``buckets``: the batch summary's
        # {(db, schema, table): touched bucket ids}, read as the views read
        # it — a table's entry spares its staging read the buckets_of
        # collect, and a table absent from it had no DML, so its leg ships
        # nothing (see _stage_slice)
        self._touched = [
            (touched_keys(parsed_events, leg.spec), _table_buckets(buckets, leg.spec))
            for leg in self.legs
        ]

    def after_apply(self, batch_id: str | None = None) -> None:
        """Ship and merge the batch. With an explicit ``batch_id`` (one
        derived from the source's offsets/stream batch id) delivery is
        exactly-once via the ledger. Auto-assigned ids resume above the
        ledger's highest committed sequence, so a restarted process never
        collides-and-skips; a stream-replayed batch then applies under a
        FRESH id — still convergent, because replacement overwrites the
        touched keys with current state rather than diffing."""
        if self._touched is None:
            raise RuntimeError("before_apply must run first")
        if batch_id is None:
            self._batch_seq += 1
            batch_id = f"seq-{self._batch_seq}"
        try:
            self.apply_touched(self._touched, batch_id=batch_id)
        finally:
            self._touched = None

    def check_schema(self, catalog) -> None:
        """Follow schema evolution to every TARGET — the reference replays
        DDL to consolidation PostgreSQL (its target IS where DDL lands,
        connemara_rewrite.pm routing), so a sink that kept shipping the
        old column list after a mid-stream ALTER would either crash the
        reconcile INSERT (added column missing at the target) or drift
        silently (dropped column lingering). Driven by ``Replayer.step``
        after any batch that executed DDL, BEFORE after_apply ships the
        batch's slice. Per leg:

        - columns the catalog gained are ADDed to the target
          (``ALTER TABLE .. ADD COLUMN``, type via ``_PG_TO_SQL`` /
          ``type_overrides``);
        - columns the catalog lost RAISE unless ``follow_destructive``,
          in which case they are dropped at the target too;
        - the scratch staging table is dropped either way so the next
          apply recreates it with the evolved schema (a truncate-reuse
          would fail on the shape change).
        """
        for leg in self.legs:
            cur = catalog.get(leg.spec.database, leg.spec.schema, leg.spec.table)
            # validate BEFORE adopting the evolved spec: if the
            # destructive-drop check raises, leg.spec must still match the
            # target so a retried after_apply re-raises the clear drift
            # message instead of crashing on a column the target never gained
            target_cols = {c.lower() for c in self._target_columns(leg.target)}
            spec_names = {c.name.lower() for c in cur.columns}
            to_add = [c for c in cur.columns if c.name.lower() not in target_cols]
            dropped = sorted(target_cols - spec_names)
            if dropped and not self.follow_destructive:
                raise RuntimeError(
                    f"JDBC target {leg.target} still has column(s) {dropped} "
                    f"that DDL dropped from {cur.target_name} — pass "
                    f"follow_destructive=True to replay the drop, or reconcile "
                    f"the target manually"
                )
            if to_add or dropped:
                with closing(self._connect()) as con:
                    st = con.createStatement()
                    for c in to_add:
                        key = c.pg_type.strip().lower()
                        sql_t = self.type_overrides.get(key) or _PG_TO_SQL.get(key)
                        if sql_t is None:
                            raise ValueError(
                                f"no SQL type mapping for pg type {c.pg_type!r} "
                                f"(column {c.name}) — pass type_overrides"
                            )
                        st.execute(
                            f"ALTER TABLE {leg.target} ADD COLUMN {c.name} {sql_t}"
                        )
                    for name in dropped:
                        st.execute(f"ALTER TABLE {leg.target} DROP COLUMN {name}")
                    try:
                        st.execute(f"DROP TABLE {leg.staging}")
                    except Exception:
                        pass  # scratch table may not exist yet
            # the target now matches — adopt (a snapshot of) the evolved shape
            leg.spec = copy.deepcopy(cur)

    # -- core --------------------------------------------------------------
    def bootstrap_load(self, *, batch_id: str = "bootstrap") -> bool:
        """Initial sync of every target — the reference's COPY-shaped
        snapshot load (schema dump + restore feed the target BEFORE
        streaming begins, sources/snapshot.py S4/S5, one pg_restore
        session): ship the silver store's full current state without the
        touched-key machinery, since at bootstrap EVERY key is new.

        Shape: one distributed staging write per table (the same parallel
        fast path as per-batch applies), then ONE driver transaction that
        clears every target, bulk-inserts set-based from staging
        (in-database, no per-row driver roundtrips), and records the batch
        id once. The single transaction makes the load crash-atomic — a
        reader never observes table A restored without table B — and the
        ledger row makes it exactly-once: a restarted bootstrap is one
        skip, a crashed one left every target untouched. Returns False on
        the ledger skip."""
        if self._ledger_has(batch_id):
            return False

        def stage(leg):
            cols = [c.name for c in leg.spec.columns]
            self._write_staging(
                self.store.read(leg.spec)
                .select(*cols)
                .withColumn("__key_only", F.lit(False)),
                leg.staging,
            )
            return cols

        staged = run_legs([partial(stage, leg) for leg in self.legs])

        def load(st):
            for leg, cols in zip(self.legs, staged):
                st.execute(f"DELETE FROM {leg.target}")
                st.execute(
                    f"INSERT INTO {leg.target} ({', '.join(cols)}) "
                    f"SELECT {_quoted(cols)} FROM {leg.staging}"
                )

        self._transaction(batch_id, load)
        return True

    def apply_touched(self, touched, *, batch_id: str) -> bool:
        """Replace every target's rows at its touched keys with the silver
        store's CURRENT rows at those keys, and record ``batch_id``, in ONE
        transaction. ``touched``: one ``(keys_df, buckets)`` pair per leg,
        in ``targets`` order — ``buckets`` is the batch summary's touched
        bucket ids for that table (what ``before_apply`` pins; ``[]`` ships
        nothing for the leg), or None to price them from the keys. Returns
        False when ``batch_id`` was already applied (the exactly-once skip
        covers every table)."""
        if self._ledger_has(batch_id):
            return False
        # The per-table staging writes are the batch's distributed phase
        # and fully independent (own staging table, own index connection) —
        # submitted as CONCURRENT Spark jobs, the staging phase costs
        # max(tables), not sum(tables); one leg runs inline. Only the single
        # reconcile TRANSACTION is inherently serial (that is the atomicity
        # guarantee, not a bottleneck: it is set-based DML at the target).
        staged = run_legs(
            [
                partial(self._stage_slice, leg, keys, buckets)
                for leg, (keys, buckets) in zip(self.legs, touched, strict=True)
            ]
        )

        def reconcile(st):
            for leg, shipped in zip(self.legs, staged):
                if shipped is not None:
                    self._reconcile_leg(st, leg.target, leg.staging, *shipped)

        self._transaction(batch_id, reconcile)
        return True

    def _transaction(self, batch_id: str, statements) -> None:
        """ONE target transaction: ``statements(st)`` issues the data
        statements on an open Statement, then the ledger row records
        ``batch_id`` and everything commits together. A crash before
        COMMIT leaves the targets untouched and the batch unrecorded — the
        retry redoes everything; a crash after COMMIT makes the retry a
        ledger skip."""
        with closing(self._connect()) as con:
            try:
                con.setAutoCommit(False)
                statements(con.createStatement())
                ps = con.prepareStatement(
                    f"INSERT INTO {self.ledger} (batch_id) VALUES (?)"
                )
                ps.setString(1, batch_id)
                ps.executeUpdate()
                con.commit()
            except Exception:
                con.rollback()
                raise

    def _write_staging(self, staged, staging: str) -> None:
        # coalesce, not repartition: fold the store-layout-shaped
        # partitioning down to the target's connection budget without a
        # shuffle (see staging_partitions in __init__) — left at store-scan
        # parallelism a write opens one target connection PER SCAN
        # PARTITION (32+ against a bucketed store)
        staged.coalesce(self.staging_partitions).write.mode("overwrite").option(
            "truncate", "true"
        ).jdbc(self.url, staging, properties=self.props)

    def _stage_slice(
        self, leg: _Leg, keys, buckets: list[int] | None = None
    ) -> tuple[list, list] | None:
        """ONE distributed staging write for one leg: the new rows at the
        touched keys (__key_only=false, inserted by the reconcile) plus the
        bare touched keys (__key_only=true — they ride along so DELETED
        rows, touched but absent from the new state, still reach the
        DELETE). Returns (pk, cols) for the reconcile statements, or None
        when the leg has nothing to ship.

        ``buckets``: the batch summary's already-priced touched-bucket ids
        for this table, when the caller has them — skips the per-batch
        ``buckets_of`` driver collect (the fold priced the same set on the
        summary job; ``build_fold`` treats the two as interchangeable).
        ``[]`` (the table had no DML in the batch) skips the staging write
        and the leg's reconcile statements."""
        spec, staging = leg.spec, leg.staging
        pk = list(spec.pk_cols)
        if not pk:
            raise ValueError(f"{spec.target_name}: JDBC apply needs PK columns")
        if buckets == []:
            return None
        # the new state at the touched keys — over a BucketStore this read
        # prunes to the touched buckets at path selection
        if buckets is not None and hasattr(self.store, "read_buckets"):
            new = self.store.read_buckets(spec, buckets)
        elif hasattr(self.store, "read_for_keys"):
            new = self.store.read_for_keys(spec, keys)
        else:
            new = self.store.read(spec)
        t = F.broadcast(keys.select(*pk).distinct())
        slice_df = new.join(t, on=pk, how="left_semi")
        cols = [c.name for c in spec.columns]
        non_pk = [c for c in spec.columns if c.name not in pk]
        key_rows = t.select(
            *pk,
            *[F.lit(None).cast(c.spark_type).alias(c.name) for c in non_pk],
        ).withColumn("__key_only", F.lit(True))
        self._write_staging(
            slice_df.select(*cols)
            .withColumn("__key_only", F.lit(False))
            .unionByName(key_rows.select(*cols, "__key_only")),
            staging,
        )
        # Index the staged PK: the overwrite recreates the staging table
        # UNINDEXED, and without it some planners (embedded Derby) run the
        # reconcile's EXISTS semi-join as a NESTED LOOP — O(target rows x
        # staging rows) locked row fetches, measured as a multi-hour hang at
        # 50k x 66k rows where the indexed plan takes milliseconds. One
        # O(n log n) sort per batch buys probe-side lookups. On its own
        # AUTOCOMMIT connection: a failed re-create (truncate-reuse keeps
        # the index alive) must not poison the reconcile transaction
        # (PostgreSQL aborts a tx after any failed statement).
        with closing(self._connect()) as con:
            try:
                con.createStatement().execute(
                    f"CREATE INDEX {staging}_pk ON {staging} ({_quoted(pk)})"
                )
            except Exception as exc:
                # Only "already exists" is benign (truncate-reuse keeps the
                # index alive across batches, so re-creation is expected).
                # Any OTHER failure — permissions, identifier length, a
                # schema-qualified staging name — would silently revert the
                # reconcile to the nested-loop plan this index exists to
                # prevent, so it must leave a signal even though the apply
                # can proceed.
                state = _sql_state(exc)
                if state not in _DUP_OBJECT_SQLSTATES:
                    _log.warning(
                        "staging index %s_pk creation failed (SQLState=%s): "
                        "%s — reconcile will run UNINDEXED (nested-loop risk)",
                        staging,
                        state,
                        exc,
                    )
        return pk, cols

    @staticmethod
    def _reconcile_leg(st, target: str, staging: str, pk: list, cols: list) -> None:
        """Replacement statements for one table on an OPEN transaction's
        Statement — ``_transaction`` owns begin/commit/rollback. Spark's
        JDBC writer creates staging columns QUOTED in the DataFrame's exact
        case; the user-created target resolves unquoted (standard case
        folding) — reference each side its way. ``_stage_slice`` indexed
        the staged PK, so the EXISTS semi-join below probes instead of
        nested-looping."""
        on = " AND ".join(f't.{c} = k."{c}"' for c in pk)
        st.execute(
            f"DELETE FROM {target} t WHERE EXISTS "
            f"(SELECT 1 FROM {staging} k WHERE {on})"
        )
        st.execute(
            f"INSERT INTO {target} ({', '.join(cols)}) "
            f'SELECT {_quoted(cols)} FROM {staging} WHERE "__key_only" = false'
        )

    # -- JDBC plumbing -----------------------------------------------------
    def _connect(self):
        # the driver-side connections must authenticate the same way the
        # executors' df.write.jdbc does: every connection property except
        # the class name (user, password, ssl, ...) is forwarded verbatim
        jvm = self.spark._jvm
        driver = self.props.get("driver")
        if driver:
            jvm.java.lang.Class.forName(driver)
        jprops = jvm.java.util.Properties()
        for k, v in self.props.items():
            if k != "driver":
                jprops.setProperty(k, v)
        return jvm.java.sql.DriverManager.getConnection(self.url, jprops)

    def _target_columns(self, target: str) -> list[str]:
        with closing(self._connect()) as con:
            md = con.getMetaData()
            out: list[str] = []
            # unquoted identifiers fold per-dialect (Derby: upper,
            # PostgreSQL: lower) — probe both folds
            for probe in (target.upper(), target):
                rs = md.getColumns(None, None, probe, None)
                while rs.next():
                    out.append(rs.getString("COLUMN_NAME"))
                if out:
                    return out
        raise RuntimeError(f"target table {target} not found")

    def _ensure_ledger(self) -> None:
        # NOTE: the connection is still in autocommit mode here — DDL commits
        # itself, and calling con.commit() under autocommit is an error on
        # PostgreSQL/MySQL drivers (works only on Derby), so we never do.
        with closing(self._connect()) as con:
            try:
                con.createStatement().execute(
                    f"CREATE TABLE {self.ledger} (batch_id VARCHAR(128) PRIMARY KEY)"
                )
            except Exception as create_err:
                # "already exists" is fine; auth/connectivity/permission
                # errors are NOT — probe the table to tell them apart, and
                # surface the ORIGINAL error when the probe fails too
                try:
                    con.createStatement().executeQuery(
                        f"SELECT batch_id FROM {self.ledger} WHERE 1=0"
                    ).close()
                except Exception:
                    raise create_err

    def _max_committed_seq(self) -> int:
        with closing(self._connect()) as con:
            rs = con.createStatement().executeQuery(
                f"SELECT batch_id FROM {self.ledger}"
            )
            best = 0
            while rs.next():
                bid = rs.getString(1)
                if bid.startswith("seq-") and bid[4:].isdigit():
                    best = max(best, int(bid[4:]))
            return best

    def _ledger_has(self, batch_id: str) -> bool:
        with closing(self._connect()) as con:
            ps = con.prepareStatement(
                f"SELECT 1 FROM {self.ledger} WHERE batch_id = ?"
            )
            ps.setString(1, batch_id)
            return ps.executeQuery().next()


class JdbcApplySink(JdbcMultiApplySink):
    """The one-target case: replicate one silver table into
    ``target_table``, |Δ|-scoped per batch, exactly-once via
    ``{target_table}_apply_ledger`` and staged through
    ``{target_table}_staging`` (both overridable) — the names this sink
    has always used, so an existing target keeps its ledger."""

    def __init__(
        self,
        spark,
        store,
        spec,
        *,
        url: str,
        target_table: str,
        properties: dict[str, str] | None = None,
        staging_table: str | None = None,
        ledger_table: str | None = None,
        follow_destructive: bool = False,
        type_overrides: dict[str, str] | None = None,
        staging_partitions: int = 8,
    ):
        super().__init__(
            spark,
            store,
            [(spec, target_table)],
            url=url,
            properties=properties,
            ledger_table=ledger_table or f"{target_table}_apply_ledger",
            follow_destructive=follow_destructive,
            type_overrides=type_overrides,
            staging_partitions=staging_partitions,
        )
        if staging_table:
            self.legs[0].staging = staging_table

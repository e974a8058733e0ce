"""JDBC apply sink: |delta|-scoped replacement into a live relational
target with an exactly-once ledger — exercised against embedded Derby."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
from connemara_spark.events import BRONZE_SCHEMA
from connemara_spark.pipeline import Replayer
from connemara_spark.sinks import JdbcApplySink
from connemara_spark.stores import BucketStore
from connemara_spark.testing import make_event

PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _setup(spark, tmp_path, dbname):
    url = f"jdbc:derby:memory:{dbname};create=true"
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    st = con.createStatement()
    st.execute("CREATE TABLE items (id BIGINT PRIMARY KEY, v VARCHAR(64), n INT)")
    con.commit()
    con.close()

    spec = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text"),
                 ColumnSpec("n", "integer")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
    base = spark.createDataFrame(
        [(i, f"v{i}", i) for i in range(20)], "id long, v string, n int"
    )
    store.write(spec, base)
    rep = Replayer(spark, cat, store)
    sink = JdbcApplySink(
        spark, store, spec,
        url=f"jdbc:derby:memory:{dbname}", target_table="items", properties=PROPS,
    )
    return url, spec, store, rep, sink


def _bronze(spark, events):
    return spark.createDataFrame(
        [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
        schema=BRONZE_SCHEMA,
    )


def _target_rows(spark, url):
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = con.createStatement().executeQuery("SELECT id, v, n FROM items ORDER BY id")
        out = {}
        while rs.next():
            out[rs.getLong(1)] = (rs.getString(2), rs.getInt(3))
        return out
    finally:
        con.close()


def test_jdbc_apply_replicates_store_state_exactly_once(spark, tmp_path):
    url, spec, store, rep, sink = _setup(spark, tmp_path, "sinkdb1")

    # seed the target with the snapshot (full first load: every key touched)
    all_keys = store.read(spec).select("id")
    assert sink.apply_touched([(all_keys, None)], batch_id="bootstrap")
    assert _target_rows(spark, url) == {
        i: (f"v{i}", i) for i in range(20)
    }

    # batch: update, delete, insert — driven through the maintainer protocol
    events = [
        make_event(spec, "update", lsn=1, row={"id": 2, "v": "patched", "n": 99}, old_key={"id": 2}),
        make_event(spec, "delete", lsn=2, old_key={"id": 5}),
        make_event(spec, "insert", lsn=3, row={"id": 50, "v": "new", "n": 1}),
    ]
    b = _bronze(spark, events)
    parsed = rep.parse_batch(b)
    sink.before_apply(parsed)
    rep.apply_batch(b, events=parsed)
    sink.after_apply(batch_id="batch-1")

    got = _target_rows(spark, url)
    assert got[2] == ("patched", 99) and got[50] == ("new", 1)
    assert 5 not in got and len(got) == 20  # 20 - 1 deleted + 1 inserted
    # target mirrors the silver store exactly
    want = {r["id"]: (r["v"], r["n"]) for r in store.read(spec).collect()}
    assert got == want

    # exactly-once: replaying the SAME batch id is a no-op skip
    assert sink.apply_touched(
        [(spark.createDataFrame([(2,), (5,), (50,)], "id long"), None)],
        batch_id="batch-1",
    ) is False
    assert _target_rows(spark, url) == want


def test_jdbc_apply_retry_after_crash_converges(spark, tmp_path):
    """Crash-before-commit leaves the target untouched and the ledger
    unrecorded; the retry with the SAME batch id applies cleanly (and a
    post-commit replay skips). Replacement semantics make the re-apply
    idempotent even though the store already contains the batch."""
    url, spec, store, rep, sink = _setup(spark, tmp_path, "sinkdb2")
    sink.apply_touched([(store.read(spec).select("id"), None)], batch_id="bootstrap")

    events = [
        make_event(spec, "update", lsn=1, row={"id": 1, "v": "x", "n": 7}, old_key={"id": 1}),
    ]
    b = _bronze(spark, events)
    parsed = rep.parse_batch(b)
    sink.before_apply(parsed)
    rep.apply_batch(b, events=parsed)
    # crash: after_apply never runs; store advanced, target stale
    assert _target_rows(spark, url)[1] == ("v1", 1)

    # restart replays the batch: store re-apply is idempotent, sink applies
    parsed2 = rep.parse_batch(b)
    sink2 = JdbcApplySink(
        spark, store, spec,
        url=f"jdbc:derby:memory:sinkdb2", target_table="items", properties=PROPS,
    )
    sink2.before_apply(parsed2)
    rep.apply_batch(b, events=parsed2)
    sink2.after_apply(batch_id="batch-1")
    assert _target_rows(spark, url)[1] == ("x", 7)
    # and the duplicate delivery after success is skipped
    assert sink2.apply_touched(
        [(spark.createDataFrame([(1,)], "id long"), None)], batch_id="batch-1"
    ) is False


def test_jdbc_sink_through_streaming_driver_with_restart(spark, tmp_path):
    """The sink as a first-class streaming maintainer: wal_spool drains
    keep the Derby target mirroring the silver store, and a RESTARTED
    process (fresh sink object, counter reseeded from the ledger) neither
    skips nor duplicates."""
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer

    url0 = "jdbc:derby:memory:sinkdb3;create=true"
    con = spark._jvm.java.sql.DriverManager.getConnection(url0)
    con.createStatement().execute(
        "CREATE TABLE items (id BIGINT PRIMARY KEY, v VARCHAR(64), n INT)"
    )
    con.commit()
    con.close()

    spec = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text"),
                 ColumnSpec("n", "integer")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
    store.write(spec, spark.createDataFrame([], spec.spark_schema()))

    def make_sink():
        return JdbcApplySink(
            spark, store, spec,
            url="jdbc:derby:memory:sinkdb3", target_table="items", properties=PROPS,
        )

    def make_sr(sink):
        return StreamingReplayer(
            spark, cat, store,
            landing_dir=str(tmp_path / "spool"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            landing_format="wal_spool",
            maintainers=[sink],
        )

    def seg(events, name):
        write_segment(str(tmp_path / "spool"), [dict(e) for e in events], name)

    seg([make_event(spec, "insert", lsn=i, row={"id": i, "v": f"v{i}", "n": i})
         for i in range(1, 6)], "seg-001")
    make_sr(make_sink()).run_until_drained()
    want = {r["id"]: (r["v"], r["n"]) for r in store.read(spec).collect()}
    assert _target_rows(spark, "jdbc:derby:memory:sinkdb3") == want and len(want) == 5

    # restart: fresh sink (counter reseeded from the ledger) + new data
    seg([make_event(spec, "update", lsn=6, row={"id": 1, "v": "x", "n": 9}, old_key={"id": 1}),
         make_event(spec, "delete", lsn=7, old_key={"id": 2})], "seg-002")
    make_sr(make_sink()).run_until_drained()
    want = {r["id"]: (r["v"], r["n"]) for r in store.read(spec).collect()}
    got = _target_rows(spark, "jdbc:derby:memory:sinkdb3")
    assert got == want and got[1] == ("x", 9) and 2 not in got


def test_driver_side_connections_forward_credentials(spark):
    """The driver-side JDBC connections (_ensure_ledger/_ledger_has/
    _transaction) must authenticate with the SAME connection properties the
    executors' df.write.jdbc uses — a sink configured with user/password
    that only forwards them to the staging write would fail against any
    authenticated target. Derby maps the `user` property to the session's
    current schema, so forwarding is observable without configuring
    Derby's authentication machinery."""
    url = "jdbc:derby:memory:sinkauth;create=true"
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    con.close()

    spec = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint")], pk_cols=["id"],
    )
    sink = JdbcApplySink(
        spark, store=None, spec=spec,
        url="jdbc:derby:memory:sinkauth", target_table="items",
        properties={**PROPS, "user": "alice"},
    )
    c = sink._connect()
    try:
        assert c.getSchema() == "ALICE"
    finally:
        c.close()
    # and the ledger the __init__ created lives in that schema
    rs = sink._connect().createStatement().executeQuery(
        "SELECT COUNT(*) FROM alice.items_apply_ledger"
    )
    rs.next()
    assert rs.getInt(1) == 0


def _auth_db(spark, dbname):
    """Boot an in-memory Derby with BUILTIN authentication: `admin` has
    full access, `reader` is read-only. Requires a reboot for the static
    requireAuthentication property to take effect."""
    jvm = spark._jvm
    url = f"jdbc:derby:memory:{dbname};create=true"
    con = jvm.java.sql.DriverManager.getConnection(url)
    st = con.createStatement()
    for k, v in [
        ("derby.connection.requireAuthentication", "true"),
        ("derby.authentication.provider", "BUILTIN"),
        ("derby.user.admin", "adminpw"),
        ("derby.user.reader", "readerpw"),
        ("derby.database.fullAccessUsers", "admin"),
        ("derby.database.defaultConnectionMode", "readOnlyAccess"),
        # without this, Derby lets system-level property absence override
        # the database-level auth settings and auth never activates
        ("derby.database.propertiesOnly", "true"),
    ]:
        st.execute(f"CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('{k}', '{v}')")
    con.close()
    try:  # reboot so the static auth properties activate (in-memory data survives)
        jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:memory:{dbname};shutdown=true"
        )
    except Exception:
        pass  # Derby signals successful shutdown via SQLState 08006


def _items_spec():
    return TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint")], pk_cols=["id"],
    )


def test_wrong_password_raises_at_construction(spark):
    """Auth/connectivity failures must surface in __init__ with the REAL
    error — not be swallowed by the ledger-exists guard and resurface
    later as a confusing missing-table stack."""
    _auth_db(spark, "sinkauthfail")
    with pytest.raises(Exception, match="08004|[Aa]uthentication"):
        # Derby: "Connection authentication failure ... Invalid authentication"
        JdbcApplySink(
            spark, store=None, spec=_items_spec(),
            url="jdbc:derby:memory:sinkauthfail", target_table="items",
            properties={**PROPS, "user": "admin", "password": "WRONG"},
        )


def test_ledger_create_permission_error_raises_original(spark):
    """Connection succeeds but CREATE TABLE fails for a reason OTHER than
    already-exists (here: a read-only user). The construction must raise
    the ORIGINAL create error (read-only, SQLState 25502/25503), not
    defer to a missing-ledger SELECT failure."""
    _auth_db(spark, "sinkro")
    with pytest.raises(Exception, match="read-only|25502|25503"):
        JdbcApplySink(
            spark, store=None, spec=_items_spec(),
            url="jdbc:derby:memory:sinkro", target_table="items",
            properties={**PROPS, "user": "reader", "password": "readerpw"},
        )


def test_existing_ledger_is_not_an_error(spark):
    """The exists-branch of _ensure_ledger: constructing a second sink
    over the same target probes the ledger and proceeds silently."""
    url = "jdbc:derby:memory:sinkexists;create=true"
    spark._jvm.java.sql.DriverManager.getConnection(url).close()
    kw = dict(url="jdbc:derby:memory:sinkexists", target_table="items",
              properties=PROPS)
    JdbcApplySink(spark, store=None, spec=_items_spec(), **kw)
    JdbcApplySink(spark, store=None, spec=_items_spec(), **kw)  # no raise


def test_deterministic_stream_ids_make_replay_a_ledger_skip(spark, tmp_path):
    """deterministic_sink_ids=True forwards Spark's foreachBatch epoch id
    to the sink, so a checkpoint-replayed microbatch is a LEDGER SKIP at
    the target (true exactly-once delivery): wiping the checkpoint and
    re-draining the same spool re-delivers the same epochs, the ledger
    already has them, and the target sees zero extra applies."""
    import shutil

    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer

    url0 = "jdbc:derby:memory:sinkdet;create=true"
    con = spark._jvm.java.sql.DriverManager.getConnection(url0)
    con.createStatement().execute(
        "CREATE TABLE items (id BIGINT PRIMARY KEY, v VARCHAR(64), n INT)"
    )
    con.commit()
    con.close()

    spec = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text"),
                 ColumnSpec("n", "integer")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
    store.write(spec, spark.createDataFrame([], spec.spark_schema()))

    def make_sink():
        return JdbcApplySink(
            spark, store, spec,
            url="jdbc:derby:memory:sinkdet", target_table="items",
            properties=PROPS,
        )

    def drain(sink):
        StreamingReplayer(
            spark, cat, store,
            landing_dir=str(tmp_path / "spool"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            landing_format="wal_spool",
            maintainers=[sink],
            deterministic_sink_ids=True,
        ).run_until_drained()

    write_segment(
        str(tmp_path / "spool"),
        [dict(make_event(spec, "insert", lsn=i, row={"id": i, "v": f"v{i}", "n": i}))
         for i in range(1, 4)],
        "seg-001",
    )
    drain(make_sink())
    want = {r["id"]: (r["v"], r["n"]) for r in store.read(spec).collect()}
    assert _target_rows(spark, "jdbc:derby:memory:sinkdet") == want and len(want) == 3

    def ledger_ids():
        c = spark._jvm.java.sql.DriverManager.getConnection("jdbc:derby:memory:sinkdet")
        try:
            rs = c.createStatement().executeQuery(
                "SELECT batch_id FROM items_apply_ledger"
            )
            out = set()
            while rs.next():
                out.add(rs.getString(1))
            return out
        finally:
            c.close()

    ids = ledger_ids()
    assert ids and all(i.startswith("stream-") for i in ids)

    # simulate a lost checkpoint: the same spool replays the same epochs —
    # the sink must skip every one of them on the ledger, not re-apply
    shutil.rmtree(str(tmp_path / "ckpt"))
    drain(make_sink())
    assert ledger_ids() == ids
    assert _target_rows(spark, "jdbc:derby:memory:sinkdet") == want


def test_bootstrap_load_is_bulk_and_exactly_once(spark, tmp_path):
    """bootstrap_load ships the full silver state through staging and ONE
    clear+insert+ledger transaction (the reference's COPY-shaped initial
    sync): the target mirrors the store, a repeat call is a ledger skip,
    and a pre-existing stale target row is cleared by the load."""
    url, spec, store, rep, sink = _setup(spark, tmp_path, "sinkboot")
    # stale junk in the target from a previous aborted experiment
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    con.createStatement().execute("INSERT INTO items VALUES (999, 'stale', 0)")
    con.close()

    assert sink.bootstrap_load(batch_id="bootstrap") is True
    want = {r["id"]: (r["v"], r["n"]) for r in store.read(spec).collect()}
    got = _target_rows(spark, url)
    assert got == want and 999 not in got and len(got) == 20

    # exactly-once: the replayed bootstrap is a skip, target untouched
    assert sink.bootstrap_load(batch_id="bootstrap") is False
    assert _target_rows(spark, url) == want

    # and the normal per-batch apply composes on top of the bulk load
    events = [
        make_event(spec, "update", lsn=1, row={"id": 3, "v": "x", "n": 42}, old_key={"id": 3}),
    ]
    b = _bronze(spark, events)
    parsed = rep.parse_batch(b)
    sink.before_apply(parsed)
    rep.apply_batch(b, events=parsed)
    sink.after_apply(batch_id="batch-1")
    assert _target_rows(spark, url)[3] == ("x", 42)


def _ddl_event_dict(spec, lsn, query):
    import datetime
    import json as j

    ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn)
    return {
        "insert_timestamp": ts,
        "database": spec.database,
        "source_slotname": f"slot_{spec.database}",
        "lsn_start": lsn,
        "xid": 1000 + lsn,
        "xid_timestamp": ts,
        "payload": j.dumps({
            "kind": "insert", "schema": "public", "table": "sql_ddl_statements",
            "columnnames": ["id", "current_query", "search_path", "command_tags"],
            "columnvalues": [str(lsn), query, '"$user", public', "{DDL}"],
        }),
    }


def test_sink_follows_add_column_ddl_to_target(spark, tmp_path):
    """Mid-stream ALTER TABLE ADD COLUMN must reach the JDBC target (the
    reference replays DDL to consolidation): check_schema adds the column
    before the batch's slice ships, and post-DDL values flow through."""
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer

    url = "jdbc:derby:memory:sinkddl1;create=true"
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    con.createStatement().execute(
        "CREATE TABLE items (id BIGINT PRIMARY KEY, v VARCHAR(64), n INT)"
    )
    con.close()
    spec = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text"),
                 ColumnSpec("n", "integer")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
    store.write(spec, spark.createDataFrame([], spec.spark_schema()))
    sink = JdbcApplySink(
        spark, store, spec, url="jdbc:derby:memory:sinkddl1",
        target_table="items", properties=PROPS,
    )
    sr = StreamingReplayer(
        spark, cat, store,
        landing_dir=str(tmp_path / "spool"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        landing_format="wal_spool",
        maintainers=[sink],
    )
    write_segment(str(tmp_path / "spool"), [
        dict(make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a", "n": 1})),
        _ddl_event_dict(spec, 2, "ALTER TABLE public.items ADD COLUMN note text"),
    ], "seg-001")
    sr.run_until_drained()
    spec2 = cat.get("db1", "public", "items")
    assert spec2.column_names == ["id", "v", "n", "note"]
    assert [c.lower() for c in sink._target_columns("items")] == ["id", "v", "n", "note"]

    # post-DDL batch: the new column's values reach the target
    write_segment(str(tmp_path / "spool"), [
        dict(make_event(spec2, "insert", lsn=3,
                        row={"id": 2, "v": "b", "n": 2, "note": "hello"})),
    ], "seg-002")
    sr2 = StreamingReplayer(
        spark, cat, store,
        landing_dir=str(tmp_path / "spool"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        landing_format="wal_spool",
        maintainers=[sink],
    )
    sr2.run_until_drained()
    con = spark._jvm.java.sql.DriverManager.getConnection("jdbc:derby:memory:sinkddl1")
    try:
        rs = con.createStatement().executeQuery("SELECT id, note FROM items ORDER BY id")
        got = {}
        while rs.next():
            got[rs.getLong(1)] = rs.getString(2)
    finally:
        con.close()
    assert got == {1: None, 2: "hello"}


def test_sink_drop_column_fails_loudly_unless_opted_in(spark, tmp_path):
    """A dropped column left on the target is silent drift: check_schema
    raises by default and replays the drop with follow_destructive."""
    url = "jdbc:derby:memory:sinkddl2;create=true"
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    con.createStatement().execute(
        "CREATE TABLE items (id BIGINT PRIMARY KEY, v VARCHAR(64), n INT)"
    )
    con.close()
    spec = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text"),
                 ColumnSpec("n", "integer")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "items")
    sink = JdbcApplySink(
        spark, store=None, spec=spec, url="jdbc:derby:memory:sinkddl2",
        target_table="items", properties=PROPS,
    )
    cat.drop_column("db1", "public", "items", "n")
    with pytest.raises(RuntimeError, match="dropped"):
        sink.check_schema(cat)
    # target untouched by the refusal
    assert [c.lower() for c in sink._target_columns("items")] == ["id", "v", "n"]
    # and the sink's OWN spec too: a retried check_schema must re-raise the
    # same clear drift message, not crash shipping a shape the target lacks
    assert sink.legs[0].spec.column_names == ["id", "v", "n"]
    with pytest.raises(RuntimeError, match="dropped"):
        sink.check_schema(cat)

    sink2 = JdbcApplySink(
        spark, store=None, spec=spec, url="jdbc:derby:memory:sinkddl2",
        target_table="items", properties=PROPS, follow_destructive=True,
    )
    sink2.check_schema(cat)
    assert [c.lower() for c in sink2._target_columns("items")] == ["id", "v"]


def _two_table_setup(spark, tmp_path, dbname):
    from connemara_spark.sinks import JdbcMultiApplySink

    url = f"jdbc:derby:memory:{dbname};create=true"
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    st = con.createStatement()
    st.execute("CREATE TABLE items (id BIGINT PRIMARY KEY, v VARCHAR(64))")
    st.execute("CREATE TABLE accounts (id BIGINT PRIMARY KEY, bal DOUBLE)")
    con.close()

    cat = EngineCatalog()
    cat.register(TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
        pk_cols=["id"],
    ))
    cat.register(TableSpec(
        database="db1", schema="public", table="accounts",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("bal", "double precision")],
        pk_cols=["id"],
    ))
    items = cat.get("db1", "public", "items")
    accounts = cat.get("db1", "public", "accounts")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=4)
    store.write(items, spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], "id long, v string"))
    store.write(accounts, spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "id long, bal double"))
    rep = Replayer(spark, cat, store)
    sink = JdbcMultiApplySink(
        spark, store, [(items, "items"), (accounts, "accounts")],
        url=f"jdbc:derby:memory:{dbname}", properties=PROPS,
    )
    return url, cat, items, accounts, store, rep, sink


def _table(spark, url, sql):
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = con.createStatement().executeQuery(sql)
        out = {}
        while rs.next():
            out[rs.getLong(1)] = rs.getObject(2)
        return out
    finally:
        con.close()


def test_multi_table_apply_is_one_atomic_transaction(spark, tmp_path):
    """One batch touching TWO tables lands at the target as a unit: the
    shared ledger covers both, a replay skips both, and an injected
    failure AFTER the first table's replacement rolls BOTH back — there
    is no window where only some tables carry the batch (the reference's
    per-transaction atomicity, W2)."""
    url, cat, items, accounts, store, rep, sink = _two_table_setup(
        spark, tmp_path, "multidb1"
    )
    # bootstrap both tables through the multi path (every key touched)
    legs = [
        (store.read(items).select("id"), None),
        (store.read(accounts).select("id"), None),
    ]
    assert sink.apply_touched(legs, batch_id="bootstrap") is True
    assert _table(spark, url, "SELECT id, v FROM items") == {i: f"v{i}" for i in range(5)}
    assert _table(spark, url, "SELECT id, bal FROM accounts") == {i: float(i) for i in range(5)}

    # one batch: update an item AND an account, driven through the protocol
    events = [
        make_event(items, "update", lsn=1, row={"id": 1, "v": "patched"}, old_key={"id": 1}),
        make_event(accounts, "update", lsn=2, row={"id": 2, "bal": 99.5}, old_key={"id": 2}),
    ]
    b = _bronze(spark, events)
    parsed = rep.parse_batch(b)
    sink.before_apply(parsed)
    rep.apply_batch(b, events=parsed)
    sink.after_apply(batch_id="batch-1")
    assert _table(spark, url, "SELECT id, v FROM items")[1] == "patched"
    assert _table(spark, url, "SELECT id, bal FROM accounts")[2] == 99.5

    # replaying the SAME id skips BOTH tables at once
    assert sink.apply_touched(legs, batch_id="batch-1") is False

    # atomicity: make the SECOND leg fail (drop its staging between the
    # stage writes and the transaction by pointing the leg at a staging
    # table that does not exist) — the first leg's DELETE+INSERT must
    # roll back, leaving both tables and the ledger untouched
    store.write(items, store.read(items).withColumn(
        "v", F.when(F.col("id") == 3, F.lit("BOOM")).otherwise(F.col("v"))))
    before_items = _table(spark, url, "SELECT id, v FROM items")
    orig = sink._reconcile_leg
    calls = {"n": 0}

    def exploding(st, target, staging, pk, cols):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected mid-transaction failure")
        orig(st, target, staging, pk, cols)

    sink._reconcile_leg = exploding
    try:
        with pytest.raises(RuntimeError, match="injected"):
            sink.apply_touched(
                [(store.read(items).select("id"), None),
                 (store.read(accounts).select("id"), None)],
                batch_id="batch-2",
            )
    finally:
        sink._reconcile_leg = orig
    # the first leg's replacement (which would have shipped 'BOOM') was
    # rolled back with the second leg's failure, and batch-2 is unrecorded
    assert _table(spark, url, "SELECT id, v FROM items") == before_items
    assert sink._ledger_has("batch-2") is False
    # the retry under the same id converges cleanly
    assert sink.apply_touched(
        [(store.read(items).select("id"), None),
         (store.read(accounts).select("id"), None)],
        batch_id="batch-2",
    ) is True
    assert _table(spark, url, "SELECT id, v FROM items")[3] == "BOOM"


def test_multi_table_sink_through_streaming_driver(spark, tmp_path):
    """The multi-table sink as a streaming maintainer: one wal_spool drain
    carrying events for BOTH tables keeps both Derby targets mirroring
    the silver store."""
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer

    url, cat, items, accounts, store, rep, sink = _two_table_setup(
        spark, tmp_path, "multidb2"
    )
    sink.apply_touched(
        [(store.read(items).select("id"), None),
         (store.read(accounts).select("id"), None)],
        batch_id="bootstrap",
    )
    write_segment(str(tmp_path / "spool"), [
        dict(make_event(items, "insert", lsn=1, row={"id": 10, "v": "new"})),
        dict(make_event(accounts, "delete", lsn=2, old_key={"id": 0})),
        dict(make_event(accounts, "update", lsn=3, row={"id": 4, "bal": 7.25}, old_key={"id": 4})),
    ], "seg-001")
    StreamingReplayer(
        spark, cat, store,
        landing_dir=str(tmp_path / "spool"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        landing_format="wal_spool",
        maintainers=[sink],
    ).run_until_drained()
    got_items = _table(spark, url, "SELECT id, v FROM items")
    got_acct = _table(spark, url, "SELECT id, bal FROM accounts")
    assert got_items[10] == "new" and len(got_items) == 6
    assert 0 not in got_acct and got_acct[4] == 7.25 and len(got_acct) == 4
    # targets mirror the silver store exactly
    assert got_items == {r["id"]: r["v"] for r in store.read(items).collect()}
    assert got_acct == {r["id"]: r["bal"] for r in store.read(accounts).collect()}


def test_multi_table_bootstrap_load_all_is_one_atomic_transaction(spark, tmp_path):
    """bootstrap_load restores EVERY target in one transaction: both
    tables land together, a rerun is a single ledger skip covering all of
    them, and a failure on the second table's bulk-insert leaves the
    first table untouched (no half-restored target)."""
    url, cat, items, accounts, store, rep, sink = _two_table_setup(
        spark, tmp_path, "multidb3"
    )
    assert sink.bootstrap_load(batch_id="bootstrap") is True
    assert _table(spark, url, "SELECT id, v FROM items") == {
        i: f"v{i}" for i in range(5)
    }
    assert _table(spark, url, "SELECT id, bal FROM accounts") == {
        i: float(i) for i in range(5)
    }
    # exactly-once: a restarted bootstrap is one skip for all tables
    store.write(items, spark.createDataFrame([(9, "late")], "id long, v string"))
    assert sink.bootstrap_load(batch_id="bootstrap") is False
    assert _table(spark, url, "SELECT id, v FROM items") == {
        i: f"v{i}" for i in range(5)
    }

    # crash-atomicity: break the SECOND table's staging after the stage
    # writes (drop it), so the driver transaction fails mid-way — the
    # first table's DELETE+bulk-INSERT must roll back with it
    before_items = _table(spark, url, "SELECT id, v FROM items")

    class _Boom(Exception):
        pass

    orig = sink._connect

    def sabotage():
        con = orig()
        st = con.createStatement()

        class ConProxy:
            def setAutoCommit(self, v):
                con.setAutoCommit(v)

            def createStatement(self):
                real = con.createStatement()

                class StProxy:
                    def execute(self, sql):
                        if "INSERT INTO accounts" in sql:
                            raise _Boom("injected bulk-insert failure")
                        return real.execute(sql)

                return StProxy()

            def prepareStatement(self, sql):
                return con.prepareStatement(sql)

            def commit(self):
                con.commit()

            def rollback(self):
                con.rollback()

            def close(self):
                con.close()

        st.close()
        return ConProxy()

    sink._connect = sabotage
    try:
        with pytest.raises(_Boom):
            sink.bootstrap_load(batch_id="bootstrap-2")
    finally:
        sink._connect = orig
    assert _table(spark, url, "SELECT id, v FROM items") == before_items
    assert sink._ledger_has("bootstrap-2") is False
    # the retry under the same id converges (items now restores the
    # post-sabotage silver state: the single 'late' row)
    assert sink.bootstrap_load(batch_id="bootstrap-2") is True
    assert _table(spark, url, "SELECT id, v FROM items") == {9: "late"}
    assert _table(spark, url, "SELECT id, bal FROM accounts") == {
        i: float(i) for i in range(5)
    }


def test_streaming_sink_ships_with_summary_bucket_hints(spark, tmp_path, monkeypatch):
    """Through the streaming driver, the sink's staging read prunes to the
    batch summary's touched buckets: a drain never calls the store's
    ``buckets_of`` (a driver collect per batch), and the Derby target still
    mirrors the store."""
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer

    url, spec, store, rep, sink = _setup(spark, tmp_path, "sinkhints1")
    assert sink.bootstrap_load()
    calls = []
    real = store.buckets_of

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(store, "buckets_of", counting)

    def drain(events, name):
        write_segment(str(tmp_path / "spool"), [dict(e) for e in events], name)
        StreamingReplayer(
            spark, rep.catalog, store,
            landing_dir=str(tmp_path / "spool"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            landing_format="wal_spool",
            maintainers=[sink],
        ).run_until_drained()

    drain([
        make_event(spec, "update", lsn=1, row={"id": 2, "v": "patched", "n": 99}, old_key={"id": 2}),
        make_event(spec, "delete", lsn=2, old_key={"id": 5}),
        make_event(spec, "insert", lsn=3, row={"id": 100, "v": "new", "n": 7}),
    ], "seg-001")
    drain([
        make_event(spec, "update", lsn=4, row={"id": 100, "v": "newer", "n": 8}, old_key={"id": 100}),
    ], "seg-002")
    assert calls == []
    got = _target_rows(spark, url)
    assert got == {r["id"]: (r["v"], r["n"]) for r in store.read(spec).collect()}
    assert got[100] == ("newer", 8) and got[2] == ("patched", 99) and 5 not in got


def _columns(spark, url, table):
    """The live target's column names, lower-cased, in table order."""
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = con.getMetaData().getColumns(None, None, table.upper(), None)
        out = []
        while rs.next():
            out.append(rs.getString("COLUMN_NAME").lower())
        return out
    finally:
        con.close()


def test_multi_table_sink_follows_add_column_to_its_target(spark, tmp_path):
    """A batch carrying ALTER TABLE ADD COLUMN on ONE of the sink's tables,
    plus post-DDL DML: ``Replayer.step`` runs the sink's check_schema
    before the batch ships, so the matching Derby target gains the
    column and mirrors the store, and the other target is unchanged."""
    url, cat, items, accounts, store, rep, sink = _two_table_setup(
        spark, tmp_path, "multiddl1"
    )
    assert sink.bootstrap_load()
    accounts_before = _table(spark, url, "SELECT id, bal FROM accounts")
    rep.step(_bronze(spark, [
        make_event(items, "insert", lsn=1, row={"id": 10, "v": "pre"}),
        _ddl_event_dict(items, 2, "ALTER TABLE public.items ADD COLUMN note text"),
        make_event(items, "insert", lsn=3, row={"id": 11, "v": "post", "note": "hello"},
                   present=["id", "v", "note"]),
        make_event(items, "update", lsn=4, row={"id": 1, "v": "v1", "note": "later"},
                   present=["id", "v", "note"], old_key={"id": 1}),
    ]), maintainers=[sink])
    assert cat.get("db1", "public", "items").column_names == ["id", "v", "note"]
    assert _columns(spark, url, "items") == ["id", "v", "note"]
    assert _columns(spark, url, "accounts") == ["id", "bal"]
    want = {r["id"]: (r["v"], r["note"]) for r in store.read(items).collect()}
    got_v = _table(spark, url, "SELECT id, v FROM items")
    got_note = _table(spark, url, "SELECT id, note FROM items")
    assert {k: (got_v[k], got_note[k]) for k in got_v} == want
    assert got_note[10] is None and got_note[11] == "hello" and got_note[1] == "later"
    assert _table(spark, url, "SELECT id, bal FROM accounts") == accounts_before


def test_multi_table_sink_drop_column_fails_loudly_unless_opted_in(spark, tmp_path):
    """A DROP COLUMN on one of the sink's tables raises the clear drift
    error from ``Replayer.step`` and leaves that target's column in place;
    a sink built with ``follow_destructive=True`` replays the drop, and
    the next batch ships both tables in their current shape."""
    from connemara_spark.sinks import JdbcMultiApplySink

    url, cat, items, accounts, store, rep, sink = _two_table_setup(
        spark, tmp_path, "multiddl2"
    )
    assert sink.bootstrap_load()
    drop = _bronze(spark, [
        _ddl_event_dict(accounts, 1, "ALTER TABLE public.accounts DROP COLUMN bal"),
    ])
    with pytest.raises(RuntimeError, match=r"still has column\(s\) \['bal'\].*follow_destructive"):
        rep.step(drop, maintainers=[sink])
    assert _columns(spark, url, "accounts") == ["id", "bal"]
    assert _columns(spark, url, "items") == ["id", "v"]

    sink2 = JdbcMultiApplySink(
        spark, store, [(items, "items"), (accounts, "accounts")],
        url="jdbc:derby:memory:multiddl2", properties=PROPS,
        follow_destructive=True,
    )
    sink2.check_schema(cat)
    assert _columns(spark, url, "accounts") == ["id"]
    rep.step(_bronze(spark, [
        make_event(accounts, "insert", lsn=2, row={"id": 7}),
        make_event(items, "update", lsn=3, row={"id": 2, "v": "x"}, old_key={"id": 2}),
    ]), maintainers=[sink2])
    assert _table(spark, url, "SELECT id, v FROM items") == {
        r["id"]: r["v"] for r in store.read(items).collect()
    }
    assert set(_table(spark, url, "SELECT id, id FROM accounts")) == {
        r["id"] for r in store.read(accounts).collect()
    } == {0, 1, 2, 3, 4, 7}


def test_multi_table_sink_skips_legs_without_dml(spark, tmp_path, monkeypatch):
    """A batch that touches only ``items``: the ``accounts`` leg has no
    entry in the batch summary, so it ships nothing — no ``buckets_of``
    collect, no staging write, no reconcile statements — while the ledger
    still records the batch and ``items`` lands."""
    url, cat, items, accounts, store, rep, sink = _two_table_setup(
        spark, tmp_path, "multiskip1"
    )
    assert sink.bootstrap_load()
    accounts_before = _table(spark, url, "SELECT id, bal FROM accounts")

    def no_collect(*args, **kwargs):
        raise AssertionError("buckets_of called")

    monkeypatch.setattr(store, "buckets_of", no_collect)
    staged, reconciled = [], []
    write_staging, reconcile_leg = sink._write_staging, sink._reconcile_leg
    monkeypatch.setattr(
        sink, "_write_staging",
        lambda df, staging: (staged.append(staging), write_staging(df, staging)),
    )
    monkeypatch.setattr(
        sink, "_reconcile_leg",
        lambda st, target, *a: (reconciled.append(target), reconcile_leg(st, target, *a)),
    )
    rep.step(_bronze(spark, [
        make_event(items, "update", lsn=1, row={"id": 1, "v": "patched"}, old_key={"id": 1}),
    ]), maintainers=[sink], batch_id="items-only")
    assert staged == ["items_staging"] and reconciled == ["items"]
    assert _table(spark, url, "SELECT id, v FROM items")[1] == "patched"
    assert _table(spark, url, "SELECT id, bal FROM accounts") == accounts_before
    assert sink._ledger_has("items-only")

"""Replayer end-to-end: DML apply + mid-batch DDL barrier + store evolution."""

from __future__ import annotations

import json

import pytest

from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
from connemara_spark.events import BRONZE_SCHEMA
from connemara_spark.pipeline import MemoryStore, ParquetStore, Replayer
from connemara_spark.testing import EPOCH, make_event

SPEC = TableSpec(
    database="db1",
    schema="public",
    table="items",
    columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
    pk_cols=["id"],
)


def ddl_event(lsn, query, database="db1"):
    """An F2 DDL event: insert on public.sql_ddl_statements."""
    import datetime
    import json as j

    payload = {
        "kind": "insert",
        "schema": "public",
        "table": "sql_ddl_statements",
        "columnnames": ["id", "current_query", "search_path", "command_tags"],
        "columnvalues": [str(lsn), query, '"$user", public', "{DDL}"],
    }
    ts = EPOCH + datetime.timedelta(seconds=lsn)
    return {
        "insert_timestamp": ts,
        "database": database,
        "source_slotname": f"slot_{database}",
        "lsn_start": lsn,
        "xid": 1000 + lsn,
        "xid_timestamp": ts,
        "payload": j.dumps(payload),
    }


def bronze_df(spark, rows):
    return spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in rows], schema=BRONZE_SCHEMA
    )


@pytest.fixture()
def engine(spark):
    cat = EngineCatalog()
    cat.register(
        TableSpec(
            database=SPEC.database, schema=SPEC.schema, table=SPEC.table,
            columns=[ColumnSpec(c.name, c.pg_type) for c in SPEC.columns],
            pk_cols=list(SPEC.pk_cols),
        )
    )
    store = MemoryStore(spark)
    rep = Replayer(spark, cat, store)
    return cat, store, rep


def test_dml_only_batch(spark, engine):
    cat, store, rep = engine
    spec = cat.get("db1", "public", "items")
    rows = [
        make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a"}),
        make_event(spec, "insert", lsn=2, row={"id": 2, "v": "b"}),
        make_event(spec, "update", lsn=3, row={"id": 1, "v": "a2"}, old_key={"id": 1}),
        make_event(spec, "delete", lsn=4, old_key={"id": 2}),
    ]
    m = rep.apply_batch(bronze_df(spark, rows))
    assert m.tables_touched == 1 and m.segments == 1
    out = {r["id"]: r["v"] for r in store.read(spec).collect()}
    assert out == {1: "a2"}


def test_ddl_barrier_mid_batch(spark, engine):
    """Insert → ADD COLUMN → insert-with-new-column: the second insert must
    see the evolved schema; the first must not (replay.pl:867-876)."""
    cat, store, rep = engine
    spec = cat.get("db1", "public", "items")
    rows = [
        make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a"}),
        ddl_event(2, "ALTER TABLE public.items ADD COLUMN note text"),
    ]
    m = rep.apply_batch(bronze_df(spark, rows))
    assert m.ddl_executed == 1 and m.segments == 2

    spec2 = cat.get("db1", "public", "items")
    assert spec2.column_names == ["id", "v", "note"]

    rows2 = [
        make_event(spec2, "insert", lsn=3, row={"id": 3, "v": "c", "note": "hi"}),
    ]
    rep.apply_batch(bronze_df(spark, rows2))
    out = {r["id"]: (r["v"], r["note"]) for r in store.read(spec2).collect()}
    assert out == {1: ("a", None), 3: ("c", "hi")}


def test_create_table_then_insert_same_batch(spark, engine):
    cat, store, rep = engine
    new_spec = TableSpec(
        database="db1", schema="public", table="t_new",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("x", "integer")],
        pk_cols=["id"],
    )
    rows = [
        ddl_event(1, "CREATE TABLE public.t_new (id bigint PRIMARY KEY, x integer)"),
        make_event(new_spec, "insert", lsn=2, row={"id": 10, "x": 5}),
    ]
    m = rep.apply_batch(bronze_df(spark, rows))
    assert m.ddl_executed == 1
    got = cat.get("db1", "public", "t_new")
    out = {r["id"]: r["x"] for r in store.read(got).collect()}
    assert out == {10: 5}


def test_skip_ddl_and_temp_table_filter(spark, engine):
    cat, store, rep = engine
    spec = cat.get("db1", "public", "items")
    temp_spec = TableSpec(
        database="db1", schema="public", table="pg_temp_3", columns=list(spec.columns), pk_cols=["id"]
    )
    rows = [
        ddl_event(1, "ALTER TABLE items OWNER TO bob"),
        make_event(temp_spec, "insert", lsn=2, row={"id": 99, "v": "temp"}),
        make_event(spec, "insert", lsn=3, row={"id": 5, "v": "e"}),
    ]
    m = rep.apply_batch(bronze_df(spark, rows))
    assert m.ddl_skipped == 1 and m.ddl_executed == 0
    out = {r["id"] for r in store.read(spec).collect()}
    assert out == {5}


def test_parquet_store_roundtrip(spark, tmp_path, engine):
    cat, _, _ = engine
    spec = cat.get("db1", "public", "items")
    store = ParquetStore(spark, str(tmp_path / "silver"))
    rep = Replayer(spark, cat, store)
    rows = [make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a"})]
    rep.apply_batch(bronze_df(spark, rows))
    rows2 = [make_event(spec, "update", lsn=2, row={"id": 1, "v": "b"}, old_key={"id": 1})]
    rep.apply_batch(bronze_df(spark, rows2))
    out = {r["id"]: r["v"] for r in store.read(spec).collect()}
    assert out == {1: "b"}
    # versioned dirs: v1 + v2 present, CURRENT points at v2
    assert store.current_version(spec.target_name) == 2


def _spec_for(db):
    return TableSpec(
        database=db, schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
        pk_cols=["id"],
    )


def _ins(spec, lsn, id_, v):
    return make_event(spec, "insert", lsn=lsn, row={"id": id_, "v": v})


def test_multi_source_consolidation(spark):
    """The reference's raison d'être (docs/index.rst:9-12): N source
    databases land in one store, same-named tables kept apart by the
    <db>_<schema> namespace map."""
    cat = EngineCatalog()
    s1, s2 = _spec_for("db1"), _spec_for("db2")
    cat.register(s1)
    cat.register(s2)
    store = MemoryStore(spark)
    rep = Replayer(spark, cat, store)

    rep.apply_batch(
        bronze_df(
            spark,
            [
                _ins(s1, 1, 1, "from-db1"),
                _ins(s2, 1, 1, "from-db2"),   # same lsn, same pk, other source
                _ins(s2, 2, 2, "db2-only"),
            ],
        )
    )

    t1 = {r.id: r.v for r in store.read(s1).collect()}
    t2 = {r.id: r.v for r in store.read(s2).collect()}
    assert t1 == {1: "from-db1"}
    assert t2 == {1: "from-db2", 2: "db2-only"}
    assert s1.target_name == "db1_public.items" and s2.target_name == "db2_public.items"


def test_slot_restriction_filters(spark):
    """F2 (replay.pl:726-736): excluded databases are dropped unless their
    (database, slot) pair is explicitly allowed."""
    cat = EngineCatalog()
    s1, s2 = _spec_for("db1"), _spec_for("db2")
    cat.register(s1)
    cat.register(s2)
    store = MemoryStore(spark)
    rep = Replayer(
        spark, cat, store,
        excluded_databases=["db2"],
        allowed_slots=[("db2", "slot_db2_extra")],
    )

    ev_allowed = _ins(s2, 3, 7, "via-allowed-slot")
    ev_allowed["source_slotname"] = "slot_db2_extra"
    rep.apply_batch(
        bronze_df(spark, [_ins(s1, 1, 1, "a"), _ins(s2, 2, 6, "blocked"), ev_allowed])
    )

    assert {r.id: r.v for r in store.read(s1).collect()} == {1: "a"}
    assert {r.id: r.v for r in store.read(s2).collect()} == {7: "via-allowed-slot"}


def test_dml_hook_drops_events(spark, engine):
    """D14 fix_object_dml analog: returning falsy drops the table's events."""
    cat, store, _ = engine
    rep = Replayer(spark, cat, store, dml_hook=lambda db, sch, tbl: tbl != "items")
    rep.apply_batch(bronze_df(spark, [_ins(SPEC, 1, 1, "x")]))
    assert store.read(SPEC).count() == 0


def test_ddl_search_path_resolves_unqualified_names(spark):
    """Unqualified DDL object names resolve in the event's search_path (the
    reference applies the rewritten path before replay,
    connemara_rewrite.pm:145-157), not blindly in 'public'."""
    import datetime

    cat = EngineCatalog()
    store = MemoryStore(spark)
    rep = Replayer(spark, cat, store)

    payload = {
        "kind": "insert",
        "schema": "public",
        "table": "sql_ddl_statements",
        "columnnames": ["id", "current_query", "search_path", "command_tags"],
        "columnvalues": ["1", "CREATE TABLE audit_log (id bigint PRIMARY KEY, msg text)",
                         '"$user", audit', "{DDL}"],
    }
    ts = EPOCH + datetime.timedelta(seconds=1)
    row = {
        "insert_timestamp": ts,
        "database": "db1",
        "source_slotname": "slot_db1",
        "lsn_start": 1,
        "xid": 1001,
        "xid_timestamp": ts,
        "payload": json.dumps(payload),
    }
    m = rep.apply_batch(bronze_df(spark, [row]))
    assert m.ddl_executed == 1
    assert cat.maybe_get("db1", "audit", "audit_log") is not None
    assert cat.maybe_get("db1", "public", "audit_log") is None


def test_schema_drift_report(spark):
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.events import BRONZE_SCHEMA, parse_events, schema_drift_report
    from connemara_spark.testing import make_event

    cat = EngineCatalog()
    spec = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
        pk_cols=["id"],
    )
    cat.register(spec)
    cat.register(TableSpec(
        database="db1", schema="public", table="silent",
        columns=[ColumnSpec("id", "bigint")], pk_cols=["id"],
    ))

    rows = [
        make_event(spec, "insert", lsn=10, row={"id": 1, "v": "a"}),
        make_event(spec, "insert", lsn=20, row={"id": 2, "v": "b"}),
    ]
    # inject an unknown column into the second event's payload
    import json as j
    p = j.loads(rows[1]["payload"])
    p["columnnames"].append("ghost")
    p["columnvalues"].append("boo")
    rows[1]["payload"] = j.dumps(p)

    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in rows], schema=BRONZE_SCHEMA
    )
    report = {
        (r["table"], r["column"]): (r["status"], r["n_events"], r["first_lsn"], r["last_lsn"])
        for r in schema_drift_report(parse_events(bronze), cat).collect()
    }
    assert report == {
        ("items", "ghost"): ("unknown", 1, 20, 20),
        ("silent", "id"): ("unobserved", 0, None, None),
    }  # healthy columns (id, v) are omitted


def test_parquet_store_time_travel(spark, tmp_path):
    """Every write leaves a queryable recovery point: read_version returns
    each historical state bit-for-bit; unknown versions fail loudly."""
    import pytest as _pytest

    from connemara_spark.catalog import ColumnSpec, TableSpec
    from connemara_spark.pipeline import ParquetStore

    spec = TableSpec(
        database="db1", schema="public", table="tt",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
        pk_cols=["id"],
    )
    store = ParquetStore(spark, str(tmp_path / "silver"))
    store.write(spec, spark.createDataFrame([(1, "a")], "id long, v string"))
    store.write(spec, spark.createDataFrame([(1, "a2"), (2, "b")], "id long, v string"))
    assert store.versions(spec) == [1, 2]
    assert sorted(map(tuple, store.read_version(spec, 1).collect())) == [(1, "a")]
    assert sorted(map(tuple, store.read_version(spec, 2).collect())) == [(1, "a2"), (2, "b")]
    assert sorted(map(tuple, store.read(spec).collect())) == [(1, "a2"), (2, "b")]
    with _pytest.raises(ValueError, match="no committed version 9"):
        store.read_version(spec, 9)
    # an orphaned directory from a crashed write (CURRENT never advanced)
    # is NOT a commit: invisible to versions(), unreadable via read_version
    import os, shutil
    v2 = os.path.join(str(tmp_path / "silver"), spec.target_name, "v000002")
    v3 = os.path.join(str(tmp_path / "silver"), spec.target_name, "v000003")
    shutil.copytree(v2, v3)
    assert store.versions(spec) == [1, 2]
    with _pytest.raises(ValueError, match="no committed version 3"):
        store.read_version(spec, 3)


def test_parquet_store_gc_versions(spark, tmp_path):
    """GC drops old recovery points (completing forget_keys erasure) but
    never CURRENT; orphan dirs below CURRENT are swept too."""
    from connemara_spark.catalog import ColumnSpec, TableSpec
    from connemara_spark.pipeline import ParquetStore

    spec = TableSpec(database="db1", schema="public", table="gc",
                     columns=[ColumnSpec("id", "bigint")], pk_cols=["id"])
    store = ParquetStore(spark, str(tmp_path / "silver"))
    for i in range(4):
        store.write(spec, spark.createDataFrame([(i,)], "id long"))
    assert store.versions(spec) == [1, 2, 3, 4]
    removed = store.gc_versions(spec, keep_last=2)
    assert removed == [1, 2]
    assert store.versions(spec) == [3, 4]
    assert [r["id"] for r in store.read(spec).collect()] == [3]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_last"):
        store.gc_versions(spec, keep_last=0)

    # min-age guard: directories younger than the window are not eligible
    # (bounds the race against in-flight consumers pinned to old versions)
    store.write(spec, spark.createDataFrame([(9,)], "id long"))
    assert store.gc_versions(spec, keep_last=1, min_age_seconds=3600) == []
    assert store.versions(spec) == [3, 4, 5]
    assert store.gc_versions(spec, keep_last=1) == [3, 4]


def test_pipeline_queries_leave_no_scratch_dirs(spark, sf_dir):
    """The two multi-batch pipeline registry queries allocate a scratch
    store per invocation; repeated invocation (parity suites, bench
    loops) must leave no disk growth and no lingering cached bronze —
    the result survives cleanup via its eager localCheckpoint."""
    import glob
    import tempfile

    from connemara_spark.queries import REGISTRY

    tmp = tempfile.gettempdir()

    def scratch():
        return set(glob.glob(f"{tmp}/connemara_bucketed_*")) | set(
            glob.glob(f"{tmp}/connemara_aggview_*")
        )

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    before = scratch()
    cache_was_empty = cache_mgr.isEmpty()
    for name in ("cdc_apply_customer_bucketed", "cdc_maintained_agg_view"):
        df = REGISTRY[name].fn(spark, sf_dir)
        assert scratch() == before  # cleaned up BEFORE the caller collects
        assert df.count() > 0  # result readable after the store is gone
    # and the bronze/parsed caches were released: these queries add no
    # lingering entry to the CacheManager (other suites' caches tolerated)
    if cache_was_empty:
        assert cache_mgr.isEmpty()


@pytest.mark.parametrize("store_kind", ["parquet", "bucket"])
def test_evolve_rename_column_preserves_values(spark, tmp_path, store_kind):
    """The DDL executor mutates the catalog spec IN PLACE before calling the
    store's evolve hook, and both stores read parquet with an explicit spec
    schema (matched by name). evolve_rename_column must therefore read the
    still-old-named files under the PRE-rename schema — a post-rename-schema
    read silently null-fills the renamed column (the r11 regression this
    pins)."""
    from connemara_spark.stores import BucketStore

    spec = TableSpec(
        database="db1",
        schema="public",
        table="items_rn",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
        pk_cols=["id"],
    )
    store = (
        ParquetStore(spark, str(tmp_path))
        if store_kind == "parquet"
        else BucketStore(spark, str(tmp_path), n_buckets=4)
    )
    store.write(spec, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))

    # the executor's order: catalog spec mutates first, then the store hook
    for c in spec.columns:
        if c.name == "v":
            c.name = "w"
    store.evolve_rename_column(spec, "v", "w")

    got = {r["id"]: r["w"] for r in store.read(spec).collect()}
    assert got == {1: "a", 2: "b"}


def test_batch_summaries_equal_per_batch(spark, tmp_path):
    """batch_summaries (all batches' summaries in one job) must agree with
    _batch_summary over each batch's slice — counts, touched-bucket sets
    (BucketStore pricing leg) and DDL barrier rows alike."""
    from pyspark.sql import functions as F

    from connemara_spark.stores import BucketStore
    from connemara_spark.testing import make_event

    spec = TableSpec(
        database=SPEC.database, schema=SPEC.schema, table=SPEC.table,
        columns=[ColumnSpec(c.name, c.pg_type) for c in SPEC.columns],
        pk_cols=list(SPEC.pk_cols),
    )
    cat = EngineCatalog()
    cat.register(spec)
    store = BucketStore(spark, str(tmp_path / "bstore"), n_buckets=4)
    store.write(spec, spark.createDataFrame([(1, "a")], "id long, v string"))
    rep = Replayer(spark, cat, store)
    rows = [
        make_event(spec, "insert", lsn=1, row={"id": 2, "v": "b"}),
        make_event(spec, "insert", lsn=2, row={"id": 3, "v": "c"}),
        make_event(spec, "update", lsn=3, row={"id": 1, "v": "a2"}, old_key={"id": 1}),
        ddl_event(5, "ALTER TABLE public.items ADD COLUMN note text"),
        make_event(spec, "delete", lsn=6, old_key={"id": 3}),
        make_event(spec, "insert", lsn=7, row={"id": 9, "v": "z"}),
    ]
    parsed = rep.parse_batch(bronze_df(spark, rows)).localCheckpoint()
    step = 4  # batch 0: lsn 1-4, batch 1: lsn 5-8
    bix = F.expr("int((lsn_start - 1) div 4)")
    batched = rep.batch_summaries(parsed, bix)
    assert set(batched) == {0, 1}
    for i in (0, 1):
        lo_b, hi_b = 1 + i * step, 1 + (i + 1) * step
        sl = parsed.filter(
            (F.col("lsn_start") >= lo_b) & (F.col("lsn_start") < hi_b)
        )
        ddl_rows, counts, buckets = rep._batch_summary(sl)
        b_ddl, b_counts, b_buckets = batched[i]
        assert b_counts == counts
        assert b_buckets == buckets
        assert [
            (r["lsn_start"], r["columnvalues"]) for r in b_ddl
        ] == [(r["lsn_start"], r["columnvalues"]) for r in ddl_rows]
    # an lsn range with no events is simply absent; the empty summary
    # matches _batch_summary over an empty slice
    assert rep.batch_summaries(parsed.filter(F.lit(False)), F.lit(0)) == {}
    assert rep.empty_summary() == rep._batch_summary(parsed.filter(F.lit(False)))


def _sales_engine(spark, tmp_path):
    spec = TableSpec(
        database="db1", schema="public", table="sales",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "text"),
                 ColumnSpec("amount", "double precision")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "sales")
    store = ParquetStore(spark, str(tmp_path / "silver"))
    return spec, store, Replayer(spark, cat, store)


def test_step_concurrent_patches_do_not_leak_session_config(spark, tmp_path):
    """step patches its maintainers concurrently inside ONE static-plan
    scope: every patch sees AQE off, and afterwards the session's AQE and
    shuffle-partition settings equal their values before the step —
    whether the patches pass or one of them raises."""
    from connemara_spark.operators.ivm import MaintainedMinMaxView, MaintainedTopKView

    spec, store, rep = _sales_engine(spark, tmp_path)
    mm = MaintainedMinMaxView(
        spark, store, spec, group_col="grp", val_col="amount",
        view_dir=str(tmp_path / "mm"),
    )
    tk = MaintainedTopKView(
        spark, store, spec, group_col="grp", val_col="amount",
        k=2, view_dir=str(tmp_path / "tk"),
    )
    seen = []

    class Probe:
        def before_apply(self, parsed, buckets=None):
            pass

        def after_apply(self, batch_id=None):
            seen.append(spark.conf.get("spark.sql.adaptive.enabled"))

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    assert before["spark.sql.adaptive.enabled"] == "true"

    def batch(lsn0):
        return bronze_df(spark, [
            make_event(spec, "insert", lsn=lsn0 + i,
                       row={"id": lsn0 + i, "grp": "ab"[i % 2], "amount": float(i)})
            for i in range(4)
        ])

    rep.step(batch(1), maintainers=[mm, tk, Probe()])
    assert seen == ["false"]
    assert {k: spark.conf.get(k) for k in keys} == before
    assert {r["grp"] for r in mm.read_view().collect()} == {"a", "b"}

    def boom(batch_id=None):
        raise RuntimeError("injected patch failure")

    tk.after_apply = boom
    with pytest.raises(RuntimeError, match="injected patch failure"):
        rep.step(batch(10), maintainers=[mm, tk])
    assert {k: spark.conf.get(k) for k in keys} == before


def test_step_reports_phase_wall_times(spark, tmp_path):
    """BatchMetrics.phase_s carries each step's wall seconds per phase:
    the summary, the fold and the (concurrent) patch, each measured
    between the step's phase boundaries — so they cover the patch a slow
    maintainer spends and never sum past the step's own wall time. A step
    handed its summary by ``replay`` reports the same phases."""
    import time

    from pyspark.sql import functions as F

    spec, store, rep = _sales_engine(spark, tmp_path)

    class Slow:
        def before_apply(self, parsed, buckets=None):
            pass

        def after_apply(self, batch_id=None):
            time.sleep(0.3)

    bronze = bronze_df(spark, [
        make_event(spec, "insert", lsn=i, row={"id": i, "grp": "a", "amount": 1.0})
        for i in range(1, 4)
    ])
    t0 = time.monotonic()
    m = rep.step(bronze, maintainers=[Slow()])
    wall = time.monotonic() - t0
    assert set(m.phase_s) == {"summary", "fold", "patch"}
    assert m.phase_s["summary"] > 0 and m.phase_s["fold"] > 0
    assert m.phase_s["patch"] >= 0.3
    assert sum(m.phase_s.values()) <= wall

    (r,) = rep.replay(bronze_df(spark, [
        make_event(spec, "insert", lsn=9, row={"id": 9, "grp": "b", "amount": 2.0})
    ]), F.lit(0), 1)
    assert set(r.phase_s) == {"summary", "fold", "patch"}
    assert r.phase_s["patch"] < 0.3  # no maintainers


def test_replay_rejects_batch_index_outside_range(spark, engine):
    """Rows indexed outside 0..n_batches-1 would never be applied: replay
    fails loudly instead of dropping them."""
    from pyspark.sql import functions as F

    cat, store, rep = engine
    spec = cat.get("db1", "public", "items")
    bronze = bronze_df(spark, [
        make_event(spec, "insert", lsn=lsn, row={"id": lsn, "v": "x"})
        for lsn in (1, 2, 3)
    ])
    with pytest.raises(ValueError, match="outside 0..1"):
        rep.replay(bronze, F.col("lsn_start").cast("int") - 1, 2)
    metrics = rep.replay(bronze, (F.col("lsn_start") > 1).cast("int"), 2)
    assert [m.tables_touched for m in metrics] == [1, 1]
    assert sorted(r["id"] for r in store.read(spec).collect()) == [1, 2, 3]


def test_replay_slices_compile_batch_invariant_code(spark, tmp_path):
    """``replay`` slices every batch with the same generated code: from
    the third slice on, a step compiles at most one class (0 measured;
    ``BatchMetrics.compiles``) although each slice has its own batch
    index, and the store ends equal to the last write per key."""
    from pyspark.sql import functions as F

    spec, store, rep = _sales_engine(spark, tmp_path)
    events = [
        make_event(spec, "insert" if lsn <= 8 else "update", lsn=lsn,
                   row={"id": lsn % 8, "grp": "ab"[lsn % 2], "amount": float(lsn)},
                   **({} if lsn <= 8 else {"old_key": {"id": lsn % 8}}))
        for lsn in range(1, 49)
    ]
    metrics = rep.replay(
        bronze_df(spark, events), F.expr("int((lsn_start - 1) div 8)"), 6,
    )
    assert max(m.compiles for m in metrics[2:]) <= 1, [m.compiles for m in metrics]
    want = {lsn % 8: float(lsn) for lsn in range(41, 49)}
    assert {r["id"]: r["amount"] for r in store.read(spec).collect()} == want


def test_no_hand_rolled_replay_loops():
    """The per-batch protocol has ONE implementation (Replayer.step /
    Replayer.replay): the registry and the streaming driver must not
    drive its phases themselves."""
    import pathlib
    import re

    import connemara_spark.streaming.driver as driver

    root = pathlib.Path(__file__).resolve().parents[1] / "connemara_spark"
    banned = re.compile(r"apply_batch\(|batch_summaries\(|\.before_apply\(|\.after_apply\(")
    for rel in ("queries.py", "streaming/driver.py"):
        src = (root / rel).read_text()
        hits = [
            f"{rel}:{n}: {line.strip()}"
            for n, line in enumerate(src.splitlines(), 1)
            if banned.search(line)
        ]
        assert not hits, "drive batches through Replayer.step/replay:\n" + "\n".join(hits)
    assert not hasattr(driver, "_accepts_batch_id")


def test_scoped_conf_restores_set_and_unsets_never_set_keys(spark):
    """``scoped_conf`` is the one way to state-scope session config: on
    exit — normal or raising — a key set before gets its value back and a
    key never set is unset again (not pinned to a default)."""
    from connemara_spark.session import scoped_conf

    set_key = "spark.sql.shuffle.partitions"
    new_key = "spark.connemara.scoped_conf_probe"
    before = spark.conf.get(set_key)
    assert spark.conf.get(new_key, None) is None

    class Boom(Exception):
        pass

    for raising in (False, True):
        try:
            with scoped_conf(spark, {set_key: "7", new_key: "x"}):
                assert spark.conf.get(set_key) == "7"
                assert spark.conf.get(new_key) == "x"
                if raising:
                    raise Boom
        except Boom:
            assert raising
        assert spark.conf.get(set_key) == before
        assert spark.conf.get(new_key, None) is None


def test_codegen_cache_check_and_compile_counter(spark, caplog):
    """``get_spark``'s session holds the engine's codegen cache size. A
    session built elsewhere with Spark's default of 100 entries (a static
    conf ``get_spark`` cannot change) fails the check with ONE warning
    that names the per-batch recompile cost. ``codegen_compiles`` counts
    a class no earlier query generated (a long literal is compiled in)."""
    import logging
    import uuid

    from pyspark.sql import functions as F

    from connemara_spark import session

    before = session.codegen_compiles(spark)
    spark.range(4).select((F.col("id") + F.lit(uuid.uuid4().int >> 65)).alias("x")).collect()
    assert session.codegen_compiles(spark) > before

    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == session._CODEGEN_CACHE_ENTRIES

    class Conf:
        def get(self, key):
            assert key == "spark.sql.codegen.cache.maxEntries"
            return "100"

    class BareSession:
        conf = Conf()

    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.check_codegen_cache(spark)
        assert caplog.records == []
        assert not session.check_codegen_cache(BareSession())
    [rec] = caplog.records
    assert rec.levelno == logging.WARNING
    assert "maxEntries=100" in rec.getMessage()
    assert "recompiles" in rec.getMessage()


def test_one_versioned_dir_commit_and_one_view_lifecycle():
    """The CURRENT-pointer protocol has ONE implementation
    (``stores.VersionedDir``) and the maintained views ONE lifecycle
    (``ivm.MaintainedView``): no module outside ``stores.py`` names the
    CURRENT file or formats a ``v{...:06d}`` version directory, and no
    view class redefines a lifecycle method."""
    import ast
    import pathlib
    from collections import Counter

    from connemara_spark.operators import ivm

    root = pathlib.Path(__file__).resolve().parents[1] / "connemara_spark"
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "stores.py":
            continue
        rel = path.relative_to(root)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value.split("/")[-1] in ("CURRENT", "CURRENT.tmp"):
                    hits.append(f"{rel}:{node.lineno}: names the CURRENT file")
            if isinstance(node, ast.JoinedStr):
                for prev, part in zip(node.values, node.values[1:]):
                    if (
                        isinstance(prev, ast.Constant)
                        and str(prev.value).endswith("v")
                        and isinstance(part, ast.FormattedValue)
                        and part.format_spec is not None
                        and "06d" in ast.unparse(part.format_spec)
                    ):
                        hits.append(f"{rel}:{node.lineno}: formats a version dir")
    assert not hits, "go through stores.VersionedDir:\n" + "\n".join(hits)

    lifecycle = {"_meta", "read_view", "check_schema", "gc_view", "before_apply", "after_apply"}
    views = {
        ivm.MaintainedAggView, ivm.MaintainedJoinView, ivm.MaintainedTwoTableJoinView,
        ivm.MaintainedMinMaxView, ivm.MaintainedTopKView, ivm.MaintainedDistinctCountView,
    }
    todo, subclasses = [ivm.MaintainedView], set()
    while todo:
        for sub in todo.pop().__subclasses__():
            subclasses.add(sub)
            todo.append(sub)
    assert views <= subclasses
    for cls in subclasses:
        assert not lifecycle & set(vars(cls)), f"{cls.__name__} redefines {lifecycle & set(vars(cls))}"
    defs = Counter(
        n.name
        for n in ast.walk(ast.parse(pathlib.Path(ivm.__file__).read_text()))
        if isinstance(n, ast.FunctionDef)
    )
    assert {name: defs[name] for name in lifecycle} == dict.fromkeys(lifecycle, 1)


def test_one_keyed_apply_fold():
    """The apply folds share ONE keyed join (``apply._keyed_join``): the
    snapshot staging and the touched-key pruning each have exactly one
    call site in the package, so no fold variant re-spells the preamble."""
    import ast
    import pathlib
    from collections import Counter

    root = pathlib.Path(__file__).resolve().parents[1] / "connemara_spark"
    names = ("_stage_snapshot", "_prune_to_keys")
    sites = Counter()
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in names:
                    sites[name] += 1
    assert {n: sites[n] for n in names} == dict.fromkeys(names, 1)

"""BucketStore: O(touched-buckets) partial rewrite, manifest snapshots,
reference-counted GC, Replayer integration equivalence."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
from connemara_spark.events import BRONZE_SCHEMA
from connemara_spark.pipeline import MemoryStore, Replayer
from connemara_spark.stores import BucketStore
from connemara_spark.testing import make_event, random_event_stream

SPEC = TableSpec(
    database="db1", schema="public", table="items",
    columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
    pk_cols=["id"],
)


def _catalog():
    cat = EngineCatalog()
    cat.register(
        TableSpec(
            database=SPEC.database, schema=SPEC.schema, table=SPEC.table,
            columns=[ColumnSpec(c.name, c.pg_type) for c in SPEC.columns],
            pk_cols=list(SPEC.pk_cols),
        )
    )
    return cat


def _bronze(spark, events):
    return spark.createDataFrame(
        [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
        schema=BRONZE_SCHEMA,
    )


def test_roundtrip_and_partial_write_scope(spark, tmp_path):
    """write_partial rewrites ONLY the touched buckets' directories; the
    committed version still reads as a complete snapshot."""
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "id long, v string")
    store.write(SPEC, base)
    assert store.current_version(SPEC.target_name) == 1

    # patch keys 1 and 2 through the partial path
    keys = spark.createDataFrame([(1,), (2,)], "id long")
    touched = store.buckets_of(SPEC, keys)
    slice_df = store.read_for_keys(SPEC, keys)
    patched = slice_df.withColumn(
        "v", F.when(F.col("id").isin(1, 2), F.lit("patched")).otherwise(F.col("v"))
    )
    store.write_partial(SPEC, patched, buckets=touched)

    # physical: v2 holds only the touched bucket dirs
    v2 = os.path.join(str(tmp_path / "s"), SPEC.target_name, "v000002")
    got_dirs = sorted(int(e[1:]) for e in os.listdir(v2) if e.startswith("b"))
    assert got_dirs == touched and len(touched) < 8

    # logical: complete table, with the patch applied
    rows = {r["id"]: r["v"] for r in store.read(SPEC).collect()}
    assert len(rows) == 100
    assert rows[1] == rows[2] == "patched" and rows[50] == "v50"

    # time travel: v1 still shows the pre-patch values
    old = {r["id"]: r["v"] for r in store.read_version(SPEC, 1).collect()}
    assert old[1] == "v1"


def test_read_buckets_touches_only_selected_paths(spark, tmp_path):
    """Bucket reads are pure path selection: the scan's file list contains
    only the requested buckets' directories."""
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(200)], "id long, v string")
    store.write(SPEC, base)
    keys = spark.createDataFrame([(7,)], "id long")
    (b,) = store.buckets_of(SPEC, keys)
    df = store.read_buckets(SPEC, [b])
    files = df.inputFiles()
    assert files and all(f"b{b:05d}" in f for f in files)
    # the slice is the complete per-key world for its bucket: folding on it
    # can never lose a row of that bucket
    want = base.withColumn("__b", store.bucket_expr(SPEC)).filter(F.col("__b") == b)
    assert df.count() == want.count()


def test_deleted_bucket_becomes_empty(spark, tmp_path):
    """A partial write whose fold emptied a bucket commits an absent
    directory — readers see zero rows for it, not a stale carry-forward."""
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=4)
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    store.write(SPEC, base)
    keys = spark.createDataFrame([(1,), (2,)], "id long")
    touched = store.buckets_of(SPEC, keys)
    empty = spark.createDataFrame([], "id long, v string")
    store.write_partial(SPEC, empty, buckets=touched)
    assert store.read(SPEC).count() == 0


def test_partial_write_rejects_stray_buckets(spark, tmp_path):
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    store.write(SPEC, spark.createDataFrame([(1, "a")], "id long, v string"))
    keys = spark.createDataFrame([(1,)], "id long")
    stray = spark.createDataFrame([(i, "x") for i in range(50)], "id long, v string")
    with pytest.raises(ValueError, match="outside the touched buckets"):
        store.write_partial(SPEC, stray, keys=keys)


def test_crash_leaves_no_committed_trace(spark, tmp_path):
    """A version directory without a manifest/CURRENT swap (simulated
    crash) is invisible to readers and to versions()."""
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=4)
    store.write(SPEC, spark.createDataFrame([(1, "a")], "id long, v string"))
    # simulate a crashed write: data lands, commit never happens
    store._write_buckets(SPEC, spark.createDataFrame([(2, "b")], "id long, v string"), 2, 4)
    assert store.versions(SPEC) == [1]
    assert {r["id"] for r in store.read(SPEC).collect()} == {1}
    # next successful write claims the slot cleanly
    store.write(SPEC, spark.createDataFrame([(3, "c")], "id long, v string"))
    assert store.current_version(SPEC.target_name) == 2
    assert {r["id"] for r in store.read(SPEC).collect()} == {3}


def test_gc_is_reference_counted(spark, tmp_path):
    """An old version directory survives GC while any retained manifest
    still references one of its buckets, and dies when the last reference
    is rewritten away."""
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=4)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string")
    store.write(SPEC, base)  # v1: all buckets
    keys = spark.createDataFrame([(1,)], "id long")
    touched = store.buckets_of(SPEC, keys)
    patched = store.read_for_keys(SPEC, keys).withColumn(
        "v", F.when(F.col("id") == 1, F.lit("p")).otherwise(F.col("v"))
    )
    store.write_partial(SPEC, patched, buckets=touched)  # v2: one bucket

    # v2's manifest still points most buckets at v1 -> v1's DIRECTORY must
    # survive as a bucket host, but it is demoted from the readable-snapshot
    # list (its own references are no longer GC-protected, so read_version
    # refuses it instead of risking silently partial data)
    assert store.gc_versions(SPEC, keep_last=1) == []
    assert os.path.isdir(os.path.join(str(tmp_path / "s"), SPEC.target_name, "v000001"))
    assert store.versions(SPEC) == [2]
    with pytest.raises(ValueError, match="bucket host"):
        store.read_version(SPEC, 1)
    rows = {r["id"]: r["v"] for r in store.read(SPEC).collect()}
    assert rows[1] == "p" and len(rows) == 40

    # full rewrite makes v3 self-contained -> v1 (demoted host) and v2
    # become unreferenced and are physically removed
    store.write(SPEC, store.read(SPEC))
    assert store.gc_versions(SPEC, keep_last=1) == [1, 2]
    assert store.versions(SPEC) == [3]
    rows = {r["id"]: r["v"] for r in store.read(SPEC).collect()}
    assert rows[1] == "p" and len(rows) == 40


def test_replayer_partial_apply_matches_full(spark, tmp_path):
    """The Replayer through a BucketStore (delta-scoped reads/writes)
    produces bit-identical table state to the MemoryStore full path over a
    randomized mixed stream, across multiple batches."""
    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    bstore = BucketStore(spark, str(tmp_path / "b"), n_buckets=64)
    mstore = MemoryStore(spark)
    base = [{"id": i, "v": f"v{i}"} for i in range(50)]
    init = spark.createDataFrame([(r["id"], r["v"]) for r in base], spec.spark_schema())
    bstore.write(spec, init)
    mstore.write(spec, init)
    rep_b = Replayer(spark, cat, bstore)
    rep_m = Replayer(spark, _catalog(), mstore)

    events = random_event_stream(spec, base, n_events=120, seed=11)
    for lo in range(0, 120, 40):  # three batches
        b = _bronze(spark, events[lo:lo + 40])
        rep_b.apply_batch(b)
        rep_m.apply_batch(b)
        got = sorted(map(tuple, bstore.read(spec).collect()))
        want = sorted(map(tuple, mstore.read(spec).collect()))
        assert got == want
    # three partial commits happened (plus the seed write)
    assert bstore.current_version(spec.target_name) == 4
    # and none of them was a full rewrite
    tdir = os.path.join(str(tmp_path / "b"), spec.target_name)
    for v in (2, 3, 4):
        bdirs = [e for e in os.listdir(os.path.join(tdir, f"v{v:06d}")) if e.startswith("b")]
        assert 0 < len(bdirs) < 64


def test_pk_change_lands_in_both_buckets(spark, tmp_path):
    """A PK-change update touches BOTH the old and new key's buckets: the
    old row disappears from its bucket, the new row appears in the
    other."""
    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    store.write(spec, spark.createDataFrame([(1, "a"), (2, "b")], spec.spark_schema()))
    rep = Replayer(spark, cat, store)
    rep.apply_batch(_bronze(spark, [
        make_event(spec, "update", lsn=1, row={"id": 9, "v": "moved"}, old_key={"id": 1}),
    ]))
    rows = {r["id"]: r["v"] for r in store.read(spec).collect()}
    assert rows == {9: "moved", 2: "b"}


def test_schema_evolution_full_rewrite(spark, tmp_path):
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=4)
    store.write(SPEC, spark.createDataFrame([(1, "a")], "id long, v string"))
    from pyspark.sql import types as T

    store.evolve_add_column(SPEC, "note", T.StringType())
    df = store.read_version(SPEC, 2) if False else None  # evolution committed as v2
    man = store._manifest(SPEC.target_name, store.current_version(SPEC.target_name))
    # self-contained version: every NON-EMPTY bucket is hosted by v2;
    # empty buckets are recorded as null, never as a dirless host reference
    hosts = set(man["buckets"].values())
    assert hosts - {None} == {2} and len(man["buckets"]) == 4
    # reading via an evolved spec sees the new column
    evolved = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text"),
                 ColumnSpec("note", "text")],
        pk_cols=["id"],
    )
    rows = store.read(evolved).collect()
    assert rows[0]["note"] is None


def test_table_bucket_count_is_manifest_authoritative(spark, tmp_path):
    """The manifest's bucket count governs every read and write — a store
    OBJECT configured with a different default neither corrupts nor
    rejects an existing table (pre-r7 this raised; with per-table
    ``rebucket`` the per-table manifest is the single source of truth and
    the store-level default only seeds tables that do not exist yet)."""
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=4)
    store.write(SPEC, spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id long, v string"))
    other = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    assert other.bucket_count(SPEC.target_name) == 4
    keys = spark.createDataFrame([(1,)], "id long")
    bks = other.buckets_of(SPEC, keys)
    assert bks and all(0 <= b < 4 for b in bks)
    patched = other.read_for_keys(SPEC, keys).withColumn(
        "v", F.when(F.col("id") == 1, F.lit("p")).otherwise(F.col("v"))
    )
    other.write_partial(SPEC, patched, buckets=bks)
    m = other._manifest(SPEC.target_name, other.current_version(SPEC.target_name))
    assert m["n_buckets"] == 4  # the write stayed in the table's id space
    rows = {r["id"]: r["v"] for r in other.read(SPEC).collect()}
    assert rows[1] == "p" and len(rows) == 20
    with pytest.raises(ValueError, match="n_buckets"):
        BucketStore(spark, str(tmp_path / "x"), n_buckets=0)


def test_streaming_replayer_over_bucket_store(spark, tmp_path):
    """Full wal_spool streaming path writing through BucketStore: every
    microbatch commits a partial version; state matches the events."""
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer

    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=16)
    store.write(spec, spark.createDataFrame([(1, "a"), (2, "b")], spec.spark_schema()))
    sr = StreamingReplayer(
        spark, cat, store,
        landing_dir=str(tmp_path / "spool"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        landing_format="wal_spool",
    )
    write_segment(str(tmp_path / "spool"), [dict(e) for e in [
        make_event(spec, "update", lsn=1, row={"id": 1, "v": "a2"}, old_key={"id": 1}),
        make_event(spec, "insert", lsn=2, row={"id": 3, "v": "c"}),
    ]], "seg-001")
    sr.run_until_drained()
    assert {r["id"]: r["v"] for r in store.read(spec).collect()} == {1: "a2", 2: "b", 3: "c"}

    write_segment(str(tmp_path / "spool"), [dict(e) for e in [
        make_event(spec, "delete", lsn=3, old_key={"id": 2}),
    ]], "seg-002")
    sr.run_until_drained()
    assert {r["id"]: r["v"] for r in store.read(spec).collect()} == {1: "a2", 3: "c"}
    # each drained batch committed a version; all partial after the seed
    assert store.current_version(spec.target_name) == 3


def test_forget_keys_partial_and_compact(spark, tmp_path):
    """PK-keyed erasure through BucketStore rewrites only the touched
    buckets; compact() then makes the chain GC-able while preserving the
    erased state."""
    from connemara_spark.ops import forget_keys

    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=16)
    store.write(spec, spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], spec.spark_schema()))

    reports = forget_keys(store, [spec], "id", [5, 6],
                          tombstone_path=str(tmp_path / "tomb.jsonl"))
    assert reports[0].rows_removed == 2
    v2 = os.path.join(str(tmp_path / "s"), spec.target_name, "v000002")
    bdirs = [e for e in os.listdir(v2) if e.startswith("b")]
    assert 0 < len(bdirs) < 16  # partial, not a full rewrite
    ids = {r["id"] for r in store.read(spec).collect()}
    assert 5 not in ids and 6 not in ids and len(ids) == 62
    # erased rows persist in v1 until GC — v1 still referenced (partial)
    assert store.gc_versions(spec, keep_last=1) == []
    v = store.compact(spec)
    assert store.gc_versions(spec, keep_last=1) == [1, 2]
    assert store.current_version(spec.target_name) == v
    assert {r["id"] for r in store.read(spec).collect()} == ids


def test_maintained_agg_view_over_bucket_store(spark, tmp_path):
    """MaintainedAggView's version-anchored recovery protocol composes
    with BucketStore (read_version resolves the old manifest)."""
    from connemara_spark.operators.ivm import MaintainedAggView
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec

    spec = TableSpec(
        database="db1", schema="public", table="sales",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "text"),
                 ColumnSpec("amount", "double precision")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "sales")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    rep = Replayer(spark, cat, store)
    view = MaintainedAggView(
        spark, store, spec, group_col="grp", sum_col="amount",
        view_dir=str(tmp_path / "aggview"),
    )

    def run_batch(events):
        rep.step(_bronze(spark, events), maintainers=[view])

    run_batch([
        make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 4.0}),
        make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "a", "amount": 6.0}),
    ])
    run_batch([
        make_event(spec, "update", lsn=3, row={"id": 2, "grp": "b", "amount": 7.0}, old_key={"id": 2}),
    ])
    got = {r["grp"]: (r["n_rows"], float(r["total"])) for r in view.read_view().collect()}
    assert got == {"a": (1, 4.0), "b": (1, 7.0)}

    # steady state exercises the bucket-pruned delta path (version > 0 +
    # BucketStore): a third batch moving one key still patches correctly
    run_batch([
        make_event(spec, "insert", lsn=4, row={"id": 9, "grp": "c", "amount": 2.5}),
        make_event(spec, "delete", lsn=5, old_key={"id": 1}),
    ])
    got = {r["grp"]: (r["n_rows"], float(r["total"])) for r in view.read_view().collect()}
    assert got == {"b": (1, 7.0), "c": (1, 2.5)}

    # the pruned time-travel read lists ONLY the requested buckets' paths
    keys = spark.createDataFrame([(9,)], "id long")
    bks = store.buckets_of(spec, keys)
    pruned = store.read_version(
        spec, store.current_version(spec.target_name), buckets=bks
    )
    assert pruned.inputFiles() and all(
        any(f"b{b:05d}" in f for b in bks) for f in pruned.inputFiles()
    )


def test_missing_host_dir_raises_not_partial(spark, tmp_path):
    """A manifest referencing a bucket host whose directory is gone
    (corruption / external deletion) must RAISE — returning the remaining
    paths would be a silently partial snapshot. Logically empty buckets
    (null manifest entries) still read as zero rows."""
    import shutil

    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=4)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string")
    store.write(SPEC, base)
    manifest = store._manifest(SPEC.target_name, 1)
    hosted = [b for b, v in manifest["buckets"].items() if v is not None]
    shutil.rmtree(store._bdir(SPEC.target_name, 1, int(hosted[0])))
    with pytest.raises(RuntimeError, match="missing"):
        store.read(SPEC)


def _ddl_event(lsn, query, database="db1"):
    import datetime
    import json as j

    payload = {
        "kind": "insert",
        "schema": "public",
        "table": "sql_ddl_statements",
        "columnnames": ["id", "current_query", "search_path", "command_tags"],
        "columnvalues": [str(lsn), query, '"$user", public', "{DDL}"],
    }
    ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn)
    return {
        "insert_timestamp": ts,
        "database": database,
        "source_slotname": f"slot_{database}",
        "lsn_start": lsn,
        "xid": 1000 + lsn,
        "xid_timestamp": ts,
        "payload": j.dumps(payload),
    }


def test_ddl_barrier_evolves_bucket_store_mid_batch(spark, tmp_path):
    """The ParquetStore DDL-barrier contract holds over BucketStore: an
    ADD COLUMN between two inserts evolves the bucketed table (full
    rewrite — bucket files share one schema per version) and the
    post-barrier insert lands with the new column, all in one batch."""
    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    rep = Replayer(spark, cat, store)
    rows = [
        make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a"}),
        _ddl_event(2, "ALTER TABLE public.items ADD COLUMN note text"),
    ]
    m = rep.apply_batch(_bronze(spark, rows))
    assert m.ddl_executed == 1 and m.segments == 2
    spec2 = cat.get("db1", "public", "items")
    assert spec2.column_names == ["id", "v", "note"]
    rep.apply_batch(_bronze(spark, [
        make_event(spec2, "insert", lsn=3, row={"id": 3, "v": "c", "note": "hi"}),
    ]))
    out = {r["id"]: (r["v"], r["note"]) for r in store.read(spec2).collect()}
    assert out == {1: ("a", None), 3: ("c", "hi")}


def test_maintained_view_survives_unrelated_ddl_and_fails_loudly_on_drop(spark, tmp_path):
    """Mid-stream DDL vs a maintained view, through the streaming driver:
    an ADD COLUMN the view does not project passes and the view stays
    correct; dropping the view's aggregated column raises (fail loudly —
    the pinned spec would otherwise null-fill the dropped column out of
    newer store files and the aggregate would drift silently)."""
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.operators.ivm import MaintainedAggView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer

    spec = TableSpec(
        database="db1", schema="public", table="sales",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "text"),
                 ColumnSpec("amount", "double precision")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "sales")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    view = MaintainedAggView(
        spark, store, spec, group_col="grp", sum_col="amount",
        view_dir=str(tmp_path / "view"),
    )
    sr = StreamingReplayer(
        spark, cat, store,
        landing_dir=str(tmp_path / "spool"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        landing_format="wal_spool",
        maintainers=[view],
    )

    def seg(events, name):
        write_segment(str(tmp_path / "spool"), [dict(e) for e in events], name)

    seg([make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 4.0}),
         make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "b", "amount": 6.0})],
        "seg-001")
    sr.run_until_drained()

    # unrelated ADD COLUMN + more data: view continues, stays correct
    seg([_ddl_event(3, "ALTER TABLE public.sales ADD COLUMN region text"),
         make_event(spec, "insert", lsn=4, row={"id": 5, "grp": "a", "amount": 1.0})],
        "seg-002")
    sr.run_until_drained()
    got = {r["grp"]: (r["n_rows"], float(r["total"])) for r in view.read_view().collect()}
    assert got == {"a": (2, 5.0), "b": (1, 6.0)}

    # dropping the aggregated column must kill the stream loudly
    seg([_ddl_event(5, "ALTER TABLE public.sales DROP COLUMN amount")], "seg-003")
    with pytest.raises(Exception, match="lost column"):
        sr.run_until_drained()


def test_idle_maintenance_compacts_long_chains_only(spark, tmp_path):
    """W10 idle maintenance over a chained store: partial rewrites grow
    the physical version chain; the idle pass leaves short chains alone
    (compaction is a full rewrite — the cost the partial store avoids)
    and compacts + GCs once the chain passes max_chain, preserving data
    and the maintained-view recovery point (keep_last=2)."""
    from connemara_spark.ops import Maintenance

    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string")
    store.write(spec, base)

    def patch_one(i, tag):
        keys = spark.createDataFrame([(i,)], "id long")
        touched = store.buckets_of(spec, keys)
        patched = store.read_for_keys(spec, keys).withColumn(
            "v", F.when(F.col("id") == i, F.lit(tag)).otherwise(F.col("v"))
        )
        store.write_partial(spec, patched, buckets=touched)

    for n in range(6):
        patch_one(n % 5, f"p{n}")
    maint = Maintenance(store, cat, max_chain=10)
    v_healthy = store.current_version(spec.target_name)
    maint.run()  # chain of 7 is healthy — GC bookkeeping only
    assert store.current_version(spec.target_name) == v_healthy  # no rewrite
    assert store.chain_length(spec) <= 7

    for n in range(6, 12):
        patch_one(n % 5, f"p{n}")
    before = store.chain_length(spec)
    assert before > 10  # over threshold -> full compaction this pass
    reports = maint.run(progress={"inputRowsPerSecond": 0.0})
    assert len(reports) == 1 and reports[0].files_before == before
    assert reports[0].action == "compact"
    assert store.current_version(spec.target_name) > v_healthy + 6  # rewrote
    # keep_last=2 retains the pre-compact version AND the hosts its
    # manifest references (the maintained-view recovery point must stay
    # fully reconstructable) — so the chain shrinks but does not collapse
    # to 1 until the next compaction cycle retires that version
    assert store.chain_length(spec) < before
    assert store.chain_length(spec) == reports[0].files_after
    rows = {r["id"]: r["v"] for r in store.read(spec).collect()}
    assert len(rows) == 40 and rows[0] == "p10" and rows[1] == "p11"

    # busy stream: never compacts regardless of chain length
    assert maint.run(progress={"inputRowsPerSecond": 5.0}) == []


def test_idle_maintenance_gcs_unreferenced_hosts_under_threshold(spark, tmp_path):
    """An UNDER-threshold chain still sheds storage debt each idle pass:
    repeatedly patching the same key orphans every previous host of that
    key's bucket, and retention GC (pure directory bookkeeping — no Spark
    jobs, no rewrite) drops the unreferenced versions without waiting for
    the chain to cross max_chain. The current snapshot is untouched."""
    from connemara_spark.ops import Maintenance

    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    store.write(
        spec, spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string")
    )
    for n in range(5):  # same key: each patch orphans the previous host
        keys = spark.createDataFrame([(0,)], "id long")
        patched = store.read_for_keys(spec, keys).withColumn(
            "v", F.when(F.col("id") == 0, F.lit(f"p{n}")).otherwise(F.col("v"))
        )
        store.write_partial(spec, patched, buckets=store.buckets_of(spec, keys))

    maint = Maintenance(store, cat, max_chain=10, keep_last=2)
    before = store.chain_length(spec)
    assert before == 6
    v_cur = store.current_version(spec.target_name)
    reports = maint.run()
    assert len(reports) == 1
    assert reports[0].files_before == before and reports[0].files_after < before
    assert reports[0].action == "gc"  # retention-only pass, disambiguated
    assert store.current_version(spec.target_name) == v_cur  # no rewrite
    rows = {r["id"]: r["v"] for r in store.read(spec).collect()}
    assert len(rows) == 40 and rows[0] == "p4" and rows[1] == "v1"
    # a second idle pass finds nothing more to shed
    assert maint.run() == []


def test_randomized_lifecycle_against_model(spark, tmp_path):
    """Model-based lifecycle fuzz: a seeded random sequence of full
    writes, partial patches, deletes-via-partial, compactions and GCs must
    keep (a) the current read equal to a dict model, (b) every version
    listed by versions() fully readable (the demotion contract: GC either
    keeps a snapshot readable or removes it from the list — never a
    silently partial read), (c) partial writes confined to touched
    buckets."""
    import random

    rng = random.Random(1234)
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=8)
    model: dict[int, str] = {i: f"v{i}" for i in range(60)}
    store.write(
        SPEC, spark.createDataFrame(sorted(model.items()), "id long, v string")
    )

    def df_of(d):
        return (
            spark.createDataFrame(sorted(d.items()), "id long, v string")
            if d
            else spark.createDataFrame([], "id long, v string")
        )

    for step in range(18):
        op = rng.choice(["patch", "patch", "patch", "delete", "full", "gc", "compact"])
        if op in ("patch", "delete"):
            ids = rng.sample(sorted(model) or [0], k=min(len(model), rng.randint(1, 6)))
            if not ids:
                continue
            keys = spark.createDataFrame([(i,) for i in ids], "id long")
            touched = store.buckets_of(SPEC, keys)
            world = {r["id"]: r["v"] for r in store.read_buckets(SPEC, touched).collect()}
            if op == "patch":
                for i in ids:
                    world[i] = f"s{step}"
                    model[i] = f"s{step}"
            else:
                for i in ids:
                    world.pop(i, None)
                    model.pop(i, None)
            store.write_partial(SPEC, df_of(world), buckets=touched)
        elif op == "full":
            new_id = 1000 + step
            model[new_id] = f"n{step}"
            store.write(SPEC, df_of(model))
        elif op == "gc":
            store.gc_versions(SPEC, keep_last=rng.choice([1, 2]))
        else:
            store.compact(SPEC)

        got = {r["id"]: r["v"] for r in store.read(SPEC).collect()}
        assert got == model, f"divergence at step {step} after {op}"
        # every LISTED version must be fully readable (count() forces the
        # path resolution that raises on a GC'd host)
        for v in store.versions(SPEC):
            store.read_version(SPEC, v).count()


def test_rebucket_grows_one_table_independently(spark, tmp_path):
    """rebucket() changes ONE table's bucket count (a full rewrite under
    the new modulus): the data is identical, the manifest carries the new
    count, later writes — partial AND full — preserve it, and a sibling
    table in the same store keeps its own count. The store-level
    n_buckets only seeds new tables."""
    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    cat.register(TableSpec(
        database="db1", schema="public", table="other",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
        pk_cols=["id"],
    ))
    other = cat.get("db1", "public", "other")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=4)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string")
    store.write(spec, base)
    store.write(other, base)
    assert store.bucket_count(spec.target_name) == 4

    v = store.rebucket(spec, 16)
    assert store.bucket_count(spec.target_name) == 16
    assert store.bucket_count(other.target_name) == 4  # sibling untouched
    got = {r["id"]: r["v"] for r in store.read(spec).collect()}
    assert got == {i: f"v{i}" for i in range(40)}

    # a partial patch after the rebucket prices and writes under 16
    keys = spark.createDataFrame([(7,)], "id long")
    bks = store.buckets_of(spec, keys)
    patched = store.read_for_keys(spec, keys).withColumn(
        "v", F.when(F.col("id") == 7, F.lit("patched")).otherwise(F.col("v"))
    )
    store.write_partial(spec, patched, buckets=bks)
    m = store._manifest(spec.target_name, store.current_version(spec.target_name))
    assert m["n_buckets"] == 16 and len(m["buckets"]) == 16
    assert store.read(spec).filter("id = 7").collect()[0]["v"] == "patched"

    # full rewrites (compact / erasure path) PRESERVE the rebucketed count
    store.compact(spec)
    assert store.bucket_count(spec.target_name) == 16
    got = {r["id"]: r["v"] for r in store.read(spec).collect()}
    assert len(got) == 40 and got[7] == "patched"

    # a replayer over a store OBJECT configured with the old default still
    # applies correctly: the manifest's count is authoritative
    store4 = BucketStore(spark, str(tmp_path / "s"), n_buckets=4)
    rep = Replayer(spark, cat, store4)
    rep.apply_batch(_bronze(spark, [
        make_event(spec, "update", lsn=1, row={"id": 0, "v": "x"}, old_key={"id": 0}),
    ]))
    got = {r["id"]: r["v"] for r in store4.read(spec).collect()}
    assert got[0] == "x" and len(got) == 40
    m = store4._manifest(spec.target_name, store4.current_version(spec.target_name))
    assert m["n_buckets"] == 16
    assert v == 2  # the rebucket itself was one committed version


def test_maintained_view_stays_correct_across_rebucket(spark, tmp_path):
    """The dangerous window: a maintained view's recovery anchor predates
    a rebucket, so the patch's OLD-version read must not prune with
    bucket ids computed under the NEW modulus (they address the wrong
    directories there — silent row loss). read_version falls back to the
    full old snapshot when the counts differ; the view stays equal to a
    full recompute through the boundary."""
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.operators.ivm import MaintainedAggView

    spec = TableSpec(
        database="db1", schema="public", table="sales",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "text"),
                 ColumnSpec("amount", "double precision")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "sales")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=4)
    rep = Replayer(spark, cat, store)
    view = MaintainedAggView(
        spark, store, spec, group_col="grp", sum_col="amount",
        view_dir=str(tmp_path / "aggview"),
    )

    def run_batch(events):
        rep.step(_bronze(spark, events), maintainers=[view])

    run_batch([
        make_event(spec, "insert", lsn=i, row={"id": i, "grp": "ab"[i % 2], "amount": float(i)})
        for i in range(1, 9)
    ])
    store.rebucket(spec, 16)  # the view's anchor now predates the rebucket
    run_batch([
        make_event(spec, "update", lsn=9, row={"id": 2, "grp": "b", "amount": 50.0}, old_key={"id": 2}),
        make_event(spec, "delete", lsn=10, old_key={"id": 3}),
        make_event(spec, "insert", lsn=11, row={"id": 20, "grp": "a", "amount": 1.5}),
    ])
    got = {r["grp"]: (r["n_rows"], float(r["total"])) for r in view.read_view().collect()}
    want = {
        r["grp"]: (r["n_rows"], float(r["total"]))
        for r in view._full_agg(store.read(spec)).collect()
    }
    assert got == want
    # and the next steady-state batch (anchor now POST-rebucket) prunes again
    run_batch([
        make_event(spec, "update", lsn=12, row={"id": 4, "grp": "a", "amount": 9.0}, old_key={"id": 4}),
    ])
    got = {r["grp"]: (r["n_rows"], float(r["total"])) for r in view.read_view().collect()}
    want = {
        r["grp"]: (r["n_rows"], float(r["total"]))
        for r in view._full_agg(store.read(spec)).collect()
    }
    assert got == want


def test_idle_maintenance_rebuckets_oversized_tables(spark, tmp_path):
    """W10 layout growth: with target_bucket_bytes set, the idle pass
    rebuckets a table whose current snapshot exceeds the per-bucket byte
    envelope to the next power-of-2 count that fits, preserves the data,
    and is a no-op once the envelope holds (and for healthy siblings)."""
    from connemara_spark.ops import Maintenance

    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=2)
    # data-dominated regime (the realistic one): per-bucket DATA bytes are
    # well above parquet's KB-scale per-file metadata floor
    incompressible = F.concat(
        *[F.md5((F.col("id") * 1000 + i).cast("string")) for i in range(32)]
    )
    store.write(spec, spark.range(2000).select(
        F.col("id"), incompressible.alias("v")))
    size = store.table_bytes(spec)
    assert size > 1_000_000
    target = size // 8  # n must at least quadruple (2 -> 8+)
    maint = Maintenance(store, cat, target_bucket_bytes=target)
    reports = maint.run()
    assert any(
        r.files_before == 2 and r.files_after >= 8 and r.action == "rebucket"
        for r in reports
    )
    new_n = store.bucket_count(spec.target_name)
    assert new_n >= 8 and new_n & (new_n - 1) == 0  # power of 2
    # the policy's contract: the count it chose fits the size it measured
    assert size <= new_n * target
    rows = {r["id"]: len(r["v"]) for r in store.read(spec).collect()}
    assert len(rows) == 2000 and rows[7] == 32 * 32
    # converged: the next idle pass does not rebucket again
    assert not any(r.files_after > r.files_before for r in maint.run())

    # the auto-growth cap turns an unreachable target (below the per-file
    # metadata floor) into a stable capped state instead of doubling
    # forever: the count pins at the cap and later passes are no-ops
    capped = Maintenance(store, cat, target_bucket_bytes=1, max_auto_buckets=32)
    assert any(r.files_after == 32 for r in capped.run())
    assert store.bucket_count(spec.target_name) == 32
    assert not any(r.files_after > r.files_before for r in capped.run())
    rows = {r["id"]: len(r["v"]) for r in store.read(spec).collect()}
    assert len(rows) == 2000 and rows[7] == 32 * 32


def test_rebucket_cap_never_overshoots_on_non_power_of_2_counts(spark, tmp_path):
    """The cap BOUNDS automatic growth even when the current count is not a
    power-of-2 divisor of it: n=3 under max_auto_buckets=4 must stay at 3
    (3 -> 6 would overshoot), not double past the cap."""
    from connemara_spark.ops import Maintenance

    cat = _catalog()
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "s"), n_buckets=3)
    store.write(
        spec,
        spark.range(200).select(F.col("id"), F.md5(F.col("id").cast("string")).alias("v")),
    )
    maint = Maintenance(store, cat, target_bucket_bytes=1, max_auto_buckets=4)
    reports = maint.run()
    assert not any(r.action == "rebucket" for r in reports)
    assert store.bucket_count(spec.target_name) == 3
    # with headroom for one doubling (cap 8), growth resumes: 3 -> 6 <= 8
    roomy = Maintenance(store, cat, target_bucket_bytes=1, max_auto_buckets=8)
    reports = roomy.run()
    assert any(
        r.action == "rebucket" and r.files_before == 3 and r.files_after == 6
        for r in reports
    )
    assert store.bucket_count(spec.target_name) == 6

"""Streaming replayer: landing-zone drain, incremental batches, idempotent
recovery via the LSN watermark."""

from __future__ import annotations

import pytest

from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
from connemara_spark.events import BRONZE_SCHEMA
from connemara_spark.pipeline import MemoryStore, ParquetStore
from connemara_spark.streaming import StreamingReplayer
from connemara_spark.testing import make_event

SPEC = TableSpec(
    database="db1",
    schema="public",
    table="items",
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


def _land(spark, rows, landing_dir):
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in rows], schema=BRONZE_SCHEMA
    )
    df.coalesce(1).write.mode("append").parquet(landing_dir)


def test_stream_drain_and_incremental(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    cat = _catalog()
    store = ParquetStore(spark, str(tmp_path / "silver"))
    sr = StreamingReplayer(
        spark, cat, store, landing_dir=landing, checkpoint_dir=ckpt
    )
    spec = cat.get("db1", "public", "items")

    _land(spark, [
        make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a"}),
        make_event(spec, "insert", lsn=2, row={"id": 2, "v": "b"}),
    ], landing)
    sr.run_until_drained()
    assert {r["id"]: r["v"] for r in store.read(spec).collect()} == {1: "a", 2: "b"}

    # second drop: update + delete, drained incrementally (checkpoint skips
    # the first file)
    _land(spark, [
        make_event(spec, "update", lsn=3, row={"id": 1, "v": "a2"}, old_key={"id": 1}),
        make_event(spec, "delete", lsn=4, old_key={"id": 2}),
    ], landing)
    sr.run_until_drained()
    assert {r["id"]: r["v"] for r in store.read(spec).collect()} == {1: "a2"}
    assert sr.watermark.get("db1", "slot_db1") == 4


def test_stream_recovery_is_idempotent(spark, tmp_path):
    """A fresh checkpoint (simulating replay of already-seen files) must not
    double-apply: the LSN watermark filters applied events."""
    landing = str(tmp_path / "landing")
    cat = _catalog()
    store = ParquetStore(spark, str(tmp_path / "silver"))
    spec = cat.get("db1", "public", "items")
    wm_path = str(tmp_path / "wm.json")

    _land(spark, [
        make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a"}),
        make_event(spec, "update", lsn=2, row={"id": 1, "v": "b"}, old_key={"id": 1}),
    ], landing)

    sr1 = StreamingReplayer(
        spark, cat, store, landing_dir=landing,
        checkpoint_dir=str(tmp_path / "ckpt1"), watermark_path=wm_path,
    )
    sr1.run_until_drained()
    v1 = store.current_version(spec.target_name)

    # new checkpoint → Spark re-delivers everything; watermark must filter
    sr2 = StreamingReplayer(
        spark, cat, store, landing_dir=landing,
        checkpoint_dir=str(tmp_path / "ckpt2"), watermark_path=wm_path,
    )
    sr2.run_until_drained()
    assert {r["id"]: r["v"] for r in store.read(spec).collect()} == {1: "b"}
    # the replayed batch was empty after filtering → same logical state
    assert sr2.watermark.get("db1", "slot_db1") == 2


def test_stream_ddl_mid_stream(spark, tmp_path):
    landing = str(tmp_path / "landing")
    cat = _catalog()
    store = MemoryStore(spark)
    spec = cat.get("db1", "public", "items")
    sr = StreamingReplayer(
        spark, cat, store, landing_dir=landing, checkpoint_dir=str(tmp_path / "ckpt")
    )
    from tests.test_pipeline import ddl_event

    _land(spark, [
        make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a"}),
        ddl_event(2, "ALTER TABLE public.items ADD COLUMN note text"),
    ], landing)
    sr.run_until_drained()
    assert cat.get("db1", "public", "items").column_names == ["id", "v", "note"]


def test_streaming_hot_key_through_bounded_fold(spark, tmp_path):
    """The PRODUCTION apply path (StreamingReplayer → Replayer.apply_batch)
    defaults to the bounded fold: a hot key with 20k updates in one batch
    drains correctly with per-key state bounded at bucket occupancy, and
    the result matches the unbounded fold bit-for-bit."""
    import json

    landing = str(tmp_path / "landing")
    cat = _catalog()
    store = ParquetStore(spark, str(tmp_path / "silver"))
    sr = StreamingReplayer(
        spark, cat, store,
        landing_dir=landing, checkpoint_dir=str(tmp_path / "ckpt"),
        lsn_bucket=1_000, bounded_threshold=10_000,
    )
    assert sr.replayer.lsn_bucket == 1_000  # kwargs thread through
    assert sr.replayer.bounded_threshold == 10_000
    spec = cat.get("db1", "public", "items")

    n = 20_000
    rows = [make_event(spec, "insert", lsn=1, row={"id": 1, "v": "v0"})]
    rows += [
        make_event(spec, "update", lsn=i, row={"id": 1, "v": f"v{i}"}, old_key={"id": 1})
        for i in range(2, n + 1)
    ]
    rows.append(make_event(spec, "insert", lsn=n + 1, row={"id": 2, "v": "other"}))
    _land(spark, rows, landing)
    sr.run_until_drained()
    got = {r["id"]: r["v"] for r in store.read(spec).collect()}
    assert got == {1: f"v{n}", 2: "other"}

    # replica through the unbounded fold on the same landing data
    from connemara_spark.pipeline import Replayer

    store2 = MemoryStore(spark)
    store2.create_table(spec)
    rep2 = Replayer(spark, cat, store2, lsn_bucket=None)
    rep2.apply_batch(spark.read.schema(BRONZE_SCHEMA).parquet(landing))
    assert sorted(map(tuple, store2.read(spec).collect())) == sorted(
        map(tuple, store.read(spec).collect())
    )


def test_bounded_fold_auto_selection(spark, tmp_path):
    """The bounded fold is selected per (batch, table) by event count:
    below bounded_threshold the single-shuffle unbounded fold runs (a key's
    array is capped by the batch count anyway); above it the hot-key-safe
    two-level fold runs. Both produce identical states."""
    from connemara_spark.pipeline import MemoryStore, Replayer

    cat = _catalog()
    spec = cat.get("db1", "public", "items")

    def bronze(n):
        rows = [make_event(spec, "insert", lsn=1, row={"id": 1, "v": "x"})]
        rows += [
            make_event(spec, "update", lsn=i, row={"id": 1, "v": f"v{i}"}, old_key={"id": 1})
            for i in range(2, n + 1)
        ]
        return spark.createDataFrame(
            [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in rows],
            schema=BRONZE_SCHEMA,
        )

    # small batch: stays on the unbounded fold
    store = MemoryStore(spark)
    store.create_table(spec)
    rep = Replayer(spark, cat, store, lsn_bucket=100, bounded_threshold=1_000)
    m = rep.apply_batch(bronze(50))
    assert m.bounded_folds == 0 and m.tables_touched == 1

    # big batch: routed through the bounded fold
    store2 = MemoryStore(spark)
    store2.create_table(spec)
    rep2 = Replayer(spark, cat, store2, lsn_bucket=100, bounded_threshold=1_000)
    m2 = rep2.apply_batch(bronze(2_000))
    assert m2.bounded_folds == 1 and m2.tables_touched == 1
    assert {r["id"]: r["v"] for r in store2.read(spec).collect()} == {1: "v2000"}

    # lsn_bucket=None disables the bounded path regardless of size
    store3 = MemoryStore(spark)
    store3.create_table(spec)
    rep3 = Replayer(spark, cat, store3, lsn_bucket=None, bounded_threshold=0)
    m3 = rep3.apply_batch(bronze(2_000))
    assert m3.bounded_folds == 0
    assert {r["id"]: r["v"] for r in store3.read(spec).collect()} == {1: "v2000"}


def test_watermark_filter_broadcast_path_matches_predicate_at_1k_origins(
    spark, tmp_path
):
    """LsnWatermark.filter_applied switches from the per-origin predicate
    chain to a broadcast join above BROADCAST_THRESHOLD origins (the
    many-hundreds-of-sources deployment would otherwise build a very wide
    boolean tree). Property at 1k synthetic origins: the two paths keep
    IDENTICAL semantics — rows at/below their origin's watermark drop,
    rows above pass, rows from never-seen origins pass — and the broadcast
    path preserves the bronze column order."""
    import random

    from pyspark.sql import functions as F

    from connemara_spark.streaming.driver import LsnWatermark

    rng = random.Random(7)
    wm = LsnWatermark(str(tmp_path / "wm.json"))
    updates = {
        (f"db{i}", f"slot{i}"): rng.randint(0, 1000) for i in range(1000)
    }
    wm.advance(updates)
    assert len(wm._state) == 1000 > wm.BROADCAST_THRESHOLD

    # rows straddling each origin's watermark + rows from unknown origins
    rows = []
    for i in range(0, 1000, 7):
        lsn = updates[(f"db{i}", f"slot{i}")]
        for d in (-1, 0, 1):
            rows.append((f"db{i}", f"slot{i}", lsn + d))
    rows += [("dbX", "slotX", 0), ("dbY", "slotY", 10**9)]
    bronze = spark.createDataFrame(
        [(db, slot, lsn, f"p{lsn}") for db, slot, lsn in rows],
        "database string, source_slotname string, lsn_start long, payload string",
    )

    got_b = wm._filter_broadcast(bronze)
    assert got_b.columns == bronze.columns  # order preserved either path
    got = sorted(map(tuple, got_b.collect()))
    want_model = sorted(
        (db, slot, lsn, f"p{lsn}")
        for db, slot, lsn in rows
        if lsn > updates.get((db, slot), -1)
    )
    assert got == want_model
    # dispatch: 1k origins routes to the broadcast path, and the public
    # entry point agrees with the model too
    assert sorted(map(tuple, wm.filter_applied(bronze).collect())) == want_model

    # the predicate path (forced) computes the same set on a small slice —
    # full 1k-term chains are exactly what the threshold avoids building
    few = LsnWatermark(str(tmp_path / "wm2.json"))
    few.advance({(f"db{i}", f"slot{i}"): updates[(f"db{i}", f"slot{i}")] for i in range(5)})
    small = bronze.filter(F.col("database").isin(["db0", "dbX"]))
    assert sorted(map(tuple, few._filter_predicate(small).collect())) == sorted(
        map(tuple, few._filter_broadcast(small).collect())
    )


def test_watermark_filter_compiles_no_class_per_watermark(spark, tmp_path):
    """The predicate path of ``LsnWatermark.filter_applied`` generates the
    same code whatever the watermarks: once its class is compiled,
    advancing the watermark compiles at most one class (0 measured; the
    counter is JVM-global), where a compiled-in LSN literal compiles two
    every streaming batch, and the filter keeps exactly the rows above
    their origin's watermark."""
    from pyspark.sql import functions as F

    from connemara_spark.session import codegen_compiles
    from connemara_spark.streaming.driver import LsnWatermark

    bronze = spark.range(40).select(
        F.concat(F.lit("db"), (F.col("id") % 3).cast("string")).alias("database"),
        F.lit("slot").alias("source_slotname"),
        F.col("id").alias("lsn_start"),
    )
    wm = LsnWatermark(str(tmp_path / "wm.json"))
    compiles = []
    for lsn in (5, 11, 23, 31):
        wm.advance({("db0", "slot"): lsn, ("db1", "slot"): lsn + 2})
        c0 = codegen_compiles(spark)
        got = sorted(r["lsn_start"] for r in wm.filter_applied(bronze).collect())
        compiles.append(codegen_compiles(spark) - c0)
        want = [
            i for i in range(40)
            if i > {0: lsn, 1: lsn + 2}.get(i % 3, -1)
        ]
        assert got == want
    assert max(compiles[1:]) <= 1, compiles

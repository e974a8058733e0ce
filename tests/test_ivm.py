"""Incremental view maintenance: the maintained views under CDC batches."""

from __future__ import annotations

import pytest


def test_streaming_maintained_join_view_over_wal_spool(spark, tmp_path):
    """End-to-end incremental view maintenance under the custom streaming
    source: segments → wal_spool → foreachBatch apply + per-batch
    touched-key-scoped view delta → versioned materialized view. After
    every drain the maintained view equals a full join recompute —
    including through an update, a delete, and a PK-less path."""
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.operators.ivm import MaintainedJoinView
    from connemara_spark.pipeline import ParquetStore
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    spec = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "items")
    store = ParquetStore(spark, str(tmp_path / "silver"))
    dim = spark.createDataFrame(
        [(i, f"tier{i % 2}") for i in range(1, 8)], "id long, tier string"
    )
    view = MaintainedJoinView(
        spark, store, spec, dim=dim, key_a="id", key_b="id",
        view_cols=["id", "v", "tier"], view_dir=str(tmp_path / "view"),
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

    def check():
        a = store.read(spec)
        want = sorted(
            (r["id"], r["v"], f"tier{r['id'] % 2}") for r in a.collect()
        )
        got = sorted(map(tuple, view.read_view().collect()))
        assert got == want, (got, want)

    seg([make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a"}),
         make_event(spec, "insert", lsn=2, row={"id": 2, "v": "b"}),
         make_event(spec, "insert", lsn=3, row={"id": 3, "v": "c"})], "seg-001")
    sr.run_until_drained()
    check()

    # batch 2: update + delete + fresh insert; view patches, never recomputes
    seg([make_event(spec, "update", lsn=4, row={"id": 1, "v": "a2"}, old_key={"id": 1}),
         make_event(spec, "delete", lsn=5, old_key={"id": 2}),
         make_event(spec, "insert", lsn=6, row={"id": 4, "v": "d"})], "seg-002")
    sr.run_until_drained()
    check()

    # batch 3: PK-change update (old key 3 -> new key 5): both keys touched
    seg([make_event(spec, "update", lsn=7, row={"id": 5, "v": "c2"}, old_key={"id": 3})],
        "seg-003")
    sr.run_until_drained()
    check()
    assert view._meta()["version"] == 3  # one view version per batch, no recomputes


def test_maintained_view_retry_after_post_apply_crash(spark, tmp_path):
    """Crash-recovery idempotence: the process dies AFTER the store applied
    a batch but BEFORE the view was patched. The restarted stream re-applies
    the batch (store apply is idempotent) and calls before_apply on a state
    that already contains it — under a diff-based patch the delta would be
    empty and the view would silently miss the batch forever; replacement at
    the touched keys must converge to the correct view."""
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.events import BRONZE_SCHEMA
    from connemara_spark.operators.ivm import MaintainedJoinView
    from connemara_spark.pipeline import ParquetStore, Replayer
    from connemara_spark.testing import make_event

    spec = TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "items")
    store = ParquetStore(spark, str(tmp_path / "silver"))
    rep = Replayer(spark, cat, store)
    dim = spark.createDataFrame(
        [(i, f"tier{i % 2}") for i in range(1, 8)], "id long, tier string"
    )
    view = MaintainedJoinView(
        spark, store, spec, dim=dim, key_a="id", key_b="id",
        view_cols=["id", "v", "tier"], view_dir=str(tmp_path / "view"),
    )

    def bronze(events):
        return spark.createDataFrame(
            [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
            schema=BRONZE_SCHEMA,
        )

    def run_batch(events):
        rep.step(bronze(events), maintainers=[view])

    def check():
        a = store.read(spec)
        want = sorted((r["id"], r["v"], f"tier{r['id'] % 2}") for r in a.collect())
        got = sorted(map(tuple, view.read_view().collect()))
        assert got == want, (got, want)

    run_batch([
        make_event(spec, "insert", lsn=1, row={"id": 1, "v": "a"}),
        make_event(spec, "insert", lsn=2, row={"id": 2, "v": "b"}),
    ])
    check()

    # batch 2 crashes between store apply and view patch
    crash = [
        make_event(spec, "update", lsn=3, row={"id": 1, "v": "a2"}, old_key={"id": 1}),
        make_event(spec, "delete", lsn=4, old_key={"id": 2}),
        make_event(spec, "insert", lsn=5, row={"id": 3, "v": "c"}),
    ]
    b = bronze(crash)
    parsed = rep.parse_batch(b)
    view.before_apply(parsed)
    rep.apply_batch(b, events=parsed)
    # -- crash here: after_apply never runs; view still at version 1 --
    assert view._meta()["version"] == 1

    # restart: the whole batch replays (watermark never advanced)
    run_batch(crash)
    check()  # view caught up despite before_apply pinning a post-batch state


def _agg_spec_setup(spark, tmp_path):
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.pipeline import ParquetStore

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
    return cat, spec, store


def test_maintained_agg_view_streaming(spark, tmp_path):
    """End-to-end incremental AGGREGATE maintenance over wal_spool: after
    every drain the maintained (group, n_rows, total) equals a full
    recompute — through inserts, group-moving updates, and deletes."""
    from connemara_spark.operators.ivm import MaintainedAggView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    view = MaintainedAggView(
        spark, store, spec, group_col="grp", sum_col="amount",
        view_dir=str(tmp_path / "aggview"),
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

    def check():
        want = sorted(
            map(tuple, view._full_agg(store.read(spec)).collect())
        )
        got = sorted(map(tuple, view.read_view().collect()))
        assert got == want, (got, want)

    seg([make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 10.0}),
         make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "a", "amount": 5.0}),
         make_event(spec, "insert", lsn=3, row={"id": 3, "grp": "b", "amount": 7.0})],
        "seg-001")
    sr.run_until_drained()
    check()

    # update moves id=2 a->b (both groups patch), delete id=3 (group b may
    # shrink), insert new group c
    seg([make_event(spec, "update", lsn=4, row={"id": 2, "grp": "b", "amount": 6.0}, old_key={"id": 2}),
         make_event(spec, "delete", lsn=5, old_key={"id": 3}),
         make_event(spec, "insert", lsn=6, row={"id": 4, "grp": "c", "amount": 1.0})],
        "seg-002")
    sr.run_until_drained()
    check()
    # group 'b' now holds only id=2; 'a' only id=1; no ghost zero-groups
    got = {r["grp"]: (r["n_rows"], float(r["total"])) for r in view.read_view().collect()}
    assert got == {"a": (1, 10.0), "b": (1, 6.0), "c": (1, 1.0)}
    assert view._meta()["version"] == 2  # one view version per batch


def test_maintained_agg_view_retry_after_post_apply_crash(spark, tmp_path):
    """Version-anchored recovery: store advanced, view patch crashed, batch
    replays. The delta re-reads the RETAINED pre-batch store version, so
    the retried patch produces the correct aggregate (a pinned-frame diff
    would have seen old==new and lost the batch)."""
    from connemara_spark.events import BRONZE_SCHEMA
    from connemara_spark.operators.ivm import MaintainedAggView
    from connemara_spark.pipeline import Replayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    rep = Replayer(spark, cat, store)
    view = MaintainedAggView(
        spark, store, spec, group_col="grp", sum_col="amount",
        view_dir=str(tmp_path / "aggview"),
    )

    def bronze(events):
        return spark.createDataFrame(
            [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
            schema=BRONZE_SCHEMA,
        )

    def run_batch(events):
        rep.step(bronze(events), maintainers=[view])

    run_batch([
        make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 10.0}),
        make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "b", "amount": 3.0}),
    ])

    crash = [
        make_event(spec, "update", lsn=3, row={"id": 1, "grp": "b", "amount": 11.0}, old_key={"id": 1}),
        make_event(spec, "insert", lsn=4, row={"id": 5, "grp": "a", "amount": 2.0}),
    ]
    b = bronze(crash)
    parsed = rep.parse_batch(b)
    view.before_apply(parsed)
    rep.apply_batch(b, events=parsed)
    # -- crash: after_apply never runs; view still at version 1 --
    assert view._meta()["version"] == 1

    run_batch(crash)  # restart replays the batch
    got = {r["grp"]: (r["n_rows"], float(r["total"])) for r in view.read_view().collect()}
    assert got == {"a": (1, 2.0), "b": (2, 14.0)}


def test_maintained_two_table_join_view_streaming(spark, tmp_path):
    """Cross-table IVM — the consolidation engine's defining query as a
    maintained artifact: a join view over TWO CDC-fed tables stays equal
    to a full recompute through batches touching either or both sides."""
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.operators.ivm import MaintainedTwoTableJoinView
    from connemara_spark.pipeline import ParquetStore
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    cat = EngineCatalog()
    spec_c = TableSpec(
        database="db1", schema="public", table="cust",
        columns=[ColumnSpec("ck", "bigint"), ColumnSpec("name", "text")],
        pk_cols=["ck"],
    )
    spec_o = TableSpec(
        database="db1", schema="public", table="acct",
        columns=[ColumnSpec("ak", "bigint"), ColumnSpec("bal", "double precision")],
        pk_cols=["ak"],
    )
    cat.register(spec_c)
    cat.register(spec_o)
    spec_c = cat.get("db1", "public", "cust")
    spec_o = cat.get("db1", "public", "acct")
    store = ParquetStore(spark, str(tmp_path / "silver"))
    store.create_table(spec_c)
    store.create_table(spec_o)
    view = MaintainedTwoTableJoinView(
        spark, store, spec_c, spec_o, key_a="ck", key_b="ak",
        view_cols=["ck", "name", "bal"], view_dir=str(tmp_path / "view"),
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

    def check():
        want = sorted(map(tuple, view._full_agg(
            store.read(spec_c), store.read(spec_o)).collect()))
        got = sorted(map(tuple, view.read_view().collect()))
        assert got == want, (got, want)

    # batch 1: A-side only
    seg([make_event(spec_c, "insert", lsn=1, row={"ck": 1, "name": "a"}),
         make_event(spec_c, "insert", lsn=2, row={"ck": 2, "name": "b"})], "s1")
    sr.run_until_drained()
    check()

    # batch 2: B-side only — rows appear in the view as matches form
    seg([make_event(spec_o, "insert", lsn=3, row={"ak": 1, "bal": 10.0}),
         make_event(spec_o, "insert", lsn=4, row={"ak": 3, "bal": 5.0})], "s2")
    sr.run_until_drained()
    check()
    assert {r["ck"] for r in view.read_view().collect()} == {1}

    # batch 3: both sides in ONE batch (update A, insert matching B, delete B)
    seg([make_event(spec_c, "update", lsn=5, row={"ck": 1, "name": "a2"}, old_key={"ck": 1}),
         make_event(spec_o, "insert", lsn=6, row={"ak": 2, "bal": 7.0}),
         make_event(spec_o, "delete", lsn=7, old_key={"ak": 1})], "s3")
    sr.run_until_drained()
    check()
    got = {(r["ck"], r["name"], r["bal"]) for r in view.read_view().collect()}
    assert got == {(2, "b", 7.0)}

    # validation: non-PK join columns are rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="single PK"):
        MaintainedTwoTableJoinView(
            spark, store, spec_c, spec_o, key_a="name", key_b="ak",
            view_cols=["name", "bal"], view_dir=str(tmp_path / "v2"),
        )


def test_streaming_crash_between_store_advance_and_view_write_recovers(spark, tmp_path):
    """The ADVICE scenario, end-to-end THROUGH the streaming driver: the
    process dies after the silver store advanced but before the maintained
    view's patch landed. The streaming checkpoint never committed the
    microbatch, so a restarted stream replays it: the store re-apply is
    idempotent, and MaintainedAggView's version-anchored delta re-reads
    the RETAINED pre-batch store version — the restarted drain converges
    to the correct view instead of silently losing the batch."""
    from connemara_spark.operators.ivm import MaintainedAggView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)

    def seg(events, name):
        write_segment(str(tmp_path / "spool"), [dict(e) for e in events], name)

    def make_sr(maintainers):
        return StreamingReplayer(
            spark, cat, store,
            landing_dir=str(tmp_path / "spool"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            landing_format="wal_spool",
            maintainers=maintainers,
        )

    view = MaintainedAggView(
        spark, store, spec, group_col="grp", sum_col="amount",
        view_dir=str(tmp_path / "aggview"),
    )
    seg([make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 10.0}),
         make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "b", "amount": 3.0})],
        "seg-001")
    make_sr([view]).run_until_drained()
    assert view._meta()["version"] == 1

    class CrashAfterStoreAdvance:
        """Wraps the view: its pin runs, the store's apply lands, then the
        patch dies before the view's write — exactly the crash window.
        (Maintainer patches run concurrently, so a SEPARATE crashing
        maintainer would not stop the view's own patch from landing.)"""

        def __init__(self, view):
            self.view = view

        def before_apply(self, parsed, buckets=None):
            self.view.before_apply(parsed, buckets=buckets)

        def after_apply(self, batch_id=None):
            raise RuntimeError("injected crash between store advance and view write")

    seg([make_event(spec, "update", lsn=3, row={"id": 1, "grp": "b", "amount": 11.0}, old_key={"id": 1}),
         make_event(spec, "insert", lsn=4, row={"id": 5, "grp": "a", "amount": 2.0})],
        "seg-002")
    crasher = CrashAfterStoreAdvance(view)
    # fail-fast (W9): the injected error kills the query; awaitTermination
    # surfaces it as a StreamingQueryException wrapping our RuntimeError
    with pytest.raises(Exception, match="injected crash"):
        make_sr([crasher]).run_until_drained()
    # store advanced, view did not, stream checkpoint did not commit
    assert view._meta()["version"] == 1
    assert store.current_version(spec.target_name) > 1

    # restart: fresh driver + fresh view object (process death), same dirs
    view2 = MaintainedAggView(
        spark, store, spec, group_col="grp", sum_col="amount",
        view_dir=str(tmp_path / "aggview"),
    )
    make_sr([view2]).run_until_drained()
    got = {r["grp"]: (r["n_rows"], float(r["total"])) for r in view2.read_view().collect()}
    assert got == {"a": (1, 2.0), "b": (2, 14.0)}
    want = sorted(map(tuple, view2._full_agg(store.read(spec)).collect()))
    assert sorted(map(tuple, view2.read_view().collect())) == want


def test_maintained_minmax_view_recompute_only_when_extremum_exhausted(spark, tmp_path):
    """MIN/MAX is not self-maintainable under deletions; the multiplicity
    refinement must (a) keep every batch's view equal to a full recompute
    through inserts / duplicate extrema / extremum deletion / group moves,
    and (b) fire the group-rescan leg ONLY when an extremum's multiplicity
    actually hits zero with no insert taking over — the property that makes
    the operator |delta|-bounded in the common case."""
    from connemara_spark.operators.ivm import MaintainedMinMaxView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    view = MaintainedMinMaxView(
        spark, store, spec, group_col="grp", val_col="amount",
        view_dir=str(tmp_path / "mmview"),
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

    def check():
        want = sorted(map(tuple, view._full_agg(store.read(spec)).collect()))
        got = sorted(map(tuple, view.read_view().collect()))
        assert got == want, (got, want)

    # group a: min 5.0 with multiplicity 2 (ids 1,2), max 10.0 (id 3)
    seg([make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 5.0}),
         make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "a", "amount": 5.0}),
         make_event(spec, "insert", lsn=3, row={"id": 3, "grp": "a", "amount": 10.0}),
         make_event(spec, "insert", lsn=4, row={"id": 4, "grp": "b", "amount": 7.0})],
        "seg-001")
    sr.run_until_drained()
    check()

    # delete ONE of the duplicate minima: multiplicity 2 -> 1, NO rescan
    seg([make_event(spec, "delete", lsn=5, old_key={"id": 1})], "seg-002")
    sr.run_until_drained()
    check()
    assert view.last_recompute_groups == 0
    row = {r["grp"]: r for r in view.read_view().collect()}
    assert float(row["a"]["min_val"]) == 5.0 and row["a"]["min_cnt"] == 1

    # insert BELOW the min: takes over outright, NO rescan
    seg([make_event(spec, "insert", lsn=6, row={"id": 5, "grp": "a", "amount": 1.0})],
        "seg-003")
    sr.run_until_drained()
    check()
    assert view.last_recompute_groups == 0

    # delete the last row at the min with nothing taking over: the
    # runner-up is unknown -> exactly group 'a' rescans
    seg([make_event(spec, "delete", lsn=7, old_key={"id": 5})], "seg-004")
    sr.run_until_drained()
    check()
    assert view.last_recompute_groups == 1
    row = {r["grp"]: r for r in view.read_view().collect()}
    assert float(row["a"]["min_val"]) == 5.0 and row["a"]["min_cnt"] == 1

    # group-moving update: id 3 (a's max) moves to group b above b's max —
    # 'a' loses its only max row (rescan), 'b' patches from the insert
    seg([make_event(spec, "update", lsn=8, row={"id": 3, "grp": "b", "amount": 10.0},
                    old_key={"id": 3})], "seg-005")
    sr.run_until_drained()
    check()
    assert view.last_recompute_groups == 1
    row = {r["grp"]: r for r in view.read_view().collect()}
    assert float(row["b"]["max_val"]) == 10.0 and row["b"]["n_rows"] == 2
    assert row["a"]["n_rows"] == 1  # only id=2 left

    # empty a group entirely: its view row disappears without a rescan
    # (n_new == 0 short-circuits the unknown-runner-up case)
    seg([make_event(spec, "delete", lsn=9, old_key={"id": 2})], "seg-006")
    sr.run_until_drained()
    check()
    assert view.last_recompute_groups == 0
    assert {r["grp"] for r in view.read_view().collect()} == {"b"}


def test_maintained_topk_view_slack_buffer_and_rescan(spark, tmp_path):
    """Top-k per group is non-self-maintainable: deleting a stored top row
    pulls in an unknown runner-up. The slack buffer must (a) keep every
    batch's truncated view equal to a full recompute, (b) absorb stored-row
    deletions WITHOUT a rescan while the buffer holds, and (c) rescan
    exactly the burned-through group once it doesn't."""
    from connemara_spark.operators.ivm import MaintainedTopKView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    view = MaintainedTopKView(
        spark, store, spec, group_col="grp", val_col="amount",
        k=2, slack=1, view_dir=str(tmp_path / "topk"),
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

    def check():
        from pyspark.sql import functions as F

        want = sorted(
            (r["grp"], r["n_rows"], [(float(p["v"]), p["id"]) for p in r["top"]])
            for r in view._full_agg(store.read(spec)).select(
                "grp", "n_rows", F.slice("top", 1, 2).alias("top")
            ).collect()
        )
        got = sorted(
            (r["grp"], r["n_rows"], [(float(p["v"]), p["id"]) for p in r["top"]])
            for r in view.read_view().collect()
        )
        assert got == want, (got, want)

    # group a: values 50 > 40 > 30 > 20 > 10 (ids 1..5); k=2, slack=1
    seg([make_event(spec, "insert", lsn=i, row={"id": i, "grp": "a", "amount": 60.0 - 10 * i})
         for i in range(1, 6)], "seg-001")
    sr.run_until_drained()
    check()
    top = view.read_view().collect()[0]
    assert [(float(p["v"]), p["id"]) for p in top["top"]] == [(50.0, 1), (40.0, 2)]

    # delete the #1 row: stored list (50,40,30) still covers k after the
    # eviction -> runner-up 30 appears WITHOUT touching the base table
    seg([make_event(spec, "delete", lsn=6, old_key={"id": 1})], "seg-002")
    sr.run_until_drained()
    check()
    assert view.last_recompute_groups == 0
    top = view.read_view().collect()[0]
    assert [(float(p["v"]), p["id"]) for p in top["top"]] == [(40.0, 2), (30.0, 3)]

    # delete the (now) top TWO stored rows in one batch: kept shrinks to
    # one entry (< k) while the group still has 2 rows -> rescan fires,
    # and the recomputed list serves (20, 10)
    seg([make_event(spec, "delete", lsn=7, old_key={"id": 2}),
         make_event(spec, "delete", lsn=8, old_key={"id": 3})], "seg-003")
    sr.run_until_drained()
    check()
    assert view.last_recompute_groups == 1
    top = view.read_view().collect()[0]
    assert [(float(p["v"]), p["id"]) for p in top["top"]] == [(20.0, 4), (10.0, 5)]

    # an insert above the top patches in place (no rescan), updates merge
    seg([make_event(spec, "insert", lsn=9, row={"id": 6, "grp": "a", "amount": 99.0}),
         make_event(spec, "update", lsn=10, row={"id": 4, "grp": "a", "amount": 5.0},
                    old_key={"id": 4})], "seg-004")
    sr.run_until_drained()
    check()
    assert view.last_recompute_groups == 0
    top = view.read_view().collect()[0]
    assert [(float(p["v"]), p["id"]) for p in top["top"]] == [(99.0, 6), (10.0, 5)]


def test_minmax_and_topk_views_bucket_store_prune_path(spark, tmp_path):
    """The touched-bucket pruning branch of the new views' _patch_frame
    (store.buckets_of + read_buckets, taken only on a BucketStore after
    the bootstrap batch) must produce the same views as a full recompute —
    the registry queries run over ParquetStore, so this is the branch's
    only gate."""
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.operators.ivm import MaintainedMinMaxView, MaintainedTopKView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.stores import BucketStore
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    spec = TableSpec(
        database="db1", schema="public", table="sales",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "text"),
                 ColumnSpec("amount", "double precision")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "sales")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
    mm = MaintainedMinMaxView(
        spark, store, spec, group_col="grp", val_col="amount",
        view_dir=str(tmp_path / "mm"),
    )
    tk = MaintainedTopKView(
        spark, store, spec, group_col="grp", val_col="amount",
        k=2, slack=1, view_dir=str(tmp_path / "tk"),
    )
    sr = StreamingReplayer(
        spark, cat, store,
        landing_dir=str(tmp_path / "spool"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        landing_format="wal_spool",
        maintainers=[mm, tk],
    )

    def seg(events, name):
        write_segment(str(tmp_path / "spool"), [dict(e) for e in events], name)

    def check():
        from pyspark.sql import functions as F

        want_mm = sorted(map(tuple, mm._full_agg(store.read(spec)).collect()))
        got_mm = sorted(map(tuple, mm.read_view().collect()))
        assert got_mm == want_mm, (got_mm, want_mm)
        want_tk = sorted(
            (r["grp"], r["n_rows"], [(float(p["v"]), p["id"]) for p in r["top"]])
            for r in tk._full_agg(store.read(spec)).select(
                "grp", "n_rows", F.slice("top", 1, 2).alias("top")
            ).collect()
        )
        got_tk = sorted(
            (r["grp"], r["n_rows"], [(float(p["v"]), p["id"]) for p in r["top"]])
            for r in tk.read_view().collect()
        )
        assert got_tk == want_tk, (got_tk, want_tk)

    # spread ids across all 8 buckets; duplicate minima, two groups
    seg([make_event(spec, "insert", lsn=i, row={"id": i, "grp": "a" if i % 2 else "b",
                                                "amount": float(100 - i)})
         for i in range(1, 17)], "seg-001")
    sr.run_until_drained()
    check()

    # steady-state batch (prune path active): extremum deletions, a
    # group-moving update, and fresh inserts touching a FEW buckets only
    seg([make_event(spec, "delete", lsn=17, old_key={"id": 1}),
         make_event(spec, "delete", lsn=18, old_key={"id": 2}),
         make_event(spec, "update", lsn=19, row={"id": 3, "grp": "b", "amount": 250.0},
                    old_key={"id": 3}),
         make_event(spec, "insert", lsn=20, row={"id": 40, "grp": "a", "amount": 1.5})],
        "seg-002")
    sr.run_until_drained()
    check()

    # burn through topk's buffer for group b: delete its stored top rows
    top_b = [p["id"] for r in tk.read_view().collect() if r["grp"] == "b" for p in r["top"]]
    seg([make_event(spec, "delete", lsn=21 + j, old_key={"id": i})
         for j, i in enumerate(top_b)], "seg-003")
    sr.run_until_drained()
    check()
    assert tk.last_recompute_groups == 1


def test_maintained_distinct_count_view_zero_crossings(spark, tmp_path):
    """COUNT DISTINCT is not self-maintainable from the view row; the
    support-multiset refinement must keep every batch's (group, n_rows,
    n_distinct) equal to a full recompute through duplicate values (no
    crossing), last-of-a-value deletions (crossing down), value swaps,
    null values/groups, group moves, and group disappearance — with NO
    rescan leg anywhere (the support multiset is self-maintainable)."""
    from connemara_spark.operators.ivm import MaintainedDistinctCountView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    view = MaintainedDistinctCountView(
        spark, store, spec, group_col="grp", val_col="amount",
        val_pg_type="double precision", view_dir=str(tmp_path / "dcview"),
        support_buckets=4,
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

    def check():
        key = lambda r: tuple(map(str, r))  # null group sorts stably
        want = sorted(map(tuple, view._full_agg(store.read(spec)).collect()), key=key)
        got = sorted(map(tuple, view.read_view().collect()), key=key)
        assert got == want, (got, want)
        # the support multiset itself must equal a recount of the state
        want_s = sorted(
            map(tuple, view._full_support(store.read(spec)).collect()), key=key
        )
        got_s = sorted(map(tuple, view.sstore.read(view.sspec).collect()), key=key)
        assert got_s == want_s, (got_s, want_s)

    # a: 5.0 x2 + 7.0 + NULL -> (4 rows, 2 distinct); b: 5.0 -> (1, 1)
    seg([make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 5.0}),
         make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "a", "amount": 5.0}),
         make_event(spec, "insert", lsn=3, row={"id": 3, "grp": "a", "amount": 7.0}),
         make_event(spec, "insert", lsn=4, row={"id": 4, "grp": "b", "amount": 5.0}),
         make_event(spec, "insert", lsn=5, row={"id": 5, "grp": "a", "amount": None})],
        "seg-001")
    sr.run_until_drained()
    check()
    row = {r["grp"]: (r["n_rows"], r["n_distinct"]) for r in view.read_view().collect()}
    assert row["a"] == (4, 2) and row["b"] == (1, 1)

    # delete ONE duplicate 5.0: multiplicity 2 -> 1, distinct UNCHANGED
    seg([make_event(spec, "delete", lsn=6, old_key={"id": 1})], "seg-002")
    sr.run_until_drained()
    check()
    row = {r["grp"]: (r["n_rows"], r["n_distinct"]) for r in view.read_view().collect()}
    assert row["a"] == (3, 2)

    # delete the LAST 5.0 in a: crossing down -> distinct 2 -> 1
    seg([make_event(spec, "delete", lsn=7, old_key={"id": 2})], "seg-003")
    sr.run_until_drained()
    check()
    row = {r["grp"]: (r["n_rows"], r["n_distinct"]) for r in view.read_view().collect()}
    assert row["a"] == (2, 1)

    # value swap (7.0 -> 9.0: -1 and +1 crossings cancel), a duplicate
    # arrival at the SAME new value in the same batch (one +1, not two),
    # and a NULL-group row (merges via the null-safe join)
    seg([make_event(spec, "update", lsn=8, row={"id": 3, "grp": "a", "amount": 9.0},
                    old_key={"id": 3}),
         make_event(spec, "insert", lsn=9, row={"id": 6, "grp": "a", "amount": 9.0}),
         make_event(spec, "insert", lsn=10, row={"id": 7, "grp": None, "amount": 1.0})],
        "seg-004")
    sr.run_until_drained()
    check()
    row = {r["grp"]: (r["n_rows"], r["n_distinct"]) for r in view.read_view().collect()}
    assert row["a"] == (3, 1) and row[None] == (1, 1)

    # group move: b's only row joins a at a value a already has — b's
    # summary row disappears, a's distinct count is unchanged
    seg([make_event(spec, "update", lsn=11, row={"id": 4, "grp": "a", "amount": 9.0},
                    old_key={"id": 4})], "seg-005")
    sr.run_until_drained()
    check()
    row = {r["grp"]: (r["n_rows"], r["n_distinct"]) for r in view.read_view().collect()}
    assert "b" not in row and row["a"] == (4, 1)

    # empty group a and the null group entirely
    seg([make_event(spec, "delete", lsn=12, old_key={"id": 3}),
         make_event(spec, "delete", lsn=13, old_key={"id": 4}),
         make_event(spec, "delete", lsn=14, old_key={"id": 5}),
         make_event(spec, "delete", lsn=15, old_key={"id": 6}),
         make_event(spec, "delete", lsn=16, old_key={"id": 7})],
        "seg-006")
    sr.run_until_drained()
    check()
    assert view.read_view().count() == 0
    assert view.sstore.read(view.sspec).count() == 0


def test_maintained_distinct_view_retry_after_support_orphan_crash(spark, tmp_path):
    """The distinct view's extra crash window: the SUPPORT store advanced
    but the summary/pointer never committed. The retry must re-read the
    pointer's (base, support) versions, rewrite the same buckets with
    identical content on top of the orphan manifest, and converge — no
    double-counted crossings."""
    from connemara_spark.events import BRONZE_SCHEMA
    from connemara_spark.operators.ivm import MaintainedDistinctCountView
    from connemara_spark.pipeline import Replayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    rep = Replayer(spark, cat, store)
    view = MaintainedDistinctCountView(
        spark, store, spec, group_col="grp", val_col="amount",
        val_pg_type="double precision", view_dir=str(tmp_path / "dcview"),
        support_buckets=4,
    )

    def bronze(events):
        return spark.createDataFrame(
            [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
            schema=BRONZE_SCHEMA,
        )

    def run_batch(events):
        rep.step(bronze(events), maintainers=[view])

    run_batch([
        make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 5.0}),
        make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "a", "amount": 5.0}),
        make_event(spec, "insert", lsn=3, row={"id": 3, "grp": "b", "amount": 7.0}),
    ])

    crash = [
        # deletes the last 7.0 (crossing down) and arrives a new value
        make_event(spec, "update", lsn=4, row={"id": 3, "grp": "b", "amount": 8.0},
                   old_key={"id": 3}),
        make_event(spec, "insert", lsn=5, row={"id": 4, "grp": "a", "amount": 6.0}),
    ]
    b = bronze(crash)
    parsed = rep.parse_batch(b)
    view.before_apply(parsed)
    rep.apply_batch(b, events=parsed)
    # partial after_apply: support written, summary/pointer crash
    nxt, _patched = view._patch_frame()
    assert view.last_touched_buckets is not None  # a partial support write
    view._before_commit(nxt)
    orphan_sv = view.sstore.current_version(view.sspec.target_name)
    assert view._meta()["version"] == 1
    assert view._meta()["support_version"] < orphan_sv

    run_batch(crash)  # restart replays the batch end-to-end
    got = {r["grp"]: (r["n_rows"], r["n_distinct"]) for r in view.read_view().collect()}
    assert got == {"a": (3, 2), "b": (1, 1)}
    want_s = sorted(map(tuple, view._full_support(store.read(spec)).collect()))
    got_s = sorted(map(tuple, view.sstore.read(view.sspec).collect()))
    assert got_s == want_s


def test_maintained_distinct_view_support_partial_rewrite(spark, tmp_path):
    """At steady state the support store must rewrite ONLY the buckets the
    batch's net pairs hash into — every other bucket carries forward in
    the copy-on-write manifest (the property that makes the view
    |delta|-bounded when the support multiset is table-sized)."""
    import json
    import os

    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.operators.ivm import MaintainedDistinctCountView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.stores import BucketStore
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    spec = TableSpec(
        database="db1", schema="public", table="sales",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "text"),
                 ColumnSpec("amount", "double precision")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "sales")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
    view = MaintainedDistinctCountView(
        spark, store, spec, group_col="grp", val_col="amount",
        val_pg_type="double precision", view_dir=str(tmp_path / "dcview"),
        support_buckets=8,
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

    # bootstrap: 32 rows, 4 groups, values with duplicates across all
    # support buckets
    seg([make_event(spec, "insert", lsn=i,
                    row={"id": i, "grp": f"g{i % 4}", "amount": float(i % 10)})
         for i in range(1, 33)], "seg-001")
    sr.run_until_drained()

    # steady batch touching ONE pair's worth of new value
    seg([make_event(spec, "insert", lsn=33,
                    row={"id": 100, "grp": "g0", "amount": 555.0})], "seg-002")
    sr.run_until_drained()

    want = sorted(map(tuple, view._full_agg(store.read(spec)).collect()))
    got = sorted(map(tuple, view.read_view().collect()))
    assert got == want, (got, want)
    assert view.last_touched_buckets == 1

    sv = view.sstore.current_version(view.sspec.target_name)
    mdir = os.path.join(str(tmp_path / "dcview"), "support",
                        view.sspec.target_name, f"v{sv:06d}")
    with open(os.path.join(mdir, "MANIFEST.json")) as fh:
        manifest = json.load(fh)
    hosts = [v for v in manifest["buckets"].values() if v is not None]
    rewritten = [v for v in hosts if v == sv]
    carried = [v for v in hosts if v != sv]
    assert len(rewritten) == 1, manifest
    assert carried, manifest  # the untouched buckets carry forward


def test_maintained_distinct_view_support_gc_keeps_view_live(spark, tmp_path):
    """Support-store retention: gc_support(keep_last=2) must retire old
    version directories while (a) the current support read, (b) the next
    batch's version-anchored patch, and (c) refcounted bucket hosts all
    stay intact — the deployment loop is batches interleaved with GC."""
    from connemara_spark.events import BRONZE_SCHEMA
    from connemara_spark.operators.ivm import MaintainedDistinctCountView
    from connemara_spark.pipeline import Replayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    rep = Replayer(spark, cat, store)
    view = MaintainedDistinctCountView(
        spark, store, spec, group_col="grp", val_col="amount",
        val_pg_type="double precision", view_dir=str(tmp_path / "dcview"),
        support_buckets=4,
    )

    def bronze(events):
        return spark.createDataFrame(
            [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
            schema=BRONZE_SCHEMA,
        )

    def run_batch(events):
        rep.step(bronze(events), maintainers=[view])

    lsn = 0
    for batch in range(5):
        evs = []
        for j in range(4):
            lsn += 1
            evs.append(make_event(
                spec, "insert", lsn=lsn,
                row={"id": batch * 10 + j, "grp": f"g{j % 2}",
                     "amount": float((batch * 7 + j) % 5)},
            ))
        run_batch(evs)
        removed = view.gc_support(keep_last=2)
        assert view.sstore.current_version(view.sspec.target_name) >= batch + 1, removed

    # view still equals a recompute after five GC'd batches
    want = sorted(map(tuple, view._full_agg(store.read(spec)).collect()))
    got = sorted(map(tuple, view.read_view().collect()))
    assert got == want, (got, want)
    want_s = sorted(map(tuple, view._full_support(store.read(spec)).collect()))
    got_s = sorted(map(tuple, view.sstore.read(view.sspec).collect()))
    assert got_s == want_s
    # retention actually retired something across five versions
    versions = view.sstore.versions(view.sspec)
    assert len(versions) <= 3, versions


def test_maintained_distinct_view_noop_batch_skips_support_write(spark, tmp_path):
    """A batch whose state diff nets ZERO support change (e.g. an update
    rewriting a row to identical values) must NOT commit a new support
    version: write_partial with bks == [] would commit a content-identical
    manifest, churning versions and forcing more frequent gc_support. The
    pointer instead carries the existing support_version forward."""
    from connemara_spark.events import BRONZE_SCHEMA
    from connemara_spark.operators.ivm import MaintainedDistinctCountView
    from connemara_spark.pipeline import Replayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    rep = Replayer(spark, cat, store)
    view = MaintainedDistinctCountView(
        spark, store, spec, group_col="grp", val_col="amount",
        val_pg_type="double precision", view_dir=str(tmp_path / "dcview"),
        support_buckets=4,
    )

    def bronze(events):
        return spark.createDataFrame(
            [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
            schema=BRONZE_SCHEMA,
        )

    def run_batch(events):
        rep.step(bronze(events), maintainers=[view])

    run_batch([
        make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 5.0}),
        make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "b", "amount": 7.0}),
    ])
    sv0 = view._meta()["support_version"]
    store_versions0 = len(view.sstore.versions(view.sspec))

    # identity update: old state == new state at the key -> empty net pairs
    run_batch([
        make_event(spec, "update", lsn=3,
                   row={"id": 1, "grp": "a", "amount": 5.0}, old_key={"id": 1}),
    ])
    m = view._meta()
    assert m["support_version"] == sv0
    assert len(view.sstore.versions(view.sspec)) == store_versions0
    # ...but the summary view DID advance (new version, same content)
    assert m["version"] == 2

    # and a real change afterwards still commits support normally
    run_batch([
        make_event(spec, "update", lsn=4,
                   row={"id": 1, "grp": "a", "amount": 9.0}, old_key={"id": 1}),
    ])
    assert view._meta()["support_version"] > sv0
    want = sorted(map(tuple, view._full_agg(store.read(spec)).collect()))
    got = sorted(map(tuple, view.read_view().collect()))
    assert got == want, (got, want)
    want_s = sorted(map(tuple, view._full_support(store.read(spec)).collect()))
    got_s = sorted(map(tuple, view.sstore.read(view.sspec).collect()))
    assert got_s == want_s


def test_gc_view_versions_bounds_disk_and_keeps_views_live(spark, tmp_path):
    """Every maintained view writes one version dir per batch; gc_view must
    retire old ones while the view read, the NEXT batch's patch (which
    reads only CURRENT), and crash-retry (re-reads committed CURRENT) all
    keep working — the deployment loop is batches interleaved with GC."""
    import os
    import re

    from connemara_spark.events import BRONZE_SCHEMA
    from connemara_spark.operators.ivm import MaintainedAggView, MaintainedMinMaxView
    from connemara_spark.pipeline import Replayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    rep = Replayer(spark, cat, store)
    agg = MaintainedAggView(
        spark, store, spec, group_col="grp", sum_col="amount",
        view_dir=str(tmp_path / "agg"),
    )
    mm = MaintainedMinMaxView(
        spark, store, spec, group_col="grp", val_col="amount",
        view_dir=str(tmp_path / "mm"),
    )

    def bronze(events):
        return spark.createDataFrame(
            [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
            schema=BRONZE_SCHEMA,
        )

    def run_batch(events):
        rep.step(bronze(events), maintainers=[agg, mm])

    lsn = 0
    for batch in range(4):
        evs = []
        for j in range(3):
            lsn += 1
            evs.append(make_event(
                spec, "insert", lsn=lsn,
                row={"id": batch * 10 + j, "grp": f"g{j % 2}",
                     "amount": float(batch + j)},
            ))
        run_batch(evs)
        agg.gc_view(keep_last=2)
        mm.gc_view(keep_last=1)

    def vdirs(d):
        return sorted(
            e for e in os.listdir(d) if re.fullmatch(r"v\d{6,}", e)
        )

    assert vdirs(str(tmp_path / "agg")) == ["v000003", "v000004"]
    assert vdirs(str(tmp_path / "mm")) == ["v000004"]

    # views still equal a full recompute, and another batch still applies
    for v in (agg, mm):
        want = sorted(map(tuple, v._full_agg(store.read(spec)).collect()))
        got = sorted(map(tuple, v.read_view().collect()))
        assert got == want, (got, want)
    lsn += 1
    run_batch([make_event(spec, "insert", lsn=lsn,
                          row={"id": 99, "grp": "g0", "amount": 42.0})])
    for v in (agg, mm):
        want = sorted(map(tuple, v._full_agg(store.read(spec)).collect()))
        got = sorted(map(tuple, v.read_view().collect()))
        assert got == want, (got, want)


def test_gc_view_versions_retires_seven_digit_dirs(tmp_path):
    """f"v{v:06d}" grows past six digits at version 1,000,000 — GC must
    keep retiring those (an exactly-{6} regex would silently stop right
    when a long-lived stream needs the bound most)."""
    import os

    from connemara_spark.stores import VersionedDir

    d = tmp_path / "view"
    vd = VersionedDir(str(d))
    for v in (999_998, 999_999, 1_000_000, 1_000_001):
        os.makedirs(vd.path(v))
    vd.advance({"version": 1_000_001, "store_version": 7})

    removed = vd.gc(vd.retained(2))
    assert removed == [999_998, 999_999]
    assert sorted(e for e in os.listdir(d) if e != "CURRENT") == [
        "v1000000", "v1000001"
    ]


def test_maintained_agg_view_grid_money_matches_duckdb_recompute(spark, tmp_path):
    """Close the loop between the adversarial-money generator and the IVM
    family (round-10 money work): a MaintainedAggView whose ``sum_expr``
    is the grid-exact money normalization (functions/money.py), fed CDC
    amounts from the decimal-cast DIVERGENCE set (17-digit near-ties,
    exact .005 ties), must equal a **DuckDB** recompute of the same folded
    state under the SQL twin — cross-engine, not Spark-vs-Spark. A bare
    double→DECIMAL cast on this data is engine-divergent (pinned in
    tests/test_money_grid.py); the grid makes the maintained total
    bit-identical in both engines."""
    import duckdb

    from connemara_spark.functions.money import grid_dec_sql
    from connemara_spark.operators.ivm import MaintainedAggView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    grid = grid_dec_sql("amount")  # valid in BOTH Spark SQL and DuckDB
    view = MaintainedAggView(
        spark, store, spec, group_col="grp", sum_col="amount",
        sum_expr=grid, sum_type="decimal(12,2)",
        view_dir=str(tmp_path / "aggview"),
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

    # the divergence set: near-tie shortest reprs where Spark's
    # shortest-string HALF_UP and DuckDB's ~15-sig-digit rounding disagree
    # on a bare cast, plus exact .005 ties and on-grid values
    adversarial = [
        1.7249999999999999, 2.005, 0.0050000000000002, 9.9949999999999999,
        3.1049999999999998, 10.0, 7.77, 0.005, 123.4549999999999997,
        55.125,
    ]

    def duck_recompute():
        state = store.read(spec).toPandas()  # noqa: F841 (duckdb scans it)
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT grp, COUNT(*) AS n_rows, "
            f"CAST(SUM({grid}) AS DECIMAL(12,2)) AS total "
            f"FROM state GROUP BY grp ORDER BY grp"
        ).fetchall()
        con.close()
        return [(g, int(n), str(t)) for g, n, t in rows]

    def spark_view():
        return sorted(
            (r["grp"], int(r["n_rows"]), str(r["total"]))
            for r in view.read_view().collect()
        )

    seg([
        make_event(spec, "insert", lsn=i + 1,
                   row={"id": i + 1, "grp": "ab"[i % 2], "amount": v})
        for i, v in enumerate(adversarial)
    ], "seg-001")
    sr.run_until_drained()
    assert spark_view() == duck_recompute()

    # updates move near-tie values ACROSS groups (both groups patch with
    # the grid transform on each side) and a delete removes a tie value
    seg([
        make_event(spec, "update", lsn=11,
                   row={"id": 1, "grp": "b", "amount": 4.4649999999999999},
                   old_key={"id": 1}),
        make_event(spec, "delete", lsn=12, old_key={"id": 2}),
        make_event(spec, "insert", lsn=13,
                   row={"id": 99, "grp": "c", "amount": 0.9950000000000001}),
    ], "seg-002")
    sr.run_until_drained()
    assert spark_view() == duck_recompute()


def test_single_table_maintainers_detect_pk_rename(spark, tmp_path):
    """Rename-blindness regression (r10 ADVICE): EngineCatalog.rename_column
    mutates TableSpec objects IN PLACE, so a maintainer that derives its
    check_schema need-set lazily from the live spec.pk_cols can never see a
    PK rename — the spec it compares against mutated along with the catalog.
    All four single-table maintainers must pin the need-set at construction
    (as MaintainedTwoTableJoinView always did) and fail check_schema loudly
    after a PK-column rename."""
    from connemara_spark.operators.ivm import (
        MaintainedAggView,
        MaintainedDistinctCountView,
        MaintainedMinMaxView,
        MaintainedTopKView,
    )

    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    views = [
        MaintainedAggView(
            spark, store, spec, group_col="grp", sum_col="amount",
            view_dir=str(tmp_path / "v_agg"),
        ),
        MaintainedMinMaxView(
            spark, store, spec, group_col="grp", val_col="amount",
            val_type="double", view_dir=str(tmp_path / "v_mm"),
        ),
        MaintainedTopKView(
            spark, store, spec, group_col="grp", val_col="amount",
            k=3, val_type="double", view_dir=str(tmp_path / "v_tk"),
        ),
        MaintainedDistinctCountView(
            spark, store, spec, group_col="grp", val_col="amount",
            val_pg_type="double precision", view_dir=str(tmp_path / "v_dc"),
        ),
    ]
    for v in views:
        v.check_schema(cat)  # pre-rename: everything resolves

    cat.rename_column("db1", "public", "sales", "id", "id_renamed")
    for v in views:
        with pytest.raises(RuntimeError, match="id"):
            v.check_schema(cat)


def test_minmax_topk_patch_broadcast_fallback(spark, tmp_path, monkeypatch):
    """Above _PATCH_GROUP_LITERALS touched groups the patch write falls back
    from literal IN-list pruning to the broadcast anti/semi-join shape;
    pin that branch (cap=0 forces it) to the same view-equals-recompute
    contract the default literal branch is pinned to elsewhere."""
    from connemara_spark.operators.ivm import MaintainedMinMaxView, MaintainedTopKView
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    from connemara_spark.operators import ivm

    monkeypatch.setattr(ivm, "_PATCH_GROUP_LITERALS", 0)
    cat, spec, store = _agg_spec_setup(spark, tmp_path)
    mm = MaintainedMinMaxView(
        spark, store, spec, group_col="grp", val_col="amount",
        view_dir=str(tmp_path / "mm"),
    )
    tk = MaintainedTopKView(
        spark, store, spec, group_col="grp", val_col="amount",
        k=2, slack=1, val_type="double", view_dir=str(tmp_path / "tk"),
    )
    sr = StreamingReplayer(
        spark, cat, store,
        landing_dir=str(tmp_path / "spool"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        landing_format="wal_spool",
        maintainers=[mm, tk],
    )

    def seg(events, name):
        write_segment(str(tmp_path / "spool"), [dict(e) for e in events], name)

    def check():
        from pyspark.sql import functions as F

        want = sorted(map(repr, mm._full_agg(store.read(spec)).collect()))
        got = sorted(map(repr, mm.read_view().collect()))
        assert got == want, (got, want)
        want_tk = sorted(
            (r["grp"], r["n_rows"], [(float(p["v"]), p["id"]) for p in r["top"]])
            for r in tk._full_agg(store.read(spec)).select(
                "grp", "n_rows", F.slice("top", 1, 2).alias("top")
            ).collect()
        )
        got_tk = sorted(
            (r["grp"], r["n_rows"], [(float(p["v"]), p["id"]) for p in r["top"]])
            for r in tk.read_view().collect()
        )
        assert got_tk == want_tk, (got_tk, want_tk)

    # group a: 4 rows, k+slack=3 stored (9,8,5), amount 3.0 unstored
    seg([make_event(spec, "insert", lsn=1, row={"id": 1, "grp": "a", "amount": 5.0}),
         make_event(spec, "insert", lsn=2, row={"id": 2, "grp": "a", "amount": 8.0}),
         make_event(spec, "insert", lsn=3, row={"id": 3, "grp": "a", "amount": 9.0}),
         make_event(spec, "insert", lsn=4, row={"id": 5, "grp": "a", "amount": 3.0}),
         make_event(spec, "insert", lsn=5, row={"id": 4, "grp": "b", "amount": 7.0})],
        "seg-001")
    sr.run_until_drained()
    check()
    # burn the buffer below min(k, n') with an unstored runner-up alive so
    # the RESCAN leg runs under the broadcast fallback too
    seg([make_event(spec, "delete", lsn=6, old_key={"id": 3}),
         make_event(spec, "delete", lsn=7, old_key={"id": 2})], "seg-002")
    sr.run_until_drained()
    check()
    assert tk.last_recompute_groups == 1


def _bucketed_sales_views(spark, tmp_path):
    """A BucketStore-backed sales table and one view of each
    version-anchored kind (min/max, top-k, aggregate, distinct count)."""
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.operators.ivm import (
        MaintainedAggView,
        MaintainedDistinctCountView,
        MaintainedMinMaxView,
        MaintainedTopKView,
    )
    from connemara_spark.stores import BucketStore

    spec = TableSpec(
        database="db1", schema="public", table="sales",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "text"),
                 ColumnSpec("amount", "double precision")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "sales")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
    views = {
        "mm": MaintainedMinMaxView(
            spark, store, spec, group_col="grp", val_col="amount",
            view_dir=str(tmp_path / "mm"),
        ),
        "tk": MaintainedTopKView(
            spark, store, spec, group_col="grp", val_col="amount",
            k=2, slack=1, val_type="double", view_dir=str(tmp_path / "tk"),
        ),
        "agg": MaintainedAggView(
            spark, store, spec, group_col="grp", sum_col="amount",
            view_dir=str(tmp_path / "agg"),
        ),
        "dc": MaintainedDistinctCountView(
            spark, store, spec, group_col="grp", val_col="amount",
            val_pg_type="double precision", view_dir=str(tmp_path / "dc"),
            support_buckets=4,
        ),
    }
    return cat, spec, store, views


def _assert_views_equal_recompute(store, spec, views):
    from pyspark.sql import functions as F

    state = store.read(spec)
    for name in views.keys() & {"mm", "agg", "dc"}:
        v = views[name]
        want = sorted(map(repr, v._full_agg(state).collect()))
        got = sorted(map(repr, v.read_view().collect()))
        assert got == want, (name, got, want)
    tk = views["tk"]

    def tops(df):
        return sorted(
            (r["grp"], r["n_rows"], [(float(p["v"]), p["id"]) for p in r["top"]])
            for r in df.collect()
        )

    want = tops(tk._full_agg(state).select(
        "grp", "n_rows", F.slice("top", 1, tk.k).alias("top")))
    assert tops(tk.read_view()) == want


def test_streaming_views_prune_with_summary_bucket_ids(spark, tmp_path, monkeypatch):
    """Through the streaming driver, every version-anchored view prunes its
    patch reads with the batch summary's touched-bucket ids: a drain over
    a BucketStore never calls the base store's ``buckets_of`` (a driver
    collect per view per batch), and every view equals a full recompute
    after every drain."""
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import make_event

    cat, spec, store, views = _bucketed_sales_views(spark, tmp_path)
    calls = []
    real = store.buckets_of

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(store, "buckets_of", counting)

    def drain(events, name):
        write_segment(str(tmp_path / "spool"), [dict(e) for e in events], name)
        StreamingReplayer(
            spark, cat, store,
            landing_dir=str(tmp_path / "spool"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            landing_format="wal_spool",
            maintainers=list(views.values()),
        ).run_until_drained()

    drain([
        make_event(spec, "insert", lsn=i,
                   row={"id": i, "grp": "abc"[i % 3], "amount": float(i % 5)})
        for i in range(1, 19)
    ], "seg-001")
    _assert_views_equal_recompute(store, spec, views)
    # steady state: group-moving update, deletes of a group's extrema
    # (rescan legs), an insert and a NULL value
    drain([
        make_event(spec, "update", lsn=19, row={"id": 4, "grp": "c", "amount": 7.5},
                   old_key={"id": 4}),
        make_event(spec, "delete", lsn=20, old_key={"id": 3}),
        make_event(spec, "delete", lsn=21, old_key={"id": 9}),
        make_event(spec, "delete", lsn=22, old_key={"id": 15}),
        make_event(spec, "insert", lsn=23, row={"id": 40, "grp": "b", "amount": 2.25}),
        make_event(spec, "insert", lsn=24, row={"id": 41, "grp": "a", "amount": None}),
    ], "seg-002")
    _assert_views_equal_recompute(store, spec, views)
    drain([
        make_event(spec, "update", lsn=25, row={"id": 40, "grp": "b", "amount": 9.0},
                   old_key={"id": 40}),
    ], "seg-003")
    _assert_views_equal_recompute(store, spec, views)
    assert calls == []


def _patch_job_counts(spark, tmp_path):
    """Step three batches through all four version-anchored views over a
    BucketStore — the last one exhausts a min/max extremum, so the rescan
    leg fires — and return the (min/max, top-k) patches' Spark job counts
    on that batch, after checking every view against a full recompute."""
    import uuid

    from connemara_spark.events import BRONZE_SCHEMA
    from connemara_spark.pipeline import Replayer
    from connemara_spark.testing import make_event

    def bronze_df(spark, events):
        return spark.createDataFrame(
            [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
            schema=BRONZE_SCHEMA,
        )

    cat, spec, store, views = _bucketed_sales_views(spark, tmp_path)
    rep = Replayer(spark, cat, store)
    mm, tk = views["mm"], views["tk"]
    sc = spark.sparkContext
    groups = {}

    def in_job_group(view, name):
        run = view.after_apply

        def after_apply(batch_id=None):
            gid = groups[name] = f"{name}-{uuid.uuid4().hex}"
            sc.setJobGroup(gid, gid)
            try:
                run(batch_id=batch_id)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        view.after_apply = after_apply

    in_job_group(mm, "mm")
    in_job_group(tk, "tk")

    def jobs(name):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(groups[name]))

    maintainers = list(views.values())
    rep.step(bronze_df(spark, [
        make_event(spec, "insert", lsn=i,
                   row={"id": i, "grp": "ab"[i % 2], "amount": float(i)})
        for i in range(1, 13)
    ]), maintainers=maintainers)
    rep.step(bronze_df(spark, [
        make_event(spec, "insert", lsn=13, row={"id": 13, "grp": "a", "amount": 6.5}),
    ]), maintainers=maintainers)
    # group b's minimum (1.0, id 1) is unique: deleting it exhausts the
    # extremum and the min/max patch must rescan the group
    rep.step(bronze_df(spark, [
        make_event(spec, "delete", lsn=14, old_key={"id": 1}),
        make_event(spec, "update", lsn=15, row={"id": 4, "grp": "a", "amount": 20.0},
                   old_key={"id": 4}),
    ]), maintainers=maintainers)
    assert mm.last_recompute_groups == 1
    _assert_views_equal_recompute(store, spec, views)
    return jobs("mm"), jobs("tk")


def test_minmax_topk_patch_is_two_jobs(spark, tmp_path):
    """The min/max and top-k patches each submit exactly TWO Spark jobs per
    steady-state batch — the gate collect that computes the per-group
    patch frame and the view write — even on a batch that exhausts a
    min/max extremum, where the write also carries the rescan leg."""
    assert _patch_job_counts(spark, tmp_path) == (2, 2)


def test_steady_state_steps_compile_batch_invariant_code(spark, tmp_path):
    """From the third batch on, a ``Replayer.step`` with min/max and top-k
    views over a BucketStore compiles (``BatchMetrics.compiles``) at most
    one generated class (0 measured), although every batch touches a
    different set of integer groups and exhausts a different group's
    extremum (a rescan leg): the patches' IN-lists put no literal in
    generated code, and the codegen cache holds a batch's working set
    (at Spark's default of 100 entries every step recompiles ~150
    classes). Every view equals a full recompute after every batch."""
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.events import BRONZE_SCHEMA
    from connemara_spark.operators.ivm import MaintainedMinMaxView, MaintainedTopKView
    from connemara_spark.pipeline import Replayer
    from connemara_spark.stores import BucketStore
    from connemara_spark.testing import make_event

    cat = EngineCatalog()
    cat.register(TableSpec(
        database="db1", schema="public", table="sales",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "integer"),
                 ColumnSpec("amount", "double precision")],
        pk_cols=["id"],
    ))
    spec = cat.get("db1", "public", "sales")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
    views = {
        "mm": MaintainedMinMaxView(
            spark, store, spec, group_col="grp", val_col="amount",
            view_dir=str(tmp_path / "mm"),
        ),
        "tk": MaintainedTopKView(
            spark, store, spec, group_col="grp", val_col="amount",
            k=2, slack=1, val_type="double", view_dir=str(tmp_path / "tk"),
        ),
    }
    rep = Replayer(spark, cat, store)
    lsn = iter(range(1, 1000))

    def step(events):
        m = rep.step(spark.createDataFrame(
            [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
            schema=BRONZE_SCHEMA,
        ), maintainers=list(views.values()))
        _assert_views_equal_recompute(store, spec, views)
        return m

    # group g holds amounts g, g+10, ..., g+50: its minimum is row id g
    # (id 60 for group 0) and its maximum row id g+50 (id 50 for group 0)
    step([make_event(spec, "insert", lsn=next(lsn),
                     row={"id": i, "grp": i % 10, "amount": float(i)})
          for i in range(1, 61)])
    compiles = []
    for g in range(1, 8):
        # delete group g's unique minimum (a min/max rescan) and its
        # maximum (the top-k's best entry), and move up to four of its
        # rows to the next groups, so each batch touches a different
        # number of groups
        events = [
            make_event(spec, "delete", lsn=next(lsn), old_key={"id": g}),
            make_event(spec, "delete", lsn=next(lsn), old_key={"id": g + 50}),
        ] + [
            make_event(spec, "update", lsn=next(lsn),
                       row={"id": g + 10 * j, "grp": (g + j) % 10, "amount": 100.0 + g + j},
                       old_key={"id": g + 10 * j})
            for j in range(1, min(g - 1, 4) + 1)
        ]
        m = step(events)
        assert views["mm"].last_recompute_groups >= 1
        compiles.append(m.compiles)
    assert max(compiles[1:]) <= 1, compiles


def test_large_touched_reads_broadcast_the_touched_keys(spark, tmp_path, monkeypatch):
    """Above ``_SHUFFLE_TOUCHED_READ_BYTES`` of touched-bucket reads, the
    patches filter those reads with a broadcast of the touched keys
    instead of shuffling them whole: one more job per patch (the
    broadcast), and every view still equals a full recompute."""
    from connemara_spark.operators import ivm

    monkeypatch.setattr(ivm, "_SHUFFLE_TOUCHED_READ_BYTES", 0)
    assert _patch_job_counts(spark, tmp_path) == (3, 3)


def test_join_view_steady_patch_prunes_with_summary_bucket_ids(spark, tmp_path, monkeypatch):
    """A MaintainedJoinView over a BucketStore reads the new state of a
    steady-state patch through the batch summary's touched-bucket ids:
    the store's ``buckets_of`` (a driver collect per patch) is never
    called, and the view equals the full join after every batch."""
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.events import BRONZE_SCHEMA
    from connemara_spark.operators.ivm import MaintainedJoinView
    from connemara_spark.pipeline import Replayer
    from connemara_spark.stores import BucketStore
    from connemara_spark.testing import make_event

    cat = EngineCatalog()
    cat.register(TableSpec(
        database="db1", schema="public", table="items",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("v", "text")],
        pk_cols=["id"],
    ))
    spec = cat.get("db1", "public", "items")
    store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
    rep = Replayer(spark, cat, store)
    dim = spark.createDataFrame(
        [(i, f"tier{i % 3}") for i in range(1, 40)], "id long, tier string"
    )
    view = MaintainedJoinView(
        spark, store, spec, dim=dim, key_a="id", key_b="id",
        view_cols=["id", "v", "tier"], view_dir=str(tmp_path / "view"),
    )

    def no_collect(*args, **kwargs):
        raise AssertionError("buckets_of called")

    monkeypatch.setattr(store, "buckets_of", no_collect)

    def step(events):
        rep.step(spark.createDataFrame(
            [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
            schema=BRONZE_SCHEMA,
        ), maintainers=[view])
        want = sorted(map(tuple, view._full_agg(store.read(spec)).collect()))
        assert sorted(map(tuple, view.read_view().collect())) == want

    step([make_event(spec, "insert", lsn=i, row={"id": i, "v": f"v{i}"})
          for i in range(1, 21)])
    step([
        make_event(spec, "update", lsn=21, row={"id": 3, "v": "v3b"}, old_key={"id": 3}),
        make_event(spec, "delete", lsn=22, old_key={"id": 7}),
        make_event(spec, "insert", lsn=23, row={"id": 30, "v": "v30"}),
    ])
    step([make_event(spec, "update", lsn=24, row={"id": 31, "v": "v31"},
                     old_key={"id": 30})])
    assert view._meta()["version"] == 3

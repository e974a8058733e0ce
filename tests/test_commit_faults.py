"""Fault injection at the one commit point.

Every versioned artifact — the six maintained views, ``BucketStore`` and
``ParquetStore`` tables (``stores.VersionedDir``) and the ANN index's
META (``stores.atomic_write_json``) — commits by writing its data first
and moving one pointer last. Each case below crashes exactly once between
the two, asserts the data was written and the pointer did not move, then
re-runs the same batch through the normal path and checks convergence:
a view against its full recompute, a store against
``testing.SequentialOracle``, the ANN index against an uncrashed twin.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest


class _Crash(RuntimeError):
    pass


def _crash_once_at(monkeypatch, root: str) -> list[bool]:
    """Make the next ``VersionedDir.advance`` of the directory ``root``
    raise; returns a flag list that reads ``[False]`` once it fired."""
    from connemara_spark.stores import VersionedDir

    real = VersionedDir.advance
    armed = [True]

    def advance(self, meta):
        if armed[0] and os.path.normpath(self.root) == os.path.normpath(root):
            armed[0] = False
            raise _Crash(f"injected crash before {self.root}/CURRENT moved")
        return real(self, meta)

    monkeypatch.setattr(VersionedDir, "advance", advance)
    return armed


def _bronze(spark, events):
    from connemara_spark.events import BRONZE_SCHEMA

    return spark.createDataFrame(
        [tuple(e[f.name] for f in BRONZE_SCHEMA.fields) for e in events],
        schema=BRONZE_SCHEMA,
    )


def _specs():
    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec

    cat = EngineCatalog()
    for spec in (
        TableSpec(
            database="db1", schema="public", table="sales",
            columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "text"),
                     ColumnSpec("amount", "double precision")],
            pk_cols=["id"],
        ),
        TableSpec(
            database="db1", schema="public", table="notes",
            columns=[ColumnSpec("nid", "bigint"), ColumnSpec("note", "text")],
            pk_cols=["nid"],
        ),
    ):
        cat.register(spec)
    return cat, cat.get("db1", "public", "sales"), cat.get("db1", "public", "notes")


def _batches(sales, notes):
    """Bootstrap, the crashing batch (a group-moving update, deletes that
    exhaust group b's minimum, a NULL value, changes on both tables) and
    one more steady batch."""
    from connemara_spark.testing import make_event

    b1 = [
        make_event(sales, "insert", lsn=i,
                   row={"id": i, "grp": "ab"[i % 2], "amount": float(i)})
        for i in range(1, 13)
    ] + [
        make_event(notes, "insert", lsn=20 + i, row={"nid": i, "note": f"n{i}"})
        for i in range(1, 7)
    ]
    b2 = [
        make_event(sales, "update", lsn=31, row={"id": 4, "grp": "c", "amount": 7.5},
                   old_key={"id": 4}),
        make_event(sales, "delete", lsn=32, old_key={"id": 1}),
        make_event(sales, "delete", lsn=33, old_key={"id": 3}),
        make_event(sales, "insert", lsn=34, row={"id": 40, "grp": "b", "amount": 2.25}),
        make_event(sales, "insert", lsn=35, row={"id": 41, "grp": "a", "amount": None}),
        make_event(notes, "update", lsn=36, row={"nid": 2, "note": "n2b"},
                   old_key={"nid": 2}),
        make_event(notes, "delete", lsn=37, old_key={"nid": 5}),
        make_event(notes, "insert", lsn=38, row={"nid": 40, "note": "n40"}),
    ]
    b3 = [
        make_event(sales, "update", lsn=41, row={"id": 40, "grp": "b", "amount": 9.0},
                   old_key={"id": 40}),
        make_event(notes, "insert", lsn=42, row={"nid": 6, "note": "n6b"}),
    ]
    return b1, b2, b3


def _view(kind, spark, store, sales, notes, view_dir):
    from connemara_spark.operators import ivm

    if kind == "agg":
        return ivm.MaintainedAggView(
            spark, store, sales, group_col="grp", sum_col="amount", view_dir=view_dir,
        )
    if kind == "join":
        dim = spark.createDataFrame(
            [(i, f"tier{i % 3}") for i in range(1, 50)], "id long, tier string"
        )
        return ivm.MaintainedJoinView(
            spark, store, sales, dim=dim, key_a="id", key_b="id",
            view_cols=["id", "grp", "amount", "tier"], view_dir=view_dir,
        )
    if kind == "two_table":
        return ivm.MaintainedTwoTableJoinView(
            spark, store, sales, notes, key_a="id", key_b="nid",
            view_cols=["id", "grp", "amount", "note"], view_dir=view_dir,
        )
    if kind == "minmax":
        return ivm.MaintainedMinMaxView(
            spark, store, sales, group_col="grp", val_col="amount", view_dir=view_dir,
        )
    if kind == "topk":
        return ivm.MaintainedTopKView(
            spark, store, sales, group_col="grp", val_col="amount",
            k=2, slack=1, val_type="double", view_dir=view_dir,
        )
    assert kind == "distinct"
    return ivm.MaintainedDistinctCountView(
        spark, store, sales, group_col="grp", val_col="amount",
        val_pg_type="double precision", view_dir=view_dir, support_buckets=4,
    )


def _assert_view_converged(view, store, specs):
    want = view._for_readers(view._full_agg(*(store.read(s) for s in specs)))
    assert sorted(map(repr, view.read_view().collect())) == sorted(
        map(repr, want.collect())
    )


def _assert_store_converged(store, spec, events):
    from connemara_spark.testing import SequentialOracle

    oracle = SequentialOracle(spec, [])
    oracle.apply(events)
    want = Counter(tuple(sorted(r.items())) for r in oracle.rows())
    got = Counter(tuple(sorted(r.asDict().items())) for r in store.read(spec).collect())
    assert got == want


VIEWS = ["agg", "join", "two_table", "minmax", "topk", "distinct"]


@pytest.mark.parametrize(
    "case", [*VIEWS, "bucket_store_partial", "parquet_store", "ann_append"]
)
def test_crash_between_data_write_and_pointer_advance_converges(
    case, spark, sf_dir, tmp_path, monkeypatch
):
    if case == "ann_append":
        _ann_append_case(spark, sf_dir, tmp_path, monkeypatch)
        return
    from connemara_spark.pipeline import ParquetStore, Replayer
    from connemara_spark.stores import BucketStore

    cat, sales, notes = _specs()
    if case == "parquet_store":
        store = ParquetStore(spark, str(tmp_path / "silver"))
        tdir = store._vd(sales.target_name).root
    else:
        store = BucketStore(spark, str(tmp_path / "silver"), n_buckets=8)
        tdir = store._tdir(sales.target_name)
    rep = Replayer(spark, cat, store)
    b1, b2, b3 = _batches(sales, notes)
    view = (
        _view(case, spark, store, sales, notes, str(tmp_path / "view"))
        if case in VIEWS
        else None
    )
    maintainers = [view] if view is not None else []
    rep.step(_bronze(spark, b1), maintainers=maintainers)

    if view is not None:
        armed = _crash_once_at(monkeypatch, view.view_dir)
        with pytest.raises(_Crash):
            rep.step(_bronze(spark, b2), maintainers=maintainers)
        # the patched version was written; the pointer stayed put
        assert view._meta()["version"] == 1
        assert os.path.isdir(view._vd.path(2))
    else:
        armed = _crash_once_at(monkeypatch, tdir)
        with pytest.raises(_Crash):
            rep.step(_bronze(spark, b2))
        assert store._vd(sales.target_name).current() == 1
        assert os.path.isdir(store._vd(sales.target_name).path(2))
        if case == "bucket_store_partial":
            assert os.path.exists(
                os.path.join(store._vdir(sales.target_name, 2), "MANIFEST.json")
            )
    assert armed == [False]

    # restart: the same batch replays through the normal path, then the
    # stream goes on
    for batch in (b2, b3):
        rep.step(_bronze(spark, batch), maintainers=maintainers)
    if view is None:
        for spec in (sales, notes):
            _assert_store_converged(store, spec, b1 + b2 + b3)
    else:
        assert view._meta()["version"] == 3
        specs = [sales, notes] if case == "two_table" else [sales]
        _assert_view_converged(view, store, specs)


def _ann_append_case(spark, sf_dir, tmp_path, monkeypatch):
    import shutil

    from connemara_spark.operators import annindex
    from connemara_spark.queries import load, spread

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")
    crashed, twin = str(tmp_path / "idx"), str(tmp_path / "twin")
    annindex.build_ann_index(
        half_a, crashed, dim=64, n_cells=32, m=8, k_cb=16, seed=42, train_seed=3
    )
    shutil.copytree(crashed, twin)

    real = annindex.atomic_write_json
    armed = [True]

    def commit(path, obj):
        if armed[0]:
            armed[0] = False
            raise _Crash(f"injected crash before {path} moved")
        return real(path, obj)

    monkeypatch.setattr(annindex, "atomic_write_json", commit)
    with pytest.raises(_Crash):
        annindex.append_to_ann_index(half_b, crashed, batch_id="1")
    assert armed == [False]
    # the staged append was written; META does not name it
    assert os.path.isdir(annindex._append_dir(crashed, "1"))
    meta, _, _ = annindex.load_ann_index(spark, crashed)
    assert meta.get("appends", []) == []

    annindex.append_to_ann_index(half_b, crashed, batch_id="1")
    annindex.append_to_ann_index(half_b, twin, batch_id="1")

    def topk(d):
        return sorted(
            map(tuple, annindex.ivfpq_topk_indexed(emb, d, k=10, n_probe=4, rerank=50).collect())
        )

    assert topk(crashed) == topk(twin)

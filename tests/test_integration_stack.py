"""Capstone integration: the full production stack in one life story.

wal_spool streaming -> Replayer -> BucketStore partial rewrites, with a
MaintainedAggView patched inside each microbatch commit, surviving (in
order): bootstrap, steady-state batches, a mid-stream DDL ADD COLUMN, an
injected crash between store-advance and view-write, idle-maintenance
compaction + GC, and more streaming afterwards. Each seam is tested
elsewhere in isolation; this test exists because integration bugs live
BETWEEN features (e.g. compaction GC retiring the view's recovery
anchor, or bucket-pruned view reads after a schema evolution).
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
from connemara_spark.operators.ivm import MaintainedAggView
from connemara_spark.ops import Maintenance
from connemara_spark.sources.replication import write_segment
from connemara_spark.stores import BucketStore
from connemara_spark.streaming import StreamingReplayer
from connemara_spark.testing import make_event


def _ddl_event(lsn, query, database="db1"):
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
        "payload": json.dumps(payload),
    }


def test_full_stack_life_story(spark, tmp_path):
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

    def make_view():
        return MaintainedAggView(
            spark, store, spec, group_col="grp", sum_col="amount",
            view_dir=str(tmp_path / "view"),
        )

    def make_sr(maintainers):
        return StreamingReplayer(
            spark, cat, store,
            landing_dir=str(tmp_path / "spool"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            landing_format="wal_spool",
            maintainers=maintainers,
        )

    def seg(events, name):
        write_segment(str(tmp_path / "spool"), [dict(e) for e in events], name)

    def check(view):
        want = sorted(map(tuple, view._full_agg(store.read(spec)).collect()))
        got = sorted(map(tuple, view.read_view().collect()))
        assert got == want, (got, want)

    view = make_view()

    # 1. bootstrap drain: inserts across groups
    seg([make_event(spec, "insert", lsn=i, row={"id": i, "grp": "ab"[i % 2], "amount": float(i)})
         for i in range(1, 11)], "seg-001")
    make_sr([view]).run_until_drained()
    check(view)

    # 2. steady state: updates (group move), deletes, inserts — the
    #    bucket-pruned delta path (view version > 0 over a BucketStore)
    seg([make_event(spec, "update", lsn=11, row={"id": 2, "grp": "b", "amount": 20.0}, old_key={"id": 2}),
         make_event(spec, "delete", lsn=12, old_key={"id": 3}),
         make_event(spec, "insert", lsn=13, row={"id": 50, "grp": "c", "amount": 5.0})],
        "seg-002")
    make_sr([view]).run_until_drained()
    check(view)

    # 3. mid-stream DDL the view does not project + more data in the SAME
    #    drain: the barrier evolves the bucketed table, the view continues
    seg([_ddl_event(14, "ALTER TABLE public.sales ADD COLUMN region text"),
         make_event(spec, "insert", lsn=15, row={"id": 60, "grp": "c", "amount": 1.5})],
        "seg-003")
    make_sr([view]).run_until_drained()
    check(view)

    # 4. crash between store-advance and view-write; restart converges
    class Crash:
        """Wraps the view: the store advances, the view write never runs."""

        def __init__(self, view):
            self.view = view

        def before_apply(self, parsed, buckets=None):
            self.view.before_apply(parsed, buckets=buckets)

        def after_apply(self, batch_id=None):
            raise RuntimeError("injected crash")

    seg([make_event(spec, "update", lsn=16, row={"id": 1, "grp": "b", "amount": 100.0}, old_key={"id": 1})],
        "seg-004")
    with pytest.raises(Exception, match="injected crash"):
        make_sr([Crash(view)]).run_until_drained()
    view = make_view()  # process death: fresh objects, same dirs
    make_sr([view]).run_until_drained()
    check(view)

    # 5. idle maintenance compacts the (now long) version chain with the
    #    view still attached — keep_last=2 must preserve its recovery
    #    anchor so the NEXT streaming patch still works
    maint = Maintenance(store, cat, max_chain=2, keep_last=2)
    reports = maint.run(progress={"inputRowsPerSecond": 0.0})
    assert reports and reports[0].table == spec.target_name

    seg([make_event(spec, "insert", lsn=17, row={"id": 70, "grp": "a", "amount": 7.0}),
         make_event(spec, "delete", lsn=18, old_key={"id": 50})],
        "seg-005")
    make_sr([view]).run_until_drained()
    check(view)

    # final state sanity against a hand model
    rows = {r["id"]: (r["grp"], r["amount"]) for r in store.read(spec).collect()}
    assert rows[1] == ("b", 100.0) and rows[2] == ("b", 20.0)
    assert 3 not in rows and 50 not in rows
    assert rows[60] == ("c", 1.5) and rows[70] == ("a", 7.0)
    got = {r["grp"]: (r["n_rows"], float(r["total"])) for r in view.read_view().collect()}
    assert got["c"] == (1, 1.5)

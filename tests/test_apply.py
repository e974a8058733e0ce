"""CDC apply core vs the sequential oracle (the reference's semantics)."""

from __future__ import annotations

import math
from datetime import datetime

import pytest

from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
from connemara_spark.events import BRONZE_SCHEMA, parse_events
from connemara_spark.operators.apply import apply_changes, latest_wins
from connemara_spark.testing import SequentialOracle, make_event, random_event_stream

CUST = TableSpec(
    database="db1",
    schema="public",
    table="customer",
    columns=[
        ColumnSpec("c_custkey", "bigint"),
        ColumnSpec("c_name", "text"),
        ColumnSpec("c_nationkey", "integer"),
        ColumnSpec("c_acctbal", "double precision"),
        ColumnSpec("c_mktsegment", "text"),
    ],
    pk_cols=["c_custkey"],
)

LINE = TableSpec(
    database="db1",
    schema="public",
    table="lineitem",
    columns=[
        ColumnSpec("l_orderkey", "bigint"),
        ColumnSpec("l_linenumber", "integer"),
        ColumnSpec("l_quantity", "double precision"),
        ColumnSpec("l_comment", "text"),
    ],
    pk_cols=["l_orderkey", "l_linenumber"],  # composite PK case (FIXTURES F3)
)


def _rows_match(spark_rows, oracle_rows, pk_cols):
    key = lambda r: tuple(str(r[k]) for k in pk_cols)
    s = {key(r): r for r in spark_rows}
    o = {key(r): r for r in oracle_rows}
    assert set(s) == set(o), f"key sets differ: only-spark={set(s)-set(o)} only-oracle={set(o)-set(s)}"
    for k in s:
        for col in s[k]:
            sv, ov = s[k][col], o[k][col]
            if isinstance(sv, float) and isinstance(ov, float):
                assert math.isclose(sv, ov, rel_tol=1e-9), (k, col, sv, ov)
            else:
                assert sv == ov, (k, col, sv, ov)


def _base_customers(n=50):
    return [
        {
            "c_custkey": i,
            "c_name": f"Customer#{i}",
            "c_nationkey": i % 25,
            "c_acctbal": round(100.0 + i, 2),
            "c_mktsegment": ["AUTO", "BUILDING", "MACHINERY"][i % 3],
        }
        for i in range(1, n + 1)
    ]


def _run_apply(spark, spec, base_rows, bronze_rows):
    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in spec.columns) for r in base_rows], schema=spec.spark_schema()
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in bronze_rows], schema=BRONZE_SCHEMA
    )
    events = parse_events(bronze)
    return apply_changes(snapshot, events, spec)


def test_insert_update_delete_roundtrip(spark):
    base = _base_customers(10)
    evs = [
        make_event(CUST, "insert", lsn=1, row={"c_custkey": 100, "c_name": "New", "c_nationkey": 7, "c_acctbal": 1.5, "c_mktsegment": "AUTO"}),
        make_event(CUST, "update", lsn=2, row={**base[0], "c_acctbal": 999.0}),
        make_event(CUST, "delete", lsn=3, old_key={"c_custkey": 2}),
    ]
    oracle = SequentialOracle(CUST, base)
    oracle.apply(evs)
    result = _run_apply(spark, CUST, base, evs).collect()
    _rows_match([r.asDict() for r in result], oracle.rows(), CUST.pk_cols)
    assert len(result) == 10  # 10 - 1 delete + 1 insert


def test_partial_column_update_keeps_old_values(spark):
    """Absent TOAST columns keep the old value (replay.pl:186-194)."""
    base = _base_customers(3)
    evs = [
        make_event(
            CUST, "update", lsn=1,
            row={"c_custkey": 1, "c_acctbal": 777.0},
            old_key={"c_custkey": 1},
            present=["c_custkey", "c_acctbal"],
        )
    ]
    result = {r["c_custkey"]: r.asDict() for r in _run_apply(spark, CUST, base, evs).collect()}
    assert result[1]["c_acctbal"] == 777.0
    assert result[1]["c_name"] == "Customer#1"  # untouched
    assert result[1]["c_mktsegment"] == "BUILDING"


def test_pk_change_update_moves_row(spark):
    """PK-change update = delete(old)+insert(new) (replay.pl:905-950)."""
    base = _base_customers(3)
    evs = [
        make_event(
            CUST, "update", lsn=1,
            row={"c_custkey": 555, "c_name": "Customer#1", "c_nationkey": 0, "c_acctbal": 101.0, "c_mktsegment": "BUILDING"},
            old_key={"c_custkey": 1},
        )
    ]
    result = {r["c_custkey"]: r.asDict() for r in _run_apply(spark, CUST, base, evs).collect()}
    assert 1 not in result
    assert result[555]["c_name"] == "Customer#1"
    assert len(result) == 3


def test_explicit_null_vs_absent_column(spark):
    base = _base_customers(2)
    evs = [
        # explicit null present -> becomes NULL
        make_event(CUST, "update", lsn=1, row={"c_custkey": 1, "c_name": None},
                   old_key={"c_custkey": 1}, present=["c_custkey", "c_name"]),
        # absent -> keeps old
        make_event(CUST, "update", lsn=2, row={"c_custkey": 2, "c_acctbal": 5.0},
                   old_key={"c_custkey": 2}, present=["c_custkey", "c_acctbal"]),
    ]
    result = {r["c_custkey"]: r.asDict() for r in _run_apply(spark, CUST, base, evs).collect()}
    assert result[1]["c_name"] is None
    assert result[2]["c_name"] == "Customer#2"


def test_reinsert_after_delete_same_batch(spark):
    base = _base_customers(2)
    evs = [
        make_event(CUST, "delete", lsn=1, old_key={"c_custkey": 1}),
        make_event(CUST, "insert", lsn=2, row={"c_custkey": 1, "c_name": "Reborn", "c_nationkey": 9, "c_acctbal": 0.0, "c_mktsegment": "AUTO"}),
        make_event(CUST, "update", lsn=3, row={"c_custkey": 1, "c_acctbal": 42.0}, old_key={"c_custkey": 1}, present=["c_custkey", "c_acctbal"]),
    ]
    result = {r["c_custkey"]: r.asDict() for r in _run_apply(spark, CUST, base, evs).collect()}
    assert result[1]["c_name"] == "Reborn"
    assert result[1]["c_acctbal"] == 42.0


def test_randomized_stream_matches_sequential_oracle(spark):
    base = _base_customers(50)
    evs = random_event_stream(CUST, base, n_events=300, seed=7)
    oracle = SequentialOracle(CUST, base)
    oracle.apply(evs)
    result = [r.asDict() for r in _run_apply(spark, CUST, base, evs).collect()]
    _rows_match(result, oracle.rows(), CUST.pk_cols)


def test_composite_pk_stream(spark):
    base = [
        {"l_orderkey": o, "l_linenumber": ln, "l_quantity": float(o + ln), "l_comment": f"c{o}-{ln}"}
        for o in range(1, 11) for ln in range(1, 4)
    ]
    evs = random_event_stream(LINE, base, n_events=150, seed=11)
    oracle = SequentialOracle(LINE, base)
    oracle.apply(evs)
    result = [r.asDict() for r in _run_apply(spark, LINE, base, evs).collect()]
    _rows_match(result, oracle.rows(), LINE.pk_cols)


def test_latest_wins(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "x")], "k int, ord int, v string"
    )
    out = {r["k"]: r["v"] for r in latest_wins(df, ["k"], ["ord"]).collect()}
    assert out == {1: "b", 2: "x"}


def test_partial_update_with_absent_pk_is_not_a_pk_change(spark):
    """An update whose columnnames omit the PK (TOAST-style omission) must
    overlay the present columns in place — NOT be split into
    delete(old)+insert(null-key) as a PK change."""
    base = [
        {"c_custkey": 1, "c_name": "a", "c_nationkey": 1, "c_acctbal": 10.0, "c_mktsegment": "M"},
        {"c_custkey": 2, "c_name": "b", "c_nationkey": 2, "c_acctbal": 20.0, "c_mktsegment": "M"},
    ]
    evs = [
        make_event(
            CUST, "update", lsn=1,
            row={"c_acctbal": 99.5},
            old_key={"c_custkey": 1},
            present=["c_acctbal"],  # PK column absent from columnnames
        )
    ]
    rows = {r["c_custkey"]: r.asDict() for r in _run_apply(spark, CUST, base, evs).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["c_acctbal"] == 99.5
    assert rows[1]["c_name"] == "a"  # untouched columns keep prior values
    assert rows[2]["c_acctbal"] == 20.0


def test_real_pk_change_still_splits(spark):
    base = [
        {"c_custkey": 1, "c_name": "a", "c_nationkey": 1, "c_acctbal": 10.0, "c_mktsegment": "M"},
    ]
    evs = [
        make_event(
            CUST, "update", lsn=1,
            row={"c_custkey": 7, "c_name": "a2", "c_nationkey": 1, "c_acctbal": 11.0, "c_mktsegment": "M"},
            old_key={"c_custkey": 1},
        )
    ]
    rows = {r["c_custkey"]: r.asDict() for r in _run_apply(spark, CUST, base, evs).collect()}
    assert set(rows) == {7}
    assert rows[7]["c_name"] == "a2" and rows[7]["c_acctbal"] == 11.0


NOPK = TableSpec(
    database="db1", schema="public", table="nopk",
    columns=[ColumnSpec("a", "integer"), ColumnSpec("b", "text")],
    pk_cols=[],  # REPLICA IDENTITY FULL fallback: whole-row keys
)


def test_no_pk_table_whole_row_fallback(spark):
    """SURVEY hard-point 6: the reference dies on PK-less tables; this
    engine falls back to whole-row keys (oldkeys = all columns)."""
    base = [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]
    evs = [
        make_event(NOPK, "insert", lsn=1, row={"a": 3, "b": "z"}),
        make_event(NOPK, "delete", lsn=2, old_key={"a": 1, "b": "x"}),
        make_event(
            NOPK, "update", lsn=3,
            row={"a": 2, "b": "y2"}, old_key={"a": 2, "b": "y"},
        ),
    ]
    got = sorted((r.a, r.b) for r in _run_apply(spark, NOPK, base, evs).collect())
    assert got == [(2, "y2"), (3, "z")]


def test_pk_change_incomplete_columns_counted_as_violation(spark):
    """PK-change update whose columnnames omit some columns loses the omitted
    (TOAST) values — a documented divergence from the reference, which runs a
    real UPDATE against PG. The drift must be COUNTED (J4 counter)."""
    base = _base_customers(3)
    evs = [
        make_event(
            CUST, "update", lsn=1,
            row={"c_custkey": 999, "c_acctbal": 5.0},
            old_key={"c_custkey": 1},
            present=["c_custkey", "c_acctbal"],
        )
    ]
    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in CUST.columns) for r in base], schema=CUST.spark_schema()
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in evs], schema=BRONZE_SCHEMA
    )
    result, metrics = apply_changes(snapshot, parse_events(bronze), CUST, with_metrics=True)
    rows = {r["c_custkey"]: r.asDict() for r in result.collect()}
    assert 1 not in rows and 999 in rows
    assert rows[999]["c_name"] is None  # lost TOAST value — hence the flag
    assert metrics.collect()[0]["violations"] == 1


def test_complete_pk_change_is_not_a_violation(spark):
    base = _base_customers(3)
    evs = [
        make_event(
            CUST, "update", lsn=1,
            row={"c_custkey": 555, "c_name": "Customer#1", "c_nationkey": 0,
                 "c_acctbal": 101.0, "c_mktsegment": "BUILDING"},
            old_key={"c_custkey": 1},
        )
    ]
    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in CUST.columns) for r in base], schema=CUST.spark_schema()
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in evs], schema=BRONZE_SCHEMA
    )
    _result, metrics = apply_changes(snapshot, parse_events(bronze), CUST, with_metrics=True)
    assert metrics.collect()[0]["violations"] == 0


def _dfify(spark, spec, base_rows, bronze_rows):
    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in spec.columns) for r in base_rows], schema=spec.spark_schema()
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in bronze_rows], schema=BRONZE_SCHEMA
    )
    return snapshot, parse_events(bronze)


def test_apply_delta_reports_before_after(spark):
    from connemara_spark.operators.apply import apply_delta

    base = _base_customers(5)
    evs = [
        make_event(CUST, "update", lsn=1,
                   row={"c_custkey": 2, "c_acctbal": 999.0},
                   present=["c_custkey", "c_acctbal"]),
        make_event(CUST, "delete", lsn=2, old_key={"c_custkey": 3}),
        make_event(CUST, "insert", lsn=3,
                   row={"c_custkey": 100, "c_name": "New", "c_nationkey": 1,
                        "c_acctbal": 5.0, "c_mktsegment": "AUTO"}),
    ]
    snapshot, events = _dfify(spark, CUST, base, evs)
    d = {r["__pk"]["c_custkey"]: r.asDict() for r in apply_delta(snapshot, events, CUST).collect()}
    assert set(d) == {2, 3, 100}  # untouched keys absent
    assert d[2]["old_exists"] and d[2]["new_exists"]
    assert d[2]["old_vals"]["c_acctbal"] == 102.0 and d[2]["new_vals"]["c_acctbal"] == 999.0
    assert d[2]["new_vals"]["c_name"] == "Customer#2"  # partial update kept name
    assert d[3]["old_exists"] and not d[3]["new_exists"]  # deleted
    assert not d[100]["old_exists"] and d[100]["new_exists"]  # inserted


def test_incremental_agg_matches_full_recompute_on_random_stream(spark):
    import pyspark.sql.functions as F

    from connemara_spark.operators.apply import (
        apply_delta, incremental_group_agg,
    )

    base = _base_customers(50)
    evs = random_event_stream(CUST, base, n_events=300, seed=23)
    snapshot, events = _dfify(spark, CUST, base, evs)

    base_agg = snapshot.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("c_acctbal").cast("decimal(12,2)")).alias("total"),
    )
    delta = apply_delta(snapshot, events, CUST)
    maintained = incremental_group_agg(
        base_agg, delta, group_col="c_mktsegment", sum_col="c_acctbal"
    )

    final = apply_changes(snapshot, events, CUST)
    recomputed = final.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("c_acctbal").cast("decimal(12,2)")).alias("total"),
    )
    m = {r["c_mktsegment"]: (r["n_rows"], r["total"]) for r in maintained.collect()}
    r = {r["c_mktsegment"]: (r["n_rows"], r["total"]) for r in recomputed.collect()}
    assert m == r  # DECIMAL: bit-identical, not just close


def test_incremental_agg_drops_emptied_groups_and_migrates(spark):
    import pyspark.sql.functions as F

    from connemara_spark.operators.apply import (
        apply_delta, incremental_group_agg,
    )

    # one-row group 'SOLO'; the update moves the row to 'AUTO' -> SOLO drops
    base = _base_customers(3)
    base[0]["c_mktsegment"] = "SOLO"
    evs = [
        make_event(CUST, "update", lsn=1,
                   row={"c_custkey": 1, "c_mktsegment": "AUTO"},
                   present=["c_custkey", "c_mktsegment"]),
    ]
    snapshot, events = _dfify(spark, CUST, base, evs)
    base_agg = snapshot.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("c_acctbal").cast("decimal(12,2)")).alias("total"),
    )
    out = {r["c_mktsegment"]: r["n_rows"] for r in incremental_group_agg(
        base_agg, apply_delta(snapshot, events, CUST),
        group_col="c_mktsegment", sum_col="c_acctbal",
    ).collect()}
    assert "SOLO" not in out
    assert out["AUTO"] == 2  # customer 1 joined customer 3's segment... see base


def test_incremental_agg_merges_null_group(spark):
    import pyspark.sql.functions as F

    from connemara_spark.operators.apply import (
        apply_delta, incremental_group_agg,
    )

    # NULL segment group must MERGE with the base aggregate row, not
    # duplicate beside it (eqNullSafe join)
    base = _base_customers(4)
    base[0]["c_mktsegment"] = None
    base[1]["c_mktsegment"] = None
    evs = [make_event(CUST, "delete", lsn=1, old_key={"c_custkey": 1})]
    snapshot, events = _dfify(spark, CUST, base, evs)
    base_agg = snapshot.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("c_acctbal").cast("decimal(12,2)")).alias("total"),
    )
    out = {r["c_mktsegment"]: r["n_rows"] for r in incremental_group_agg(
        base_agg, apply_delta(snapshot, events, CUST),
        group_col="c_mktsegment", sum_col="c_acctbal",
    ).collect()}
    assert out[None] == 1  # 2 - 1, merged into ONE row
    assert sum(out.values()) == 3


def test_parse_events_fail_fast_on_malformed_payload(spark):
    """W9 fail-fast: a corrupt spool payload must raise at execution, not
    flow through as a null-field event; the quarantine split isolates it."""
    import pytest

    from connemara_spark.events import BRONZE_SCHEMA, parse_events, split_malformed

    good = '{"kind":"insert","schema":"s","table":"t","columnnames":["a"],"columnvalues":["1"]}'
    rows = [
        (None, "db", "slot", 10, 1, None, good),
        (None, "db", "slot", 11, 1, None, "{corrupt-not-json"),
    ]
    bronze = spark.createDataFrame(
        [r for r in rows],
        BRONZE_SCHEMA,
    )
    with pytest.raises(Exception, match="malformed CDC payload"):
        parse_events(bronze).collect()

    ok, bad = split_malformed(bronze)
    assert parse_events(ok).count() == 1          # clean side parses fine
    assert [r["lsn_start"] for r in bad.collect()] == [11]
    # quarantined side keeps the raw payload for inspection
    assert bad.collect()[0]["payload"].startswith("{corrupt")
    # pre-split callers opt out of the guard on the clean side
    assert parse_events(ok, on_malformed="ignore").count() == 1


@pytest.mark.parametrize("seed", [3, 7, 21])
def test_apply_changes_bounded_matches_unbounded(spark, seed):
    """Two-level (key, lsn-bucket) fold == single-array fold on random mixed
    streams with PK changes, partial updates, and missing-row violations —
    including the violations metric (the entry-dependent part the bucket
    summaries must correct for)."""
    from connemara_spark.operators.apply import apply_changes_bounded

    base = _base_customers(25)
    evs = random_event_stream(CUST, base, n_events=400, seed=seed, pk_change_prob=0.15)
    # inject missing-row violations: update + delete on keys that never existed
    lsn = max(e["lsn_start"] for e in evs) + 1
    evs.append(make_event(CUST, "update", lsn=lsn, row={"c_acctbal": 1.0},
                          old_key={"c_custkey": 999_901}, present=["c_acctbal"]))
    evs.append(make_event(CUST, "delete", lsn=lsn + 1, old_key={"c_custkey": 999_902}))
    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in CUST.columns) for r in base], schema=CUST.spark_schema()
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in evs], schema=BRONZE_SCHEMA
    )
    ev = parse_events(bronze)
    want, want_m = apply_changes(snapshot, ev, CUST, with_metrics=True)
    for bucket in (1, 7, 50, 10_000_000):  # one-event buckets .. one bucket for all
        got, got_m = apply_changes_bounded(
            snapshot, ev, CUST, lsn_bucket=bucket, with_metrics=True
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), bucket
        assert got_m.collect() == want_m.collect(), bucket


def test_apply_changes_bounded_hot_key(spark):
    """A 100k-update hot key folds bit-identically with per-bucket arrays
    bounded at ~1k cells (the collect_list memory-bomb guard)."""
    from pyspark.sql import functions as F

    from connemara_spark.operators.apply import apply_changes_bounded, events_for_table

    n = 100_000
    bucket = 1_000
    # native generation: n partial updates on one key + a sprinkle of other keys
    bronze = spark.range(n).select(
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit("db1").alias("database"),
        F.lit("slot_db1").alias("source_slotname"),
        (F.col("id") + 1).alias("lsn_start"),
        (F.col("id") + 1000).alias("xid"),
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("xid_timestamp"),
        F.to_json(
            F.struct(
                F.lit("update").alias("kind"),
                F.lit("public").alias("schema"),
                F.lit("customer").alias("table"),
                F.array(F.lit("c_acctbal")).alias("columnnames"),
                F.array((F.col("id") % 997).cast("string")).alias("columnvalues"),
                F.struct(
                    F.array(F.lit("c_custkey")).alias("keynames"),
                    F.array(
                        F.when(F.col("id") % 100 == 0, (F.col("id") % 7 + 2).cast("string"))
                        .otherwise(F.lit("1"))
                    ).alias("keyvalues"),
                ).alias("oldkeys"),
            )
        ).alias("payload"),
    )
    ev = parse_events(bronze)
    base = _base_customers(10)
    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in CUST.columns) for r in base], schema=CUST.spark_schema()
    )
    got = apply_changes_bounded(snapshot, ev, CUST, lsn_bucket=bucket)
    want = apply_changes(snapshot, ev, CUST)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the bound: no (key, bucket) group exceeds the bucket's LSN capacity
    sizes = (
        events_for_table(ev, CUST)
        .groupBy("__pk", F.expr(f"lsn_start div {bucket}"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert sizes <= bucket


def test_apply_changes_cut_matches_two_full_folds(spark):
    """The staged single-pass fold (state at cut + final, post seeded from
    pre) == two independent apply_changes over a random mixed stream with
    PK changes and partial updates."""
    from pyspark.sql import functions as F

    from connemara_spark.operators.apply import apply_changes_cut

    base = _base_customers(30)
    evs = random_event_stream(CUST, base, n_events=300, seed=7)
    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in CUST.columns) for r in base], schema=CUST.spark_schema()
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in evs], schema=BRONZE_SCHEMA
    )
    ev = parse_events(bronze)
    cut = 150
    s0, s1, _flat = apply_changes_cut(snapshot, ev, CUST, cut=lambda e: e["lsn_start"] <= cut)
    want0 = apply_changes(snapshot, ev.filter(F.col("lsn_start") <= cut), CUST)
    want1 = apply_changes(snapshot, ev, CUST)
    assert sorted(map(tuple, s0.collect())) == sorted(map(tuple, want0.collect()))
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, want1.collect()))


def test_apply_changes_keys_pruning_matches_unpruned_at_kept_keys(spark):
    """keys= pruning is semantics-preserving: state at the kept keys equals
    the unpruned fold restricted to those keys — including a key that only
    appears via the insert half of a PK-change split."""
    from connemara_spark.operators.apply import apply_changes_cut

    base = _base_customers(30)
    evs = random_event_stream(CUST, base, n_events=300, seed=11, pk_change_prob=0.2)
    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in CUST.columns) for r in base], schema=CUST.spark_schema()
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in evs], schema=BRONZE_SCHEMA
    )
    ev = parse_events(bronze)
    full = apply_changes(snapshot, ev, CUST)
    kept = sorted({r[0] for r in full.select("c_custkey").collect()})[::2]
    keys = spark.createDataFrame([(k,) for k in kept], "c_custkey bigint")
    pruned = apply_changes(snapshot, ev, CUST, keys=keys)
    want = [t for t in map(tuple, full.collect()) if t[0] in set(kept)]
    assert sorted(map(tuple, pruned.collect())) == sorted(want)
    # same through the staged fold
    _s0, s1, _flat = apply_changes_cut(
        snapshot, ev, CUST, cut=lambda e: e["lsn_start"] <= 150, keys=keys
    )
    assert sorted(map(tuple, s1.collect())) == sorted(want)


def test_apply_changes_bounded_rejects_zero_bucket(spark):
    """lsn_bucket=0 would NULL every bucket id (`x div 0`), collapsing each
    key to ONE unbounded array — the exact failure mode the bounded fold
    exists to prevent. Must be an explicit error."""
    import pytest

    from connemara_spark.operators.apply import apply_changes_bounded

    snap = spark.createDataFrame([], CUST.spark_schema())
    ev = spark.createDataFrame([], BRONZE_SCHEMA)
    for bad in (0, -5):
        with pytest.raises(ValueError, match="lsn_bucket"):
            apply_changes_bounded(snap, ev, CUST, lsn_bucket=bad)

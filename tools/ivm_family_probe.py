"""Maintained-view FAMILY endurance probe (SCALE.md round-9): every
incremental-view maintainer this engine ships — AGG (sum/count), MIN/MAX
(multiplicity), TOP-K (slack buffer), COUNT DISTINCT (bucketed support
multiset) — attached to ONE StreamingReplayer over a BucketStore silver
table, drained across many microbatches of mixed insert/update/delete
traffic at realistic group cardinality (100 groups, 500-value domain, so
extremum exhaustion, buffer burn-through, and support zero crossings all
fire for real).

Per batch: wall seconds + the distinct view's touched support buckets.
At the end: every view is checked EQUAL to a full recompute of the final
state (hard correctness at volume, not just latency), plus first/second
half latency means to show per-batch cost tracks the batch, not the
accumulated table/view size.

Usage: python tools/ivm_family_probe.py [n_batches] [events_per_batch]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 25_000

    from pyspark.sql import functions as F

    from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec
    from connemara_spark.operators.ivm import (
        MaintainedAggView,
        MaintainedDistinctCountView,
        MaintainedMinMaxView,
        MaintainedTopKView,
    )
    from connemara_spark.session import get_spark
    from connemara_spark.sources.replication import write_segment
    from connemara_spark.stores import BucketStore
    from connemara_spark.streaming import StreamingReplayer
    from connemara_spark.testing import random_event_stream

    spark = get_spark("ivm-family-probe")
    spark.range(1).collect()

    spec = TableSpec(
        database="db1", schema="public", table="metrics",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("g", "text"),
                 ColumnSpec("x", "integer")],
        pk_cols=["id"],
    )
    cat = EngineCatalog()
    cat.register(spec)
    spec = cat.get("db1", "public", "metrics")

    base = [{"id": i, "g": f"g{i % 100}", "x": i % 500} for i in range(50_000)]
    work = tempfile.mkdtemp(prefix="ivm-family-")
    try:
        store = BucketStore(spark, f"{work}/silver", n_buckets=16)
        store.write(spec, spark.createDataFrame(
            [(r["id"], r["g"], r["x"]) for r in base], spec.spark_schema()))
        agg = MaintainedAggView(
            spark, store, spec, group_col="g", sum_col="x",
            sum_type="decimal(18,2)", view_dir=f"{work}/agg",
        )
        mm = MaintainedMinMaxView(
            spark, store, spec, group_col="g", val_col="x",
            val_type="int", view_dir=f"{work}/mm",
        )
        tk = MaintainedTopKView(
            spark, store, spec, group_col="g", val_col="x",
            k=5, slack=5, val_type="int", view_dir=f"{work}/tk",
        )
        dc = MaintainedDistinctCountView(
            spark, store, spec, group_col="g", val_col="x",
            val_pg_type="integer", view_dir=f"{work}/dc",
            support_buckets=32,
        )
        views = [agg, mm, tk, dc]
        sr = StreamingReplayer(
            spark, cat, store,
            landing_dir=f"{work}/spool",
            checkpoint_dir=f"{work}/ckpt",
            landing_format="wal_spool",
            maintainers=views,
        )

        events = random_event_stream(
            spec, base, n_events=n_batches * per_batch, seed=9,
            pk_change_prob=0.02, partial_update_prob=0.3,
            value_maker={
                "g": lambda rng: f"g{rng.randint(0, 99)}",
                "x": lambda rng: rng.randint(0, 499),
            },
        )
        lat = []
        for b in range(n_batches):
            seg = events[b * per_batch:(b + 1) * per_batch]
            write_segment(f"{work}/spool", seg, f"seg-{b:06d}")
            t0 = time.monotonic()
            sr.run_until_drained(timeout_sec=600)
            dt = round(time.monotonic() - t0, 2)
            lat.append(dt)
            print(json.dumps({
                "batch": b, "sec": dt,
                "support_buckets_touched": dc.last_touched_buckets,
            }), flush=True)

        # hard correctness at volume: every view == full recompute
        state = store.read(spec).localCheckpoint()
        key = lambda r: tuple(map(str, r))

        def eq(name, got_df, want_df, select=None):
            g_df, w_df = got_df, want_df
            if select is not None:
                g_df, w_df = select(g_df), select(w_df)
            got = sorted(map(tuple, g_df.collect()), key=key)
            want = sorted(map(tuple, w_df.collect()), key=key)
            ok = got == want
            print(json.dumps({"view": name, "equal": ok,
                              "groups": len(got)}), flush=True)
            return ok

        topk_sel = lambda df: df.select(
            "g", "n_rows",
            F.expr("transform(slice(top, 1, 5), p -> concat(p.v, ':', p.id))").alias("top"),
        )
        all_ok = all([
            eq("agg", agg.read_view(), agg._full_agg(state)),
            eq("minmax", mm.read_view(), mm._full_agg(state)),
            eq("topk", tk.read_view(),
               tk._full_agg(state).select("g", "n_rows", F.slice("top", 1, 5).alias("top")),
               select=topk_sel),
            eq("distinct", dc.read_view(), dc._full_agg(state)),
            eq("distinct_support", dc.sstore.read(dc.sspec), dc._full_support(state)),
        ])

        half = len(lat) // 2
        print(json.dumps({
            "events": n_batches * per_batch,
            "batches": n_batches,
            "total_sec": round(sum(lat), 1),
            "events_per_sec": round(n_batches * per_batch / sum(lat)),
            "first_half_mean": round(sum(lat[:half]) / half, 2),
            "second_half_mean": round(sum(lat[half:]) / (len(lat) - half), 2),
            "min": min(lat), "max": max(lat),
            "final_rows": state.count(),
            "support_versions": dc.sstore.current_version(dc.sspec.target_name),
            "all_views_equal": all_ok,
        }), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

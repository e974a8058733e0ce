"""Per-batch plan capture for the multi-batch pipeline registry queries.

``cdc_apply_customer_bucketed`` and ``cdc_maintained_agg_view`` are
multi-batch pipelines: the registry entry returns only the FINAL read, so
the single-DataFrame plan audit (``plans.audit``) and the registry-wide
lints never saw the plans that actually dominate their cost — the per-batch
fold/partial-rewrite and the view-patch write. This module reconstructs
the STEADY-STATE (second) batch of each pipeline against scratch stores,
executes the bootstrap batch for real (the steady-state plan depends on
committed store/view state), and hands back the pre-write dataflow frames
for ``.explain`` and linting.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pipeline_batch_frames(spark: SparkSession, sf_dir: str):
    """Build the steady-state per-batch frames of the pipeline queries.

    Returns ``(frames, cleanup)`` — ``frames`` maps
    ``"<query>/<stage>"`` to a pre-write DataFrame:

    - ``cdc_apply_customer_bucketed/steady_fold`` — the partial-rewrite
      fold over the touched-bucket slice (what ``write_partial`` writes);
    - ``cdc_maintained_agg_view/steady_fold`` — the flat-store fold;
    - ``cdc_maintained_agg_view/view_patch`` — the incremental view patch
      (what ``after_apply`` writes).

    Call ``cleanup()`` when done explaining — the frames read from the
    scratch stores, so they are only valid before cleanup.
    """
    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.operators.ivm import MaintainedAggView
    from connemara_spark.pipeline import ParquetStore, Replayer
    from connemara_spark.queries import (
        CUSTOMER_SPEC,
        _customer_cdc_bronze,
        _event_lsn_bounds,
        _fresh_spec,
        load,
    )
    from connemara_spark.stores import BucketStore

    roots: list[str] = []
    cached: list[DataFrame] = []

    def cleanup() -> None:
        for df in cached:
            df.unpersist()
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)

    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_cdc_bronze(spark, sf_dir).persist()
    cached.append(bronze)
    lo, hi = _event_lsn_bounds(spark, sf_dir)
    step = max((hi - lo) // 2 + 1, 1)
    b1 = bronze.filter((F.col("lsn_start") >= lo) & (F.col("lsn_start") < lo + step))
    b2 = bronze.filter(
        (F.col("lsn_start") >= lo + step) & (F.col("lsn_start") < lo + 2 * step)
    )

    frames: dict[str, DataFrame] = {}
    try:
        # -- bucketed pipeline: steady-state partial-rewrite fold ----------
        root = tempfile.mkdtemp(prefix="connemara_planaudit_b_")
        roots.append(root)
        spec = _fresh_spec(CUSTOMER_SPEC)
        store = BucketStore(spark, root, n_buckets=32)
        store.write(spec, snapshot)
        cat = EngineCatalog()
        cat.register(spec)
        rep = Replayer(spark, cat, store)
        rep.apply_batch(b1)  # bootstrap: steady state needs a committed v2
        # the registry query CACHES the parse; the audit frames stay
        # uncached so the from_json lint counts genuine parse sites in the
        # raw dataflow instead of cached-plan printouts
        parsed2 = rep.parse_batch(b2)
        _, counts, buckets = rep._batch_summary(parsed2)
        k = (spec.database, spec.schema, spec.table)
        fold, _, _ = rep.build_fold(
            parsed2, spec, n_events=counts[k], buckets=buckets[k]
        )
        frames["cdc_apply_customer_bucketed/steady_fold"] = fold

        # -- maintained view: flat fold + incremental view patch -----------
        root = tempfile.mkdtemp(prefix="connemara_planaudit_v_")
        roots.append(root)
        spec = _fresh_spec(CUSTOMER_SPEC)
        store = ParquetStore(spark, root)
        store.write(spec, snapshot)
        cat = EngineCatalog()
        cat.register(spec)
        rep = Replayer(spark, cat, store)
        view = MaintainedAggView(
            spark, store, spec,
            group_col="c_mktsegment", sum_col="c_acctbal",
            sum_type="decimal(12,2)", view_dir=f"{root}/view",
        )
        rep.step(b1, maintainers=[view])

        parsed2v = rep.parse_batch(b2)  # uncached — see note above
        _, counts, _ = rep._batch_summary(parsed2v)
        fold, _, _ = rep.build_fold(parsed2v, spec, n_events=counts[k])
        frames["cdc_maintained_agg_view/steady_fold"] = fold
        view.before_apply(parsed2v)
        rep.apply_batch(b2, events=parsed2v)
        _, patched = view._patch_frame()
        frames["cdc_maintained_agg_view/view_patch"] = patched

        # -- min/max view: the non-self-maintainable patch ----------------
        from connemara_spark.operators.ivm import MaintainedMinMaxView

        root = tempfile.mkdtemp(prefix="connemara_planaudit_m_")
        roots.append(root)
        spec = _fresh_spec(CUSTOMER_SPEC)
        store = ParquetStore(spark, root)
        store.write(spec, snapshot)
        cat = EngineCatalog()
        cat.register(spec)
        rep = Replayer(spark, cat, store)
        mm = MaintainedMinMaxView(
            spark, store, spec,
            group_col="c_mktsegment", val_col="c_acctbal",
            val_type="decimal(12,2)", view_dir=f"{root}/mmview",
        )
        rep.step(b1, maintainers=[mm])
        parsed2m = rep.parse_batch(b2)
        mm.before_apply(parsed2m)
        rep.apply_batch(b2, events=parsed2m)
        _, patched_mm = mm._patch_frame()
        frames["cdc_maintained_minmax_view/view_patch"] = patched_mm

        # -- top-k view: slack-buffer patch over the same store ------------
        from connemara_spark.operators.ivm import MaintainedTopKView

        root = tempfile.mkdtemp(prefix="connemara_planaudit_t_")
        roots.append(root)
        spec = _fresh_spec(CUSTOMER_SPEC)
        store = ParquetStore(spark, root)
        store.write(spec, snapshot)
        cat = EngineCatalog()
        cat.register(spec)
        rep = Replayer(spark, cat, store)
        tk = MaintainedTopKView(
            spark, store, spec,
            group_col="c_mktsegment", val_col="c_acctbal",
            k=5, slack=5, val_type="decimal(12,2)", view_dir=f"{root}/tkview",
        )
        rep.step(b1, maintainers=[tk])
        parsed2t = rep.parse_batch(b2)
        tk.before_apply(parsed2t)
        rep.apply_batch(b2, events=parsed2t)
        _, patched_tk = tk._patch_frame()
        frames["cdc_maintained_topk_view/view_patch"] = patched_tk

        # -- distinct-count view: the support-multiset summary patch -------
        from connemara_spark.operators.ivm import MaintainedDistinctCountView

        root = tempfile.mkdtemp(prefix="connemara_planaudit_d_")
        roots.append(root)
        spec = _fresh_spec(CUSTOMER_SPEC)
        store = ParquetStore(spark, root)
        store.write(spec, snapshot)
        cat = EngineCatalog()
        cat.register(spec)
        rep = Replayer(spark, cat, store)
        dc = MaintainedDistinctCountView(
            spark, store, spec,
            group_col="c_mktsegment", val_col="c_nationkey",
            val_pg_type="integer", view_dir=f"{root}/dcview",
            support_buckets=16,
        )
        rep.step(b1, maintainers=[dc])
        parsed2d = rep.parse_batch(b2)
        dc.before_apply(parsed2d)
        rep.apply_batch(b2, events=parsed2d)
        _, patched_dc = dc._patch_frame()
        frames["cdc_maintained_distinct_view/view_patch"] = patched_dc

        # -- two-source join view: the cross-source replacement patch ------
        from connemara_spark.operators.ivm import MaintainedTwoTableJoinView
        from connemara_spark.queries import ORDERS_CDC_SPEC, _orders_cdc_bronze

        root = tempfile.mkdtemp(prefix="connemara_planaudit_2s_")
        roots.append(root)
        spec_a = _fresh_spec(CUSTOMER_SPEC)
        spec_b = _fresh_spec(ORDERS_CDC_SPEC, database="db2")
        store2 = BucketStore(spark, root, n_buckets=32)
        store2.write(spec_a, snapshot)
        store2.write(
            spec_b,
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
            ),
        )
        cat = EngineCatalog()
        cat.register(spec_a)
        cat.register(spec_b)
        rep2 = Replayer(
            spark, cat, store2,
            allowed_slots=[("db1", "slot_db1"), ("db2", "slot_db2")],
        )
        bronze2 = (
            bronze.filter(F.col("lsn_start") % 2 == 0)
            .unionByName(
                _orders_cdc_bronze(spark, sf_dir, database="db2", slot="slot_db2")
            )
        )
        b1_2 = bronze2.filter(
            (F.col("lsn_start") >= lo) & (F.col("lsn_start") < lo + step)
        )
        b2_2 = bronze2.filter(
            (F.col("lsn_start") >= lo + step) & (F.col("lsn_start") < lo + 2 * step)
        )
        view2 = MaintainedTwoTableJoinView(
            spark, store2, spec_a, spec_b,
            key_a="c_custkey", key_b="o_orderkey",
            view_cols=[
                "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
                "o_custkey", "o_orderstatus", "o_totalprice",
            ],
            view_dir=f"{root}/view",
        )
        rep2.step(b1_2, maintainers=[view2])
        parsed2_2 = rep2.parse_batch(b2_2)
        view2.before_apply(parsed2_2)
        rep2.apply_batch(b2_2, events=parsed2_2)
        _, patched_2s = view2._patch_frame()
        frames["cdc_two_source_join_view/view_patch"] = patched_2s
    except Exception:
        cleanup()
        raise
    return frames, cleanup

"""Scale-readiness plan tests: pushdown, pruning, broadcast, codegen.

These are the CI encoding of 'would this plan survive 100×': every headline
query's physical plan is asserted, not eyeballed. A regression that drops a
pushed filter, widens a scan, or degrades a broadcast join to shuffle fails
here long before a benchmark run would notice.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from connemara_spark import plans
from connemara_spark.queries import REGISTRY, load


def q(name, spark, sf_dir):
    return REGISTRY[name].fn(spark, sf_dir)


def test_q6_filters_pushed_and_pruned(spark, sf_dir):
    df = q("q6_forecast_revenue", spark, sf_dir)
    # date + quantity predicates must reach the parquet scan
    plans.assert_filter_pushed(df, "l_shipdate")
    plans.assert_filter_pushed(df, "l_quantity")
    # q6 touches 4 lineitem columns; the scan must not read more
    plans.assert_columns_pruned(df, 4)
    plans.assert_no_python_udf(df)


def test_q3_broadcasts_customer_side_joins(spark, sf_dir):
    df = q("q3_shipping_priority", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_filter_pushed(df, "c_mktsegment")
    plans.assert_no_python_udf(df)


def test_q5_region_nation_broadcast(spark, sf_dir):
    df = q("q5_local_supplier_volume", spark, sf_dir)
    # region (5 rows) and nation (25 rows) must broadcast, never shuffle
    plans.assert_broadcast_join(df)
    plans.assert_no_python_udf(df)


def test_cdc_apply_has_no_python_and_bounded_shuffles(spark, sf_dir):
    df = q("cdc_apply_customer", spark, sf_dir)
    plans.assert_no_python_udf(df)
    plans.assert_no_cartesian(df)


def test_dedup_paths_stay_jvm_side(spark, sf_dir):
    for name in ("exact_dedup_documents", "near_dup_ngram_jaccard", "minhash_lsh_dedup", "simhash_dedup"):
        df = q(name, spark, sf_dir)
        plans.assert_no_python_udf(df)


def test_scan_pruning_on_projection(spark, sf_dir):
    # a 2-column projection over lineitem must scan exactly 2 columns
    df = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plans.assert_columns_pruned(df, 2)
    schemas = plans.scan_schemas(df)
    assert schemas and all("l_orderkey" in s for s in schemas)


def test_exchange_counting_sane(spark, sf_dir):
    one_shuffle = load(spark, sf_dir, "orders").groupBy("o_custkey").count()
    assert plans.exchange_count(one_shuffle) == 1
    no_shuffle = load(spark, sf_dir, "orders").select("o_orderkey")
    assert plans.exchange_count(no_shuffle) == 0


def test_latest_wins_single_shuffle(spark, sf_dir):
    # the core CDC reduction must cost exactly one shuffle (window by key)
    df = q("cdc_latest_wins", spark, sf_dir)
    assert plans.exchange_count(df) <= 2  # key window + optional final agg
    plans.assert_no_python_udf(df)


def test_curation_text_queries_stay_jvm_side(spark, sf_dir):
    # every non-media curation/text query must be pure Catalyst: no Python
    # eval nodes, no cartesians — redaction/repetition/packing run on the
    # 100 TB hot path
    for name in (
        "doc_repetition_filters", "doc_pii_redaction", "doc_pack_sequences",
        "doc_stratified_sample", "doc_contamination_13gram",
        "dataset_split_md5", "doc_hash_sample_md5",
    ):
        df = q(name, spark, sf_dir)
        plans.assert_no_python_udf(df)
        plans.assert_no_cartesian(df)


def test_pii_redaction_prunes_scan(spark, sf_dir):
    # doc_id + text only — the regex chain must not widen the scan
    df = q("doc_pii_redaction", spark, sf_dir)
    plans.assert_columns_pruned(df, 2)


def test_pack_sequences_bounded_shuffles(spark, sf_dir):
    # sharded prefix-sum: shard window + tiny offset window + broadcast
    # join back — no global-sort exchange over the full data
    df = q("doc_pack_sequences", spark, sf_dir)
    plans.assert_max_exchanges(df, 4)
    plan = plans.formatted_plan(df)
    assert "BroadcastExchange" in plan  # the 256-row offset table broadcasts


def test_corpus_analytics_stay_jvm_side(spark, sf_dir):
    for name in ("doc_tfidf_top_terms", "corpus_vocabulary_top20", "corpus_stats_by_lang",
                 "embedding_quantize_int8"):
        df = q(name, spark, sf_dir)
        plans.assert_no_python_udf(df)
        plans.assert_no_cartesian(df)


def test_ivfpq_plan_hash_join_no_cartesian(spark, sf_dir):
    # IVF-PQ: per-row prep is ONE documented Arrow-batched mapInPandas stage
    # (§2.9 exception — the native equivalent is a ~2k-term codegen bomb);
    # everything after is native: hash join on the int cell key, one window
    # for top-k, never a cartesian. Plan-only: skip the eager index build.
    from connemara_spark.operators import similarity

    similarity.EAGER_INDEX_CACHE = False
    try:
        df = q("embedding_ann_ivfpq", spark, sf_dir)
    finally:
        similarity.EAGER_INDEX_CACHE = True
    plans.assert_no_cartesian(df)
    plan = plans.simple_plan(df)
    # the one prep stage prints once per cached-plan reference (both join
    # sides + AQE sections) — just require it present and the join keyed
    assert "MapInPandas" in plan


def test_pq_recon_error_zero_shuffle(spark, sf_dir):
    # one documented Arrow kernel (the native chain overflows Janino and
    # runs interpreted), still zero shuffles beyond the loader's spread()
    df = q("embedding_pq_recon_error", spark, sf_dir)
    plan = plans.simple_plan(df)
    assert "MapInPandas" in plan
    plans.assert_max_exchanges(df, 1)


def test_tfidf_corpus_count_is_literal(spark, sf_dir):
    # the corpus size N is inlined as a literal scalar (its own tiny count
    # job), so the scored plan has no 1-row join at all — in particular no
    # BroadcastNestedLoopJoin — and bounded exchanges (tf agg, dfreq agg +
    # word join, final per-doc window)
    df = q("doc_tfidf_top_terms", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_max_exchanges(df, 5)


def test_semdedup_single_cell_join_no_cartesian(spark, sf_dir):
    # cell assignment is per-row (literal centroid argmax); the only data
    # joins are the cell-keyed self-join and the dup anti-mark join
    df = q("embedding_semdedup", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_no_python_udf(df)


def test_bloom_probe_broadcasts_bits(spark, sf_dir):
    # the slot set and bench-gram confirm table are broadcast — the corpus
    # side is probed map-side, never shuffled on gram text
    df = q("doc_bloom_decontam", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_broadcast_join(df)
    plans.assert_no_python_udf(df)


def test_dsir_ratio_table_broadcast_back(spark, sf_dir):
    df = q("doc_dsir_weights", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_broadcast_join(df)
    plans.assert_no_python_udf(df)


def test_chunk_dedup_two_data_shuffles(spark, sf_dir):
    # one shuffle on the chunk hash (first-occurrence window), one back on
    # the doc id (reassembly agg) + spread()'s repartition at test scale
    df = q("doc_chunk_dedup", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_no_python_udf(df)
    plans.assert_max_exchanges(df, 3)


def test_resample_grid_no_cartesian_bounded_exchanges(spark, sf_dir):
    # per-key sequence+explode grid, one bucket agg shuffle, one grid join,
    # one fill window — never a calendar cross join
    df = q("events_resample_hourly_ffill", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_no_python_udf(df)


def test_rolling_zscore_single_window_shuffle(spark, sf_dir):
    df = q("events_rolling_zscore", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_no_python_udf(df)
    plans.assert_max_exchanges(df, 2)   # user_id window (+AQE read)


def test_curation_funnel_stays_jvm_side(spark, sf_dir):
    df = q("corpus_curation_funnel", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_no_python_udf(df)


def test_sketches_no_cartesian_no_python(spark, sf_dir):
    for name in ("corpus_kmv_distinct_shingles", "corpus_cms_bigram_counts"):
        df = q(name, spark, sf_dir)
        plans.assert_no_cartesian(df)
        plans.assert_no_python_udf(df)


def test_mixture_resample_broadcasts_acceptance_table(spark, sf_dir):
    df = q("doc_mixture_resample", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_broadcast_join(df)
    plans.assert_no_python_udf(df)


def test_mojibake_variant_winnow_stay_jvm_side(spark, sf_dir):
    # the round-3 per-row text/semi-structured ops are pure Catalyst
    for name in ("doc_mojibake_repair", "events_props_variant", "doc_winnow_fingerprints"):
        df = q(name, spark, sf_dir)
        plans.assert_no_python_udf(df)
        plans.assert_no_cartesian(df)


def test_winnow_plan_holds_each_hof_level_once(spark, sf_dir):
    # the let-binding regression gate: the gram-hash md5 subtree must appear
    # a bounded number of times in the final plan (unbound composition
    # duplicated it per window position / per output column — 8+ copies)
    from connemara_spark.plans.inspect import formatted_plan

    plan = formatted_plan(q("doc_winnow_fingerprints", spark, sf_dir))
    assert plan.count("md5") <= 6, "winnow gram-hash subtree duplicated — _bind regression"


def test_pagerank_broadcasts_contributions_no_cartesian(spark, sf_dir):
    df = q("graph_pagerank_orders", spark, sf_dir)
    plans.assert_no_cartesian(df)
    plans.assert_no_python_udf(df)


@pytest.mark.slow  # endurance: see pytest.ini — run with -m 'slow or not slow'
def test_no_partition_less_window_anywhere(spark, sf_dir):
    """Registry-wide lint: NO query plans a partition-less WindowExec —
    the accidental-global-window scale killer (all data through one task).
    Deliberately-bounded global operations in this repo are expressed as
    distributed top-k + self-join rank, banded prefix-sums, or inlined
    scalar literals instead; a window spec whose first element is an
    ordering (ordered global window) or a frame (unordered global window)
    fails here."""
    import re

    from connemara_spark.operators import similarity

    old = similarity.EAGER_INDEX_CACHE
    similarity.EAGER_INDEX_CACHE = False  # plan-only: skip the Arrow prep job
    try:
        offenders = []
        for name, qd in REGISTRY.items():
            p = qd.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
                first = m.group(1).split(",")[0].strip()
                if " ASC" in first or " DESC" in first or first.startswith(
                    "specifiedwindowframe"
                ):
                    offenders.append(name)
                    break
        assert not offenders, f"partition-less windows in: {offenders}"
    finally:
        similarity.EAGER_INDEX_CACHE = old


def _from_json_count(df) -> int:
    """JsonToStructs occurrences in the OPTIMIZED plan — each one is a
    full JSON parse of every payload row at runtime."""
    import re

    return len(
        re.findall(
            r"from_json\(", df._jdf.queryExecution().optimizedPlan().toString()
        )
    )


def test_parse_barrier_pins_single_json_parse(spark, sf_dir):
    """The CDC family's cost model assumes ONE from_json evaluation per
    payload row (events.py parse_events pushdown_barrier — measured 4x->1x,
    1.63s->0.36s per stream). The barrier leans on Catalyst's treatment of
    nondeterministic projections, which a Spark version bump could change
    silently: this lint pins the parse count in the optimized plans, one
    per bronze stream."""
    assert _from_json_count(q("cdc_apply_customer", spark, sf_dir)) == 1
    # two CDC streams (customer + account) -> exactly two parses
    assert _from_json_count(q("cdc_join_view_delta", spark, sf_dir)) == 2
    # single stream; was 2 until r7 — incremental_group_agg's minus/plus
    # self-union double-referenced the delta (and with it the parse)
    assert _from_json_count(q("cdc_incremental_rollup", spark, sf_dir)) == 1
    assert _from_json_count(q("cdc_apply_metrics", spark, sf_dir)) == 1


def test_parse_barrier_lint_detects_regression(spark, sf_dir):
    """Negative control: the same frame WITHOUT the barrier, with the
    fold path's parsed-field predicates on top, re-inlines the parse into
    every rewritten site — the exact regression the lint above must catch
    if Catalyst ever starts collapsing across nondeterministic
    projections."""
    from connemara_spark.events import parse_events
    from connemara_spark.queries import _customer_cdc_bronze

    bronze = _customer_cdc_bronze(spark, sf_dir)
    flt = "table = 'customer' and op = 'insert'"
    assert _from_json_count(parse_events(bronze, pushdown_barrier=False).filter(flt)) > 1
    assert _from_json_count(parse_events(bronze, pushdown_barrier=True).filter(flt)) == 1


def test_driver_sample_order_self_rotates(spark, sf_dir):
    """The driver checks the first ~50 of queries() order; _ordered ranks
    names with no committed CORRECTNESS row first, so committing a round's
    CORRECTNESS file IS the rotation — no per-round list surgery. With an
    injected 'everything sampled but X' set, X leads; with nothing
    sampled, DRIVER_SAMPLE_PRIORITY leads."""
    from connemara_spark.queries import DRIVER_SAMPLE_PRIORITY, REGISTRY, _ordered

    all_names = set(REGISTRY)
    # nothing sampled yet (fresh checkout): priority list leads verbatim
    fresh = _ordered(set())
    want_head = [n for n in DRIVER_SAMPLE_PRIORITY if n in REGISTRY]
    assert fresh[: len(want_head)] == want_head
    assert sorted(fresh) == sorted(all_names)

    # everything sampled except two stragglers: they lead, rest keeps
    # priority-then-registration order
    stragglers = {"q1_pricing_summary", "exact_dedup_documents"}
    order = _ordered(all_names - stragglers)
    assert set(order[:2]) == stragglers
    assert sorted(order) == sorted(all_names)

    # everything sampled: pure priority-then-registration order again
    full = _ordered(all_names)
    assert full[: len(want_head)] == want_head


def test_driver_sample_recertifies_stalest_evidence_first(spark, sf_dir):
    """Once every query has a committed row, the sample must CYCLE: rank
    verified names by the round of their newest row, ascending, so r1-era
    evidence is re-certified before last round's. Pinned both on synthetic
    histories and on the repo's real committed CORRECTNESS files."""
    from connemara_spark.queries import (
        REGISTRY,
        _driver_sample_history,
        _ordered,
    )

    all_names = list(REGISTRY)
    # synthetic: everything verified, three names with OLD evidence -> they
    # lead regardless of registration position
    hist = {n: 7 for n in all_names}
    stale = [all_names[10], all_names[40], all_names[-1]]
    for n in stale:
        hist[n] = 1
    order = _ordered(hist)
    assert set(order[:3]) == set(stale)
    # never-sampled still outranks ANY stale evidence
    hist2 = dict(hist)
    del hist2[all_names[5]]
    assert _ordered(hist2)[0] == all_names[5]

    # real committed history: the first-50 sample must consist of the 50
    # stalest-evidence names (never-sampled counting as stalest of all) —
    # i.e. no name inside the sample has NEWER evidence than any outside
    real = _driver_sample_history()
    if len(real) < len(all_names) - 10:
        return  # fresh checkout: nothing to pin
    order = _ordered()
    rounds = [real.get(n, -1) for n in order]
    sample, rest = rounds[:50], rounds[50:]
    if rest:
        assert max(sample) <= min(rest), (
            "driver sample is not oldest-evidence-first"
        )
    # and the rotation actually moved: the r8 sample must not equal the
    # r7 sample (which was exactly the never-sampled head of r1-r6 files)
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    if files:
        with open(files[-1]) as fh:
            last_sample = set(json.load(fh))
        assert set(order[:50]) != last_sample, "sample failed to rotate"


def test_pipeline_per_batch_plans_pass_lints(spark, sf_dir):
    """The two most expensive registry entries are multi-batch pipelines
    whose dominant plans (per-batch fold, view patch) the single-DataFrame
    audit never saw. Capture the steady-state batch's pre-write frames and
    hold them to the same lints as every registry plan: exactly ONE
    from_json parse of the batch's single bronze stream, no partition-less
    window, no Python stage; the bucketed fold's snapshot side must be a
    path-pruned read (no full-table file listing)."""
    import re

    from connemara_spark.plans.inspect import assert_no_python_udf
    from connemara_spark.plans.pipeline_plans import pipeline_batch_frames

    frames, cleanup = pipeline_batch_frames(spark, sf_dir)
    try:
        assert set(frames) == {
            "cdc_apply_customer_bucketed/steady_fold",
            "cdc_maintained_agg_view/steady_fold",
            "cdc_maintained_agg_view/view_patch",
            "cdc_maintained_minmax_view/view_patch",
            "cdc_maintained_topk_view/view_patch",
            "cdc_maintained_distinct_view/view_patch",
            "cdc_two_source_join_view/view_patch",
        }
        # fold frames: exactly ONE parse site. The view patch pins the
        # touched keys against BOTH version reads (two shuffle-hash semi
        # joins), so its raw dataflow holds two sites — in the registry
        # query both ride the cached parse and share one shuffle exchange
        # of the keys (ReusedExchange), so runtime parses stay 1; the lint
        # bounds the sites so a regression to 4 (the pre-r7 delta
        # self-union) is caught.
        want_sites = {
            "cdc_apply_customer_bucketed/steady_fold": 1,
            "cdc_maintained_agg_view/steady_fold": 1,
            "cdc_maintained_agg_view/view_patch": 2,
            # the min/max patch checkpoints its per-group patch frame (the
            # gate, the keep side, the patched rows and the rescan list
            # read it), which severs the parse subtree from the returned
            # frame's plan — the runtime parse rides the shared cached
            # batch in the registry query exactly like the others
            "cdc_maintained_minmax_view/view_patch": 0,
            # same checkpoint-severed lineage as the minmax patch
            "cdc_maintained_topk_view/view_patch": 0,
            # the distinct patch checkpoints both its delta multiset and
            # the support-merge frame — same severed lineage
            "cdc_maintained_distinct_view/view_patch": 0,
            # the two-source replacement patch's touched-key pin (the union
            # of BOTH specs' touched keys, deliberately lazy — see
            # before_apply) is textually re-embedded in all three legs of
            # the raw uncached frame (a_t/b_t semi + base anti), each
            # carrying the two-table parse subtree: 12 textual sites. At
            # runtime the registry/streaming drivers cache the parse and
            # the pin broadcasts ONCE (ReusedExchange) — real parses stay
            # 1; the pin catches a structural regression (e.g. the pin
            # losing its single-broadcast shape).
            "cdc_two_source_join_view/view_patch": 12,
        }
        for name, df in frames.items():
            assert _from_json_count(df) == want_sites[name], (
                f"{name}: parse sites moved"
            )
            assert_no_python_udf(df)
            p = df._jdf.queryExecution().executedPlan().toString()
            for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
                first = m.group(1).split(",")[0].strip()
                assert not (
                    " ASC" in first
                    or " DESC" in first
                    or first.startswith("specifiedwindowframe")
                ), f"{name}: partition-less window"
        # the frames are real: each executes to plausible row counts
        assert frames["cdc_maintained_agg_view/view_patch"].count() > 0
    finally:
        cleanup()

"""The two CDC workloads, on the production streaming path.

``StreamingReplayer`` drains a landed backlog, one bronze file per
microbatch, into a ``BucketStore`` bootstrapped from a landed parquet
snapshot (``snapshot_from_parquet``); on ``fresh_views`` a
``MaintainedMinMaxView``, a ``MaintainedTopKView`` and a
``JdbcApplySink`` (embedded Derby target) ride as maintainers.

Phases of a run:

1. generate and land the inputs (untimed, not in ``setup_s``);
2. set up (``setup_s``): ``get_spark``, snapshot bootstrap,
   maintainers (the sink's bootstrap load) and a drain of the warm-up
   batches (the views materialise on the first);
3. the timed drain: one batch after another;
4. ``READ_PASSES`` passes over the workload's fixed read set;
5. output checks.
"""

from __future__ import annotations

import dataclasses
from collections import Counter, defaultdict
import os
import random
import time
from dataclasses import dataclass
from decimal import Decimal

from harness import (
    Batch, Result, Run, batch_layers, drain, land, layer_medians, median, seconds_to_batches,
)
from inputs import DATABASE, SCHEMA, cdc_inputs
from tracing import dir_bytes


@dataclass(frozen=True)
class Shape:
    tables: dict
    batch_events: int
    n_buckets: int
    warm_batches: int
    nominal_batch_s: float  # one timed batch on the reference host
    min_batches: int
    max_batches: int
    views: bool
    stream_kw: dict


CATCHUP = Shape(
    tables={"customer": 15_000, "orders": 150_000},
    batch_events=30_000,
    n_buckets=64,
    warm_batches=1,
    nominal_batch_s=5.0,
    min_batches=3,
    max_batches=12,
    views=False,
    stream_kw={},
)
FRESH_VIEWS = Shape(
    tables={"customer": 15_000},
    batch_events=2_000,
    n_buckets=16,
    warm_batches=3,
    nominal_batch_s=7.5,
    min_batches=3,
    max_batches=30,
    views=True,
    stream_kw={"hot_keys": 150, "hot_share": 0.8},
)
READ_PASSES = 3
LOOKUPS_PER_PASS = 2
KEYS_PER_LOOKUP = 16
TOP_K = 10
DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@dataclass
class Deployment:
    catalog: object
    store: object
    replayer: object
    views: dict
    sink: object
    derby_url: str | None
    phases: dict  # set-up phase walls (s), for the run's notes line


def deploy(run: Run, shape: Shape, inp) -> Deployment:
    """Bootstrap a fresh engine deployment and drain the warm-up batches."""
    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.sources.snapshot import snapshot_from_parquet
    from connemara_spark.stores import BucketStore
    from connemara_spark.streaming.driver import StreamingReplayer

    spark = run.spark
    t = time.monotonic()
    cat = EngineCatalog()
    store = BucketStore(spark, run.path("silver", ""), n_buckets=shape.n_buckets)
    snapshot_from_parquet(
        spark, cat, store, database=DATABASE, schema=SCHEMA,
        tables={t: os.path.dirname(p) for t, p in inp.snapshots.items()},
        pk_cols={t: s.pk_cols for t, s in inp.specs.items()},
    )
    phases = {"bootstrap_s": time.monotonic() - t}
    t = time.monotonic()
    views, sink, url = {}, None, None
    if shape.views:
        from connemara_spark.operators.ivm import MaintainedMinMaxView, MaintainedTopKView
        from connemara_spark.sinks import JdbcApplySink

        spec = cat.get(DATABASE, SCHEMA, "customer")
        views["minmax"] = MaintainedMinMaxView(
            spark, store, spec, group_col="c_nationkey", val_col="c_acctbal",
            view_dir=run.path("views", "minmax", ""),
        )
        views["topk"] = MaintainedTopKView(
            spark, store, spec, group_col="c_mktsegment", val_col="c_acctbal",
            k=TOP_K, view_dir=run.path("views", "topk", ""),
        )
        url = "jdbc:derby:memory:perfbench"
        con = spark._jvm.java.sql.DriverManager.getConnection(url + ";create=true")
        try:
            con.createStatement().execute(
                "CREATE TABLE customer (c_custkey BIGINT PRIMARY KEY, c_name VARCHAR(64), "
                "c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR(16))"
            )
        finally:
            con.close()
        sink = JdbcApplySink(spark, store, spec, url=url, target_table="customer", properties=DERBY)
        sink.bootstrap_load()
    phases["maintainers_s"] = time.monotonic() - t
    sr = StreamingReplayer(
        spark, cat, store,
        landing_dir=run.path("landing", ""),
        checkpoint_dir=run.path("checkpoint", ""),
        max_files_per_trigger=1,
        maintainers=[*views.values(), *([sink] if sink else [])],
    )
    land(inp.batches[: shape.warm_batches], sr.landing_dir)
    phases["warm_s"] = [round(b.wall, 2) for b in drain(sr.start(available_now=True))]
    return Deployment(cat, store, sr, views, sink, url, phases)


def instrument(run: Run, dep: Deployment, first_timed: int) -> None:
    """Wrap the public calls ``StreamingReplayer`` makes into each layer.
    Timed batches alternate traced / untraced, so the difference of their
    medians is the tracing overhead."""
    t = run.tracer
    sr, store = dep.replayer, dep.store
    t.wrap(sr.replayer, "parse_batch", "pipeline.parse_batch")
    t.wrap(sr.replayer, "apply_batch", "pipeline.apply_batch",
           counts=lambda res, a, k: {"tables_touched": res.tables_touched})
    t.wrap(sr.replayer, "build_fold", "apply.build_fold")

    def write_counts(res, args, kwargs):
        spec = args[0]
        n = store.bucket_count(spec.target_name)
        v = store.current_version(spec.target_name)
        # the version directory holds exactly the buckets this write rewrote
        return {
            "buckets": len(kwargs.get("buckets") or range(n)),
            "total": n,
            "bytes": dir_bytes(store._vdir(spec.target_name, v)),
        }

    t.wrap(store, "write_partial", "stores.write", counts=write_counts)
    t.wrap(store, "write", "stores.write", counts=write_counts)
    for name, view in dep.views.items():
        t.wrap(view, "before_apply", f"ivm.{name}.before_apply")
        t.wrap(view, "after_apply", f"ivm.{name}.after_apply",
               counts=lambda res, a, k, v=view: {"recompute_groups": v.last_recompute_groups or 0})
    if dep.sink is not None:
        t.wrap(dep.sink, "before_apply", "sinks.before_apply")
        t.wrap(dep.sink, "after_apply", "sinks.after_apply")
    t.wrap(sr, "_foreach_batch", "streaming.foreach_batch")
    traced = sr._foreach_batch

    def gate(df, batch_id):
        t.batch = batch_id
        t.on = batch_id >= first_timed and (batch_id - first_timed) % 2 == 0
        try:
            traced(df, batch_id)
        finally:
            t.on = False

    sr._foreach_batch = gate


def _dur(spans, name: str) -> float:
    return sum(s.end - s.start for s in spans if s.name == name)


def _count(spans, name: str, key: str) -> float:
    return sum(s.counts.get(key, 0) for s in spans if s.name == name)


def cdc_layers(run: Run, facts, b: Batch) -> dict:
    spans = run.tracer.of_batch(b.id)
    rewritten = _count(spans, "stores.write", "buckets")
    total = _count(spans, "stores.write", "total")
    out = {
        "streaming.trigger_s": b.wall,
        "streaming.overhead_s": b.wall - _dur(spans, "streaming.foreach_batch"),
        "streaming.input_rows": b.rows,
        "pipeline.parse_batch_s": _dur(spans, "pipeline.parse_batch"),
        "pipeline.apply_batch_s": _dur(spans, "pipeline.apply_batch"),
        "pipeline.tables_touched": _count(spans, "pipeline.apply_batch", "tables_touched"),
        "apply.build_fold_s": _dur(spans, "apply.build_fold"),
        "stores.write_s": _dur(spans, "stores.write"),
        "stores.buckets_rewritten": rewritten,
        "stores.rewrite_ratio": rewritten / total if total else 0.0,
        "stores.bytes_written": _count(spans, "stores.write", "bytes"),
        "ivm.topk.recompute_groups": _count(spans, "ivm.topk.after_apply", "recompute_groups"),
        "sinks.before_apply_s": _dur(spans, "sinks.before_apply"),
        "sinks.after_apply_s": _dur(spans, "sinks.after_apply"),
    }
    for view in ("minmax", "topk"):
        for call in ("before_apply", "after_apply"):
            out[f"ivm.{view}.{call}_s"] = _dur(spans, f"ivm.{view}.{call}")
    out.update(batch_layers(facts, b, spans))
    return out


# -- read sets ---------------------------------------------------------------


def _lookup_keys(rng: random.Random, keys: list[int]) -> list[list[int]]:
    return [rng.sample(keys, KEYS_PER_LOOKUP) for _ in range(LOOKUPS_PER_PASS)]


def read_pass(run: Run, dep: Deployment, lookups: list[list[int]]) -> tuple[float, dict]:
    """One pass over the workload's fixed BI read set: a store-wide
    aggregate (orders joined to customer when orders is replicated, else
    customer per segment), the maintained views if any, and
    ``read_for_keys`` point lookups into the largest table. Returns
    (wall, results)."""
    from pyspark.sql import functions as F

    spark, store, cat = run.spark, dep.store, dep.catalog
    t = time.monotonic()
    out: dict = {}
    c = store.read(cat.get(DATABASE, SCHEMA, "customer"))
    if cat.maybe_get(DATABASE, SCHEMA, "orders") is not None:
        o = store.read(cat.get(DATABASE, SCHEMA, "orders"))
        agg = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_mktsegment", "o_orderstatus").agg(
            F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        )
        lookup_table = "orders"
    else:
        agg = c.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)), F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        )
        lookup_table = "customer"
    out["agg"] = Counter(tuple(r) for r in agg.collect())
    out["views"] = {name: v.read_view().collect() for name, v in dep.views.items()}
    spec = cat.get(DATABASE, SCHEMA, lookup_table)
    pk = spec.pk_cols[0]
    found = []
    for keys in lookups:
        kdf = spark.createDataFrame([(k,) for k in keys], f"{pk} long")
        found.append((keys, store.read_for_keys(spec, kdf).join(kdf, pk, "left_semi").collect()))
    out["lookups"] = (lookup_table, found)
    return time.monotonic() - t, out


# -- checks ------------------------------------------------------------------


def _rows(df, spec) -> Counter:
    """A frame's rows as a multiset, so a row stored twice shows."""
    cols = spec.column_names
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _oracle_rows(oracle) -> dict:
    cols = oracle.spec.column_names
    return {k[0]: tuple(v[c] for c in cols) for k, v in oracle.state.items()}


def _dec(v) -> Decimal:
    return Decimal(repr(v)).quantize(Decimal("0.01"))


def check_store(res: Result, dep: Deployment, inp) -> tuple[dict, dict]:
    """The store equals ``testing.SequentialOracle`` for every table.
    Returns the oracle's rows by key and the store's rows, per table."""
    expect, stored = {}, {}
    for name, oracle in inp.expected.items():
        spec = dep.catalog.get(DATABASE, SCHEMA, name)
        expect[name] = _oracle_rows(oracle)
        stored[name] = _rows(dep.store.read(spec), spec)
        res.check(stored[name] == Counter(expect[name].values()), f"store {name} == SequentialOracle")
    return expect, stored


def check_reads(res: Result, reads: list[dict], expect: dict) -> None:
    """Every read pass returned the oracle's answers."""
    cust = expect["customer"]
    want: dict = {}
    if "orders" in expect:
        for o in expect["orders"].values():
            c = cust.get(o[1])
            if c is not None:
                n, total = want.get((c[4], o[2]), (0, Decimal(0)))
                want[(c[4], o[2])] = (n + 1, total + _dec(o[3]))
    else:
        for c in cust.values():
            n, total = want.get((c[4],), (0, Decimal(0)))
            want[(c[4],)] = (n + 1, total + _dec(c[3]))
    want = Counter(group + n_total for group, n_total in want.items())
    for out in reads:
        res.check(out["agg"] == want, "store-wide aggregate == oracle")
        table, found = out["lookups"]
        rows = expect[table]
        for keys, got in found:
            res.check(
                Counter(tuple(r) for r in got) == Counter(rows[k] for k in keys if k in rows),
                f"read_for_keys({table}) == oracle rows",
            )


def check_views(res: Result, run: Run, dep: Deployment, state: Counter, reads: list[dict]) -> None:
    """Each view equals a full recompute over ``store.read`` rows
    (``state``, done here in Python), and the Derby target read back over
    JDBC equals the store."""
    by_nation, by_segment = defaultdict(list), defaultdict(list)
    for key, _name, nation, bal, seg in state.elements():
        by_nation[nation].append(_dec(bal))
        by_segment[seg].append((_dec(bal), key))
    want_mm = Counter()
    for g, vals in by_nation.items():
        lo, hi = min(vals), max(vals)
        want_mm[(g, len(vals), lo, vals.count(lo), hi, vals.count(hi))] += 1
    want_tk = Counter()
    for g, pairs in by_segment.items():
        top = sorted(pairs, key=lambda p: (-p[0], p[1]))[:TOP_K]
        want_tk[(g, len(pairs), tuple(top))] += 1
    for out in reads:
        views = out["views"]
        res.check(Counter(tuple(r) for r in views["minmax"]) == want_mm, "minmax view == full recompute")
        res.check(
            Counter((r[0], r[1], tuple((e["v"], e["id"]) for e in r[2])) for r in views["topk"]) == want_tk,
            "topk view == full recompute",
        )
    res.check(_derby_rows(run, dep) == state, "Derby target == store")


def _derby_rows(run: Run, dep: Deployment) -> Counter:
    df = run.spark.read.jdbc(dep.derby_url, "customer", properties=DERBY)
    cols = dep.catalog.get(DATABASE, SCHEMA, "customer").column_names
    return Counter(tuple(r) for r in df.select(*cols).collect())


# -- the workload ------------------------------------------------------------


def run_cdc(run: Run, shape: Shape) -> Result:
    from bench import _CoTenantMeter

    res = Result()
    if run.tiny:
        shape = dataclasses.replace(
            shape,
            tables={t: n // 10 for t, n in shape.tables.items()},
            batch_events=shape.batch_events // 10,
        )
    n_timed = seconds_to_batches(run.seconds, shape.nominal_batch_s, shape.min_batches, shape.max_batches)
    t = time.monotonic()
    inp = cdc_inputs(
        run.path("inputs", ""), seed=run.seed, tables=shape.tables,
        n_batches=shape.warm_batches + n_timed, batch_events=shape.batch_events,
        **shape.stream_kw,
    )
    gen_s = time.monotonic() - t
    run.start_session()
    t = time.monotonic()
    dep = deploy(run, shape, inp)
    setup_s = run.session_s + time.monotonic() - t

    if run.trace:
        instrument(run, dep, shape.warm_batches)
    meter = _CoTenantMeter()
    land(inp.batches[shape.warm_batches:], dep.replayer.landing_dir)
    batches = [b for b in drain(dep.replayer.start(available_now=True)) if b.id >= shape.warm_batches]
    res.attempted += len(batches)
    res.check(len(batches) == n_timed, f"{n_timed} timed batches ran")
    res.check(sum(b.rows for b in batches) == sum(inp.batch_events[shape.warm_batches:]), "every event read")

    table = "orders" if "orders" in inp.expected else "customer"
    live = sorted(k[0] for k in inp.expected[table].state)
    lookups = _lookup_keys(random.Random(run.seed), live)
    reads = [read_pass(run, dep, lookups) for _ in range(READ_PASSES)]
    other_cores, _ = meter.window()
    t = time.monotonic()
    res.attempted += len(reads) * (1 + len(dep.views) + LOOKUPS_PER_PASS)

    expect, stored = check_store(res, dep, inp)
    check_reads(res, [out for _, out in reads], expect)
    if shape.views:
        check_views(res, run, dep, stored["customer"], [out for _, out in reads])
    check_s = time.monotonic() - t

    walls = [b.wall for b in batches]
    res.e2e = {
        "batch_p50_s": median(walls),
        "rows_per_s": sum(b.rows for b in batches) / sum(walls),
        "read_p50_s": median(w for w, _ in reads),
        "setup_s": setup_s,
    }
    res.notes.append(
        f"gen_s={gen_s:.2f} session_s={run.session_s:.2f} setup_s={setup_s:.2f} "
        + " ".join(f"{k}={v:.2f}" if isinstance(v, float) else f"{k}={v}" for k, v in dep.phases.items())
        + f" batches_s={[round(w, 2) for w in walls]} reads_s={[round(w, 2) for w, _ in reads]}"
        f" check_s={check_s:.2f} other_cores={other_cores:.2f}"
    )
    if run.trace:
        chain = max(dep.store.chain_length(s) for s in dep.catalog.tables())
        read_s = median(w for w, _ in reads)
        run.stop_session()
        facts = run.spark_facts()
        traced = [b for b in batches if (b.id - shape.warm_batches) % 2 == 0]
        untraced = [b for b in batches if (b.id - shape.warm_batches) % 2 == 1]
        res.layers = layer_medians([cdc_layers(run, facts, b) for b in traced])
        res.layers.update({
            "stores.chain_length": chain,
            "stores.read_pass_s": read_s,
            "trace.overhead_s": median(b.wall for b in traced) - median(b.wall for b in untraced),
            **run.proc_layers(other_cores),
        })
    res.other_cores = other_cores
    return res

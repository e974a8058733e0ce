"""Headline query registry: Spark DataFrame implementation + DuckDB oracle SQL.

Each entry exercises engine operators from SURVEY §2 over the driver's
TPC-H-ish tables (TESTDATA.md). Conventions for oracle parity:

- Money math is done in DECIMAL (price: DECIMAL(12,2), rates: DECIMAL(4,2))
  in BOTH engines, so sums are exact and hash-identical; final aggregates are
  CAST to DOUBLE (identical schema both sides).
- Every computed column is aliased identically in the DataFrame code and the
  SQL (driver compares by column name).
- LIMIT queries carry a unique tiebreaker so the row set is deterministic.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from connemara_spark.catalog import ColumnSpec, TableSpec
from connemara_spark.events import parse_events
from connemara_spark.functions.pg import extract_epoch
from connemara_spark.operators.apply import apply_changes, apply_changes_cut, latest_wins

DEC_PRICE = "decimal(12,2)"
DEC_RATE = "decimal(4,2)"


# Inferred parquet schemas per (path, mtime, size): footer schema inference
# is a 1-task Spark job plus a driver gap, paid on EVERY load() call — once
# per table per query per bench rep. The schema is pure metadata (a
# StructType, never data) and the key's mtime/size guards regenerated
# testdata, so this is statement-preparation caching, not result caching.
_LOAD_SCHEMAS: dict = {}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # The driver harness builds a bare SparkSession (not our get_spark()), so
    # the nanos escape hatch must be set here: events.parquet is written as
    # TIMESTAMP(NANOS) which Spark rejects unless read as raw int64. This is a
    # runtime-settable SQLConf, safe to set repeatedly.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive parquet timestamps arrive as TIMESTAMP_NTZ under a bare session;
    # pin the session tz so any NTZ→LTZ cast (epoch math) is deterministic
    # and matches DuckDB's naive-timestamp semantics.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import os as _os

    path = f"{sf_dir}/{table}.parquet"
    try:
        st = _os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    sch = _LOAD_SCHEMAS.get(key) if key is not None else None
    if sch is not None:
        df = spark.read.schema(sch).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _LOAD_SCHEMAS[key] = df.schema
    # TIMESTAMP(NANOS) parquet columns arrive as long (nanosAsLong conf);
    # floor-convert to micros — identical to DuckDB's CAST(ts AS TIMESTAMP).
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint" and table == "events":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Ensure expression-heavy per-row work parallelizes: repartition ONLY
    when the scan yields fewer partitions than cores (single small parquet
    file in local tests). At production scale files outnumber cores and this
    is a no-op — no shuffle is added."""
    want = df.sparkSession.sparkContext.defaultParallelism
    # Avoid df.rdd (forces an RDD conversion plan per query): a single local
    # parquet file always scans as < `want` partitions, and at production
    # scale files outnumber cores, so keying off the input file count is an
    # accurate, plan-free proxy.
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        nfiles = want
    if nfiles < want:
        return df.repartition(want)
    return df


# Oracle-side prelude matching the loader's ns→us conversion.
EVENTS_CTE = (
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
    "event_type, value, props FROM events)"
)



def _ranked_topk(top: DataFrame, score_col: str, id_col: str, out: str = "rk") -> DataFrame:
    """1-based dense rank over an ALREADY top-k-limited frame (score DESC,
    id ASC tiebreak) via an inequality self-join count — k^2 pairs over
    <= topn rows, fully parallel. A bare ORDER BY window here would plan a
    single-partition WindowExec (and `partitionBy(lit(0))` doesn't help:
    Catalyst folds constant partition keys away)."""
    a, b = top.alias("__a"), top.alias("__b")
    before = (F.col(f"__b.{score_col}") > F.col(f"__a.{score_col}")) | (
        (F.col(f"__b.{score_col}") == F.col(f"__a.{score_col}"))
        & (F.col(f"__b.{id_col}") < F.col(f"__a.{id_col}"))
    )
    return (
        a.join(F.broadcast(b), before, "left")
        .groupBy(F.col(f"__a.{id_col}").alias(id_col), F.col(f"__a.{score_col}").alias(score_col))
        .agg((F.count(F.col(f"__b.{id_col}")) + 1).cast("int").alias(out))
    )


def _dec(c: str, t: str = DEC_PRICE) -> F.Column:
    """Grid-exact money decimal: snap the double onto the 10^-scale grid
    with FLOOR(x*10^s + 0.5) — pure IEEE ops (multiply, add, floor) that
    are bit-identical in Spark and DuckDB — THEN cast, which is exact for
    an on-grid double. A direct double->DECIMAL cast is engine-DIVERGENT
    on near-tie shortest reprs: Spark rounds the shortest decimal string
    HALF_UP while DuckDB rounds at ~15 significant digits, so
    1.7249999999999999 casts to 1.72 vs 1.73 (reproduced: 48/400
    adversarial values; the r9 driver red rows). Oracle twin:
    CAST(CAST(FLOOR(x * 10^s + 0.5) AS DOUBLE) / 10^s AS DECIMAL(p,s)).
    Current driver testdata is entirely on-grid (<= 2-decimal shortest
    reprs), where this is value-identical to the plain cast — the grid
    only engages on adversarial regenerations."""
    from connemara_spark.functions.money import grid_dec

    return grid_dec(c, t)


def _dec_sql(expr: str, t: str = "DECIMAL(12,2)") -> str:
    """The oracle-side twin of ``_dec`` (see its docstring)."""
    from connemara_spark.functions.money import grid_dec_sql

    return grid_dec_sql(expr, t)


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""
    # Data-dependent oracle: some twins (trained IVF-PQ) embed literals
    # DERIVED FROM the data (k-means books), so the SQL depends on which
    # sf_dir the query runs against. ``oracle_fn(sf_dir)`` renders it; the
    # driver contract resolves at its fixed gate scale (DRIVER_GATE_SF),
    # local parity resolves at the test's own sf_dir.
    oracle_fn: Callable[[str], str] | None = None

    def resolve_oracle(self, sf_dir: str) -> str | None:
        if self.oracle_fn is not None:
            return self.oracle_fn(sf_dir)
        return self.oracle


REGISTRY: dict[str, QueryDef] = {}

# The driver runs its Spark-vs-DuckDB value-hash gate at sf=0.01 (driver
# contract); data-dependent oracles resolve against this scale for
# ``oracles()``.
DRIVER_GATE_SF = "/root/testdata/sf0.01"


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    oracle_fn: Callable[[str], str] | None = None,
):
    def deco(fn):
        if name in REGISTRY:
            # a silent overwrite would retire a (possibly driver-verified)
            # query under the same name with different semantics — the
            # cumulative CORRECTNESS evidence is keyed by name, so that
            # must be an explicit rename, never an accident
            raise ValueError(f"registry name {name!r} is already registered")
        REGISTRY[name] = QueryDef(name, fn, oracle, description, oracle_fn)
        return fn

    return deco


# ---------------------------------------------------------------------------
# TPC-H-style relational queries (scan/filter/join/agg/sort/limit — the
# "target tables are plain relational tables" side of the reference)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2))) * (1 + CAST(CAST(FLOOR(l_tax * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "full-scan grouped aggregation (map-side partial agg)",
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    price, disc, tax = _dec("l_extendedprice"), _dec("l_discount", DEC_RATE), _dec("l_tax", DEC_RATE)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "3-way join + agg + top-k (broadcastable dim)",
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE)))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    "6-way star join with broadcast dims",
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE)))
            .cast("double")
            .alias("revenue")
        )
    )


_SQL_SURFACE_Q6 = """
    SELECT CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""

_SQL_SURFACE_Q5 = """
    SELECT n_name,
           CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
"""


def _sql_surface(sql: str, tables: list[str]):
    """The raw-SQL user path (the reference's BI-tool story,
    docs/index.rst:9-12): register the tables as temp views and hand ONE
    ANSI SQL string to spark.sql — the IDENTICAL string is the DuckDB
    oracle, so the gate proves both engines read the same SQL the same
    way, and Catalyst's plan (pushdown, broadcasts) matches the
    DataFrame-built twin's."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        for t in tables:
            load(spark, sf_dir, t).createOrReplaceTempView(t)
        return spark.sql(sql)

    return fn


register(
    "sql_surface_q6",
    _SQL_SURFACE_Q6,
    "raw-SQL surface twin of q6: ONE ANSI string executed verbatim by BOTH spark.sql "
    "(over temp views) and the DuckDB oracle — the BI-tool user path, value-hash-gated",
)(_sql_surface(_SQL_SURFACE_Q6, ["lineitem"]))

register(
    "sql_surface_q5",
    _SQL_SURFACE_Q5,
    "raw-SQL surface twin of q5 (6-way star join): the same shared ANSI text on both "
    "engines; Catalyst still broadcasts the dims exactly as the DataFrame-built twin",
)(_sql_surface(_SQL_SURFACE_Q5, ["customer", "orders", "lineitem", "supplier", "nation", "region"]))



@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    "selective scan + global agg (predicate pushdown showcase)",
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", DEC_RATE)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "join + agg + top-k with returned-items filter",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE)))
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "window_top_orders_per_segment",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice
    FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) DESC, o_orderkey) AS rn
        FROM orders JOIN customer ON o_custkey = c_custkey
    ) t WHERE rn <= 3
    """,
    "window function: top-N per group",
)
def window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        _dec("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )


@register(
    "customers_without_orders",
    """
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name
    """,
    "anti-join (NOT EXISTS) + agg",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# CDC / event-stream queries (the reference's core dataflow re-expressed)
# ---------------------------------------------------------------------------

@register(
    "cdc_latest_wins",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           value AS last_value
    FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
    "A5 latest-wins reduction — the core batch-CDC primitive",
)
def cdc_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return latest_wins(ev, ["user_id"], ["event_id"]).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


CUSTOMER_SPEC = TableSpec(
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


def _event_lsn_bounds(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(min, max) of the synthetic CDC stream's lsn_start — which is the
    events table's event_id verbatim — read from the parquet FOOTER
    statistics (driver-side file IO, zero Spark jobs; the same trick the
    spool GC uses for its watermark, ops.py). The multi-batch pipeline
    queries split the stream into contiguous LSN ranges, and paying a
    full aggregation job just to learn the split points was one driver-
    synchronous job per query on the all-job-floor path. Falls back to
    the aggregation when footer stats are absent."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    try:
        files = (
            [
                os.path.join(path, e)
                for e in os.listdir(path)
                if e.endswith(".parquet")
            ]
            if os.path.isdir(path)
            else [path]
        )
        lo = hi = None
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("event_id")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no footer min/max")
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            raise ValueError("no row groups")
        return int(lo), int(hi)
    except Exception:
        row = (
            spread(load(spark, sf_dir, "events"))
            .agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
            .collect()[0]
        )
        return int(row["lo"]), int(row["hi"])


def _fresh_spec(spec: TableSpec, **changes) -> TableSpec:
    """A private copy of a fixture spec (``changes`` override fields): DDL
    evolves catalog specs IN PLACE, so every replay registers its own."""
    import copy
    import dataclasses

    return dataclasses.replace(copy.deepcopy(spec), **changes)


def _lsn_batch_ix(lo: int, step: int) -> Column:
    """Batch index of a CDC event under the standard lsn slicing
    (``lsn_start in [lo + i*step, lo + (i+1)*step)`` → ``i``), the
    ``batch_ix`` that ``Replayer.replay`` slices and summarizes by."""
    return F.expr(f"int((lsn_start - {lo}) div {step})")


def _with_ddl_event(bronze: DataFrame, lsn: int, query: str) -> DataFrame:
    """``bronze`` plus one captured DDL statement on db1 at ``lsn`` (the
    reference's sql_ddl_statements insert, replay.pl:867) — the mid-stream
    DDL of the schema-evolution gates."""
    import datetime as _dt
    import json as _json

    ts = _dt.datetime(2024, 6, 1)
    payload = _json.dumps(
        {
            "kind": "insert",
            "schema": "public",
            "table": "sql_ddl_statements",
            "columnnames": ["id", "current_query", "search_path", "command_tags"],
            "columnvalues": [str(lsn), query, '"$user", public', "{DDL}"],
        }
    )
    row = bronze.sparkSession.createDataFrame(
        [(ts, "db1", "slot_db1", lsn, lsn + 1000, ts, payload)], schema=bronze.schema
    )
    return bronze.unionByName(row)


def _customer_cdc_bronze(
    spark: SparkSession,
    sf_dir: str,
    *,
    database: str = "db1",
    slot: str = "slot_db1",
    name_prefix: str = "cdc#",
    lsn_offset: int = 0,
    acctbal: Column | None = None,
) -> DataFrame:
    """Derive a deterministic wal2json CDC stream from the events table:
    error → delete, signup → insert, other → full-row update, keyed into a
    custkey space that overlaps the snapshot (mix of updates + new keys).
    ``database``/``slot``/``name_prefix``/``lsn_offset`` let a caller forge
    a SECOND stream over the same key space — the rogue-slot stream the F2
    restriction gate needs (an admitted rogue at lsn+1 would win every
    per-key fold and poison c_name, so leakage is hash-visible).
    ``acctbal`` optionally replaces the raw ``value`` column as the
    c_acctbal payload — the certified IVM gates pass an adversarial
    dyadic-grid expression here (exact IEEE ops only, so the double is
    bit-identical in Spark and the DuckDB oracle, and it survives the
    wal2json shortest-repr string round-trip exactly)."""
    ev = spread(load(spark, sf_dir, "events"))
    bal = F.col("value") if acctbal is None else acctbal
    key = ((F.col("user_id") * 31 + F.col("event_id") % 100) % 200 + 1).cast("long")
    kind = (
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "signup", "insert")
        .otherwise("update")
    )
    names = F.array(*[F.lit(c) for c in ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]])
    vals = F.array(
        key.cast("string"),
        F.concat(F.lit(name_prefix), F.col("event_id").cast("string")),
        (F.col("user_id") % 25).cast("string"),
        bal.cast("string"),
        F.col("event_type"),
    )
    payload = F.to_json(
        F.struct(
            kind.alias("kind"),
            F.lit("public").alias("schema"),
            F.lit("customer").alias("table"),
            F.when(kind != "delete", names).alias("columnnames"),
            F.when(kind != "delete", vals).alias("columnvalues"),
            F.when(
                kind != "insert",
                F.struct(
                    F.array(F.lit("c_custkey")).alias("keynames"),
                    F.array(key.cast("string")).alias("keyvalues"),
                ),
            ).alias("oldkeys"),
        )
    )
    return ev.select(
        # Constant arrival time: apply order is purely lsn_start (event_id),
        # matching the oracle's ORDER BY event_id.
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit(database).alias("database"),
        F.lit(slot).alias("source_slotname"),
        (F.col("event_id") + F.lit(lsn_offset)).alias("lsn_start"),
        (F.col("event_id") + 1000).alias("xid"),
        F.col("ts").alias("xid_timestamp"),
        payload.alias("payload"),
    )


@register(
    "cdc_apply_customer",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    )
    SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
           CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
           CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
    FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
    WHERE COALESCE(l.op, '') <> 'delete'
    """,
    "full CDC path: wal2json payloads → parse → per-key ordered fold → merged snapshot",
)
def cdc_apply_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    snapshot = load(spark, sf_dir, "customer")
    # Materialize the synthetic bronze (a real landing zone is materialized
    # files): without the persist barrier Catalyst pushes the parse-heavy
    # table filter below the repartition into the single-file scan task.
    bronze = _customer_cdc_bronze(spark, sf_dir).localCheckpoint()
    events = parse_events(bronze)
    return apply_changes(snapshot, events, CUSTOMER_SPEC)


@register(
    "cdc_apply_customer_bounded",
    REGISTRY["cdc_apply_customer"].oracle,
    "hot-key-safe CDC apply: two-level (key, lsn-bucket) fold with composable "
    "segment summaries — per-key state bounded at bucket occupancy instead of "
    "the key's full event count (the reference's O(1) serial-apply bound, "
    "replay.pl:879-960, matched distributively); same oracle as cdc_apply_customer",
)
def cdc_apply_customer_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.apply import apply_changes_bounded

    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_cdc_bronze(spark, sf_dir).localCheckpoint()
    events = parse_events(bronze)
    return apply_changes_bounded(snapshot, events, CUSTOMER_SPEC, lsn_bucket=1000)


@register(
    "cdc_apply_customer_bucketed",
    REGISTRY["cdc_apply_customer"].oracle,
    "CDC apply hosted in the BucketStore silver store (the 100 TB batch-IO "
    "answer): snapshot seeded as v1, the stream applied in two LSN-ordered "
    "batches through the production Replayer path, each committing a PARTIAL "
    "rewrite of only the hash buckets its touched keys fall into — batch IO "
    "O(touched buckets), never O(table); same oracle as cdc_apply_customer",
)
def cdc_apply_customer_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.pipeline import Replayer
    from connemara_spark.stores import BucketStore

    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_cdc_bronze(spark, sf_dir)
    # fresh store per invocation: the query is a pure function of sf_dir,
    # so state from an earlier run must never leak into the result; the
    # scratch dir is removed in the finally below (the result is
    # localCheckpoint-materialized first), so repeated invocations —
    # parity suites, bench loops — leave no disk growth
    root = tempfile.mkdtemp(prefix="connemara_bucketed_")
    store = BucketStore(spark, root, n_buckets=32)
    spec = _fresh_spec(CUSTOMER_SPEC)
    store.write(spec, snapshot)
    cat = EngineCatalog()
    cat.register(spec)
    rep = Replayer(spark, cat, store)
    # two contiguous LSN ranges: batch boundaries preserve per-key apply
    # order (order here is purely lsn_start), exactly a microbatch drain
    lo, hi = _event_lsn_bounds(spark, sf_dir)  # footer stats, no Spark job
    step = max((hi - lo) // 2 + 1, 1)
    try:
        rep.replay(bronze, _lsn_batch_ix(lo, step), len(range(lo, hi + 1, step)))
        # eager localCheckpoint pins the final state OFF the store paths
        # (ContextCleaner frees the blocks when the result is dropped)
        return store.read(spec).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "cdc_rebucket_apply",
    REGISTRY["cdc_apply_customer"].oracle,
    "mid-stream layout growth (W10's auto-rebucket path, hard-verified "
    "end-to-end): snapshot seeded into a BucketStore at 8 buckets, CDC batch "
    "1 applied as a partial rewrite under modulus 8, the table REBUCKETED to "
    "32 (a full rewrite committing a new manifest whose bucket count is "
    "authoritative, stores.py rebucket), then batch 2 applied as a partial "
    "rewrite under modulus 32 — the final state must be identical to a "
    "single-layout apply, proving touched-bucket pricing and pruning track "
    "the manifest across the boundary and no row is lost to a stale "
    "modulus; same oracle as cdc_apply_customer",
)
def cdc_rebucket_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.pipeline import Replayer
    from connemara_spark.stores import BucketStore

    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_cdc_bronze(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="connemara_rebucket_")
    store = BucketStore(spark, root, n_buckets=8)
    spec = _fresh_spec(CUSTOMER_SPEC)
    store.write(spec, snapshot)
    cat = EngineCatalog()
    cat.register(spec)
    rep = Replayer(spark, cat, store)
    lo, hi = _event_lsn_bounds(spark, sf_dir)  # footer stats, no Spark job
    step = max((hi - lo) // 2 + 1, 1)
    try:
        ranges = list(range(lo, hi + 1, step))
        # one parse for both batches (row-wise; layout-independent, so the
        # mid-stream rebucket below cannot affect it), sliced per batch
        parsed_all = rep.parse_batch(bronze).localCheckpoint()
        # a step per batch, NOT replay: batch 2's touched-bucket pricing
        # must run under the modulus the mid-loop rebucket() installs — an
        # upfront all-batches summary would price it under modulus 8
        for i, b0 in enumerate(ranges):
            in_batch = (F.col("lsn_start") >= b0) & (F.col("lsn_start") < b0 + step)
            rep.step(bronze.filter(in_batch), parsed=parsed_all.filter(in_batch))
            if i == 0:
                # the idle-maintenance trigger's core action, exercised at
                # the harshest point: between two batches of one stream —
                # batch 2's summary must price buckets under the NEW
                # manifest's modulus, and its partial rewrite must not
                # prune against any pre-rebucket version
                assert store.bucket_count(spec.target_name) == 8
                store.rebucket(spec, 32)
                assert store.bucket_count(spec.target_name) == 32
        return store.read(spec).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- maintained-view replay helper -----------------------------------------
# The five plain-family maintained-view gates (agg/minmax/topk/distinct/
# family union) and the two *_certified gates replay the SAME CDC stream over
# the SAME seed snapshot, differing only in which maintainer(s) ride the
# replay and how many LSN batches cut it. This helper builds the fixture and
# runs the maintainers through ``Replayer.replay`` — the per-batch step
# StreamingReplayer runs too; each registry query attaches ONLY the maintainer(s)
# whose view it returns and pays for its own replay on EVERY invocation —
# a bench/oracle run always computes each query's result from the parquet
# inputs (an earlier revision memoized the finished view frames per sf_dir
# across queries, which made the per-query bench numbers measure a dict hit;
# reverted). The final view is invariant to the batch cut count (each view
# must equal a full recompute of the folded state — that is the gate), so
# per-query batch counts are a pure workload knob, kept at the values each
# gate's docstring declares.


def _ivm_replay(
    spark: SparkSession,
    sf_dir: str,
    *,
    which: tuple[str, ...],
    certified: bool,
    n_batches: int,
) -> dict:
    """One CDC replay with the REQUESTED maintainers attached; computed
    fresh per invocation. Returns raw ``read_view()`` frames keyed by
    ``which``: plain family → any of {"agg", "mm", "dc", "tk"}; certified →
    {"mm", "tk"} (adversarial dyadic-grid payload, 25 nation groups, thin
    TOP-K slack). The scratch store is removed before returning — only the
    checkpointed view frames (5-75 rows each) survive, off the store paths."""
    import shutil
    import tempfile

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.operators.ivm import (
        MaintainedAggView,
        MaintainedDistinctCountView,
        MaintainedMinMaxView,
        MaintainedTopKView,
    )
    from connemara_spark.pipeline import ParquetStore, Replayer

    snapshot = load(spark, sf_dir, "customer")
    # localCheckpoint, not persist: same one materialization job, but it
    # also TRUNCATES the logical lineage — every downstream action (batch
    # summary, fold write, each view-patch job) otherwise re-analyzes the
    # whole load→payload-gen subtree per job, which the job-ladder probe
    # showed as driver gaps between jobs, not task time
    spark.sparkContext.setJobDescription("ivm: bronze")
    # lazy: the one materialization is the parse checkpoint in the loop
    # below (the payload-generation subtree is analyzed once, inside it)
    bronze = _customer_cdc_bronze(
        spark, sf_dir, acctbal=_adv_grid_col() if certified else None
    )
    root = tempfile.mkdtemp(prefix="connemara_ivmfam_")
    spec = _fresh_spec(CUSTOMER_SPEC)
    store = ParquetStore(spark, root)
    spark.sparkContext.setJobDescription("ivm: seed")
    store.write(spec, snapshot)
    cat = EngineCatalog()
    cat.register(spec)
    rep = Replayer(spark, cat, store)
    if certified:
        factories = {
            "mm": lambda: MaintainedMinMaxView(
                spark, store, spec,
                group_col="c_nationkey", val_col="c_acctbal",
                val_type="double", view_dir=f"{root}/v_mm",
            ),
            "tk": lambda: MaintainedTopKView(
                spark, store, spec,
                group_col="c_nationkey", val_col="c_acctbal",
                k=3, slack=2, val_type="double", view_dir=f"{root}/v_tk",
            ),
        }
    else:
        factories = {
            "agg": lambda: MaintainedAggView(
                spark, store, spec,
                group_col="c_mktsegment", sum_col="c_acctbal",
                # grid-exact money normalization (the _dec twin): a bare
                # double->DECIMAL cast is engine-divergent on near-tie reprs
                sum_expr="cast(cast(floor(c_acctbal * 100 + 0.5) as double) / 100 as decimal(12,2))",
                sum_type="decimal(12,2)", view_dir=f"{root}/v_agg",
            ),
            # raw double, NOT decimal(12,2), for minmax/topk: see the
            # registry docstrings — the decimal cast of a double is
            # engine-divergent on near-tie shortest reprs
            "mm": lambda: MaintainedMinMaxView(
                spark, store, spec,
                group_col="c_mktsegment", val_col="c_acctbal",
                val_type="double", view_dir=f"{root}/v_mm",
            ),
            "dc": lambda: MaintainedDistinctCountView(
                spark, store, spec,
                group_col="c_mktsegment", val_col="c_nationkey",
                val_pg_type="integer", view_dir=f"{root}/v_dc",
                support_buckets=16,
            ),
            "tk": lambda: MaintainedTopKView(
                spark, store, spec,
                group_col="c_mktsegment", val_col="c_acctbal",
                k=5, slack=5, val_type="double", view_dir=f"{root}/v_tk",
            ),
        }
    views = {nm: factories[nm]() for nm in which}
    lo, hi = _event_lsn_bounds(spark, sf_dir)  # footer stats, no Spark job
    step = max((hi - lo) // n_batches + 1, 1)
    jd = spark.sparkContext.setJobDescription  # phase labels for the UI/probe
    try:
        # the maintainers ride Replayer.replay: one checkpointed parse and
        # one summary job for the whole stream, then the production
        # per-batch step (concurrent patches under one static-plan scope)
        rep.replay(
            bronze, _lsn_batch_ix(lo, step), len(range(lo, hi + 1, step)),
            maintainers=list(views.values()), label="ivm",
        )
        jd("ivm: read_view")
        return {nm: v.read_view().localCheckpoint() for nm, v in views.items()}
    finally:
        jd(None)
        shutil.rmtree(root, ignore_errors=True)


@register(
    "cdc_maintained_agg_view",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    ),
    state AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
               CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
        FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    )
    SELECT c_mktsegment, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS total
    FROM state GROUP BY c_mktsegment
    """,
    "incrementally-maintained grouped aggregate over the CDC-fed customer state "
    "(MaintainedAggView through the Replayer maintainer protocol, two LSN-ordered "
    "batches): each batch patches the materialized (group, n_rows, total) at its "
    "touched keys only — O(|delta|) per batch, never a base-table rescan; the final "
    "view must equal a full recompute of the folded state",
)
def cdc_maintained_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivm_replay(
        spark, sf_dir, which=("agg",), certified=False, n_batches=2
    )["agg"]


@register(
    "cdc_maintained_minmax_view",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    ),
    state AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS v,
               CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
        FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    ),
    agg AS (
        SELECT c_mktsegment, COUNT(*) AS n_rows, MIN(v) AS min_val, MAX(v) AS max_val
        FROM state GROUP BY c_mktsegment
    )
    SELECT a.c_mktsegment, a.n_rows, a.min_val,
           (SELECT COUNT(*) FROM state s
             WHERE s.c_mktsegment = a.c_mktsegment AND s.v = a.min_val) AS min_cnt,
           a.max_val,
           (SELECT COUNT(*) FROM state s
             WHERE s.c_mktsegment = a.c_mktsegment AND s.v = a.max_val) AS max_cnt
    FROM agg a
    """,
    "incrementally-maintained MIN/MAX view over the CDC-fed customer state — "
    "the classic NON-self-maintainable aggregate (deleting a group's extremum "
    "exposes an unknown runner-up): MaintainedMinMaxView stores the extremum "
    "MULTIPLICITY so per batch the patch is |delta|-bounded, and only groups "
    "whose extremum multiplicity hits zero with no insert taking over are "
    "re-aggregated — from the current state restricted to exactly those "
    "groups (broadcast semi join), never a view rescan; the gate checks all "
    "six columns (n_rows, both extrema AND both multiplicities) against a "
    "full recompute of the folded state. The gate compares the RAW double "
    "(val_type='double'): a DECIMAL(12,2) gate is engine-divergent on "
    "near-tie shortest reprs (Spark casts via the shortest decimal string, "
    "DuckDB rounds at ~15 significant digits — e.g. 1.7249999999999999 -> "
    "1.72 vs 1.73, reproduced on adversarial data; the r9 driver red row), "
    "and decimal collapse would also merge distinct doubles into one "
    "multiplicity bucket. The decimal-typed view path stays pinned in "
    "tests/test_ivm.py where both sides share one engine.",
)
def cdc_maintained_minmax_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivm_replay(
        spark, sf_dir, which=("mm",), certified=False, n_batches=4
    )["mm"]


@register(
    "cdc_maintained_topk_view",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    ),
    state AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS v,
               CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
        FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    )
    SELECT c_mktsegment, rank, c_custkey, val FROM (
        SELECT c_mktsegment, c_custkey, v AS val,
               CAST(row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY v DESC, c_custkey) AS INT) AS rank
        FROM state
    ) WHERE rank <= 5
    """,
    "incrementally-maintained TOP-K view over the CDC-fed customer state — "
    "the BI leaderboard artifact and, like MIN/MAX, non-self-maintainable "
    "under deletions (a deleted top row pulls in an unknown runner-up): "
    "MaintainedTopKView stores each group's top k+slack (value, pk) pairs "
    "plus the row count; per batch evicted/updated stored rows and the "
    "batch's arrivals merge as bounded array ops at the touched groups "
    "only, and ONLY a group whose buffer burns below min(k, n_rows) is "
    "re-aggregated (broadcast semi join + per-group window bounded at "
    "k+slack rows out); the exploded (group, rank, pk, value) rows are "
    "gated against a full ROW_NUMBER recompute of the folded state. The "
    "gate ranks the RAW double (val_type='double'): a DECIMAL(12,2) gate "
    "is engine-divergent on near-tie shortest reprs (see the minmax view "
    "docstring; the r9 driver red row), and decimal collapse would turn "
    "distinct doubles into rank ties broken differently per engine. The "
    "decimal-typed buffer path stays pinned in tests/test_ivm.py.",
)
def cdc_maintained_topk_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _ivm_replay(spark, sf_dir, which=("tk",), certified=False, n_batches=4)["tk"]
        .select(
            "c_mktsegment",
            F.posexplode("top").alias("pos", "pair"),
        )
        .select(
            "c_mktsegment",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("pair.id").alias("c_custkey"),
            F.col("pair.v").alias("val"),
        )
    )


# Adversarial dyadic-grid money value for the *_certified IVM gates. Every
# op is EXACT in IEEE-754 (×8 shifts the exponent; FLOOR and the ÷8 are
# exact; the k·2⁻²⁷ tail fits the mantissa next to a ≤2¹⁰ magnitude, so
# even the final add rounds nothing): Spark and DuckDB compute the SAME
# bit pattern, and the wal2json shortest-repr string round-trip preserves
# it. The 1/8 quantization forces extremum multiplicities > 1 while the
# five 2⁻²⁷-spaced satellites force the view to keep near-tie doubles
# DISTINCT — any decimal snap or precision loss anywhere in the pipeline
# collapses them and the multiplicity/rank gates go red.
_GRID_EPS = 7.450580596923828e-09  # 2**-27, exactly representable
_ADV_GRID_SQL = (
    "FLOOR(value * 8) / 8 + CAST(event_id % 5 AS DOUBLE) * 7.450580596923828e-09"
)


def _adv_grid_col() -> Column:
    return (
        F.floor(F.col("value") * 8) / 8
        + (F.col("event_id") % 5).cast("double") * F.lit(_GRID_EPS)
    )


@register(
    "cdc_maintained_minmax_view_certified",
    f"""
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               {_ADV_GRID_SQL} AS c_acctbal
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    ),
    state AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS v,
               CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey
        FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    ),
    agg AS (
        SELECT c_nationkey, COUNT(*) AS n_rows, MIN(v) AS min_val, MAX(v) AS max_val
        FROM state GROUP BY c_nationkey
    )
    SELECT a.c_nationkey, a.n_rows, a.min_val,
           (SELECT COUNT(*) FROM state s
             WHERE s.c_nationkey = a.c_nationkey AND s.v = a.min_val) AS min_cnt,
           a.max_val,
           (SELECT COUNT(*) FROM state s
             WHERE s.c_nationkey = a.c_nationkey AND s.v = a.max_val) AS max_cnt
    FROM agg a
    """,
    "certification re-run of the maintained MIN/MAX view under a strictly "
    "HARDER workload than cdc_maintained_minmax_view (not an alias): the CDC "
    "value is an adversarial dyadic-grid double (FLOOR(v*8)/8 + k*2^-27 — "
    "exact IEEE ops, bit-identical cross-engine, survives the wal2json "
    "shortest-repr round-trip) that forces extremum multiplicities > 1 AND "
    "2^-27-spaced near-tie satellites the multiplicity counter must keep "
    "distinct; 25 nation groups instead of 5 segments and SIX LSN batches "
    "instead of four multiply the exhausted-extremum rescan pressure. The "
    "gate checks all six columns (n_rows, both extrema, both multiplicities) "
    "against a full recompute of the folded state, on the RAW double "
    "(val_type='double'; the decimal-cast divergence class is pinned in "
    "tests/test_money_grid.py).",
)
def cdc_maintained_minmax_view_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _ivm_replay(
        spark, sf_dir, which=("mm",), certified=True, n_batches=6
    )["mm"]


@register(
    "cdc_maintained_topk_view_certified",
    f"""
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               {_ADV_GRID_SQL} AS c_acctbal
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    ),
    state AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS v,
               CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey
        FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    )
    SELECT c_nationkey, rank, c_custkey, val FROM (
        SELECT c_nationkey, c_custkey, v AS val,
               CAST(row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY v DESC, c_custkey) AS INT) AS rank
        FROM state
    ) WHERE rank <= 3
    """,
    "certification re-run of the maintained TOP-K view under a strictly "
    "HARDER workload than cdc_maintained_topk_view (not an alias): the "
    "adversarial dyadic-grid value (see the minmax_certified docstring) "
    "makes rank order depend on 2^-27-spaced near-tie doubles — any "
    "precision loss in the buffer reorders ranks; 25 nation groups, SIX "
    "LSN batches, and a deliberately thin buffer (k=3, slack=2) maximize "
    "slack burn-through so the bounded rescan leg fires repeatedly. The "
    "exploded (group, rank, pk, value) rows are gated against a full "
    "ROW_NUMBER recompute of the folded state on the RAW double.",
)
def cdc_maintained_topk_view_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return (
        _ivm_replay(spark, sf_dir, which=("tk",), certified=True, n_batches=6)["tk"]
        .select(
            "c_nationkey",
            F.posexplode("top").alias("pos", "pair"),
        )
        .select(
            "c_nationkey",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("pair.id").alias("c_custkey"),
            F.col("pair.v").alias("val"),
        )
    )


@register(
    "cdc_maintained_distinct_view",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               event_type AS c_mktsegment
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    ),
    state AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS v,
               CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
        FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    )
    SELECT c_mktsegment, COUNT(*) AS n_rows, COUNT(DISTINCT v) AS n_distinct
    FROM state GROUP BY c_mktsegment
    """,
    "incrementally-maintained COUNT DISTINCT view over the CDC-fed customer "
    "state — the textbook NON-DISTRIBUTIVE aggregate (an arriving value may "
    "or may not be new, a leaving one may or may not be the last of its "
    "kind): MaintainedDistinctCountView keeps the per-(group, value) support "
    "multiset in its own nested BucketStore keyed on (group, value) — per "
    "batch only the buckets the net pairs hash into are read or rewritten "
    "(copy-on-write manifests carry the rest forward), and the O(groups) "
    "summary is patched from the support counts' zero crossings; unlike "
    "MIN/MAX there is NO rescan leg, ever — the support multiset is "
    "self-maintainable, so every batch is |delta|-bounded by construction; "
    "the gate checks (n_rows, n_distinct) per segment against a full "
    "recompute of the folded state",
)
def cdc_maintained_distinct_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivm_replay(
        spark, sf_dir, which=("dc",), certified=False, n_batches=4
    )["dc"]


@register(
    "cdc_maintained_family_views",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    ),
    state AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS v,
               CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
        FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    ),
    mm AS (
        SELECT c_mktsegment, COUNT(*) AS n_rows, MIN(v) AS min_val, MAX(v) AS max_val
        FROM state GROUP BY c_mktsegment
    )
    SELECT 'agg' AS view, c_mktsegment AS grp, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(FLOOR(v * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS total,
           CAST(NULL AS DOUBLE) AS min_val, CAST(NULL AS BIGINT) AS min_cnt,
           CAST(NULL AS DOUBLE) AS max_val, CAST(NULL AS BIGINT) AS max_cnt,
           CAST(NULL AS BIGINT) AS n_distinct, CAST(NULL AS VARCHAR) AS top_ids
    FROM state GROUP BY c_mktsegment
    UNION ALL
    SELECT 'minmax', a.c_mktsegment, a.n_rows, CAST(NULL AS DECIMAL(12,2)),
           a.min_val,
           (SELECT COUNT(*) FROM state s
             WHERE s.c_mktsegment = a.c_mktsegment AND s.v = a.min_val),
           a.max_val,
           (SELECT COUNT(*) FROM state s
             WHERE s.c_mktsegment = a.c_mktsegment AND s.v = a.max_val),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM mm a
    UNION ALL
    SELECT 'distinct', c_mktsegment, COUNT(*), CAST(NULL AS DECIMAL(12,2)),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           COUNT(DISTINCT c_nationkey), CAST(NULL AS VARCHAR)
    FROM state GROUP BY c_mktsegment
    UNION ALL
    SELECT 'topk', c_mktsegment, MAX(n_all), CAST(NULL AS DECIMAL(12,2)),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           string_agg(CAST(c_custkey AS VARCHAR), ':' ORDER BY rank)
    FROM (
        SELECT c_mktsegment, c_custkey,
               row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY v DESC, c_custkey) AS rank,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n_all
        FROM state
    ) WHERE rank <= 5 GROUP BY c_mktsegment
    """,
    "the DEPLOYMENT shape of incremental view maintenance: ONE CDC stream "
    "drives FOUR maintained views (grouped aggregate, MIN/MAX with "
    "multiplicities, COUNT DISTINCT with its bucketed support multiset, "
    "TOP-K with its slack buffer) through the multi-maintainer protocol — "
    "per batch one shared parse, one store apply, then every view patches "
    "inside the same batch commit, exactly as StreamingReplayer drives "
    "maintainers=[...] — four gated views riding one seed+parse+apply. "
    "Output is the union of all four views in one wide schema; each leg "
    "must equal a full recompute of the folded state (agg totals grid-"
    "exact decimal; minmax/topk gate the RAW double; topk rows witnessed "
    "by the ':'-joined id ranking, ties broken by pk).",
)
def cdc_maintained_family_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    fam = _ivm_replay(
        spark, sf_dir, which=("agg", "mm", "dc", "tk"), certified=False,
        n_batches=4,
    )
    agg, mm, dc, tk = fam["agg"], fam["mm"], fam["dc"], fam["tk"]
    nul = lambda t: F.lit(None).cast(t)
    return (
        agg.select(
            F.lit("agg").alias("view"),
            F.col("c_mktsegment").alias("grp"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("total"),
            nul("double").alias("min_val"), nul("long").alias("min_cnt"),
            nul("double").alias("max_val"), nul("long").alias("max_cnt"),
            nul("long").alias("n_distinct"), nul("string").alias("top_ids"),
        )
        .unionByName(
            mm.select(
                F.lit("minmax").alias("view"),
                F.col("c_mktsegment").alias("grp"),
                F.col("n_rows").cast("long"),
                nul("decimal(12,2)").alias("total"),
                F.col("min_val"), F.col("min_cnt").cast("long"),
                F.col("max_val"), F.col("max_cnt").cast("long"),
                nul("long").alias("n_distinct"),
                nul("string").alias("top_ids"),
            )
        )
        .unionByName(
            dc.select(
                F.lit("distinct").alias("view"),
                F.col("c_mktsegment").alias("grp"),
                F.col("n_rows").cast("long"),
                nul("decimal(12,2)").alias("total"),
                nul("double").alias("min_val"), nul("long").alias("min_cnt"),
                nul("double").alias("max_val"), nul("long").alias("max_cnt"),
                F.col("n_distinct").cast("long"),
                nul("string").alias("top_ids"),
            )
        )
        .unionByName(
            tk.select(
                F.lit("topk").alias("view"),
                F.col("c_mktsegment").alias("grp"),
                F.col("n_rows").cast("long"),
                nul("decimal(12,2)").alias("total"),
                nul("double").alias("min_val"), nul("long").alias("min_cnt"),
                nul("double").alias("max_val"), nul("long").alias("max_cnt"),
                nul("long").alias("n_distinct"),
                F.concat_ws(
                    ":", F.transform("top", lambda p: p["id"].cast("string"))
                ).alias("top_ids"),
            )
        )
    )


def _require_local_master(spark: SparkSession) -> None:
    """The jdbc:derby:memory: targets the JDBC-sink queries stand up are
    JVM-local: the staged df.write.jdbc runs ON EXECUTORS, so the database
    only exists where driver and executors share one JVM (local[*]). On a
    distributed master the executor connections would fail loudly against
    a nonexistent database — assert up front with a message that says so
    (a real deployment points the sink at a network PostgreSQL URL and
    this constraint disappears)."""
    # startswith("local[") not bare "local": 'local-cluster[...]' runs
    # executors in SEPARATE JVMs, so in-memory Derby is NOT shared there —
    # exactly the mode this guard exists to catch.
    master = spark.sparkContext.master
    if not (master == "local" or master.startswith("local[")):
        raise RuntimeError(
            f"this registry query uses an embedded in-memory Derby target, "
            f"which requires a local[*] master (driver+executors in one "
            f"JVM); got master={master!r} — run it locally or point the "
            f"sink at a networked JDBC url"
        )


@register(
    "cdc_jdbc_apply_customer",
    REGISTRY["cdc_apply_customer"].oracle,
    "the reference's ACTUAL sink: CDC state replicated into a LIVE relational "
    "target (embedded Derby standing in for consolidation PostgreSQL, "
    "connemara_replay.pl:416-426) through JdbcApplySink — per batch the "
    "touched-key slice ships distributedly to staging and ONE driver "
    "transaction replaces the target rows and records the batch id (exactly-"
    "once ledger); the result is the target table READ BACK over JDBC, so the "
    "oracle hard-verifies the staging-write + reconcile-transaction path "
    "end-to-end; same oracle as cdc_apply_customer",
)
def cdc_jdbc_apply_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    _require_local_master(spark)

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.pipeline import Replayer
    from connemara_spark.sinks import JdbcApplySink
    from connemara_spark.stores import BucketStore

    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_cdc_bronze(spark, sf_dir)
    # a FRESH in-memory Derby per invocation (pure function of sf_dir: no
    # target rows or ledger entries may leak between runs), dropped in the
    # finally once the read-back result is materialized
    dbname = f"connemara_jdbc_{uuid.uuid4().hex}"
    url = f"jdbc:derby:memory:{dbname}"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jvm = spark._jvm
    jvm.java.lang.Class.forName(props["driver"])
    con = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    con.createStatement().execute(
        "CREATE TABLE customer (c_custkey BIGINT PRIMARY KEY, "
        "c_name VARCHAR(128), c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment VARCHAR(64))"
    )
    con.close()
    root = tempfile.mkdtemp(prefix="connemara_jdbcsink_")
    try:
        spec = _fresh_spec(CUSTOMER_SPEC)
        store = BucketStore(spark, root, n_buckets=32)
        store.write(spec, snapshot)
        cat = EngineCatalog()
        cat.register(spec)
        rep = Replayer(spark, cat, store)
        sink = JdbcApplySink(
            spark, store, spec, url=url, target_table="customer", properties=props,
            # EMBEDDED Derby is an in-process single-writer engine: N
            # concurrent staging connections contend on the table's page
            # latches and run SLOWER than one (measured 1.56s vs 0.91s for
            # the 150k-row staging frame). One connection per table is the
            # right ingest concurrency for this target; a PostgreSQL-class
            # target keeps the default 8.
            staging_partitions=1,
        )
        # initial sync: the COPY-shaped bulk load (no touched-key
        # machinery — at bootstrap every key is new)
        jd = spark.sparkContext.setJobDescription
        jd("jdbc: bootstrap")
        sink.bootstrap_load(batch_id="bootstrap")
        jd(None)
        lo, hi = _event_lsn_bounds(spark, sf_dir)  # footer stats, no Spark job
        step = max((hi - lo) // 2 + 1, 1)
        rep.replay(
            bronze, _lsn_batch_ix(lo, step), len(range(lo, hi + 1, step)),
            maintainers=[sink], label="jdbc",
        )
        # the RESULT is the live target read back over JDBC — value parity
        # against the oracle proves the delete+insert reconcile transaction
        # reproduced the folded state exactly
        return (
            spark.read.jdbc(url, "customer", properties=props)
            .select(*[c.name for c in spec.columns])
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            jvm.java.sql.DriverManager.getConnection(url + ";drop=true")
        except Exception:
            pass  # Derby signals a successful drop via SQLState 08006


ORDERS_CDC_SPEC = TableSpec(
    database="db1",
    schema="public",
    table="orders",
    columns=[
        ColumnSpec("o_orderkey", "bigint"),
        ColumnSpec("o_custkey", "bigint"),
        ColumnSpec("o_orderstatus", "text"),
        ColumnSpec("o_totalprice", "double precision"),
    ],
    pk_cols=["o_orderkey"],
)


def _orders_cdc_bronze(
    spark: SparkSession,
    sf_dir: str,
    *,
    database: str = "db1",
    slot: str = "slot_db1",
) -> DataFrame:
    """The orders half of a two-table wal2json stream: odd event_ids become
    orders DML (the even half stays customer DML — one interleaved source
    transaction log touching two tables, the shape the reference's
    single-session replay consumes). ``database``/``slot`` relocate the
    stream to a SECOND source database for the consolidation queries."""
    ev = spread(load(spark, sf_dir, "events")).filter(F.col("event_id") % 2 == 1)
    key = ((F.col("user_id") * 17 + F.col("event_id") % 100) % 300 + 1).cast("long")
    kind = (
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "signup", "insert")
        .otherwise("update")
    )
    names = F.array(
        *[F.lit(c) for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]]
    )
    vals = F.array(
        key.cast("string"),
        (F.col("user_id") % 200 + 1).cast("string"),
        F.col("event_type"),
        F.col("value").cast("string"),
    )
    payload = F.to_json(
        F.struct(
            kind.alias("kind"),
            F.lit("public").alias("schema"),
            F.lit("orders").alias("table"),
            F.when(kind != "delete", names).alias("columnnames"),
            F.when(kind != "delete", vals).alias("columnvalues"),
            F.when(
                kind != "insert",
                F.struct(
                    F.array(F.lit("o_orderkey")).alias("keynames"),
                    F.array(key.cast("string")).alias("keyvalues"),
                ),
            ).alias("oldkeys"),
        )
    )
    return ev.select(
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit(database).alias("database"),
        F.lit(slot).alias("source_slotname"),
        F.col("event_id").alias("lsn_start"),
        (F.col("event_id") + 1000).alias("xid"),
        F.col("ts").alias("xid_timestamp"),
        payload.alias("payload"),
    )


_MULTI_TABLE_ORACLE = """
    WITH cchg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events WHERE event_id % 2 = 0
    ),
    clast AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM cchg
        ) t WHERE rn = 1
    ),
    cstate AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS pk,
               (CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END)
                 || '|' ||
               (CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END) AS sval,
               CAST(CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS BIGINT) AS ival,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS dval
        FROM customer c FULL OUTER JOIN clast l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    ),
    ochg AS (
        SELECT CAST((user_id * 17 + event_id % 100) % 300 + 1 AS BIGINT) AS o_orderkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               CAST(user_id % 200 + 1 AS BIGINT) AS o_custkey,
               event_type AS o_orderstatus,
               value AS o_totalprice
        FROM events WHERE event_id % 2 = 1
    ),
    olast AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY event_id DESC) AS rn
            FROM ochg
        ) t WHERE rn = 1
    ),
    ostate AS (
        SELECT COALESCE(l.o_orderkey, o.o_orderkey) AS pk,
               CASE WHEN l.o_orderkey IS NULL THEN o.o_orderstatus ELSE l.o_orderstatus END AS sval,
               CASE WHEN l.o_orderkey IS NULL THEN o.o_custkey ELSE l.o_custkey END AS ival,
               CASE WHEN l.o_orderkey IS NULL THEN o.o_totalprice ELSE l.o_totalprice END AS dval
        FROM orders o FULL OUTER JOIN olast l ON o.o_orderkey = l.o_orderkey
        WHERE COALESCE(l.op, '') <> 'delete'
    )
    SELECT 'customer' AS tbl, pk, sval, ival, dval FROM cstate
    UNION ALL
    SELECT 'orders' AS tbl, pk, sval, ival, dval FROM ostate
"""


@register(
    "cdc_jdbc_multi_table_apply",
    _MULTI_TABLE_ORACLE,
    "the reference's defining atomicity guarantee at the target "
    "(connemara_replication.c:757-836: a source transaction's DML executes "
    "inside ONE consolidation-PostgreSQL transaction, whatever tables it "
    "touches): an interleaved two-table CDC stream (customer + orders) "
    "applied through JdbcMultiApplySink — per batch each table's touched "
    "slice ships distributedly to its own staging, then a SINGLE driver "
    "transaction replaces rows at BOTH tables and records the shared ledger "
    "row; the result is both live target tables read back over JDBC "
    "(projected onto a common shape), so value parity proves no state from "
    "either table leaked or went missing across the shared transactions; "
    "oracle = the two per-table apply oracles composed",
)
def cdc_jdbc_multi_table_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    _require_local_master(spark)

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.pipeline import Replayer
    from connemara_spark.sinks import JdbcMultiApplySink
    from connemara_spark.stores import BucketStore

    cust_snap = load(spark, sf_dir, "customer")
    ord_snap = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # ONE interleaved bronze: even event_ids are customer DML, odd are
    # orders DML — a single source WAL touching two tables, exactly what
    # the reference's one replay session consumes in order
    bronze = (
        _customer_cdc_bronze(spark, sf_dir)
        .filter(F.col("lsn_start") % 2 == 0)
        .unionByName(_orders_cdc_bronze(spark, sf_dir))
    )
    dbname = f"connemara_multi_{uuid.uuid4().hex}"
    url = f"jdbc:derby:memory:{dbname}"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jvm = spark._jvm
    jvm.java.lang.Class.forName(props["driver"])
    con = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    st = con.createStatement()
    st.execute(
        "CREATE TABLE customer (c_custkey BIGINT PRIMARY KEY, "
        "c_name VARCHAR(128), c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment VARCHAR(64))"
    )
    st.execute(
        "CREATE TABLE orders (o_orderkey BIGINT PRIMARY KEY, "
        "o_custkey BIGINT, o_orderstatus VARCHAR(64), o_totalprice DOUBLE)"
    )
    con.close()
    root = tempfile.mkdtemp(prefix="connemara_multisink_")
    try:
        cust_spec = _fresh_spec(CUSTOMER_SPEC)
        ord_spec = _fresh_spec(ORDERS_CDC_SPEC)
        store = BucketStore(spark, root, n_buckets=32)
        store.write(cust_spec, cust_snap)
        store.write(ord_spec, ord_snap)
        cat = EngineCatalog()
        cat.register(cust_spec)
        cat.register(ord_spec)
        rep = Replayer(spark, cat, store)
        sink = JdbcMultiApplySink(
            spark,
            store,
            [(cust_spec, "customer"), (ord_spec, "orders")],
            url=url,
            properties=props,
            # embedded Derby: one staging connection per table (the two
            # tables still stage concurrently) — see cdc_jdbc_apply_customer
            staging_partitions=1,
        )
        # initial sync: both targets restored in ONE transaction (the
        # multi-table analog of the COPY-shaped bootstrap)
        jd = spark.sparkContext.setJobDescription
        jd("jdbcmulti: bootstrap")
        sink.bootstrap_load(batch_id="bootstrap")
        jd(None)
        lo, hi = _event_lsn_bounds(spark, sf_dir)  # footer stats, no Spark job
        step = max((hi - lo) // 2 + 1, 1)
        rep.replay(
            bronze, _lsn_batch_ix(lo, step), len(range(lo, hi + 1, step)),
            maintainers=[sink], label="jdbcmulti",
        )
        # both live targets read back and projected onto one shape: the
        # hash covers every column of both tables' final state
        cust = spark.read.jdbc(url, "customer", properties=props).select(
            F.lit("customer").alias("tbl"),
            F.col("c_custkey").alias("pk"),
            F.concat_ws("|", "c_name", "c_mktsegment").alias("sval"),
            F.col("c_nationkey").cast("long").alias("ival"),
            F.col("c_acctbal").alias("dval"),
        )
        orders = spark.read.jdbc(url, "orders", properties=props).select(
            F.lit("orders").alias("tbl"),
            F.col("o_orderkey").alias("pk"),
            F.col("o_orderstatus").alias("sval"),
            F.col("o_custkey").alias("ival"),
            F.col("o_totalprice").alias("dval"),
        )
        return cust.unionByName(orders).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            jvm.java.sql.DriverManager.getConnection(url + ";drop=true")
        except Exception:
            pass  # Derby signals a successful drop via SQLState 08006


_TWO_SOURCE_JOIN_ORACLE = """
    WITH cchg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events WHERE event_id % 2 = 0
    ),
    clast AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM cchg
        ) t WHERE rn = 1
    ),
    cstate AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
               CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
               CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
        FROM customer c FULL OUTER JOIN clast l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    ),
    ochg AS (
        SELECT CAST((user_id * 17 + event_id % 100) % 300 + 1 AS BIGINT) AS o_orderkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               CAST(user_id % 200 + 1 AS BIGINT) AS o_custkey,
               event_type AS o_orderstatus,
               value AS o_totalprice
        FROM events WHERE event_id % 2 = 1
    ),
    olast AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY event_id DESC) AS rn
            FROM ochg
        ) t WHERE rn = 1
    ),
    ostate AS (
        SELECT COALESCE(l.o_orderkey, o.o_orderkey) AS o_orderkey,
               CASE WHEN l.o_orderkey IS NULL THEN o.o_custkey ELSE l.o_custkey END AS o_custkey,
               CASE WHEN l.o_orderkey IS NULL THEN o.o_orderstatus ELSE l.o_orderstatus END AS o_orderstatus,
               CASE WHEN l.o_orderkey IS NULL THEN o.o_totalprice ELSE l.o_totalprice END AS o_totalprice
        FROM orders o FULL OUTER JOIN olast l ON o.o_orderkey = l.o_orderkey
        WHERE COALESCE(l.op, '') <> 'delete'
    )
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
           o.o_custkey, o.o_orderstatus, o.o_totalprice
    FROM cstate c JOIN ostate o ON c.c_custkey = o.o_orderkey
"""


@register(
    "cdc_two_source_join_view",
    _TWO_SOURCE_JOIN_ORACLE,
    "the consolidation product's HEADLINE artifact under the value hash: two "
    "SOURCE DATABASES (db1.customer, db2.orders — schema-mapped namespaces in "
    "one silver store, connemara_rewrite.pm:13-21 / docs/index.rst:9-12) each "
    "feed a slot-restricted CDC stream through ONE Replayer (F2, "
    "replay.pl:726-736 — a rogue-slot stream that would win every per-key "
    "fold rides along and must be dropped), while MaintainedTwoTableJoinView "
    "keeps the CROSS-SOURCE equi-join materialized incrementally — per batch "
    "the view is patched at the union of both sides' touched join keys only; "
    "the result is the maintained view READ BACK, oracle = a full recompute "
    "of the join from the two per-table fold oracles",
)
def cdc_two_source_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.operators.ivm import MaintainedTwoTableJoinView
    from connemara_spark.pipeline import Replayer
    from connemara_spark.stores import BucketStore

    cust_snap = load(spark, sf_dir, "customer")
    ord_snap = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # Three interleaved streams in one landing zone: source db1's customer
    # DML (even LSNs), source db2's orders DML (odd LSNs), and a ROGUE
    # stream claiming database=db1 on an unapproved slot. The rogue
    # duplicates EVERY legit customer event at lsn+1 with poisoned c_name —
    # if the F2 slot restriction leaked even one of them, that key's fold
    # would pick the rogue (higher LSN) and the value hash would diverge.
    bronze = (
        _customer_cdc_bronze(spark, sf_dir)
        .filter(F.col("lsn_start") % 2 == 0)
        .unionByName(_orders_cdc_bronze(spark, sf_dir, database="db2", slot="slot_db2"))
        .unionByName(
            _customer_cdc_bronze(
                spark, sf_dir, slot="slot_rogue", name_prefix="evil#", lsn_offset=1
            ).filter(F.col("lsn_start") % 2 == 1)
        )
    )
    root = tempfile.mkdtemp(prefix="connemara_twosrc_")
    spec_a = _fresh_spec(CUSTOMER_SPEC)
    spec_b = _fresh_spec(ORDERS_CDC_SPEC, database="db2")
    store = BucketStore(spark, root, n_buckets=32)
    store.write(spec_a, cust_snap)
    store.write(spec_b, ord_snap)
    cat = EngineCatalog()
    cat.register(spec_a)
    cat.register(spec_b)
    rep = Replayer(
        spark, cat, store,
        allowed_slots=[("db1", "slot_db1"), ("db2", "slot_db2")],
    )
    view = MaintainedTwoTableJoinView(
        spark, store, spec_a, spec_b,
        key_a="c_custkey", key_b="o_orderkey",
        view_cols=[
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
            "o_custkey", "o_orderstatus", "o_totalprice",
        ],
        view_dir=f"{root}/view",
    )
    lo, hi = _event_lsn_bounds(spark, sf_dir)  # footer stats, no Spark job
    step = max((hi - lo) // 2 + 1, 1)
    try:
        # parse_batch applies the slot restriction, so the rogue stream
        # never reaches the fold OR the view's touched-key set
        rep.replay(
            bronze, _lsn_batch_ix(lo, step), len(range(lo, hi + 1, step)),
            maintainers=[view],
        )
        return view.read_view().localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


_TWO_SOURCE_DDL_JOIN_ORACLE = """
    WITH cchg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_segment
        FROM events WHERE event_id % 2 = 0
    ),
    clast AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM cchg
        ) t WHERE rn = 1
    ),
    cstate AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
               CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
               CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_segment END AS c_segment
        FROM customer c FULL OUTER JOIN clast l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    ),
    ochg AS (
        SELECT CAST((user_id * 17 + event_id % 100) % 300 + 1 AS BIGINT) AS o_orderkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               CAST(user_id % 200 + 1 AS BIGINT) AS o_custkey,
               event_type AS o_orderstatus,
               value AS o_totalprice
        FROM events WHERE event_id % 2 = 1
    ),
    olast AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY event_id DESC) AS rn
            FROM ochg
        ) t WHERE rn = 1
    ),
    ostate AS (
        SELECT COALESCE(l.o_orderkey, o.o_orderkey) AS o_orderkey,
               CASE WHEN l.o_orderkey IS NULL THEN o.o_custkey ELSE l.o_custkey END AS o_custkey,
               CASE WHEN l.o_orderkey IS NULL THEN o.o_orderstatus ELSE l.o_orderstatus END AS o_orderstatus,
               CASE WHEN l.o_orderkey IS NULL THEN o.o_totalprice ELSE l.o_totalprice END AS o_totalprice
        FROM orders o FULL OUTER JOIN olast l ON o.o_orderkey = l.o_orderkey
        WHERE COALESCE(l.op, '') <> 'delete'
    )
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_segment,
           o.o_custkey, o.o_orderstatus, o.o_totalprice
    FROM cstate c JOIN ostate o ON c.c_custkey = o.o_orderkey
"""


@register(
    "cdc_two_source_ddl_join_view",
    _TWO_SOURCE_DDL_JOIN_ORACLE,
    "destructive DDL MEETS the cross-source maintained join — the real BI "
    "consolidation failure mode: while db1.customer and db2.orders both feed "
    "the maintained join view, an ALTER TABLE RENAME COLUMN on db1 (renaming "
    "a column the view PROJECTS) rides a live batch. The DDL barrier cuts "
    "the batch, catalog + silver store evolve, and the next check_schema "
    "(the StreamingReplayer post-DDL staleness contract, streaming/driver.py) "
    "fails LOUDLY instead of null-filling the view; the query then performs "
    "the documented remediation — drop and rebuild the view against the "
    "evolved spec — and a FOURTH batch patches the REBUILT view "
    "incrementally to prove maintenance resumed. Oracle = full recompute of "
    "the cross-source join from both per-table folds, segment values "
    "surviving the rename under the new name",
)
def cdc_two_source_ddl_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.operators.ivm import MaintainedTwoTableJoinView
    from connemara_spark.pipeline import ParquetStore, Replayer

    cust_snap = load(spark, sf_dir, "customer")
    ord_snap = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    lo, hi = _event_lsn_bounds(spark, sf_dir)
    rename_from = lo + (hi - lo) // 2
    rename_from += rename_from % 2  # even: keeps ddl_lsn off both lsn grids
    # customer (db1): even event_ids at lsn = 2*event_id (lsn % 4 == 0),
    # payloads switch to the post-ALTER column name at rename_from;
    # orders (db2): odd event_ids relocated to lsn = 2*event_id + 1 so both
    # streams interleave across every batch boundary. The DDL event sits at
    # 2*rename_from - 2 (lsn % 4 == 2) — a slot neither stream occupies.
    cust_bronze = _renaming_customer_bronze(spark, sf_dir, rename_from).filter(
        F.col("lsn_start") % 4 == 0
    )
    ord_bronze = _orders_cdc_bronze(
        spark, sf_dir, database="db2", slot="slot_db2"
    ).withColumn("lsn_start", F.col("lsn_start") * 2 + 1)
    # lazy: the one materialization is the parse checkpoint below (the
    # bronze subtree is analyzed once, inside that job)
    bronze = cust_bronze.unionByName(ord_bronze)
    ddl_lsn = 2 * rename_from - 2
    bronze = _with_ddl_event(
        bronze,
        ddl_lsn,
        "ALTER TABLE public.customer RENAME COLUMN "
        "c_mktsegment TO c_segment",
    )
    root = tempfile.mkdtemp(prefix="connemara_twosrc_ddl_")
    try:
        spec_a = _fresh_spec(CUSTOMER_SPEC)
        spec_b = _fresh_spec(ORDERS_CDC_SPEC, database="db2")
        store = ParquetStore(spark, root)
        store.write(spec_a, cust_snap)
        store.write(spec_b, ord_snap)
        cat = EngineCatalog()
        cat.register(spec_a)
        cat.register(spec_b)
        rep = Replayer(
            spark, cat, store,
            allowed_slots=[("db1", "slot_db1"), ("db2", "slot_db2")],
        )
        view = MaintainedTwoTableJoinView(
            spark, store, spec_a, spec_b,
            key_a="c_custkey", key_b="o_orderkey",
            view_cols=[
                "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
                "o_custkey", "o_orderstatus", "o_totalprice",
            ],
            view_dir=f"{root}/view",
        )
        hi_lsn = 2 * hi + 1
        mid2 = ddl_lsn + max((hi_lsn - ddl_lsn) // 2, 1)
        # two pre-DDL batches so the view is genuinely maintained (not
        # bootstrap-only) before the DDL hits it; the DDL rides batch 2
        # with post-DDL DML from BOTH sources (payloads already under the
        # new column name)
        bix = (
            F.when(F.col("lsn_start") < ddl_lsn // 2, 0)
            .when(F.col("lsn_start") < ddl_lsn, 1)
            .when(F.col("lsn_start") <= mid2, 2)
            .otherwise(3)
        )
        # a step per batch, NOT replay: the view is rebuilt between batches
        # once check_schema trips. One checkpointed parse, sliced per batch.
        parsed_all = rep.parse_batch(bronze).localCheckpoint()
        stale_seen = False
        for i in range(4):
            try:
                rep.step(
                    bronze.filter(bix == i),
                    parsed=parsed_all.filter(bix == i),
                    maintainers=[view],
                )
            except RuntimeError as exc:
                # step runs check_schema after the DDL, BEFORE any patch
                if "rebuild the view" not in str(exc):
                    raise
                stale_seen = True
                # documented remediation: drop and rebuild against the
                # evolved spec — the rebuilt view bootstraps from current
                # store state on its next batch; the broken view is never
                # patched
                evolved = cat.get("db1", "public", "customer")
                assert [c.name for c in evolved.columns][-1] == "c_segment"
                view = MaintainedTwoTableJoinView(
                    spark, store, evolved, spec_b,
                    key_a="c_custkey", key_b="o_orderkey",
                    view_cols=[
                        "c_custkey", "c_name", "c_nationkey", "c_acctbal",
                        "c_segment",
                        "o_custkey", "o_orderstatus", "o_totalprice",
                    ],
                    view_dir=f"{root}/view2",
                )
        if not stale_seen:
            raise RuntimeError(
                "the rename must trip check_schema's staleness contract"
            )
        # the final batch patched the REBUILT view incrementally (version 1)
        if (v := view._meta()["version"]) != 1:
            raise RuntimeError(
                f"rebuilt view should have exactly one patched version, got {v}"
            )
        return view.read_view().localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _evolving_customer_bronze(
    spark: SparkSession, sf_dir: str, note_from: int
) -> DataFrame:
    """Customer CDC bronze whose events GAIN a column mid-stream: events
    with event_id >= ``note_from`` carry a sixth column ``c_note`` =
    'n#'||event_id (the post-ALTER wal2json shape — the decoder ships
    whatever columns the table has at decode time). lsn_start = 2*event_id
    leaves odd LSNs free for the interleaved DDL event."""
    ev = spread(load(spark, sf_dir, "events"))
    key = ((F.col("user_id") * 31 + F.col("event_id") % 100) % 200 + 1).cast("long")
    kind = (
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "signup", "insert")
        .otherwise("update")
    )
    base_names = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    post = F.col("event_id") >= F.lit(note_from)
    names = F.when(
        post, F.array(*[F.lit(c) for c in base_names], F.lit("c_note"))
    ).otherwise(F.array(*[F.lit(c) for c in base_names]))
    base_vals = [
        key.cast("string"),
        F.concat(F.lit("cdc#"), F.col("event_id").cast("string")),
        (F.col("user_id") % 25).cast("string"),
        F.col("value").cast("string"),
        F.col("event_type"),
    ]
    vals = F.when(
        post,
        F.array(*base_vals, F.concat(F.lit("n#"), F.col("event_id").cast("string"))),
    ).otherwise(F.array(*base_vals))
    payload = F.to_json(
        F.struct(
            kind.alias("kind"),
            F.lit("public").alias("schema"),
            F.lit("customer").alias("table"),
            F.when(kind != "delete", names).alias("columnnames"),
            F.when(kind != "delete", vals).alias("columnvalues"),
            F.when(
                kind != "insert",
                F.struct(
                    F.array(F.lit("c_custkey")).alias("keynames"),
                    F.array(key.cast("string")).alias("keyvalues"),
                ),
            ).alias("oldkeys"),
        )
    )
    return ev.select(
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit("db1").alias("database"),
        F.lit("slot_db1").alias("source_slotname"),
        (F.col("event_id") * 2).alias("lsn_start"),
        (F.col("event_id") + 1000).alias("xid"),
        F.col("ts").alias("xid_timestamp"),
        payload.alias("payload"),
    )


def _events_id_bounds(sf_dir: str) -> tuple[int, int]:
    """(min, max) event_id from parquet footer stats — pure driver-side
    pyarrow, no SparkSession (oracle_fn renders SQL before any Spark work);
    DuckDB fallback when a writer omitted the stats."""
    return _parquet_col_bounds(os.path.join(sf_dir, "events.parquet"), "event_id")


def _emb_id_bounds(sf_dir: str) -> tuple[int, int]:
    """(min, max) vec_id of the embeddings table — same footer-stats
    derivation as _events_id_bounds."""
    return _parquet_col_bounds(os.path.join(sf_dir, "embeddings.parquet"), "vec_id")


def _parquet_col_bounds(path: str, col: str) -> tuple[int, int]:
    import pyarrow.parquet as pq
    try:
        files = (
            [os.path.join(path, e) for e in os.listdir(path) if e.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        lo = hi = None
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no footer min/max")
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            raise ValueError("no row groups")
        return int(lo), int(hi)
    except Exception:
        import duckdb

        # DuckDB cannot read a bare directory path — glob the dataset's
        # files when the table is a multi-file directory (mirrors the
        # pyarrow branch above).
        scan = f"{path}/*.parquet" if os.path.isdir(path) else path
        row = duckdb.sql(
            f"SELECT MIN({col}), MAX({col}) FROM '{scan}'"
        ).fetchone()
        return int(row[0]), int(row[1])


def _schema_evolution_oracle(sf_dir: str) -> str:
    lo, hi = _events_id_bounds(sf_dir)
    note_from = lo + (hi - lo) // 2 + 1  # first event_id of the post-DDL batch
    return f"""
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment,
               CASE WHEN event_id >= {note_from}
                    THEN 'n#' || CAST(event_id AS VARCHAR) END AS c_note
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    )
    SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
           CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
           CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment,
           CASE WHEN l.c_custkey IS NULL THEN NULL ELSE l.c_note END AS c_note
    FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
    WHERE COALESCE(l.op, '') <> 'delete'
    """


@register(
    "cdc_jdbc_schema_evolution",
    None,
    "D11's newest leg under the value gate: a mid-stream ALTER TABLE ADD "
    "COLUMN rides the SAME batch as post-DDL DML — apply_batch cuts the "
    "batch at the DDL barrier (pre-DDL fold commits first, replay.pl:"
    "862-876), the executor evolves catalog + silver store, check_schema "
    "replays the ADD COLUMN to the live Derby target (sinks.py check_schema"
    "), and the batch's touched slice then ships in the EVOLVED shape; the "
    "result is the evolved target read back over JDBC, so the hash proves "
    "pre-DDL rows carry NULL and post-DDL rows carry their decoded c_note "
    "values end-to-end; oracle derives the DDL point from the same footer "
    "stats the query splits batches on",
    oracle_fn=_schema_evolution_oracle,
)
def cdc_jdbc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    _require_local_master(spark)

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.pipeline import Replayer
    from connemara_spark.sinks import JdbcApplySink
    from connemara_spark.stores import BucketStore

    snapshot = load(spark, sf_dir, "customer")
    lo, hi = _event_lsn_bounds(spark, sf_dir)  # footer stats, no Spark job
    note_from = lo + (hi - lo) // 2 + 1  # first post-DDL event_id
    bronze = _evolving_customer_bronze(spark, sf_dir, note_from)
    # the DDL event sits at the free odd LSN just below the first post-DDL
    # event (lsn = 2*event_id keeps odds free), so the single stream is
    # LSN-monotone: ... pre-DDL DML < DDL < post-DDL DML ...
    ddl_lsn = 2 * note_from - 1
    bronze = _with_ddl_event(
        bronze, ddl_lsn, "ALTER TABLE public.customer ADD COLUMN c_note text"
    )
    dbname = f"connemara_evolve_{uuid.uuid4().hex}"
    url = f"jdbc:derby:memory:{dbname}"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jvm = spark._jvm
    jvm.java.lang.Class.forName(props["driver"])
    con = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    con.createStatement().execute(
        "CREATE TABLE customer (c_custkey BIGINT PRIMARY KEY, "
        "c_name VARCHAR(128), c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment VARCHAR(64))"
    )
    con.close()
    root = tempfile.mkdtemp(prefix="connemara_evolvesink_")
    try:
        spec = _fresh_spec(CUSTOMER_SPEC)
        store = BucketStore(spark, root, n_buckets=32)
        store.write(spec, snapshot)
        cat = EngineCatalog()
        cat.register(spec)
        rep = Replayer(spark, cat, store)
        sink = JdbcApplySink(
            spark, store, spec, url=url, target_table="customer", properties=props,
            # embedded Derby: single-writer engine, one staging connection
            # beats eight — see cdc_jdbc_apply_customer
            staging_partitions=1,
        )
        sink.bootstrap_load(batch_id="bootstrap")
        # batch 0: pre-DDL DML only; batch 1: the DDL event AND the
        # post-DDL DML in ONE batch — the apply cuts at the barrier, and
        # step's check_schema makes the target follow the DDL BEFORE the
        # batch's slice ships
        rep.replay(
            bronze,
            F.when(F.col("lsn_start") < ddl_lsn, 0).otherwise(1),
            2,
            maintainers=[sink],
        )
        return (
            spark.read.jdbc(url, "customer", properties=props)
            .select(*[c.name for c in cat.get("db1", "public", "customer").columns])
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            jvm.java.sql.DriverManager.getConnection(url + ";drop=true")
        except Exception:
            pass  # Derby signals a successful drop via SQLState 08006


def _renaming_customer_bronze(
    spark: SparkSession, sf_dir: str, rename_from: int
) -> DataFrame:
    """Customer CDC bronze whose events RENAME a column mid-stream: events
    with event_id >= ``rename_from`` ship the segment value under the NEW
    name ``c_segment`` (the post-ALTER wal2json shape — the decoder always
    ships the table's current column names), earlier ones under
    ``c_mktsegment``. lsn_start = 2*event_id leaves odd LSNs free for the
    interleaved DDL event (same trick as _evolving_customer_bronze)."""
    ev = spread(load(spark, sf_dir, "events"))
    key = ((F.col("user_id") * 31 + F.col("event_id") % 100) % 200 + 1).cast("long")
    kind = (
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "signup", "insert")
        .otherwise("update")
    )
    base_names = ["c_custkey", "c_name", "c_nationkey", "c_acctbal"]
    post = F.col("event_id") >= F.lit(rename_from)
    names = F.when(
        post, F.array(*[F.lit(c) for c in base_names], F.lit("c_segment"))
    ).otherwise(F.array(*[F.lit(c) for c in base_names], F.lit("c_mktsegment")))
    vals = F.array(
        key.cast("string"),
        F.concat(F.lit("cdc#"), F.col("event_id").cast("string")),
        (F.col("user_id") % 25).cast("string"),
        F.col("value").cast("string"),
        F.col("event_type"),
    )
    payload = F.to_json(
        F.struct(
            kind.alias("kind"),
            F.lit("public").alias("schema"),
            F.lit("customer").alias("table"),
            F.when(kind != "delete", names).alias("columnnames"),
            F.when(kind != "delete", vals).alias("columnvalues"),
            F.when(
                kind != "insert",
                F.struct(
                    F.array(F.lit("c_custkey")).alias("keynames"),
                    F.array(key.cast("string")).alias("keyvalues"),
                ),
            ).alias("oldkeys"),
        )
    )
    return ev.select(
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit("db1").alias("database"),
        F.lit("slot_db1").alias("source_slotname"),
        (F.col("event_id") * 2).alias("lsn_start"),
        (F.col("event_id") + 1000).alias("xid"),
        F.col("ts").alias("xid_timestamp"),
        payload.alias("payload"),
    )


def _rename_column_oracle(sf_dir: str) -> str:
    """Oracle for the destructive-evolution gate: the rename changes the
    OUTPUT COLUMN NAME only — every segment value (snapshot or decoded)
    survives under the new name, whichever side of the DDL last touched
    the key. Post-DDL events decoded into ``c_segment`` must land exactly
    where pre-DDL ``c_mktsegment`` values live, so a missed rename (post-
    DDL values dropped as unknown-column) or a double-apply diverges."""
    return """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    )
    SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
           CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
           CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_segment
    FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
    WHERE COALESCE(l.op, '') <> 'delete'
    """


@register(
    "cdc_rename_column",
    None,
    "the DESTRUCTIVE schema-evolution leg under the value gate (the ADD "
    "COLUMN twin is cdc_jdbc_schema_evolution): an ALTER TABLE RENAME "
    "COLUMN rides the SAME batch as post-DDL DML whose wal2json payloads "
    "already use the NEW column name — apply_batch cuts at the DDL "
    "barrier, the executor renames the column in catalog AND silver store "
    "(connemara_rewrite.pm:92-99 replays ALTER TABLE verbatim; the "
    "distributed store's rename is a versioned rewrite), and the post-DDL "
    "slice folds under the evolved spec; the result is the evolved "
    "ParquetStore state read back, so the hash proves no segment value "
    "was dropped as unknown-column on either side of the rename",
    oracle_fn=_rename_column_oracle,
)
def cdc_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.pipeline import ParquetStore, Replayer

    snapshot = load(spark, sf_dir, "customer")
    lo, hi = _event_lsn_bounds(spark, sf_dir)  # footer stats, no Spark job
    rename_from = lo + (hi - lo) // 2 + 1  # first post-DDL event_id
    bronze = _renaming_customer_bronze(spark, sf_dir, rename_from)
    ddl_lsn = 2 * rename_from - 1
    bronze = _with_ddl_event(
        bronze,
        ddl_lsn,
        "ALTER TABLE public.customer RENAME COLUMN "
        "c_mktsegment TO c_segment",
    )
    root = tempfile.mkdtemp(prefix="connemara_rename_")
    try:
        spec = _fresh_spec(CUSTOMER_SPEC)
        store = ParquetStore(spark, root)
        store.write(spec, snapshot)
        cat = EngineCatalog()
        cat.register(spec)
        rep = Replayer(spark, cat, store)
        # batch 0: pre-DDL DML only; batch 1: the RENAME event AND the
        # post-DDL DML (already decoded under the NEW name) in ONE batch.
        rep.replay(
            bronze,
            F.when(F.col("lsn_start") < ddl_lsn, 0).otherwise(1),
            2,
        )
        evolved = cat.get("db1", "public", "customer")
        assert [c.name for c in evolved.columns][-1] == "c_segment"
        return (
            store.read(evolved)
            .select(*[c.name for c in evolved.columns])
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _dropping_customer_bronze(
    spark: SparkSession, sf_dir: str, drop_from: int
) -> DataFrame:
    """Customer CDC bronze whose events DROP a column mid-stream: events
    with event_id >= ``drop_from`` OMIT c_mktsegment from the wal2json
    column list entirely (the post-ALTER decoder shape — wal2json only
    ships columns that still exist), earlier ones carry all five columns.
    lsn_start = 2*event_id leaves odd LSNs free for the interleaved DDL
    event (same trick as _renaming_customer_bronze)."""
    ev = spread(load(spark, sf_dir, "events"))
    key = ((F.col("user_id") * 31 + F.col("event_id") % 100) % 200 + 1).cast("long")
    kind = (
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "signup", "insert")
        .otherwise("update")
    )
    base_names = ["c_custkey", "c_name", "c_nationkey", "c_acctbal"]
    post = F.col("event_id") >= F.lit(drop_from)
    names = F.when(post, F.array(*[F.lit(c) for c in base_names])).otherwise(
        F.array(*[F.lit(c) for c in base_names], F.lit("c_mktsegment"))
    )
    base_vals = [
        key.cast("string"),
        F.concat(F.lit("cdc#"), F.col("event_id").cast("string")),
        (F.col("user_id") % 25).cast("string"),
        F.col("value").cast("string"),
    ]
    vals = F.when(post, F.array(*base_vals)).otherwise(
        F.array(*base_vals, F.col("event_type"))
    )
    payload = F.to_json(
        F.struct(
            kind.alias("kind"),
            F.lit("public").alias("schema"),
            F.lit("customer").alias("table"),
            F.when(kind != "delete", names).alias("columnnames"),
            F.when(kind != "delete", vals).alias("columnvalues"),
            F.when(
                kind != "insert",
                F.struct(
                    F.array(F.lit("c_custkey")).alias("keynames"),
                    F.array(key.cast("string")).alias("keyvalues"),
                ),
            ).alias("oldkeys"),
        )
    )
    return ev.select(
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit("db1").alias("database"),
        F.lit("slot_db1").alias("source_slotname"),
        (F.col("event_id") * 2).alias("lsn_start"),
        (F.col("event_id") + 1000).alias("xid"),
        F.col("ts").alias("xid_timestamp"),
        payload.alias("payload"),
    )


def _drop_column_oracle(sf_dir: str) -> str:
    """Oracle for the DROP COLUMN gate: the surviving columns' final
    values are DDL-point-independent (pre-DDL events carry the doomed
    column, post-DDL ones omit it, but both sides agree on the other
    four), so the oracle is the plain snapshot + last-change fold
    projected onto the narrowed shape. A missed store rewrite (stale
    c_mktsegment column surviving), a post-DDL payload rejected against
    the wide spec, or a pre-DDL payload rejected against the narrow spec
    all diverge — the first structurally, the others by value."""
    return """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    )
    SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
           CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal
    FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
    WHERE COALESCE(l.op, '') <> 'delete'
    """


@register(
    "cdc_drop_column",
    None,
    "the COLUMN-REMOVAL schema-evolution leg under the value gate "
    "(completing the ADD/RENAME/DROP triple with cdc_jdbc_schema_evolution "
    "and cdc_rename_column): an ALTER TABLE DROP COLUMN rides the SAME "
    "batch as post-DDL DML whose wal2json payloads OMIT the dropped "
    "column entirely — apply_batch cuts at the DDL barrier, the executor "
    "narrows catalog AND silver store (connemara_rewrite.pm:92-99 replays "
    "ALTER TABLE verbatim; the distributed store's drop is a versioned "
    "rewrite), and the post-DDL slice folds under the narrowed spec; the "
    "result is the evolved ParquetStore state read back, so the hash "
    "proves pre-DDL five-column and post-DDL four-column payloads both "
    "fold cleanly across the narrowing and no stale column survives",
    oracle_fn=_drop_column_oracle,
)
def cdc_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.pipeline import ParquetStore, Replayer

    snapshot = load(spark, sf_dir, "customer")
    lo, hi = _event_lsn_bounds(spark, sf_dir)  # footer stats, no Spark job
    drop_from = lo + (hi - lo) // 2 + 1  # first post-DDL event_id
    bronze = _dropping_customer_bronze(spark, sf_dir, drop_from)
    ddl_lsn = 2 * drop_from - 1
    bronze = _with_ddl_event(
        bronze, ddl_lsn, "ALTER TABLE public.customer DROP COLUMN c_mktsegment"
    )
    root = tempfile.mkdtemp(prefix="connemara_dropcol_")
    try:
        spec = _fresh_spec(CUSTOMER_SPEC)
        store = ParquetStore(spark, root)
        store.write(spec, snapshot)
        cat = EngineCatalog()
        cat.register(spec)
        rep = Replayer(spark, cat, store)
        # batch 0: pre-DDL DML only; batch 1: the DROP event AND the
        # post-DDL DML (already narrowed to four columns) in ONE batch.
        rep.replay(
            bronze,
            F.when(F.col("lsn_start") < ddl_lsn, 0).otherwise(1),
            2,
        )
        evolved = cat.get("db1", "public", "customer")
        assert [c.name for c in evolved.columns] == [
            "c_custkey",
            "c_name",
            "c_nationkey",
            "c_acctbal",
        ]
        return (
            store.read(evolved)
            .select(*[c.name for c in evolved.columns])
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _customer_partial_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wal2json update stream with PARTIAL column lists (J2): every event
    sets c_acctbal; only 'signup' events also carry c_name — other columns
    are absent (the TOAST-omission case, replay.pl:186-194) and must keep
    their snapshot values through the apply fold."""
    ev = spread(load(spark, sf_dir, "events"))
    key = ((F.col("user_id") * 31 + F.col("event_id")) % 100 + 1).cast("long")
    is_signup = F.col("event_type") == "signup"
    names = F.when(
        is_signup, F.array(F.lit("c_acctbal"), F.lit("c_name"))
    ).otherwise(F.array(F.lit("c_acctbal")))
    vals = F.when(
        is_signup,
        F.array(
            F.col("value").cast("string"),
            F.concat(F.lit("cdc#"), F.col("event_id").cast("string")),
        ),
    ).otherwise(F.array(F.col("value").cast("string")))
    payload = F.to_json(
        F.struct(
            F.lit("update").alias("kind"),
            F.lit("public").alias("schema"),
            F.lit("customer").alias("table"),
            names.alias("columnnames"),
            vals.alias("columnvalues"),
            F.struct(
                F.array(F.lit("c_custkey")).alias("keynames"),
                F.array(key.cast("string")).alias("keyvalues"),
            ).alias("oldkeys"),
        )
    )
    return ev.select(
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit("db1").alias("database"),
        F.lit("slot_db1").alias("source_slotname"),
        F.col("event_id").alias("lsn_start"),
        (F.col("event_id") + 1000).alias("xid"),
        F.col("ts").alias("xid_timestamp"),
        payload.alias("payload"),
    )


@register(
    "cdc_partial_updates",
    f"""
    {EVENTS_CTE},
    chg AS (
        SELECT CAST((user_id * 31 + event_id) % 100 + 1 AS BIGINT) AS c_custkey,
               event_id, value,
               CASE WHEN event_type = 'signup'
                    THEN 'cdc#' || CAST(event_id AS VARCHAR) END AS new_name
        FROM ev
    ),
    lb AS (
        SELECT c_custkey, value FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) WHERE rn = 1
    ),
    ln AS (
        SELECT c_custkey, new_name FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg WHERE new_name IS NOT NULL
        ) WHERE rn = 1
    )
    SELECT c.c_custkey,
           COALESCE(ln.new_name, c.c_name) AS c_name,
           c.c_nationkey,
           COALESCE(lb.value, c.c_acctbal) AS c_acctbal,
           c.c_mktsegment
    FROM customer c
    LEFT JOIN lb ON c.c_custkey = lb.c_custkey
    LEFT JOIN ln ON c.c_custkey = ln.c_custkey
    """,
    "J2 partial-column updates: absent (TOAST'd) columns keep prior values through the fold",
)
def cdc_partial_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_partial_bronze(spark, sf_dir).localCheckpoint()
    return apply_changes(snapshot, parse_events(bronze), CUSTOMER_SPEC)


@register(
    "cdc_apply_metrics",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete'
                    WHEN event_type = 'signup' THEN 'insert'
                    ELSE 'update' END AS op
        FROM events
    ),
    ord AS (
        SELECT c_custkey, op,
               LAG(op) OVER (PARTITION BY c_custkey ORDER BY event_id) AS prev_op
        FROM chg
    ),
    v AS (
        SELECT CASE WHEN op IN ('update', 'delete')
                    AND CASE WHEN prev_op IS NULL
                             THEN c_custkey NOT IN (SELECT c_custkey FROM customer)
                             ELSE prev_op = 'delete' END
               THEN 1 ELSE 0 END AS viol
        FROM ord
    )
    SELECT (SELECT COUNT(*) FROM
               (SELECT c_custkey FROM customer UNION SELECT c_custkey FROM chg))
               AS keys_seen,
           CAST(COALESCE(SUM(viol), 0) AS BIGINT) AS violations
    FROM v
    """,
    "J4 drift metrics under the gate: keys touched + update/delete-on-missing-row "
    "violations; oracle reconstructs running existence via LAG over the change stream",
)
def cdc_apply_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_cdc_bronze(spark, sf_dir).localCheckpoint()
    _, metrics = apply_changes(
        snapshot, parse_events(bronze), CUSTOMER_SPEC, with_metrics=True
    )
    return metrics.select(
        F.col("keys_seen").cast("bigint").alias("keys_seen"),
        F.col("violations").cast("bigint").alias("violations"),
    )


@register(
    "cdc_state_at_lsn",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
        WHERE event_id <= 500
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    )
    SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
           CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey,
           CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
           CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
    FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
    WHERE COALESCE(l.op, '') <> 'delete'
    """,
    "point-in-time state reconstruction (time travel): snapshot + events folded "
    "only up to a pinned LSN — the A3 lookahead bound as a queryable surface",
)
def cdc_state_at_lsn(spark: SparkSession, sf_dir: str) -> DataFrame:
    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_cdc_bronze(spark, sf_dir).localCheckpoint()
    upto = parse_events(bronze).filter(F.col("lsn_start") <= 500)
    return apply_changes(snapshot, upto, CUSTOMER_SPEC)


@register(
    "cdc_changefeed_customer",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    )
    SELECT l.c_custkey,
           (c.c_custkey IS NOT NULL) AS old_exists,
           c.c_acctbal AS old_acctbal,
           (l.op <> 'delete') AS new_exists,
           CASE WHEN l.op <> 'delete' THEN l.c_acctbal END AS new_acctbal,
           CASE WHEN l.op <> 'delete' THEN l.c_mktsegment END AS new_mktsegment
    FROM last l LEFT JOIN customer c ON c.c_custkey = l.c_custkey
    """,
    "change-data-feed surface: per-touched-key before/after row states from "
    "apply_delta — what incremental consumers (aggregates, indexes, notifications) subscribe to",
)
def cdc_changefeed_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.apply import apply_delta

    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_cdc_bronze(spark, sf_dir).localCheckpoint()
    delta = apply_delta(snapshot, parse_events(bronze), CUSTOMER_SPEC)
    return delta.select(
        F.col("__pk.c_custkey").alias("c_custkey"),
        "old_exists",
        F.col("old_vals.c_acctbal").alias("old_acctbal"),
        "new_exists",
        F.col("new_vals.c_acctbal").alias("new_acctbal"),
        F.col("new_vals.c_mktsegment").alias("new_mktsegment"),
    )


@register(
    "cdc_incremental_rollup",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg
        ) t WHERE rn = 1
    ),
    state AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
               CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
        FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    )
    SELECT c_mktsegment, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM state GROUP BY c_mktsegment
    """,
    "incremental materialized-rollup maintenance: the per-segment aggregate is "
    "updated from apply_delta's -old/+new contributions only (no base rescan); "
    "the oracle recomputes from scratch — equality IS the correctness claim",
)
def cdc_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.apply import apply_delta, incremental_group_agg

    snapshot = load(spark, sf_dir, "customer")
    bronze = _customer_cdc_bronze(spark, sf_dir).localCheckpoint()
    base_agg = snapshot.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("c_acctbal")).alias("total"),
    )
    delta = apply_delta(snapshot, parse_events(bronze), CUSTOMER_SPEC)
    from connemara_spark.functions.money import grid_dec_sql

    out = incremental_group_agg(
        base_agg, delta, group_col="c_mktsegment", sum_col="c_acctbal",
        # grid-exact money (matches base_agg's _dec): see _dec's docstring
        sum_expr=grid_dec_sql("c_acctbal"),
    )
    return out.select(
        "c_mktsegment",
        "n_rows",
        F.col("total").cast("double").alias("total_acctbal"),
    )


@register(
    "cdc_scd2_customer",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
    ),
    v AS (
        SELECT *, LEAD(event_id) OVER (PARTITION BY c_custkey ORDER BY event_id)
                      AS valid_to_lsn
        FROM chg
    )
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           event_id AS valid_from_lsn, valid_to_lsn,
           (valid_to_lsn IS NULL) AS is_current
    FROM v WHERE op <> 'delete'
    """,
    "SCD2 history: every row version with [valid_from, valid_to) LSN intervals "
    "reconstructed from the CDC stream by the versioned per-key fold",
)
def cdc_scd2_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.scd2 import scd2_history

    bronze = _customer_cdc_bronze(spark, sf_dir).localCheckpoint()
    return scd2_history(parse_events(bronze), CUSTOMER_SPEC)


@register(
    "cdc_lag_report",
    """
    WITH b AS (
        SELECT 'db' || CAST(user_id % 3 + 1 AS VARCHAR) AS database,
               'slot_' || CAST(user_id % 3 + 1 AS VARCHAR) AS source_slotname,
               event_id AS lsn_start,
               ts AS xid_timestamp,
               ts + (event_id % 300) * INTERVAL 1 SECOND AS insert_timestamp
        FROM events
    )
    SELECT database, source_slotname,
           COUNT(*) AS n_pending,
           MAX(lsn_start) AS max_lsn,
           CAST(epoch_us(MAX(insert_timestamp)) - epoch_us(MAX(xid_timestamp)) AS BIGINT)
             AS lag_us
    FROM b GROUP BY database, source_slotname
    """,
    "replication lag report per (database, slot): pending spool depth, LSN "
    "high-water mark, and source-commit-to-spool lag — the ops dashboard row "
    "the reference surfaces through pg_replication_origin progress; one "
    "map-side-combined aggregation over the spool",
)
def cdc_lag_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load(spark, sf_dir, "events"))
    b = ev.select(
        F.concat(F.lit("db"), (F.col("user_id") % 3 + 1).cast("string")).alias("database"),
        F.concat(F.lit("slot_"), (F.col("user_id") % 3 + 1).cast("string")).alias("source_slotname"),
        F.col("event_id").alias("lsn_start"),
        F.col("ts").alias("xid_timestamp"),
        F.expr("ts + (event_id % 300) * INTERVAL 1 SECOND").alias("insert_timestamp"),
    )
    # lag as EXACT integer microseconds (unix_micros on the UTC-pinned LTZ
    # cast == DuckDB epoch_us on naive) — a double-seconds difference cast
    # to long would trip the round-vs-truncate engine divergence
    lag = (
        F.unix_micros(F.max("insert_timestamp").cast("timestamp"))
        - F.unix_micros(F.max("xid_timestamp").cast("timestamp"))
    )
    return b.groupBy("database", "source_slotname").agg(
        F.count(F.lit(1)).alias("n_pending"),
        F.max("lsn_start").alias("max_lsn"),
        lag.cast("long").alias("lag_us"),
    )


@register(
    "cdc_temporal_join",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               value AS c_acctbal
        FROM events
    ),
    v AS (
        SELECT *, LEAD(event_id) OVER (PARTITION BY c_custkey ORDER BY event_id)
                      AS valid_to_lsn
        FROM chg
    ),
    versions AS (
        SELECT c_custkey, c_name, c_acctbal, event_id AS valid_from_lsn, valid_to_lsn
        FROM v WHERE op <> 'delete'
    ),
    probe AS (
        SELECT o_orderkey, CAST(o_custkey % 200 + 1 AS BIGINT) AS c_custkey,
               CAST(o_orderkey % 100000 AS BIGINT) AS at_lsn
        FROM orders
    ),
    matched AS (
        SELECT p.o_orderkey, p.c_custkey, p.at_lsn,
               ver.c_name, ver.c_acctbal, ver.valid_from_lsn, ver.valid_to_lsn,
               ROW_NUMBER() OVER (PARTITION BY p.o_orderkey
                                  ORDER BY ver.valid_from_lsn DESC) AS rn
        FROM probe p JOIN versions ver
          ON ver.c_custkey = p.c_custkey AND ver.valid_from_lsn <= p.at_lsn
    )
    SELECT o_orderkey, c_custkey, at_lsn, c_name, c_acctbal, valid_from_lsn
    FROM matched
    WHERE rn = 1 AND (valid_to_lsn IS NULL OR at_lsn < valid_to_lsn)
    """,
    "temporal (SCD2 as-of) join: each order probes the customer VERSION valid at "
    "its LSN — the time-travel lookup a consolidation store serves to auditors; "
    "Spark side reuses scd2_history + the single-shuffle union+window as-of join "
    "(no range-join explosion), then filters versions closed before the probe LSN",
)
def cdc_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.asof import asof_join
    from connemara_spark.operators.scd2 import scd2_history

    bronze = _customer_cdc_bronze(spark, sf_dir).localCheckpoint()
    versions = scd2_history(parse_events(bronze), CUSTOMER_SPEC).select(
        "c_custkey", "c_name", "c_acctbal",
        "valid_from_lsn", "valid_to_lsn",
    )
    probe = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 200 + 1).cast("long").alias("c_custkey"),
        (F.col("o_orderkey") % 100000).cast("long").alias("at_lsn"),
    )
    joined = asof_join(
        probe, versions,
        on="c_custkey", left_ts="at_lsn", right_ts="valid_from_lsn",
        how="inner", direction="backward",
    )
    # a version closed at-or-before the probe LSN is not valid there (the
    # key was deleted or superseded exactly at valid_to)
    return joined.filter(
        F.col("valid_to_lsn").isNull() | (F.col("at_lsn") < F.col("valid_to_lsn"))
    ).select("o_orderkey", "c_custkey", "at_lsn", "c_name", "c_acctbal", "valid_from_lsn")


@register(
    "events_sessionize",
    EVENTS_CTE + """
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM (
        SELECT user_id, ts,
               -- CAST: DuckDB's SUM over integers yields HUGEINT, which the
               -- driver's pandas canonicalizer maps to float64 while Spark
               -- emits bigint; values are identical, the hash is not.
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM ev
        ) g
    ) s
    GROUP BY user_id, session_id
    """,
    "gap-based sessionization (30-min inactivity) — W1 event-time analog",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.withColumn(
        "is_new",
        F.when(
            (extract_epoch("ts") - extract_epoch(F.lag(F.col("ts")).over(w)) > 1800.0)
            | F.lag(F.col("ts")).over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = gapped.withColumn(
        "session_id", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "events_session_windows",
    EVENTS_CTE + """
    , g AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
    ),
    s AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(FLOOR(value * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    "NATIVE session windows (F.session_window) as a batch backfill — the same "
    "plan session_window_rollup (streaming/windows.py) runs under a watermark "
    "in the stream, value-gated against a DuckDB gap-merge island recompute "
    "(LAG > gap starts an island; session_end = last ts + gap; boundary "
    "pinned: an event exactly gap after its predecessor MERGES, so only "
    "strict > opens a session — W7's native-session-window leg",
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.streaming.windows import session_window_rollup

    # decimal-cast BEFORE the sum on both sides: double sums are order-
    # sensitive and would drift the hash (events_daily_rollup convention)
    ev = load(spark, sf_dir, "events").withColumn("value", _dec("value"))
    out = session_window_rollup(ev, key="user_id", ts_col="ts", gap="30 minutes")
    return out.withColumn("sum_value", F.col("sum_value").cast("double"))


@register(
    "events_daily_rollup",
    EVENTS_CTE + """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(CAST(FLOOR(value * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM ev
    GROUP BY 1, event_type
    """,
    "tumbling-window rollup (daily)",
)
def events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline ops (dedup / text analysis) — first slice
# ---------------------------------------------------------------------------

@register(
    "exact_dedup_documents",
    """
    SELECT md5(text) AS fingerprint, MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    "exact dedup: hash-groupBy fingerprinting",
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    return (
        docs.groupBy(F.md5(F.col("text")).alias("fingerprint"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _land_stream_segments(root: str, segs) -> str:
    """Write each segment DataFrame as ONE parquet file into a landing dir
    with explicitly ascending mtimes (the file stream source orders by
    modification time, and two sub-second writes could otherwise tie).
    Returns the landing dir; read it with maxFilesPerTrigger=1 for one
    ingest-ordered microbatch per segment."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    land = _os.path.join(root, "in")
    _os.makedirs(land)
    base = _time.time()
    for i, s in enumerate(segs):
        st = _os.path.join(root, f"st{i}")
        # repartition(1), NOT coalesce(1): coalesce collapses the WHOLE
        # upstream chain (scan, filters, casts) into the single write task,
        # while repartition computes it at full parallelism and only the
        # final encode runs single-task (one file per segment is the
        # ingest-order contract below)
        s.repartition(1).write.parquet(st)
        part = _glob.glob(_os.path.join(st, "part-*.parquet"))[0]
        dst = _os.path.join(land, f"seg-{i:04d}.parquet")
        _shutil.move(part, dst)
        _os.utime(dst, (base + i, base + i))
    return land


def _stream_state_width(
    spark: SparkSession, *paths: str, python_keys: int | None = None
) -> int:
    """Shuffle width for a BOUNDED stream drain, derived from the landing
    dir's bytes (guide §2: partitioning tracks data volume, not a constant
    tuned for one box). Stateful exchanges are exempt from AQE coalescing —
    the width chosen at query start is the number of state-store instances
    paying a commit (files + fsync) EVERY microbatch, so a tiny drained
    fixture at the session's full width burns 32 state commits per batch
    to shuffle a few MB. ~8 MB of input per state partition, floor 8,
    ceiling the session width (a 100 TB stream saturates the ceiling).

    ``python_keys``: the caller's state-key-cardinality estimate for
    Python-stateful drains (``applyInPandasWithState``). Those pay a
    per-key Python invocation every microbatch — a cost that parallelizes
    across partitions up to the key count, unlike the per-partition state
    commits the byte-derived width bounds. The width is therefore raised
    to at least ``min(session, python_keys)`` so high-cardinality keyed
    state (content hashes) is not serialized onto the byte floor, while
    shard-keyed operators (keys == shards, e.g. 8) keep the narrow width
    that their commit cost wants. Measured both ways at sf0.1/local[32]:
    doc_stream_dedup (1 key/doc) 4.4s at width 8 vs 3.7s at 32; the
    8-shard bottomk/heavy-bigram drains regress at 32 (2.9→3.3, 3.3→3.7),
    hence the hint rather than a blanket session width. JVM-stateful
    drains pass no hint: doc_stream_neardup_md5's stream-stream join runs
    no per-key Python (it took 12.8s at width 8 vs 7.7s at 32 while its
    LSH buckets were Python state), and each extra partition adds the
    join's four state-store commits per batch."""
    import os as _os

    total = 0
    for p in paths:
        for dirpath, _dirs, files in _os.walk(p):
            for f in files:
                try:
                    total += _os.path.getsize(_os.path.join(dirpath, f))
                except OSError:
                    pass
    session = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    width = max(8, min(session, total // (8 << 20) + 1))
    if python_keys is not None:
        width = max(width, min(session, python_keys))
    return width


def _drain_to_table(
    spark: SparkSession,
    stream_out: DataFrame,
    ckpt: str,
    *,
    state_width: int | None = None,
) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into a memory
    sink and return the drained rows pinned off the sink table.

    ``state_width``: stateful-shuffle width pinned for this query (see
    _stream_state_width); the session setting is restored after the drain
    (the width is read once at query start and recorded in the checkpoint,
    but restoring only after termination keeps the window race-free)."""
    import uuid as _uuid

    from connemara_spark.session import scoped_conf

    name = f"drain_{_uuid.uuid4().hex[:10]}"
    # the scope closes only after termination: the stream thread reads the
    # conf asynchronously at first-batch planning, so restoring right after
    # start() would race it
    width = {} if state_width is None else {"spark.sql.shuffle.partitions": str(state_width)}
    with scoped_conf(spark, width):
        q = (
            stream_out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination returns False on TIMEOUT while the query is still
        # running (exception() is None in that state) — proceeding would read
        # a partially-populated memory sink and surface as a confusing oracle
        # mismatch at larger scale factors. Fail loudly instead.
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                f"streaming drain {name} did not finish within 300s — "
                "refusing to read a partially-populated memory sink"
            )
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    res = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    return res


@register(
    "doc_stream_neardup_md5",
    """
    WITH d AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS shs
        FROM documents
    ),
    sigs AS (
        SELECT doc_id,
               list_transform(range(0, 16),
                   i -> list_min(list_transform(shs, s -> md5(CAST(i AS VARCHAR) || '|' || s)))) AS sig
        FROM d
    ),
    bands AS (
        SELECT doc_id, t.band AS band,
               md5(sig[2*t.band + 1] || '|' || sig[2*t.band + 2]) AS bh
        FROM sigs, (SELECT unnest(range(0, 8)) AS band) t
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """,
    "near-dup candidates on ingest (STREAMING, stream-stream self-join): "
    "the corpus lands as two ingest-ordered segments; each doc's md5-family "
    "LSH band rows (md5_band_rows — per-row projections, streaming-safe) "
    "feed lsh_candidates_stream, a JVM symmetric hash join of the band-row "
    "stream with itself that emits each pair once per shared bucket as the "
    "later doc lands; the drained distinct "
    "pair set must equal the batch band self-join's candidates exactly "
    "(same hash family as minhash_lsh_dedup_md5, before verification) — "
    "LSH recall on ingest with no nightly O(corpus) join",
)
def doc_stream_neardup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.operators.dedup import md5_band_rows
    from connemara_spark.streaming.stateful import lsh_candidates_stream

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    row = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    mid = (int(row["lo"]) + int(row["hi"])) // 2 + 1
    root = tempfile.mkdtemp(prefix="connemara_streamlsh_")
    try:
        land = _land_stream_segments(
            root,
            [docs.filter(F.col("doc_id") < mid), docs.filter(F.col("doc_id") >= mid)],
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        cands = lsh_candidates_stream(
            md5_band_rows(stream, "doc_id", "text", k=5, num_hashes=16, bands=8)
        )
        drained = _drain_to_table(
            spark, cands, _os.path.join(root, "ckpt"),
            # JVM join state: each width pays 4 state-store commits per
            # batch, so the width follows bytes, not bucket count
            state_width=_stream_state_width(spark, land),
        )
        # batch-side dedup of the intrinsic cross-band/cross-batch repeats
        # (the verify stage does this join anyway at scale)
        return drained.dropDuplicates(["id_a", "id_b"]).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "doc_stream_sample_bottomk",
    """
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rk
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 64
    """,
    "streaming uniform sample without replacement (bottom-k sketch as "
    "keyed state): the corpus drains as three ingest-ordered microbatches "
    "through bottomk_sample_stream — 8 independent per-shard sketches of "
    "the 64 smallest md5-ranked ids (md5-as-RNG: the sample is a pure "
    "function of the id set, immune to retries/segmentation/ordering), "
    "each admission emitted as it enters its sketch, final = bottom-64 of "
    "the drained emissions (bottom-k sketches merge exactly); oracle is "
    "the batch ORDER BY md5 LIMIT k rule — identical sample, proving the "
    "streaming sketch equals the batch sample on the same data",
)
def doc_stream_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.streaming.stateful import bottomk_sample_stream

    docs = load(spark, sf_dir, "documents").select("doc_id")
    row = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    lo, hi = int(row["lo"]), int(row["hi"])
    t1, t2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    root = tempfile.mkdtemp(prefix="connemara_streamsample_")
    try:
        land = _land_stream_segments(
            root,
            [
                docs.filter(F.col("doc_id") < t1),
                docs.filter((F.col("doc_id") >= t1) & (F.col("doc_id") < t2)),
                docs.filter(F.col("doc_id") >= t2),
            ],
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        drained = _drain_to_table(
            spark,
            bottomk_sample_stream(stream, id_col="doc_id", k=64, shards=8),
            _os.path.join(root, "ckpt"),
            # 8 shard keys only: the narrow byte-derived width wins
            # (measured — see _stream_state_width)
            state_width=_stream_state_width(spark, land, python_keys=8),
        )
        # merge the shard sketches: bottom-64 of everything ever admitted
        return (
            drained.dropDuplicates(["doc_id"])
            .orderBy("rk", "doc_id")
            .limit(64)
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "doc_stream_dedup",
    """
    WITH stream AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 20000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
    ),
    m AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS mn FROM stream
    )
    SELECT doc_id, CASE WHEN doc_id = mn THEN NULL ELSE mn END AS dup_of FROM m
    """,
    "dedup-on-ingest (STREAMING, applyInPandasWithState): the documents "
    "corpus plus deterministic re-crawls (+10M ids for doc_id%7, +20M for "
    "doc_id%11) lands as three ingest-ordered parquet segments, drained one "
    "file per microbatch through exact_dedup_stream — per-content-hash "
    "first-arrival-wins state (8 bytes per distinct content, O(unique) "
    "state on any stream length); every arrival gets a verdict row, "
    "duplicates point at their keeper; result equals the batch min-per-"
    "fingerprint rule because ingest order is id order, which is what the "
    "oracle checks",
)
def doc_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.streaming.stateful import exact_dedup_stream

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    row = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    mid = (int(row["lo"]) + int(row["hi"])) // 2 + 1
    root = tempfile.mkdtemp(prefix="connemara_streamdedup_")
    try:
        land = _land_stream_segments(
            root,
            [
                docs.filter(F.col("doc_id") < mid),
                docs.filter(F.col("doc_id") >= mid),
                docs.filter(F.col("doc_id") % 7 == 0)
                .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
                .unionByName(
                    docs.filter(F.col("doc_id") % 11 == 0).select(
                        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
                    )
                ),
            ],
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        drained = _drain_to_table(
            spark, exact_dedup_stream(stream), _os.path.join(root, "ckpt"),
            # one content-hash state key per distinct doc: Python-stateful,
            # needs CPU width (see _stream_state_width)
            state_width=_stream_state_width(
                spark, land, python_keys=int(row["hi"]) - int(row["lo"]) + 1
            ),
        )
        return drained.select("doc_id", "dup_of").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "events_stream_interval_join",
    """
    SELECT l.event_id AS click_id, r.event_id AS purchase_id,
           l.user_id AS user_id, l.ts AS click_ts, r.ts AS purchase_ts
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'purchase'
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
    """,
    "STREAM-STREAM interval join drained to batch parity — the attribution "
    "shape (purchases within 6h of a click, per user): the events land as "
    "two TIME-ORDERED segments (the watermark contract an event stream "
    "actually has), both sides carry 1h watermarks so Spark bounds each "
    "side's join state to the watermark+gap horizon, and matches spanning "
    "the microbatch boundary must survive in state — the drained inner-join "
    "output equals the batch interval join EXACTLY (time-ordered arrival "
    "means no candidate is ever evicted early), which is what the gate "
    "hashes; covers streaming/windows.py interval_join_streams (W7's "
    "stream-stream leg) under the value gate",
)
def events_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.streaming.windows import interval_join_streams

    # watermarks require TIMESTAMP (LTZ); the session tz is pinned UTC by
    # load(), so the NTZ->LTZ cast here and the ->NTZ cast on the way out
    # are value-stable and the gated schema matches the oracle's naive ts
    ev = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp_ltz").alias("ts"), "user_id", "event_type"
    )
    row = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = row["lo"] + (row["hi"] - row["lo"]) / 2
    root = tempfile.mkdtemp(prefix="connemara_streamij_")
    try:
        land = _land_stream_segments(
            root,
            [ev.filter(F.col("ts") < F.lit(mid)), ev.filter(F.col("ts") >= F.lit(mid))],
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        joined = interval_join_streams(
            clicks, purchases, key="user_id",
            left_ts="click_ts", right_ts="purchase_ts",
            watermark="1 hour", max_gap="6 hours",
        ).select(
            "click_id",
            "purchase_id",
            "l.user_id",
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        )
        drained = _drain_to_table(
            spark, joined, _os.path.join(root, "ckpt"),
            state_width=_stream_state_width(spark, land),
        )
        return drained.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "events_stream_interval_left_join",
    """
    SELECT l.event_id AS click_id, r.event_id AS purchase_id,
           l.user_id AS user_id, l.ts AS click_ts, r.ts AS purchase_ts
    FROM events l LEFT JOIN events r
      ON l.user_id = r.user_id
     AND r.event_type = 'purchase'
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
    WHERE l.event_type = 'click'
    """,
    "STREAM-STREAM LEFT OUTER interval join drained to batch parity — the "
    "funnel-leakage shape (clicks with NO purchase within 6h emit with "
    "nulls; the rows the inner join silently drops are the interesting "
    "ones): same two time-ordered segments and 1h watermarks as "
    "events_stream_interval_join, plus a sentinel third segment (one "
    "click + one purchase at max_ts + 8h, ids < 0, filtered from the "
    "output) that advances BOTH watermarks past every real click's "
    "candidate interval — outer rows only finalize once the watermark "
    "proves no match can still arrive, so without the sentinel the tail "
    "of the stream would never emit its nulls and batch parity would be "
    "unprovable; covers streaming/windows.py interval_left_join_streams "
    "(W7's outer leg) under the value gate",
)
def events_stream_interval_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os as _os
    import shutil
    import tempfile
    from datetime import timedelta

    from connemara_spark.streaming.windows import interval_left_join_streams

    ev = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp_ltz").alias("ts"),
        "user_id", "event_type",
    )
    row = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = row["lo"] + (row["hi"] - row["lo"]) / 2
    sentinel_ts = row["hi"] + timedelta(hours=8)
    sentinel = spark.createDataFrame(
        [(-1, sentinel_ts, -1, "click"), (-2, sentinel_ts, -1, "purchase")],
        schema=ev.schema,
    )
    root = tempfile.mkdtemp(prefix="connemara_streamlj_")
    try:
        land = _land_stream_segments(
            root,
            [
                ev.filter(F.col("ts") < F.lit(mid)),
                # sentinels ride the LAST data segment (not a third
                # microbatch — one fewer scan of the stream): the watermark
                # they advance commits at end-of-batch, and the availableNow
                # drain's no-data flush batch then finalizes every
                # unmatched left row's null before termination
                ev.filter(F.col("ts") >= F.lit(mid)).unionByName(sentinel),
            ],
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        joined = interval_left_join_streams(
            clicks, purchases, key="user_id",
            left_ts="click_ts", right_ts="purchase_ts",
            watermark="1 hour", max_gap="6 hours",
        ).select(
            "click_id",
            "purchase_id",
            F.col("l.user_id"),
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        )
        drained = _drain_to_table(
            spark, joined, _os.path.join(root, "ckpt"),
            state_width=_stream_state_width(spark, land),
        )
        return drained.filter(F.col("click_id") >= 0).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "events_salted_join",
    """
    WITH dim AS (
        SELECT user_id, COUNT(*) AS user_events,
               COUNT(DISTINCT event_type) AS user_types
        FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type, d.user_events, d.user_types
    FROM events e JOIN dim d ON e.user_id = d.user_id
    """,
    "skew mitigation under the value gate: operators/skew.salted_join "
    "widens the shuffle key to (user_id, salt) — every big-side row gets "
    "a rand(seed) salt, the small per-user dim replicates once per salt — "
    "so one hot user spreads across n_salts partitions in the join AND "
    "any downstream same-key stage. Salting is RESULT-invariant (each "
    "salt carries a full small-side copy), which is exactly what the "
    "oracle pins: the salted plan must equal the plain equi-join "
    "bit-for-bit, on any data, under any task retry (re-salting a retried "
    "row is safe by construction). The events fan-in (~67 rows/user at "
    "sf0.01) stands in for the hot key; the operator's spread/identity "
    "properties are pinned in tests/test_skew.py",
)
def events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.skew import salted_join

    ev = load(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events"),
        F.count_distinct("event_type").alias("user_types"),
    )
    return salted_join(
        ev.select("event_id", "user_id", "event_type"), dim,
        "user_id", n_salts=8,
    )


@register(
    "cdc_apply_pkless",
    """
    WITH ev AS (
        SELECT CAST(user_id % 20 AS BIGINT) AS user_key,
               't' || CAST(event_id % 3 AS VARCHAR) AS tag_old,
               't' || CAST(event_id % 3 + 1 AS VARCHAR) AS tag_new,
               event_id,
               CASE WHEN event_type = 'signup' THEN 'insert'
                    WHEN event_type = 'error' THEN 'delete'
                    ELSE 'update' END AS op
        FROM events
    ),
    ops AS (
        -- '-' leg: the old whole-row of deletes and updates
        SELECT user_key, tag_old AS tag, event_id AS lsn, 0 AS sub,
               FALSE AS add_op
        FROM ev WHERE op IN ('delete', 'update')
        UNION ALL
        -- '+' leg: the new whole-row of inserts and updates
        SELECT user_key,
               CASE WHEN op = 'insert' THEN tag_old ELSE tag_new END AS tag,
               event_id AS lsn, 1 AS sub, TRUE AS add_op
        FROM ev WHERE op IN ('insert', 'update')
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_key, tag ORDER BY lsn DESC, sub DESC) AS rn
            FROM ops
        ) t WHERE rn = 1
    ),
    snap AS (
        SELECT DISTINCT CAST(user_id % 20 AS BIGINT) AS user_key, 't0' AS tag
        FROM events
    )
    SELECT user_key, tag FROM last WHERE add_op
    UNION ALL
    SELECT s.user_key, s.tag FROM snap s WHERE NOT EXISTS (
        SELECT 1 FROM ops o WHERE o.user_key = s.user_key AND o.tag = s.tag)
    """,
    "PK-less table apply under the value gate (SURVEY hard-point 6: the "
    "reference DIES on tables without a primary key; this engine falls "
    "back to whole-row keys — oldkeys carry every column, the per-key "
    "fold keys on the full row struct, and an update becomes a "
    "delete(old whole row)+insert(new whole row) split): a 2-column "
    "PK-less tags table is seeded with one 't0' row per user and driven "
    "by a forged wal2json stream (signup→insert, error→delete, "
    "other→update rotating the tag) whose oldkeys list BOTH columns. The "
    "oracle folds the same ±whole-row op sequence by (row value, lsn) — "
    "set semantics per distinct row, exactly what whole-row keying "
    "means; pinned structurally in tests/test_apply.py::"
    "test_no_pk_table_whole_row_fallback",
)
def cdc_apply_pkless(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = TableSpec(
        database="db1",
        schema="public",
        table="tags",
        columns=[ColumnSpec("user_key", "bigint"), ColumnSpec("tag", "text")],
        pk_cols=[],
    )
    ev = spread(load(spark, sf_dir, "events"))
    k = (F.col("user_id") % 20).cast("long")
    tag_old = F.concat(F.lit("t"), (F.col("event_id") % 3).cast("string"))
    tag_new = F.concat(F.lit("t"), (F.col("event_id") % 3 + 1).cast("string"))
    kind = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
    )
    names = F.array(F.lit("user_key"), F.lit("tag"))
    payload = F.to_json(
        F.struct(
            kind.alias("kind"),
            F.lit("public").alias("schema"),
            F.lit("tags").alias("table"),
            F.when(kind != "delete", names).alias("columnnames"),
            F.when(
                kind != "delete",
                F.array(
                    k.cast("string"),
                    F.when(kind == "insert", tag_old).otherwise(tag_new),
                ),
            ).alias("columnvalues"),
            F.when(
                kind != "insert",
                F.struct(
                    names.alias("keynames"),
                    F.array(k.cast("string"), tag_old).alias("keyvalues"),
                ),
            ).alias("oldkeys"),
        )
    )
    bronze = ev.select(
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit("db1").alias("database"),
        F.lit("slot_db1").alias("source_slotname"),
        F.col("event_id").alias("lsn_start"),
        (F.col("event_id") + 1000).alias("xid"),
        F.col("ts").alias("xid_timestamp"),
        payload.alias("payload"),
    )
    snapshot = (
        ev.select(k.alias("user_key")).distinct().withColumn("tag", F.lit("t0"))
    )
    return apply_changes(snapshot, parse_events(bronze), spec).localCheckpoint()


@register(
    "doc_jsonl_quarantine",
    """
    SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 97 <> 0
    """,
    "JSONL ingestion with corrupt-line quarantine under the value gate "
    "(sources/textfiles.read_jsonl_docs): the documents corpus is rendered "
    "to line-delimited JSON with every 97th doc replaced by a broken line "
    "(unterminated object), read back through the explicit-schema "
    "PERMISSIVE reader, and the GOOD split is hashed. The gate proves the "
    "split in both directions at once — a corrupt line leaking into good "
    "rows or a valid line wrongly quarantined each flips the value hash; "
    "JSON escaping round-trips embedded newlines/quotes/unicode exactly",
)
def doc_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.sources.textfiles import read_jsonl_docs

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    line = F.to_json(F.struct("doc_id", "text", "lang", "source"))
    rendered = F.when(
        F.col("doc_id") % 97 == 0,
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string")),
    ).otherwise(line)
    root = tempfile.mkdtemp(prefix="connemara_jsonl_")
    try:
        land = _os.path.join(root, "drop")
        docs.select(rendered.alias("value")).write.text(land)
        good, bad = read_jsonl_docs(spark, land)
        # the reader caches its single parse (good/bad share it); pin the
        # result off the files before the tempdir goes away — the small
        # orphaned cache entry is freed by the ContextCleaner once the
        # internal frame is unreferenced
        return good.select("doc_id", "text", "lang", "source").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "doc_csv_quarantine",
    """
    SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 89 <> 0
    """,
    "CSV ingestion with corrupt-line quarantine under the value gate "
    "(sources/textfiles.read_csv_docs — the JSONL reader's CSV twin): the "
    "documents metadata columns (no free text, so no quoting ambiguity in "
    "the fixture) render to CSV with every 89th row's doc_id poisoned to a "
    "non-numeric token, read back through the explicit-schema PERMISSIVE "
    "reader, good split hashed — both leak directions flip the hash",
)
def doc_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from connemara_spark.sources.textfiles import read_csv_docs

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    key = F.when(
        F.col("doc_id") % 89 == 0,
        F.concat(F.lit("x"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("doc_id").cast("string"))
    line = F.concat_ws(",", key, "lang", "source", F.col("n_chars").cast("string"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="connemara_csv_")
    try:
        land = _os.path.join(root, "drop")
        docs.select(line.alias("value")).write.text(land)
        good, bad = read_csv_docs(spark, land, schema=schema, header=False)
        return good.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "doc_orc_roundtrip",
    """
    SELECT doc_id, text, lang, source FROM documents
    """,
    "ORC corpus sink/source round-trip under the value gate "
    "(sources/textfiles.write_corpus_orc / read_orc_docs — the parquet "
    "sink's twin for Hive/Trino-standardized consumers): hive-partitioned "
    "by lang, zstd ORC, read back through the explicit-schema reader and "
    "hashed against the source rows",
)
def doc_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.sources.textfiles import read_orc_docs, write_corpus_orc

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    root = tempfile.mkdtemp(prefix="connemara_orc_")
    try:
        path = _os.path.join(root, "corpus")
        write_corpus_orc(docs, path, partition_by="lang")
        return (
            read_orc_docs(spark, path)
            .select(
                "doc_id", "text",
                F.col("lang").cast("string").alias("lang"), "source",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "doc_corpus_roundtrip",
    """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    "partitioned corpus sink round-trip under the value gate "
    "(sources/textfiles.write_corpus): the documents corpus is written "
    "hive-partitioned by lang (per-language reads prune whole "
    "directories), Z-ordered within partitions on (doc_id, n_chars), "
    "zstd-compressed, then read back and hashed against the source rows — "
    "partition-column extraction (lang leaves the data files and comes "
    "back from directory names), the Z-order rewrite, and the codec all "
    "have to be value-neutral for the hash to survive",
)
def doc_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.sources.textfiles import write_corpus

    docs = load(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="connemara_corpus_")
    try:
        path = _os.path.join(root, "corpus")
        write_corpus(
            docs, path, partition_by="lang", zorder=("doc_id", "n_chars")
        )
        back = spark.read.parquet(path)
        return back.select(
            "doc_id", "text", F.col("lang").cast("string").alias("lang"),
            "source", "n_chars",
        ).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "doc_tar_shards_roundtrip",
    """
    SELECT doc_id, text, lang, source FROM documents
    """,
    "WebDataset tar shard sink/source round-trip under the value gate "
    "(sources/shards.write_tar_shards / read_tar_shards): the documents "
    "corpus is routed into 8 hash-sharded tars (one shuffle, executor-side "
    "streaming tar writes, byte-reproducible), re-read with one task per "
    "shard re-assembling samples by basename, and the decoded members are "
    "hashed against the source rows — member encoding (UTF-8 for strings), "
    "null-member skipping, and key round-trip all gate-checked; shard "
    "byte-determinism itself is pinned in tests/test_shards.py",
)
def doc_tar_shards_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.sources.shards import read_tar_shards, write_tar_shards

    docs = load(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="connemara_shards_")
    try:
        manifest = write_tar_shards(
            docs,
            root,
            key_col="doc_id",
            member_cols={"txt": "text", "lang": "lang", "src": "source"},
            n_shards=8,
        )
        manifest.collect()  # the manifest job IS the write
        back = read_tar_shards(spark, root)
        m = F.col("members")
        return (
            back.select(
                F.col("key").cast("long").alias("doc_id"),
                F.element_at(m, "txt").cast("string").alias("text"),
                F.element_at(m, "lang").cast("string").alias("lang"),
                F.element_at(m, "src").cast("string").alias("source"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "events_stream_dedup_watermark",
    """
    SELECT DISTINCT user_id FROM events
    """,
    "bounded-state streaming dedup under the value gate (streaming/ingest."
    "streaming_dedup_within_watermark -> dropDuplicatesWithinWatermark): "
    "the events stream lands as two time-ordered segments drained one "
    "microbatch each; re-arrivals of the same user_id within the horizon "
    "are dropped ACROSS microbatches (the state survives the batch "
    "boundary — that is what the gate proves), with the delay set beyond "
    "the stream's whole span so no key evicts and the drained output is "
    "exactly one row per distinct key. Only the key column is gated: "
    "which duplicate row survives within a batch is pick-any, so any "
    "payload column would be nondeterministic by design. Eviction and "
    "re-admission after the horizon are pinned in "
    "tests/test_streaming_ingest.py",
)
def events_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.streaming.ingest import streaming_dedup_within_watermark

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp_ltz").alias("ts")
    )
    row = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = row["lo"] + (row["hi"] - row["lo"]) / 2
    span_h = int((row["hi"] - row["lo"]).total_seconds() // 3600) + 48
    root = tempfile.mkdtemp(prefix="connemara_streamwm_")
    try:
        land = _land_stream_segments(
            root,
            [ev.filter(F.col("ts") < F.lit(mid)), ev.filter(F.col("ts") >= F.lit(mid))],
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        deduped = streaming_dedup_within_watermark(
            stream, keys=["user_id"], ts_col="ts", delay=f"{span_h} hours"
        )
        drained = _drain_to_table(
            spark, deduped.select("user_id"), _os.path.join(root, "ckpt"),
            state_width=_stream_state_width(spark, land),
        )
        return drained.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "doc_stream_corpus_ingest",
    """
    WITH stream AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text, lang, source
        FROM documents WHERE doc_id % 5 = 0
    ),
    m AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS mn FROM stream
    ),
    win AS (
        SELECT doc_id, text, lang, source FROM m WHERE doc_id = mn
    ),
    q AS (
        SELECT *,
               least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.25
               + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                  / greatest(length(text), 1)) * 0.25
               + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                  / greatest(length(text), 1)) * 0.15
               + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g')) AS DOUBLE)
                  / greatest(length(text), 1)) * 0.15
               + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / greatest(len(string_split(text, ' ')), 1)) * 0.20 AS s
        FROM win
    ),
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM win),
    tc AS (
        SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS twf
        FROM (SELECT doc_id, w, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(ws) AS w FROM w) GROUP BY doc_id, w)
        GROUP BY doc_id
    ),
    rep AS (
        SELECT w.doc_id,
               CASE WHEN len(ws) >= 2 THEN
                   CAST(len(ws) - 1 - len(list_distinct(list_transform(
                       range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' ')))) AS DOUBLE)
                   / (len(ws) - 1) ELSE 0.0 END AS d2,
               COALESCE(twf, 0.0) AS twf
        FROM w LEFT JOIN tc USING (doc_id)
    )
    SELECT q.doc_id, q.lang, q.source, md5(q.text) AS content_md5
    FROM q JOIN rep ON q.doc_id = rep.doc_id
    WHERE q.s >= 0.72 AND NOT (rep.twf > 0.20 OR rep.d2 > 0.35)
    """,
    "the full streaming corpus-ingest pipeline under the value gate "
    "(streaming/ingest.StreamingCorpusIngest): documents plus a "
    "deterministic re-crawl (+10M ids for doc_id%5) land as three "
    "ingest-ordered segments drained one microbatch each through the "
    "foreachBatch body — in-batch exact dedup (min doc_id per content "
    "md5), anti-join against the hashes already APPENDED to the silver "
    "corpus (the cross-batch dedup state IS the corpus — survives "
    "restarts for free), quality gate (>= 0.72, which rejects ~30% "
    "here) and Gopher repetition gate, append with the content hash "
    "materialized. Result = the corpus read back; equals the batch rule "
    "(min-id winner per hash that passes both gates) because segment "
    "order is id order and the gates are pure functions of the text; "
    "gated on the deterministic columns (ids/lang/source/md5), the "
    "float scores stay pinned by doc_quality_scores / "
    "doc_repetition_filters",
)
def doc_stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.streaming.ingest import StreamingCorpusIngest

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    row = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    mid = (int(row["lo"]) + int(row["hi"])) // 2 + 1
    root = tempfile.mkdtemp(prefix="connemara_corpusingest_")
    try:
        land = _land_stream_segments(
            root,
            [
                docs.filter(F.col("doc_id") < mid),
                docs.filter(F.col("doc_id") >= mid),
                docs.filter(F.col("doc_id") % 5 == 0).select(
                    (F.col("doc_id") + 10_000_000).alias("doc_id"),
                    "text", "lang", "source",
                ),
            ],
        )
        ingest = StreamingCorpusIngest(
            spark,
            landing_dir=land,
            corpus_dir=_os.path.join(root, "corpus"),
            checkpoint_dir=_os.path.join(root, "ckpt"),
            min_quality=0.72,
            max_files_per_trigger=1,
        )
        ingest.run_until_drained()
        return (
            spark.read.parquet(ingest.corpus_dir)
            .select("doc_id", "lang", "source", "content_md5")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "doc_token_stats",
    """
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
    FROM documents
    """,
    "text analysis: whitespace token counting",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline ops (dedup / similarity / text) — full slice
# ---------------------------------------------------------------------------

@register(
    "near_dup_ngram_jaccard",
    """
    WITH d AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS shs
        FROM documents
    ),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM d),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / (len(da.shs) + len(db.shs) - n_inter) AS jaccard
    FROM inter JOIN d da ON da.doc_id = id_a JOIN d db ON db.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / (len(da.shs) + len(db.shs) - n_inter) >= 0.5
    """,
    "exact near-dup: 5-gram shingle blocking + exact Jaccard",
)
def near_dup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import ngram_jaccard_pairs

    docs = spread(load(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.5)


@register(
    "corpus_dedup_report",
    """
    WITH h AS (SELECT md5(text) AS fp, COUNT(*) AS n FROM documents GROUP BY md5(text))
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_unique,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_exact_dups,
           ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) AS dup_rate,
           CAST(MAX(n) AS BIGINT) AS largest_group
    FROM h
    """,
    "corpus dedup dashboard row: exact-duplicate rate + largest duplicate group (the number a curation run reports before/after)",
)
def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents")).select("text")
    h = docs.groupBy(F.md5("text").alias("fp")).agg(F.count(F.lit(1)).alias("n"))
    return h.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("n") - F.count(F.lit(1))).cast("bigint").alias("n_exact_dups"),
        F.round(
            F.lit(1.0) - F.count(F.lit(1)).cast("double") / F.sum("n"), 6
        ).alias("dup_rate"),
        F.max("n").cast("bigint").alias("largest_group"),
    )


@register(
    "near_dup_ngram_containment",
    """
    WITH d AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS shs
        FROM documents
    ),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM d),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / len(da.shs) AS containment
    FROM inter JOIN d da ON da.doc_id = id_a
    WHERE CAST(n_inter AS DOUBLE) / len(da.shs) >= 0.8
    """,
    "asymmetric near-subset detection: |A∩B|/|A| — catches excerpts/quoted copies Jaccard dilutes; probe-side prefix filtering (pigeonhole on A alone)",
)
def near_dup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import ngram_containment_pairs

    docs = spread(load(spark, sf_dir, "documents"))
    return ngram_containment_pairs(docs, "doc_id", "text", k=5, threshold=0.8)


@register(
    "minhash_lsh_dedup",
    None,  # the xxhash64 family is not SQL-expressible; rows-only check.
           # minhash_lsh_dedup_md5 below runs the SAME pipeline with a
           # portable md5 family under the full value-hash gate, and
           # tests/test_dedup.py::test_minhash_recall checks recall vs the
           # exact ngram_jaccard ground truth.
    "MinHash(64) + 32-band LSH near-dup with exact verification (xxhash64 family, the scale path)",
)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import minhash_lsh_pairs

    docs = spread(load(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(docs, "doc_id", "text", k=5, threshold=0.5)


@register(
    "minhash_lsh_dedup_md5",
    """
    WITH d AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS shs
        FROM documents
    ),
    sigs AS (
        SELECT doc_id, shs,
               list_transform(range(0, 16),
                   i -> list_min(list_transform(shs, s -> md5(CAST(i AS VARCHAR) || '|' || s)))) AS sig
        FROM d
    ),
    bands AS (
        SELECT doc_id, t.band AS band,
               md5(sig[2*t.band + 1] || '|' || sig[2*t.band + 2]) AS bh
        FROM sigs, (SELECT unnest(range(0, 8)) AS band) t
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
             / (len(da.shs) + len(db.shs) - len(list_intersect(da.shs, db.shs))) AS jaccard
    FROM cand JOIN d da ON da.doc_id = id_a JOIN d db ON db.doc_id = id_b
    WHERE CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
             / (len(da.shs) + len(db.shs) - len(list_intersect(da.shs, db.shs))) >= 0.5
    """,
    "MinHash(16)+8-band LSH with a portable md5 hash family — the sketch pipeline itself under the value-hash gate",
)
def minhash_lsh_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import minhash_lsh_pairs_md5

    docs = spread(load(spark, sf_dir, "documents"))
    return minhash_lsh_pairs_md5(docs, "doc_id", "text", k=5, num_hashes=16, bands=8, threshold=0.5)


@register(
    "simhash_dedup",
    None,  # xxhash64-based sketch — not SQL-expressible; structural checks
           # in tests/test_dedup.py. simhash_dedup_md5 below runs the same
           # pipeline with a portable md5 family under the value-hash gate.
    "64-bit SimHash near-dup pairs (hamming <= 3, banded)",
)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import simhash_pairs

    docs = spread(load(spark, sf_dir, "documents"))
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3)


# 60 bit-vote terms of the md5-SimHash oracle: bit j of a token hash is bit
# j%4 of hex nibble j//4 (from the least-significant char of the low 15
# nibbles of md5), decoded via strpos — portable integer arithmetic.
_SIMHASH_MD5_TERMS = " + ".join(
    "(CASE WHEN 2 * len(list_filter(ths, h -> "
    "(((strpos('0123456789abcdef', h[{p}:{p}]) - 1) >> {s}) & 1) = 1"
    ")) > len(ths) THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {j})".format(
        p=15 - j // 4, s=j % 4, j=j
    )
    for j in range(60)
)


@register(
    "simhash_dedup_md5",
    f"""
    WITH d AS (
        SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)[18:]) AS ths
        FROM documents
    ),
    sims AS (SELECT doc_id, ({_SIMHASH_MD5_TERMS}) AS simhash FROM d),
    chunks AS (
        SELECT doc_id, simhash, t.band AS band,
               (simhash >> (t.band * 15)) & 32767 AS chunk
        FROM sims, (SELECT unnest(range(0, 4)) AS band) t
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM chunks a
        JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """,
    "60-bit md5-SimHash near-dup pairs — the sketch pipeline under the value-hash gate",
)
def simhash_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import simhash_pairs_md5

    docs = spread(load(spark, sf_dir, "documents"))
    return simhash_pairs_md5(docs, "doc_id", "text", max_hamming=3, bands=4)


@register(
    "embedding_topk_cosine",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 50),
    n AS (SELECT vec_id AS neighbor_id, embedding AS nvec FROM embeddings),
    dots AS (
        SELECT query_id, neighbor_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65), i -> CAST(qvec[i] * nvec[i] AS DOUBLE))),
                   (a, b) -> a + b) AS dot,
               sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65), i -> CAST(qvec[i] * qvec[i] AS DOUBLE))),
                   (a, b) -> a + b)) AS qn,
               sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65), i -> CAST(nvec[i] * nvec[i] AS DOUBLE))),
                   (a, b) -> a + b)) AS nn
        FROM q CROSS JOIN n WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, dot / (qn * nn) AS cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot / (qn * nn) DESC, neighbor_id) AS rank
        FROM dots
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
    "brute-force cosine top-5 (exact ANN baseline)",
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import brute_force_topk

    emb = spread(load(spark, sf_dir, "embeddings"))
    queries_df = emb.filter(F.col("vec_id") < 50)
    return brute_force_topk(emb, k=5, queries=queries_df)


@register(
    "embedding_ann_lsh",
    None,  # approximate: recall measured against the exact baseline in
           # tests/test_similarity.py
    "SRP-LSH bucketed approximate top-k (the at-scale ANN path)",
)
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import srp_lsh_topk

    emb = spread(load(spark, sf_dir, "embeddings"))
    return srp_lsh_topk(emb, k=5, n_bits=8, n_tables=6, dim=64)


def _srp_lit_oracle() -> str:
    """DuckDB oracle for the literal-Rademacher SRP twin: the SAME seeded
    planes render into both engines' SQL (only the element accessor and
    shift syntax differ), so signatures — and therefore buckets, candidates,
    and ranks — agree exactly."""
    from connemara_spark.operators.similarity import (
        rademacher_planes,
        srp_lit_signature_sql,
    )

    planes = rademacher_planes(64, 8, 4, 42)
    unions = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, ({srp_lit_signature_sql(planes[t], 'embedding[{i}]', dialect='duckdb')}) AS sig FROM embeddings"
        for t in range(4)
    )
    return f"""
    WITH sigs AS ({unions}),
    cand AS (
        SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
        FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id <> b.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65), i -> CAST(q.embedding[i] * n.embedding[i] AS DOUBLE))),
                   (a, b) -> a + b)
               / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(range(1, 65), i -> CAST(q.embedding[i] * q.embedding[i] AS DOUBLE))),
                      (a, b) -> a + b))
                  * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(range(1, 65), i -> CAST(n.embedding[i] * n.embedding[i] AS DOUBLE))),
                      (a, b) -> a + b))) AS cosine
        FROM cand JOIN embeddings q ON q.vec_id = query_id
                  JOIN embeddings n ON n.vec_id = neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """


@register(
    "embedding_ann_lsh_lit",
    _srp_lit_oracle(),
    "SRP-LSH top-k with literal Rademacher planes — the bucketed ANN pipeline under the value-hash gate",
)
def embedding_ann_lsh_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import srp_lsh_topk_lit

    emb = spread(load(spark, sf_dir, "embeddings"))
    return srp_lsh_topk_lit(emb, k=5, n_bits=8, n_tables=4)


@register(
    "language_id",
    """
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(lower(text), ' '),
                   w -> list_contains(['der','die','und','das','von','zu','mit','den','ist','im'], w))) AS hits_de,
               len(list_filter(string_split(lower(text), ' '),
                   w -> list_contains(['the','and','of','to','in','is','that','with','for','on'], w))) AS hits_en,
               len(list_filter(string_split(lower(text), ' '),
                   w -> list_contains(['el','la','de','que','y','en','los','se','del','las'], w))) AS hits_es,
               len(list_filter(string_split(lower(text), ' '),
                   w -> list_contains(['le','la','de','et','les','des','en','un','du','une'], w))) AS hits_fr
        FROM documents
    )
    SELECT doc_id, lang, hits_de, hits_en, hits_es, hits_fr,
           CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scored
    """,
    "stopword-profile language identification",
)
def language_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.text import language_id

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "lang", "text")
    return language_id(docs, "text").drop("text")


@register(
    "doc_quality_scores",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / greatest(len(string_split(text, ' ')), 1), 6) AS distinct_ratio,
           ROUND(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.25
                 + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1)) * 0.25
                 + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1)) * 0.15
                 + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1)) * 0.15
                 + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / greatest(len(string_split(text, ' ')), 1)) * 0.20, 6) AS quality_score
    FROM documents
    """,
    "corpus quality scoring (length/alpha/digit/punct/distinct blend)",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.text import quality_features

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    return quality_features(docs, "text").select(
        "doc_id", "n_words", F.round("distinct_ratio", 6).alias("distinct_ratio"), "quality_score"
    )


@register(
    "doc_quality_curriculum",
    """
    WITH q AS (
        SELECT doc_id,
               ROUND(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.25
                     + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1)) * 0.25
                     + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1)) * 0.15
                     + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1)) * 0.15
                     + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / greatest(len(string_split(text, ' ')), 1)) * 0.20, 6) AS quality_score
        FROM documents
    )
    SELECT doc_id, quality_score,
           CAST(NTILE(10) OVER (ORDER BY quality_score, doc_id) AS INT) AS bucket
    FROM q
    """,
    "curriculum bucketing: EXACT global quality deciles via the banded-prefix-sum "
    "NTILE (value bands are a monotone prefix of the order key -> per-band windows "
    "+ broadcast band offsets; never a single-partition global window) — the oracle "
    "is the naive NTILE, which at scale would be the accidental scale-killer",
)
def doc_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import distributed_ntile
    from connemara_spark.operators.text import quality_features

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    scored = quality_features(docs, "text").select("doc_id", "quality_score")
    return distributed_ntile(scored, "quality_score", "doc_id", n=10)


@register(
    "doc_fingerprints",
    """
    WITH d AS (
        SELECT doc_id, text, list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS shs
        FROM documents
    )
    SELECT doc_id,
           list_min(list_transform(shs, s -> md5(s))) AS fingerprint,
           md5(text) AS exact_fingerprint
    FROM d
    """,
    "min-shingle document fingerprinting (winnowing-style)",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.text import fingerprint_docs

    docs = spread(load(spark, sf_dir, "documents"))
    return fingerprint_docs(docs, "doc_id", "text", k=5)


@register(
    "bpe_token_counts",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n]')) AS n_bpe_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens
    FROM documents
    """,
    "BPE-style pre-tokenization counting",
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.text import token_count, whitespace_token_count

    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        token_count("text").alias("n_bpe_tokens"),
        whitespace_token_count("text").alias("n_ws_tokens"),
    )


@register(
    "embedding_dedup_pipeline",
    """
    WITH RECURSIVE p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.4
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
    reach AS (
        SELECT a AS src, a AS dst FROM edges
        UNION
        SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    ),
    cl AS (SELECT src AS node, MIN(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT e.vec_id FROM embeddings e LEFT JOIN cl ON e.vec_id = cl.node
    WHERE cl.node IS NULL OR e.vec_id = cl.cluster_id
    """,
    "end-to-end embedding dedup: blocked-GEMM cosine pairs -> connected components -> one canonical vector per cluster",
)
def embedding_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the full dedup composition a training pipeline runs: candidate pairs
    # (distributed exact GEMM here; swap srp_lsh for the approximate scale
    # path), min-label clustering, smallest-id canonical keep
    from connemara_spark.operators.curation import keep_canonical, neardup_clusters
    from connemara_spark.operators.similarity import cosine_pairs_gemm

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    pairs = cosine_pairs_gemm(emb, "vec_id", "embedding", threshold=0.4, n_blocks=8)
    clusters = neardup_clusters(pairs)
    return keep_canonical(emb.select("vec_id"), clusters, "vec_id")


@register(
    "doc_tfidf_top_terms",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(DISTINCT doc_id) AS dfreq FROM tok GROUP BY word),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word,
               ROUND(tf.c * ln(CAST(n.nd AS DOUBLE) / df.dfreq), 6) AS tfidf
        FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY tfidf DESC, word) AS rk
        FROM scored) s
    WHERE rk <= 3
    """,
    "TF-IDF top-3 terms per document (term counts x ln(N/df); corpus doc-frequency joined back, broadcast N)",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    dfreq = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("dfreq"))
    # Corpus size is a SCALAR: a distributed count whose one-number result is
    # inlined as a literal. Joining a 1-row aggregate (even broadcast) plans
    # as BroadcastNestedLoopJoin; a count() action + literal keeps the main
    # plan join-free and is exactly as scalable (the count is its own tiny
    # distributed job).
    nd_val = docs.count()
    scored = (
        tf.join(dfreq, "word")
        .withColumn("nd", F.lit(nd_val))
        .select(
            "doc_id", "word",
            F.round(
                F.col("c") * F.log(F.col("nd").cast("double") / F.col("dfreq")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tfidf")
    )


_BM25_TERMS = ("hash", "join", "window", "vector")


def _bm25_oracle(*, k1: float = 1.2, b: float = 0.75, topn: int = 10) -> str:
    """BM25 with the standard Robertson idf — float math structured for
    cross-engine identity: per-term contributions land in SEPARATE pivot
    columns and the final score adds them in a FIXED left-to-right order
    (a SUM over term rows would re-associate double addition); ln/division
    inputs are integers or identically-derived doubles on both engines
    (the doc_tfidf_top_terms precedent)."""
    terms = _BM25_TERMS
    per_term = ", ".join(
        f"SUM(CASE WHEN word = '{t}' THEN contrib ELSE 0.0 END) AS c{i}"
        for i, t in enumerate(terms)
    )
    add_chain = " + ".join(f"COALESCE(c{i}, 0.0)" for i in range(len(terms)))
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS nd, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok WHERE word IN ({tlist})
           GROUP BY doc_id, word),
    dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    contribs AS (
        SELECT tf.doc_id, tf.word,
               ln(1.0 + (CAST(s.nd AS DOUBLE) - df + 0.5) / (df + 0.5))
                 * ((tf * CAST({k1} + 1.0 AS DOUBLE))
                    / (tf + {k1} * (1.0 - {b} + {b} * CAST(dl.len AS DOUBLE) / s.avgdl)))
               AS contrib
        FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id) CROSS JOIN stats s
    ),
    pivoted AS (SELECT doc_id, {per_term} FROM contribs GROUP BY doc_id),
    scored AS (SELECT doc_id, ROUND({add_chain}, 6) AS bm25 FROM pivoted)
    SELECT doc_id, bm25, rk FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk FROM scored) s
    WHERE rk <= {topn}
    """


@register(
    "doc_bm25_topk",
    _bm25_oracle(),
    "BM25 lexical retrieval (Robertson idf, k1=1.2 b=0.75) for a fixed query "
    "over the documents corpus — the decontamination / quality-probe search "
    "primitive; per-term contributions pivot to fixed-order addition so double "
    "sums are engine- and partitioning-independent; plan: one tokenize scan, "
    "tf filtered to query terms before the agg, 4-row df broadcast, one top-k window",
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    k1, b, topn = 1.2, 0.75, 10
    terms = _BM25_TERMS
    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    # scalars: tiny distributed aggs inlined as literals (join-free main plan)
    nd, total_len = dl.agg(
        F.count(F.lit(1)), F.sum("len")
    ).collect()[0]
    avgdl = float(total_len) / float(nd)
    tf = (
        tok.filter(F.col("word").isin(*terms))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        F.log(1.0 + (F.lit(float(nd)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (
            (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("len").cast("double") / F.lit(avgdl)))
        )
    )
    contribs = (
        tf.join(F.broadcast(dfq), "word")
        .join(dl, "doc_id")
        .select("doc_id", "word", contrib.alias("contrib"))
    )
    pivoted = contribs.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("word") == t, F.col("contrib")).otherwise(0.0)).alias(f"c{i}")
            for i, t in enumerate(terms)
        ]
    )
    add_chain = None
    for i in range(len(terms)):
        c = F.coalesce(F.col(f"c{i}"), F.lit(0.0))
        add_chain = c if add_chain is None else add_chain + c
    scored = pivoted.select("doc_id", F.round(add_chain, 6).alias("bm25"))
    # distributed top-k (TakeOrderedAndProject), never a global one-partition
    # window over all scored docs; ranks derive from a k^2 self-join over the
    # topn rows (see _ranked_topk)
    top = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(topn)
    return _ranked_topk(top, "bm25", "doc_id").select("doc_id", "bm25", "rk")


@register(
    "doc_chunk_overlap",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 24)) AS st FROM t)
    SELECT doc_id,
           CAST((st - 1) / 24 AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, st, st + 31)) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(toks, st, st + 31), ' ')) AS chunk_digest
    FROM s
    """,
    "overlapping-window document chunking (size=32 tokens, overlap=8 — the RAG / "
    "long-context training-prep splitter): per-row sequence + slice, zero "
    "shuffle; chunk content pinned by md5 digest so the gate checks exact "
    "boundaries and overlap bytes",
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 32, 24
    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    s = toks.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks"), F.lit(stride))).alias("st"),
    )
    chunk = F.slice(F.col("toks"), F.col("st"), size)
    return s.select(
        "doc_id",
        ((F.col("st") - 1) / stride).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_digest"),
    )


@register(
    "corpus_vocabulary_top20",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT word, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM w GROUP BY word
    ORDER BY n_occurrences DESC, word
    LIMIT 20
    """,
    "corpus vocabulary head: term + document frequency, top 20 (explode -> map-side-combined agg)",
)
def corpus_vocabulary_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n_occurrences"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n_occurrences").desc(), "word")
        .limit(20)
    )


@register(
    "corpus_stats_by_lang",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS mean_chars,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS p50_chars,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 6) AS p90_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
    "per-language corpus profile: counts, mean, exact interpolated p50/p90 of doc length, source diversity",
)
def corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact interpolated percentiles (Spark `percentile` == SQL-standard
    # quantile_cont); at extreme scale swap for percentile_approx with a
    # documented accuracy budget — the aggregation shape is identical
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("mean_chars"),
        F.round(F.expr("percentile(cast(n_chars as double), 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(cast(n_chars as double), 0.9)"), 6).alias("p90_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "embedding_quantize_int8",
    """
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
    ),
    t AS (
        SELECT vec_id, ROUND(mx / 127.0, 9) AS scale,
               list_transform(embedding, x -> CAST(
                   CASE WHEN mx > 0 THEN ROUND(CAST(x AS DOUBLE) * 127.0 / mx)
                        ELSE 0.0 END AS INT)) AS qvec
        FROM s
    )
    SELECT vec_id, scale,
           md5(array_to_string(qvec, ',')) AS qdigest,
           CAST(list_sum(qvec) AS BIGINT) AS qsum
    FROM t
    """,
    "symmetric per-vector int8 quantization of embeddings (4B->1B per dim; codes reproduce "
    "bit-for-bit across engines, checked through an md5 digest of the code array — the raw "
    "array<int> column is unhashable for the driver's pandas canonicalizer)",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import quantize_embeddings

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    q = quantize_embeddings(emb, "vec_id", "embedding")
    return q.select(
        "vec_id",
        "scale",
        F.md5(F.array_join(F.transform(F.col("qvec"), lambda x: x.cast("string")), ",")).alias(
            "qdigest"
        ),
        "qsum",
    )


def _stratified_oracle() -> str:
    return """
    SELECT doc_id, lang, sample_rank FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
                   AS sample_rank
        FROM documents) s
    WHERE sample_rank <= 50
    """


@register(
    "doc_stratified_sample",
    _stratified_oracle(),
    "balanced per-language sample: first 50 docs per stratum in deterministic hash order",
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import stratified_sample

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "lang")
    return stratified_sample(docs, "doc_id", "lang", n_per_stratum=50, family="md5")


def _contamination_oracle() -> str:
    from connemara_spark.operators.curation import fraction_threshold_hex

    t = fraction_threshold_hex(0.02)
    return f"""
    WITH d AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 12, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+12], ' '))) AS shs
        FROM documents
    ),
    g AS (SELECT doc_id, unnest(shs) AS gram FROM d),
    bench_ids AS (
        SELECT doc_id FROM documents
        WHERE substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{t}'
    ),
    b AS (SELECT g.doc_id AS bench_doc_id, gram FROM g JOIN bench_ids USING (doc_id))
    SELECT g.doc_id AS train_doc_id, b.bench_doc_id, COUNT(*) AS n_shared_grams
    FROM g JOIN b USING (gram)
    WHERE g.doc_id <> b.bench_doc_id
    GROUP BY 1, 2
    """


@register(
    "doc_contamination_13gram",
    _contamination_oracle(),
    "benchmark-contamination detection: 13-gram overlap between the corpus and a deterministic 2% benchmark subset",
)
def doc_contamination_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import contamination_pairs, hash_sample

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    bench = hash_sample(docs, "doc_id", 0.02, family="md5")
    return contamination_pairs(docs, bench, id_col="doc_id", text_col="text", k=13)


@register(
    "corpus_mixture_weights",
    """
    WITH g AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    p AS (
        SELECT lang, n_docs,
               CAST(n_docs AS DOUBLE) / SUM(CAST(n_docs AS DOUBLE)) OVER () AS nat_frac,
               exp(0.7 * ln(CAST(n_docs AS DOUBLE)))
                   / SUM(exp(0.7 * ln(CAST(n_docs AS DOUBLE)))) OVER () AS adj_frac
        FROM g
    )
    SELECT lang, n_docs, ROUND(nat_frac, 6) AS nat_frac, ROUND(adj_frac, 6) AS adj_frac,
           ROUND(adj_frac / nat_frac, 6) AS sample_weight
    FROM p
    """,
    "temperature-based corpus mixture weights (alpha=0.7 upsampling, the multilingual LM standard): per-language natural vs adjusted sampling fractions",
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents")).select("lang")
    # cached for the two jobs below (totals collect + final projection),
    # released before returning: the localCheckpoint pins the bounded
    # per-language aggregate (ContextCleaner-freed when unreferenced),
    # so the returned plan no longer needs the cache
    g = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).localCheckpoint()
    # Corpus totals inlined as literal scalars (one bounded agg job over
    # the LANGUAGE aggregate — the doc_tfidf pattern; an unpartitioned
    # window would be a single-partition WindowExec, a 1-row cross-join a
    # nested-loop join). n_docs total sums as LONG — exact in any order.
    pw = F.exp(F.lit(0.7) * F.log(F.col("n_docs").cast("double")))
    trow = g.agg(
        F.sum("n_docs").alias("__tot_docs"), F.sum(pw).alias("__tot_pw")
    ).collect()[0]
    nat = F.col("n_docs").cast("double") / F.lit(float(trow["__tot_docs"]))
    adj = pw / F.lit(float(trow["__tot_pw"]))
    return g.select(
        "lang",
        "n_docs",
        F.round(nat, 6).alias("nat_frac"),
        F.round(adj, 6).alias("adj_frac"),
        F.round(adj / nat, 6).alias("sample_weight"),
    )


@register(
    "doc_duplicate_spans",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    gs AS (
        SELECT doc_id, unnest(list_transform(
                   CASE WHEN len(toks) >= 13
                        THEN range(1, len(toks) - 12 + 1) ELSE [] END,
                   i -> {'pos': i - 1,
                         'gram': array_to_string(toks[i:i+12], ' ')})) AS u
        FROM d
    ),
    g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM gs),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    h AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
    marked AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                         OR pos - lag(pos) OVER w >= 13
                    THEN 1 ELSE 0 END AS is_new
        FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s AS (
        SELECT doc_id, pos,
               SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        FROM marked
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 13 AS span_end,
           COUNT(*) AS n_dup_grams
    FROM s GROUP BY doc_id, span_id
    """,
    "substring-level duplicate spans: corpus-frequent 13-grams merged into maximal per-doc [start,end) token spans (Lee et al. 2022 suffix-array pass, distributed)",
)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import duplicate_spans

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    # hashed=True: the count/join key is xxhash64(gram) — an 8-byte shuffle
    # instead of ~80-byte strings. Output spans are identical unless two
    # distinct grams collide (P ~ n^2/2^65; a collision would fail this
    # query's value-hash gate, and the raw/hashed agreement is unit-tested).
    return duplicate_spans(docs, n=13, min_copies=2, hashed=True)


@register(
    "doc_pack_sequences",
    """
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
               md5('42|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER
               (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 2048.0) AS BIGINT) AS bin_id
    FROM t
    """,
    "fixed-token-budget sequence packing in deterministic shuffle order (distributed sharded prefix-sum; oracle = naive global window)",
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import pack_sequences
    from connemara_spark.operators.text import whitespace_token_count

    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", whitespace_token_count("text").alias("n_tok")
    )
    return pack_sequences(docs, "doc_id", "n_tok", budget=2048)


@register(
    "doc_mixture_interleave",
    """
    WITH j AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                   ORDER BY md5('42|' || CAST(doc_id AS VARCHAR))) AS j
        FROM documents WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
    ),
    k AS (
        SELECT doc_id, lang,
               (2*j - 1) * CASE lang WHEN 'de' THEN 60 WHEN 'en' THEN 12
                                     WHEN 'es' THEN 30 WHEN 'fr' THEN 20
                                     WHEN 'zh' THEN 15 END AS key
        FROM j
    )
    SELECT doc_id, lang, row_number() OVER (ORDER BY key, lang) AS pos FROM k
    """,
    "deterministic mixture interleaving under the value gate "
    "(curation.mixture_interleave): ONE global training order where every "
    "prefix carries each language in proportion to its integer weight "
    "(en:5 fr:3 es:2 zh:4 de:1 — stride scheduling: doc j of source s at "
    "exact integer key (2j-1)*(lcm/w_s), ties by source name). The Spark "
    "side computes the global position CLOSED-FORM (1 + sum of per-source "
    "strictly-smaller-key counts, each a pure integer formula over the "
    "source's literal stride — no global window anywhere; within-source "
    "ranks ride the 256-shard banded prefix-sum), while the oracle is the "
    "naive double-window recompute — bit-equality proves the stride-rank "
    "algebra AND the shard machinery at once",
)
def doc_mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import mixture_interleave

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "lang")
    return mixture_interleave(
        docs, "doc_id", "lang",
        weights={"en": 5, "fr": 3, "es": 2, "zh": 4, "de": 1},
    )


@register(
    "doc_chunk_sliding",
    """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    s AS (
        SELECT doc_id, words,
               unnest(range(1, greatest(len(words), 1) + 1, 96)) AS st
        FROM w
    )
    SELECT doc_id, CAST((st - 1) / 96 + 1 AS BIGINT) AS chunk_id,
           array_to_string(words[st:st+127], ' ') AS chunk
    FROM s
    """,
    "sliding-window document chunking under the value gate "
    "(text.chunk_text, the RAG / long-context preprocessing shape): "
    "128-token windows advancing by 96 (32-token overlap), final window "
    "short, empty texts keep their one degenerate chunk so join-back "
    "accounting never loses a row; chunk boundaries are a pure function "
    "of the text (re-chunking a re-crawl is cache-stable). Plan: one "
    "posexploded start sequence + one slice/array_join per chunk — no "
    "HOF lambda references the word array, so the producer-tree "
    "substitution trap (operators/dedup.py) never arises",
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.text import chunk_text

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    return chunk_text(docs, "doc_id", "text", size=128, overlap=32)


@register(
    "doc_weighted_sample",
    """
    WITH w AS (
        SELECT doc_id, n_chars AS wc,
               md5('42|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents WHERE n_chars > 0
    ),
    ord AS (
        SELECT doc_id, wc,
               COALESCE(SUM(wc) OVER
                   (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        FROM w
    ),
    tot AS (SELECT SUM(wc) AS W FROM w),
    m AS (
        SELECT doc_id, wc,
               CAST(CASE WHEN c = 0 THEN ((200 * (c + wc) - 1) // W) + 1
                    ELSE ((200 * (c + wc) - 1) // W) - ((200 * c - 1) // W)
               END AS BIGINT) AS n_picks
        FROM ord, tot
    )
    SELECT doc_id, wc AS weight, n_picks FROM m WHERE n_picks >= 1
    """,
    "deterministic WEIGHTED sample, exactly k=200 picks: systematic (grid) "
    "sampling over the cumulative-weight line in md5 order — sample "
    "documents proportional to weight (here n_chars) with the "
    "reproducible-selection contract and INTEGER-exact grid arithmetic "
    "(the j*W/k point test multiplied through by k, so both engines "
    "evaluate identical bigint floor divisions — no float stride, no "
    "libm); heavier-than-stride documents carry their multiplicity in "
    "n_picks and sum(n_picks) == k by construction (test-pinned); "
    "distributed sharded prefix-sum, oracle = naive global window",
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import weighted_systematic_sample

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "n_chars")
    return weighted_systematic_sample(docs, "doc_id", "n_chars", k=200)


@register(
    "doc_pii_redaction",
    r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
               '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
               '[0-9]{7,}', '<NUM>', 'g') AS clean_text,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_url,
           len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ip,
           len(regexp_extract_all(text, '[0-9]{7,}')) AS n_digit_run
    FROM documents
    """,
    "PII redaction with RE2/Java-portable patterns (emails, URLs, IPv4, digit runs) + per-category counts",
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.text import redact_pii

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    return redact_pii(docs, "text").drop("text")


def _pagerank_oracle() -> str:
    """Fixed-point PageRank unrolled to 3 iterations — pure integer
    arithmetic (// floor division) so every engine agrees bit-for-bit."""
    scale = 10**12
    it = """
    i{k} AS (
        SELECT e.dst AS node, SUM(r.rank_fp // d.outdeg) AS inflow
        FROM edges e JOIN r{p} r ON e.src = r.node JOIN deg d ON e.src = d.node
        GROUP BY e.dst
    ),
    r{k} AS (
        SELECT n.node,
               (15 * (SELECT base FROM b)) // 100
                 + (85 * COALESCE(i.inflow, 0)) // 100 AS rank_fp
        FROM nodes n LEFT JOIN i{k} i ON n.node = i.node
    )"""
    iters = ",".join(it.format(k=k, p=k - 1) for k in (1, 2, 3))
    return f"""
    WITH e0 AS (
        SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src AS node_d, COUNT(*) AS outdeg FROM edges GROUP BY src),
    b AS (SELECT {scale} // COUNT(*) AS base FROM nodes),
    r0 AS (SELECT node, (SELECT base FROM b) AS rank_fp FROM nodes),
    {iters}
    SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
           node // 2 AS key, CAST(rank_fp AS BIGINT) AS rank_fp
    FROM r3
    """.replace("JOIN deg d ON e.src = d.node", "JOIN deg d ON e.src = d.node_d")


@register(
    "graph_pagerank_orders",
    _pagerank_oracle(),
    "fixed-point PageRank (3 iterations, damping 0.85) over the undirected "
    "supplier-customer order graph — BIGINT ranks at scale 1e12, all-integer "
    "update rule (div floor division) so results are bit-identical across engines, "
    "partitionings, and retries; per iteration: one ranks-edges join + one "
    "aggregation shuffle on the 8-byte node key, localCheckpoint lineage truncation",
)
def graph_pagerank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.graph import pagerank_fixed_point

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("o_custkey") * 2 + 1).alias("dst"),
    )
    r = pagerank_fixed_point(edges, iterations=3)
    return r.select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("kind"),
        F.expr("node div 2").alias("key"),
        "rank_fp",
    )


@register(
    "dq_referential_report",
    """
    SELECT 'orphan_fk' AS check_name, 'lineitem' AS table_name,
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
           (SELECT COUNT(*) FROM lineitem) AS n_total
    UNION ALL
    SELECT 'orphan_fk', 'orders',
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'dup_pk', 'customer',
           (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer),
           (SELECT COUNT(*) FROM customer)
    UNION ALL
    SELECT 'dup_pk', 'lineitem',
           (SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'null_rate', 'customer',
           (SELECT COUNT(*) - COUNT(c_nationkey) FROM customer),
           (SELECT COUNT(*) FROM customer)
    UNION ALL
    SELECT 'null_rate', 'orders',
           (SELECT COUNT(*) - COUNT(o_orderdate) FROM orders),
           (SELECT COUNT(*) FROM orders)
    """,
    "data-quality report over the consolidated store: FK orphans (left-anti "
    "probes), duplicate-PK counts, null rates — the relational-level drift "
    "checks a CDC consolidation target runs continuously (the J4 assertion "
    "generalized from per-batch to whole-store); all aggregates map-side "
    "partial, anti-joins broadcast the smaller side",
)
def dq_referential_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")

    # ONE aggregation job per table fuses count + dup-PK + null-rate (each
    # table scanned once), plus the two anti-join probes — 5 jobs total,
    # result assembled driver-side (6 tuples)
    li_stats = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct("l_orderkey", "l_linenumber")).alias("nd"),
    ).collect()[0]
    c_stats = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("c_custkey").alias("nd"),
        F.count("c_nationkey").alias("nn"),
    ).collect()[0]
    o_stats = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderdate").alias("nn"),
    ).collect()[0]
    orphan_li = li.join(
        orders.select("o_orderkey"), li["l_orderkey"] == F.col("o_orderkey"), "left_anti"
    ).count()
    orphan_o = orders.join(
        cust.select("c_custkey"), orders["o_custkey"] == F.col("c_custkey"), "left_anti"
    ).count()
    rows = [
        ("orphan_fk", "lineitem", orphan_li, li_stats["n"]),
        ("orphan_fk", "orders", orphan_o, o_stats["n"]),
        ("dup_pk", "customer", c_stats["n"] - c_stats["nd"], c_stats["n"]),
        ("dup_pk", "lineitem", li_stats["n"] - li_stats["nd"], li_stats["n"]),
        ("null_rate", "customer", c_stats["n"] - c_stats["nn"], c_stats["n"]),
        ("null_rate", "orders", o_stats["n"] - o_stats["nn"], o_stats["n"]),
    ]
    return spark.createDataFrame(
        rows, "check_name string, table_name string, n_violations long, n_total long"
    )


_PROFILE_COLS = [
    ("o_orderkey", "long"),
    ("o_custkey", "long"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "string"),
]


def _profile_oracle() -> str:
    parts = []
    for c, t in _PROFILE_COLS:
        mn, mx = f"MIN({c})", f"MAX({c})"
        if t == "double":
            # grid-exact render (see _dec): a bare double->DECIMAL cast
            # diverges cross-engine on near-tie shortest reprs
            mn = _dec_sql(f"MIN({c})", "DECIMAL(18,2)")
            mx = _dec_sql(f"MAX({c})", "DECIMAL(18,2)")
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
            f"COUNT(*) - COUNT({c}) AS n_nulls, "
            f"COUNT(DISTINCT {c}) AS n_distinct, "
            f"CAST({mn} AS VARCHAR) AS min_str, "
            f"CAST({mx} AS VARCHAR) AS max_str FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "table_profile_orders",
    _profile_oracle(),
    "one-pass column profiler (the ANALYZE/data-quality primitive): per orders "
    "column — row count, null count, EXACT distinct count, type-aware rendered "
    "min/max — computed in ONE aggregation over one scan (the multi-distinct "
    "expands the input x(cols+1) inside a single shuffle; at 100 TB swap "
    "count_distinct for approx_count_distinct (HLL, zero expand) — the sketch "
    "path's cross-engine parity is demonstrated by corpus_hll_distinct); "
    "doubles render through DECIMAL(18,2) so min/max strings agree cross-engine",
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One aggregation PER COLUMN, unioned — not one agg with six
    # count_distinct's: multiple distinct aggregates make Catalyst plan an
    # Expand (x7 row multiplication: 150k -> 1.05M wide rows here) feeding
    # SortAggregates with two full Sorts (plan-verified; 4.9s warm at
    # sf0.1). A single-distinct aggregate per branch plans as two-level
    # hash aggregation with NO Expand and NO Sort, and each branch's scan
    # prunes to its one column (ReadSchema = the profiled column only).
    # Same aggregates, same values, same rows — only the plan shape
    # changes (guide §1.2 step 1 / §7.2). At 100 TB the win compounds:
    # the expand multiplies the full table width by the number of
    # profiled columns, the union scans one column chunk per branch.
    df = load(spark, sf_dir, "orders")
    from connemara_spark.functions.money import grid_dec

    parts = []
    for c, t in _PROFILE_COLS:
        one = df.select(c).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.count_distinct(F.col(c)).alias("n_distinct"),
            F.min(F.col(c)).alias("__min"),  # typed min/max, rendered below
            F.max(F.col(c)).alias("__max"),
        )
        mn, mx = F.col("__min"), F.col("__max")
        if t == "double":
            mn, mx = grid_dec(mn, "decimal(18,2)"), grid_dec(mx, "decimal(18,2)")
        parts.append(
            one.select(
                F.lit(c).alias("col_name"),
                "n_rows",
                "n_nulls",
                "n_distinct",
                mn.cast("string").alias("min_str"),
                mx.cast("string").alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "lineitem_price_quantiles_exact",
    """
    WITH r AS (
        SELECT l_returnflag, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT l_returnflag,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN l_extendedprice END) AS p50,
           MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN l_extendedprice END) AS p90,
           MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN l_extendedprice END) AS p99
    FROM r GROUP BY l_returnflag
    """,
    "EXACT grouped quantiles (p50/p90/p99 of extended price per return flag) by "
    "rank selection — the value at position ceil(q*n) of the group's multiset "
    "order, deterministic under ties; one per-group sort shuffle (for few huge "
    "groups use the banded prefix-sum distributed_ntile instead — documented "
    "tradeoff); DECIMAL-exact, no float gating hazard",
)
def lineitem_price_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag", "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    def pick(q):
        return F.max(
            F.when(F.col("rn") == F.ceil(q * F.col("n")).cast("long"), F.col("l_extendedprice"))
        )
    return r.groupBy("l_returnflag").agg(
        pick(0.5).alias("p50"), pick(0.9).alias("p90"), pick(0.99).alias("p99")
    )


@register(
    "events_ema_fixed_point",
    """
    WITH x AS (
        SELECT user_id, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1048576) AS BIGINT) AS xf
        FROM events
    ),
    folded AS (
        SELECT user_id, COUNT(*) AS n_events,
               list_reduce(list(xf ORDER BY event_id), (acc, v) -> (acc * 7 + v) // 8) AS ema_fp
        FROM x GROUP BY user_id
    )
    SELECT user_id, n_events, CAST(ema_fp AS BIGINT) AS ema_fp FROM folded
    """,
    "per-user exponential moving average (alpha=1/8) in fixed-point integer "
    "arithmetic — ema' = (7*ema + x) div 8 over events in event_id order, seeded "
    "with the first value: bit-identical across engines/partitionings (float EMA "
    "is order-sensitive); one per-key sorted fold, same bounded-array shape as "
    "the CDC apply fold",
)
def events_ema_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load(spark, sf_dir, "events"))
    xf = F.floor(F.col("value").cast("double") * 1048576).cast("long")
    per = (
        ev.select("user_id", F.struct(F.col("event_id").alias("event_id"), xf.alias("xf")).alias("e"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("e")).alias("es"))
    )

    # truncate-toward-zero division by 8, as both engines' integer `//`/div:
    # y % 8 carries y's sign in BOTH engines, so (y - y%8)/8 is the
    # truncated quotient; the double division is exact (|y| << 2^53, result
    # integral)
    def fold(acc, e):
        y = acc * 7 + e["xf"]
        return ((y - y % 8) / 8).cast("long")

    # seed with the first element, fold the rest (mirrors DuckDB list_reduce)
    return per.select(
        "user_id",
        F.size("es").cast("long").alias("n_events"),
        F.aggregate(
            F.slice(F.col("es"), 2, F.size("es")),
            F.element_at(F.col("es"), 1)["xf"],
            fold,
        ).alias("ema_fp"),
    )


def _hll_oracle(*, p: int = 9) -> str:
    """HyperLogLog with an md5-derived 60-bit hash and FIXED-POINT register
    summation: the harmonic-mean term Z = sum(2^-M_j) is accumulated as the
    exact integer sum(2^(52-M_j)) (max 512*2^52 = 2^61, no overflow), so
    the sketch state AND the estimate are order- and engine-independent —
    only one final double division. Flajolet et al. 2007 constants."""
    m = 1 << p
    return f"""
    WITH vals AS (
        SELECT DISTINCT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)
               || '|' || CAST(l_suppkey AS VARCHAR) AS v
        FROM lineitem
    ),
    h AS (SELECT CAST(concat('0x', substr(md5(v), 1, 15)) AS BIGINT) AS hv, v FROM vals),
    rr AS (
        SELECT hv % {m} AS register,
               CASE WHEN hv // {m} = 0 THEN 52
                    ELSE 52 - length(bin(hv // {m})) END AS rho
        FROM h
    ),
    regs AS (SELECT register, MAX(rho) AS rho, COUNT(*) AS nv FROM rr GROUP BY register),
    state AS (
        SELECT COUNT(*) AS n_occ,
               CAST(SUM(nv) AS BIGINT) AS n_exact,
               CAST(SUM(CAST(1 AS BIGINT) << (52 - rho)) AS BIGINT) AS z_occ,
               CAST(SUM(rho) AS BIGINT) AS register_checksum
        FROM regs
    ),
    summary AS (
        SELECT n_exact,
               CAST(n_occ AS BIGINT) AS nonzero_registers,
               CAST(z_occ + ({m} - n_occ) * CAST(4503599627370496 AS BIGINT) AS BIGINT) AS z_fp,
               register_checksum
        FROM state
    )
    SELECT n_exact, nonzero_registers, z_fp, register_checksum,
           ROUND((0.7213 / (1.0 + 1.079 / {m}.0)) * {m}.0 * {m}.0
                 * 4503599627370496.0 / z_fp, 4) AS hll_estimate
    FROM summary
    """


@register(
    "corpus_hll_distinct",
    _hll_oracle(),
    "HyperLogLog distinct-count sketch (p=9, 512 registers) over lineitem "
    "(orderkey,partkey,suppkey) triples — md5-derived 60-bit hash so both engines "
    "bucket identically, and the harmonic mean accumulates as an exact integer "
    "(sum 2^(52-rho), max 2^61) so the sketch state and estimate are order- and "
    "partitioning-independent; one map-side-combined MAX-per-register shuffle of "
    "512 rows — the mergeable-at-any-fan-in shape that survives 100 TB",
)
def corpus_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = 9
    m = 1 << p
    li = load(spark, sf_dir, "lineitem")
    vals = li.select(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_partkey").cast("string"),
            F.col("l_suppkey").cast("string"),
        ).alias("v")
    ).distinct()
    h = vals.select("v", F.conv(F.substring(F.md5("v"), 1, 15), 16, 10).cast("long").alias("hv"))
    w = F.expr(f"hv div {m}")
    rr = h.select(
        (F.col("hv") % m).alias("register"),
        F.when(w == 0, F.lit(52)).otherwise(F.lit(52) - F.length(F.bin(w))).alias("rho"),
    )
    # per-register value counts ride the SAME shuffle, so the exact
    # distinct count needs no second scan of the (dominant) input subtree
    regs = rr.groupBy("register").agg(
        F.max("rho").alias("rho"), F.count(F.lit(1)).alias("nv")
    )
    state = regs.agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.sum("nv").alias("n_exact"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(52 - rho as int))")).alias("z_occ"),
        F.sum("rho").alias("register_checksum"),
    )
    two52 = 4503599627370496
    alpha_num = 0.7213 / (1.0 + 1.079 / float(m))
    return state.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_occ").cast("long").alias("nonzero_registers"),
        (F.col("z_occ") + (F.lit(m) - F.col("n_occ")) * F.lit(two52)).cast("long").alias("z_fp"),
        F.col("register_checksum").cast("long").alias("register_checksum"),
    ).select(
        "n_exact", "nonzero_registers", "z_fp", "register_checksum",
        F.round(
            F.lit(alpha_num) * float(m) * float(m) * F.lit(float(two52)) / F.col("z_fp"), 4
        ).alias("hll_estimate"),
    )


def _hll_sliding_oracle(*, p: int = 7, span: int = 7) -> str:
    """Sliding-window distinct counts from MERGED daily HLL sketches — the
    mergeability property under the gate: register MAX is the sketch union,
    so a 7-day window never rescans raw data, it folds 7 tiny register
    sets. Same md5-60bit hash + integer-exact Z as ``corpus_hll_distinct``."""
    m = 1 << p
    return f"""
    WITH ev AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d_idx,
               user_id
        FROM events
    ),
    h AS (
        SELECT DISTINCT d_idx,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        FROM ev
    ),
    daily AS (
        SELECT d_idx, hv % {m} AS register,
               MAX(CASE WHEN hv // {m} = 0 THEN 52
                        ELSE 52 - length(bin(hv // {m})) END) AS rho
        FROM h GROUP BY d_idx, hv % {m}
    ),
    wins AS (SELECT DISTINCT d_idx AS w_end FROM daily),
    merged AS (
        SELECT w.w_end, s.register, MAX(s.rho) AS rho,
               COUNT(DISTINCT s.d_idx) AS nd
        FROM wins w JOIN daily s
          ON s.d_idx BETWEEN w.w_end - {span - 1} AND w.w_end
        GROUP BY w.w_end, s.register
    ),
    state AS (
        SELECT w_end,
               CAST(MAX(nd) AS BIGINT) AS n_days,
               COUNT(*) AS n_occ,
               CAST(SUM(CAST(1 AS BIGINT) << (52 - rho)) AS BIGINT) AS z_occ,
               CAST(SUM(rho) AS BIGINT) AS register_checksum
        FROM merged GROUP BY w_end
    )
    SELECT w_end, n_days,
           CAST(z_occ + ({m} - n_occ) * CAST(4503599627370496 AS BIGINT) AS BIGINT) AS z_fp,
           register_checksum,
           ROUND((0.7213 / (1.0 + 1.079 / {m}.0)) * {m}.0 * {m}.0
                 * 4503599627370496.0
                 / (z_occ + ({m} - n_occ) * CAST(4503599627370496 AS BIGINT)), 4)
             AS hll_estimate
    FROM state
    """


@register(
    "events_hll_sliding_users",
    _hll_sliding_oracle(),
    "sliding 7-day distinct-user counts from MERGED daily HyperLogLog sketches "
    "(p=7): the mergeability that matters at 100 TB — each window folds 7 "
    "128-row register sets by MAX instead of rescanning raw events; daily "
    "sketch build is one keyed shuffle, the window merge joins tiny register "
    "tables only; estimate integer-exact as in corpus_hll_distinct",
)
def events_hll_sliding_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    p, span = 7, 7
    m = 1 << p
    ev = spread(load(spark, sf_dir, "events")).select(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d_idx"),
        "user_id",
    )
    h = ev.select(
        "d_idx",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    w_ = F.expr(f"hv div {m}")
    daily = (
        h.select(
            "d_idx",
            (F.col("hv") % m).alias("register"),
            F.when(w_ == 0, F.lit(52)).otherwise(F.lit(52) - F.length(F.bin(w_))).alias("rho"),
        )
        .groupBy("d_idx", "register")
        .agg(F.max("rho").alias("rho"))
    )
    wins = daily.select(F.col("d_idx").alias("w_end")).distinct()
    merged = (
        wins.join(
            daily,
            (F.col("d_idx") >= F.col("w_end") - (span - 1)) & (F.col("d_idx") <= F.col("w_end")),
        )
        .groupBy("w_end", "register")
        .agg(F.max("rho").alias("rho"), F.countDistinct("d_idx").alias("nd"))
    )
    state = merged.groupBy("w_end").agg(
        F.max("nd").cast("long").alias("n_days"),
        F.count(F.lit(1)).alias("n_occ"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(52 - rho as int))")).alias("z_occ"),
        F.sum("rho").cast("long").alias("register_checksum"),
    )
    two52 = 4503599627370496
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    z_fp = F.col("z_occ") + (F.lit(m) - F.col("n_occ")) * F.lit(two52)
    return state.select(
        "w_end", "n_days",
        z_fp.cast("long").alias("z_fp"),
        "register_checksum",
        F.round(
            F.lit(alpha) * float(m) * float(m) * F.lit(float(two52)) / z_fp.cast("long"), 4
        ).alias("hll_estimate"),
    )


def _triangle_oracle() -> str:
    """Exact triangle counting in SQL: same degree-ordered orientation as
    the Spark plan — each triangle materializes exactly one wedge at its
    lowest-(deg,id) apex."""
    return """
    WITH os AS (
        SELECT DISTINCT o_orderkey AS ok, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    e AS (
        SELECT a.s AS u, b.s AS v
        FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s
        GROUP BY a.s, b.s HAVING COUNT(*) >= 5
    ),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM und GROUP BY u),
    ori AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dst_d
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
        SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
        FROM ori w1 JOIN ori w2
          ON w1.src = w2.src AND (w1.dst_d, w1.dst) < (w2.dst_d, w2.dst)
        JOIN ori e3 ON e3.src = w1.dst AND e3.dst = w2.dst
    ),
    pernode AS (
        SELECT node, COUNT(*) AS n_triangles FROM (
            SELECT a AS node FROM tri UNION ALL
            SELECT b FROM tri UNION ALL SELECT c FROM tri) t
        GROUP BY node
    )
    SELECT node, n_triangles, rk FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_triangles DESC, node) AS rk
        FROM pernode) s
    WHERE rk <= 20
    """


@register(
    "graph_triangle_count",
    _triangle_oracle(),
    "exact distributed triangle counting over the supplier co-supply graph "
    "(suppliers sharing >=5 orders - the weight floor keeps the graph sparse): "
    "degree-ordered edge orientation, so each "
    "triangle is one wedge at its lowest-(degree,id) apex and wedge work is "
    "bounded by sum(out-degree choose 2) — the standard O(m^1.5) bound, never "
    "all-pairs; per-node counts, top 20",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    os_ = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_orderkey").alias("ok"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a, b_ = os_.alias("a"), os_.alias("b")
    # co-supply STRENGTH >= 5 keeps the graph sparse: without the weight
    # threshold the supplier graph saturates toward complete as orders
    # accumulate, and wedge work degenerates toward all-pairs
    # pinned: the co-supply self-join is the heaviest subtree and is
    # referenced THREE times below (both halves of `und`, then the
    # orientation join) — uncheckpointed it would be re-inlined and
    # re-executed at each reference
    e = (
        a.join(b_, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 5)
        .select("u", "v")
        .localCheckpoint()
    )
    und = e.select("u", "v").unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed("u", "node")
    # BROADCAST the degree table into the orientation: it is two longs per
    # node with an edge (bounded by the supplier table, orders of magnitude
    # smaller than the edge list), and broadcasting both attachment joins
    # removes four shuffle exchanges of the edge list from every run. At a
    # node scale where |V| outgrows broadcast (~10M+), drop the hint and
    # these become ordinary shuffle joins — the algorithm is unchanged.
    du, dv = F.broadcast(deg).alias("du"), F.broadcast(deg).alias("dv")
    ej = e.join(du, F.col("u") == F.col("du.node")).join(dv, F.col("v") == F.col("dv.node"))
    u_first = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    ori = ej.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv.d")).otherwise(F.col("du.d")).alias("dst_d"),
    ).localCheckpoint()  # referenced 3x in the wedge+closure joins
    w1, w2, e3 = ori.alias("w1"), ori.alias("w2"), ori.alias("e3")
    lower = (F.col("w1.dst_d") < F.col("w2.dst_d")) | (
        (F.col("w1.dst_d") == F.col("w2.dst_d")) & (F.col("w1.dst") < F.col("w2.dst"))
    )
    tri = (
        w1.join(w2, (F.col("w1.src") == F.col("w2.src")) & lower)
        .join(e3, (F.col("e3.src") == F.col("w1.dst")) & (F.col("e3.dst") == F.col("w2.dst")))
        .select(F.col("w1.src").alias("a"), F.col("w1.dst").alias("b"), F.col("w2.dst").alias("c"))
    )
    # ONE pass over the wedge-closure join: explode(array(a,b,c)) credits
    # all three corners from a single tri subtree. The previous three-way
    # UNION inlined the whole wedge+closure join once per corner, and the
    # rank self-join below doubled that again — SIX copies of the two
    # heaviest joins in one plan (27 exchanges; 9 after this change).
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    # distributed top-k first; pin the 20 survivors so the k^2 rank
    # self-join reads 20 rows instead of re-running the triangle plan twice
    top = (
        pernode.orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
        .localCheckpoint()
    )
    return _ranked_topk(top, "n_triangles", "node").select("node", "n_triangles", "rk")


def _mojibake_oracle() -> str:
    from connemara_spark.operators.text import mojibake_sql_chain

    good = " — ‘café’… naïve «déjà vu» 10€"
    bad = good.encode("utf-8").decode("cp1252").replace("'", "''")
    markers = " + ".join(
        f"(length(t) - length(replace(t, '{m}', '')))" for m in ("Ã", "â", "Â")
    )
    fixed_markers = " + ".join(
        f"(length(f) - length(replace(f, '{m}', '')))" for m in ("Ã", "â", "Â")
    )
    return f"""
    WITH c AS (SELECT doc_id, text || '{bad}' AS t FROM documents),
    r AS (SELECT doc_id, t, {mojibake_sql_chain('t')} AS f FROM c)
    SELECT doc_id,
           CAST({markers} AS BIGINT) AS n_markers,
           md5(f) AS fixed_digest,
           CAST({fixed_markers} AS BIGINT) AS residual_markers
    FROM r
    """


@register(
    "doc_mojibake_repair",
    _mojibake_oracle(),
    "ftfy-class encoding repair: UTF-8-as-CP1252 mojibake detected by misdecode lead "
    "chars and repaired by a GENERATED native replace-chain (bad = good.encode('utf-8')"
    ".decode('cp1252') for each target char, unmapped CP1252 codes auto-skipped); a "
    "deterministic corrupted suffix is injected per doc and the oracle runs the "
    "IDENTICAL chain, gating repaired-text digests bit-for-bit",
)
def doc_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.text import mojibake_marker_count, repair_mojibake

    good = " — ‘café’… naïve «déjà vu» 10€"
    bad = good.encode("utf-8").decode("cp1252")
    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.concat(F.col("text"), F.lit(bad)).alias("t")
    )
    return docs.select(
        "doc_id",
        mojibake_marker_count("t").cast("bigint").alias("n_markers"),
        F.md5(repair_mojibake("t")).alias("fixed_digest"),
        mojibake_marker_count(repair_mojibake("t")).cast("bigint").alias("residual_markers"),
    )


def _compression_oracle(sf_dir: str) -> str:
    """Cross-implementation oracle: a Spark-free pyarrow+zlib pass renders
    per-doc compressed sizes as literals (same CPython zlib as the
    executors — same-library by construction on this harness)."""
    import zlib

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    rows = []
    for did, txt in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        raw = (txt or "").encode("utf-8")
        rows.append(f"({did},{len(raw)},{len(zlib.compress(raw, 6))})")
    vals = ",".join(rows)
    return f"""
    SELECT doc_id,
           CAST(n_raw AS BIGINT) AS n_raw,
           CAST(n_zlib AS BIGINT) AS n_zlib,
           CASE WHEN n_raw = 0 THEN 0.0
                ELSE CAST(n_zlib AS DOUBLE) / n_raw END AS compress_ratio
    FROM (VALUES {vals}) t(doc_id, n_raw, n_zlib)
    """


@register(
    "doc_compression_ratio",
    None,
    "zlib-compressibility quality signal (boilerplate compresses far below prose, "
    "noise barely compresses — gate both tails); Arrow-batched python stage with a "
    "cross-implementation oracle: a Spark-free pyarrow+zlib pass renders expected "
    "sizes as SQL literals, value-hash-gated bit-for-bit",
    oracle_fn=_compression_oracle,
)
def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.text import compression_features

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    return compression_features(docs, n_partitions=32)


@register(
    "doc_repetition_filters",
    """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    tc AS (
        SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS twf
        FROM (SELECT doc_id, w, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(ws) AS w FROM w) GROUP BY doc_id, w)
        GROUP BY doc_id
    ),
    g AS (
        SELECT w.doc_id, len(ws) AS n_words,
               ROUND(CASE WHEN len(ws) >= 2 THEN
                   CAST(len(ws) - 1 - len(list_distinct(list_transform(
                       range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' ')))) AS DOUBLE)
                   / (len(ws) - 1) ELSE 0.0 END, 6) AS dup_2gram_frac,
               ROUND(CASE WHEN len(ws) >= 3 THEN
                   CAST(len(ws) - 2 - len(list_distinct(list_transform(
                       range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' ')))) AS DOUBLE)
                   / (len(ws) - 2) ELSE 0.0 END, 6) AS dup_3gram_frac,
               ROUND(COALESCE(twf, 0.0), 6) AS top_word_frac
        FROM w LEFT JOIN tc USING (doc_id)
    )
    SELECT doc_id, n_words, dup_2gram_frac, dup_3gram_frac, top_word_frac,
           (top_word_frac > 0.20 OR dup_2gram_frac > 0.35) AS repetition_flag
    FROM g
    """,
    "Gopher-style repetition quality filters (top-word fraction, duplicate n-gram fractions)",
)
def doc_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.text import repetition_features

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    return repetition_features(docs, "doc_id", "text").select(
        "doc_id", "n_words", "dup_2gram_frac", "dup_3gram_frac",
        "top_word_frac", "repetition_flag",
    )


# ---------------------------------------------------------------------------
# Relational breadth: semi/anti joins, conditional aggregation, disjunctive
# pushdown, scalar-subquery filters — the SELECT-side operator vocabulary a
# consolidated BI target gets queried with (the reference's raison d'être,
# docs/index.rst:9-12).
# ---------------------------------------------------------------------------


@register(
    "q4_late_shipment_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
    "EXISTS semi-join + grouped count (TPC-H q4 shape)",
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    late = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q14_promo_revenue",
    """
    SELECT 100.00 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))
                 ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE)
           AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
    "conditional-aggregation ratio over a broadcast dimension join (TPC-H q14 shape)",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.00)
                * F.sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0))).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_volume_orders",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) > 100
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    "IN-subquery on a grouped HAVING + 3-way join (TPC-H q18 shape)",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 100)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(li.select("l_orderkey", "l_quantity"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 20 AND l_quantity <= 50)
    """,
    "OR-of-ANDs disjunctive predicate over a dimension join (TPC-H q19 shape)",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 30))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & q.between(10, 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & q.between(20, 50))
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE)))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q22_dormant_rich_customers",
    """
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT AVG(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) FROM customer WHERE c_acctbal > 0
    )
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
    "scalar-subquery threshold + anti join (TPC-H q22 shape)",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg(_dec("c_acctbal")).alias("avg_bal"))
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(_dec("c_acctbal") > F.col("avg_bal"))
        .join(orders.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "asof_latest_order_per_event",
    f"""
    {EVENTS_CTE},
    ord AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    )
    SELECT event_id, user_id, ts, o_orderkey, o_orderdate, o_totalprice
    FROM ev ASOF LEFT JOIN ord
      ON ev.user_id = ord.o_custkey AND ev.ts >= ord.o_orderdate
    """,
    "backward as-of join (union+window re-expression, one shuffle)",
)
def asof_latest_order_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.apply import latest_wins
    from connemara_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # deterministic right side: one order per (custkey, orderdate), max key
    ord_ = latest_wins(
        load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
        ["o_custkey", "o_orderdate"],
        ["o_orderkey"],
    ).withColumnRenamed("o_custkey", "user_id")
    return asof_join(
        ev, ord_, on="user_id", left_ts="ts", right_ts="o_orderdate", how="left"
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "asof_next_order_per_event",
    f"""
    {EVENTS_CTE},
    ord AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    )
    SELECT event_id, user_id, ts, o_orderkey, o_orderdate, o_totalprice
    FROM ev ASOF LEFT JOIN ord
      ON ev.user_id = ord.o_custkey AND ev.ts <= ord.o_orderdate
    """,
    "FORWARD as-of join (earliest order at-or-after each event) — the mirror-image "
    "union+window re-expression, still one shuffle; oracle is DuckDB ASOF with the "
    "<= inequality",
)
def asof_next_order_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.apply import latest_wins
    from connemara_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ord_ = latest_wins(
        load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
        ["o_custkey", "o_orderdate"],
        ["o_orderkey"],
    ).withColumnRenamed("o_custkey", "user_id")
    return asof_join(
        ev, ord_, on="user_id", left_ts="ts", right_ts="o_orderdate",
        how="left", direction="forward",
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "events_funnel_transitions",
    f"""
    {EVENTS_CTE}
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions,
           CAST(AVG(epoch(ts) - epoch(prev_ts)) AS DOUBLE) AS avg_gap_seconds
    FROM (
        SELECT user_id, ts, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM ev
    )
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
    "funnel transition matrix via lag() window navigation",
)
def events_funnel_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("prev_type").isNotNull())
    return stepped.groupBy(F.col("prev_type"), F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.avg(extract_epoch("ts") - extract_epoch("prev_ts"))
        .cast("double")
        .alias("avg_gap_seconds"),
    )


@register(
    "q2_cheapest_supplier_per_part",
    """
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
    FROM (
        SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
               ROW_NUMBER() OVER (PARTITION BY p.p_partkey
                                  ORDER BY s.s_acctbal, s.s_suppkey) AS rn
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ) WHERE rn = 1
    """,
    "per-group argmin over a join (TPC-H q2 shape): cheapest known supplier per part",
)
def q2_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    part = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").dropDuplicates()
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    w = Window.partitionBy("p_partkey").orderBy("s_acctbal", "s_suppkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
    )


@register(
    "events_range_join_pairs",
    f"""
    {EVENTS_CTE}
    SELECT a.user_id AS user_id,
           a.event_id AS id_a, b.event_id AS id_b,
           a.ts AS ts_a, b.ts AS ts_b,
           ROUND(abs(epoch(a.ts) - epoch(b.ts)), 6) AS gap_seconds
    FROM ev a JOIN ev b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND abs(epoch(a.ts) - epoch(b.ts)) <= 300
    """,
    "range (interval) self-join via time-bucket blocking — hash join on (key, bucket), never a cartesian",
)
def events_range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.rangejoin import range_self_join

    ev = spread(load(spark, sf_dir, "events")).select("event_id", "user_id", "ts")
    return range_self_join(
        ev, key_cols=["user_id"], ts_col="ts", max_gap_seconds=300, id_col="event_id"
    )


@register(
    "events_rollup_cube",
    f"""
    {EVENTS_CTE}
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(value) AS DOUBLE) AS total_value
    FROM ev
    GROUP BY ROLLUP (event_type, CAST(date_trunc('day', ts) AS TIMESTAMP))
    """,
    "multi-level ROLLUP aggregation (grouping sets). Day key is a TIMESTAMP "
    "on both sides (the events_daily_rollup convention): Spark DateType maps "
    "to pandas object-of-date while DuckDB DATE maps to datetime64, so a "
    "DATE-typed key hash-mismatches in the driver's canonicalizer even when "
    "values agree",
)
def events_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.date_trunc("day", F.col("ts")).alias("day"), "value")
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("double").alias("total_value"),
        )
    )


@register(
    "embedding_ann_ivf",
    None,  # approximate by construction — rows-only driver check
    "IVF approximate nearest neighbors: nearest-cell inverted lists + n_probe cell search",
)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import ivf_topk

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return ivf_topk(emb, "vec_id", "embedding", k=10, n_cells=16, n_probe=2)


def _split_oracle() -> str:
    from connemara_spark.operators.curation import fraction_threshold_hex

    t_train = fraction_threshold_hex(0.8)
    t_val = fraction_threshold_hex(0.9)
    return f"""
    SELECT doc_id,
           CASE WHEN substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{t_train}' THEN 'train'
                WHEN substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{t_val}' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """


@register(
    "dataset_split_md5",
    _split_oracle(),
    "deterministic hash-bucketed train/val/test assignment (md5 family twin; xxhash64 is the scale path)",
)
def dataset_split_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import dataset_split

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return dataset_split(docs, "doc_id", family="md5")


def _sample_oracle() -> str:
    from connemara_spark.operators.curation import fraction_threshold_hex

    t = fraction_threshold_hex(0.1)
    return f"""
    SELECT doc_id, n_chars
    FROM documents
    WHERE substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{t}'
    """


@register(
    "doc_hash_sample_md5",
    _sample_oracle(),
    "deterministic 10% corpus sample keyed on doc_id (reproducible across runs/engines, unlike rand())",
)
def doc_hash_sample_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import hash_sample

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "n_chars")
    return hash_sample(docs, "doc_id", 0.1, family="md5")


_NGRAM_PAIRS_CTES = """
    d AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS shs
        FROM documents
    ),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM d),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    p AS (
        SELECT id_a, id_b
        FROM inter JOIN d da ON da.doc_id = id_a JOIN d db ON db.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / (len(da.shs) + len(db.shs) - n_inter) >= 0.5
    )
"""


@register(
    "neardup_clusters_ngram",
    f"""
    WITH RECURSIVE {_NGRAM_PAIRS_CTES},
    edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
    reach AS (
        SELECT a AS src, a AS dst FROM edges
        UNION
        SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    """,
    "connected components over near-dup pairs (Pregel-style min-label propagation; oracle = recursive-CTE transitive closure)",
)
def neardup_clusters_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import neardup_clusters
    from connemara_spark.operators.dedup import ngram_jaccard_pairs

    docs = spread(load(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.5)
    return neardup_clusters(pairs)


@register(
    "multimodal_bmp_decode",
    """
    WITH dims AS (
        SELECT doc_id, CAST(3 + doc_id % 5 AS INT) AS w, CAST(2 + doc_id % 4 AS INT) AS h
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.w, d.h,
               ((d.doc_id * 31 + ys.y * 7 + xs.x * 3 + cs.c * 11) % 256) AS v
        FROM dims d, range(0, 6) ys(y), range(0, 8) xs(x), range(0, 3) cs(c)
        WHERE ys.y < d.h AND xs.x < d.w
    )
    SELECT doc_id AS media_id, w AS width, h AS height,
           CAST(54 + ((w * 3 + 3) // 4 * 4) * h AS INT) AS n_bytes,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_byte,
           CAST(SUM(v) % 2147483648 AS BIGINT) AS checksum
    FROM px
    GROUP BY doc_id, w, h
    """,
    "REAL pure-python BMP decode (stride-aware pixel walk) over Arrow-batched mapInPandas; oracle recomputes decoded stats in closed form",
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import bmp_fixture, decode_images

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return decode_images(bmp_fixture(docs), codec="bmp")


@register(
    "multimodal_wav_decode",
    """
    WITH dims AS (
        SELECT doc_id, CAST(50 + doc_id % 30 AS INT) AS n FROM documents
    ),
    smp AS (
        SELECT d.doc_id, d.n,
               (((d.doc_id * 13 + ts.i * 7) % 2048) - 1024) AS s
        FROM dims d, range(0, 80) ts(i)
        WHERE ts.i < d.n
    )
    SELECT doc_id AS media_id,
           8000 AS sample_rate,
           1 AS channels,
           n AS n_samples,
           CAST(n * 1000 // 8000 AS INT) AS duration_ms,
           CAST(SUM(ABS(s)) AS DOUBLE) / COUNT(*) AS mean_abs,
           CAST(SUM(s) AS BIGINT) AS checksum
    FROM smp
    GROUP BY doc_id, n
    """,
    "REAL pure-python RIFF/WAVE PCM-16 decode (chunk iteration) over Arrow-batched mapInPandas; oracle recomputes decoded stats in closed form",
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import decode_audio, wav_fixture

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return decode_audio(wav_fixture(docs), codec="wav")


@register(
    "multimodal_bmp_resize",
    """
    WITH dims AS (
        SELECT doc_id, CAST(3 + doc_id % 5 AS INT) AS w, CAST(2 + doc_id % 4 AS INT) AS h
        FROM documents
    ),
    px AS (
        SELECT d.doc_id,
               ((d.doc_id * 31 + ((ys.y * d.h) // 4) * 7
                 + ((xs.x * d.w) // 4) * 3 + cs.c * 11) % 256) AS v
        FROM dims d, range(0, 4) ys(y), range(0, 4) xs(x), range(0, 3) cs(c)
    )
    SELECT doc_id AS media_id, CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
           CAST(102 AS INT) AS n_bytes,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_byte,
           CAST(SUM(v) % 2147483648 AS BIGINT) AS checksum
    FROM px
    GROUP BY doc_id
    """,
    "REAL BMP nearest-neighbor resize (decode -> NN sample -> re-encode) then decode-stats; oracle composes the NN index map in closed form",
)
def multimodal_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import bmp_fixture, decode_images, resize_images

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    resized = resize_images(bmp_fixture(docs), width=4, height=4, codec="bmp")
    # n_partitions: skip the byte-count pass — it would re-materialize the
    # fixture→resize python chain just to size partitions
    return decode_images(resized, codec="bmp", n_partitions=32)


@register(
    "multimodal_png_decode",
    """
    WITH dims AS (
        SELECT doc_id, CAST(3 + doc_id % 4 AS INT) AS w, CAST(5 + doc_id % 3 AS INT) AS h
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.w, d.h,
               ((d.doc_id * 23 + ys.y * 11 + xs.x * 5 + cs.c * 7) % 256) AS v
        FROM dims d, range(0, 7) ys(y), range(0, 6) xs(x), range(0, 3) cs(c)
        WHERE ys.y < d.h AND xs.x < d.w
    )
    SELECT doc_id AS media_id, w AS width, h AS height,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_byte,
           CAST(SUM(v) % 2147483648 AS BIGINT) AS checksum
    FROM px
    GROUP BY doc_id, w, h
    """,
    "REAL pure-python PNG decode (stdlib-zlib inflate, CRC-checked chunks, all five "
    "scanline filters unfiltered — the encoder cycles filter type per row, so every "
    "unfilter branch sits under the value-hash gate); oracle recomputes decoded pixel "
    "stats in closed form (n_bytes is DEFLATE-dependent, hence projected away)",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import decode_images, png_fixture

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return decode_images(png_fixture(docs), codec="png", n_partitions=32).select(
        "media_id", "width", "height", "mean_byte", "checksum"
    )


@register(
    "multimodal_png_resize",
    """
    WITH dims AS (
        SELECT doc_id, CAST(3 + doc_id % 4 AS INT) AS w, CAST(5 + doc_id % 3 AS INT) AS h
        FROM documents
    ),
    px AS (
        SELECT d.doc_id,
               ((d.doc_id * 23 + ((ys.y * d.h) // 4) * 11
                 + ((xs.x * d.w) // 4) * 5 + cs.c * 7) % 256) AS v
        FROM dims d, range(0, 4) ys(y), range(0, 4) xs(x), range(0, 3) cs(c)
    )
    SELECT doc_id AS media_id, CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_byte,
           CAST(SUM(v) % 2147483648 AS BIGINT) AS checksum
    FROM px
    GROUP BY doc_id
    """,
    "REAL PNG nearest-neighbor resize (CRC-checked decode -> NN sample -> re-encode "
    "through zlib) then decode-stats; oracle composes the NN index map in closed form",
)
def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import decode_images, png_fixture, resize_images

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    resized = resize_images(png_fixture(docs), width=4, height=4, codec="png")
    return decode_images(resized, codec="png", n_partitions=32).select(
        "media_id", "width", "height", "mean_byte", "checksum"
    )


@register(
    "multimodal_jpeg_decode",
    """
    WITH dims AS (
        SELECT doc_id,
               CAST(9 + doc_id % 8 AS INT) AS w,
               CAST(6 + doc_id % 5 AS INT) AS h,
               (doc_id * 37) % 256 AS v
        FROM documents
    )
    SELECT doc_id AS media_id, w AS width, h AS height,
           CAST(v AS DOUBLE) AS mean_byte,
           CAST((v * w * h) % 2147483648 AS BIGINT) AS checksum
    FROM dims
    """,
    "REAL baseline JPEG decode (pure python+numpy: canonical Annex-K huffman "
    "tables, 0xFF byte unstuffing, DC-diff EXTEND, AC run-length with ZRL/EOB, "
    "orthonormal IDCT) — at quality 100 the all-ones quantization table makes the "
    "solid-gray fixture decode EXACT, so a lossy codec sits under the closed-form "
    "value-hash gate; textured-content error bounds live in pytest",
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import decode_images, jpeg_fixture

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return decode_images(jpeg_fixture(docs), codec="jpeg", n_partitions=32).select(
        "media_id", "width", "height", "mean_byte", "checksum"
    )


@register(
    "multimodal_bmp_features",
    """
    WITH dims AS (
        SELECT doc_id, CAST(3 + doc_id % 5 AS INT) AS w, CAST(2 + doc_id % 4 AS INT) AS h
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, cs.c,
               ((d.doc_id * 31 + ys.y * 7 + xs.x * 3 + cs.c * 11) % 256) AS v
        FROM dims d, range(0, 6) ys(y), range(0, 8) xs(x), range(0, 3) cs(c)
        WHERE ys.y < d.h AND xs.x < d.w
    ),
    g AS (SELECT doc_id, v FROM px WHERE c = 1),
    a AS (
        SELECT doc_id,
               CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_g,
               CAST(SUM(v*v) AS DOUBLE) / COUNT(*)
                   - (CAST(SUM(v) AS DOUBLE) / COUNT(*)) * (CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS var_g
        FROM g GROUP BY doc_id
    ),
    r AS (SELECT doc_id, CAST(MAX(v) - MIN(v) AS INT) AS dyn_range FROM px GROUP BY doc_id)
    SELECT a.doc_id AS media_id, mean_g, var_g, dyn_range
    FROM a JOIN r ON a.doc_id = r.doc_id
    """,
    "per-image curation features (green-channel mean/variance + dynamic range) over the REAL BMP decode; closed-form oracle",
)
def multimodal_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import bmp_fixture, image_stats_features

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return image_stats_features(bmp_fixture(docs), codec="bmp", n_partitions=32)


@register(
    "multimodal_wav_features",
    """
    WITH dims AS (
        SELECT doc_id, CAST(50 + doc_id % 30 AS INT) AS n FROM documents
    ),
    smp AS (
        SELECT d.doc_id, ts.i,
               (((d.doc_id * 13 + ts.i * 7) % 2048) - 1024) AS s,
               CAST(ts.i // 16 AS INT) AS frame_idx
        FROM dims d, range(0, 80) ts(i)
        WHERE ts.i < (d.n // 16) * 16
    ),
    lagged AS (
        SELECT doc_id, frame_idx, s,
               lag(s) OVER (PARTITION BY doc_id, frame_idx ORDER BY i) AS prev
        FROM smp
    )
    SELECT doc_id AS media_id, frame_idx,
           SQRT(SUM(CAST(s AS BIGINT) * s) / 16.0) AS rms,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> 0
                              AND ((prev < 0) <> (s < 0))
                    THEN 1 ELSE 0 END) AS INT) AS zero_crossings
    FROM lagged GROUP BY doc_id, frame_idx
    """,
    "frame-level audio features (RMS energy + zero-crossing count) over the REAL WAV decode; oracle recomputes per-frame features from the synthetic waveform in closed form",
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import audio_frame_features, wav_fixture

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return audio_frame_features(wav_fixture(docs), frame=16, codec="wav", n_partitions=32)


@register(
    "multimodal_wav_decimate",
    """
    WITH dims AS (
        SELECT doc_id, CAST(50 + doc_id % 30 AS INT) AS n FROM documents
    ),
    smp AS (
        SELECT d.doc_id, (((d.doc_id * 13 + ts.i * 7) % 2048) - 1024) AS s
        FROM dims d, range(0, 80) ts(i)
        WHERE ts.i < d.n AND ts.i % 4 = 0
    )
    SELECT doc_id AS media_id,
           CAST(2000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(COUNT(*) * 1000 // 2000 AS INT) AS duration_ms,
           CAST(SUM(ABS(s)) AS DOUBLE) / COUNT(*) AS mean_abs,
           CAST(SUM(s) AS BIGINT) AS checksum
    FROM smp
    GROUP BY doc_id
    """,
    "REAL PCM-16 decimation (every 4th sample, rate/4) then decode-stats; oracle recomputes the kept-sample stats in closed form",
)
def multimodal_wav_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import decimate_audio, decode_audio, wav_fixture

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return decode_audio(decimate_audio(wav_fixture(docs), factor=4), codec="wav", n_partitions=32)


@register(
    "multimodal_y4m_frame_sample",
    """
    WITH dims AS (
        SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS w, CAST(2 + doc_id % 2 AS INT) AS h,
               CAST(3 + doc_id % 4 AS INT) AS nf
        FROM documents
    ),
    grid AS (
        SELECT d.*, ts.t FROM dims d, range(0, 600, 200) ts(t)
        WHERE ts.t < d.nf * 100
    ),
    px AS (
        SELECT g.doc_id, g.t, g.w, g.h, CAST(g.t // 100 AS INT) AS f,
               ((g.doc_id * 17 + (g.t // 100) * 5 + ys.y * 3 + xs.x) % 256) AS v
        FROM grid g, range(0, 3) ys(y), range(0, 4) xs(x)
        WHERE ys.y < g.h AND xs.x < g.w
    )
    SELECT doc_id AS media_id, f AS frame_idx, CAST(t AS INT) AS t_ms,
           w AS width, h AS height,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_luma,
           CAST(SUM(v) % 2147483648 AS BIGINT) AS checksum
    FROM px GROUP BY doc_id, f, t, w, h
    """,
    "REAL YUV4MPEG2 container parse + frame-grid sampling with per-frame luma stats; oracle recomputes sampled frames in closed form",
)
def multimodal_y4m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import sample_video_frames, y4m_fixture

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return sample_video_frames(y4m_fixture(docs), every_ms=200, codec="y4m", n_partitions=32)


@register(
    "multimodal_gif_frame_sample",
    """
    WITH dims AS (
        SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS w, CAST(2 + doc_id % 2 AS INT) AS h,
               CAST(3 + doc_id % 4 AS INT) AS nf
        FROM documents
    ),
    grid AS (
        SELECT d.*, ts.t FROM dims d, range(0, 600, 200) ts(t)
        WHERE ts.t < d.nf * 100
    ),
    px AS (
        SELECT g.doc_id, g.t, g.w, g.h, CAST(g.t // 100 AS INT) AS f,
               ((g.doc_id * 17 + (g.t // 100) * 5 + ys.y * 3 + xs.x) % 256) AS v
        FROM grid g, range(0, 3) ys(y), range(0, 4) xs(x)
        WHERE ys.y < g.h AND xs.x < g.w
    )
    SELECT doc_id AS media_id, f AS frame_idx, CAST(t AS INT) AS t_ms,
           w AS width, h AS height,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_luma,
           CAST(SUM(v) % 2147483648 AS BIGINT) AS checksum
    FROM px GROUP BY doc_id, f, t, w, h
    """,
    "REAL animated-GIF parse (GIF89a chunk walk + real LZW decompression, 9-12-bit "
    "codes, table resets, KwKwK case) + delay-driven frame-grid sampling with "
    "palette-red stats; the fixture palette has red = index, so the oracle "
    "recomputes sampled frames from the index formula in closed form",
)
def multimodal_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import gif_fixture, sample_video_frames

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    return sample_video_frames(gif_fixture(docs), every_ms=200, codec="gif", n_partitions=32)


@register(
    "multimodal_mulaw_native_decode",
    """
    WITH dims AS (
        SELECT doc_id, CAST(40 + doc_id % 20 AS BIGINT) AS n FROM documents
    ),
    b AS (
        SELECT d.doc_id, d.n, 255 - ((d.doc_id * 7 + i.i * 13) % 256) AS inv
        FROM dims d, range(0, 60) i(i)
        WHERE i.i < d.n
    ),
    s AS (
        SELECT doc_id, n,
               CASE WHEN (inv & 128) != 0
                    THEN 132 - (((inv & 15) * 8 + 132) << ((inv // 16) & 7))
                    ELSE (((inv & 15) * 8 + 132) << ((inv // 16) & 7)) - 132
               END AS sample
        FROM b
    )
    SELECT doc_id AS media_id, n AS n_samples,
           CAST(SUM(sample) AS BIGINT) AS sum_pcm,
           CAST(MIN(sample) AS INT) AS min_pcm,
           CAST(MAX(sample) AS INT) AS max_pcm
    FROM s GROUP BY doc_id, n
    """,
    "a REAL audio codec running inside whole-stage codegen: G.711 mu-law WAVs "
    "decoded to linear PCM with pure Catalyst expressions (stateless per-byte bit "
    "arithmetic — complement/bias/shift — over let-bound hex bytes; zero Python "
    "anywhere, plan-asserted); the oracle runs the identical integer formula",
)
def multimodal_mulaw_native_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import mulaw_wav_samples_expr, wav_mulaw_fixture

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    wavs = wav_mulaw_fixture(docs)  # fixture generation is python; decode is not
    s = mulaw_wav_samples_expr("payload")
    return wavs.select("media_id", s.alias("pcm")).select(
        "media_id",
        F.size("pcm").cast("bigint").alias("n_samples"),
        F.aggregate("pcm", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("sum_pcm"),
        F.array_min("pcm").alias("min_pcm"),
        F.array_max("pcm").alias("max_pcm"),
    )


@register(
    "multimodal_alaw_native_decode",
    """
    WITH dims AS (
        SELECT doc_id, CAST(40 + doc_id % 20 AS BIGINT) AS n FROM documents
    ),
    b AS (
        SELECT d.doc_id, d.n,
               xor((d.doc_id * 11 + i.i * 17) % 256, 85) AS inv
        FROM dims d, range(0, 60) i(i)
        WHERE i.i < d.n
    ),
    s AS (
        SELECT doc_id, n,
               CASE WHEN (inv & 128) != 0 THEN mag ELSE -mag END AS sample
        FROM (
            SELECT doc_id, n, inv,
                   CASE WHEN ((inv & 112) // 16) = 0 THEN (inv & 15) * 16 + 8
                        ELSE ((inv & 15) * 16 + 264) << (((inv & 112) // 16) - 1)
                   END AS mag
            FROM b
        )
    )
    SELECT doc_id AS media_id, n AS n_samples,
           CAST(SUM(sample) AS BIGINT) AS sum_pcm,
           CAST(MIN(sample) AS INT) AS min_pcm,
           CAST(MAX(sample) AS INT) AS max_pcm
    FROM s GROUP BY doc_id, n
    """,
    "the A-law half of G.711, also decoded in pure Catalyst expressions (XOR 0x55, "
    "mantissa expansion, segment shift); oracle runs the identical integer formula",
)
def multimodal_alaw_native_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.multimodal import alaw_wav_fixture, alaw_wav_samples_expr

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id")
    wavs = alaw_wav_fixture(docs)
    s = alaw_wav_samples_expr("payload")
    return wavs.select("media_id", s.alias("pcm")).select(
        "media_id",
        F.size("pcm").cast("bigint").alias("n_samples"),
        F.aggregate("pcm", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("sum_pcm"),
        F.array_min("pcm").alias("min_pcm"),
        F.array_max("pcm").alias("max_pcm"),
    )


def _ivf_lit_oracle(*, dim: int = 64, k: int = 10, n_cells: int = 16, n_probe: int = 2, seed: int = 42) -> str:
    """DuckDB oracle for the literal-centroid IVF twin: the SAME seeded
    centroids render into both engines' SQL (flat double chain ≡ Spark's
    dot fold), probe ranking uses the identical (d DESC, cell DESC)
    tie-break, so cells, candidates, and ranks agree exactly."""
    from connemara_spark.operators.similarity import ivf_centroids_lit, ivf_lit_dot_sql

    cents = ivf_centroids_lit(dim, n_cells, seed)
    unions = " UNION ALL ".join(
        f"SELECT vec_id, {c} AS cell, ({ivf_lit_dot_sql(cents[c], 'embedding[{i}]')}) AS d FROM embeddings"
        for c in range(n_cells)
    )
    return f"""
    WITH dots AS ({unions}),
    ranked_cells AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell DESC) AS cr
        FROM dots
    ),
    idx AS (SELECT vec_id AS neighbor_id, cell FROM ranked_cells WHERE cr = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM ranked_cells WHERE cr <= {n_probe}),
    cand AS (
        SELECT query_id, neighbor_id
        FROM probes JOIN idx USING (cell)
        WHERE query_id <> neighbor_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, {dim + 1}), i -> CAST(q.embedding[i] * n.embedding[i] AS DOUBLE))),
                   (a, b) -> a + b)
               / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(range(1, {dim + 1}), i -> CAST(q.embedding[i] * q.embedding[i] AS DOUBLE))),
                      (a, b) -> a + b))
                  * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(range(1, {dim + 1}), i -> CAST(n.embedding[i] * n.embedding[i] AS DOUBLE))),
                      (a, b) -> a + b))) AS cosine
        FROM cand JOIN embeddings q ON q.vec_id = query_id
                  JOIN embeddings n ON n.vec_id = neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


@register(
    "embedding_ann_ivf_lit",
    _ivf_lit_oracle(),
    "IVF top-k with literal seeded centroids — the inverted-list ANN pipeline under the value-hash gate",
)
def embedding_ann_ivf_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import ivf_topk_lit

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return ivf_topk_lit(emb, k=10, n_cells=16, n_probe=2)


def _ivfpq_lit_oracle(
    *, dim: int = 64, k: int = 10, n_cells: int = 32, n_probe: int = 2,
    seed: int = 42, m: int = 8, k_cb: int = 16, pq_seed: int = 7,
) -> str:
    """DuckDB oracle for IVF-PQ: the same literal IVF centroids + PQ
    codebooks render into both engines. Distance tables are computed once per
    row (CTE ``dls``), serving as both the encoder (list_position of
    list_min, matching Spark's array_position/array_min first-min tie-break)
    and the ADC lookup table; the ADC sum is the identical left-associative
    double chain."""
    from connemara_spark.operators.similarity import (
        ivf_centroids_lit, ivf_lit_dot_sql, pq_codebooks_lit, pq_tables_sql,
    )

    cents = ivf_centroids_lit(dim, n_cells, seed)
    tables = pq_tables_sql(
        pq_codebooks_lit(dim, m, k_cb, pq_seed), "embedding[{i}]",
        one_based=True, arr_fmt="[{}]",
    )
    dls_cols = ", ".join(f"{t} AS l{j}" for j, t in enumerate(tables))
    code_cols = ", ".join(
        f"list_position(l{j}, list_min(l{j})) - 1 AS c{j}" for j in range(m)
    )
    adc_chain = " + ".join(f"q.l{j}[i.c{j} + 1]" for j in range(m))
    cell_unions = " UNION ALL ".join(
        f"SELECT vec_id, {c} AS cell, ({ivf_lit_dot_sql(cents[c], 'embedding[{i}]')}) AS d FROM embeddings"
        for c in range(n_cells)
    )
    return f"""
    WITH dls AS (SELECT vec_id, {dls_cols} FROM embeddings),
    codes AS (SELECT vec_id, {code_cols} FROM dls),
    dots AS ({cell_unions}),
    ranked_cells AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell DESC) AS cr
        FROM dots
    ),
    idx AS (SELECT vec_id AS neighbor_id, cell FROM ranked_cells WHERE cr = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM ranked_cells WHERE cr <= {n_probe}),
    cand AS (
        SELECT query_id, neighbor_id
        FROM probes JOIN idx USING (cell)
        WHERE query_id <> neighbor_id
    ),
    scored AS (
        SELECT query_id, neighbor_id, ROUND({adc_chain}, 6) AS adc_dist
        FROM cand JOIN dls q ON q.vec_id = query_id
                  JOIN codes i ON i.vec_id = neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, adc_dist, rank FROM ranked WHERE rank <= {k}
    """


@register(
    "embedding_ann_ivfpq",
    _ivfpq_lit_oracle(),
    "IVF-PQ top-k: inverted-list pruning + 8-byte product-quantized codes with ADC scoring — the memory-scale ANN path, fully under the value-hash gate",
)
def embedding_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import ivfpq_topk

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return ivfpq_topk(emb, k=10, n_cells=32, n_probe=2)


def _trained_books(spark: SparkSession, sf_dir: str) -> list:
    """Spark-side trained PQ books, computed fresh per invocation (an
    earlier revision memoized them per sf_dir, which let a repeat run of
    ``embedding_pq_train`` skip its own training — the bench entry must
    carry the training cost it claims to measure)."""
    from connemara_spark.operators.similarity import pq_train_codebooks

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return pq_train_codebooks(emb, k_cb=16)


def _books_rows(books: list) -> list[tuple[int, int, str]]:
    """Render books as (subspace, code, csv-of-f32-codeword) rows — the
    comparison surface for the trainer-parity gate. repr() of the f32-grid
    doubles round-trips exactly, so string equality == bit equality."""
    return [
        (j, c, ",".join(repr(x) for x in books[j][c]))
        for j in range(len(books))
        for c in range(len(books[j]))
    ]


def _pq_train_oracle(sf_dir: str) -> str:
    """VALUES literal of the OFFLINE trainer's books (pyarrow + hashlib +
    shared Lloyd's — no Spark anywhere). The Spark query emits the
    Spark-trained books, so a green row is a real cross-engine claim: two
    independent trainer implementations (md5 sampling via Spark SQL vs
    hashlib, collect vs pyarrow) produce bit-identical codebooks."""
    from connemara_spark.operators.similarity import train_books_offline

    rows = _books_rows(train_books_offline(sf_dir, k_cb=16))
    values = ", ".join(f"({j}, {c}, '{csv}')" for j, c, csv in rows)
    return f"SELECT * FROM (VALUES {values}) AS t(subspace, code, codeword_csv)"


@register(
    "embedding_pq_train",
    None,
    "k-means PQ codebook training (the offline index-build step) — gate checks the "
    "Spark-side trainer against an independent Spark-free replica bit-for-bit",
    oracle_fn=_pq_train_oracle,
)
def embedding_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    books = _trained_books(spark, sf_dir)
    return spark.createDataFrame(
        _books_rows(books), "subspace int, code int, codeword_csv string"
    )


def _ann_index_root() -> str:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(repo, "spark-warehouse", "ann_index")


ANN_INDEX_PARAMS = dict(dim=64, n_cells=32, m=8, k_cb=16, seed=42, train_seed=3)


def _ensure_index(spark: SparkSession, sf_dir: str):
    """Build-if-stale + load the persisted IVF-PQ index for this sf_dir
    (fingerprinted against the embeddings parquet, so regenerated testdata
    triggers a rebuild instead of serving stale cells)."""
    from connemara_spark.operators.annindex import ensure_ann_index

    tag = os.path.basename(sf_dir.rstrip("/")) or "default"
    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return (
        os.path.join(_ann_index_root(), tag),
        ensure_ann_index(
            emb,
            os.path.join(_ann_index_root(), tag),
            source_path=os.path.join(sf_dir, "embeddings.parquet"),
            **ANN_INDEX_PARAMS,
        ),
    )


def _ann_index_build_oracle(sf_dir: str) -> str:
    """DuckDB derivation of the PERSISTED index content: cell = argmax
    centroid dot (ties to higher cell, as ranked_cells), codes = per-subspace
    argmin distance-table entry — with the trained books rendered from the
    independent Spark-free trainer. A green row means the artifact on disk
    equals an independent recomputation of the whole index."""
    dim, n_cells, seed, m = 64, 32, 42, 8
    from connemara_spark.operators.similarity import (
        ivf_centroids_lit, ivf_lit_dot_sql, pq_tables_sql, train_books_offline,
    )

    books = train_books_offline(sf_dir, k_cb=16)
    cents = ivf_centroids_lit(dim, n_cells, seed)
    tables = pq_tables_sql(books, "embedding[{i}]", one_based=True, arr_fmt="[{}]")
    dls_cols = ", ".join(f"{t} AS l{j}" for j, t in enumerate(tables))
    code_cols = ", ".join(
        f"list_position(l{j}, list_min(l{j})) - 1 AS c{j}" for j in range(m)
    )
    csv = " || ',' || ".join(f"CAST(c{j} AS VARCHAR)" for j in range(m))
    cell_unions = " UNION ALL ".join(
        f"SELECT vec_id, {c} AS cell, ({ivf_lit_dot_sql(cents[c], 'embedding[{i}]')}) AS d FROM embeddings"
        for c in range(n_cells)
    )
    return f"""
    WITH dls AS (SELECT vec_id, {dls_cols} FROM embeddings),
    codes AS (SELECT vec_id, {code_cols} FROM dls),
    dots AS ({cell_unions}),
    ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell DESC) AS cr
        FROM dots
    )
    SELECT c.vec_id, CAST(r.cell AS INT) AS cell, {csv} AS codes_csv
    FROM codes c JOIN ranked r ON r.vec_id = c.vec_id AND r.cr = 1
    """


@register(
    "ann_index_build",
    None,
    "IVF-PQ index BUILD as a durable artifact: train books, code + cell-assign every "
    "vector, write cell-partitioned parquet + codebooks + fingerprinted META; the "
    "query returns the artifact read back FROM DISK, gated against an independent "
    "DuckDB recomputation of the whole index",
    oracle_fn=_ann_index_build_oracle,
)
def ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.annindex import build_ann_index

    tag = os.path.basename(sf_dir.rstrip("/")) or "default"
    index_dir = os.path.join(_ann_index_root(), tag)
    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    # unconditional build: this entry IS the build step (its bench time is
    # the honest index-construction cost); readers use _ensure_index
    build_ann_index(
        emb, index_dir,
        source_path=os.path.join(sf_dir, "embeddings.parquet"),
        **ANN_INDEX_PARAMS,
    )
    entries = spark.read.parquet(os.path.join(index_dir, "entries.parquet"))
    return entries.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.array_join("codes", ",").alias("codes_csv"),
    )


def _ann_stream_ingest_oracle(sf_dir: str) -> str:
    """DuckDB twin of the STREAMED index: identical derivation to
    ``_ann_index_build_oracle`` except the books are trained on the
    BOOTSTRAP batch's vectors only (vec_id % 3 == 0 — the first landed
    segment), because the streaming ingest froze its codebooks there;
    cells/codes still cover EVERY vector (batches 2-3 were coded with the
    frozen books and committed as META appends)."""
    dim, n_cells, seed, m = 64, 32, 42, 8
    from connemara_spark.operators.similarity import (
        ivf_centroids_lit, ivf_lit_dot_sql, pq_tables_sql, train_books_offline,
    )

    books = train_books_offline(sf_dir, k_cb=16, ids_mod=(3, 0))
    cents = ivf_centroids_lit(dim, n_cells, seed)
    tables = pq_tables_sql(books, "embedding[{i}]", one_based=True, arr_fmt="[{}]")
    dls_cols = ", ".join(f"{t} AS l{j}" for j, t in enumerate(tables))
    code_cols = ", ".join(
        f"list_position(l{j}, list_min(l{j})) - 1 AS c{j}" for j in range(m)
    )
    csv = " || ',' || ".join(f"CAST(c{j} AS VARCHAR)" for j in range(m))
    cell_unions = " UNION ALL ".join(
        f"SELECT vec_id, {c} AS cell, ({ivf_lit_dot_sql(cents[c], 'embedding[{i}]')}) AS d FROM embeddings"
        for c in range(n_cells)
    )
    return f"""
    WITH dls AS (SELECT vec_id, {dls_cols} FROM embeddings),
    codes AS (SELECT vec_id, {code_cols} FROM dls),
    dots AS ({cell_unions}),
    ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell DESC) AS cr
        FROM dots
    )
    SELECT c.vec_id, CAST(r.cell AS INT) AS cell, {csv} AS codes_csv
    FROM codes c JOIN ranked r ON r.vec_id = c.vec_id AND r.cr = 1
    """


@register(
    "ann_stream_ingest",
    None,
    "the persisted IVF-PQ index maintained by a CONTINUOUS embedding stream "
    "(StreamingAnnIngest): three landed segments drain as three micro-batches "
    "— batch 0 TRAINS and bootstraps the index (books frozen there, recorded "
    "as META bootstrap_batch), batches 1-2 are coded with the frozen books "
    "and committed as META-gated appends; a second drain from a FRESH "
    "checkpoint then replays all three batches and must skip every one "
    "(exactly-once across the stream/index commit logs). The result is the "
    "full index read back through load_ann_index (base tree + committed "
    "appends), gated against an independent DuckDB recomputation with "
    "bootstrap-subset-trained books",
    oracle_fn=_ann_stream_ingest_oracle,
)
def ann_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.operators.annindex import load_ann_index
    from connemara_spark.streaming.ingest import StreamingAnnIngest

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="connemara_annstream_")
    try:
        land = _land_stream_segments(
            root, [emb.filter(F.col("vec_id") % 3 == r) for r in range(3)]
        )
        index_dir = os.path.join(root, "index")
        build_params = {k: v for k, v in ANN_INDEX_PARAMS.items() if k != "dim"}
        ingest = StreamingAnnIngest(
            spark,
            landing_dir=land,
            index_dir=index_dir,
            checkpoint_dir=os.path.join(root, "ckpt"),
            bootstrap=True,
            max_files_per_trigger=1,
            build_params=build_params,
            dim=ANN_INDEX_PARAMS["dim"],
        )
        ingest.run_until_drained()
        if ingest.batches_appended != 3 or ingest.batches_skipped != 0:
            raise RuntimeError(
                f"expected 3 fresh batches (1 bootstrap + 2 appends), got "
                f"appended={ingest.batches_appended} skipped={ingest.batches_skipped}"
            )
        # the crash-replay contract end-to-end: a FRESH checkpoint replays
        # every micro-batch against the committed META — the bootstrap
        # marker and the appends list must absorb all three as idempotent
        # skips (a failure here would either raise 'already committed' or
        # duplicate index entries, and duplicates would break the hash)
        replay = StreamingAnnIngest(
            spark,
            landing_dir=land,
            index_dir=index_dir,
            checkpoint_dir=os.path.join(root, "ckpt2"),
            bootstrap=True,
            max_files_per_trigger=1,
            build_params=build_params,
            dim=ANN_INDEX_PARAMS["dim"],
        )
        replay.run_until_drained()
        if replay.batches_appended != 0 or replay.batches_skipped != 3:
            raise RuntimeError(
                f"replay drain must skip all 3 committed batches, got "
                f"appended={replay.batches_appended} skipped={replay.batches_skipped}"
            )
        _meta, _books, entries = load_ann_index(spark, index_dir)
        return entries.select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.array_join("codes", ",").alias("codes_csv"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ann_cdc_upserts_oracle(sf_dir: str) -> str:
    """DuckDB twin of the CDC-MAINTAINED index: the final LIVE vector set
    (re-embedded ids serve their partner vector lo+hi-id, deleted ids are
    gone, same-batch delete+re-upsert survives) coded with the
    bootstrap-subset-trained books — identical derivation to
    ``_ann_stream_ingest_oracle`` but FROM the latest-wins state instead
    of the raw table. A tombstone leak (deleted id still served), a lost
    upsert (old codes served), or a double-apply (duplicate entry rows)
    all break the hash."""
    dim, n_cells, seed, m = 64, 32, 42, 8
    from connemara_spark.operators.similarity import (
        ivf_centroids_lit, ivf_lit_dot_sql, pq_tables_sql, train_books_offline,
    )

    lo, hi = _emb_id_bounds(sf_dir)
    books = train_books_offline(sf_dir, k_cb=16, ids_mod=(3, 0))
    cents = ivf_centroids_lit(dim, n_cells, seed)
    tables = pq_tables_sql(books, "embedding[{i}]", one_based=True, arr_fmt="[{}]")
    dls_cols = ", ".join(f"{t} AS l{j}" for j, t in enumerate(tables))
    code_cols = ", ".join(
        f"list_position(l{j}, list_min(l{j})) - 1 AS c{j}" for j in range(m)
    )
    csv = " || ',' || ".join(f"CAST(c{j} AS VARCHAR)" for j in range(m))
    cell_unions = " UNION ALL ".join(
        f"SELECT vec_id, {c} AS cell, ({ivf_lit_dot_sql(cents[c], 'embedding[{i}]')}) AS d FROM final"
        for c in range(n_cells)
    )
    return f"""
    WITH final AS (
        SELECT e.vec_id,
               CASE WHEN e.vec_id % 9 = 0 THEN p.embedding ELSE e.embedding END AS embedding
        FROM embeddings e
        JOIN embeddings p ON p.vec_id = {lo} + {hi} - e.vec_id
        WHERE NOT (e.vec_id % 15 = 0 AND e.vec_id % 45 <> 0)
    ),
    dls AS (SELECT vec_id, {dls_cols} FROM final),
    codes AS (SELECT vec_id, {code_cols} FROM dls),
    dots AS ({cell_unions}),
    ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell DESC) AS cr
        FROM dots
    )
    SELECT c.vec_id, CAST(r.cell AS INT) AS cell, {csv} AS codes_csv
    FROM codes c JOIN ranked r ON r.vec_id = c.vec_id AND r.cr = 1
    """


@register(
    "ann_cdc_upserts",
    None,
    "the persisted IVF-PQ index maintained by a CHANGE stream — upserts "
    "(re-embedded documents) and deletes, not just appends (StreamingAnnCdc "
    "/ apply_cdc_to_ann_index): batch 0 bootstraps the index from the "
    "initial vectors (books frozen there), batch 1 appends new ids AND "
    "re-embeds existing ones (paired tombstone+append in one atomic META "
    "commit), batch 2 deletes ids and re-upserts a subset of them in the "
    "SAME batch (the re-upsert must win). A fresh-checkpoint replay must "
    "skip all three committed batches (exactly-once via META cdc_batches), "
    "and compact_ann_index must fold the tombstones into one generation "
    "with the visible set unchanged (asserted in-query). The result is the "
    "compacted index read back, gated against a DuckDB recomputation of "
    "the latest-wins live vector state with bootstrap-subset-trained books",
    oracle_fn=_ann_cdc_upserts_oracle,
)
def ann_cdc_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.operators.annindex import (
        compact_ann_index, load_ann_index,
    )
    from connemara_spark.streaming.ingest import StreamingAnnCdc

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    lo, hi = _emb_id_bounds(sf_dir)
    vid = F.col("vec_id")
    # partner(id) = lo+hi-id: the "re-embedded" vector for an upserted id
    # is another row's embedding, so the oracle can derive it with a pure
    # self-join (no float math to keep bit-identical across engines)
    pv = emb.select(
        (F.lit(lo + hi) - vid).alias("vec_id"), F.col("embedding")
    )

    def ups(df: DataFrame) -> DataFrame:
        return df.select("vec_id", "embedding", F.lit("upsert").alias("op"))

    b0 = ups(emb.filter(vid % 3 == 0))
    b1 = ups(emb.filter(vid % 3 == 1)).unionByName(
        ups(emb.filter(vid % 9 == 0).select("vec_id").join(pv, "vec_id"))
    )
    b2 = (
        emb.filter(vid % 15 == 0)
        .select(
            "vec_id",
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit("delete").alias("op"),
        )
        .unionByName(ups(emb.filter(vid % 3 == 2)))
        .unionByName(ups(emb.filter(vid % 45 == 0).select("vec_id").join(pv, "vec_id")))
    )
    root = tempfile.mkdtemp(prefix="connemara_anncdc_")
    try:
        land = _land_stream_segments(root, [b0, b1, b2])
        index_dir = os.path.join(root, "index")
        build_params = {k: v for k, v in ANN_INDEX_PARAMS.items() if k != "dim"}
        cdc = StreamingAnnCdc(
            spark,
            landing_dir=land,
            index_dir=index_dir,
            checkpoint_dir=os.path.join(root, "ckpt"),
            bootstrap=True,
            max_files_per_trigger=1,
            build_params=build_params,
            dim=ANN_INDEX_PARAMS["dim"],
        )
        cdc.run_until_drained()
        if cdc.batches_appended != 3 or cdc.batches_skipped != 0:
            raise RuntimeError(
                f"expected 3 fresh batches (1 bootstrap + 2 cdc applies), got "
                f"appended={cdc.batches_appended} skipped={cdc.batches_skipped}"
            )
        # fresh-checkpoint replay: bootstrap marker + cdc_batches must
        # absorb all three as idempotent skips (a miss either raises
        # 'already committed' or double-applies, and a double-applied
        # tombstone would shadow the same-batch re-upsert — hash-visible)
        replay = StreamingAnnCdc(
            spark,
            landing_dir=land,
            index_dir=index_dir,
            checkpoint_dir=os.path.join(root, "ckpt2"),
            bootstrap=True,
            max_files_per_trigger=1,
            build_params=build_params,
            dim=ANN_INDEX_PARAMS["dim"],
        )
        replay.run_until_drained()
        if replay.batches_appended != 0 or replay.batches_skipped != 3:
            raise RuntimeError(
                f"replay drain must skip all 3 committed batches, got "
                f"appended={replay.batches_appended} skipped={replay.batches_skipped}"
            )

        def shaped(e: DataFrame) -> DataFrame:
            return e.select(
                "vec_id",
                F.col("cell").cast("int").alias("cell"),
                F.array_join("codes", ",").alias("codes_csv"),
            ).localCheckpoint()

        _m, _b, entries = load_ann_index(spark, index_dir)
        live = shaped(entries)
        compact_ann_index(spark, index_dir)
        _m2, _b2, entries2 = load_ann_index(spark, index_dir)
        compacted = shaped(entries2)
        # compaction must be invisible to readers: same rows before/after
        if live.exceptAll(compacted).count() or compacted.exceptAll(live).count():
            raise RuntimeError("compaction changed the visible entry set")
        return compacted
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ivfpq_trained_oracle(sf_dir: str) -> str:
    """DuckDB oracle for the TRAINED IVF-PQ + exact-rerank pipeline: same
    shape as ``_ivfpq_lit_oracle`` but with the data-trained books rendered
    as literals (from the offline trainer — bit-identical to the Spark-side
    books, itself gate-checked by ``embedding_pq_train``), n_probe=4, and a
    final exact-dot rerank over the ADC shortlist mirroring
    ``ivfpq_topk(rerank=50)``'s double-product chain."""
    dim, k, n_cells, n_probe, seed, m, rerank = 64, 10, 32, 4, 42, 8, 50
    from connemara_spark.operators.similarity import (
        ivf_centroids_lit, ivf_lit_dot_sql, pq_tables_sql, train_books_offline,
    )

    books = train_books_offline(sf_dir, k_cb=16)
    cents = ivf_centroids_lit(dim, n_cells, seed)
    tables = pq_tables_sql(books, "embedding[{i}]", one_based=True, arr_fmt="[{}]")
    dls_cols = ", ".join(f"{t} AS l{j}" for j, t in enumerate(tables))
    code_cols = ", ".join(
        f"list_position(l{j}, list_min(l{j})) - 1 AS c{j}" for j in range(m)
    )
    adc_chain = " + ".join(f"q.l{j}[i.c{j} + 1]" for j in range(m))
    cell_unions = " UNION ALL ".join(
        f"SELECT vec_id, {c} AS cell, ({ivf_lit_dot_sql(cents[c], 'embedding[{i}]')}) AS d FROM embeddings"
        for c in range(n_cells)
    )
    # exact rerank dot: CAST(e AS DOUBLE) * CAST(e AS DOUBLE) products,
    # left-associative sum — textually the ops ivfpq_topk's rerank runs
    dot_chain = " + ".join(
        f"CAST(q.embedding[{i + 1}] AS DOUBLE) * CAST(n.embedding[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )
    return f"""
    WITH dls AS (SELECT vec_id, {dls_cols} FROM embeddings),
    codes AS (SELECT vec_id, {code_cols} FROM dls),
    dots AS ({cell_unions}),
    ranked_cells AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell DESC) AS cr
        FROM dots
    ),
    idx AS (SELECT vec_id AS neighbor_id, cell FROM ranked_cells WHERE cr = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM ranked_cells WHERE cr <= {n_probe}),
    cand AS (
        SELECT DISTINCT query_id, neighbor_id
        FROM probes JOIN idx USING (cell)
        WHERE query_id <> neighbor_id
    ),
    scored AS (
        SELECT query_id, neighbor_id, ROUND({adc_chain}, 6) AS adc_dist
        FROM cand JOIN dls q ON q.vec_id = query_id
                  JOIN codes i ON i.vec_id = neighbor_id
    ),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS r
            FROM scored) s
        WHERE r <= {max(rerank, k)}
    ),
    reranked AS (
        SELECT query_id, neighbor_id, ({dot_chain}) AS cosine
        FROM shortlist JOIN embeddings q ON q.vec_id = query_id
                       JOIN embeddings n ON n.vec_id = neighbor_id
    ),
    final AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM reranked
    )
    SELECT query_id, neighbor_id, cosine, rank FROM final WHERE rank <= {k}
    """


@register(
    "embedding_ann_ivfpq_trained",
    None,
    "IVF-PQ with k-means-trained codebooks + exact shortlist rerank, served from the "
    "PERSISTED index (ann_index_build artifact; build-if-stale): a pure read-join "
    "query — candidates from cell-partitioned parquet, no index-side recompute — "
    "fully under the value-hash gate (trained books render as literals into the "
    "DuckDB twin)",
    oracle_fn=_ivfpq_trained_oracle,
)
def embedding_ann_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.annindex import ivfpq_topk_indexed

    index_dir, _ = _ensure_index(spark, sf_dir)
    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return ivfpq_topk_indexed(emb, index_dir, k=10, n_probe=4, rerank=50)


def _ann_trained_centroid_oracle(sf_dir: str) -> str:
    """DuckDB oracle for the TRAINED-CENTROID index: the ``_ivfpq_trained_
    oracle`` pipeline with (a) the corpus skewed all-positive (elementwise
    |x| — the distribution where the seeded literal grid collapses the
    inverted lists, annindex.build_ann_index docstring) and (b) the coarse
    centroids rendered from ``train_centroids_offline`` — the Spark-free
    spherical-k-means replica — instead of the literal grid. A green row
    certifies the whole trained read path: sample discipline, spherical
    trainer, META round-trip, probe assignment, ADC shortlist, exact
    rerank."""
    dim, k, n_cells, n_probe, m, rerank = 64, 10, 32, 4, 8, 50
    from connemara_spark.operators.similarity import (
        ivf_lit_dot_sql, pq_tables_sql, train_books_offline, train_centroids_offline,
    )

    books = train_books_offline(sf_dir, k_cb=16, absolute=True)
    cents = train_centroids_offline(
        sf_dir, dim=dim, n_cells=n_cells, seed=ANN_INDEX_PARAMS["train_seed"],
        absolute=True,
    )
    tables = pq_tables_sql(books, "embedding[{i}]", one_based=True, arr_fmt="[{}]")
    dls_cols = ", ".join(f"{t} AS l{j}" for j, t in enumerate(tables))
    code_cols = ", ".join(
        f"list_position(l{j}, list_min(l{j})) - 1 AS c{j}" for j in range(m)
    )
    adc_chain = " + ".join(f"q.l{j}[i.c{j} + 1]" for j in range(m))
    cell_unions = " UNION ALL ".join(
        f"SELECT vec_id, {c} AS cell, ({ivf_lit_dot_sql(cents[c], 'embedding[{i}]')}) AS d FROM e"
        for c in range(n_cells)
    )
    dot_chain = " + ".join(
        f"CAST(q.embedding[{i + 1}] AS DOUBLE) * CAST(n.embedding[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )
    return f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> abs(x)) AS embedding
        FROM embeddings
    ),
    dls AS (SELECT vec_id, {dls_cols} FROM e),
    codes AS (SELECT vec_id, {code_cols} FROM dls),
    dots AS ({cell_unions}),
    ranked_cells AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell DESC) AS cr
        FROM dots
    ),
    idx AS (SELECT vec_id AS neighbor_id, cell FROM ranked_cells WHERE cr = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM ranked_cells WHERE cr <= {n_probe}),
    cand AS (
        SELECT DISTINCT query_id, neighbor_id
        FROM probes JOIN idx USING (cell)
        WHERE query_id <> neighbor_id
    ),
    scored AS (
        SELECT query_id, neighbor_id, ROUND({adc_chain}, 6) AS adc_dist
        FROM cand JOIN dls q ON q.vec_id = query_id
                  JOIN codes i ON i.vec_id = neighbor_id
    ),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS r
            FROM scored) s
        WHERE r <= {max(rerank, k)}
    ),
    reranked AS (
        SELECT query_id, neighbor_id, ({dot_chain}) AS cosine
        FROM shortlist JOIN e q ON q.vec_id = query_id
                       JOIN e n ON n.vec_id = neighbor_id
    ),
    final AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM reranked
    )
    SELECT query_id, neighbor_id, cosine, rank FROM final WHERE rank <= {k}
    """


@register(
    "embedding_ann_trained_centroids",
    None,
    "the TRAINED-spherical-centroid IVF-PQ index under the value-hash gate, on a "
    "deliberately SKEWED (all-positive, elementwise |x|) corpus — the distribution "
    "where literal-grid centroids collapse the inverted lists (measured 110x on the "
    "read path, SCALE.md r9): build with centroid_mode='trained' (unit-normalized "
    "Lloyd's over the md5 sample, means re-normalized, persisted in META), then "
    "top-k readback through the persisted index; the oracle recomputes the ENTIRE "
    "pipeline from an independent Spark-free trainer rendered as literals",
    oracle_fn=_ann_trained_centroid_oracle,
)
def embedding_ann_trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from connemara_spark.operators.annindex import build_ann_index, ivfpq_topk_indexed

    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: F.abs(x)).alias("embedding"),
    )
    root = tempfile.mkdtemp(prefix="connemara_anntrained_")
    try:
        index_dir = os.path.join(root, "index")
        # fresh build per invocation: this entry's bench time is the honest
        # trained-build + read cost (the lit-centroid read path is the
        # persisted-index _ensure_index entry)
        build_ann_index(
            emb, index_dir, centroid_mode="trained",
            source_path=os.path.join(sf_dir, "embeddings.parquet"),
            **ANN_INDEX_PARAMS,
        )
        return ivfpq_topk_indexed(
            emb, index_dir, k=10, n_probe=4, rerank=50
        ).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _subspace_balance_oracle(sf_dir: str, *, dim: int = 64, m: int = 8) -> str:
    """Spark-free replica (pyarrow + pure python) of the variance-balanced
    layout: same fixed-point scores, same serpentine deal — rendered as a
    VALUES literal, so a green row is a cross-implementation claim over the
    ENTIRE pipeline (scores, ordering, layout, per-subspace totals)."""
    import os as _os

    import pyarrow.parquet as _pq

    from connemara_spark.operators.similarity import (
        balanced_subspace_permutation, subspace_variance_totals,
    )

    tbl = _pq.read_table(_os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"])
    vecs = tbl["embedding"].to_pylist()
    n = len(vecs)
    mult = 1 << 20
    s = [0] * dim
    q = [0] * dim
    for v in vecs:
        for i in range(dim):
            x = int(float(v[i]) * mult // 1)
            s[i] += x
            q[i] += x * x

    def tdiv(a, b):
        r = abs(a) // b
        return r if a >= 0 else -r

    scores = [tdiv(q[i], n) - tdiv(s[i], n) ** 2 for i in range(dim)]
    ident = list(range(dim))
    bal = balanced_subspace_permutation(scores, m)
    rows = []
    for layout, perm in (("identity", ident), ("balanced", bal)):
        for j, tot in enumerate(subspace_variance_totals(scores, perm, m)):
            rows.append(f"('{layout}', {j}, {tot})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(layout, subspace, var_fp)"
    )


@register(
    "embedding_subspace_balance",
    None,
    "variance-balanced PQ dimension layout (the OPQ idea as a metadata-free "
    "permutation): exact-integer per-dim variance scores (one aggregation, "
    "2*dim sums), serpentine deal across subspaces; per-subspace variance "
    "totals for identity vs balanced layouts — gate checks a Spark-free "
    "replica of the whole pipeline bit-for-bit",
    oracle_fn=_subspace_balance_oracle,
)
def embedding_subspace_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import (
        balanced_subspace_permutation, dim_variance_scores, subspace_variance_totals,
    )

    m, dim = 8, 64
    emb = spread(load(spark, sf_dir, "embeddings")).select("embedding")
    scores = dim_variance_scores(emb, dim=dim)
    rows = []
    for layout, perm in (
        ("identity", list(range(dim))),
        ("balanced", balanced_subspace_permutation(scores, m)),
    ):
        for j, tot in enumerate(subspace_variance_totals(scores, perm, m)):
            rows.append((layout, j, tot))
    return spark.createDataFrame(rows, "layout string, subspace int, var_fp long")


def _pq_recon_oracle(*, dim: int = 64, m: int = 8, k_cb: int = 16, pq_seed: int = 7) -> str:
    from connemara_spark.operators.similarity import pq_codebooks_lit, pq_tables_sql

    tables = pq_tables_sql(
        pq_codebooks_lit(dim, m, k_cb, pq_seed), "embedding[{i}]",
        one_based=True, arr_fmt="[{}]",
    )
    dls_cols = ", ".join(f"{t} AS l{j}" for j, t in enumerate(tables))
    err_chain = " + ".join(f"list_min(l{j})" for j in range(m))
    return f"""
    WITH dls AS (SELECT vec_id, {dls_cols} FROM embeddings)
    SELECT vec_id, ROUND({err_chain}, 6) AS recon_err FROM dls
    """


@register(
    "embedding_pq_recon_error",
    _pq_recon_oracle(),
    "PQ reconstruction error per vector — compression-quality metric for quantized indexes (zero-shuffle per-row map)",
)
def embedding_pq_recon_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import pq_recon_error

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return pq_recon_error(emb)


def _kmeans_oracle(*, dim: int = 64, k: int = 8, iters: int = 3, seed: int = 42,
                   scale_bits: int = 20) -> str:
    """DuckDB CTE chain replicating the ENTIRE fixed-point k-means loop:
    md5-seeded init, per-iteration argmin assignment (lowest-cluster ties)
    and exact integer centroid updates — all-BIGINT arithmetic, so the gate
    checks the full training trajectory, not rendered literals."""
    mult = 1 << scale_bits
    it = f"""
a{{n}} AS (
  SELECT vec_id, vf, cluster FROM (
    SELECT v.vec_id, v.vf, c.cluster,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_sum(list_transform(range(1,{dim + 1}),
                      i -> (v.vf[i]-c.c[i])*(v.vf[i]-c.c[i]))), c.cluster) AS rn
    FROM v CROSS JOIN c{{p}} c) t
  WHERE rn = 1
),
c{{n}} AS (
  SELECT cluster, list(s ORDER BY i) AS c FROM (
    SELECT cluster, i, CAST(sum(vf[i]) // count(*) AS BIGINT) AS s
    FROM a{{n}} CROSS JOIN range(1,{dim + 1}) t(i)
    GROUP BY cluster, i) u
  GROUP BY cluster
)"""
    chain = ",".join(it.format(n=n, p=n - 1) for n in range(1, iters + 1))
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding,
               e -> CAST(floor(CAST(e AS DOUBLE) * {mult}) AS BIGINT)) AS vf
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY md5('{seed}|' || CAST(vec_id AS VARCHAR)), vec_id) - 1
                  AS BIGINT) AS cluster, vf AS c
      FROM v
      QUALIFY row_number() OVER (ORDER BY md5('{seed}|' || CAST(vec_id AS VARCHAR)), vec_id) <= {k}
    ),
    {chain}
    SELECT a{iters}.cluster, COUNT(*) AS n_members,
           CAST(list_aggregate(c{iters}.c, 'sum') AS BIGINT) AS centroid_sum
    FROM a{iters} JOIN c{iters} USING (cluster)
    GROUP BY a{iters}.cluster, c{iters}.c
    ORDER BY a{iters}.cluster
    """


@register(
    "embedding_kmeans_clusters",
    _kmeans_oracle(),
    "distributed Lloyd's k-means in fixed-point integer arithmetic (semantic "
    "clustering for SemDeDup-style dedup / domain mixture discovery) — the FULL "
    "training loop is under the cross-engine gate: md5-seeded init, zero-shuffle "
    "BIGINT argmin assignment per iteration (k distance folds compiled "
    "separately), ONE (cluster,dim)-keyed aggregation shuffle per update with "
    "k*dim rows to the driver; bit-identical across engines and partitionings",
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import kmeans_fixed_point

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    _assigned, cents, counts = kmeans_fixed_point(emb, k=8, iters=3, seed=42)
    # counts + sums both come out of the final update shuffle — no extra job
    return spark.createDataFrame(
        [(c, counts[c], sum(v)) for c, v in cents],
        "cluster long, n_members long, centroid_sum long",
    )


@register(
    "events_props_json",
    f"""
    {EVENTS_CTE}
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS avg_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM ev
    GROUP BY event_type
    """,
    "JSON field projection (payload ->> analog, P3) + aggregation",
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg(k).cast("double").alias("avg_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@register(
    "events_props_variant",
    f"""
    {EVENTS_CTE}
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                      THEN 1 END) AS BIGINT) AS n_high
    FROM ev
    GROUP BY event_type
    """,
    "VARIANT-typed twin of the P3 JSON projection: props ingested once with "
    "parse_json into Spark 4's binary VARIANT encoding, typed path access via "
    "try_variant_get — the semi-structured fast path (no per-access string "
    "re-parse, unlike get_json_object); oracle uses plain JSON extraction",
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.count(F.when(F.col("k") > 50, 1)).cast("bigint").alias("n_high"),
    )


def _zorder_oracle() -> str:
    from connemara_spark.operators.layout import morton_key_sql

    chain = morton_key_sql("x", "y", bits=16)
    return f"""
    WITH b AS (
        SELECT event_id,
               user_id % 65536 AS x,
               CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 60) AS BIGINT) % 65536 AS y
        FROM events
    )
    SELECT event_id, CAST({chain} AS BIGINT) AS z_key FROM b
    """


@register(
    "events_zorder_keys",
    _zorder_oracle(),
    "Z-order (Morton) clustering keys over (user, minute) — the multi-dimensional layout primitive behind OPTIMIZE ZORDER BY; pure per-row bit math",
)
def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.layout import morton_key

    ev = load(spark, sf_dir, "events")
    x = (F.col("user_id") % 65536).alias("x")
    y = (F.floor(extract_epoch("ts") / 60).cast("bigint") % 65536).alias("y")
    return ev.select("event_id", x, y).select(
        "event_id", morton_key("x", "y", bits=16).cast("bigint").alias("z_key")
    )


@register(
    "events_retention_cohorts",
    EVENTS_CTE + """
    , first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
        FROM ev GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week
        FROM ev
    )
    SELECT f.cohort_week,
           CAST(FLOOR(epoch(a.active_week - f.cohort_week) / 604800) AS BIGINT) AS week_offset,
           COUNT(*) AS n_active_users
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
    "cohort retention matrix: per signup-week cohort, distinct users active k weeks later (first-touch window + distinct-activity self-join)",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    week = 604800.0
    offset = F.floor(
        (extract_epoch("active_week") - extract_epoch("cohort_week")) / week
    ).cast("bigint")
    return (
        activity.join(first_seen, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "events_pivot_types",
    EVENTS_CTE + """
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
           CAST(SUM(CAST(CAST(FLOOR(value * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) FILTER (event_type = 'purchase') AS DOUBLE)
               AS purchase_value
    FROM ev GROUP BY user_id
    """,
    "pivot: per-user event-type matrix via .pivot() (compiled to one-pass conditional aggregation — no extra shuffle vs plain groupBy)",
)
def events_pivot_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    # Explicit pivot values: with them Spark skips the distinct-values job
    # and compiles the pivot to a single-pass conditional aggregation —
    # same shuffle count as an ordinary groupBy.
    counted = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_dec("value")).alias("v"))
    )
    out = counted.select(
        "user_id",
        *[F.coalesce(F.col(f"{k}_n"), F.lit(0)).cast("bigint").alias(f"n_{k}") for k in kinds],
        F.col("purchase_v").cast("double").alias("purchase_value"),
    )
    return out


@register(
    "embedding_cosine_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.95
    """,
    "exact embedding-cosine near-duplicate pairs (brute-force correctness baseline; LSH variant is the scale path)",
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The distributed exact path: blocked GEMM over cogrouped Arrow blocks —
    # no driver collect or broadcast anywhere in the lineage, vectorized BLAS
    # per block pair. cosine_pairs (codegen cartesian) and
    # cosine_pairs_blocked (single-node BLAS) remain documented baselines.
    from connemara_spark.operators.similarity import cosine_pairs_gemm

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return cosine_pairs_gemm(emb, "vec_id", "embedding", threshold=0.95, n_blocks=8)


# ---------------------------------------------------------------------------
# Remaining TPC-H query shapes, adapted to the reduced schema (no partsupp,
# no shipmode/commitdate/comment columns).  Together with q1-q6/q10/q14/
# q18/q19/q22 above this completes the full 22-query relational surface:
# outer joins + double aggregation (q13), semi/anti joins (q20, q21),
# scalar subqueries (q15, q11, q17), share-of-total (q8, q11), and
# multi-year star joins (q7, q9).
# ---------------------------------------------------------------------------

@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(amount) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
               CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2))) AS amount
        FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                      JOIN orders ON o_orderkey = l_orderkey
                      JOIN customer ON c_custkey = o_custkey
                      JOIN nation n1 ON s_nationkey = n1.n_nationkey
                      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "bidirectional nation-pair shipping volume by year (TPC-H q7 shape)",
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    amount = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(amount).cast("double").alias("revenue"))
    )


@register(
    "q9_product_profit",
    """
    SELECT n_name AS nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2))) AS amount
        FROM part JOIN lineitem ON p_partkey = l_partkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%bolt%'
    )
    GROUP BY n_name, o_year
    """,
    "profit by supplier nation and year for a part-name family (TPC-H q9 shape)",
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select("p_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


@register(
    "q11_important_parts",
    """
    SELECT l_partkey,
           CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE)
           > (SELECT CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) * 0.001 FROM lineitem)
    """,
    "share-of-total HAVING with a global scalar subquery (TPC-H q11 shape)",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    amount = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE))
    per_part = li.groupBy("l_partkey").agg(F.sum(amount).cast("double").alias("part_value"))
    total = li.agg((F.sum(amount).cast("double") * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


@register(
    "q12_priority_by_linestatus",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
    "conditional counting by priority class (TPC-H q12 shape; linestatus stands in for shipmode)",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q13_customer_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    "left outer join + double aggregation (TPC-H q13 shape): order-count histogram",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    "argmax via scalar-subquery equality on exact decimal revenue (TPC-H q15 shape)",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE))).alias("total_rev")
    )
    best = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(best))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


@register(
    "q16_part_supplier_variety",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size < 20
    GROUP BY p_brand, p_type, p_size
    """,
    "distinct-count per attribute group (TPC-H q16 shape; lineitem is the part-supplier bridge)",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO") & (F.col("p_size") < 20)
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH avgq AS (
        SELECT l_partkey AS a_partkey,
               CAST(SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN avgq ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#13' AND l_quantity < 0.2 * avg_qty
    """,
    "below-average-quantity revenue via per-group average join (TPC-H q17 shape)",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    avgq = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avgq, F.col("a_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).cast("double").alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q20_red_part_shippers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) > 50
    )
    """,
    "semi join on a grouped-HAVING subquery (TPC-H q20 shape)",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return supp.join(heavy, "s_suppkey", "left_semi")


@register(
    "q21_suppliers_kept_orders_waiting",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM (
        SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
        FROM lineitem l1 JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
    ) t JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    "EXISTS / NOT EXISTS (TPC-H q21 shape) re-expressed as one per-order aggregation "
    "instead of a quadruple self-join: 2 shuffles total, no correlated probes",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # Per-order stats subsume both EXISTS probes: >1 distinct suppliers in the
    # order, exactly one supplier with a returned line — that supplier waits.
    r_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(r_supp).alias("n_r_supp"),
            F.max(r_supp).alias("waiting_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_r_supp") == 1))
    )
    return (
        per_order.join(F.broadcast(supp), F.col("waiting_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round-3 curation additions: cluster-scoped semantic dedup (SemDeDup shape),
# Bloom-filter decontamination, DSIR importance weights, sub-document chunk
# dedup — each a standard large-corpus training-data pass, each value-hash
# gated against a DuckDB twin.
# ---------------------------------------------------------------------------


def _semdedup_oracle(*, dim: int = 64, n_cells: int = 32, seed: int = 42,
                     threshold: float = 0.3) -> str:
    from connemara_spark.operators.similarity import ivf_centroids_lit, ivf_lit_dot_sql

    cents = ivf_centroids_lit(dim, n_cells, seed)
    cell_unions = " UNION ALL ".join(
        f"SELECT vec_id, {c} AS cell, ({ivf_lit_dot_sql(cents[c], 'embedding[{i}]')}) AS d FROM embeddings"
        for c in range(n_cells)
    )
    return f"""
    WITH dots AS ({cell_unions}),
    ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell DESC) AS cr
        FROM dots),
    cells AS (SELECT vec_id, cell FROM ranked WHERE cr = 1),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE list_cosine_similarity(ea.embedding, eb.embedding) > {threshold}
    )
    SELECT c.vec_id, c.cell,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM cells c LEFT JOIN dup d ON c.vec_id = d.vec_id
    """


@register(
    "embedding_semdedup",
    _semdedup_oracle(),
    "SemDeDup-shaped semantic dedup: coarse clustering bounds the quadratic — "
    "pairwise cosine runs only within a cluster; one hash join on the int cell key",
)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import semdedup

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return semdedup(emb, n_cells=32, threshold=0.3)


def _bloom_oracle(*, bench_frac: float = 0.02, n_hashes: int = 3, prefix_len: int = 5) -> str:
    from connemara_spark.operators.curation import fraction_threshold_hex

    t = fraction_threshold_hex(bench_frac)
    pos_list = ", ".join(
        f"substr(md5('{s}#' || gram), 1, {prefix_len})" for s in range(n_hashes)
    )
    return f"""
    WITH d AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 12, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+12], ' '))) AS shs
        FROM documents
    ),
    g AS (SELECT doc_id, unnest(shs) AS gram FROM d),
    bench_ids AS (
        SELECT doc_id FROM documents
        WHERE substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{t}'
    ),
    bg AS (SELECT DISTINCT gram FROM g JOIN bench_ids USING (doc_id)),
    bits AS (SELECT DISTINCT unnest([{pos_list}]) AS pos FROM bg),
    train AS (
        SELECT g.* FROM g
        WHERE substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) >= '{t}'
    ),
    probes AS (SELECT doc_id, gram, unnest([{pos_list}]) AS pos FROM train),
    hits AS (
        SELECT doc_id, gram FROM probes JOIN bits USING (pos)
        GROUP BY doc_id, gram HAVING COUNT(*) = {n_hashes}
    ),
    bloomed AS (SELECT doc_id, COUNT(*) AS n_bloom_hits FROM hits GROUP BY doc_id),
    exact AS (
        SELECT h.doc_id, COUNT(*) AS n_exact_hits
        FROM hits h JOIN bg USING (gram) GROUP BY h.doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id)
    SELECT t.doc_id, t.n_grams,
           COALESCE(b.n_bloom_hits, 0) AS n_bloom_hits,
           COALESCE(e.n_exact_hits, 0) AS n_exact_hits
    FROM totals t
    LEFT JOIN bloomed b USING (doc_id)
    LEFT JOIN exact e USING (doc_id)
    """


@register(
    "doc_bloom_decontam",
    _bloom_oracle(),
    "Bloom-filter benchmark decontamination: the tiny benchmark side renders to a "
    "broadcastable slot set; the corpus is probed map-side (no gram shuffle); hits are "
    "exact-confirmed, surfacing the realized false-positive rate",
)
def doc_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import (
        _hash_hex8, bloom_bits, bloom_decontaminate, fraction_threshold_hex, hash_sample,
    )
    from connemara_spark.operators.dedup import word_shingles

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    bench = hash_sample(docs, "doc_id", 0.02, family="md5")
    t = fraction_threshold_hex(0.02)
    train = docs.filter(_hash_hex8(F.col("doc_id"), 42, "md5") >= F.lit(t))
    bits = bloom_bits(bench, text_col="text", k_gram=13)
    bench_grams = bench.select(
        F.explode(F.array_distinct(word_shingles("text", 13))).alias("gram")
    ).distinct()
    return bloom_decontaminate(
        train, bits, bench_grams, id_col="doc_id", text_col="text", k_gram=13
    )


def _dsir_oracle(*, prefix_len: int = 4, smoothing: float = 0.5) -> str:
    n_buckets = 16 ** prefix_len
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT doc_id, 'u#' || unnest(t) AS feat FROM toks),
    big AS (
        SELECT doc_id, unnest(list_transform(
                   range(1, greatest(len(t) - 1, 0) + 1),
                   i -> 'b#' || t[i] || ' ' || t[i+1])) AS feat
        FROM toks
    ),
    feats AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
    f AS (SELECT doc_id, substr(md5(feat), 1, {prefix_len}) AS bucket FROM feats),
    tgt_ids AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    cr AS (SELECT bucket, COUNT(*) AS c_r FROM f GROUP BY bucket),
    ct AS (
        SELECT bucket, COUNT(*) AS c_t
        FROM f JOIN tgt_ids USING (doc_id) GROUP BY bucket
    ),
    stats AS (
        SELECT cr.bucket, c_r, COALESCE(c_t, 0) AS c_t
        FROM cr LEFT JOIN ct USING (bucket)
    ),
    tot AS (SELECT SUM(c_r) AS tr, SUM(c_t) AS tt FROM stats),
    ratios AS (
        SELECT bucket,
               CAST(ROUND(
                   ln((c_t + {smoothing}) / (tt + {smoothing} * {n_buckets}))
                 - ln((c_r + {smoothing}) / (tr + {smoothing} * {n_buckets})), 6)
                 AS DECIMAL(16,6)) AS log_ratio
        FROM stats CROSS JOIN tot
    )
    SELECT f.doc_id, COUNT(*) AS n_features,
           CAST(SUM(log_ratio) AS DOUBLE) AS dsir_logweight
    FROM f JOIN ratios USING (bucket)
    GROUP BY f.doc_id
    """


@register(
    "doc_dsir_weights",
    _dsir_oracle(),
    "DSIR importance log-weights (hashed unigram+bigram features, target = English "
    "subset): bounded bucket-stat table broadcasts back; per-bucket log-ratios are "
    "rounded to DECIMAL before the per-doc sum so the reduction is order-independent",
)
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import dsir_log_weights

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text", "lang")
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    return dsir_log_weights(
        docs.select("doc_id", "text"), target, id_col="doc_id", text_col="text"
    )


@register(
    "doc_chunk_dedup",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    ch AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(t[i*16+1 : i*16+16], ' ') AS chunk
        FROM (SELECT doc_id, t,
                     unnest(range(0, greatest(CAST(ceil(len(t) / 16.0) AS INT), 1))) AS i
              FROM toks)
    ),
    marked AS (
        SELECT doc_id, chunk_idx, chunk,
               CASE WHEN row_number() OVER (
                        PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) = 1
                    THEN 1 ELSE 0 END AS kept
        FROM ch
    )
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(1 - kept) AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (kept = 1), ''))
               AS kept_digest
    FROM marked GROUP BY doc_id
    """,
    "sub-document (CCNet-style paragraph) dedup over 16-word chunks: first occurrence "
    "wins corpus-wide; one shuffle on the chunk hash, one back on the doc id",
)
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import chunk_dedup

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    return chunk_dedup(docs, "doc_id", "text", chunk_words=16)


@register(
    "embedding_retrieval_precision",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 50),
    n AS (SELECT vec_id AS neighbor_id, embedding AS nvec FROM embeddings),
    dots AS (
        SELECT query_id, neighbor_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65), i -> CAST(qvec[i] * nvec[i] AS DOUBLE))),
                   (a, b) -> a + b) AS dot,
               sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65), i -> CAST(qvec[i] * qvec[i] AS DOUBLE))),
                   (a, b) -> a + b)) AS qn,
               sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65), i -> CAST(nvec[i] * nvec[i] AS DOUBLE))),
                   (a, b) -> a + b)) AS nn
        FROM q CROSS JOIN n WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot / (qn * nn) DESC, neighbor_id) AS rank
        FROM dots
    ),
    topk AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5)
    SELECT ql.label AS label,
           COUNT(DISTINCT t.query_id) AS n_queries,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same_label,
           ROUND(CAST(SUM(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS p_at_5
    FROM topk t
    JOIN embeddings ql ON ql.vec_id = t.query_id
    JOIN embeddings nl ON nl.vec_id = t.neighbor_id
    GROUP BY ql.label
    """,
    "retrieval diagnostics: label-precision@5 of exact cosine top-k — the eval a "
    "training pipeline runs to qualify an embedding column before semantic dedup",
)
def embedding_retrieval_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.similarity import brute_force_topk

    emb = spread(load(spark, sf_dir, "embeddings"))
    queries_df = emb.filter(F.col("vec_id") < 50)
    topk = brute_force_topk(emb, k=5, queries=queries_df).select(
        "query_id", "neighbor_id"
    )
    labels = emb.select("vec_id", "label")
    same = F.when(F.col("qlabel") == F.col("nlabel"), F.lit(1)).otherwise(F.lit(0))
    return (
        topk.join(
            F.broadcast(labels.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))),
            "query_id",
        )
        .join(
            F.broadcast(labels.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))),
            "neighbor_id",
        )
        .groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(same).cast("bigint").alias("n_same_label"),
            F.round(F.sum(same).cast("double") / F.count(F.lit(1)), 6).alias("p_at_5"),
        )
    )


@register(
    "events_resample_hourly_ffill",
    f"""
    {EVENTS_CTE},
    b AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket, COUNT(*) AS n_events,
               SUM(CAST(CAST(FLOOR(value * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS sum_value
        FROM ev GROUP BY 1, 2
    ),
    s AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM b GROUP BY 1),
    g AS (
        SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        FROM s
    ),
    j AS (
        SELECT g.user_id, g.bucket, b.n_events, b.sum_value
        FROM g LEFT JOIN b USING (user_id, bucket)
    ),
    filled AS (
        SELECT user_id, bucket,
               COALESCE(n_events, 0) AS n_events,
               last_value(sum_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
               CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS is_gap
        FROM j
    )
    SELECT user_id,
           COUNT(*) AS n_buckets,
           CAST(SUM(is_gap) AS BIGINT) AS n_gaps,
           CAST(SUM(filled_value) AS DOUBLE) AS filled_total
    FROM filled GROUP BY user_id
    """,
    "per-user hourly resampling with forward-fill: per-key dense grid (sequence from "
    "each key's own span — no global calendar, no driver loop), last-known value "
    "carried forward by a per-key window; summarised per key (the grid itself stays "
    "distributed — returning 1M grid rows through collect() is a harness cost, not a "
    "query cost) with a DECIMAL-exact checksum of the filled series",
)
def events_resample_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.timeseries import resample_ffill

    ev = load(spark, sf_dir, "events")
    out = resample_ffill(
        ev, "user_id", "ts",
        step="1 hour", trunc_unit="hour",
        aggs={"n_events": F.count(F.lit(1)), "sum_value": F.sum(_dec("value"))},
        fill_cols=["sum_value"],
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("is_gap").cast("bigint").alias("n_gaps"),
        F.sum("sum_value").cast("double").alias("filled_total"),
    )


@register(
    "corpus_kmv_distinct_shingles",
    """
    WITH d AS (
        SELECT lang, unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))) AS sh
        FROM documents
    ),
    h AS (SELECT DISTINCT lang, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS hv FROM d),
    r AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM h),
    kth AS (SELECT lang, MAX(hv) AS vk, COUNT(*) AS nk FROM r WHERE rn <= 128 GROUP BY lang),
    ex AS (SELECT lang, COUNT(*) AS n_distinct FROM h GROUP BY lang),
    est AS (
        SELECT kth.lang,
               ROUND(CASE WHEN nk < 128 THEN CAST(nk AS DOUBLE)
                          ELSE 127.0 / (CAST(vk AS DOUBLE) / 1152921504606846976.0)
                     END, 4) AS kmv_estimate,
               n_distinct
        FROM kth JOIN ex USING (lang)
    )
    SELECT lang, kmv_estimate, n_distinct,
           ROUND(abs(kmv_estimate - n_distinct) / n_distinct, 6) AS rel_error
    FROM est
    """,
    "KMV distinct-count sketch (k=128) of 5-gram shingles per language — a "
    "deterministic md5-based sketch whose accuracy claim sits under the cross-engine "
    "value gate; mergeable bounded state, the 100 TB path for cardinality questions",
)
def corpus_kmv_distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import word_shingles
    from connemara_spark.operators.sketch import kmv_distinct

    docs = spread(load(spark, sf_dir, "documents")).select(
        "lang", F.explode(word_shingles("text", 5)).alias("sh")
    )
    return kmv_distinct(docs, ["lang"], "sh", k=128)


@register(
    "corpus_cms_bigram_counts",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    big AS (
        SELECT doc_id, unnest(list_transform(
                   range(1, greatest(len(t) - 1, 0) + 1),
                   i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks
    ),
    exact AS (SELECT bigram, COUNT(*) AS exact_count FROM big GROUP BY bigram),
    top AS (
        SELECT bigram, exact_count FROM exact
        ORDER BY exact_count DESC, bigram LIMIT 10
    ),
    cms AS (
        SELECT cms_row, bucket, COUNT(*) AS c FROM (
            SELECT 0 AS cms_row, substr(md5('0#' || bigram), 1, 2) AS bucket FROM big
            UNION ALL
            SELECT 1, substr(md5('1#' || bigram), 1, 2) FROM big
            UNION ALL
            SELECT 2, substr(md5('2#' || bigram), 1, 2) FROM big
        ) GROUP BY cms_row, bucket
    ),
    probes AS (
        SELECT bigram, 0 AS cms_row, substr(md5('0#' || bigram), 1, 2) AS bucket FROM top
        UNION ALL
        SELECT bigram, 1, substr(md5('1#' || bigram), 1, 2) FROM top
        UNION ALL
        SELECT bigram, 2, substr(md5('2#' || bigram), 1, 2) FROM top
    ),
    lk AS (
        SELECT bigram, MIN(c) AS cms_estimate
        FROM probes JOIN cms USING (cms_row, bucket)
        GROUP BY bigram
    )
    SELECT t.bigram, t.exact_count, lk.cms_estimate,
           CAST(lk.cms_estimate - t.exact_count AS BIGINT) AS overcount
    FROM top t JOIN lk USING (bigram)
    """,
    "Count-Min sketch (d=3, w=256) frequency estimates for the top-10 exact bigrams — "
    "integer-only one-sided estimator, counter table is d*w rows (broadcastable at any "
    "corpus size); overcount column surfaces the collision inflation",
)
def corpus_cms_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.sketch import cms_counts, cms_lookup

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = docs.select(F.split("text", " ").alias("t"))
    big = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    exact = big.groupBy("bigram").agg(F.count("*").alias("exact_count"))
    top = exact.orderBy(F.col("exact_count").desc(), "bigram").limit(10)
    cms = cms_counts(big, "bigram", d=3, w_hex=2)
    lk = cms_lookup(cms, top.select("bigram"), "bigram", d=3, w_hex=2)
    return (
        top.join(lk, "bigram")
        .select(
            "bigram", "exact_count", "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).cast("bigint").alias("overcount"),
        )
    )


@register(
    "corpus_heavy_bigrams",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    big AS (
        SELECT unnest(list_transform(
                   range(1, greatest(len(t) - 1, 0) + 1),
                   i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks
    ),
    tot AS (SELECT COUNT(*) AS n FROM big)
    SELECT bigram, COUNT(*) AS cnt
    FROM big, tot
    GROUP BY bigram, tot.n
    HAVING COUNT(*) * 900 > tot.n * 1
    """,
    "EXACT heavy hitters (bigrams with frequency > N/900) via the two-pass "
    "Misra-Gries construction: pass 1 folds each partition into <= 900 MG "
    "counters (Arrow-batched, O(k) state regardless of partition size) whose "
    "union PROVABLY contains every true heavy hitter; pass 2 exactly counts "
    "only the broadcast candidate set, capping the shuffle at |candidates| "
    "rows per task instead of the full distinct-key domain — the 100 TB "
    "shape for token/URL/user-id frequency questions; the threshold compare "
    "is integer-exact (cnt*den > N*num) so the gate is bit-reproducible",
)
def corpus_heavy_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.sketch import exact_heavy_hitters

    docs = spread(load(spark, sf_dir, "documents")).select("text")
    toks = docs.select(F.split("text", " ").alias("t"))
    big = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    return exact_heavy_hitters(big, "bigram", num=1, den=900)


@register(
    "doc_stream_heavy_bigrams",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    big AS (
        SELECT unnest(list_transform(
                   range(1, greatest(len(t) - 1, 0) + 1),
                   i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks
    ),
    tot AS (SELECT COUNT(*) AS n FROM big)
    SELECT bigram, COUNT(*) AS cnt
    FROM big, tot
    GROUP BY bigram, tot.n
    HAVING COUNT(*) * 900 > tot.n * 1
    """,
    "heavy hitters ON INGEST (STREAMING, applyInPandasWithState): the corpus "
    "lands as two segments; each shard of the bigram stream keeps a "
    "Misra-Gries summary of <= 900 counters as keyed state (bounded at "
    "shards*k regardless of stream length — what a groupBy over a "
    "crawl-scale token stream can never promise) and emits "
    "its summary under a monotone seq each microbatch (the consumer keeps "
    "each shard's latest: <= shards*k candidates); hash sharding makes the "
    "shard-local MG bound apply to GLOBAL frequency, so the latest "
    "summaries are a guaranteed candidate SUPERSET, "
    "and the exact batch recount of the broadcast candidates "
    "filters the extras — the final rows are deterministic for any "
    "segmentation and equal corpus_heavy_bigrams exactly",
)
def doc_stream_heavy_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from connemara_spark.streaming.stateful import (
        heavy_hitters_stream,
        hh_latest_candidates,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    row = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    mid = (int(row["lo"]) + int(row["hi"])) // 2 + 1

    def bigrams(frame: DataFrame) -> DataFrame:
        t = F.split("text", " ")
        return frame.select(t.alias("t")).select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                    F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("bigram")
        )

    root = tempfile.mkdtemp(prefix="connemara_streamhh_")
    try:
        land = _land_stream_segments(
            root,
            [docs.filter(F.col("doc_id") < mid), docs.filter(F.col("doc_id") >= mid)],
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        cands_stream = heavy_hitters_stream(bigrams(stream), "bigram", num=1, den=900)
        drained = _drain_to_table(
            spark, cands_stream, _os.path.join(root, "ckpt"),
            # 8 shard keys only: the narrow byte-derived width wins
            # (measured — see _stream_state_width)
            state_width=_stream_state_width(spark, land, python_keys=8),
        )
        cands = hh_latest_candidates(drained).select(F.col("k").alias("bigram"))
        # exact batch recount of ONLY the candidates (threshold compare is
        # integer-exact, as in sketch.exact_heavy_hitters)
        big = bigrams(docs)
        n = big.count()
        return (
            big.join(F.broadcast(cands), "bigram", "inner")
            .groupBy("bigram")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") * F.lit(900) > F.lit(int(n)) * F.lit(1))
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "corpus_curation_funnel",
    """
    WITH q AS (
        SELECT doc_id,
               ROUND(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.25
                     + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1)) * 0.25
                     + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1)) * 0.15
                     + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1)) * 0.15
                     + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / greatest(len(string_split(text, ' ')), 1)) * 0.20, 6) AS quality_score
        FROM documents
    ),
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    tc AS (
        SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS twf
        FROM (SELECT doc_id, w, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(ws) AS w FROM w) GROUP BY doc_id, w)
        GROUP BY doc_id
    ),
    r AS (
        SELECT w.doc_id,
               (ROUND(COALESCE(twf, 0.0), 6) > 0.20 OR
                ROUND(CASE WHEN len(ws) >= 2 THEN
                    CAST(len(ws) - 1 - len(list_distinct(list_transform(
                        range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' ')))) AS DOUBLE)
                    / (len(ws) - 1) ELSE 0.0 END, 6) > 0.35) AS repetition_flag
        FROM w LEFT JOIN tc USING (doc_id)
    ),
    rk AS (
        SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ),
    j AS (
        SELECT d.doc_id, d.lang, q.quality_score, r.repetition_flag, rk.rn
        FROM documents d
        JOIN q USING (doc_id) JOIN r USING (doc_id) JOIN rk USING (doc_id)
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN quality_score >= 0.72 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality,
           CAST(SUM(CASE WHEN quality_score >= 0.72 AND NOT repetition_flag
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN quality_score >= 0.72 AND NOT repetition_flag AND rn = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_final
    FROM j GROUP BY lang
    """,
    "per-language curation funnel: total -> quality gate -> repetition gate -> exact-"
    "dedup winner — the per-stage retention report a pipeline owner reads before a "
    "training run (composes the individually-gated quality/repetition/dedup operators)",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from connemara_spark.operators.text import quality_features, repetition_features

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "lang", "text")
    scored = quality_features(docs, "text")
    scored = repetition_features(scored, "doc_id", "text")
    rn = F.row_number().over(Window.partitionBy(F.md5("text")).orderBy("doc_id"))
    j = scored.withColumn("rn", rn)
    qg = F.col("quality_score") >= 0.72
    cg = qg & ~F.col("repetition_flag")
    fg = cg & (F.col("rn") == 1)
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(qg.cast("int")).cast("bigint").alias("n_quality"),
        F.sum(cg.cast("int")).cast("bigint").alias("n_clean"),
        F.sum(fg.cast("int")).cast("bigint").alias("n_final"),
    )


@register(
    "events_rolling_zscore",
    f"""
    {EVENTS_CTE},
    r AS (
        SELECT event_id, user_id, ts, CAST(CAST(FLOOR(value * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) AS v,
               SUM(CAST(CAST(FLOOR(value * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) OVER w AS s1,
               SUM(CAST(CAST(FLOOR(value * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * CAST(CAST(FLOOR(value * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) OVER w AS s2,
               COUNT(*) OVER w AS n
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
        SELECT event_id, user_id, ts, v, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               sqrt(greatest(CAST(s2 AS DOUBLE) / n
                             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0)) AS sigma
        FROM r WHERE n >= 10
    )
    SELECT event_id, user_id,
           CAST(v AS DOUBLE) AS value,
           ROUND(mu, 6) AS roll_mean,
           ROUND((CAST(v AS DOUBLE) - mu) / sigma, 6) AS zscore
    FROM z
    WHERE sigma > 0 AND abs((CAST(v AS DOUBLE) - mu) / sigma) > 3.0
    """,
    "per-user rolling z-score anomaly detection: rolling moments from DECIMAL-exact "
    "windowed sums (order-independent, engine-identical), anomalies = |z| > 3 over a "
    "20-event trailing window — the telemetry outlier pass before rate aggregation",
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    v = _dec("value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    r = ev.select(
        "event_id", "user_id", "ts", v.alias("v"),
        F.sum(v).over(w).alias("s1"),
        F.sum(v * v).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).filter(F.col("n") >= 10)
    mu = F.col("s1").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n") - mu * mu, F.lit(0.0)
        )
    )
    z = (F.col("v").cast("double") - mu) / sigma
    return (
        r.withColumn("mu", mu)
        .withColumn("sigma", sigma)
        .filter((F.col("sigma") > 0) & (F.abs((F.col("v").cast("double") - F.col("mu")) / F.col("sigma")) > 3.0))
        .select(
            "event_id", "user_id",
            F.col("v").cast("double").alias("value"),
            F.round("mu", 6).alias("roll_mean"),
            F.round((F.col("v").cast("double") - F.col("mu")) / F.col("sigma"), 6).alias("zscore"),
        )
    )


def _hdr_quantiles_oracle() -> str:
    from connemara_spark.operators.sketch import hdr_bucket_lo_sql

    lo = hdr_bucket_lo_sql("cents")
    est_cols = ", ".join(
        f"CAST(MIN(CASE WHEN cum * 100 >= {q} * n THEN lo END) AS DOUBLE) / 100 "
        f"AS p{q}_est"
        for q in (50, 90, 99)
    )
    exact_cols = ", ".join(
        f"CAST(MIN(CASE WHEN rn = ({q} * n + 99) // 100 THEN cents END) AS DOUBLE) "
        f"/ 100 AS p{q}_exact"
        for q in (50, 90, 99)
    )
    return f"""
    WITH src AS (
        SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    hist AS (
        SELECT event_type, {lo} AS lo, COUNT(*) AS c
        FROM src GROUP BY 1, 2
    ),
    hb AS (
        SELECT event_type, lo, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY lo
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM hist
    ),
    est AS (
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, {est_cols}
        FROM hb GROUP BY event_type
    ),
    ranked AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM src
    ),
    exact AS (
        SELECT event_type, {exact_cols}
        FROM ranked GROUP BY event_type
    )
    SELECT e.event_type, e.n, e.p50_est, x.p50_exact,
           e.p90_est, x.p90_exact, e.p99_est, x.p99_exact
    FROM est e JOIN exact x USING (event_type)
    """


@register(
    "events_hdr_quantiles",
    _hdr_quantiles_oracle(),
    "bounded-state quantiles for telemetry (the HDR-histogram idea, made "
    "engine-exact): values snap to the integer cents grid, then an INTEGER "
    "log bucket — top 1+3 significant bits via bin-string length and shifts, "
    "no log()/float anywhere — so the whole (group, bucket) histogram is "
    "bit-identical cross-engine, mergeable, map-side-combinable and bounded "
    "at ~63*8 buckets per group regardless of data volume (relative error "
    "< 12.5%); p50/p90/p99 read off the bucket cumsum with an integer-exact "
    "threshold (cum*100 >= q*N), and the EXACT rank-selected quantiles ride "
    "along as the on-gate error-bound witness (the per-group full sort a "
    "100 TB deployment drops — the sketch leg is the scale path)",
)
def events_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.functions.money import grid_cents
    from connemara_spark.operators.sketch import hdr_quantile_rollup

    ev = load(spark, sf_dir, "events")
    src = ev.select("event_type", grid_cents("value").alias("cents"))
    return hdr_quantile_rollup(src, "event_type", "cents")


@register(
    "doc_mixture_resample",
    """
    WITH g AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    p AS (
        SELECT lang, n_docs,
               CAST(n_docs AS DOUBLE) / SUM(CAST(n_docs AS DOUBLE)) OVER () AS nat_frac,
               exp(0.7 * ln(CAST(n_docs AS DOUBLE)))
                   / SUM(exp(0.7 * ln(CAST(n_docs AS DOUBLE)))) OVER () AS adj_frac
        FROM g
    ),
    w AS (
        SELECT lang, n_docs, adj_frac / nat_frac AS wt,
               MAX(adj_frac / nat_frac) OVER () AS maxw
        FROM p
    ),
    acc AS (SELECT lang, n_docs, wt / maxw AS p_accept FROM w),
    s AS (
        SELECT d.lang,
               CAST(CAST('0x' || substr(md5('77|' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) AS DOUBLE) / 4294967296.0 AS u,
               a.p_accept
        FROM documents d JOIN acc a USING (lang)
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN u < p_accept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           ROUND(MIN(p_accept), 6) AS p_accept
    FROM s GROUP BY lang
    """,
    "deterministic temperature-mixture resampling: per-language acceptance probability "
    "(alpha=0.7 weights, scaled so the most-upsampled language keeps everything) applied "
    "as a pure hash filter — reproducible under retries and re-partitioning, no rand()",
)
def doc_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "lang")
    # three readers (totals collect, max-wt collect, acceptance) — pinned
    # via localCheckpoint (bounded per-language rows, ContextCleaner-freed
    # when unreferenced) rather than persist, which would outlive the query
    g = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).localCheckpoint()
    # corpus totals + max weight inlined as literal scalars (two bounded
    # agg jobs over the LANGUAGE aggregate — the doc_tfidf pattern; no
    # single-partition WindowExec, no 1-row nested-loop join)
    pw = F.exp(F.lit(0.7) * F.log(F.col("n_docs").cast("double")))
    trow = g.agg(
        F.sum("n_docs").alias("__tot_docs"), F.sum(pw).alias("__tot_pw")
    ).collect()[0]
    nat = F.col("n_docs").cast("double") / F.lit(float(trow["__tot_docs"]))
    adj = pw / F.lit(float(trow["__tot_pw"]))
    w = g.select("lang", "n_docs", (adj / nat).alias("wt"))
    max_wt = w.agg(F.max("wt")).collect()[0][0]
    acc = w.select(
        "lang", "n_docs",
        (F.col("wt") / F.lit(float(max_wt))).alias("p_accept"),
    )
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("77|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("bigint").cast("double") / F.lit(4294967296.0)
    )
    s = docs.join(F.broadcast(acc.select("lang", "p_accept")), "lang").withColumn("u", u)
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("u") < F.col("p_accept")).cast("int")).cast("bigint").alias("n_sampled"),
        F.round(F.min("p_accept"), 6).alias("p_accept"),
    )


@register(
    "cdc_schema_drift",
    """
    WITH drift AS (
        SELECT event_id FROM events WHERE event_id % 7 = 0 AND event_type <> 'error'
    )
    SELECT 'db1' AS database, 'public' AS "schema", 'customer' AS "table",
           'c_phone' AS "column", 'unknown' AS status,
           COUNT(*) AS n_events,
           MIN(event_id) AS first_lsn, MAX(event_id) AS last_lsn
    FROM drift
    UNION ALL
    SELECT 'db1', 'public', 'account', col, 'unobserved',
           0, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM (VALUES ('a_userkey'), ('a_last_type'), ('a_balance')) t(col)
    """,
    "schema-drift detector: observed event columns vs the engine catalog — an "
    "injected c_phone column (missed-DDL simulation) reports 'unknown' with its "
    "LSN range, and a registered-but-silent table's columns report 'unobserved'; "
    "one explode + one agg shuffle on column-name cardinality",
)
def cdc_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.catalog import EngineCatalog
    from connemara_spark.events import schema_drift_report

    ev = spread(load(spark, sf_dir, "events"))
    key = ((F.col("user_id") * 31 + F.col("event_id") % 100) % 200 + 1).cast("long")
    kind = (
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "signup", "insert")
        .otherwise("update")
    )
    base_names = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    names = F.array(*[F.lit(c) for c in base_names])
    vals = F.array(
        key.cast("string"),
        F.concat(F.lit("cdc#"), F.col("event_id").cast("string")),
        (F.col("user_id") % 25).cast("string"),
        F.col("value").cast("string"),
        F.col("event_type"),
    )
    # missed-DDL simulation: every 7th non-delete event carries an extra
    # column the catalog does not know about
    drifted = F.col("event_id") % 7 == 0
    names = F.when(drifted, F.concat(names, F.array(F.lit("c_phone")))).otherwise(names)
    vals = F.when(drifted, F.concat(vals, F.array(F.lit("555-0100")))).otherwise(vals)
    payload = F.to_json(
        F.struct(
            kind.alias("kind"),
            F.lit("public").alias("schema"),
            F.lit("customer").alias("table"),
            F.when(kind != "delete", names).alias("columnnames"),
            F.when(kind != "delete", vals).alias("columnvalues"),
        )
    )
    bronze = ev.select(
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit("db1").alias("database"),
        F.lit("slot_db1").alias("source_slotname"),
        F.col("event_id").alias("lsn_start"),
        (F.col("event_id") + 1000).alias("xid"),
        F.col("ts").alias("xid_timestamp"),
        payload.alias("payload"),
    )
    cat = EngineCatalog()
    cat.register(CUSTOMER_SPEC)
    cat.register(ACCOUNT_SPEC)  # registered but silent -> 'unobserved' rows
    return schema_drift_report(parse_events(bronze), cat)


@register(
    "cdc_join_view_delta",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name
        FROM events
    ),
    c0 AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name
        FROM customer c FULL OUTER JOIN
             (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
                             FROM chg WHERE event_id <= 5000) t WHERE rn = 1) l
          ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    ),
    c1 AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name
        FROM customer c FULL OUTER JOIN
             (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
                             FROM chg) t WHERE rn = 1) l
          ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    ),
    a0 AS (
        SELECT user_id AS a_userkey, event_type AS a_last_type, value AS a_balance
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
              FROM events WHERE event_id <= 5000) t WHERE rn = 1
    ),
    a1 AS (
        SELECT user_id AS a_userkey, event_type AS a_last_type, value AS a_balance
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
              FROM events) t WHERE rn = 1
    ),
    tk AS (
        SELECT DISTINCT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS k
        FROM events WHERE event_id > 5000
        UNION
        SELECT DISTINCT user_id FROM events WHERE event_id > 5000
    ),
    v0 AS (
        SELECT c.c_custkey, c.c_name, a.a_last_type, a.a_balance
        FROM c0 c JOIN a0 a ON c.c_custkey = a.a_userkey
        WHERE c.c_custkey IN (SELECT k FROM tk)
    ),
    v1 AS (
        SELECT c.c_custkey, c.c_name, a.a_last_type, a.a_balance
        FROM c1 c JOIN a1 a ON c.c_custkey = a.a_userkey
        WHERE c.c_custkey IN (SELECT k FROM tk)
    )
    SELECT 'ins' AS op, * FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
    UNION ALL
    SELECT 'del' AS op, * FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1)
    """,
    "incremental JOIN-view maintenance (Blakeley-style delta rule): the customer x "
    "account equi-join view's row-level delta between the LSN-5000 cut and the full "
    "stream, computed ONLY over join keys touched by either CDC delta (broadcast "
    "semi-join pruning) — work scales with |delta|, not the view; oracle recomputes "
    "both view states and diffs them with EXCEPT ALL",
)
def cdc_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from connemara_spark.operators.ivm import join_view_delta_staged

    cut = 5000
    snapshot = load(spark, sf_dir, "customer")
    c_ev = parse_events(_customer_cdc_bronze(spark, sf_dir))

    # No spread(): this subtree is a narrow scan + partial-agg distinct, not
    # expression-heavy per-row work — the repartition shuffle cost more than
    # the parallelism bought (1.7s -> 0.6s at sf0.1).
    ev = load(spark, sf_dir, "events")
    late = ev.filter(F.col("event_id") > cut)
    touched = (
        late.select(((F.col("user_id") * 31 + F.col("event_id") % 100) % 200 + 1).cast("long").alias("k"))
        .union(late.select(F.col("user_id").alias("k")))
        .distinct()
        # materialized ONCE (tiny: distinct keys) so the four semi-join
        # pruning sites below broadcast the same frame instead of each
        # re-running the events scan+distinct inside the single fold job
        .localCheckpoint(eager=True)
    )

    # One STAGED fold per stream (apply_changes_cut): a single parse +
    # shuffle + sorted per-key fold yields BOTH states (at the LSN cut and
    # final — the post-cut fold seeds from the pre-cut result), semi-join-
    # PRUNED to the touched-key set BEFORE the fold (keys=). The delta is
    # then emitted DIRECTLY from the two per-key (__s0, __s1) frames —
    # join_view_delta_staged: one |Δ|-sized inner join + per-row null-safe
    # struct compare — so neither view state is ever materialized and the
    # exceptAll set-diffs (two extra shuffles over both full view states,
    # plus the localCheckpoint barriers that kept them from re-executing
    # the folds) disappear. History: four independent folds + exceptAll =
    # 8.66s; staged folds + exceptAll = 6.8s; this shape runs as ONE job.
    lsn_cut = lambda e: e["lsn_start"] <= cut
    tk_c = touched.select(F.col("k").alias("c_custkey"))
    _, _, c_flat = apply_changes_cut(
        snapshot, c_ev, CUSTOMER_SPEC, cut=lsn_cut, keys=tk_c
    )

    acct_schema = T.StructType(
        [
            T.StructField("a_userkey", T.LongType()),
            T.StructField("a_last_type", T.StringType()),
            T.StructField("a_balance", T.DoubleType()),
        ]
    )
    a_ev = parse_events(_account_cdc_bronze(spark, sf_dir))
    empty = spark.createDataFrame([], acct_schema)
    tk_a = touched.select(F.col("k").alias("a_userkey"))
    _, _, a_flat = apply_changes_cut(
        empty, a_ev, ACCOUNT_SPEC, cut=lsn_cut, keys=tk_a
    )
    return join_view_delta_staged(
        c_flat, a_flat,
        key_a="c_custkey", key_b="a_userkey",
        cols_a=["c_custkey", "c_name"], cols_b=["a_last_type", "a_balance"],
    )


ACCOUNT_SPEC = TableSpec(
    database="db1",
    schema="public",
    table="account",
    columns=[
        ColumnSpec("a_userkey", "bigint"),
        ColumnSpec("a_last_type", "text"),
        ColumnSpec("a_balance", "double precision"),
    ],
    pk_cols=["a_userkey"],
)


def _account_cdc_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SECOND wal2json stream from the same source (interleaved in the
    same LSN domain as the customer stream): per-user account upserts —
    the two-table shape the consistent-cut query needs."""
    ev = spread(load(spark, sf_dir, "events"))
    names = F.array(*[F.lit(c) for c in ["a_userkey", "a_last_type", "a_balance"]])
    vals = F.array(
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.col("value").cast("string"),
    )
    payload = F.to_json(
        F.struct(
            F.lit("insert").alias("kind"),
            F.lit("public").alias("schema"),
            F.lit("account").alias("table"),
            names.alias("columnnames"),
            vals.alias("columnvalues"),
        )
    )
    return ev.select(
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("insert_timestamp"),
        F.lit("db1").alias("database"),
        F.lit("slot_db1").alias("source_slotname"),
        F.col("event_id").alias("lsn_start"),
        (F.col("event_id") + 1000).alias("xid"),
        F.col("ts").alias("xid_timestamp"),
        payload.alias("payload"),
    )


def _state_checksum(repr_col: F.Column) -> F.Column:
    """Order-independent content checksum of a table state: SUM of 60-bit
    md5-derived row hashes in DECIMAL(38,0) — exact (no overflow wrap, no
    float), identical in any engine, and computable as a map-side partial
    aggregate at any table size (unlike a sorted digest)."""
    h = F.conv(F.substring(F.md5(repr_col), 1, 15), 16, 10).cast("bigint")
    return F.sum(h.cast("decimal(38,0)"))


@register(
    "cdc_consistent_cut",
    """
    WITH chg AS (
        SELECT CAST((user_id * 31 + event_id % 100) % 200 + 1 AS BIGINT) AS c_custkey,
               event_id,
               CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
               'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
               CAST(user_id % 25 AS INTEGER) AS c_nationkey,
               value AS c_acctbal,
               event_type AS c_mktsegment
        FROM events
        WHERE event_id <= 5000
    ),
    lastc AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY event_id DESC) AS rn
            FROM chg) t WHERE rn = 1
    ),
    cust AS (
        SELECT COALESCE(l.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
               CASE WHEN l.c_custkey IS NULL THEN c.c_nationkey ELSE l.c_nationkey END AS c_nationkey,
               CASE WHEN l.c_custkey IS NULL THEN c.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
               CASE WHEN l.c_custkey IS NULL THEN c.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
        FROM customer c FULL OUTER JOIN lastc l ON c.c_custkey = l.c_custkey
        WHERE COALESCE(l.op, '') <> 'delete'
    ),
    acct AS (
        SELECT user_id AS a_userkey, event_type AS a_last_type, value AS a_balance
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events WHERE event_id <= 5000) t
        WHERE rn = 1
    ),
    cs AS (
        SELECT COUNT(*) AS customer_rows,
               CAST(SUM(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS customer_balance_total,
               CAST(SUM(CAST(CAST('0x' || substr(md5(
                        CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||
                        CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment), 1, 15)
                    AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS customer_checksum
        FROM cust
    ),
    asum AS (
        SELECT COUNT(*) AS account_rows,
               CAST(SUM(CAST(CAST(FLOOR(a_balance * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS account_balance_total,
               CAST(SUM(CAST(CAST('0x' || substr(md5(
                        CAST(a_userkey AS VARCHAR) || '|' || a_last_type), 1, 15)
                    AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS account_checksum
        FROM acct
    )
    SELECT 5000 AS lsn_cut, cs.*, asum.* FROM cs CROSS JOIN asum
    """,
    "transactionally-consistent cross-table cut: TWO interleaved CDC streams folded to "
    "the same LSN bound, each table fingerprinted with an order-independent DECIMAL "
    "row-hash checksum (map-side-aggregable drift detection, the J4 assertion scaled "
    "to whole-table verification)",
)
def cdc_consistent_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    lsn_cut = 5000
    snapshot = load(spark, sf_dir, "customer")
    cust_bronze = _customer_cdc_bronze(spark, sf_dir).localCheckpoint()
    cust = apply_changes(
        snapshot,
        parse_events(cust_bronze).filter(F.col("lsn_start") <= lsn_cut),
        CUSTOMER_SPEC,
    )
    acct_schema = T.StructType(
        [
            T.StructField("a_userkey", T.LongType()),
            T.StructField("a_last_type", T.StringType()),
            T.StructField("a_balance", T.DoubleType()),
        ]
    )
    acct_bronze = _account_cdc_bronze(spark, sf_dir).localCheckpoint()
    acct = apply_changes(
        spark.createDataFrame([], acct_schema),
        parse_events(acct_bronze).filter(F.col("lsn_start") <= lsn_cut),
        ACCOUNT_SPEC,
    )
    c_repr = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"), "c_name",
        F.col("c_nationkey").cast("string"), "c_mktsegment",
    )
    a_repr = F.concat_ws("|", F.col("a_userkey").cast("string"), "a_last_type")
    cs = cust.agg(
        F.count(F.lit(1)).alias("customer_rows"),
        F.sum(_dec("c_acctbal")).cast("double").alias("customer_balance_total"),
        _state_checksum(c_repr).cast("string").alias("customer_checksum"),
    )
    asum = acct.agg(
        F.count(F.lit(1)).alias("account_rows"),
        F.sum(_dec("a_balance")).cast("double").alias("account_balance_total"),
        _state_checksum(a_repr).cast("string").alias("account_checksum"),
    )
    return cs.crossJoin(asum).select(F.lit(lsn_cut).alias("lsn_cut"), "*")


@register(
    "corpus_bpe_pair_stats",
    """
    WITH v AS (
        SELECT word, COUNT(*) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ) WHERE word <> '' GROUP BY word
    ),
    syms AS (
        SELECT list_append(list_transform(range(1, length(word) + 1), i -> word[i]),
                           '</w>') AS s, n
        FROM v
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(s)), i -> s[i] || chr(31) || s[i+1])) AS pair, n
        FROM syms
    )
    SELECT replace(pair, chr(31), '+') AS pair, CAST(SUM(n) AS BIGINT) AS freq
    FROM pairs GROUP BY pair
    ORDER BY freq DESC, pair LIMIT 20
    """,
    "BPE training round 0: corpus-weighted adjacent symbol-pair counts over the word "
    "vocabulary (the one corpus-sized shuffle; every later round is vocabulary-bounded)",
)
def corpus_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.bpe import PAIR_SEP, chars_expr, pair_counts, word_vocab

    docs = spread(load(spark, sf_dir, "documents")).select("text")
    vocab = word_vocab(docs, "text")
    syms = vocab.select(chars_expr(F.col("word")).alias("syms"), "n")
    return (
        pair_counts(syms)
        .select(F.replace(F.col("pair"), F.lit(PAIR_SEP), F.lit("+")).alias("pair"),
                F.col("freq").cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(20)
    )


def _bpe_merges_offline(sf_dir: str, n_merges: int) -> list[tuple[int, str, str, int]]:
    """Spark-free reference trainer (duckdb word counts + pure-python
    merge loop) — the independent implementation the gate compares the
    Spark trainer against."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT word, COUNT(*) FROM (SELECT unnest(string_split(text, ' ')) AS word "
        f"FROM '{sf_dir}/documents.parquet') WHERE word <> '' GROUP BY word"
    ).fetchall()
    vocab = dict(rows)
    symtab = {w: list(w) + ["</w>"] for w in vocab}
    merges = []
    for step in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for w, n in vocab.items():
            s = symtab[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + n
        if not pc:
            break
        top = max(pc.values())
        a, b = min(p for p, c in pc.items() if c == top)
        merges.append((step, a, b, top))
        for w in symtab:
            s = symtab[w]
            out, just = [s[0]], False
            for x in s[1:]:
                if out[-1] == a and x == b and not just:
                    out[-1] = a + b
                    just = True
                else:
                    out.append(x)
                    just = False
            symtab[w] = out
    return merges


def _bpe_merges_oracle(sf_dir: str) -> str:
    rows = _bpe_merges_offline(sf_dir, 12)
    values = ", ".join(
        "({}, '{}', '{}', {})".format(s, a.replace("'", "''"), b.replace("'", "''"), f)
        for s, a, b, f in rows
    )
    return f"SELECT * FROM (VALUES {values}) AS t(step, left_sym, right_sym, freq)"


def _bpe_encode_oracle(sf_dir: str) -> str:
    """Derived oracle for the ENCODE pass: the Spark-free trainer's final
    symbol table gives each word's token count; DuckDB joins the corpus's
    words against that mapping and aggregates per doc."""
    import duckdb

    _merges = _bpe_merges_offline(sf_dir, 12)  # trains symtab as a side effect
    # re-derive the final symtab the same way (offline helper returns only
    # merges; replay them over the vocab)
    con = duckdb.connect()
    rows = con.execute(
        "SELECT word, COUNT(*) FROM (SELECT unnest(string_split(text, ' ')) AS word "
        f"FROM '{sf_dir}/documents.parquet') WHERE word <> '' GROUP BY word"
    ).fetchall()
    symtab = {w: list(w) + ["</w>"] for w, _n in rows}
    for _step, a, b, _f in _merges:
        for w in symtab:
            s = symtab[w]
            out, just = [s[0]], False
            for x in s[1:]:
                if out[-1] == a and x == b and not just:
                    out[-1] = a + b
                    just = True
                else:
                    out.append(x)
                    just = False
            symtab[w] = out
    values = ", ".join(
        "('{}', {})".format(w.replace("'", "''"), len(s)) for w, s in symtab.items()
    )
    return f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    m(word, toks) AS (SELECT * FROM (VALUES {values}))
    SELECT w.doc_id,
           CAST(SUM(m.toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM words w JOIN m ON w.word = m.word
    WHERE w.word <> ''
    GROUP BY w.doc_id
    """


@register(
    "corpus_bpe_encode",
    None,
    "the ENCODE pass a training pipeline actually runs at 100 TB (train once, "
    "tokenize everything): the 12 learned merges applied to every corpus word "
    "via bpe_segment_expr — a per-row Catalyst fold over the merge list, ZERO "
    "shuffle beyond the per-doc count aggregation (no Python, no vocab join); "
    "per-doc BPE token and word counts, gate-checked against the Spark-free "
    "reference trainer's symbol table",
    oracle_fn=_bpe_encode_oracle,
)
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.bpe import bpe_segment_expr, bpe_train

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    merges = [(a, b) for a, b, _f in bpe_train(docs.select("text"), "text", n_merges=12)]
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    # token count is a pure function of the word: run the 12-level merge
    # fold once per DISTINCT word (vocabulary-sized — Zipf-bounded at any
    # corpus size) and join the counts back, instead of folding every
    # corpus word occurrence (guide §4/§2: per-row compute scoped to the
    # distinct domain, then shuffled as small (word, n) pairs). The
    # per-(doc, word) pre-aggregation also shrinks the join's probe side
    # and map-side-combines the final per-doc sums.
    per_word = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    vocab_toks = (
        per_word.select("word")
        .distinct()
        .select(
            "word", F.size(bpe_segment_expr(F.col("word"), merges)).alias("n_toks")
        )
    )
    toks = per_word.join(vocab_toks, "word")
    return toks.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.col("n_toks")).cast("bigint").alias("n_tokens"),
        F.sum("cnt").cast("bigint").alias("n_words"),
    )


@register(
    "corpus_bpe_merges",
    None,
    "12 learned BPE merges — the Spark iterative trainer (vocabulary-bounded rounds, "
    "merge list as driver literals) gate-checked against an independent Spark-free "
    "python+duckdb reference trainer, merge for merge",
    oracle_fn=_bpe_merges_oracle,
)
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.bpe import bpe_train

    docs = spread(load(spark, sf_dir, "documents")).select("text")
    merges = bpe_train(docs, "text", n_merges=12)
    return spark.createDataFrame(
        [(i, a, b, f) for i, (a, b, f) in enumerate(merges)],
        "step int, left_sym string, right_sym string, freq bigint",
    )


@register(
    "doc_lm_score",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (
        SELECT w, COUNT(*) AS cu FROM (
            SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    n AS (SELECT SUM(cu) AS total FROM uni),
    big AS (
        SELECT doc_id, w1, w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i])) AS w1,
                   unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i+1])) AS w2
            FROM toks)
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    lp AS (
        SELECT bc.w1, bc.w2,
               CAST(ROUND(ln(0.9 * (CAST(c12 AS DOUBLE) / u1.cu)
                             + 0.1 * (CAST(cu2.cu AS DOUBLE) / total)), 6)
                    AS DECIMAL(16,6)) AS logp
        FROM bc
        JOIN uni u1 ON u1.w = bc.w1
        JOIN uni cu2 ON cu2.w = bc.w2
        CROSS JOIN n
    ),
    per_doc AS (
        SELECT b.doc_id, COUNT(*) AS n_bigrams, SUM(lp.logp) AS s
        FROM big b JOIN lp ON b.w1 = lp.w1 AND b.w2 = lp.w2
        GROUP BY b.doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST(s AS DOUBLE) AS lm_logprob_sum
    FROM per_doc
    """,
    "interpolated bigram LM quality scoring (the CCNet-style perplexity signal, "
    "self-trained on the corpus): per-bigram log-probs from corpus aggregates, "
    "DECIMAL-rounded before the order-independent per-doc mean",
)
def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    # total token count inlined as a literal LONG scalar (exact in any
    # aggregation order) — not an unpartitioned window over the vocab
    # aggregate, not a 1-row cross-join. The vocab aggregate is pinned via
    # localCheckpoint (the total collect and the per-bigram join both read
    # it); unlike persist, its storage is ContextCleaner-freed once the
    # query result is unreferenced instead of outliving the session.
    uni = uni.localCheckpoint()
    n_total = uni.agg(F.sum("cu")).collect()[0][0] or 0
    uni = uni.withColumn("total", F.lit(int(n_total)))
    big = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    lp = (
        bc.join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"), "total"),
            "w2",
        )
        .select(
            "w1", "w2",
            F.round(
                F.log(
                    F.lit(0.9) * (F.col("c12").cast("double") / F.col("cu1"))
                    + F.lit(0.1) * (F.col("cu2").cast("double") / F.col("total"))
                ),
                6,
            ).cast("decimal(16,6)").alias("logp"),
        )
    )
    per_doc = (
        big.join(F.broadcast(lp), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("logp").alias("s"))
    )
    # the SUM is DECIMAL-exact (order-independent); the obvious rounded
    # mean is NOT gate-safe — s/n can land exactly on the round-half grid,
    # where Spark (HALF_UP) and DuckDB (half-even on doubles) disagree.
    # Consumers divide by n_bigrams themselves.
    return per_doc.select(
        "doc_id", "n_bigrams",
        F.col("s").cast("double").alias("lm_logprob_sum"),
    )


@register(
    "doc_winnow_fingerprints",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    h AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(w) - 4, 1) + 1),
                   i -> substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16)) AS hs
        FROM t
    ),
    m AS (
        SELECT doc_id, hs,
               list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                   s -> list_min(hs[s:s+3])) AS mins
        FROM h
    ),
    fp AS (
        SELECT doc_id,
               list_filter(
                   list_transform(range(1, len(mins) + 1),
                       i -> CASE WHEN i = 1 OR mins[i] <> mins[i-1]
                                 THEN mins[i] END),
                   x -> x IS NOT NULL) AS fps
        FROM m
    )
    SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(fps, ',')) AS fp_digest
    FROM fp
    """,
    "winnowing document fingerprints (MOSS selection: per-window minimum of ordered "
    "5-gram hashes, window=4, consecutive-value collapse) — zero-shuffle per-row "
    "selection keeping ~2/(w+1) of grams with the shared-run detection guarantee",
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.dedup import winnow_fingerprints

    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    fps = winnow_fingerprints("text", k=5, window=4)
    return docs.select(
        "doc_id",
        F.size(fps).cast("bigint").alias("n_fingerprints"),
        F.md5(F.array_join(fps, ",")).alias("fp_digest"),
    )


# ---------------------------------------------------------------------------
# Relational surface, round 5: the remaining TPC-H-class query patterns the
# available schema supports (EXISTS / double-EXISTS / scalar subquery /
# share-of-total / conditional ratio / distinct-agg / OR-of-ANDs) — the "BI
# tool on the consolidation target" workload the reference exists to serve
# (docs/index.rst:9-12). Threshold constants are calibrated to the driver's
# TPC-H-ish testdata value domains, not stock TPC-H.
# ---------------------------------------------------------------------------

@register(
    "q4_priority_late_ship",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join on the fact table — "
    "late-shipping orders counted per priority",
)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q7_nation_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(vol) AS DOUBLE) AS revenue
    FROM (
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
               CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2))) AS vol
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ns ON s_nationkey = ns.n_nationkey
             JOIN nation nc ON c_nationkey = nc.n_nationkey
        WHERE ((ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7')
            OR (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3'))
          AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    ) t
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: the same broadcast dim (nation) joined TWICE under different "
    "roles (supplier vs customer side), symmetric pair predicate, per-year rollup",
)
def q7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation")
    ns = nation.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))
    nc = nation.select(F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        j.select(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE))).alias("vol"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("vol").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_8' THEN vol ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS nation_revenue,
           CAST(SUM(vol) AS DOUBLE) AS total_revenue
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               ns.n_name AS supp_nation,
               CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2))) AS vol
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation nc ON c_nationkey = nc.n_nationkey
             JOIN region ON nc.n_regionkey = r_regionkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ns ON s_nationkey = ns.n_nationkey
        WHERE r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    ) t
    GROUP BY o_year ORDER BY o_year
    """,
    "TPC-H Q8 shape (market share): region-scoped consumption, share of one "
    "supplier nation per year — numerator and denominator emitted as exact DECIMAL "
    "sums (a rounded ratio of float aggregates would diverge between engines at "
    "half-grid values; the verify notes' ROUND rule)",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nc = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("n_nationkey").alias("nc_key"))
    )
    ns = nation.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))
    vol = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"), "inner")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
    )
    zero = F.lit(0).cast(DEC_PRICE)
    return (
        j.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            "supp_nation",
            vol.alias("vol"),
        )
        .groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_8", F.col("vol")).otherwise(zero))
            .cast("double")
            .alias("nation_revenue"),
            F.sum("vol").cast("double").alias("total_revenue"),
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_type_profit",
    """
    SELECT nation, o_year, CAST(SUM(profit) AS DOUBLE) AS profit
    FROM (
        SELECT ns.n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2))) AS profit
        FROM lineitem JOIN part ON l_partkey = p_partkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN orders ON l_orderkey = o_orderkey
             JOIN nation ns ON s_nationkey = ns.n_nationkey
        WHERE p_name LIKE '%red%'
    ) t
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    "TPC-H Q9 shape: substring part filter fanned through the fact table, profit "
    "rolled up by supplier nation x order year (no ps_supplycost in this schema — "
    "profit is discounted revenue)",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").contains("red")).select("p_partkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ns = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("nation")
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
    )
    return (
        j.select(
            "nation",
            F.year("o_orderdate").cast("int").alias("o_year"),
            (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE))).alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("profit").cast("double").alias("profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@register(
    "q14_promo_revenue_share",
    """
    SELECT
      CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
      CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue,
      COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
    "TPC-H Q14 shape (promotion effect): conditional vs total revenue in one "
    "pass — exact DECIMAL numerator/denominator instead of a rounded float ratio",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE))
    zero = F.lit(0).cast(DEC_PRICE)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero))
            .cast("double")
            .alias("promo_revenue"),
            F.sum(vol).cast("double").alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q16_part_supplier_diversity",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5' AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 30
    """,
    "TPC-H Q16 shape: DISTINCT aggregation under a negated-brand + size-list "
    "filter (no partsupp in this schema — supplier diversity observed via "
    "lineitem), deterministic top-30",
)
def q16_part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(30)
    )


@register(
    "q18_large_volume_customers",
    """
    SELECT c_custkey, c_name, o_orderkey, o_totalprice,
           CAST(qty.sum_qty AS DOUBLE) AS sum_qty
    FROM (
        SELECT l_orderkey, SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) > 200
    ) qty
    JOIN orders ON o_orderkey = qty.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    "TPC-H Q18 shape: HAVING over a fact-table rollup joined back to the "
    "dimension chain, deterministic top-20",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        qty.join(orders, qty.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_bracket_revenue",
    """
    SELECT CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (1 - CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
    "TPC-H Q19 shape: disjunction of conjunctive brackets spanning both join "
    "sides — the predicate Catalyst must keep as a post-join filter while still "
    "pushing the per-side conjuncts it can derive",
)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(bracket).agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", DEC_RATE)))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q21_exclusive_return_suppliers",
    """
    WITH per_order AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_ret_supp
        FROM lineitem GROUP BY l_orderkey
    ),
    blamed AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN per_order p ON l.l_orderkey = p.l_orderkey
        WHERE l.l_returnflag = 'R' AND p.n_supp > 1 AND p.n_ret_supp = 1
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM blamed JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    "TPC-H Q21 shape (the EXISTS + NOT-EXISTS pair) decorrelated to one per-order "
    "aggregate: the supplier solely responsible for returns on a multi-supplier "
    "order — two distinct-aggs replace two correlated subqueries, one fact scan",
)
def q21_exclusive_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    # dedup-then-count instead of two count_distinct's in one agg: multiple
    # distinct aggregates plan an Expand (x3 row multiplication of the fact
    # scan) feeding sort aggregates; one (order, supplier) pre-aggregation
    # carrying an any-returned flag computes both counts exactly with plain
    # hash aggregation and no Expand (guide §7.2 — same values, smaller
    # shuffle: the pre-agg is map-side combined)
    # the isNotNull guard pins count_distinct's NULL-skipping semantics
    # exactly (a NULL supplier would otherwise become a counted group);
    # l_suppkey is never NULL in TPC-H data, so the filter drops nothing
    per_pair = (
        li.filter(F.col("l_suppkey").isNotNull())
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("__ret")
        )
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("__ret").alias("n_ret_supp"),
    )
    blamed = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            per_order.filter((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)),
            "l_orderkey",
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.join(F.broadcast(supp), blamed.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "q22_idle_rich_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS numcust,
           CAST(SUM(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2)) * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
          > (SELECT SUM(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS DOUBLE) / 100 AS DECIMAL(12,2))) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    "TPC-H Q22 shape: scalar-subquery threshold + anti join. The above-average "
    "test is written multiplication-only (bal * n > sum) so it is DECIMAL-exact "
    "in both engines — an AVG would be a float division with engine-specific "
    "rounding",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    pos = cust.filter(F.col("c_acctbal") > 0)
    thresh = pos.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(_dec("c_acctbal")).alias("__sum"),
    )
    rich = (
        cust.join(F.broadcast(thresh))
        .filter(_dec("c_acctbal") * F.col("__n") > F.col("__sum"))
    )
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "doc_epoch_shuffle",
    """
    WITH h AS (
        SELECT doc_id, substr(md5('44|' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
        FROM documents
    ),
    s AS (
        SELECT doc_id, hx,
               CAST(CAST('0x' || hx AS BIGINT) % 8 AS INT) AS shard
        FROM h
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS INT) AS shard_pos
    FROM s
    """,
    "deterministic epoch shuffle (training-order reproducibility): hash-as-RNG "
    "global permutation addressed as (shard, shard_pos) — per-shard windows only, "
    "no global sort; epoch changes reseed the permutation, retries/partitionings "
    "don't",
)
def doc_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connemara_spark.operators.curation import epoch_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, "doc_id", n_shards=8, epoch=2, seed=42).select(
        "doc_id", "shard", "shard_pos"
    )


# Tie-break ranking WITHIN the self-rotating driver-sample order (see
# _ordered): names listed here outrank registration order inside both the
# never-sampled and already-sampled groups. The rotation itself is
# automatic — _ordered reads the committed CORRECTNESS_r*.json files and
# leads with whatever the external gate has never checked — so this list
# only expresses which unverified queries matter MOST when there are more
# of them than sample slots.
DRIVER_SAMPLE_PRIORITY = [
    # round 6 rotation: every query that has NEVER appeared in a driver
    # sample across rounds 1-5 (59 of them), plus this round's two new
    # queries — ordered by the round-5 review's priority so a 50-row
    # sample covers the most important ones first. The 12 queries the r5
    # sample verified rotate back out; everything driver-green in an
    # earlier round follows in registration order.
    # -- the most rearchitected query in the repo, never hard-verified --
    "cdc_join_view_delta",
    # -- new this round: BucketStore production path + maintained view --
    "cdc_apply_customer_bucketed",
    "cdc_maintained_agg_view",
    # -- the entire multimodal block (14) --
    "multimodal_bmp_decode",
    "multimodal_bmp_resize",
    "multimodal_bmp_features",
    "multimodal_png_decode",
    "multimodal_png_resize",
    "multimodal_jpeg_decode",
    "multimodal_gif_frame_sample",
    "multimodal_wav_decode",
    "multimodal_wav_features",
    "multimodal_wav_decimate",
    "multimodal_y4m_frame_sample",
    "multimodal_mulaw_native_decode",
    "multimodal_alaw_native_decode",
    # -- named individually by the r5 review --
    "embedding_kmeans_clusters",
    "graph_triangle_count",
    "corpus_hll_distinct",
    "corpus_kmv_distinct_shingles",
    "corpus_cms_bigram_counts",
    "events_hll_sliding_users",
    "corpus_bpe_merges",
    "corpus_bpe_pair_stats",
    "dq_referential_report",
    # -- remaining never-sampled, CDC/state family first --
    "cdc_schema_drift",
    "cdc_consistent_cut",
    "doc_winnow_fingerprints",
    "doc_lm_score",
    "doc_dsir_weights",
    "doc_bloom_decontam",
    "doc_chunk_dedup",
    "doc_mixture_resample",
    "neardup_clusters_ngram",
    "embedding_semdedup",
    "embedding_retrieval_precision",
    "embedding_ann_ivf_lit",
    "embedding_ann_ivfpq",
    "embedding_pq_train",
    "embedding_pq_recon_error",
    "embedding_subspace_balance",
    "corpus_curation_funnel",
    "lineitem_price_quantiles_exact",
    "events_ema_fixed_point",
    "events_rolling_zscore",
    "events_resample_hourly_ffill",
    "events_retention_cohorts",
    "events_pivot_types",
    "events_props_variant",
    "events_zorder_keys",
    # -- twins of driver-green family members + TPC-H variants: past the
    #    50-row sample line this round, first in line next round --
    "asof_next_order_per_event",
    "dataset_split_md5",
    "doc_hash_sample_md5",
    "q4_priority_late_ship",
    "q7_nation_volume_shipping",
    "q9_product_type_profit",
    "q14_promo_revenue_share",
    "q16_part_supplier_diversity",
    "q18_large_volume_customers",
    "q19_bracket_revenue",
    "q22_idle_rich_customers",
]


def _driver_sample_history() -> dict[str, int]:
    """name -> NEWEST round with a committed CORRECTNESS row for it (green
    or not: a red row still proves the driver exercised the query that
    round — re-ranking it stale-first is exactly what brings it back for
    re-certification). Missing/unreadable files mean 'nothing sampled yet'
    (fresh checkout), which safely ranks everything as never-sampled."""
    import glob
    import json as _json
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"_r(\d+)\.json$", p)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(p) as fh:
                names = _json.load(fh).keys()
        except (OSError, ValueError):
            continue
        for n in names:
            out[n] = max(out.get(n, 0), rnd)
    return out


def _driver_sampled_names() -> set[str]:
    """Query names the external gate has checked at least once."""
    return set(_driver_sample_history())


def _ordered(sampled: dict[str, int] | set[str] | None = None) -> list[str]:
    """Registry names in driver-sample order, SELF-ROTATING on two levels:

    1. names with NO row in any committed CORRECTNESS_r*.json lead (the
       driver checks the first ~50, so each round's sample automatically
       converts local-parity evidence into driver-verified rows for
       whatever still lacks them);
    2. already-verified names follow ranked OLDEST-EVIDENCE-FIRST — by
       the round of their newest committed row, ascending — so once every
       query has been driver-verified at least once, the sample cycles
       through the registry re-certifying the stalest evidence (r1-era
       rows age out of trust as the engine underneath them changes).

    Ties (same evidence round, and the whole never-sampled group) break by
    DRIVER_SAMPLE_PRIORITY first, then registration order. The rotation
    needs no per-round list surgery: committing a round's CORRECTNESS
    file IS the rotation."""
    if sampled is None:
        sampled = _driver_sample_history()
    if not isinstance(sampled, dict):
        sampled = {n: 0 for n in sampled}
    prio = [n for n in DRIVER_SAMPLE_PRIORITY if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(prio)]
    ranked = prio + rest
    never = [n for n in ranked if n not in sampled]
    done = [n for n in ranked if n in sampled]
    tiebreak = {n: i for i, n in enumerate(ranked)}
    done.sort(key=lambda n: (sampled[n], tiebreak[n]))
    return never + done


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered()}


def oracles() -> dict[str, str]:
    out = {}
    for name in _ordered():
        sql = REGISTRY[name].resolve_oracle(DRIVER_GATE_SF)
        if sql:
            out[name] = sql.strip()
    return out

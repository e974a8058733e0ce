"""JDBC apply-sink endurance: N batches of CDC against one embedded Derby
target — does the per-batch cost stay flat while the ledger grows and the
staging table truncate-reuses?

    python tools/jdbc_endurance_probe.py [n_batches] [rows_per_batch]

Per batch: a synthetic upsert/delete slice folds into the BucketStore
(testing.random_event_stream's O(1)-key shape is overkill here — the
probe generates direct upserts so the JDBC leg, not the fold, dominates),
then JdbcApplySink ships the touched slice and reconciles in one
transaction. Records per-batch wall seconds split into store apply vs
sink, plus ledger row count and a final target-vs-store equality check.

Prints a JSON line per batch and a summary line; the summary asserts
target == store state (order-insensitive md5 of every row).
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from connemara_spark.catalog import ColumnSpec, EngineCatalog, TableSpec  # noqa: E402
from connemara_spark.session import get_spark  # noqa: E402
from connemara_spark.sinks import JdbcApplySink  # noqa: E402
from connemara_spark.stores import BucketStore  # noqa: E402


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    spark = get_spark()
    spec = TableSpec(
        database="db1", schema="public", table="endur",
        columns=[
            ColumnSpec("k", "bigint"),
            ColumnSpec("v", "text"),
            ColumnSpec("amt", "bigint"),
        ],
        pk_cols=["k"],
    )
    url = f"jdbc:derby:memory:endur_{uuid.uuid4().hex}"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jvm = spark._jvm
    jvm.java.lang.Class.forName(props["driver"])
    con = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    con.createStatement().execute(
        "CREATE TABLE endur (k BIGINT PRIMARY KEY, v VARCHAR(64), amt BIGINT)"
    )
    con.close()
    root = tempfile.mkdtemp(prefix="connemara_jdbcendur_")
    try:
        store = BucketStore(spark, root, n_buckets=32)
        seed = spark.range(rows * 5).select(
            F.col("id").alias("k"),
            F.concat(F.lit("seed#"), F.col("id").cast("string")).alias("v"),
            (F.col("id") % 1000).alias("amt"),
        )
        store.write(spec, seed)
        cat = EngineCatalog()
        cat.register(spec)
        sink = JdbcApplySink(
            spark, store, spec, url=url, target_table="endur", properties=props
        )
        sink.bootstrap_load(batch_id="bootstrap")
        halves = []
        for b in range(n_batches):
            # rows upserts clustered into a rotating key window + 5% deletes
            lo = (b * rows) % (rows * 4)
            new = spark.range(rows).select(
                (F.col("id") + lo).alias("k"),
                F.concat(F.lit(f"b{b}#"), F.col("id").cast("string")).alias("v"),
                ((F.col("id") + b) % 1000).alias("amt"),
            )
            dels = spark.range(rows // 20).select(
                ((F.col("id") * 17 + b) % (rows * 5)).alias("k")
            )
            t0 = time.perf_counter()
            cur = store.read_for_keys(
                spec, new.select("k").unionByName(dels.select("k"))
            )
            survivors = cur.join(
                new.select("k").unionByName(dels.select("k")), "k", "left_anti"
            )
            nxt = survivors.unionByName(new.join(dels, "k", "left_anti"))
            keys = new.select("k").unionByName(dels.select("k")).distinct()
            store.write_partial(spec, nxt, keys=keys)
            t_store = time.perf_counter() - t0
            t0 = time.perf_counter()
            sink.apply_touched([(keys, None)], batch_id=f"b-{b}")
            t_sink = time.perf_counter() - t0
            halves.append((t_store, t_sink))
            print(json.dumps({
                "batch": b, "store_s": round(t_store, 2), "sink_s": round(t_sink, 2)
            }))
        # final equality: target rows == store rows, order-insensitive
        tgt = spark.read.jdbc(url, "endur", properties=props)
        row_md5 = F.md5(F.concat_ws("|", "k", "v", "amt"))
        h_t = tgt.select(F.sum(F.conv(F.substring(row_md5, 1, 8), 16, 10).cast("long")).alias("h"), F.count(F.lit(1)).alias("n")).collect()[0]
        st = store.read(spec)
        h_s = st.select(F.sum(F.conv(F.substring(row_md5, 1, 8), 16, 10).cast("long")).alias("h"), F.count(F.lit(1)).alias("n")).collect()[0]
        half = len(halves) // 2
        mean = lambda xs: sum(xs) / max(len(xs), 1)
        print(json.dumps({
            "summary": True, "batches": n_batches, "rows_per_batch": rows,
            "store_mean_first_half": round(mean([s for s, _ in halves[:half]]), 2),
            "store_mean_second_half": round(mean([s for s, _ in halves[half:]]), 2),
            "sink_mean_first_half": round(mean([x for _, x in halves[:half]]), 2),
            "sink_mean_second_half": round(mean([x for _, x in halves[half:]]), 2),
            "target_rows": h_t["n"], "store_rows": h_s["n"],
            "state_equal": bool(h_t["n"] == h_s["n"] and h_t["h"] == h_s["h"]),
        }))
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Stateful streaming operators (``streaming/stateful.py``): sessionization,
counters, sketches and the dedup-on-ingest family."""

from __future__ import annotations

import datetime as dt
import glob
import os
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _t(m):
    return dt.datetime(2024, 1, 1, 0, m, 0)


def _land(spark, rows, d):
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(d)


def _drain(stream_df, tmp, name):
    out = str(tmp / f"{name}_out")
    ckpt = str(tmp / f"{name}_ckpt")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, str(q.exception())
    return out


@pytest.mark.slow  # endurance: see pytest.ini — run with -m 'slow or not slow'
def test_sessionize_stream_closes_on_gap(spark, tmp_path):
    landing = str(tmp_path / "landing")
    # user 7: events at minute 0,1 then a 40-min gap then minute 41 —
    # with gap=30min the first two close as one session once batch 2 arrives.
    _land(
        spark,
        [
            (1, _t(0), 7, "view", 1.0),
            (2, _t(1), 7, "view", 2.0),
            (3, _t(41), 7, "buy", 5.0),
        ],
        landing,
    )

    from connemara_spark.streaming.stateful import sessionize_stream

    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(landing)
    out = _drain(sessionize_stream(events, gap_seconds=1800), tmp_path, "sess")

    rows = spark.read.parquet(out).collect()
    # one closed session (the 41-min event's session is still open in state)
    assert len(rows) == 1
    s = rows[0]
    assert s.user_id == 7 and s.n_events == 2 and s.total_value == 3.0
    assert s.session_start == _t(0) and s.session_end == _t(1)


def test_running_counters_stream(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _land(
        spark,
        [
            (1, _t(0), 1, "view", 1.0),
            (2, _t(1), 2, "view", 2.0),
            (3, _t(2), 3, "buy", 10.0),
        ],
        landing,
    )

    from connemara_spark.streaming.stateful import running_counters_stream

    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(landing)
    q = (
        running_counters_stream(events)
        .writeStream.format("memory")
        .queryName("cnt_table")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cnt_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, str(q.exception())

    got = {r.event_type: (r.n_events, r.total_value) for r in spark.table("cnt_table").collect()}
    assert got == {"view": (2, 3.0), "buy": (1, 10.0)}


def test_hll_distinct_stream_matches_batch_registers(spark, tmp_path):
    """Drained-stream HLL state == the batch sketch bit-for-bit: same md5
    hash, same registers, same fixed-point estimate — across TWO
    microbatches (merge path exercised), with cross-batch duplicates."""
    from connemara_spark.streaming.stateful import (
        _hll_estimate, _hll_fold, _hll_hash60, hll_distinct_stream,
    )

    landing = str(tmp_path / "landing")
    rows1 = [(i, _t(1), i % 3, "t", float(i)) for i in range(200)]
    # NULL values must not be hashed as the strings 'None'/'nan' — the batch
    # construction (concat_ws) never yields NULL hash inputs, and bit-parity
    # requires the stream to drop them too
    rows1 += [(None, _t(1), uid, "t", 0.0) for uid in range(3)]
    rows2 = [(i, _t(2), i % 3, "t", float(i)) for i in range(150, 400)]  # overlap
    _land(spark, rows1, landing)

    emitted: list = []

    def run():
        def sink(batch_df, _bid):
            emitted.extend(batch_df.collect())

        q = (
            hll_distinct_stream(
                spark.readStream.schema(EVENTS_SCHEMA).parquet(landing),
                group_col="user_id", value_col="event_id",
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None, str(q.exception())

    run()
    _land(spark, rows2, landing)
    run()  # same checkpoint: state restored, second batch merges

    got = {  # last emission per key wins (emissions are in batch order)
        r["group_key"]: (r["hll_estimate"], r["nonzero_registers"], r["register_checksum"])
        for r in emitted
    }
    # batch replica over the union of both batches
    by_key: dict[str, set] = {}
    for eid, _ts, uid, _t_, _v in rows1 + rows2:
        if eid is not None:  # stream drops NULL values pre-hash
            by_key.setdefault(str(uid), set()).add(eid)
    for k, vals in by_key.items():
        regs = _hll_fold(bytearray(512), _hll_hash60(sorted(vals)))
        est, nonzero, checksum = _hll_estimate(regs)
        assert got[k] == (est, nonzero, checksum), k


def test_exact_dedup_stream_first_arrival_wins(spark, tmp_path):
    """Dedup-on-ingest: the keeper is the FIRST arrival of each content —
    in-batch (two copies land in one microbatch, smallest id keeps),
    cross-batch (a later re-crawl points at the original), and a key's
    third sighting still points at the original, not the second copy."""
    from connemara_spark.streaming.stateful import exact_dedup_stream

    land = str(tmp_path / "in")
    os.makedirs(land)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def seg(rows, i):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        st = str(tmp_path / f"st{i}")
        df.write.parquet(st)
        part = glob.glob(os.path.join(st, "part-*.parquet"))[0]
        dst = os.path.join(land, f"seg-{i:04d}.parquet")
        os.rename(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    # batch 0: 'a' arrives TWICE in one batch (ids 5, 2 -> 2 keeps), 'b' once
    seg([(5, "a"), (2, "a"), (1, "b")], 0)
    # batch 1: 'a' re-crawled (id 9 -> dup of 2), 'c' new
    seg([(9, "a"), (3, "c")], 1)
    # batch 2: 'a' AGAIN (id 20 -> still dup of 2, not of 9), 'b' re-crawl
    seg([(20, "a"), (7, "b")], 2)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    )
    q = (
        exact_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_t1")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {
        r["doc_id"]: r["dup_of"]
        for r in spark.table("dedup_t1").collect()
    }
    spark.catalog.dropTempView("dedup_t1")
    assert got == {2: None, 5: 2, 1: None, 9: 2, 3: None, 20: 2, 7: 1}


DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

LSH_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),
    (3, "completely different text about spark streaming state stores"),
    (4, "the quick brown fox jumps over the lazy dog today"),
    (5, "another unrelated document mentioning embedded derby targets"),
    (6, "the quick brown fox jumps over the lazy cat today"),
    (7, "completely different text about spark streaming state machines"),
]


def _land_docs(spark, tmp_path, segments, start=0):
    """Land each row list as one ingest-ordered parquet file (seg-NNNN,
    increasing mtime) in ``tmp_path/in``; returns that directory."""
    land = str(tmp_path / "in")
    os.makedirs(land, exist_ok=True)
    for i, rows in enumerate(segments, start):
        df = spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1)
        st = str(tmp_path / f"st{i}")
        df.write.parquet(st)
        part = glob.glob(os.path.join(st, "part-*.parquet"))[0]
        dst = os.path.join(land, f"seg-{i:04d}.parquet")
        os.rename(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return land


def _lsh_bands(df):
    from connemara_spark.operators.dedup import md5_band_rows

    return md5_band_rows(df, "doc_id", "text", k=5, num_hashes=16, bands=8)


def _band_join_pairs(spark, docs):
    """The batch band self-join's pairs as a multiset — one per shared
    bucket, no distinct."""
    bands = _lsh_bands(spark.createDataFrame(docs, DOC_SCHEMA))
    a, b = bands.alias("a"), bands.alias("b")
    return Counter(
        (r[0], r[1])
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select("a.id", "b.id")
        .collect()
    )


def _lsh_stream(spark, land, **kw):
    from connemara_spark.streaming.stateful import lsh_candidates_stream

    stream = (
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(land)
    )
    return lsh_candidates_stream(_lsh_bands(stream), **kw)


def _drain_memory(frame, name, ckpt):
    q = (
        frame.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert q.exception() is None, str(q.exception())
    return q


def test_lsh_candidates_stream_equals_batch_band_join(spark, tmp_path):
    """Drained streaming candidates == the batch band self-join's pairs,
    regardless of how the corpus is segmented; a re-streamed doc adds no
    new distinct pair; max_members caps a degenerate bucket."""
    docs = LSH_DOCS[:5]
    want = sorted(_band_join_pairs(spark, docs))
    assert want  # planted near-dups must produce candidates

    # doc 1 RE-STREAMED in segment 1: its pairs repeat, no new pair appears
    land = _land_docs(spark, tmp_path, [docs[:2], docs[2:4] + [docs[0]], docs[4:]])
    _drain_memory(_lsh_stream(spark, land), "lshcand_t1", str(tmp_path / "ckpt"))
    got = sorted(
        {(r["id_a"], r["id_b"]) for r in spark.table("lshcand_t1").collect()}
    )
    spark.catalog.dropTempView("lshcand_t1")
    assert got == want

    # cap: a bucket at max_members stops joining/growing — with cap 1 the
    # second member of every bucket is ignored, so NO pairs at all
    _drain_memory(
        _lsh_stream(spark, land, max_members=1), "lshcand_t2", str(tmp_path / "ckpt2")
    )
    assert spark.table("lshcand_t2").count() == 0
    spark.catalog.dropTempView("lshcand_t2")


def test_lsh_candidates_stream_plan_is_jvm_join(spark, tmp_path):
    """Uncapped, the operator is a JVM stream-stream self-join: the
    executed plan has a StreamingSymmetricHashJoin whose second side reuses
    the first side's shuffle (band rows computed once per batch), and no
    Python-stateful operator."""
    land = _land_docs(spark, tmp_path, [LSH_DOCS[:3], LSH_DOCS[3:]])
    q = _drain_memory(_lsh_stream(spark, land), "lshplan_t", str(tmp_path / "ckpt"))
    spark.catalog.dropTempView("lshplan_t")
    plan = q._jsq.explainInternal(False)
    assert "StreamingSymmetricHashJoin" in plan
    assert "ReusedExchange" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


def test_lsh_candidates_stream_multiset_equals_batch_join(spark, tmp_path):
    """Over three segments every pair is emitted exactly once per shared
    bucket: the drained MULTISET equals the batch band self-join without
    distinct (pairs sharing several bands repeat in both)."""
    want = _band_join_pairs(spark, LSH_DOCS)
    assert max(want.values()) > 1  # some pair shares several buckets
    land = _land_docs(spark, tmp_path, [LSH_DOCS[:2], LSH_DOCS[2:5], LSH_DOCS[5:]])
    _drain_memory(_lsh_stream(spark, land), "lshms_t", str(tmp_path / "ckpt"))
    got = Counter(
        (r["id_a"], r["id_b"]) for r in spark.table("lshms_t").collect()
    )
    spark.catalog.dropTempView("lshms_t")
    assert got == want


def test_lsh_candidates_stream_checkpoint_restart_resumes_state(spark, tmp_path):
    """The join state survives a query restart from the checkpoint: a
    SECOND availableNow run (fresh query, same checkpoint) reads only the
    new segment and pairs its docs with members that landed BEFORE the
    restart; the union of both runs equals the batch join's multiset."""
    out = str(tmp_path / "out")  # file sink: supports checkpoint recovery

    def drain():
        q = (
            _lsh_stream(spark, str(tmp_path / "in"))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        assert q.exception() is None, str(q.exception())
        return Counter(tuple(r) for r in spark.read.parquet(out).select("id_a", "id_b").collect())

    first, later = LSH_DOCS[:3], LSH_DOCS[3:]
    _land_docs(spark, tmp_path, [first])
    before = drain()
    assert before == _band_join_pairs(spark, first)

    _land_docs(spark, tmp_path, [later], start=1)
    after = drain()
    assert after == _band_join_pairs(spark, LSH_DOCS)
    old_ids = {d for d, _ in first}
    new_ids = {d for d, _ in later}
    # new docs paired with members from before the restart
    assert any(a in old_ids and b in new_ids for a, b in after - before)


@pytest.mark.slow  # endurance: see pytest.ini — run with -m 'slow or not slow'
def test_exact_dedup_stream_ttl_path_keeps_semantics(spark, tmp_path):
    """With a (large) TTL the operator runs the ProcessingTimeTimeout code
    path — setTimeoutDuration per sighting — and, unexpired, produces the
    exact same verdicts as the NoTimeout path."""
    from connemara_spark.streaming.stateful import exact_dedup_stream

    land = str(tmp_path / "in")
    os.makedirs(land)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    df = spark.createDataFrame([(5, "a"), (2, "a"), (1, "b")], schema).coalesce(1)
    st = str(tmp_path / "st0")
    df.write.parquet(st)
    part = glob.glob(os.path.join(st, "part-*.parquet"))[0]
    os.rename(part, os.path.join(land, "seg-0000.parquet"))
    stream = spark.readStream.schema(schema).parquet(land)
    q = (
        exact_dedup_stream(stream, ttl_minutes=60)
        .writeStream.format("memory")
        .queryName("dedup_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {r["doc_id"]: r["dup_of"] for r in spark.table("dedup_ttl").collect()}
    spark.catalog.dropTempView("dedup_ttl")
    assert got == {2: None, 5: 2, 1: None}


def test_exact_dedup_stream_checkpoint_restart_resumes_state(spark, tmp_path):
    """The dedup state survives a query restart from the checkpoint: a
    SECOND availableNow run (fresh query object, same checkpoint) sees
    only the NEW segment, emits no duplicate verdicts for already-drained
    docs, and still recognizes re-crawls of content first seen BEFORE the
    restart."""
    from connemara_spark.streaming.stateful import exact_dedup_stream

    land = str(tmp_path / "in")
    os.makedirs(land)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def seg(rows, i):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        st = str(tmp_path / f"st{i}")
        df.write.parquet(st)
        part = glob.glob(os.path.join(st, "part-*.parquet"))[0]
        dst = os.path.join(land, f"seg-{i:04d}.parquet")
        os.rename(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    out = str(tmp_path / "out")  # file sink: supports checkpoint recovery

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        q = (
            exact_dedup_stream(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        return {
            r["doc_id"]: r["dup_of"] for r in spark.read.parquet(out).collect()
        }

    seg([(1, "x"), (2, "y")], 0)
    assert drain() == {1: None, 2: None}

    # restart: a FRESH query from the same checkpoint sees only the new
    # segment (no duplicate verdicts for already-drained docs), and
    # content 'x' first seen BEFORE the restart is still recognized as a
    # duplicate — the dedup state survived in the state store
    seg([(9, "x"), (3, "z")], 1)
    assert drain() == {1: None, 2: None, 9: 1, 3: None}


def test_bottomk_sample_stream_segmentation_invariant(spark, tmp_path):
    """The drained bottom-k equals the batch ORDER BY md5 LIMIT k rule for
    ANY segmentation, and a re-streamed id neither duplicates emissions
    nor perturbs the sketch."""
    from connemara_spark.streaming.stateful import bottomk_sample_stream

    ids = list(range(100, 160))
    schema = T.StructType([T.StructField("doc_id", T.LongType())])
    batch = spark.createDataFrame([(i,) for i in ids], schema)
    want = [
        r["doc_id"]
        for r in batch.select(
            "doc_id", F.md5(F.col("doc_id").cast("string")).alias("rk")
        )
        .orderBy("rk", "doc_id")
        .limit(10)
        .collect()
    ]

    land = str(tmp_path / "in")
    os.makedirs(land)

    def seg(rows, i):
        df = spark.createDataFrame([(r,) for r in rows], schema).coalesce(1)
        st = str(tmp_path / f"st{i}")
        df.write.parquet(st)
        part = glob.glob(os.path.join(st, "part-*.parquet"))[0]
        dst = os.path.join(land, f"seg-{i:04d}.parquet")
        os.rename(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    seg(ids[:20], 0)
    seg(ids[20:45] + ids[:5], 1)  # 5 ids RE-STREAMED
    seg(ids[45:], 2)
    q = (
        bottomk_sample_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land),
            id_col="doc_id",
            k=10,
            shards=4,
        )
        .writeStream.format("memory")
        .queryName("bk_t1")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    drained = spark.table("bk_t1")
    got = [
        r["doc_id"]
        for r in drained.dropDuplicates(["doc_id"])
        .orderBy("rk", "doc_id")
        .limit(10)
        .collect()
    ]
    # no duplicate emissions even with re-streamed ids
    assert drained.count() == drained.dropDuplicates(["doc_id", "rk"]).count()
    spark.catalog.dropTempView("bk_t1")
    assert got == want


def test_dedup_family_provider_agnostic_rocksdb(spark, tmp_path):
    """The streaming dedup family must produce IDENTICAL results under the
    default (HDFS-backed heap) and RocksDB state store providers — RocksDB
    is the crawl-scale lever (off-heap state, incremental checkpoints) and
    must be a pure deployment choice, never a semantics change. Also pins
    that the pin itself is scoped: the session conf is restored after the
    context manager exits."""
    from connemara_spark.streaming.stateful import (
        ROCKSDB_STATE_PROVIDER,
        bottomk_sample_stream,
        exact_dedup_stream,
        state_store_provider,
    )

    rows = [(i, f"body-{i % 40}") for i in range(120)]
    land = _land_docs(spark, tmp_path, [rows[s * 40 : (s + 1) * 40] for s in range(3)])

    def drain(tag: str, provider: str | None):
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        name = f"prov_{tag}"
        with state_store_provider(spark, provider):
            q = (
                exact_dedup_stream(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
        assert q.exception() is None
        got = sorted(
            (r["doc_id"], r["content_md5"], r["dup_of"])
            for r in spark.table(name).collect()
        )
        spark.catalog.dropTempView(name)
        return got

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(conf_key, None)
    default_out = drain("dflt", None)
    rocks_out = drain("rock", ROCKSDB_STATE_PROVIDER)
    assert spark.conf.get(conf_key, None) == before  # pin did not leak
    assert default_out == rocks_out
    assert len(default_out) == 120

    # second family: the bottom-k sampler's keyed state under RocksDB
    def drain_bk(tag: str, provider: str | None):
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        name = f"bk_{tag}"
        with state_store_provider(spark, provider):
            q = (
                bottomk_sample_stream(stream, k=10)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / f"bk_ckpt_{tag}"))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
        assert q.exception() is None
        got = sorted(tuple(r) for r in spark.table(name).collect())
        spark.catalog.dropTempView(name)
        return got

    assert drain_bk("dflt", None) == drain_bk("rock", ROCKSDB_STATE_PROVIDER)

    # third family: the LSH candidate join's band-row state under RocksDB
    def drain_lsh(tag: str, provider: str | None):
        name = f"lsh_{tag}"
        with state_store_provider(spark, provider):
            _drain_memory(_lsh_stream(spark, land), name, str(tmp_path / f"lsh_ckpt_{tag}"))
        got = sorted(tuple(r) for r in spark.table(name).collect())
        spark.catalog.dropTempView(name)
        return got

    lsh_default = drain_lsh("dflt", None)
    assert lsh_default  # repeated bodies share every bucket
    assert lsh_default == drain_lsh("rock", ROCKSDB_STATE_PROVIDER)


def test_heavy_hitters_stream_candidates_cover_and_recount_exact(spark, tmp_path):
    """The streaming MG candidate pass must (a) emit a superset of every
    key whose global frequency exceeds the threshold — across ANY
    segmentation, with k small enough that evictions/re-entries happen —
    and (b) the exact recount of the drained candidates must equal the
    batch groupBy-HAVING answer."""
    from connemara_spark.streaming.stateful import (
        heavy_hitters_stream,
        hh_latest_candidates,
    )

    # skew: "hot" 30%, "warm" 12%, 150-key uniform tail; threshold 1/10
    rows = ["hot"] * 300 + ["warm"] * 120 + [f"t{i % 150}" for i in range(580)]
    schema = T.StructType([T.StructField("w", T.StringType())])
    land = str(tmp_path / "in")
    os.makedirs(land)

    def seg(chunk, i):
        df = spark.createDataFrame([(r,) for r in chunk], schema).coalesce(1)
        st = str(tmp_path / f"st{i}")
        df.write.parquet(st)
        part = glob.glob(os.path.join(st, "part-*.parquet"))[0]
        dst = os.path.join(land, f"seg-{i:04d}.parquet")
        os.rename(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    # interleave so hot/warm occurrences span all three batches
    seg(rows[0::3], 0)
    seg(rows[1::3], 1)
    seg(rows[2::3], 2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = (
        heavy_hitters_stream(stream, "w", num=1, den=10, shards=4)
        .writeStream.format("memory")
        .queryName("hh_t1")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    cands = {r["k"] for r in hh_latest_candidates(spark.table("hh_t1")).collect()}
    spark.catalog.dropTempView("hh_t1")

    batch = spark.createDataFrame([(r,) for r in rows], schema)
    n = batch.count()
    want = {
        (r["w"], r["cnt"])
        for r in batch.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 10 > n).collect()
    }
    assert {w for w, _ in want} <= cands  # guaranteed superset
    # latest-summary candidates are bounded at shards * k
    assert len(cands) <= 4 * 10
    got = {
        (r["w"], r["cnt"])
        for r in batch.join(
            F.broadcast(spark.createDataFrame([(c,) for c in cands], schema)), "w"
        ).groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 10 > n).collect()
    }
    assert got == want == {("hot", 300), ("warm", 120)}


def test_stream_state_width_python_keys_policy(spark, tmp_path):
    """CPU-aware width for Python-stateful drains: the ``python_keys``
    cardinality hint raises the byte-derived width to min(session, keys)
    (per-key Python invocations parallelize across partitions), while
    shard-keyed operators (keys <= floor) keep the narrow width."""
    from connemara_spark.queries import _stream_state_width

    land = tmp_path / "land"
    land.mkdir()
    (land / "seg-0000.parquet").write_bytes(b"x" * 1024)  # tiny: byte width = floor

    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = _stream_state_width(spark, str(land))
    assert floor == 8  # byte-derived floor on a tiny landing dir

    # shard-keyed (keys <= floor): unchanged
    assert _stream_state_width(spark, str(land), python_keys=8) == floor
    # high-cardinality keyed state: raised to the session ceiling
    assert _stream_state_width(spark, str(land), python_keys=10**6) == max(
        floor, session
    )
    # mid-cardinality: raised to exactly min(session, keys) when that
    # exceeds the byte width (session may be < 10 in tests; cover both)
    mid = _stream_state_width(spark, str(land), python_keys=10)
    assert mid == max(floor, min(session, 10))

"""Custom stateful streaming operators (mostly ``applyInPandasWithState``;
uncapped ``lsh_candidates_stream`` is a JVM stream-stream join).

The reference holds per-key state imperatively inside worker threads
(prepared-statement caches, per-PK apply order — replay.pl:540-611); on
Spark, arbitrary keyed state over an unbounded stream is
``applyInPandasWithState``: state lives in the state store (checkpointed,
partitioned by key), timeouts retire idle keys, and each microbatch
delivers a key's new rows as pandas batches.

Two operators:

- ``sessionize_stream`` — gap-based event sessionization with live state:
  a session closes when no event arrives for ``gap`` (processing-timeout
  driven), emitting one row per closed session. The batch analog (window
  lag > gap cumsum) is in queries.py:events_sessionize; this is the
  streaming twin for infinite streams, where the window trick no longer
  applies because data never ends.
- ``running_counters_stream`` — per-key running counters (the streaming
  analog of the reference's per-batch ``updated/updated_by_pk`` ratios,
  replay.pl:881-890) emitted every microbatch.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from connemara_spark.session import scoped_conf

# At crawl-scale unique-key counts (500M+ content hashes) the default
# executor-heap state store is the first thing to fall over; RocksDB keeps
# state off-heap on local disk with incremental checkpointing — the known
# scale lever for the dedup family below. All operators here are
# provider-agnostic (test-pinned): results are identical under either.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def state_store_provider(spark, provider: str | None):
    """Pin the state-store provider for streaming queries STARTED inside
    the block (Spark captures the conf at query start; already-running
    queries keep theirs). ``None`` is a no-op. The previous session value
    is restored on exit either way (``scoped_conf``) — the pin never
    leaks into later queries on a shared session."""
    return scoped_conf(spark, {} if provider is None else {_PROVIDER_CONF: provider})


SESSION_SCHEMA = "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint, total_value double"
_SESSION_STATE_SCHEMA = "start long, end long, n bigint, total double"


def _sessionize_fn(gap_ms: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # idle key: close and emit the open session
            start, end, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return

        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = rows["ts"].astype("int64") // 1000  # ns → µs
        vals = rows["value"].astype("float64")

        closed: list[tuple[int, int, int, float]] = []
        if state.exists:
            start, end, n, total = state.get
        else:
            start = end = int(ts_us.iloc[0])
            n, total = 0, 0.0

        for t, v in zip(ts_us, vals):
            t = int(t)
            if n > 0 and t - end > gap_ms * 1000:
                closed.append((start, end, n, total))
                start, n, total = t, 0, 0.0
            end = max(end, t)
            n += 1
            total += float(v)

        state.update((start, end, n, total))
        state.setTimeoutDuration(gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(c[0], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] for c in closed],
                }
            )

    return fn


def sessionize_stream(events: DataFrame, *, gap_seconds: int = 1800) -> DataFrame:
    """Gap-sessionize a streaming events DataFrame (event_id, ts, user_id,
    value, ...) into closed sessions. State is one 4-tuple per live key —
    O(active users), not O(events) — and keys retire on processing timeout,
    so state is bounded on any stream length.
    """
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_seconds * 1000),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


COUNTER_SCHEMA = "event_type string, n_events bigint, total_value double"
_COUNTER_STATE_SCHEMA = "n bigint, total double"


def _counters_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    if state.hasTimedOut:  # pragma: no cover — no timeout configured
        state.remove()
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"event_type": [event_type], "n_events": [n], "total_value": [total]})


def running_counters_stream(events: DataFrame) -> DataFrame:
    """Per-event-type running (count, sum) emitted each microbatch — the
    reference's batch statistics counters (replay.pl:804-805,881-890) as an
    always-on stream."""
    return (
        events.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _counters_fn,
            outputStructType=COUNTER_SCHEMA,
            stateStructType=_COUNTER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


HLL_SCHEMA = "group_key string, hll_estimate double, nonzero_registers bigint, register_checksum bigint"
_HLL_STATE_SCHEMA = "regs binary"
_HLL_P = 9
_HLL_M = 1 << _HLL_P


def _hll_hash60(values) -> list[int]:
    import hashlib

    return [
        int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) for v in values
    ]


def _hll_fold(regs: bytearray, hashes) -> bytearray:
    for hv in hashes:
        idx = hv % _HLL_M
        w = hv // _HLL_M
        rho = 52 if w == 0 else 52 - w.bit_length()
        if rho > regs[idx]:
            regs[idx] = rho
    return regs


def _hll_estimate(regs: bytearray) -> tuple[float, int, int]:
    z_fp = sum(1 << (52 - r) if r else 1 << 52 for r in regs)
    alpha = 0.7213 / (1.0 + 1.079 / _HLL_M)
    est = alpha * _HLL_M * _HLL_M * 4503599627370496.0 / z_fp
    nonzero = sum(1 for r in regs if r)
    return round(est, 4), nonzero, int(sum(regs))


def _hll_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (group_key,) = key
    if state.hasTimedOut:  # pragma: no cover — no timeout configured
        state.remove()
        return
    regs = bytearray(state.get[0]) if state.exists else bytearray(_HLL_M)
    for pdf in pdfs:
        _hll_fold(regs, _hll_hash60(pdf["v"]))
    state.update((bytes(regs),))
    est, nonzero, checksum = _hll_estimate(regs)
    yield pd.DataFrame(
        {
            "group_key": [group_key],
            "hll_estimate": [est],
            "nonzero_registers": [nonzero],
            "register_checksum": [checksum],
        }
    )


def hll_distinct_stream(df: DataFrame, *, group_col: str, value_col: str) -> DataFrame:
    """Streaming distinct-count: one 512-byte HyperLogLog register array per
    group in the state store — O(groups) state on any stream length, exact
    same register math as the batch ``corpus_hll_distinct`` (md5-derived
    60-bit hash, p=9), so a drained stream's registers equal the batch
    sketch bit-for-bit (the mergeability claim, test-pinned). Emits the
    running estimate per group every microbatch."""
    return (
        df.select(
            F.col(group_col).cast("string").alias("group_key"),
            F.col(value_col).cast("string").alias("v"),
        )
        # NULLs never reach the register fold: str() over a pandas null
        # would hash the literal 'None'/'nan' as a distinct element,
        # diverging from the batch construction (concat_ws never yields
        # NULL hash inputs). Matches batch bit-for-bit only with this drop.
        .filter(F.col("group_key").isNotNull() & F.col("v").isNotNull())
        .groupBy("group_key")
        .applyInPandasWithState(
            _hll_fn,
            outputStructType=HLL_SCHEMA,
            stateStructType=_HLL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------- dedup-on-ingest

DEDUP_SCHEMA = "doc_id long, content_md5 string, dup_of long"
_DEDUP_STATE_SCHEMA = "first_id long"


def _exact_dedup_fn(ttl_ms: int | None):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (h,) = key
        if state.hasTimedOut:
            # retention window expired with no new sighting: forget the
            # keeper — the next arrival of this content re-admits (the
            # standard bounded-state TTL trade)
            state.remove()
            return
        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        ids = rows["doc_id"].astype("int64").tolist()
        if state.exists:
            (first,) = state.get
        else:
            # first sighting of this content: the smallest id in THIS batch
            # is the keeper (batches arrive in ingest order, so the keeper
            # is the globally first arrival)
            first = ids[0]
        state.update((first,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "content_md5": h,
                "dup_of": pd.Series(
                    [None if i == first else first for i in ids], dtype="Int64"
                ),
            }
        )

    return fn


def exact_dedup_stream(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Dedup-on-ingest: exact content dedup over an UNBOUNDED document
    stream, first-arrival-wins — the streaming twin of the batch
    ``exact_dedup_documents`` (hash-groupBy), for pipelines that must
    drop duplicates as data lands rather than in a nightly batch (the
    reference's consumers ingest continuously; a training-data landing
    zone does too).

    Shape: one state-store row (8 bytes: the keeper's id) per DISTINCT
    content hash — state grows with unique content, never with stream
    length or duplicate count; the per-batch work is one keyed shuffle of
    that batch only. Each arriving doc emits exactly one verdict row
    ``(doc_id, content_md5, dup_of)`` — NULL dup_of means keeper; a
    duplicate points at the keeper so lineage survives. Within a
    microbatch the smallest id wins (batches are ingest-ordered, so
    cross-batch the FIRST arrival wins — deterministic for a
    deterministically-ordered source). At 100 TB scale the state store
    partitions by content hash across executors; ``ttl_minutes`` bounds
    retention with a processing-time timeout — a content hash idle past
    the window is forgotten and its next arrival re-admits as a keeper
    (the standard bounded-state TTL trade; each sighting renews)."""
    return (
        docs.select(
            F.md5(F.col(text_col).cast("string")).alias("content_md5"),
            F.col(id_col).cast("long").alias("doc_id"),
        )
        .filter(F.col("content_md5").isNotNull())
        .groupBy("content_md5")
        .applyInPandasWithState(
            _exact_dedup_fn(
                None if ttl_minutes is None else ttl_minutes * 60_000
            ),
            outputStructType=DEDUP_SCHEMA,
            stateStructType=_DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if ttl_minutes is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )


LSH_CAND_SCHEMA = "id_a long, id_b long"
_LSH_STATE_SCHEMA = "members array<bigint>"


def _lsh_cand_fn(max_members: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs)).sort_values("id")
        ids = rows["id"].astype("int64").tolist()
        members = list(state.get[0]) if state.exists else []
        seen = set(members)
        a_out: list[int] = []
        b_out: list[int] = []
        for i in ids:
            if i in seen:
                continue  # re-streamed doc: pairs already emitted
            if len(members) < max_members:
                for m in members:
                    lo, hi = (m, i) if m < i else (i, m)
                    a_out.append(lo)
                    b_out.append(hi)
                members.append(i)
                seen.add(i)
        state.update((members,))
        if a_out:
            yield pd.DataFrame(
                {
                    "id_a": pd.Series(a_out, dtype="int64"),
                    "id_b": pd.Series(b_out, dtype="int64"),
                }
            )

    return fn


def lsh_candidates_stream(
    band_rows: DataFrame, *, max_members: int | None = None
) -> DataFrame:
    """Near-dup candidates on ingest: LSH bucket membership as STREAMING
    state. Input is a stream of ``(id, band, bh)`` band rows (any hash
    family — ``md5_band_rows`` for the oracle-checkable md5 one,
    the xxhash64 bands of ``minhash_lsh_pairs`` at scale); each candidate
    pair ``(id_a < id_b)`` sharing a bucket ``(band, bh)`` is emitted once
    per shared bucket as the later of the two lands — the same multiset of
    pairs the batch band self-join produces, delivered as data lands
    instead of in a nightly O(corpus) job.

    Uncapped (the default) this IS that self-join, run as a JVM
    stream-stream inner join of the band-row stream with itself on
    ``band``, ``bh`` and ``a.id < b.id``: per microbatch Spark's symmetric
    hash join emits new x old plus new x new, so no Python runs per
    bucket. State is every band row, held on BOTH sides of the join —
    O(corpus band rows), about 4-5x the per-bucket member lists a Python
    operator keeps (a 4-segment, 1,200-doc drain at 4 state partitions
    checkpointed 2.0 MB in 266 files against 0.44 MB in 68). Inner joins
    need no watermark, so nothing is evicted.
    A RE-STREAMED doc repeats its pairs (its band rows join again); dedup
    them batch-side like the cross-band/cross-batch repeats intrinsic to
    LSH (a pair can share several buckets) — the exact-Jaccard
    verification joins shingle sets back anyway, and a streaming
    dropDuplicates here would only add state. The join reads the stream
    as two sources (one per side; when both read the same files, the
    second side's shuffle is reused), so Spark refuses to restart a
    checkpoint written by the earlier ``applyInPandasWithState`` form of
    this operator, which had one source: drain such queries before
    upgrading.

    ``max_members`` caps degenerate buckets (boilerplate text collapsing
    thousands of docs into one bucket emits O(n^2) pairs that exact
    verification would mostly reject): beyond the cap new arrivals neither
    join nor extend the bucket, trading recall inside known-junk buckets
    for bounded state — the same guard as the batch path's
    ``max_shingle_freq``. The cap counts ARRIVALS per bucket, which no JVM
    streaming operator can do in append mode, so capped streams still run
    per-bucket member lists in Python (``applyInPandasWithState``;
    re-streamed docs emit nothing there). Uncapped by default (the oracle
    contract is exact equality with the batch band join); at crawl scale
    use ``max_members=256`` — tools/stream_lsh_probe.py measured the cap
    turning 10 planted 10k-member mega-buckets' ~500M-pair quadratic into
    10·C(cap,2) ≈ 0.2-3% of emissions at zero wall-time cost, while every
    true (small) near-dup cluster survives intact (SCALE.md)."""

    def side(id_name: str) -> DataFrame:
        return band_rows.select(
            F.col("band").cast("int").alias("band"),
            F.col("bh").cast("string").alias("bh"),
            F.col("id").cast("long").alias(id_name),
        )

    if max_members is not None:
        return side("id").groupBy("band", "bh").applyInPandasWithState(
            _lsh_cand_fn(max_members),
            outputStructType=LSH_CAND_SCHEMA,
            stateStructType=_LSH_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    # each side is its own source, and both advance over the same files;
    # the sides differ only in the id column's name, so in a batch where
    # they read the same files their shuffles canonicalize equal and Spark
    # plans the second as a ReusedExchange: the band rows are computed and
    # shuffled once, not per side
    return (
        side("id_a")
        .join(side("id_b"), ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


BOTTOMK_SCHEMA = "doc_id long, rk string"
_BOTTOMK_STATE_SCHEMA = "hashes array<string>, ids array<bigint>"


def _bottomk_fn(k: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs))
        if state.exists:
            hs, ids = state.get
            members = list(zip(hs, ids))
        else:
            members = []
        prev = set(members)
        cand = members + list(
            zip(rows["rk"].tolist(), rows["doc_id"].astype("int64").tolist())
        )
        # dedup re-streamed ids, keep the k smallest (hash, id) pairs
        cand = sorted(set(cand))[:k]
        state.update(([h for h, _ in cand], [i for _, i in cand]))
        fresh = [(h, i) for h, i in cand if (h, i) not in prev]
        if fresh:
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series([i for _, i in fresh], dtype="int64"),
                    "rk": [h for h, _ in fresh],
                }
            )

    return fn


def bottomk_sample_stream(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    k: int = 64,
    shards: int = 8,
) -> DataFrame:
    """Streaming uniform sample WITHOUT replacement over an unbounded
    stream: the bottom-k sketch (k smallest md5-ranked ids seen so far) as
    keyed streaming state. md5-as-RNG makes the sample a pure FUNCTION of
    the id set — retries, re-streams, and segmentation cannot change it
    (same discipline as the batch ``hash_sample``/``dataset_split``) — and
    bottom-k sketches MERGE (bottom-k of a union = bottom-k of the merged
    sketches), so the stream keeps ``shards`` independent sketches (no
    single hot state key; each admission is one state-row update) and the
    consumer takes the k smallest of the drained emissions. Every TRUE
    bottom-k member is emitted the moment it enters its shard's sketch, so
    the final batch-side selection over emissions is exact. State:
    ``shards * k`` (hash, id) pairs total, constant in stream length."""
    return (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.md5(F.col(id_col).cast("string")).alias("rk"),
            F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(shards))
            .cast("int")
            .alias("shard"),
        )
        .groupBy("shard")
        .applyInPandasWithState(
            _bottomk_fn(k),
            outputStructType=BOTTOMK_SCHEMA,
            stateStructType=_BOTTOMK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


HH_SCHEMA = "shard int, k string, seq long"
_HH_STATE_SCHEMA = "keys array<string>, cnts array<bigint>, seq bigint"


def _hh_fn(k_counters: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        # counters as ONE pandas Series (vectorized index-aligned add +
        # np.partition trim — same math as the former dict fold, no
        # per-key Python loop; see sketch.mg_summaries)
        if state.exists:
            ks, cs, seq = state.get
            counters = pd.Series([int(c) for c in cs], index=list(ks), dtype="int64")
            seq = int(seq)
        else:
            counters, seq = pd.Series(dtype="int64"), 0
        for pdf in pdfs:
            vc = pdf["k"].value_counts(dropna=True)
            counters = vc.astype("int64") if counters.empty else counters.add(
                vc, fill_value=0
            ).astype("int64")
            if len(counters) > k_counters:
                # batched Misra-Gries decrement (see sketch.mg_summaries)
                vals = counters.to_numpy()
                d = np.partition(vals, len(vals) - k_counters - 1)[
                    len(vals) - k_counters - 1
                ]
                counters = counters[counters > d] - int(d)
        seq += 1
        keys = counters.index.tolist()
        state.update((keys, [int(c) for c in counters.to_numpy()], seq))
        if keys:
            yield pd.DataFrame(
                {
                    "shard": pd.Series([int(key[0])] * len(keys), dtype="int32"),
                    "k": pd.Series(keys, dtype=object),
                    "seq": pd.Series([seq] * len(keys), dtype="int64"),
                }
            )

    return fn


def heavy_hitters_stream(
    df: DataFrame,
    key_col: str,
    *,
    num: int,
    den: int,
    shards: int = 8,
) -> DataFrame:
    """Streaming candidate pass for EXACT heavy hitters over an unbounded
    stream: per hash shard, a Misra-Gries summary of ``ceil(den/num)``
    counters lives in keyed streaming state; each microbatch the shard
    emits its CURRENT summary under a monotone ``seq``, and the consumer
    keeps each shard's latest emission (``hh_latest_candidates``) — at
    most ``shards * k`` candidate keys, bounded regardless of stream
    length or key-domain size (the thing a groupBy over a crawl-scale
    token stream can never promise).

    Hash sharding sends ALL occurrences of a key to one shard, so the
    shard-local MG bound applies to the key's GLOBAL frequency: any key
    with frequency > n_shard/(k+1) >= threshold survives the shard's final
    summary, making the latest emissions a guaranteed SUPERSET of the true
    heavy hitters at ``num/den``. An exact batch recount of the broadcast
    candidates then yields the exact answer — the streaming twin of
    ``sketch.exact_heavy_hitters``; segmentation can change which EXTRA
    candidates survive, but the recount filters those, so the final output
    is deterministic for any partitioning/batching.
    """
    import math

    if num < 1 or den < 1:
        raise ValueError(f"threshold num/den must be positive (got {num}/{den})")
    k = math.ceil(den / num)
    return (
        df.select(
            F.col(key_col).cast("string").alias("k"),
            F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(shards))
            .cast("int")
            .alias("shard"),
        )
        .filter(F.col("k").isNotNull())
        .groupBy("shard")
        .applyInPandasWithState(
            _hh_fn(k),
            outputStructType=HH_SCHEMA,
            stateStructType=_HH_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def hh_latest_candidates(drained: DataFrame) -> DataFrame:
    """Each shard's LATEST summary from a drained ``heavy_hitters_stream``
    emission log: one column ``k``, distinct, <= shards * k rows."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard")
    return (
        drained.withColumn("__mx", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("__mx"))
        .select("k")
        .distinct()
    )

"""Seeded input generation for the three workloads.

Everything the engine sees is produced here, in the benchmark process,
before Spark starts, and landed as files: a parquet snapshot per table,
one bronze (CDC event) parquet file per microbatch, or one document
parquet file per ingest segment. Landed files get strictly ascending
mtimes, so the file stream source orders them as they were generated.

The same seed gives the same files. The expected outputs are computed
here too, from the generated events (``testing.SequentialOracle``), so
the checks compare the engine against state the engine never touched.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from connemara_spark.catalog import ColumnSpec, TableSpec
from connemara_spark.testing import EPOCH, SequentialOracle
from connemara_spark.testing import _s as wal2json_text

DATABASE = "bench"
SCHEMA = "public"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

CUSTOMER_COLS = [
    ColumnSpec("c_custkey", "bigint"),
    ColumnSpec("c_name", "text"),
    ColumnSpec("c_nationkey", "integer"),
    ColumnSpec("c_acctbal", "double precision"),
    ColumnSpec("c_mktsegment", "text"),
]
ORDERS_COLS = [
    ColumnSpec("o_orderkey", "bigint"),
    ColumnSpec("o_custkey", "bigint"),
    ColumnSpec("o_orderstatus", "text"),
    ColumnSpec("o_totalprice", "double precision"),
    ColumnSpec("o_orderdate", "timestamp without time zone"),
    ColumnSpec("o_orderpriority", "text"),
]
_ARROW = {
    "bigint": pa.int64(),
    "integer": pa.int32(),
    "text": pa.string(),
    "double precision": pa.float64(),
    # tz-aware UTC: Spark reads it as TIMESTAMP (not TIMESTAMP_NTZ), the
    # type the catalog maps "timestamp without time zone" to
    "timestamp without time zone": pa.timestamp("us", tz="UTC"),
}
BRONZE_ARROW = pa.schema(
    [
        ("insert_timestamp", pa.timestamp("us", tz="UTC")),
        ("database", pa.string()),
        ("source_slotname", pa.string()),
        ("lsn_start", pa.int64()),
        ("xid", pa.int64()),
        ("xid_timestamp", pa.timestamp("us", tz="UTC")),
        ("payload", pa.string()),
    ]
)
DOC_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
WORDS = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window index cache shard bucket commit log spool replay view"
).split()


def table_spec(name: str) -> TableSpec:
    cols = CUSTOMER_COLS if name == "customer" else ORDERS_COLS
    return TableSpec(
        database=DATABASE,
        schema=SCHEMA,
        table=name,
        columns=[ColumnSpec(c.name, c.pg_type) for c in cols],
        pk_cols=[cols[0].name],
    )


_EPOCH_US = int(EPOCH.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000
_DAY0 = datetime(1992, 1, 1)


def _stamp(days: int) -> str:
    return (_DAY0 + timedelta(days=days)).strftime("%Y-%m-%d %H:%M:%S.%f")


def _makers(name: str, n_customers: int) -> dict:
    """Per-column generators of wal2json text values, in the snapshot's
    domains (25 nations, 5 segments, 2400 order days, ...)."""
    if name == "customer":
        return {
            "c_name": lambda r: f"Customer#{r.randrange(10**9):09d}",
            "c_nationkey": lambda r: str(r.randrange(25)),
            "c_acctbal": lambda r: repr(round(r.uniform(-999.99, 9999.99), 2)),
            "c_mktsegment": lambda r: r.choice(SEGMENTS),
        }
    return {
        "o_custkey": lambda r: str(r.randrange(n_customers)),
        "o_orderstatus": lambda r: r.choice(STATUSES),
        "o_totalprice": lambda r: repr(round(r.uniform(800.0, 500_000.0), 2)),
        "o_orderdate": lambda r: _stamp(r.randrange(2400)),
        "o_orderpriority": lambda r: r.choice(PRIORITIES),
    }


def snapshot_table(name: str, n: int, seed: int, n_customers: int) -> tuple[pa.Table, list[dict]]:
    """``n`` snapshot rows with keys 0..n-1, as an arrow table (landed) and
    as typed row dicts (the oracle's base state)."""
    g = np.random.default_rng(seed)
    keys = np.arange(n, dtype=np.int64)
    if name == "customer":
        cols = {
            "c_custkey": keys,
            "c_name": np.char.add("Customer#", np.char.zfill(keys.astype(str), 9)),
            "c_nationkey": g.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": np.array(SEGMENTS)[g.integers(0, len(SEGMENTS), n)],
        }
    else:
        days = g.integers(0, 2400, n)
        cols = {
            "o_orderkey": keys,
            "o_custkey": g.integers(0, n_customers, n),
            "o_orderstatus": np.array(STATUSES)[g.integers(0, len(STATUSES), n)],
            "o_totalprice": np.round(g.uniform(800.0, 500_000.0, n), 2),
            "o_orderdate": (np.datetime64("1992-01-01", "us") + days.astype("timedelta64[D]")),
            "o_orderpriority": np.array(PRIORITIES)[g.integers(0, len(PRIORITIES), n)],
        }
    spec = table_spec(name)
    table = pa.table({c.name: pa.array(cols[c.name], type=_ARROW[c.pg_type]) for c in spec.columns})
    pylists = {k: table.column(k).to_pylist() for k in table.column_names}
    for k, v in pylists.items():
        if v and isinstance(v[0], datetime):
            pylists[k] = [x.replace(tzinfo=None) for x in v]
    rows = [dict(zip(pylists, vals)) for vals in zip(*pylists.values())]
    return table, rows


# testing.random_event_stream's mix: a roll below INSERT_SHARE inserts,
# one below UPDATE_BELOW updates, the rest delete
INSERT_SHARE, UPDATE_BELOW = 0.3, 0.75


def event_stream(
    spec: TableSpec,
    rows: list[dict],
    *,
    n_events: int,
    seed: int,
    n_customers: int,
    hot_keys: int = 0,
    hot_share: float = 0.0,
    pk_change_prob: float = 0.05,
    partial_update_prob: float = 0.3,
) -> list[str]:
    """wal2json payloads of a mixed insert/update/delete stream, in event
    order, over a live-key model (updates and deletes hit live keys).

    The shape of ``testing.random_event_stream``: 30% inserts, 45%
    updates, 25% deletes; 5% of updates change the PK and 30% omit
    unchanged columns. With ``hot_keys``, ``hot_share`` of the updates
    hit a fixed set of that many keys (an assumed skew, see README.md);
    hot keys are never deleted and never change PK, so the hot set holds
    for the whole stream. Values are kept as wal2json text, which keeps
    generation cheap enough to run inside each benchmark run."""
    rng = random.Random(seed)
    pk = spec.pk_cols[0]
    names = [c.name for c in spec.columns]
    non_pk = names[1:]
    makers = _makers(spec.table, n_customers)
    head = json.dumps({"schema": spec.schema, "table": spec.table})[1:-1]
    live: dict[int, dict | None] = {r[pk]: None for r in rows}
    typed = {r[pk]: r for r in rows}
    keys = list(live)
    pos = {k: i for i, k in enumerate(keys)}
    hot = keys[:hot_keys]
    hot_set = set(hot)
    next_key = max(keys) + 1_000_000

    def text(key: int) -> dict:
        row = live[key]
        if row is None:
            row = {c: wal2json_text(v) for c, v in typed[key].items()}
            live[key] = row
        return row

    def add(key: int, row: dict) -> None:
        live[key] = row
        pos[key] = len(keys)
        keys.append(key)

    def remove(key: int) -> None:
        i = pos.pop(key)
        last = keys.pop()
        if last != key:
            keys[i] = last
            pos[last] = i
        del live[key]

    def payload(kind: str, row: dict | None, cols: list[str], old: int | None) -> str:
        parts = [f'"kind": "{kind}", {head}']
        if row is not None:
            parts.append(f'"columnnames": {json.dumps(cols)}')
            parts.append(f'"columnvalues": {json.dumps([row[c] for c in cols])}')
        if old is not None:
            parts.append(f'"oldkeys": {{"keynames": ["{pk}"], "keyvalues": ["{old}"]}}')
        return "{" + ", ".join(parts) + "}"

    out = []
    for _ in range(n_events):
        roll = rng.random()
        if not keys or roll < INSERT_SHARE:
            key = next_key
            next_key += 1
            row = {pk: str(key), **{c: f(rng) for c, f in makers.items()}}
            add(key, row)
            out.append(payload("insert", row, names, None))
            continue
        if hot and roll < UPDATE_BELOW and rng.random() < hot_share:
            key = hot[rng.randrange(len(hot))]
        else:
            key = keys[rng.randrange(len(keys))]
        if roll >= UPDATE_BELOW and key not in hot_set:
            remove(key)
            out.append(payload("delete", None, [], key))
            continue
        row = dict(text(key))
        if key not in hot_set and rng.random() < pk_change_prob:
            new_key = next_key
            next_key += 1
            row[pk] = str(new_key)
            remove(key)
            add(new_key, row)
            out.append(payload("update", row, names, key))
            continue
        changed = rng.sample(non_pk, k=rng.randint(1, len(non_pk)))
        for c in changed:
            row[c] = makers[c](rng)
        live[key] = row
        cols = [pk] + changed if rng.random() < partial_update_prob else names
        out.append(payload("update", row, cols, key))
    return out


class Lander:
    """Writes landed files with strictly ascending mtimes."""

    def __init__(self) -> None:
        self._mtime = 1_700_000_000

    def write(self, table: pa.Table, path: str) -> str:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        self._mtime += 10
        os.utime(path, (self._mtime, self._mtime))
        return path


def bronze_table(payloads: list[str], first_lsn: int) -> pa.Table:
    """BRONZE_SCHEMA rows for consecutive LSNs; timestamps follow the LSN
    (one second apart, as ``testing.make_event`` stamps them)."""
    lsn = np.arange(first_lsn, first_lsn + len(payloads), dtype=np.int64)
    ts = pa.array(_EPOCH_US + lsn * 1_000_000, type=pa.timestamp("us", tz="UTC"))
    n = len(payloads)
    return pa.table(
        {
            "insert_timestamp": ts,
            "database": pa.array([DATABASE] * n),
            "source_slotname": pa.array([f"slot_{DATABASE}"] * n),
            "lsn_start": lsn,
            "xid": lsn + 1000,
            "xid_timestamp": ts,
            "payload": pa.array(payloads),
        },
        schema=BRONZE_ARROW,
    )


@dataclass
class CdcInputs:
    """A landed CDC workload: snapshots, per-microbatch bronze files and
    the sequential oracle's final state per table."""

    specs: dict[str, TableSpec]
    snapshots: dict[str, str]
    batches: list[str]
    batch_events: list[int]
    expected: dict[str, SequentialOracle] = field(default_factory=dict)


def cdc_inputs(
    root: str,
    *,
    seed: int,
    tables: dict[str, int],
    n_batches: int,
    batch_events: int,
    **stream_kw,
) -> CdcInputs:
    """Snapshot rows per table plus ``n_batches`` microbatches of
    ``batch_events`` events, split over the tables in proportion to
    their size. Events of one microbatch share one ascending LSN range
    across tables (the per-slot watermark needs it); each table keeps its
    own event order. ``stream_kw`` goes to ``event_stream``."""
    lander = Lander()
    n_customers = tables.get("customer", 15_000)
    total = sum(tables.values())
    specs, snapshots, oracles, streams = {}, {}, {}, {}
    for i, (name, n) in enumerate(sorted(tables.items())):
        spec = table_spec(name)
        table, rows = snapshot_table(name, n, seed * 1000 + 2 * i, n_customers)
        specs[name] = spec
        snapshots[name] = lander.write(table, os.path.join(root, "snapshot", name, "part-0.parquet"))
        share = max(1, round(batch_events * n / total))
        ev = event_stream(
            spec, rows, n_events=share * n_batches, seed=seed * 1000 + 2 * i + 1,
            n_customers=n_customers, **stream_kw,
        )
        streams[name] = [ev[j * share:(j + 1) * share] for j in range(n_batches)]
        oracles[name] = SequentialOracle(spec, rows)
    paths, sizes, lsn = [], [], 1
    for j in range(n_batches):
        payloads = []
        for name in sorted(streams):
            first = lsn + len(payloads)
            # the oracle orders by (insert_timestamp, lsn_start); both
            # follow the LSN, so the LSN stands in for the timestamp
            oracles[name].apply(
                [{"insert_timestamp": first + k, "lsn_start": first + k, "payload": p}
                 for k, p in enumerate(streams[name][j])]
            )
            payloads += streams[name][j]
        paths.append(lander.write(
            bronze_table(payloads, lsn),
            os.path.join(root, "landing", f"batch-{j:05d}.parquet"),
        ))
        sizes.append(len(payloads))
        lsn += len(payloads)
    return CdcInputs(specs, snapshots, paths, sizes, oracles)


@dataclass
class DocInputs:
    segments: list[str]
    segment_docs: list[int]
    texts: dict[int, str]


def doc_inputs(
    root: str,
    *,
    seed: int,
    n_segments: int,
    segment_docs: int,
    exact_dup_share: float,
    near_dup_share: float,
) -> DocInputs:
    """``n_segments`` segments of ``segment_docs`` documents in the shape
    of the sf0.1 ``documents`` table (word soup over a small vocabulary,
    10-60 words), with planted exact re-crawls (same text, new id) and
    near duplicates (one word changed) of earlier documents; landed in
    ingest (id) order."""
    rng = random.Random(seed)
    texts: dict[int, str] = {}
    while len(texts) < n_segments * segment_docs:
        i = len(texts)
        r = rng.random()
        if i and r < exact_dup_share + near_dup_share:
            text = texts[rng.randrange(i)]
            if r >= exact_dup_share:
                w = text.split()
                w[rng.randrange(len(w))] = rng.choice(WORDS)
                text = " ".join(w)
        else:
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 60)))
        texts[i] = text
    lander = Lander()
    segments = []
    for j in range(n_segments):
        ids = list(range(j * segment_docs, (j + 1) * segment_docs))
        t = pa.table({"doc_id": ids, "text": [texts[i] for i in ids]}, schema=DOC_ARROW)
        segments.append(lander.write(t, os.path.join(root, "landing", f"seg-{j:05d}.parquet")))
    return DocInputs(segments, [segment_docs] * n_segments, texts)

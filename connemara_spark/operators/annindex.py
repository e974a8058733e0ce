"""Persisted IVF-PQ index: the ANN index as a durable on-disk artifact.

``pq_train_codebooks`` + ``ivfpq_topk`` cover the in-session shape; a real
deployment trains ONCE, writes the index, and every query session after
that just reads it — the index outlives any SparkSession. This module is
that lifecycle:

- :func:`build_ann_index` — train codebooks on the bounded deterministic
  sample, code every vector, and write the artifact:

  ``{index_dir}/entries.parquet/cell=N/``  (vec_id, codes array<int>) —
      partitioned by IVF cell, so a probe-side read PRUNES to the probed
      cells at the file listing (the on-disk analog of the inverted list);
  ``{index_dir}/codebooks.parquet``  (subspace, code, codeword
      array<double>) — float32-representable values stored as double
      (exact roundtrip);
  ``{index_dir}/META.json`` — build params + a fingerprint of the source
      embeddings parquet (size + mtime), checked on load so a stale index
      is rebuilt rather than silently served.

- :func:`load_ann_index` — read META + codebooks (k_cb·m tiny rows to the
  driver) + the entries DataFrame in a FRESH session.
- :func:`ivfpq_topk_indexed` — the pure read-join query: probes/tables for
  the query vectors via the shared Arrow prep kernel, candidates from the
  PERSISTED entries, ranking through the same ``_ivfpq_rank`` used by the
  in-session path, so the two paths cannot diverge.

At 100 TB the entries table is the only large artifact; it is written
cell-partitioned (append-friendly, prunable) and never collected. The
codebooks are m·k_cb rows regardless of corpus size.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connemara_spark.operators.similarity import (
    _ivfpq_prep_map,
    _ivfpq_rank,
    ivf_centroids_lit,
    pq_train_codebooks,
)
from connemara_spark.stores import atomic_write_json

_META = "META.json"


def _commit_meta(index_dir: str, meta: dict) -> None:
    """Atomically publish META (write-then-rename): the single commit
    point every mutation in this module funnels through."""
    atomic_write_json(os.path.join(index_dir, _META), meta)


def _mutation_log(meta: dict) -> list[list[str]]:
    """The ordered mutation log: ``[["append", id], ["delete", id], ...]``.
    Pre-tombstone METAs have no ``log`` key — their history is the appends
    list in order (deletes did not exist), so deriving it is exact.

    The committed ``appends``/``deletes`` lists are authoritative: log
    entries naming a batch those lists don't (a hand-rolled-back META, or
    a partial edit) are dropped, duplicates are dropped, and committed
    batches missing from the log are ordered after it — so a divergent
    log can never double-read an append tree or resurrect a rolled-back
    batch."""
    appends = list(meta.get("appends", []))
    deletes = list(meta.get("deletes", []))
    if "log" not in meta:
        return [["append", b] for b in appends]
    committed = {"append": set(appends), "delete": set(deletes)}
    seen = {"append": set(), "delete": set()}
    log: list[list[str]] = []
    for op, b in meta["log"]:
        if op in committed and b in committed[op] and b not in seen[op]:
            log.append([op, b])
            seen[op].add(b)
    log += [["append", b] for b in appends if b not in seen["append"]]
    log += [["delete", b] for b in deletes if b not in seen["delete"]]
    return log


def _index_centroids(meta: dict) -> list[list[float]]:
    """The coarse centroids this index was built with: persisted in META
    for ``centroid_mode="trained"``, the seeded literals otherwise. Every
    read/append path derives them from META so probe-side and entry-side
    cell assignment can never diverge."""
    if meta.get("centroids"):
        return meta["centroids"]
    return ivf_centroids_lit(meta["dim"], meta["n_cells"], meta["seed"])


def _fingerprint(path: str) -> str:
    """Cheap source-data fingerprint: size + mtime of the parquet file/dir.
    Catches the driver regenerating testdata between rounds — content
    hashing would cost a full read for the same decision."""
    if os.path.isdir(path):
        parts = sorted(
            (e, os.path.getsize(os.path.join(path, e)))
            for e in os.listdir(path)
            if not e.startswith(("_", "."))
        )
        return f"dir:{parts}:{int(os.path.getmtime(path))}"
    st = os.stat(path)
    return f"file:{st.st_size}:{int(st.st_mtime)}"


def build_ann_index(
    emb: DataFrame,
    index_dir: str,
    *,
    source_path: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 32,
    m: int = 8,
    k_cb: int = 16,
    seed: int = 42,
    train_seed: int = 3,
    sample_n: int = 20000,
    iters: int = 12,
    bootstrap_batch: str | None = None,
    centroid_mode: str = "lit",
) -> dict:
    """Train and persist the IVF-PQ index; returns the written META dict.

    One training collect (bounded ``sample_n`` rows, md5-deterministic),
    one distributed coding pass (Arrow kernel, zero shuffle), one
    cell-partitioned write. Write-then-rename on META commits the build:
    a crashed build leaves no META and is rebuilt from scratch.

    ``bootstrap_batch`` records which STREAM batch id this build consumed
    (META key ``bootstrap_batch``), so a streaming bootstrapper whose
    checkpoint lags the build (crash between META commit and checkpoint
    advance) can recognize the replayed batch and skip it instead of
    re-appending every bootstrap vector.

    ``centroid_mode``: ``"lit"`` (default) uses the seeded literal coarse
    centroids — data-independent, which is what makes the DuckDB oracle
    twins renderable. ``"trained"`` runs full-dimension k-means over the
    SAME deterministic md5 sample the PQ trainer uses and persists the
    centroids in META: on data whose distribution the literal grid does
    not cover (tools/ann_query_probe2.py: all-positive synthetic vectors
    collapse onto a handful of literal cells, 206M candidate rows for a
    1k-query probe where balanced cells would produce ~25M), trained
    centroids balance the inverted lists — candidate volume, and with it
    the top-k sort that dominates read cost, scales with the LARGEST
    cell. Appends/upserts/queries read the persisted centroids, so the
    choice is sticky for the index's lifetime (retraining is a rebuild).
    """
    books = pq_train_codebooks(
        emb, id_col=id_col, vec_col=vec_col, dim=dim, m=m, k_cb=k_cb,
        sample_n=sample_n, iters=iters, seed=train_seed,
    )
    if centroid_mode == "trained":
        # same sample discipline as pq_train_codebooks (md5-ordered bounded
        # collect), but SPHERICAL k-means: cell assignment is argmax DOT,
        # under which plain Lloyd's means collapse the index — the longest
        # mean wins every argmax (measured: 94% of an all-positive corpus
        # in one cell). Clustering the row DIRECTIONS and serving
        # unit-normalized centroids makes argmax-dot == nearest-by-cosine,
        # which is what balances the inverted lists.
        import numpy as np

        from connemara_spark.operators.similarity import _lloyd_books

        h = F.md5(
            F.concat_ws(
                "|", F.lit(train_seed).cast("string"), F.col(id_col).cast("string")
            )
        )
        sampled = (
            emb.select(vec_col, h.alias("__h"), F.col(id_col).alias("__id"))
            .orderBy("__h", "__id")
            .limit(sample_n)
            .collect()
        )
        X = np.array([r[0] for r in sampled], dtype=np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        means = np.array(
            _lloyd_books(
                X / norms, dim=dim, m=1, k_cb=n_cells, iters=iters, seed=train_seed
            )[0],
            dtype=np.float64,
        )
        mn = np.linalg.norm(means, axis=1, keepdims=True)
        mn[mn == 0.0] = 1.0
        centroids = (means / mn).astype(np.float32).astype(np.float64).tolist()
    elif centroid_mode == "lit":
        centroids = ivf_centroids_lit(dim, n_cells, seed)
    else:
        raise ValueError(f"unknown centroid_mode {centroid_mode!r}")
    prep = _ivfpq_prep_map(centroids, books, 1, id_col, vec_col)
    entries = (
        emb.select(id_col, vec_col)
        .mapInPandas(
            prep,
            "id long, probes array<int>, codes array<int>, tables array<array<double>>",
        )
        .select(
            F.col("id").alias("vec_id"),
            "codes",
            F.element_at("probes", 1).alias("cell"),
        )
    )
    os.makedirs(index_dir, exist_ok=True)
    # repartition on the partition key first: without it every input task
    # writes a file into every cell directory (tasks x cells tiny files —
    # measured 2.8s for 1024 files vs one file per cell); at scale this is
    # also the read-side layout you want (few large files per cell). The
    # partition COUNT is pinned to the cell count: a count-less keyed
    # repartition is fair game for AQE coalescing, which folds a small
    # batch into ONE task that writes every cell file serially (the same
    # pathology stores._write_buckets carried) — n_cells tasks keep the
    # per-cell file writes concurrent at any batch size.
    entries.repartition(n_cells, "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(
        os.path.join(index_dir, "entries.parquet")
    )
    spark = emb.sparkSession
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in books[j][c]])
            for j in range(len(books))
            for c in range(len(books[j]))
        ],
        "subspace int, code int, codeword array<double>",
    ).repartition(1).write.mode("overwrite").parquet(
        # repartition(1), NOT coalesce(1): coalescing a Python-built local
        # relation to one partition serializes the whole Arrow conversion
        # through a single task with multi-second overhead (measured 5-7s
        # for these 128 rows vs 0.6s through a 1-partition shuffle)
        os.path.join(index_dir, "codebooks.parquet")
    )
    meta = {
        "dim": dim, "n_cells": n_cells, "m": m, "k_cb": k_cb,
        "seed": seed, "train_seed": train_seed, "sample_n": sample_n,
        "iters": iters, "id_col": id_col, "vec_col": vec_col,
        "centroid_mode": centroid_mode,
        "source_fingerprint": _fingerprint(source_path) if source_path else None,
    }
    if centroid_mode == "trained":
        meta["centroids"] = [[float(x) for x in c] for c in centroids]
    if bootstrap_batch is not None:
        meta["bootstrap_batch"] = bootstrap_batch
    _commit_meta(index_dir, meta)
    return meta


def append_to_ann_index(
    emb_new: DataFrame,
    index_dir: str,
    *,
    source_path: str | None = None,
    batch_id: str | None = None,
) -> dict:
    """Incrementally ADD vectors to a committed index without retraining:
    the new batch is coded with the EXISTING codebooks/centroids (the
    deployment norm — books are frozen at train time, fresh data streams
    in) and written as a NEW cell-partitioned append directory that META
    commits via write-then-rename. Queries over the grown index are
    row-identical to coding old+new in one build with the same books
    (test-pinned). Retraining (codebook drift) is a deliberate rebuild:
    ``build_ann_index``/``ensure_ann_index``.

    Crash/retry safety: each batch stages under
    ``appends/b{batch_id}/`` (mode=overwrite) and becomes visible only
    when META's ``appends`` list names it — a crash before the META
    rename leaves an orphan directory readers never see, and the retry
    overwrites that same staging dir instead of duplicating vectors
    (duplicates would occupy multiple top-k slots in
    ``ivfpq_topk_indexed`` and displace true neighbors). ``batch_id``
    defaults to the next sequence number, so a blind retry of a crashed
    append lands on the same directory.

    At scale this is the streaming-ingest path: no rewrite of existing
    entries, no index-wide operation of any kind — each append touches
    only its own cells' files."""
    spark = emb_new.sparkSession
    meta, books, _entries = load_ann_index(spark, index_dir)
    committed = list(meta.get("appends", []))
    if batch_id is None:
        batch_id = str(len(committed) + 1)
    if batch_id in committed:
        raise ValueError(
            f"append batch {batch_id!r} is already committed to {index_dir} — "
            f"re-appending it would duplicate vectors"
        )
    _stage_append_entries(emb_new, meta, books, index_dir, batch_id)
    meta["log"] = _mutation_log(meta) + [["append", batch_id]]
    meta["appends"] = committed + [batch_id]
    if source_path:
        meta["source_fingerprint"] = _fingerprint(source_path)
    _commit_meta(index_dir, meta)
    return meta


def _stage_append_entries(
    emb_new: DataFrame,
    meta: dict,
    books: list[list[list[float]]],
    index_dir: str,
    batch_id: str,
) -> None:
    """Code a batch with the index's FROZEN books and stage it as a
    cell-partitioned append directory (mode=overwrite — a retry of a
    crashed stage re-lands on the same dir). Invisible until a META
    commit names the batch."""
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    centroids = _index_centroids(meta)
    prep = _ivfpq_prep_map(centroids, books, 1, id_col, vec_col)
    entries = (
        emb_new.select(id_col, vec_col)
        .mapInPandas(
            prep,
            "id long, probes array<int>, codes array<int>, tables array<array<double>>",
        )
        .select(
            F.col("id").alias("vec_id"),
            "codes",
            F.element_at("probes", 1).alias("cell"),
        )
    )
    # width pinned to the cell count — see build_ann_index's entries write
    entries.repartition(
        int(meta["n_cells"]), "cell"
    ).write.mode("overwrite").partitionBy("cell").parquet(
        _append_dir(index_dir, batch_id)
    )


def _append_dir(index_dir: str, batch_id: str) -> str:
    return os.path.join(index_dir, "appends", f"b{batch_id}")


def _delete_dir(index_dir: str, batch_id: str) -> str:
    return os.path.join(index_dir, "deletes", f"d{batch_id}")


def _stage_tombstones(ids: DataFrame, index_dir: str, batch_id: str) -> None:
    """Stage a tombstone batch (one ``vec_id`` column) under
    ``deletes/d{batch_id}/``. Distributed write — the delete set may be a
    full table's worth of re-embedded ids — and invisible until a META
    commit names the batch."""
    ids.select(F.col(ids.columns[0]).cast("long").alias("vec_id")).write.mode(
        "overwrite"
    ).parquet(_delete_dir(index_dir, batch_id))


def delete_from_ann_index(
    ids: DataFrame, index_dir: str, *, batch_id: str | None = None
) -> dict:
    """Remove vectors from a committed index WITHOUT rewriting it: the ids
    land as a tombstone batch that ``load_ann_index`` subtracts at read
    time (mutation-log order, so a later re-append of the same id serves
    again). The entries trees are immutable — at 100 TB a delete touches
    O(|delete set|) bytes, never the index. ``compact_ann_index`` folds
    tombstones into the next generation and clears them.

    Same commit discipline as appends: the staged directory becomes
    visible only when META's ``deletes`` list (and the mutation log) name
    it, and a blind retry of a crashed delete re-stages the same dir.
    """
    spark = ids.sparkSession
    meta, _books, _entries = load_ann_index(spark, index_dir)
    committed = list(meta.get("deletes", []))
    if batch_id is None:
        batch_id = str(len(committed) + 1)
    if batch_id in committed:
        raise ValueError(
            f"delete batch {batch_id!r} is already committed to {index_dir} — "
            f"re-deleting it would shadow any interleaved re-append"
        )
    _stage_tombstones(ids, index_dir, batch_id)
    meta["log"] = _mutation_log(meta) + [["delete", batch_id]]
    meta["deletes"] = committed + [batch_id]
    _commit_meta(index_dir, meta)
    return meta


def upsert_into_ann_index(
    emb_new: DataFrame, index_dir: str, *, batch_id: str | None = None
) -> dict:
    """Replace-or-insert vectors under their ids — the re-embedding path
    (a document was re-crawled/re-encoded, its vector must change but its
    id must not duplicate). Stages a tombstone batch for the incoming ids
    AND an append batch of the newly-coded vectors, then publishes both in
    ONE atomic META commit with the delete ordered before the append — so
    readers either see the old vectors (crash before commit) or exactly
    the new ones, never both and never neither. Ids not previously indexed
    insert cleanly (their tombstone shadows nothing)."""
    spark = emb_new.sparkSession
    meta, books, _entries = load_ann_index(spark, index_dir)
    if batch_id is None:
        batch_id = str(
            max(len(meta.get("appends", [])), len(meta.get("deletes", []))) + 1
        )
    if batch_id in meta.get("appends", []) or batch_id in meta.get("deletes", []):
        raise ValueError(
            f"upsert batch {batch_id!r} is already committed to {index_dir}"
        )
    id_col = meta["id_col"]
    _stage_tombstones(emb_new.select(id_col), index_dir, batch_id)
    _stage_append_entries(emb_new, meta, books, index_dir, batch_id)
    meta["log"] = _mutation_log(meta) + [
        ["delete", batch_id],
        ["append", batch_id],
    ]
    meta["deletes"] = list(meta.get("deletes", [])) + [batch_id]
    meta["appends"] = list(meta.get("appends", [])) + [batch_id]
    _commit_meta(index_dir, meta)
    return meta


def apply_cdc_to_ann_index(
    batch: DataFrame, index_dir: str, *, batch_id: str, op_col: str = "op"
) -> dict:
    """Apply ONE change-capture micro-batch — rows ``(id, vector, op)``
    with op in {'upsert', 'delete'} — to the committed index as a single
    atomic META commit: tombstones for every touched id (deleted OR
    re-embedded) ordered before the append of the upserted vectors. This
    is the index-side face of the CDC apply fold: the reference replicates
    row state into consolidation tables, this replicates embedding state
    into the vector index, with the same latest-wins-per-key semantics.

    Exactly-once: ``batch_id`` lands in META's ``cdc_batches`` list inside
    the same commit, so a replayed micro-batch (stream checkpoint behind
    the index commit) is recognized and skipped by the caller
    (``StreamingAnnCdc``)."""
    spark = batch.sparkSession
    meta, books, _entries = load_ann_index(spark, index_dir)
    if batch_id in meta.get("cdc_batches", []):
        raise ValueError(
            f"cdc batch {batch_id!r} is already committed to {index_dir}"
        )
    id_col = meta["id_col"]
    # localCheckpoint: the batch frame feeds BOTH staged writes; in the
    # streaming foreachBatch case it is also a one-shot frame whose
    # source may not be re-readable
    batch = batch.localCheckpoint()
    ups = batch.filter(F.col(op_col) == "upsert")
    touched = batch.select(id_col)
    _stage_tombstones(touched, index_dir, batch_id)
    _stage_append_entries(ups, meta, books, index_dir, batch_id)
    meta["log"] = _mutation_log(meta) + [
        ["delete", batch_id],
        ["append", batch_id],
    ]
    meta["deletes"] = list(meta.get("deletes", [])) + [batch_id]
    meta["appends"] = list(meta.get("appends", [])) + [batch_id]
    meta["cdc_batches"] = list(meta.get("cdc_batches", [])) + [batch_id]
    _commit_meta(index_dir, meta)
    return meta


def _sweep_orphans(index_dir: str, meta: dict) -> list[str]:
    """Remove directories a crashed build/append/compact left behind that
    the current META does not name: superseded entries generations and
    uncommitted append staging dirs. Readers only ever follow META, so the
    sweep is invisible to them; under the module's single-writer
    discipline a removed staging dir is simply re-staged by the retry.
    Returns the removed paths (index_dir-relative) for observability."""
    import shutil

    current = meta.get("entries_dir", "entries.parquet")
    committed = {f"b{b}" for b in meta.get("appends", [])}
    removed = []
    for e in os.listdir(index_dir):
        is_gen = e == "entries.parquet" or (
            e.startswith("entries-g") and e.endswith(".parquet")
        )
        if is_gen and e != current:
            shutil.rmtree(os.path.join(index_dir, e), ignore_errors=True)
            removed.append(e)
    for root_name, committed_set in (
        ("appends", committed),
        ("deletes", {f"d{b}" for b in meta.get("deletes", [])}),
    ):
        batch_root = os.path.join(index_dir, root_name)
        if os.path.isdir(batch_root):
            for e in os.listdir(batch_root):
                if e not in committed_set:
                    shutil.rmtree(os.path.join(batch_root, e), ignore_errors=True)
                    removed.append(f"{root_name}/{e}")
            if not os.listdir(batch_root):
                os.rmdir(batch_root)
    return removed


def compact_ann_index(spark: SparkSession, index_dir: str) -> dict:
    """Merge all committed append batches into ONE entries tree and clear
    the appends list — the explicit cut point for a long append chain
    (same role as ``BucketStore.compact``): reads become a single
    cell-partitioned tree instead of a union per batch, and the retired
    append directories are swept. Codebooks and build params are
    untouched — compaction never recodes.

    Commit discipline: the merged tree is written to a NEW generation
    directory (``entries-gNNN.parquet``); the single atomic META rename
    then flips ``entries_dir`` AND empties ``appends`` together. A crash
    before the rename leaves the old META intact (readers see base +
    appends, correct); a crash after it leaves the new META (readers see
    the merged tree, correct). There is no window where a reader can see
    the appends twice or not at all. Superseded generation/append dirs
    are swept post-commit; sweeping is repeatable, and EVERY compact —
    including a no-op call with nothing to merge — re-runs it, so
    orphans from a crash mid-sweep are removed by the next call rather
    than lingering until new appends accumulate."""
    meta, _books, entries = load_ann_index(spark, index_dir)
    if not meta.get("appends", []) and not meta.get("deletes", []):
        _sweep_orphans(index_dir, meta)
        return meta
    gen = meta.get("generation", 0) + 1
    new_dir = f"entries-g{gen:03d}.parquet"
    # `entries` is already the VISIBLE view (load_ann_index subtracted
    # tombstones in mutation-log order), so the new generation folds
    # deletes/upserts in for free and the cleared lists below are exact
    # width pinned to the cell count — see build_ann_index's entries write
    entries.repartition(
        int(meta["n_cells"]), "cell"
    ).write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, new_dir)
    )
    meta["entries_dir"] = new_dir
    meta["generation"] = gen
    meta["appends"] = []
    meta["deletes"] = []
    meta["log"] = []
    _commit_meta(index_dir, meta)
    # post-commit sweep: removes old_dir, any older orphan generations a
    # crashed earlier compact left, and every append staging dir (the
    # committed list is now empty)
    _sweep_orphans(index_dir, meta)
    return meta


def load_ann_index(
    spark: SparkSession, index_dir: str
) -> tuple[dict, list[list[list[float]]], DataFrame]:
    """Load a committed index: (meta, codebooks, entries DataFrame).
    Raises FileNotFoundError when no committed build exists."""
    meta_path = os.path.join(index_dir, _META)
    if not os.path.exists(meta_path):
        raise FileNotFoundError(f"no committed ANN index at {index_dir}")
    with open(meta_path) as fh:
        meta = json.load(fh)
    rows = (
        spark.read.parquet(os.path.join(index_dir, "codebooks.parquet"))
        .orderBy("subspace", "code")
        .collect()
    )
    m, k_cb = meta["m"], meta["k_cb"]
    books = [[None] * k_cb for _ in range(m)]
    for r in rows:
        books[r["subspace"]][r["code"]] = list(r["codeword"])
    entries = spark.read.parquet(
        os.path.join(index_dir, meta.get("entries_dir", "entries.parquet"))
    )
    if not meta.get("deletes"):
        for b in meta.get("appends", []):
            # only META-committed append batches are visible; orphan staging
            # dirs from crashed appends are never read. Each root is its own
            # cell-partitioned tree, so union (not multi-path read) keeps
            # partition discovery — and cell pruning — per root. The schema is
            # explicit: an EMPTY committed batch has no data files to infer
            # from (the partitioned write of zero rows creates no cell dirs).
            entries = entries.unionByName(
                spark.read.schema("vec_id long, codes array<int>, cell int").parquet(
                    _append_dir(index_dir, b)
                )
            )
        return meta, books, entries
    # tombstoned index: visibility is mutation-log order — an entry serves
    # unless a LATER tombstone names its id (so delete-then-re-append
    # serves the re-appended vector, and an upsert's paired
    # tombstone+append serves exactly the new one). Each root carries its
    # log position as a literal; the tombstone set (small next to the
    # index — compaction is the lever when it isn't) broadcasts, so the
    # subtraction never shuffles the entries and cell pruning on the
    # per-root scans survives.
    entries = entries.withColumn("_seq", F.lit(0))
    tombs = None
    for seq, (op, b) in enumerate(_mutation_log(meta), start=1):
        if op == "append":
            entries = entries.unionByName(
                spark.read.schema("vec_id long, codes array<int>, cell int")
                .parquet(_append_dir(index_dir, b))
                .withColumn("_seq", F.lit(seq))
            )
        else:
            t = (
                spark.read.schema("vec_id long")
                .parquet(_delete_dir(index_dir, b))
                .select("vec_id", F.lit(seq).alias("_del_seq"))
            )
            tombs = t if tombs is None else tombs.unionByName(t)
    last_del = tombs.groupBy("vec_id").agg(F.max("_del_seq").alias("_del_seq"))
    entries = (
        entries.join(F.broadcast(last_del), "vec_id", "left")
        .filter(F.col("_del_seq").isNull() | (F.col("_seq") > F.col("_del_seq")))
        .select("vec_id", "codes", "cell")
    )
    return meta, books, entries


def ensure_ann_index(
    emb: DataFrame, index_dir: str, *, source_path: str | None = None, **params
) -> tuple[dict, list[list[list[float]]], DataFrame]:
    """Load the index, (re)building first when it is missing, was built
    with different params, or its source fingerprint no longer matches —
    a stale index must never be silently served."""
    spark = emb.sparkSession
    try:
        meta, books, entries = load_ann_index(spark, index_dir)
        fresh = source_path is None or meta.get("source_fingerprint") == _fingerprint(
            source_path
        )
        if fresh and all(meta.get(k) == v for k, v in params.items()):
            return meta, books, entries
    except FileNotFoundError:
        pass
    build_ann_index(emb, index_dir, source_path=source_path, **params)
    return load_ann_index(spark, index_dir)


def ivfpq_topk_indexed(
    emb: DataFrame,
    index_dir: str,
    *,
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 0,
) -> DataFrame:
    """ANN top-k against the PERSISTED index: candidates come from the
    cell-partitioned entries table (a pure read-join — no index-side
    compute), queries get probes + ADC tables from the shared Arrow prep
    kernel, and ranking runs through the same ``_ivfpq_rank`` as the
    in-session path. Row-identical to ``ivfpq_topk(..., codebooks=books)``
    with this index's parameters (test-pinned)."""
    spark = emb.sparkSession
    meta, books, entries = load_ann_index(spark, index_dir)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    centroids = _index_centroids(meta)
    prep = _ivfpq_prep_map(centroids, books, n_probe, id_col, vec_col)
    queries = (
        emb.select(id_col, vec_col)
        .mapInPandas(
            prep,
            "id long, probes array<int>, codes array<int>, tables array<array<double>>",
        )
        .select(
            F.col("id").alias("query_id"),
            F.explode("probes").alias("cell"),
            F.col("tables").alias("qt"),
        )
    )
    index = entries.select(F.col("vec_id").alias("neighbor_id"), "cell", "codes")
    return _ivfpq_rank(
        queries, index, emb, id_col=id_col, vec_col=vec_col,
        dim=meta["dim"], m=meta["m"], k=k, rerank=rerank,
    )

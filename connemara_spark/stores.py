"""BucketStore: a versioned silver store whose BATCH WRITE COST is
O(touched buckets), not O(table).

``ParquetStore`` rewrites the full table every apply — correct, and the
right simplicity for tests, but at 100 TB a CDC batch touching 0.01% of
keys must not rewrite 100 TB. The reference sidesteps this by applying
per-row UPDATEs inside PostgreSQL (replay.pl:416-426); the distributed
analog is hash-bucketed partial rewrite, the same idea a table format's
commit log + file-level rewrite gives you (Iceberg/Delta MERGE): split
the table into ``n_buckets`` by a hash of the PK, and a batch rewrites
only the buckets its touched keys fall into.

Layout (one table)::

    root/<table>/
      CURRENT                    {"version": v}          (atomic swap)
      v000007/
        MANIFEST.json            {"n_buckets": 64,
                                  "buckets": {"3": 7, "9": 2, ...}}
        b00003/ part-*.parquet   (ONLY the buckets v7 rewrote)

The manifest maps every bucket to the VERSION whose directory holds its
current file — unchanged buckets carry the older version's entry
forward, so a version is a complete logical snapshot while holding only
its delta physically. A bucket that is logically EMPTY (no rows, so its
host version wrote no directory for it) is recorded as ``null`` in the
manifest, so readers can tell "empty by design" apart from "host
directory missing" — the latter is corruption (or a GC bug) and raises
instead of silently returning partial data. Readers resolve the
manifest to a path list
(pruned to specific buckets when the caller knows its keys); writers
write new bucket dirs + MANIFEST into the next version dir and then
swap CURRENT — the same write-then-advance commit (``VersionedDir``,
below) as ParquetStore and the maintained views, so a crashed write
leaves no committed trace.

Scale properties:
- apply batch IO: read touched buckets + write touched buckets —
  O(|Δ| / bucket-selectivity), never O(table);
- bucket resolution is pure path selection (no file listing of
  untouched buckets, no footer reads);
- time travel: every retained version's manifest is a full snapshot;
- GC is reference-counted: a version directory is removable only when
  no RETAINED manifest references any of its buckets.

The bucket id is ``pmod(xxhash64(pk...), n_buckets)`` — recomputable
from any row, so bucket membership is never stored as data.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connemara_spark.catalog import TableSpec

_MANIFEST = "MANIFEST.json"
_CURRENT = "CURRENT"


def atomic_write_json(path: str, obj) -> None:
    """Publish ``obj`` as the JSON file ``path`` atomically: write a
    sibling ``.tmp`` file, then ``os.replace`` it over ``path``. A reader
    sees the old content or the new, never a partial file — the one
    commit primitive of every pointer, manifest and index META here."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


class VersionedDir:
    """The on-disk versioning protocol shared by every versioned artifact
    (``ParquetStore`` and ``BucketStore`` tables, maintained views)::

        root/
          CURRENT      {"version": v, ...}   (atomic swap)
          v000001/ ... v00000v/

    A version is written into ``path(v)`` first and becomes visible only
    when ``advance`` swaps CURRENT to name it (write-then-advance): a
    crash in between leaves CURRENT on the previous committed version,
    and the retry rewrites the same slot. Directories above CURRENT are
    such uncommitted leftovers: ``versions`` skips them and ``gc`` never
    removes them."""

    def __init__(self, root: str):
        self.root = root

    def path(self, v: int) -> str:
        # 6 digits grow to 7+ past version 999,999 — dirs() parses any width
        return os.path.join(self.root, f"v{v:06d}")

    def meta(self, default: dict | None = None) -> dict | None:
        """The CURRENT pointer's JSON, or ``default`` before the first
        commit."""
        try:
            with open(os.path.join(self.root, _CURRENT)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return default

    def current(self) -> int | None:
        m = self.meta()
        return None if m is None else m["version"]

    def advance(self, meta: dict) -> None:
        """Commit: swap CURRENT to ``meta`` (which names the version)."""
        atomic_write_json(os.path.join(self.root, _CURRENT), meta)

    def dirs(self) -> list[int]:
        """Every version directory on disk, committed or not, ascending."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            int(m.group(1))
            for e in os.listdir(self.root)
            if (m := re.fullmatch(r"v(\d+)", e))
        )

    def versions(self) -> list[int]:
        """The version directories at or below CURRENT, ascending."""
        cur = self.current()
        return [] if cur is None else [v for v in self.dirs() if v <= cur]

    def retained(self, keep_last: int, versions: list[int] | None = None) -> set[int]:
        """CURRENT plus the newest ``keep_last`` of ``versions`` (default:
        ``versions()``) — what retention GC keeps."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (CURRENT must survive)")
        cur = self.current()
        if cur is None:
            return set()
        vs = self.versions() if versions is None else versions
        return set(vs[-keep_last:]) | {cur}

    def gc(self, referenced: set[int], *, min_age_seconds: float = 0.0) -> list[int]:
        """Remove every version directory at or below CURRENT that is not
        in ``referenced`` (and, with ``min_age_seconds``, was modified at
        least that long ago). Returns the removed versions, ascending."""
        now = time.time()
        removed = []
        for v in self.versions():
            d = self.path(v)
            if v in referenced or (
                min_age_seconds > 0 and now - os.path.getmtime(d) < min_age_seconds
            ):
                continue
            shutil.rmtree(d, ignore_errors=True)
            removed.append(v)
        return removed


class BucketStore:
    def __init__(self, spark: SparkSession, root: str, *, n_buckets: int = 64):
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1 (got {n_buckets})")
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    # -- layout helpers ----------------------------------------------------
    def _tdir(self, spec_name: str) -> str:
        return os.path.join(self.root, spec_name)

    def _vd(self, spec_name: str) -> VersionedDir:
        return VersionedDir(self._tdir(spec_name))

    def _vdir(self, spec_name: str, v: int) -> str:
        return self._vd(spec_name).path(v)

    def _bdir(self, spec_name: str, v: int, bucket: int) -> str:
        return os.path.join(self._vdir(spec_name, v), f"b{bucket:05d}")

    def current_version(self, spec_name: str) -> int | None:
        return self._vd(spec_name).current()

    def _manifest(self, spec_name: str, v: int) -> dict:
        with open(os.path.join(self._vdir(spec_name, v), _MANIFEST)) as fh:
            return json.load(fh)

    def bucket_count(self, spec_name: str) -> int:
        """The AUTHORITATIVE bucket count for a table: the current
        manifest's (bucket count is a per-table, per-version property —
        ``rebucket`` grows it independently of the store's other tables);
        the store-level ``n_buckets`` only seeds tables that do not exist
        yet."""
        cur = self.current_version(spec_name)
        if cur is None:
            return self.n_buckets
        return self._manifest(spec_name, cur)["n_buckets"]

    def bucket_expr(
        self, spec: TableSpec, n_buckets: int | None = None, cols: list[str] | None = None
    ) -> F.Column:
        cols = [c.name for c in spec.columns] if cols is None else cols
        pk = [c for c in spec.pk_cols if c in cols] or cols
        n = n_buckets if n_buckets is not None else self.bucket_count(spec.target_name)
        return F.pmod(F.xxhash64(*[F.col(c) for c in pk]), F.lit(n)).cast("int")

    def _paths(self, spec_name: str, manifest: dict, buckets=None) -> list[str]:
        sel = (
            manifest["buckets"].items()
            if buckets is None
            else ((str(b), manifest["buckets"].get(str(b))) for b in buckets)
        )
        out = []
        for b, v in sel:
            if v is None:  # logically empty bucket — its host wrote no dir
                continue
            d = self._bdir(spec_name, v, int(b))
            if not os.path.isdir(d):
                # the manifest says v physically hosts this bucket; a missing
                # directory means the host was GC'd or the tree is corrupt —
                # returning the remaining paths would be a silently partial
                # snapshot, which violates the read contract
                raise RuntimeError(
                    f"bucket {b} of {spec_name} is hosted by v{v} but {d} is "
                    f"missing — host version GC'd or store corrupted"
                )
            out.append(d)
        return out

    # -- reads -------------------------------------------------------------
    def read(self, spec: TableSpec) -> DataFrame:
        v = self.current_version(spec.target_name)
        if v is None:
            return self.spark.createDataFrame([], spec.spark_schema())
        return self._read_manifest(spec, self._manifest(spec.target_name, v))

    def _read_manifest(self, spec: TableSpec, manifest: dict, buckets=None) -> DataFrame:
        paths = self._paths(spec.target_name, manifest, buckets)
        if not paths:
            return self.spark.createDataFrame([], spec.spark_schema())
        return self.spark.read.schema(spec.spark_schema()).parquet(*paths)

    def read_version(
        self, spec: TableSpec, version: int, *, buckets: list[int] | None = None
    ) -> DataFrame:
        """Time travel to ``version`` — optionally PRUNED to specific
        buckets (pure path selection against that version's manifest), the
        read shape incremental view maintenance wants: diffing old→new at a
        batch's touched keys never needs untouched buckets of either
        version."""
        cur = self.current_version(spec.target_name)
        d = self._vdir(spec.target_name, version)
        if cur is None or version > cur or version < 1 or not os.path.isdir(d):
            raise ValueError(
                f"no committed version {version} for {spec.target_name} (current: {cur})"
            )
        if not os.path.exists(os.path.join(d, _MANIFEST)):
            raise ValueError(
                f"version {version} of {spec.target_name} survives only as a "
                f"bucket host (its snapshot was GC'd) — not readable"
            )
        m = self._manifest(spec.target_name, version)
        if buckets is not None and m["n_buckets"] != self.bucket_count(
            spec.target_name
        ):
            # the caller's bucket ids were computed under the CURRENT
            # modulus; this version predates a rebucket, so those ids
            # address the wrong directories here — pruning with them would
            # silently DROP rows. Fall back to the full (correct) snapshot;
            # the pruning resumes once retention passes the rebucket point.
            buckets = None
        return self._read_manifest(spec, m, buckets)

    def read_for_keys(self, spec: TableSpec, keys: DataFrame) -> DataFrame:
        """Current rows of ONLY the buckets the given PK keys hash into —
        pure path selection: untouched buckets are never listed or read.
        The result is a SUPERSET of the keyed rows (whole buckets), which
        is exactly what a partial-rewrite fold wants: it must carry the
        untouched rows of a rewritten bucket."""
        return self.read_buckets(spec, self.buckets_of(spec, keys))

    def read_buckets(self, spec: TableSpec, buckets: list[int]) -> DataFrame:
        v = self.current_version(spec.target_name)
        if v is None or not buckets:
            return self.spark.createDataFrame([], spec.spark_schema())
        return self._read_manifest(spec, self._manifest(spec.target_name, v), buckets)

    def buckets_of(self, spec: TableSpec, keys: DataFrame) -> list[int]:
        """Distinct bucket ids the given PK keys hash into UNDER THE
        TABLE'S OWN bucket count — a bounded (<= n_buckets ints) driver
        collect that prices the whole partial apply: these are the only
        directories read or written."""
        rows = keys.select(
            self.bucket_expr(spec).alias("__b")
        ).distinct().collect()
        return sorted(r["__b"] for r in rows)

    # -- writes ------------------------------------------------------------
    def write(self, spec: TableSpec, df: DataFrame) -> None:
        """Full rewrite: every bucket lands in the new version (initial
        snapshot load, schema evolution, truncate, erasure rewrite).
        PRESERVES the table's existing bucket count — a compaction or
        erasure rewrite must not silently revert a ``rebucket``."""
        self._full_write(spec, df, self.bucket_count(spec.target_name))

    def rebucket(self, spec: TableSpec, new_n_buckets: int) -> int:
        """Grow (or shrink) ONE table's bucket count — the layout-growth
        path: bucket count is fixed per manifest version, and a table
        whose buckets outgrew the executor-memory envelope (the partial
        apply's unit of IO) rebuckets independently of the store's other
        tables. A normal full rewrite under the new modulus: the new
        version hosts every bucket, older versions stay readable under
        their OWN manifests (their bucket-id space included — see
        ``read_version``'s cross-count pruning guard), and retention GC
        retires them as usual. Returns the new version number."""
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1 (got {new_n_buckets})")
        self._full_write(spec, self.read(spec), new_n_buckets)
        return self.current_version(spec.target_name)

    def _full_write(
        self, spec: TableSpec, df: DataFrame, n: int, cols: list[str] | None = None
    ) -> None:
        v = (self.current_version(spec.target_name) or 0) + 1
        written = self._write_buckets(spec, df, v, n, cols)
        manifest = {
            "n_buckets": n,
            "buckets": {
                str(b): (v if b in written else None) for b in range(n)
            },
        }
        self._commit(spec.target_name, v, manifest)

    def write_partial(
        self,
        spec: TableSpec,
        df: DataFrame,
        *,
        keys: DataFrame | None = None,
        buckets: list[int] | None = None,
    ) -> None:
        """Commit a new version that REWRITES only the touched buckets
        (given directly, or derived from the touched PK ``keys``); every
        other bucket carries forward from the current manifest. ``df``
        must be the complete new state of those buckets — the fold of the
        batch onto ``read_for_keys``/``read_buckets`` rows. A fold result
        can only contain rows hashing into the touched set (the fold key
        IS the bucket key), which ``_write_buckets``'s listing check
        enforces rather than assumes."""
        name = spec.target_name
        cur = self.current_version(name)
        if cur is None:
            return self.write(spec, df)
        if buckets is None:
            if keys is None:
                raise ValueError("write_partial needs keys or buckets")
            buckets = self.buckets_of(spec, keys)
        v = cur + 1
        manifest = self._manifest(name, cur)
        written = self._write_buckets(spec, df, v, manifest["n_buckets"])
        stray = written - set(buckets)
        if stray:
            raise ValueError(
                f"partial write produced rows outside the touched buckets "
                f"{sorted(stray)} — the fold key must be the bucket key"
            )
        for b in buckets:
            # a touched bucket whose fold result is empty (all rows deleted)
            # writes no directory — record it as logically empty, not as a
            # reference to a directory that does not exist
            manifest["buckets"][str(b)] = v if b in written else None
        self._commit(name, v, manifest)

    def table_bytes(self, spec: TableSpec, buckets: list[int] | None = None) -> int:
        """On-disk bytes of the CURRENT snapshot (the hosted bucket files
        only — not historical versions), or of its ``buckets`` only:
        driver-side stat walk over the manifest's paths, no Spark job.
        Sizes the maintenance policy's rebucket decision (bytes per bucket
        vs the executor envelope) and a view patch's touched-bucket read."""
        cur = self.current_version(spec.target_name)
        if cur is None:
            return 0
        total = 0
        for d in self._paths(
            spec.target_name, self._manifest(spec.target_name, cur), buckets
        ):
            for root, _dirs, files in os.walk(d):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def _write_buckets(
        self, spec: TableSpec, df: DataFrame, v: int, n: int, cols: list[str] | None = None
    ) -> set[int]:
        # partitionBy writes each bucket into its own subdirectory in ONE
        # job; the helper column lives only in directory names (renamed to
        # bXXXXX below so readers never partition-infer it back). ``n`` is
        # threaded explicitly: a rebucket writes under the NEW modulus
        # while the current manifest still carries the old one. ``cols``
        # overrides the spec's projection (a schema-change write, whose
        # spec may not reflect the evolution yet).
        vdir = self._vdir(spec.target_name, v)
        cols = [c.name for c in spec.columns] if cols is None else cols
        staged = df.select(*cols).withColumn(
            "__bucket", self.bucket_expr(spec, n, cols)
        )
        # repartition on the partition key: without it every task writes a
        # file into every bucket directory it sees (tasks x buckets tiny
        # files + commit overhead); one file per bucket per version is the
        # layout the manifest reader wants. The partition COUNT is pinned
        # to the modulus: a keyed repartition with no count is fair game
        # for AQE coalescing, which folds a small batch's shuffle into ONE
        # task that then writes every bucket file serially (measured as a
        # 0.65-0.85s single-task job inside each fold at sf0.1); n tasks —
        # one per bucket, the design unit of write parallelism — keeps the
        # file writes concurrent at any batch size.
        staged.repartition(n, "__bucket").write.mode("overwrite").partitionBy(
            "__bucket"
        ).parquet(vdir)
        written: set[int] = set()
        for e in os.listdir(vdir):
            if e.startswith("__bucket="):
                b = int(e.split("=", 1)[1])
                os.replace(
                    os.path.join(vdir, e), self._bdir(spec.target_name, v, b)
                )
                written.add(b)
        return written

    def _commit(self, spec_name: str, v: int, manifest: dict) -> None:
        vd = self._vd(spec_name)
        atomic_write_json(os.path.join(vd.path(v), _MANIFEST), manifest)
        vd.advance({"version": v})

    # -- lifecycle (store protocol parity with ParquetStore) ---------------
    def create_table(self, spec: TableSpec) -> None:
        self.write(spec, self.spark.createDataFrame([], spec.spark_schema()))

    def drop_table(self, spec: TableSpec) -> None:
        shutil.rmtree(self._tdir(spec.target_name), ignore_errors=True)

    def truncate_table(self, spec: TableSpec) -> None:
        self.create_table(spec)

    def rename_table(self, spec: TableSpec, new_name: str) -> None:
        os.replace(
            self._tdir(spec.target_name),
            os.path.join(self.root, f"{spec.target_schema}.{new_name}"),
        )

    def evolve_add_column(self, spec: TableSpec, name: str, spark_type) -> None:
        # full rewrite: bucket files must share one schema per version
        cur = self.read(spec).withColumn(name, F.lit(None).cast(spark_type))
        self._evolved_full_write(spec, cur, added=(name, spark_type))

    def evolve_drop_column(self, spec: TableSpec, name: str) -> None:
        self._evolved_full_write(spec, self.read(spec).drop(name), dropped=name)

    def evolve_rename_column(self, spec: TableSpec, old: str, new: str) -> None:
        # the catalog spec is already renamed at call time but the bucket
        # files still carry the old name; an explicit-schema read under the
        # NEW name would null-fill the column (parquet matches by name) —
        # read under the pre-rename shape, then rename
        from connemara_spark.pipeline import _pre_rename

        self._evolved_full_write(
            spec,
            self.read(_pre_rename(spec, old, new)).withColumnRenamed(old, new),
            renamed=(old, new),
        )

    def _evolved_full_write(self, spec: TableSpec, df: DataFrame, **_why) -> None:
        # schema-change writes bypass spec.columns projection (the catalog
        # spec may not reflect the evolution yet at call time)
        self._full_write(
            spec, df, self.bucket_count(spec.target_name), list(df.columns)
        )

    def chain_length(self, spec: TableSpec) -> int:
        """Number of PHYSICAL version directories alive for the table —
        including host-only versions demoted by GC. This is the quantity
        partial rewrites grow and ``compact`` resets: every live version
        adds one directory per hosted bucket to the read fan-in ceiling,
        so maintenance policies gate on it."""
        return len(self._vd(spec.target_name).dirs())

    def compact(self, spec: TableSpec) -> int:
        """Rewrite the table as one self-contained version (every bucket
        hosted by the new version), releasing every older directory's last
        reference so the next ``gc_versions`` can drop them. Run it when
        the version chain gets long — partial rewrites keep old versions
        alive as bucket hosts (see ``gc_versions``), and compaction is the
        explicit cut point. Returns the new version number."""
        self.write(spec, self.read(spec))
        return self.current_version(spec.target_name)

    # -- retention ---------------------------------------------------------
    def versions(self, spec: TableSpec) -> list[int]:
        """Readable snapshots: committed versions that still carry a
        manifest (GC demotes host-only versions by deleting theirs)."""
        vd = self._vd(spec.target_name)
        return [
            v for v in vd.versions() if os.path.exists(os.path.join(vd.path(v), _MANIFEST))
        ]

    def gc_versions(self, spec: TableSpec, *, keep_last: int = 1) -> list[int]:
        """Reference-counted retention GC: drop version directories that
        (a) are older than the newest ``keep_last`` manifests AND (b) hold
        no bucket file referenced by any RETAINED manifest. Unlike the
        flat store, an old version dir can stay alive purely as a bucket
        host — partial rewrites make physical lifetime longer than logical
        lifetime, and deleting a still-referenced host would corrupt every
        newer snapshot that carries its buckets forward.

        Versions that survive ONLY as bucket hosts are demoted: their
        MANIFEST.json is deleted, so ``versions()`` stops listing them and
        ``read_version`` refuses them. Without the demotion a host-only
        version would still present itself as a readable snapshot while
        the versions ITS manifest references may already be gone —
        ``read_version`` would return silently partial data."""
        name = spec.target_name
        vd = self._vd(name)
        retained = vd.retained(keep_last, self.versions(spec))
        referenced = set(retained)
        for v in retained:
            referenced.update(
                h
                for h in self._manifest(name, v)["buckets"].values()
                if h is not None
            )
        # the sweep covers EVERY version directory, not just manifest-bearing
        # ones: versions demoted to host-only in an earlier GC pass must
        # still be physically removed once their last bucket reference is
        # rewritten away, or they leak forever
        removed = vd.gc(referenced)
        for v in vd.versions():
            if v not in retained:
                # alive purely as a bucket host: no longer a readable
                # snapshot — drop its manifest so read_version refuses it
                # instead of resolving references that may be GC'd
                try:
                    os.remove(os.path.join(vd.path(v), _MANIFEST))
                except FileNotFoundError:
                    pass
        return removed

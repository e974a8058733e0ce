"""Incremental view maintenance: equi-join view deltas from CDC states.

The consolidation store's reason to exist is cross-source joins
(`/root/reference/docs/index.rst:9-12`); the natural next ask is keeping
a JOIN VIEW current as CDC applies — without recomputing the join. The
classic delta rule (ΔV = ΔA⋈B' ∪ A⋈ΔB, Blakeley et al. 1986 "Efficiently
Updating Materialized Views") reduces here to: only join keys TOUCHED by
either side's delta can change a view row, so the view diff restricted
to touched keys IS the view delta.

Shape at 100 TB: the touched-key set is |Δ|-sized and broadcasts; the
states are semi-join-pruned to touched keys BEFORE the join (with
bucketed silver tables the semi join prunes at the scan), so work scales
with the delta, not the view. ``join_view_delta_staged`` emits the
per-key diff straight from two staged folds; the ``Maintained*View``
classes below patch versioned materialized views per batch.

Crucially the pruning must also reach UPSTREAM of the states: when a
state table is itself produced by a CDC fold, fold the touched keys only
(``apply_changes(..., keys=touched)`` — semantics-preserving because the
per-key fold is independent across keys). Otherwise the fold recomputes
the full table and only the diff is |Δ|-cheap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from connemara_spark.session import scoped_conf
from connemara_spark.stores import VersionedDir


def join_view_delta_staged(
    a_flat: DataFrame,
    b_flat: DataFrame,
    *,
    key_a: str,
    key_b: str,
    cols_a: list[str],
    cols_b: list[str],
) -> DataFrame:
    """View delta computed DIRECTLY from two staged folds' per-key frames
    (``apply_changes_cut``'s ``flat`` output: ``__pk, __s0, __s1``) —
    neither view state is materialized.

    With single-column PKs each side contributes at most ONE row per join
    key to the view, so the per-key delta is decidable locally after one
    |Δ|-sized full-outer join of the two flat frames: the old view row
    exists iff both sides' ``__s0.exists``; same for new; emit del/ins
    when the rows differ (null-safe struct compare). ``exceptAll`` is a
    bag set-diff — two extra hash-aggregation shuffles over both full view
    states — that this shape never needs: same rows, ~half the exchanges.

    ``cols_a``/``cols_b``: the view columns taken from each side, in view
    order (concatenated a-side then b-side). The join key must be in
    ``cols_a`` position-compatible with the caller's view contract.
    """
    a = a_flat.select(
        F.col(f"__pk.{key_a}").alias("__ka"),
        F.col("__s0.exists").alias("__a0e"),
        F.col("__s0.vals").alias("__a0v"),
        F.col("__s1.exists").alias("__a1e"),
        F.col("__s1.vals").alias("__a1v"),
    )
    b = b_flat.select(
        F.col(f"__pk.{key_b}").alias("__kb"),
        F.col("__s0.exists").alias("__b0e"),
        F.col("__s0.vals").alias("__b0v"),
        F.col("__s1.exists").alias("__b1e"),
        F.col("__s1.vals").alias("__b1v"),
    )
    j = a.join(b, a["__ka"] == b["__kb"], "inner")

    def row(av: str, bv: str) -> F.Column:
        return F.struct(
            *[F.col(f"{av}.{c}").alias(c) for c in cols_a],
            *[F.col(f"{bv}.{c}").alias(c) for c in cols_b],
        )

    old_e = F.coalesce(F.col("__a0e"), F.lit(False)) & F.coalesce(
        F.col("__b0e"), F.lit(False)
    )
    new_e = F.coalesce(F.col("__a1e"), F.lit(False)) & F.coalesce(
        F.col("__b1e"), F.lit(False)
    )
    old_r = F.when(old_e, row("__a0v", "__b0v"))
    new_r = F.when(new_e, row("__a1v", "__b1v"))
    changed = ~old_r.eqNullSafe(new_r)
    out_cols = [*cols_a, *cols_b]
    emitted = F.array_compact(
        F.array(
            F.when(changed & old_e, F.struct(F.lit("del").alias("op"), old_r.alias("r"))),
            F.when(changed & new_e, F.struct(F.lit("ins").alias("op"), new_r.alias("r"))),
        )
    )
    ex = j.select(F.explode(emitted).alias("e"))
    return ex.select(
        F.col("e.op").alias("op"),
        *[F.col(f"e.r.{c}").alias(c) for c in out_cols],
    )


def touched_keys(events: DataFrame, spec) -> DataFrame:
    """Distinct PKs a parsed CDC batch can affect — including BOTH halves
    of a PK-change split (the delete'd old key and the insert'd new key).
    Columns = ``spec.pk_cols``; this is the |delta|-sized set every
    incremental-maintenance consumer scopes its work to."""
    from connemara_spark.operators.apply import events_for_table

    ev = events_for_table(events, spec)
    return ev.select(
        *[F.col(f"__pk.{c}").alias(c) for c in spec.pk_cols]
    ).distinct()


# Events one patch shuffle partition carries (see _static_patch_plan).
_PATCH_EVENTS_PER_PARTITION = 100_000


def _static_patch_plan(spark, n_events: int):
    """Run a batch's maintainer patches with AQE OFF and a shuffle width
    derived from the batch's event count, restoring both session settings
    after (``scoped_conf``). ``Replayer.step`` enters it ONCE around all
    of a batch's concurrent patches (per-leg scopes would restore each
    other's values).

    The patch plans are static-shaped by construction — joins that must
    broadcast carry an explicit hint, the rest are shuffle-hash joins
    building on the batch-sized side — so AQE has nothing to re-plan;
    what it does add on a microbatch is one scheduler job per query stage
    (measured: 99 → 57 jobs, 14.5s → 10.7s for four MinMax patches at
    sf0.1).

    With AQE off, every patch exchange runs at ``spark.sql.shuffle.partitions``.
    Most of what the exchanges carry grows with the batch: the touched
    keys and their rows, the per-(group, value) and per-group frames — a
    few narrow rows per event. Two things do not: a version-anchored
    view's touched-bucket reads, which are shuffled whole only while they
    are small (``_SHUFFLE_TOUCHED_READ_BYTES``, see ``_delta_sources``),
    and the min/max and top-k base joins, which shuffle the whole view
    (one row per group). The width is ``ceil(n_events / 100_000)``, so a
    2k-event batch patches at width 1 (OPTIMIZATION_r12.md: a fixed width
    of 32 instead of 8 already made the 25-group registry patch slower).
    Measured on a 4-core host, min/max + top-k patch wall on a 174 MB,
    16-bucket table (median of 3 batches, each run spreading 2-6 s):
    200k events 8.2 / 8.7 / 8.4 / 8.7 s at widths 1 / 2 / 4 / 8, 400k
    events 14.3 / 11.9 / 11.9 / 14.4 s. Width 1 is not measurably worse
    up to 200k events; above that the widths are within the runs' noise,
    so the constant bounds a task's share of a large batch rather than
    tracking a measured optimum. Results are partition-count invariant
    (aggregations and equi-joins only).

    The patches' literal IN-lists (``_in_groups``) become hash-set
    ``InSet``s at any length and never int ``switch`` statements, so
    their generated classes do not change with the batch's touched
    groups and stay in the codegen cache (``session.
    _CODEGEN_CACHE_ENTRIES``)."""
    width = max(1, -(-n_events // _PATCH_EVENTS_PER_PARTITION))
    return scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(width),
            "spark.sql.optimizer.inSetConversionThreshold": "0",
            "spark.sql.optimizer.inSetSwitchThreshold": "0",
        },
    )


# Touched groups up to which a min/max or top-k patch prunes with literal
# IN-lists instead of broadcast joins (see _gated_patch).
_PATCH_GROUP_LITERALS = 4096


def _patch_gate(s, g: str):
    """The action that materialises the per-group patch frame ``s``
    (columns ``g`` + ``__rescan``, |touched groups| rows, lazily
    local-checkpointed by the caller) and returns ``(touched group
    values, rescan group values)``.

    It is the first of the patch's two jobs: the collect computes ``s``
    once into checkpoint blocks, which the write (the second job) reads
    back with the lineage severed. With the group values on the driver,
    the write prunes the keep side and the rescan leg with literal
    IN-lists instead of broadcast semi/anti joins (each broadcast
    exchange is its own scheduler job), and a batch that exhausts no
    extremum never schedules the rescan leg at all. Callers fall back to
    the broadcast-join shape above ``_PATCH_GROUP_LITERALS`` touched
    groups — at production delta sizes the broadcast plan is the right
    one, and the gate frame stays delta-bounded either way."""
    rows = s.select(g, "__rescan").collect()
    return [r[0] for r in rows], [r[0] for r in rows if r[1]]


def _in_groups(col, values):
    """Filter predicate keeping rows whose ``col`` is in ``values`` (a
    NULL matches nothing), compiled to the same class whatever the
    values: ``_static_patch_plan`` makes every IN-list of two or more
    literals a hash-set ``InSet``, which generated code references
    instead of compiling its values in, and the appended NULL makes a
    one-value list two (the optimizer turns one value into ``col =
    <literal>``). The NULL only turns a non-match's ``false`` into
    ``NULL``, which a filter drops all the same."""
    return col.isin(*values, None)


def _not_in_groups(col, values):
    """Keep-side predicate matching LEFT ANTI join semantics exactly,
    including NULLs on either side (NULL never matches, so NULL-group
    rows are KEPT; a NULL in ``values`` matches nothing)."""
    return ~F.coalesce(_in_groups(col, values), F.lit(False))


def _gated_patch(view, s, base: DataFrame, rows_sel: list) -> DataFrame:
    """The write side of a min/max or top-k patch over its lazily
    checkpointed per-group frame ``s`` (group, ``__n_new``, ``__rescan``
    and the columns ``rows_sel`` projects): the base view minus the
    touched groups, plus the patched rows of every surviving group that
    needs no rescan, plus — only when the gate reports one — the rescan
    leg. The rescan leg MUST see a group's whole world: ``_full_agg`` of
    the full current state (the touched keys' buckets do not contain a
    touched GROUP's other rows), pruned to the rescan groups.

    Up to ``_PATCH_GROUP_LITERALS`` touched groups the keep side and the
    rescan leg prune with literal IN-lists (pushed into the scan); above
    it with broadcast anti/semi joins."""
    g = view.group_col
    tg_vals, rescan_vals = _patch_gate(s, g)
    view.last_recompute_groups = len(rescan_vals)
    lit = len(tg_vals) <= _PATCH_GROUP_LITERALS
    kept = (
        (base.filter(_not_in_groups(F.col(g), tg_vals)) if tg_vals else base)
        if lit
        else base.join(F.broadcast(s.select(g)), g, "left_anti")
    )
    rows = s.filter((F.col("__n_new") > 0) & ~F.col("__rescan")).select(*rows_sel)
    patched = kept.unionByName(rows)
    if rescan_vals:
        state = view.store.read(view.spec)
        state = (
            state.filter(_in_groups(F.col(g), rescan_vals))
            if lit
            else state.join(
                F.broadcast(s.filter(F.col("__rescan")).select(g)),
                g,
                "left_semi",
            )
        )
        patched = patched.unionByName(view._full_agg(state))
    return patched


def _table_buckets(buckets: dict | None, spec) -> list[int] | None:
    """``spec``'s touched-bucket ids from the batch summary's
    ``{(db, schema, table): ids}`` (``before_apply``'s ``buckets``), or
    None — read unpruned — when the caller priced none. A table absent
    from a given dict had no DML in the batch, exactly as the fold
    reads it (``Replayer._apply_dml_segment``)."""
    return None if buckets is None else buckets.get(spec.qualified_key, [])


def _state_at(view, v: int | None, buckets: list[int] | None = None) -> DataFrame:
    """The view's table as of store version ``v`` (empty when the table
    had no version yet), pruned to ``buckets`` at path selection when
    given."""
    spec, store = view.spec, view.store
    if not v:
        return view.spark.createDataFrame([], spec.spark_schema())
    if buckets is None:
        return store.read_version(spec, v)
    return store.read_version(spec, v, buckets=buckets)


# Touched-bucket read bytes up to which a view patch shuffles the reads to
# the touched keys instead of broadcasting the keys (see _delta_sources).
_SHUFFLE_TOUCHED_READ_BYTES = 4 << 20


def _delta_sources(view, m: dict) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(old, old_t, new_t)`` of a version-anchored patch: ``old`` is the
    store version the view last incorporated (committed metadata; the
    pre-apply pin only for the very first batch — on a first-batch retry
    the pin is post-batch, old == new, the delta is empty and the
    bootstrap base already contains the batch), ``old_t``/``new_t`` are
    the old and current states' rows at the batch's touched keys.

    At steady state with the summary's bucket ids, both reads prune to
    the touched buckets at path selection: the diff inspects touched keys
    only, and a bucket is the complete per-key world for everything in
    it. The bootstrap batch (``m["version"] == 0``) reads full — its base
    aggregate needs the whole old state.

    The touched-key semi join is shaped by what it reads (the current
    state's bytes over the touched buckets, or the whole table). Up to
    ``_SHUFFLE_TOUCHED_READ_BYTES`` it is a shuffle-hash join building on
    the touched keys: a stage of the consuming job, not a job of its own,
    but it shuffles both reads whole. Above it the touched keys are
    broadcast (one job) and the reads are filtered in their own scan
    tasks, so only the touched rows are shuffled. Measured on a 4-core
    host, min/max + top-k patch wall for 2k-event batches that touch all
    16 buckets, shuffled vs broadcast (median of 5 batches; of 3 at
    174 MB): 0.7 MB 1.86 vs 1.73 s, 4.4 MB 1.64 vs 1.67 s, 17 MB 2.65 vs
    1.85 s, 44 MB 3.09 vs 2.47 s, 174 MB 6.08 vs 3.31 s — the broadcast's
    job costs about what shuffling 4 MB does, and the shuffle grows with
    the touched buckets."""
    spec, store = view.spec, view.store
    applied = m["store_version"] if m["version"] > 0 else view._v_pre
    bks = view._buckets if m["version"] > 0 else None
    old = _state_at(view, applied, bks)
    new = store.read(spec) if bks is None else store.read_buckets(spec, bks)
    touched = (
        view._touched.hint("shuffle_hash")
        if store.table_bytes(spec, buckets=bks) <= _SHUFFLE_TOUCHED_READ_BYTES
        else F.broadcast(view._touched)
    )
    pk = list(spec.pk_cols)
    old_t, new_t = (df.join(touched, on=pk, how="left_semi") for df in (old, new))
    return old, old_t, new_t


class MaintainedView:
    """The lifecycle every maintained view shares — reuse the prior
    answer, pay only for the delta (driven by ``Replayer.step`` /
    ``StreamingReplayer`` via ``maintainers=[...]``):

    - ``before_apply(parsed_events, buckets)`` pins the batch's touched
      keys, the pre-apply store version and the summary's touched-bucket
      ids. The key pin is lazy, NOT localCheckpoint'd: both drivers keep
      ``parsed_events`` cached until ``after_apply`` returns, so it costs
      zero jobs here and each consumer evaluates the |delta|-sized
      distinct over the warm cache (an eager pin was one whole job per
      maintainer per batch). It derives from the IMMUTABLE parsed batch
      only — never the store — so post-apply evaluation sees identical
      keys.
    - ``after_apply(batch_id)`` builds the patched view (``_patch_frame``)
      and commits it: the frame is written as the next version of
      ``view_dir`` and then the view's CURRENT pointer advances to the
      next meta (``VersionedDir``'s write-then-advance). A crash in
      between leaves CURRENT on the previous version, which the retried
      batch re-reads; ``batch_id`` is ignored (the patch is
      version-anchored, not ledgered).
    - ``read_view()`` reads the CURRENT version (before the first patch:
      the full recompute ``_full_agg`` of the current store).
    - ``check_schema(catalog)`` fails loudly when DDL removed or renamed
      a column the view projects; ``gc_view`` retires old versions.

    A subclass supplies its validation, ``_full_agg``, ``_patch_frame``
    (→ ``(next pointer meta, patched frame)``, uncommitted — plan audits
    explain it) and, where it differs, the hooks ``_touched_keys``,
    ``_for_readers`` and ``_before_commit``. ``_meta0`` is the pointer
    before the first commit; the version-anchored views' pointers also
    record the store version they incorporate (``store_version``)."""

    _kind = "view"
    _meta0: dict = {"version": 0, "store_version": None}

    def __init__(self, spark, store, view_dir: str, *needs):
        """``needs``: one ``(spec, columns the view projects from it)``
        pair per source table, the first being the view's own table."""
        self.spark = spark
        self.store = store
        self.spec = needs[0][0]
        self.view_dir = view_dir
        self._vd = VersionedDir(view_dir)
        # The projection contract, PINNED at construction. check_schema must
        # compare the catalog against what this view was BUILT to project —
        # the spec objects themselves are the catalog's live entries, which
        # EngineCatalog.rename_column mutates in place (pk_cols included),
        # so deriving the needed set from the spec at check time can never
        # see a rename (the staleness check would silently pass and the
        # next patch would fail or null-fill). Caught by the
        # cdc_two_source_ddl_join_view gate.
        self._needs = [
            (spec, frozenset(spec.pk_cols) | set(cols)) for spec, cols in needs
        ]
        self._vschema = None
        os.makedirs(view_dir, exist_ok=True)
        self._touched = self._v_pre = self._buckets = None

    # -- the lifecycle ---------------------------------------------------
    def _meta(self) -> dict:
        return self._vd.meta(dict(self._meta0))

    def read_view(self) -> DataFrame:
        m = self._meta()
        if m["version"] == 0:
            raw = self._full_agg(*(self.store.read(spec) for spec, _ in self._needs))
        else:
            raw = self._version(m["version"])
        return self._for_readers(raw)

    def check_schema(self, catalog) -> None:
        """Fail LOUDLY when mid-stream DDL removed OR RENAMED a column this
        view projects (driven after any batch that executed DDL). Without
        the check, the pinned projection would read the dropped column out
        of newer store files as NULLs and the view would drift silently.
        An unrelated ADD COLUMN passes: the view's projection is a subset
        either way."""
        for spec, need in self._needs:
            cur = catalog.get(spec.database, spec.schema, spec.table)
            missing = sorted(need - set(cur.column_names))
            if missing:
                raise RuntimeError(
                    f"maintained {self._kind} over {spec.target_name} lost "
                    f"column(s) {missing} to DDL — drop and rebuild the view"
                )

    def gc_view(self, *, keep_last: int = 2) -> list[int]:
        """Retire old view version directories — every batch writes one,
        so an un-GC'd view_dir grows linearly with stream length. Keeps
        the newest ``keep_last`` versions up to and including CURRENT; the
        patch only ever reads the CURRENT version (its base), so
        ``keep_last=1`` is already crash-safe — a retried batch re-reads
        the committed CURRENT, never an older version. Returns the removed
        version numbers."""
        return self._vd.gc(self._vd.retained(keep_last))

    def before_apply(self, parsed_events: DataFrame, buckets: dict | None = None) -> None:
        self._touched = self._touched_keys(parsed_events)
        self._v_pre = self.store.current_version(self.spec.target_name)
        self._buckets = _table_buckets(buckets, self.spec)

    def after_apply(self, batch_id: str | None = None) -> None:
        nxt, patched = self._patch_frame()
        self._before_commit(nxt)
        self._commit(patched, nxt)
        self._touched = self._v_pre = self._buckets = None

    # -- hooks -----------------------------------------------------------
    def _touched_keys(self, parsed_events: DataFrame) -> DataFrame:
        return touched_keys(parsed_events, self.spec)

    def _for_readers(self, raw: DataFrame) -> DataFrame:
        return raw

    def _before_commit(self, nxt: dict) -> None:
        """Runs between the patch and the view write; may extend ``nxt``."""

    # -- shared by the patches ---------------------------------------------
    def _version(self, v: int) -> DataFrame:
        """Committed version ``v`` of the view. The schema is invariant
        across versions, so only the FIRST read in a maintainer's lifetime
        pays the parquet footer-inference job (each uncached read costs a
        1-task inference job plus a driver gap — several per batch across
        the patch ladder)."""
        path = self._vd.path(v)
        if self._vschema is not None:
            return self.spark.read.schema(self._vschema).parquet(path)
        df = self.spark.read.parquet(path)
        self._vschema = df.schema
        return df

    def _base(self, m: dict, *states: DataFrame) -> DataFrame:
        """The view the patch starts from: the version ``m`` names, or —
        before the first commit — ``_full_agg`` of ``states``."""
        return self._full_agg(*states) if m["version"] == 0 else self._version(m["version"])

    def _next(self, m: dict) -> dict:
        """The pointer a patch of ``m`` commits: the next version, the
        store version it incorporates (version-anchored views), every
        other key carried forward."""
        nxt = dict(m, version=m["version"] + 1)
        if "store_version" in nxt:
            nxt["store_version"] = self.store.current_version(self.spec.target_name)
        return nxt

    def _commit(self, frame: DataFrame, meta: dict) -> None:
        """Write ``frame`` as version ``meta["version"]``, then advance
        CURRENT to ``meta``.

        A view version is rewritten whole every batch and differs from the
        previous one by one batch's delta, so the previous version's bytes
        size it: one file per ``spark.sql.files.maxPartitionBytes`` (the
        read split — a smaller file is one read task anyway). Left at the
        frame's own width, the write fans out to one file per task of its
        last stage (the previous version's files plus every patch
        partition), each a task, a file commit and a later footer read,
        for views of a few dozen rows. The first version (no previous one)
        writes at the frame's own width."""
        v = meta["version"]
        prev = self._vd.path(v - 1)
        if os.path.isdir(prev):
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(prev)
                for f in files
            )
            split = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
            frame = frame.coalesce(max(1, -(-size // split)))
        frame.write.mode("overwrite").parquet(self._vd.path(v))
        self._vd.advance(meta)


class MaintainedTwoTableJoinView(MaintainedView):
    """Keep an equi-join view over TWO CDC-fed tables materialized and
    CURRENT — the consolidation engine's defining query (cross-source
    joins are the reference's reason to exist, docs/index.rst:9-12) as an
    incrementally-maintained artifact. Both sides stream: a batch may
    touch either or both tables, and the view patch covers the union of
    their touched join keys.

    Same replacement-at-touched-keys discipline as ``MaintainedJoinView``
    (retry-idempotent: the patch derives from the NEW states alone), with
    the join-key set = touched A-side PKs ∪ touched B-side PKs. Both join
    columns must be their table's single PK — that is what makes a B-side
    delta addressable as a set of join keys without before-images (a
    non-PK join column would need the old AND new join-key values of each
    changed B row).
    """

    _kind = "two-table join view"
    _meta0 = {"version": 0}

    def __init__(
        self,
        spark,
        store,
        spec_a,
        spec_b,
        *,
        key_a: str,
        key_b: str,
        view_cols: list[str],
        view_dir: str,
    ):
        for spec, key, side in ((spec_a, key_a, "A"), (spec_b, key_b, "B")):
            if spec.pk_cols != [key]:
                raise ValueError(
                    f"{side}-side join column {key!r} must be the table's "
                    f"single PK (got pk_cols={spec.pk_cols!r}): touched-key "
                    "pruning happens in PK space on both sides"
                )
        if key_a not in view_cols:
            raise ValueError(
                f"view_cols must include the join key {key_a!r} "
                "(touched-key replacement deletes view rows by key)"
            )
        cols_a = {c.name for c in spec_a.columns}
        cols_b = {c.name for c in spec_b.columns}
        ambiguous = [
            c
            for c in view_cols
            if c != key_a and c != key_b and c in cols_a and c in cols_b
        ]
        if ambiguous:
            # _full_agg would silently resolve these to the A side; a caller
            # expecting the B-side value would get wrong view contents with
            # no error — refuse instead
            raise ValueError(
                f"view_cols {ambiguous!r} exist in both {spec_a.target_name} "
                f"and {spec_b.target_name} — rename one side's column in its "
                "spec or drop the ambiguous name from view_cols"
            )
        super().__init__(
            spark, store, view_dir,
            (spec_a, {c for c in view_cols if c in cols_a}),
            (spec_b, {c for c in view_cols if c in cols_b}),
        )
        self.spec_a = spec_a
        self.spec_b = spec_b
        self.key_a = key_a
        self.key_b = key_b
        self.view_cols = view_cols

    def _full_agg(self, a: DataFrame, b: DataFrame) -> DataFrame:
        j = a.join(b, a[self.key_a] == b[self.key_b])
        return j.select(
            *[
                (a[c] if c in a.columns else b[c]).alias(c)
                for c in self.view_cols
            ]
        )

    def _touched_keys(self, parsed_events: DataFrame) -> DataFrame:
        ta = touched_keys(parsed_events, self.spec_a).select(
            F.col(self.key_a).alias("__k")
        )
        tb = touched_keys(parsed_events, self.spec_b).select(
            F.col(self.key_b).alias("__k")
        )
        return ta.union(tb).distinct()

    def _patch_frame(self):
        m = self._meta()
        # steady state over a bucketed silver store: both new-state reads
        # prune to the touched keys' buckets at path selection (replacement
        # only needs touched keys). The first materialization reads full —
        # its base is the complete join. The summary's bucket ids cannot
        # stand in for read_for_keys here: the touched set is the union of
        # BOTH tables' keys, so a key touched only on the B side can hash
        # into an A bucket that A's own summary ids do not contain.
        if m["version"] > 0 and hasattr(self.store, "read_for_keys"):
            new_a, new_b = (
                self.store.read_for_keys(
                    spec, self._touched.select(F.col("__k").alias(key))
                )
                for spec, key in ((self.spec_a, self.key_a), (self.spec_b, self.key_b))
            )
        else:
            new_a = self.store.read(self.spec_a)
            new_b = self.store.read(self.spec_b)
        t = F.broadcast(self._touched)
        a_t = new_a.join(t, new_a[self.key_a] == t["__k"], "left_semi")
        b_t = new_b.join(t, new_b[self.key_b] == t["__k"], "left_semi")
        repl = self._full_agg(a_t, b_t)
        # first materialization: full join of the CURRENT states (they
        # already include this batch — replacement overwrites the touched
        # keys either way, so this is retry-safe too)
        base = self._base(m, new_a, new_b)
        kept = base.join(t, base[self.key_a] == t["__k"], "left_anti")
        return self._next(m), kept.unionByName(repl)


class MaintainedAggView(MaintainedView):
    """Keep a grouped aggregate ``(group, n_rows, total)`` over a CDC-fed
    table materialized and CURRENT, incrementally — the deployment shape
    of ``incremental_group_agg``: per microbatch the patch costs
    O(touched keys), never a base-table rescan.

    Protocol (driven by ``Replayer.step(maintainers=[...])``):
    ``before_apply(parsed_events)`` pins the batch's touched keys and the
    pre-apply store version; ``after_apply()`` diffs the table's state
    BETWEEN STORE VERSIONS at the touched keys and merges the -old/+new
    group deltas into the materialized aggregate. ``buckets`` (the batch
    summary's touched-bucket ids) prunes the diff's version reads;
    ``batch_id`` is ignored (the patch is version-anchored, not
    ledgered).

    Crash recovery is version-anchored (the ParquetStore-native variant
    of the join view's replacement patch): the view pointer persists the
    STORE version it incorporates (``store_version``), and the delta is
    always computed from ``read_version(store_version)`` → current. If
    the process dies after the store advanced but before the view moved,
    the restarted batch recomputes the same old→new diff — the pinned
    frame a diff-from-memory would have lost is re-read from the retained
    version directory. Consequence: ``gc_versions`` must keep at least
    the view's ``store_version`` (keep_last >= 2 while a maintainer is
    attached); GC'ing it makes the next patch fail loudly (read_version
    raises), never silently.
    """

    _kind = "aggregate"

    def __init__(
        self,
        spark,
        store,
        spec,
        *,
        group_col: str,
        sum_col: str,
        sum_type: str = "decimal(12,2)",
        sum_expr: str | None = None,
        view_dir: str,
    ):
        # sum_col, not sum_expr, is the DDL-tracked dependency
        super().__init__(spark, store, view_dir, (spec, {group_col, sum_col}))
        self.group_col = group_col
        self.sum_col = sum_col
        # optional SQL expression summed INSTEAD of the bare column (e.g. a
        # grid-exact money normalization)
        self.sum_expr = sum_expr or sum_col
        self.sum_type = sum_type

    def _full_agg(self, state: DataFrame) -> DataFrame:
        return state.groupBy(self.group_col).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr(self.sum_expr).cast(self.sum_type))
            .cast(self.sum_type)
            .alias("total"),
        )

    def _patch_frame(self):
        from connemara_spark.operators.apply import group_agg_net, merge_group_agg

        m = self._meta()
        old, old_t, new_t = _delta_sources(self, m)

        # JOIN-FREE delta: the group aggregate is distributive, so the
        # per-key old↔new pairing a full-outer diff join would produce is
        # algebraically irrelevant — old touched rows contribute (-1,-val),
        # new touched rows (+1,+val), one map-side-combined groupBy nets
        # them (group_agg_net). This removed two shuffle exchanges of
        # touched-key rows from every patch (r8; EXPLAIN.md view_patch).
        net = group_agg_net(
            old_t, new_t,
            group_col=self.group_col, sum_col=self.sum_expr, sum_type=self.sum_type,
        )
        patched = merge_group_agg(
            self._base(m, old), net, group_col=self.group_col, sum_type=self.sum_type
        )
        return self._next(m), patched


class MaintainedJoinView(MaintainedView):
    """Keep an equi-join view ``A ⋈ dim`` materialized and CURRENT under a
    CDC stream, incrementally — the deployment shape of the delta rule:
    per microbatch, work scales with that batch's touched-key set, never
    the view.

    Protocol (driven by ``StreamingReplayer`` when passed via
    ``maintainers=[...]``): ``before_apply(parsed_events, buckets)`` pins
    the batch's touched keys, the OLD state's store version and the
    summary's touched-bucket ids; after the replayer applies the batch,
    ``after_apply()`` patches the materialized view (versioned parquet,
    same write-then-advance pointer discipline as the silver store).

    The patch is REPLACEMENT at the touched keys — drop every view row
    whose join key is touched, re-insert the join of the NEW state at
    those keys — not an old-vs-new diff. Replacement makes recovery
    idempotent: if the process dies after the store advanced but before
    the view pointer moved, the restarted stream re-applies the batch
    (store apply is idempotent) and ``before_apply`` pins a state that
    already CONTAINS the batch. A diff of that state against itself is
    empty and would silently lose the batch's view changes forever;
    replacement recomputes the same correct rows from the new state
    alone, so the retry converges. Work remains |Δ|-scoped either way:
    the touched set broadcasts and prunes the state before the join.
    """

    _kind = "join view"
    _meta0 = {"version": 0}

    def __init__(
        self,
        spark,
        store,
        spec,
        *,
        dim: DataFrame,
        key_a: str,
        key_b: str,
        view_cols: list[str],
        view_dir: str,
    ):
        # The touched-key set is computed in PK space (touched_keys), and
        # the patch prunes the view on key_a — those spaces must coincide or
        # the pruning silently misses changed rows and the view goes stale.
        # A non-PK join column would need touched keys derived in key_a
        # space from the old+new states at the touched PKs; not supported.
        if spec.pk_cols != [key_a]:
            raise ValueError(
                f"MaintainedJoinView requires key_a == the spec's single PK "
                f"column (got key_a={key_a!r}, pk_cols={spec.pk_cols!r}): "
                "touched-key pruning happens in PK space"
            )
        # Replacement-at-key patching deletes view rows by join key, so the
        # materialized rows must carry it.
        if key_a not in view_cols:
            raise ValueError(
                f"view_cols must include the join key {key_a!r} "
                "(touched-key replacement deletes view rows by key)"
            )
        mine = {c.name for c in spec.columns}
        super().__init__(spark, store, view_dir, (spec, {c for c in view_cols if c in mine}))
        self.dim = dim
        self.key_a = key_a
        self.key_b = key_b
        self.view_cols = view_cols

    def _full_agg(self, a: DataFrame) -> DataFrame:
        j = a.join(self.dim, a[self.key_a] == self.dim[self.key_b])
        return j.select(
            *[
                (a[c] if c in a.columns else self.dim[c]).alias(c)
                for c in self.view_cols
            ]
        )

    def _patch_frame(self):
        m = self._meta()
        v0 = m["version"]
        # bucketed silver store at steady state: the new-state read prunes
        # to the summary's touched-bucket ids at path selection (replacement
        # only needs touched keys; the semi join below narrows the buckets
        # to them)
        bks = self._buckets if v0 > 0 else None
        new = (
            self.store.read(self.spec)
            if bks is None
            else self.store.read_buckets(self.spec, bks)
        )
        t = F.broadcast(
            self._touched.select(
                F.col(self._touched.columns[0]).alias("__k")
            ).distinct()
        )
        # replacement rows: the NEW state's join restricted to touched keys
        # (semi-join prunes before the dim join — |Δ|-sized work)
        a_t = new.join(t, new[self.key_a] == t["__k"], "left_semi")
        repl = self._full_agg(a_t)
        # base view: the materialized version if one exists, else the join
        # of the pre-apply state (first materialization only; on a retry
        # after a post-apply crash the pinned version may already contain
        # the batch — harmless, replacement overwrites the touched keys
        # either way)
        base = self._version(v0) if v0 else self._full_agg(_state_at(self, self._v_pre))
        kept = base.join(t, base[self.key_a] == t["__k"], "left_anti")
        return self._next(m), kept.unionByName(repl)


class MaintainedMinMaxView(MaintainedView):
    """Keep a grouped ``(group, n_rows, min_val, max_val)`` view over a
    CDC-fed table materialized incrementally — the classic NON-self-
    maintainable aggregate (Gupta & Mumick's taxonomy: MIN/MAX under
    deletions cannot be patched from the delta alone, because deleting a
    group's extremum exposes an unknown runner-up).

    The standard counter refinement makes the rescan RARE instead of
    per-batch: the view also stores the extremum's MULTIPLICITY
    (``min_cnt``/``max_cnt``). Per batch, over the touched keys only:

    - an insert below the min (or above the max) replaces it outright;
    - deletes/inserts AT the extremum adjust its multiplicity;
    - only when the multiplicity hits zero with no insert taking over is
      the group's aggregate recomputed — and then from the CURRENT state
      restricted to exactly those groups (a literal IN-list filter the
      scan can push down), never a full-view rescan.

    Everything else mirrors ``MaintainedAggView``: the Replayer maintainer
    protocol (``before_apply`` pins touched keys, the pre-apply store
    version and the summary's touched-bucket ids, ``after_apply``
    patches), version-anchored crash recovery (the view pointer records
    the store version it incorporates; the diff is always old-version →
    current), and touched-bucket pruning on a BucketStore for the delta
    legs. The recompute leg deliberately reads the FULL current state
    (pruned only by the group filter): the touched keys' buckets do not
    contain a touched GROUP's other rows.

    A patch is two Spark jobs: the gate collect that computes the
    per-group patch frame (see ``_patch_gate``) and the view write (which
    also runs the recompute leg when one fires). A third, the touched-key
    broadcast, joins them when the touched buckets are large (see
    ``_delta_sources``).

    At 100 TB: the delta legs are |Δ|-bounded; the recompute leg's
    frequency is bounded by actual extremum-exhaustion events (data-, not
    size-, driven), and its cost is one pushed-down filtered scan per
    affected batch. ``last_recompute_groups`` (always recorded: the gate
    returns the rescan groups, and they double as the skip condition for
    scheduling the recompute leg at all) exposes how often it fires.
    """

    _kind = "min/max view"

    def __init__(
        self,
        spark,
        store,
        spec,
        *,
        group_col: str,
        val_col: str,
        val_type: str = "decimal(12,2)",
        view_dir: str,
    ):
        super().__init__(spark, store, view_dir, (spec, {group_col, val_col}))
        self.group_col = group_col
        self.val_col = val_col
        self.val_type = val_type
        self.last_recompute_groups: int | None = None

    def _val(self):
        return F.col(self.val_col).cast(self.val_type)

    def _full_agg(self, state: DataFrame) -> DataFrame:
        """(group, n_rows, min_val, min_cnt, max_val, max_cnt) from
        scratch: one per-(group, value) count, then ONE per-group
        aggregation over it — the row count sums every value's count (NULL
        values included), min_by/max_by pick the extremum's multiplicity
        and skip NULL values, so an all-NULL group gets NULL extrema. Two
        map-side-combined shuffles, no join."""
        per_val = state.groupBy(
            F.col(self.group_col), self._val().alias("__v")
        ).agg(F.count(F.lit(1)).alias("__c"))
        return per_val.groupBy(self.group_col).agg(
            F.sum("__c").alias("n_rows"),
            F.min("__v").alias("min_val"),
            F.min_by("__c", "__v").alias("min_cnt"),
            F.max("__v").alias("max_val"),
            F.max_by("__c", "__v").alias("max_cnt"),
        )

    def _prep(self) -> dict:
        """Batch-invariant Column trees of the patch, prepared once per
        (group, value, type) signature and reused across every batch and
        maintainer instance (the same plan-fragment cache as the apply
        fold — a per-batch protocol otherwise pays the full py4j
        expression-construction cost per patch; see apply._make_fold's
        NOTE). Everything here references columns BY NAME only."""
        from connemara_spark.operators.apply import _prepared

        g = self.group_col

        def build() -> dict:
            ins_v = F.when(
                (F.col("__ins") > 0) & F.col("__v").isNotNull(), F.col("__v")
            )
            n_new = F.coalesce(F.col("__bn"), F.lit(0)) + F.col("__dn")
            surv_min = F.col("__bminc") + F.coalesce(F.col("__d_at_min"), F.lit(0))
            surv_max = F.col("__bmaxc") + F.coalesce(F.col("__d_at_max"), F.lit(0))
            new_group = F.col("__bn").isNull()
            ins_takes_min = F.col("__ins_min").isNotNull() & (
                new_group
                | F.col("__bmin").isNull()
                | (F.col("__ins_min") < F.col("__bmin"))
            )
            ins_takes_max = F.col("__ins_max").isNotNull() & (
                new_group
                | F.col("__bmax").isNull()
                | (F.col("__ins_max") > F.col("__bmax"))
            )
            min_ok = ins_takes_min | (
                ~new_group & F.col("__bmin").isNotNull() & (surv_min > 0)
            )
            max_ok = ins_takes_max | (
                ~new_group & F.col("__bmax").isNotNull() & (surv_max > 0)
            )
            # a group whose rows are all null-valued has null extrema on
            # both sides — self-maintainable trivially
            all_null = F.col("__ins_min").isNull() & (
                new_group | F.col("__bmin").isNull()
            )
            needs_rescan = (n_new > 0) & ~all_null & ~(min_ok & max_ok)
            return {
                "delta_old": [
                    F.col(g), self._val().alias("__v"), F.lit(-1).alias("__s")
                ],
                "delta_new": [
                    F.col(g), self._val().alias("__v"), F.lit(1).alias("__s")
                ],
                "per_val_aggs": [
                    F.sum("__s").alias("__ds"),
                    F.sum(F.when(F.col("__s") > 0, 1)).alias("__ins"),
                ],
                "base_sel": [
                    F.col(g),
                    F.col("n_rows").alias("__bn"),
                    F.col("min_val").alias("__bmin"),
                    F.col("min_cnt").alias("__bminc"),
                    F.col("max_val").alias("__bmax"),
                    F.col("max_cnt").alias("__bmaxc"),
                ],
                "s_aggs": [
                    F.sum("__ds").alias("__dn"),
                    F.sum(
                        F.when(F.col("__v") == F.col("__bmin"), F.col("__ds"))
                    ).alias("__d_at_min"),
                    F.sum(
                        F.when(F.col("__v") == F.col("__bmax"), F.col("__ds"))
                    ).alias("__d_at_max"),
                    F.min(ins_v).alias("__ins_min"),
                    F.max(ins_v).alias("__ins_max"),
                    # min_by/max_by skip rows whose ordering expr is NULL, so
                    # these pick the insert count AT the insert extremum
                    F.min_by(F.col("__ins"), ins_v).alias("__ins_minc"),
                    F.max_by(F.col("__ins"), ins_v).alias("__ins_maxc"),
                    F.first("__bn").alias("__bn"),
                    F.first("__bmin").alias("__bmin"),
                    F.first("__bminc").alias("__bminc"),
                    F.first("__bmax").alias("__bmax"),
                    F.first("__bmaxc").alias("__bmaxc"),
                ],
                "n_new": n_new,
                "needs_rescan": needs_rescan,
                "rows_sel": [
                    F.col(g),
                    F.col("__n_new").alias("n_rows"),
                    F.when(ins_takes_min, F.col("__ins_min"))
                    .otherwise(F.col("__bmin"))
                    .alias("min_val"),
                    F.when(
                        ins_takes_min,
                        F.col("__ins_minc")
                        # inserts AT an unchanged min also count toward its
                        # multiplicity; when the insert min TAKES OVER
                        # strictly below, nothing pre-existing sits at that
                        # value
                        ,
                    )
                    .otherwise(surv_min)
                    .alias("min_cnt"),
                    F.when(ins_takes_max, F.col("__ins_max"))
                    .otherwise(F.col("__bmax"))
                    .alias("max_val"),
                    F.when(ins_takes_max, F.col("__ins_maxc"))
                    .otherwise(surv_max)
                    .alias("max_cnt"),
                ],
            }

        return _prepared(("mm_patch", g, self.val_col, self.val_type), build)

    def _patch_frame(self):
        m = self._meta()
        old, old_t, new_t = _delta_sources(self, m)

        g = self.group_col
        prep = self._prep()  # batch-invariant Column trees (see _prep)

        # the batch as a signed value multiset at the touched keys: old
        # rows leave (-1), new rows arrive (+1) — state diff, not event
        # rows, so partial (TOAST) updates and PK-change splits are
        # already resolved by the fold
        deltas = old_t.select(*prep["delta_old"]).unionByName(
            new_t.select(*prep["delta_new"])
        )
        # ONE (group, value) pre-aggregation feeds every per-group statistic
        # below — it replaces the former two-branch shape (a row-level join
        # with the base + a separate two-level ins_cnts aggregation + their
        # re-join), removing two shuffle exchanges and a join from every
        # patch. __ds is the net signed multiplicity at the value; __ins
        # counts the batch's insert rows at it (for the takeover
        # multiplicity).
        per_val = deltas.groupBy(g, "__v").agg(*prep["per_val_aggs"])

        base = self._base(m, old)
        # each touched value with its group's extremum bookkeeping: a
        # shuffle join building on the batch-sized side. It reads AND
        # shuffles the whole view (one row per group) at the patch width;
        # pruning the view first with a broadcast of the touched groups
        # would be a job of its own. A view with millions of groups pays
        # that shuffle every batch (see _static_patch_plan).
        d = per_val.hint("shuffle_hash").join(
            base.select(*prep["base_sel"]), g, "left"
        )
        s = d.groupBy(g).agg(*prep["s_aggs"])

        # ONE materialization for the whole patch: `s` is |touched groups|-
        # sized and every downstream consumer — the keep side's group set,
        # the patched rows, the rescan gate and the rescan group list —
        # reads this checkpoint instead of re-deriving the delta subtree.
        # Lazy: the gate's collect is the job that computes it (see
        # _patch_gate); the write is the patch's only other job. In the
        # common batch (no extremum exhausted) the gate lets the write skip
        # SCHEDULING the whole recompute subtree — a full-store scan plus
        # two aggregation exchanges that would produce zero rows — and
        # below the literal cap it also removes both write-side broadcast
        # exchanges (each its own scheduler job per batch).
        s = (
            s.withColumn("__n_new", prep["n_new"])
            .withColumn("__rescan", prep["needs_rescan"])
            .localCheckpoint(eager=False)
        )
        return self._next(m), _gated_patch(self, s, base, prep["rows_sel"])


class MaintainedTopKView(MaintainedView):
    """Keep each group's TOP-K rows by a value column materialized
    incrementally — the BI leaderboard artifact ("top k accounts per
    segment"), and like MIN/MAX a NON-self-maintainable aggregate:
    deleting a stored top row pulls in a runner-up the delta alone does
    not know.

    The refinement is a SLACK BUFFER: the view stores each group's top
    ``k + slack`` (value, pk) pairs plus the group's total row count.
    Per batch, over the touched keys only:

    - stored pairs whose pk was touched are dropped (their value may have
      changed or the row may be gone);
    - the batch's new/updated rows merge in by sorted order;
    - the merged list re-trims to ``k + slack``.

    Only when a group's stored list falls below ``min(k, n_rows)`` — the
    buffer burned through faster than arrivals refilled it — is that
    group re-aggregated, from the current state restricted to exactly
    those groups (literal IN-list filter + per-group window, output
    bounded at ``k + slack`` rows per group). Everything else follows the
    ``MaintainedMinMaxView`` protocol: version-anchored recovery,
    touched-bucket pruning for the delta legs, full-state read only on
    the rescan leg, two Spark jobs per patch (gate collect, view write;
    plus the touched-key broadcast over large touched buckets).

    Ordering is (value DESC, pk ASC) — total and engine-independent, so
    the exploded view is value-hash-gateable. ``group_col`` and the pk
    must be non-null (CDC spec columns).
    """

    _kind = "top-k view"

    def __init__(
        self,
        spark,
        store,
        spec,
        *,
        group_col: str,
        val_col: str,
        k: int,
        slack: int | None = None,
        val_type: str = "decimal(12,2)",
        view_dir: str,
    ):
        if len(spec.pk_cols) != 1:
            raise ValueError("MaintainedTopKView requires a single-column pk")
        super().__init__(spark, store, view_dir, (spec, {group_col, val_col}))
        self.group_col = group_col
        self.val_col = val_col
        self.k = k
        self.slack = k if slack is None else slack
        self.val_type = val_type
        self.last_recompute_groups: int | None = None
        self.pk = spec.pk_cols[0]

    def _for_readers(self, raw: DataFrame) -> DataFrame:
        """(group, n_rows, top array<struct<v, id>>) — top truncated to k
        for readers (the slack tail is maintenance state, not output)."""
        return raw.select(
            self.group_col,
            "n_rows",
            F.slice("top", 1, self.k).alias("top"),
        )

    def _val(self):
        return F.col(self.val_col).cast(self.val_type)

    @staticmethod
    def _cmp(a, b):
        """(v DESC, id ASC) comparator — the view's total ordering."""
        return (
            F.when(a["v"] > b["v"], -1)
            .when(a["v"] < b["v"], 1)
            .when(a["id"] < b["id"], -1)
            .when(a["id"] > b["id"], 1)
            .otherwise(0)
        )

    def _full_agg(self, state: DataFrame) -> DataFrame:
        """(group, n_rows, top) from scratch in ONE per-group pass: a
        window row_number ranks every row (NULL values last), and one
        aggregation over the ranked rows counts them and collects only
        the non-NULL top k+slack — the build never materializes a whole
        group in one array, and needs no counts-to-list join."""
        prep = self._prep()
        return (
            state.select(*prep["fa_rows_sel"])
            .withColumn("__rn", prep["fa_rn"])
            .groupBy(self.group_col)
            .agg(F.count(F.lit(1)).alias("n_rows"), prep["fa_top_agg"])
        )

    def _prep(self) -> dict:
        """Batch-invariant Column trees of the patch and the full
        aggregate, prepared once per (group, value, type, k, slack, pk)
        signature — the same plan-fragment cache as the apply fold (see
        apply._make_fold's NOTE); the array_sort/filter/transform lambdas
        here are the most py4j-expensive expressions in the maintainer.
        Everything references columns BY NAME only."""
        from pyspark.sql.window import Window

        from connemara_spark.operators.apply import _prepared

        g = self.group_col
        lim = self.k + self.slack
        empty_top = f"array<struct<v:{self.val_type},id:bigint>>"

        def build() -> dict:
            kept = F.filter(
                F.coalesce(F.col("top"), F.array().cast(empty_top)),
                lambda x: ~F.array_contains(F.col("__touched_ids"), x["id"]),
            )
            # merge two sorted lists by re-sorting the concat (both
            # bounded: kept <= k+slack, adds <= |batch slice for group|)
            merged = F.slice(
                F.array_sort(F.concat(kept, F.col("__adds")), self._cmp), 1, lim
            )
            n_new = F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("__dn")
            # Trust model: see _patch_frame's comment block.
            base_top = F.coalesce(F.col("top"), F.array().cast(empty_top))
            unknowns = F.coalesce(
                F.col("n_rows") > F.size(base_top), F.lit(False)
            )
            cutoff = F.element_at(base_top, F.size(base_top))["v"]
            kept_ids = F.transform(kept, lambda x: x["id"])
            unsafe_flags = F.transform(
                merged,
                lambda x: F.coalesce(
                    unknowns
                    & ~(x["v"] > cutoff)
                    & ~F.array_contains(kept_ids, x["id"]),
                    F.lit(True),
                ),
            )
            first_unsafe = F.array_position(unsafe_flags, F.lit(True))
            trusted = F.when(
                first_unsafe > 0,
                F.slice(merged, F.lit(1), (first_unsafe - 1).cast("int")),
            ).otherwise(merged)
            need = F.greatest(F.least(F.lit(self.k), n_new), F.lit(0)).cast(
                "int"
            )
            w = Window.partitionBy(g).orderBy(
                F.col("__v").desc_nulls_last(), F.col("__id")
            )
            return {
                "delta_old": [
                    F.col(g),
                    self._val().alias("__v"),
                    F.col(self.pk).alias("__id"),
                    F.lit(-1).alias("__s"),
                ],
                "delta_new": [
                    F.col(g),
                    self._val().alias("__v"),
                    F.col(self.pk).alias("__id"),
                    F.lit(1).alias("__s"),
                ],
                "per_group_aggs": [
                    F.sum("__s").alias("__dn"),
                    F.collect_set("__id").alias("__touched_ids"),
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                (F.col("__s") > 0) & F.col("__v").isNotNull(),
                                F.struct(
                                    F.col("__v").alias("v"),
                                    F.col("__id").alias("id"),
                                ),
                            )
                        ),
                        self._cmp,
                    ).alias("__adds"),
                ],
                "merged": trusted,
                "n_new": n_new,
                "needs_rescan": (n_new > 0) & (F.size(trusted) < need),
                "patched_sel": [
                    F.col(g),
                    F.col("__n_new").alias("n_rows"),
                    F.col("__merged").alias("top"),
                ],
                "fa_rows_sel": [
                    F.col(g),
                    self._val().alias("__v"),
                    F.col(self.pk).alias("__id"),
                ],
                "fa_rn": F.row_number().over(w),
                "fa_top_agg": F.array_sort(
                    # collect_list skips the NULLs of rows outside the top
                    F.collect_list(
                        F.when(
                            (F.col("__rn") <= lim) & F.col("__v").isNotNull(),
                            F.struct(
                                F.col("__v").alias("v"), F.col("__id").alias("id")
                            ),
                        )
                    ),
                    self._cmp,
                ).alias("top"),
            }

        return _prepared(
            ("tk_patch", g, self.val_col, self.val_type, self.k, self.slack, self.pk),
            build,
        )

    def _patch_frame(self):
        m = self._meta()
        old, old_t, new_t = _delta_sources(self, m)

        g = self.group_col
        prep = self._prep()  # batch-invariant Column trees (see _prep)

        # per-group batch summary: touched pks (to evict from stored
        # lists), surviving new pairs (to merge), and the row-count delta
        deltas = old_t.select(*prep["delta_old"]).unionByName(
            new_t.select(*prep["delta_new"])
        )
        per_group = deltas.groupBy(g).agg(*prep["per_group_aggs"])

        base = self._base(m, old)
        # each touched group with its stored list: a shuffle join building
        # on the batch-sized side that shuffles the whole view — see
        # MaintainedMinMaxView._patch_frame
        s = per_group.hint("shuffle_hash").join(base, g, "left")

        # Trust model for the merged list (prep["merged"]): the old stored
        # list held the group's true top-s, so every UNSTORED old row has
        # value <= the stored CUTOFF (the list's minimum). A merged entry
        # is safe at its position iff (a) the group has no unstored rows
        # at all, or (b) it outranks the cutoff outright, or (c) it WAS
        # stored (kept entries also beat unstored cutoff-ties: the
        # original sort admitted smaller pks first). A new arrival
        # at-or-below the cutoff is NOT safe — an unknown unstored row may
        # outrank it (without this, a low insert after evictions leapfrogs
        # the true runner-up; caught by the bucket-store prune-path test).
        # The stored list must stay the group's TRUE top-s or the next
        # batch's trust reasoning collapses — truncate at the first unsafe
        # position (an unsafe slack tail would later surface as a fake
        # runner-up); truncation shrinks the buffer until a rescan refills
        # it. Rescan when any of the first min(k, n') positions is unsafe
        # or the list runs short.
        # lazily checkpointed: the gate's collect is the job that computes
        # it, the write reads it back (see MaintainedMinMaxView._patch_frame);
        # on the common batch (buffer never burned below k) the gate skips
        # scheduling the whole recompute subtree (full-store scan + window +
        # collect_list)
        s = (
            s.withColumn("__merged", prep["merged"])
            .withColumn("__n_new", prep["n_new"])
            .withColumn("__rescan", prep["needs_rescan"])
            .localCheckpoint(eager=False)
        )
        return self._next(m), _gated_patch(self, s, base, prep["patched_sel"])


class MaintainedDistinctCountView(MaintainedView):
    """Keep a grouped ``(group, n_rows, n_distinct)`` view — COUNT
    DISTINCT, the textbook NON-DISTRIBUTIVE aggregate — materialized
    incrementally over a CDC-fed table (the consolidation store exists so
    BI queries run against CDC-fed state, `/root/reference/docs/index.rst:9-12`;
    distinct-count panels are the canonical such query after sums and
    leaderboards).

    COUNT DISTINCT cannot be patched from the view row alone under
    inserts OR deletes (an arriving value may or may not be new; a
    leaving one may or may not be the last of its kind). The classical
    fix (Gupta & Mumick's support-relation construction) is exact: keep
    the per-(group, value) multiplicity multiset. A value's arrival is
    "new" iff its support count crosses 0 -> positive; its departure is
    "last" iff it crosses positive -> 0. Unlike MIN/MAX or TOP-K there
    is NO rescan leg, ever: the support multiset is itself
    self-maintainable, so every batch is |delta|-bounded by
    construction.

    Storage shape at 100 TB: the support multiset is O(distinct (group,
    value) pairs) — potentially table-sized — so the view must NOT
    rewrite it per batch. It lives in its own nested ``BucketStore``
    keyed on (group, value): a batch rewrites only the buckets its net
    pairs hash into, every other bucket carries forward via the
    copy-on-write manifest, and reads during the patch are pruned to
    those same buckets at path selection. The summary file (the actual
    view, O(groups)) is patched from the same joined frame's zero
    crossings.

    Crash recovery is version-anchored on BOTH stores: the view pointer
    records the base-store version AND the support version it
    incorporates. A retry re-reads those immutable versions, rewrites
    the same touched buckets with identical content (write_partial on
    top of the orphan manifest carries the same untouched buckets
    forward), and recommits — idempotent end to end. Retention on the
    support store must keep the pointer's support_version readable
    (``gc_support`` defaults to keep_last=2 for exactly that window).
    """

    _kind = "distinct-count view"
    _meta0 = {"version": 0, "store_version": None, "support_version": None}

    def __init__(
        self,
        spark,
        store,
        spec,
        *,
        group_col: str,
        val_col: str,
        val_pg_type: str = "integer",
        view_dir: str,
        support_buckets: int = 16,
    ):
        from connemara_spark.catalog import ColumnSpec, TableSpec
        from connemara_spark.stores import BucketStore

        super().__init__(spark, store, view_dir, (spec, {group_col, val_col}))
        self.group_col = group_col
        self.val_col = val_col
        self.last_touched_buckets: int | None = None
        gcol = next(c for c in spec.columns if c.name == group_col)
        # the support multiset: pk == (group, value) so the bucket key IS
        # the merge key — write_partial's stray-row check holds by
        # construction
        self.sspec = TableSpec(
            database=spec.database,
            schema=spec.schema,
            table=f"{spec.table}__distinct_support",
            columns=[
                ColumnSpec(group_col, gcol.pg_type),
                ColumnSpec("__v", val_pg_type),
                ColumnSpec("__c", "bigint"),
            ],
            pk_cols=[group_col, "__v"],
        )
        self.sstore = BucketStore(
            spark, os.path.join(view_dir, "support"), n_buckets=support_buckets
        )
        # the patch's new support state and its touched support buckets,
        # written by _before_commit
        self._support = None

    def _val(self):
        return F.col(self.val_col).cast(self.sspec.columns[1].spark_type)

    def _full_agg(self, state: DataFrame) -> DataFrame:
        return state.groupBy(self.group_col).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(self._val()).alias("n_distinct"),
        )

    def _full_support(self, state: DataFrame) -> DataFrame:
        return (
            state.select(F.col(self.group_col), self._val().alias("__v"))
            .filter(F.col("__v").isNotNull())
            .groupBy(self.group_col, "__v")
            .agg(F.count(F.lit(1)).alias("__c"))
        )

    def _prep(self) -> dict:
        """Batch-invariant Column trees of the patch, prepared once per
        (group, value, type) signature — the same plan-fragment cache as
        the apply fold (see apply._make_fold's NOTE). Name references
        only; alias-qualified columns (``b.*``/``n.*``/``x.*``/``y.*``)
        resolve against the per-batch aliased frames identically every
        batch."""
        from connemara_spark.operators.apply import _prepared

        g = self.group_col

        def build() -> dict:
            return {
                "delta_old": [
                    F.col(g), self._val().alias("__v"), F.lit(-1).alias("__s")
                ],
                "delta_new": [
                    F.col(g), self._val().alias("__v"), F.lit(1).alias("__s")
                ],
                "per_val_agg": F.sum("__s").cast("long").alias("__dc"),
                "joined_cond": F.col(f"b.{g}").eqNullSafe(F.col(f"n.{g}"))
                & (F.col("b.__v") == F.col("n.__v")),
                "joined_sel": [
                    F.coalesce(F.col(f"b.{g}"), F.col(f"n.{g}")).alias(g),
                    F.coalesce(F.col("b.__v"), F.col("n.__v")).alias("__v"),
                    F.coalesce(F.col("b.__c"), F.lit(0))
                    .cast("long")
                    .alias("__c_old"),
                    F.col("n.__dc").alias("__dc"),
                ],
                "c_new": (
                    F.col("__c_old") + F.coalesce(F.col("__dc"), F.lit(0))
                ).cast("long"),
                "support_sel": [
                    F.col(g), F.col("__v"), F.col("__c_new").alias("__c")
                ],
                "dn_agg": F.sum("__dc").cast("long").alias("__dn"),
                "dd_agg": F.sum(
                    F.when(
                        (F.col("__c_old") == 0) & (F.col("__c_new") > 0), 1
                    )
                    .when((F.col("__c_old") > 0) & (F.col("__c_new") == 0), -1)
                    .otherwise(0)
                )
                .cast("long")
                .alias("__dd"),
                "gd_cond": F.col(f"x.{g}").eqNullSafe(F.col(f"y.{g}")),
                "gd_sel": [
                    F.coalesce(F.col(f"x.{g}"), F.col(f"y.{g}")).alias(g),
                    F.coalesce(F.col("x.__dn"), F.lit(0)).alias("__dn"),
                    F.coalesce(F.col("y.__dd"), F.lit(0)).alias("__dd"),
                ],
                "patched_cond": F.col(f"b.{g}").eqNullSafe(F.col(f"n.{g}")),
                "patched_sel": [
                    F.coalesce(F.col(f"b.{g}"), F.col(f"n.{g}")).alias(g),
                    (
                        F.coalesce(F.col("b.n_rows"), F.lit(0))
                        + F.coalesce(F.col("n.__dn"), F.lit(0))
                    )
                    .cast("long")
                    .alias("n_rows"),
                    (
                        F.coalesce(F.col("b.n_distinct"), F.lit(0))
                        + F.coalesce(F.col("n.__dd"), F.lit(0))
                    )
                    .cast("long")
                    .alias("n_distinct"),
                ],
            }

        sig = str(self.sspec.columns[1].spark_type)
        return _prepared(("dc_patch", g, self.val_col, sig), build)

    def _before_commit(self, nxt: dict) -> None:
        """Support first, summary second, pointer last (``after_apply``
        writes the summary and advances the pointer after this): every
        crash window replays against the versions the pointer still
        records."""
        new_support, bks = self._support
        self._support = None
        if bks is None:
            self.sstore.write(self.sspec, new_support)
        elif bks:
            self.sstore.write_partial(self.sspec, new_support, buckets=bks)
        else:
            # no net support change (bks == []): write_partial would commit
            # a content-identical manifest, churning support versions and
            # forcing more frequent gc_support for nothing — ``nxt`` carries
            # the pointer's existing support version forward instead
            return
        nxt["support_version"] = self.sstore.current_version(self.sspec.target_name)

    def gc_support(self, *, keep_last: int = 2) -> list[int]:
        """Retire old support versions (reference-counted); keep_last >= 2
        keeps the pointer's support_version readable across a crash-retry
        window."""
        return self.sstore.gc_versions(self.sspec, keep_last=keep_last)

    def _patch_frame(self):
        m = self._meta()
        old, old_t, new_t = _delta_sources(self, m)

        g = self.group_col
        prep = self._prep()  # batch-invariant Column trees (see _prep)

        # the batch as a signed value multiset at the touched keys (state
        # diff, not event rows — TOAST updates and PK splits are already
        # folded), pre-aggregated to (group, value) BEFORE materializing:
        # both consumers (the support net pairs and the per-group row-count
        # delta) derive from the per-value net counts, so checkpointing the
        # |touched (group,value) pairs|-sized fold replaces checkpointing
        # the row-level delta — fewer checkpoint bytes and one aggregation
        # exchange instead of two over the row-level frame
        deltas = old_t.select(*prep["delta_old"]).unionByName(
            new_t.select(*prep["delta_new"])
        )
        per_val = (
            deltas.groupBy(g, "__v").agg(prep["per_val_agg"]).localCheckpoint()
        )
        net_pairs = per_val.filter(
            F.col("__v").isNotNull() & (F.col("__dc") != 0)
        )

        if m["version"] == 0:
            # bootstrap: the support of the whole pre-batch state (one-time
            # full aggregate, like the other maintainers' base bootstrap)
            base_support = self._full_support(old)
            bks = None
        else:
            bks = self.sstore.buckets_of(self.sspec, net_pairs.select(g, "__v"))
            # version-anchored read: the COMMITTED support version, pruned
            # to the net pairs' buckets at path selection
            base_support = self.sstore.read_version(
                self.sspec, m["support_version"], buckets=bks
            )
        self.last_touched_buckets = None if bks is None else len(bks)

        b = base_support.alias("b")
        n = net_pairs.alias("n")
        joined = (
            b.join(n, prep["joined_cond"], "full_outer")
            .select(*prep["joined_sel"])
            .withColumn("__c_new", prep["c_new"])
            # one materialization, two consumers (support rewrite + the
            # zero-crossing summary patch)
            .localCheckpoint()
        )
        # the complete new state of the touched buckets (untouched
        # co-resident pairs pass through via the full outer's base side)
        new_support = joined.filter(F.col("__c_new") > 0).select(
            *prep["support_sel"]
        )

        dn = per_val.groupBy(F.col(g)).agg(prep["dn_agg"])
        dd = (
            joined.filter(F.col("__dc").isNotNull())
            .groupBy(F.col(g))
            .agg(prep["dd_agg"])
        )
        x = dn.alias("x")
        y = dd.alias("y")
        gd = x.join(y, prep["gd_cond"], "full_outer").select(*prep["gd_sel"])

        bb = self._base(m, old).alias("b")
        nn = gd.alias("n")
        patched = (
            bb.join(nn, prep["patched_cond"], "full_outer")
            .select(*prep["patched_sel"])
            .filter(F.col("n_rows") > 0)
        )
        self._support = (new_support, bks)
        return self._next(m), patched

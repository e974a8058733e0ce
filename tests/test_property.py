"""Property-based tests (hypothesis): the distributed apply fold must match
serial per-event application for ANY event stream, and the two text-array
parsers (driver-side Python vs Catalyst expression) must agree."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from connemara_spark.catalog import ColumnSpec, TableSpec
from connemara_spark.events import BRONZE_SCHEMA, parse_events
from connemara_spark.functions import parse_pg_text_array
from connemara_spark.operators.apply import apply_changes
from connemara_spark.pipeline import parse_command_tags
from connemara_spark.testing import SequentialOracle, random_event_stream

SPEC = TableSpec(
    database="db1",
    schema="public",
    table="t",
    columns=[
        ColumnSpec("id", "bigint"),
        ColumnSpec("name", "text"),
        ColumnSpec("qty", "integer"),
        ColumnSpec("price", "double precision"),
    ],
    pk_cols=["id"],
)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from connemara_spark.session import get_spark

        _spark = get_spark("connemara-tests", shuffle_partitions=4)
    return _spark


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_events=st.integers(min_value=1, max_value=120),
    pk_change_prob=st.sampled_from([0.0, 0.1, 0.3]),
    partial_update_prob=st.sampled_from([0.0, 0.4, 0.9]),
)
def test_distributed_apply_equals_serial_apply(seed, n_events, pk_change_prob, partial_update_prob):
    spark = _get_spark()
    base = [
        {"id": i, "name": f"n{i}", "qty": i * 2, "price": float(i) + 0.25}
        for i in range(1, 8)
    ]
    evs = random_event_stream(
        SPEC,
        base,
        n_events=n_events,
        seed=seed,
        pk_change_prob=pk_change_prob,
        partial_update_prob=partial_update_prob,
    )
    oracle = SequentialOracle(SPEC, base)
    oracle.apply(evs)

    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in SPEC.columns) for r in base], schema=SPEC.spark_schema()
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in evs], schema=BRONZE_SCHEMA
    )
    got = {
        tuple(r[k] for k in SPEC.pk_cols): {c.name: r[c.name] for c in SPEC.columns}
        for r in apply_changes(snapshot, parse_events(bronze), SPEC).collect()
    }
    want = oracle.rows_by_key() if hasattr(oracle, "rows_by_key") else {
        k: dict(v) for k, v in oracle.state.items()
    }
    assert got.keys() == want.keys(), f"key sets differ: extra={got.keys()-want.keys()} missing={want.keys()-got.keys()}"
    for k, row in want.items():
        for c in SPEC.columns:
            g, w = got[k][c.name], row.get(c.name)
            if isinstance(w, float):
                assert g == pytest.approx(w), (k, c.name, g, w)
            else:
                assert g == w, (k, c.name, g, w)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_events=st.integers(min_value=1, max_value=120),
    pk_change_prob=st.sampled_from([0.0, 0.2]),
    lsn_bucket=st.sampled_from([1, 3, 17, 1_000_000]),
    cut_frac=st.sampled_from([0.0, 0.3, 0.7, 1.0]),
)
def test_fold_variants_agree_for_any_stream(seed, n_events, pk_change_prob, lsn_bucket, cut_frac):
    """apply_changes == apply_changes_bounded (any bucket size) ==
    apply_changes_cut's final state, and the cut state == apply_changes over
    the truncated stream — for ANY random stream and ANY cut position."""
    from pyspark.sql import functions as F

    from connemara_spark.operators.apply import apply_changes_bounded, apply_changes_cut

    spark = _get_spark()
    base = [
        {"id": i, "name": f"n{i}", "qty": i * 2, "price": float(i) + 0.25}
        for i in range(1, 8)
    ]
    evs = random_event_stream(
        SPEC, base, n_events=n_events, seed=seed, pk_change_prob=pk_change_prob
    )
    snapshot = spark.createDataFrame(
        [tuple(r[c.name] for c in SPEC.columns) for r in base], schema=SPEC.spark_schema()
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in evs], schema=BRONZE_SCHEMA
    )
    ev = parse_events(bronze)
    want_final = sorted(map(tuple, apply_changes(snapshot, ev, SPEC).collect()))

    got_b = apply_changes_bounded(snapshot, ev, SPEC, lsn_bucket=lsn_bucket)
    assert sorted(map(tuple, got_b.collect())) == want_final

    max_lsn = max(e["lsn_start"] for e in evs)
    cut = int(max_lsn * cut_frac)
    s0, s1, _ = apply_changes_cut(snapshot, ev, SPEC, cut=lambda e: e["lsn_start"] <= cut)
    assert sorted(map(tuple, s1.collect())) == want_final
    want_cut = sorted(
        map(tuple, apply_changes(snapshot, ev.filter(F.col("lsn_start") <= cut), SPEC).collect())
    )
    assert sorted(map(tuple, s0.collect())) == want_cut


@settings(max_examples=50, deadline=None)
@given(
    tags=st.lists(
        st.text(
            alphabet=st.characters(
                codec="ascii", exclude_characters='{}\\"', exclude_categories=("Cc",)
            ),
            min_size=1,
            max_size=20,
        ).map(str.strip).filter(bool).filter(lambda s: "," not in s),
        min_size=0,
        max_size=5,
    )
)
def test_text_array_parsers_agree(tags):
    literal = "{" + ",".join(tags) + "}"
    py = parse_command_tags(literal)
    assert py == tags

    spark = _get_spark()
    row = spark.createDataFrame([(literal,)], ["a"]).select(
        parse_pg_text_array("a").alias("v")
    ).collect()[0]
    assert row.v == tags


# ---------------------------------------------------------------------------
# Codec property tests (pure python — no Spark session)
# ---------------------------------------------------------------------------


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    ct=st.sampled_from([0, 2, 6]),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(w, h, ct, data):
    from connemara_spark.operators.multimodal import _PNG_CHANNELS, decode_png, encode_png

    bpp = _PNG_CHANNELS[ct]
    px = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=w * h * bpp, max_size=w * h * bpp))
    )
    assert decode_png(encode_png(w, h, px, color_type=ct)) == (w, h, bpp, px)


@given(
    min_code=st.sampled_from([2, 4, 8]),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_gif_lzw_roundtrip_property(min_code, data):
    from connemara_spark.operators.multimodal import _lzw_compress, _lzw_decompress

    n = data.draw(st.integers(0, 3000))
    payload = bytes(data.draw(st.lists(st.integers(0, (1 << min_code) - 1), min_size=n, max_size=n)))
    assert _lzw_decompress(_lzw_compress(payload, min_code), min_code) == payload


@given(
    w=st.integers(1, 6),
    h=st.integers(1, 6),
    nf=st.integers(1, 4),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_gif_animated_roundtrip_property(w, h, nf, data):
    from connemara_spark.operators.multimodal import decode_gif, encode_gif

    palette = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=768, max_size=768))
    )
    frames = [
        bytes(data.draw(st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h)))
        for _ in range(nf)
    ]
    dw, dh, dpal, dframes = decode_gif(encode_gif(w, h, frames, palette, delay_cs=3))
    assert (dw, dh, dpal) == (w, h, palette)
    assert [f for _, f in dframes] == frames


@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_q100_roundtrip_property(w, h, data):
    """At quality 100 (all-ones tables) any content survives within the
    FDCT/IDCT rounding bound."""
    from connemara_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    px = bytes(data.draw(st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h)))
    W, H, out = decode_jpeg(encode_jpeg(w, h, px, quality=100))
    assert (W, H) == (w, h)
    assert max(abs(a - b) for a, b in zip(px, out)) <= 2


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_events=st.integers(min_value=1, max_value=120),
    pk_change_prob=st.sampled_from([0.0, 0.1, 0.3]),
    partial_update_prob=st.sampled_from([0.0, 0.4, 0.9]),
    n_buckets=st.sampled_from([1, 8, 64]),
)
def test_inlined_bucket_pricing_equals_buckets_of(
    seed, n_events, pk_change_prob, partial_update_prob, n_buckets
):
    """The Replayer's merged batch summary prices partial rewrites with
    ``touched_bucket_array`` INLINE on the counts job; a miss against the
    reference pricing (``buckets_of(touched_keys(...))``) would make
    ``write_partial`` drop rows — so the two must agree on the EXACT
    bucket set for any event mix (PK changes, partial updates, deletes)."""
    from pyspark.sql import functions as F

    from connemara_spark.operators.apply import (
        _effective_spec,
        touched_bucket_array,
    )
    from connemara_spark.operators.ivm import touched_keys

    spark = _get_spark()
    base = [
        {"id": i, "name": f"n{i}", "qty": i * 2, "price": float(i) + 0.25}
        for i in range(1, 8)
    ]
    evs = random_event_stream(
        SPEC, base,
        n_events=n_events, seed=seed,
        pk_change_prob=pk_change_prob, partial_update_prob=partial_update_prob,
    )
    bronze = spark.createDataFrame(
        [tuple(r[f.name] for f in BRONZE_SCHEMA.fields) for r in evs],
        schema=BRONZE_SCHEMA,
    )
    events = parse_events(bronze)
    espec, _ = _effective_spec(SPEC)

    # reference pricing: distinct touched keys hashed the store's way
    keys = touched_keys(events, espec)
    want = sorted(
        r["__b"]
        for r in keys.select(
            F.pmod(
                F.xxhash64(*[F.col(c) for c in espec.pk_cols]), F.lit(n_buckets)
            ).cast("int").alias("__b")
        ).distinct().collect()
    )

    # inlined pricing: per-event bucket arrays, deduped
    got = sorted(
        r["__b"]
        for r in events.select(
            F.explode(
                touched_bucket_array(SPEC, n_buckets)
            ).alias("__b")
        ).distinct().collect()
    )
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        ),
        max_size=30,
    )
)
def test_minmax_full_agg_equals_python_recompute(rows):
    """``MaintainedMinMaxView._full_agg`` is the oracle several view tests
    compare the maintained view against, so it gets its own independent
    check: for any rows, each group's (n_rows, min_val, min_cnt, max_val,
    max_cnt) equals a plain-Python recompute. NULL values count toward
    n_rows but never toward an extremum; every draw also carries an
    all-NULL group and a group with tied minima and maxima."""
    import tempfile
    from decimal import Decimal

    from connemara_spark.operators.ivm import MaintainedMinMaxView

    spark = _get_spark()
    rows = rows + [
        ("all_null", None), ("all_null", None),
        ("ties", 2), ("ties", -1), ("ties", 2), ("ties", None), ("ties", -1), ("ties", 0),
    ]
    spec = TableSpec(
        database="db1", schema="public", table="mm",
        columns=[ColumnSpec("id", "bigint"), ColumnSpec("grp", "text"),
                 ColumnSpec("amount", "integer")],
        pk_cols=["id"],
    )
    state = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)], spec.spark_schema()
    )
    with tempfile.TemporaryDirectory() as d:
        view = MaintainedMinMaxView(
            spark, None, spec, group_col="grp", val_col="amount", view_dir=d
        )
        got = {
            r["grp"]: (r["n_rows"], r["min_val"], r["min_cnt"], r["max_val"], r["max_cnt"])
            for r in view._full_agg(state).collect()
        }
    want = {}
    for g in {g for g, _ in rows}:
        vals = [v for gg, v in rows if gg == g]
        nn = [Decimal(v) for v in vals if v is not None]
        if nn:
            lo, hi = min(nn), max(nn)
            want[g] = (len(vals), lo, nn.count(lo), hi, nn.count(hi))
        else:
            want[g] = (len(vals), None, None, None, None)
    assert got == want
    assert got["all_null"] == (2, None, None, None, None)
    assert got["ties"][2] >= 2 and got["ties"][4] >= 2

"""Hypothesis property tests for the pure-python core (type lattice,
granularity algebra) — the invariants the dynamic-schema ingest and the
materialization scheduler rely on."""

from __future__ import annotations

import math
from datetime import datetime, timedelta, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from python_minerva_etl_spark.datatype import (deduce_from_string,
                                               generalize)
from python_minerva_etl_spark.granularity import Granularity

TYPES = ["smallint", "integer", "bigint", "double", "text",
         "boolean", "timestamp"]


@given(st.sampled_from(TYPES), st.sampled_from(TYPES))
def test_generalize_commutative(a, b):
    assert generalize(a, b) == generalize(b, a)


@given(st.sampled_from(TYPES), st.sampled_from(TYPES), st.sampled_from(TYPES))
def test_generalize_associative(a, b, c):
    assert generalize(generalize(a, b), c) == generalize(a, generalize(b, c))


@given(st.sampled_from(TYPES))
def test_generalize_idempotent(a):
    assert generalize(a, a) == a
    assert generalize(a, "text") == "text"  # text absorbs


@given(st.text(max_size=30))
def test_deduce_total(s):
    assert deduce_from_string(s) in TYPES


@given(st.integers(min_value=-(2 ** 70), max_value=2 ** 70))
def test_deduce_int_roundtrip_widens_only(n):
    t = deduce_from_string(str(n))
    assert t in ("smallint", "integer", "bigint", "double")
    # the deduced domain always contains the value
    bounds = {"smallint": 2 ** 15, "integer": 2 ** 31, "bigint": 2 ** 63}
    if t in bounds:
        assert abs(n) < bounds[t]


_TS = st.datetimes(min_value=datetime(2000, 1, 2),
                   max_value=datetime(2030, 12, 30)).map(
    lambda d: d.replace(tzinfo=timezone.utc))
_GRAN = st.sampled_from(["15m", "1h", "1d", "1w", "1month"])


@settings(max_examples=200)
@given(_TS, _GRAN)
def test_truncate_idempotent(ts, g):
    gran = Granularity(g)
    once = gran.truncate(ts)
    assert gran.truncate(once) == once
    assert once <= ts


@settings(max_examples=200)
@given(_TS, _GRAN)
def test_inc_decr_inverse_on_bucket_starts(ts, g):
    gran = Granularity(g)
    b = gran.truncate(ts)
    assert gran.decr(gran.inc(b)) == b
    assert gran.inc(b) > b


@settings(max_examples=100)
@given(_TS, _GRAN)
def test_range_covers_and_steps(ts, g):
    gran = Granularity(g)
    end = gran.inc(gran.inc(gran.truncate(ts)))
    buckets = gran.range(ts, end)
    assert buckets[0] == gran.truncate(ts)
    assert buckets[-1] == end
    assert all(gran.inc(a) == b for a, b in zip(buckets, buckets[1:]))


_SPARK_TYPES = st.sampled_from(
    ["smallint", "integer", "bigint", "double", "text", "boolean",
     "timestamp"])


def _schema(names_types):
    from pyspark.sql import types as T

    from python_minerva_etl_spark.datatype import SPARK_TYPES
    return T.StructType([
        T.StructField(n, SPARK_TYPES[t], True) for n, t in names_types])


@settings(max_examples=100, deadline=None)
@given(st.dictionaries(st.sampled_from("abcdef"), _SPARK_TYPES,
                       min_size=0, max_size=6),
       st.dictionaries(st.sampled_from("abcdef"), _SPARK_TYPES,
                       min_size=0, max_size=6))
def test_schema_diff_properties(old, new):
    from python_minerva_etl_spark.datatype import generalize, schema_diff

    so, sn = _schema(sorted(old.items())), _schema(sorted(new.items()))
    rep = schema_diff(so, sn)
    # self-diff is empty
    assert schema_diff(so, so) == []
    by_col = {r["column"]: r for r in rep}
    assert len(by_col) == len(rep)  # one row per column
    for name in set(old) | set(new):
        if name not in old:
            assert by_col[name]["change"] == "added"
        elif name not in new:
            assert by_col[name]["change"] == "removed"
        elif old[name] == new[name]:
            assert name not in by_col
        else:
            change = by_col[name]["change"]
            if change == "widened":
                assert generalize(old[name], new[name]) == new[name]
            elif change == "narrowed":
                assert generalize(old[name], new[name]) == old[name]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200), st.integers(min_value=1, max_value=32),
       st.integers(min_value=1, max_value=5))
def test_fake_frame_splitter_properties(payload, frame_bytes, every_n):
    from python_minerva_etl_spark.ext.multimodal import _fake_split_frames

    all_frames = _fake_split_frames(payload, frame_bytes, 1)
    kept = _fake_split_frames(payload, frame_bytes, every_n)
    # demux with every_n=1 reconstructs the payload exactly
    assert b"".join(all_frames) == payload
    # sampling keeps exactly the [::every_n] subsequence
    assert kept == all_frames[::every_n]
    # every frame except possibly the last is full-size
    assert all(len(f) == frame_bytes for f in all_frames[:-1])


@settings(max_examples=300)
@given(st.dictionaries(st.integers(min_value=0, max_value=15),
                       st.one_of(st.none(),
                                 st.integers(min_value=-100, max_value=100)),
                       max_size=16),
       st.integers(min_value=1, max_value=16))
def test_exclusive_carry_max_matches_model(maxima, n):
    from python_minerva_etl_spark.operators.ranking import exclusive_carry_max

    carry = exclusive_carry_max(maxima, n)
    assert set(carry) == set(range(n))
    for b in range(n):
        earlier = [maxima[i] for i in range(b)
                   if i in maxima and maxima[i] is not None]
        assert carry[b] == (max(earlier) if earlier else None)


@settings(max_examples=300)
@given(st.lists(st.one_of(st.integers(min_value=-10**12, max_value=10**12),
                          st.text(max_size=12)),
                min_size=0, max_size=50),
       st.one_of(st.integers(min_value=-10**12, max_value=10**12),
                 st.text(max_size=12)))
def test_bloom_no_false_negatives(values, probe):
    from python_minerva_etl_spark.storage.snaptable import (
        _bloom_may_contain, _bloom_positions)

    bits = 0
    for v in values:
        for pos in _bloom_positions(v):
            bits |= 1 << pos
    bloom_hex = f"{bits:x}"
    # every inserted value must report present
    for v in values:
        assert _bloom_may_contain(bloom_hex, v)
    # a probe absent from the set may false-positive but must never
    # crash; the empty filter rejects everything
    if not values:
        assert not _bloom_may_contain("0", probe)


# ------------------------------------------------ pruning soundness
#
# One property over all three table formats' bound encodings: write a
# small parquet file with pyarrow, derive each format's bounds from its
# footer (Delta stats JSON, Iceberg single-value binary bounds,
# SnapTable canonical stats + bloom), decode them the way the reader
# does, and whenever the pruning evaluator says "no", check that no row
# satisfies the predicates under Spark's semantics: NULL satisfies
# nothing, NaN is above every value and equal to itself, -0.0 == 0.0.

_EPOCH = datetime(1970, 1, 1)
_OPS = ("=", "<", "<=", ">", ">=")
_DOMAINS = {
    "i": st.one_of(st.integers(-5, 5),
                   st.integers(-2 ** 63, 2 ** 63 - 1)),
    "d": st.one_of(st.just(float("nan")),
                   st.sampled_from([0.0, -0.0, float("inf"),
                                    float("-inf")]),
                   st.integers(-5, 5).map(float),
                   st.floats(allow_nan=False)),
    "s": st.text(st.characters(blacklist_categories=("Cs",)),
                 max_size=4),
    "t": st.one_of(st.integers(-5, 5),
                   st.integers(-10 ** 16, 10 ** 16)).map(
        lambda us: _EPOCH + timedelta(microseconds=us)),
}
_DOMAINS["n"] = _DOMAINS["i"]  # the all-null column
_ARROW = {"i": "int64", "d": "float64", "s": "string",
          "t": "timestamp[us]", "n": "int64"}
_ICE = {"i": "long", "d": "double", "s": "string", "t": "timestamp",
        "n": "long"}


@st.composite
def _pruning_case(draw):
    n = draw(st.integers(1, 9))
    # a quarter of the values are NULL; "n" is all NULL
    nullable = {c: st.tuples(st.integers(0, 3), dom).map(
        lambda t: t[1] if t[0] else None) for c, dom in _DOMAINS.items()}
    cols = {c: [None] * n if c == "n" else draw(st.lists(
        nullable[c], min_size=n, max_size=n)) for c in _DOMAINS}
    groups = draw(st.integers(1, 3))
    # 1-3 literals per column, often the file's own values (the
    # boundary cases); every single-column predicate and envelope
    # over them is checked, plus one cross-column conjunction
    lits = {}
    for c, dom in _DOMAINS.items():
        vals = [v for v in cols[c] if v is not None]
        lit = st.one_of(dom, st.sampled_from(vals)) if vals else dom
        lits[c] = draw(st.lists(lit, min_size=1, max_size=3))
    conj = draw(st.lists(st.sampled_from(
        [(c, op, v) for c, vs in lits.items() for v in vs
         for op in _OPS]), min_size=2, max_size=3))
    return cols, -(-n // groups), lits, conj


def _spark_key(v):
    if isinstance(v, float):
        return (1, 0.0) if math.isnan(v) else (0, v)
    return (0, v)


def _holds(v, op, lit) -> bool:
    if v is None:
        return False
    a, b = _spark_key(v), _spark_key(lit)
    return {"=": a == b, "<": a < b, "<=": a <= b, ">": a > b,
            ">=": a >= b}[op]


def _reject_constant(token):
    raise ValueError(f"not RFC 8259 JSON: {token}")


@settings(max_examples=150, deadline=None)
@given(_pruning_case())
def test_pruning_sound_for_every_format(case):
    import json
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from python_minerva_etl_spark.storage.delta import (_add_may_match,
                                                        file_stats_json)
    from python_minerva_etl_spark.storage.iceberg import _file_may_match
    from python_minerva_etl_spark.storage.iceberg_write import _file_bounds
    from python_minerva_etl_spark.storage.snaptable import (_canon,
                                                            _file_bloom,
                                                            _file_stats)
    from python_minerva_etl_spark.storage.snaptable import \
        _file_may_match as snap_may_match

    cols, rg_size, lits, conj = case
    names = list(cols)
    rows = list(zip(*cols.values()))
    spark_types = {"i": T.LongType(), "d": T.DoubleType(),
                   "s": T.StringType(), "t": T.TimestampNTZType(),
                   "n": T.LongType()}
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/f.parquet"
        pq.write_table(pa.table({c: pa.array(v, type=_ARROW[c])
                                 for c, v in cols.items()}),
                       path, row_group_size=rg_size)
        stats = file_stats_json(
            path, [T.StructField(c, t) for c, t in spark_types.items()])
        json.loads(stats, parse_constant=_reject_constant)
        ice_schema = {"fields": [
            {"id": i + 1, "name": c, "required": False, "type": _ICE[c]}
            for i, c in enumerate(names)]}
        lo, hi = _file_bounds(path, ice_schema)
        _, snap_stats = _file_stats(path, names)
        snap_entry = json.loads(json.dumps(
            {"stats": snap_stats, "bloom": _file_bloom(path, names)}))

    def any_row(conds):
        return any(all(_holds(r[names.index(c)], op, v)
                       for c, op, v in conds) for r in rows)

    singles = [[(c, op, v)] for c, vs in lits.items() for v in vs
               for op in _OPS]
    for conds in singles + [conj]:
        if not _add_may_match({"stats": stats}, conds, [], spark_types):
            assert not any_row(conds), ("delta", conds, stats)
        if not _file_may_match({"lower_bounds": lo, "upper_bounds": hi},
                               conds,
                               {c: i + 1 for i, c in enumerate(names)},
                               _ICE):
            assert not any_row(conds), ("iceberg", conds, lo, hi)
    # SnapTable prunes on envelopes: lo <= col <= hi per column
    envelopes = [{c: (a, b)} for c, vs in lits.items()
                 for a in vs for b in vs]
    for env in envelopes + [{c: (v, v) for c, _, v in conj}]:
        if not snap_may_match(snap_entry, {
                c: [_canon(a), _canon(b)] for c, (a, b) in env.items()}):
            assert not any_row([(c, op, v) for c, (a, b) in env.items()
                                for op, v in ((">=", a), ("<=", b))]), \
                ("snaptable", env, snap_stats)

"""The ORC reader's one pruning evaluator (``orc_file.keep_mask`` over
``ColumnStats`` arrays) against the per-group rules it replaced, kept
here as the reference oracle: ``group_may_match`` tests one group's
(min, max) statistics and bloom filter for one probe value in Python.

The Hypothesis test draws per-group values of int, double, string, date,
timestamp and decimal columns (null-only groups and groups without
statistics included) and probes of every kind, and checks that the
evaluator keeps exactly the oracle's groups, and every group that holds
a matching row."""

import datetime as dt
import decimal
import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_rust_spark.codecs.bloom import (BloomFilter, BloomMatrix, murmur3_64_int,
                                         wang_hash_i64, wang_hash_i64_orc)
from orc_rust_spark.sources import orc_file as of

I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1


# --- the reference oracle: one group, one probe value, in Python -----------

def stats_comparable(mn, bound) -> bool:
    """Probe/stat type agreement: comparisons happen within one family
    (str, datetime, date, decimal, numeric); anything else keeps. Decimal
    stats also accept int probes."""
    if isinstance(mn, bool):  # before int: bool is an int subclass
        return isinstance(bound, bool)
    if isinstance(mn, str):
        return isinstance(bound, str)
    if isinstance(mn, dt.datetime):
        # naive statistics: an aware probe is not comparable
        return (isinstance(bound, dt.datetime)
                and (mn.tzinfo is None) == (bound.tzinfo is None))
    if isinstance(mn, dt.date):
        return isinstance(bound, dt.date) and not isinstance(bound, dt.datetime)
    if isinstance(mn, decimal.Decimal):
        return (isinstance(bound, decimal.Decimal)
                or (isinstance(bound, int) and not isinstance(bound, bool)))
    if isinstance(mn, (int, float)) and not isinstance(mn, bool):
        return isinstance(bound, (int, float)) and not isinstance(bound, bool)
    return False


def bloom_might_contain(bf, col_kind: int, value) -> bool:
    """Maybe-present in one group's filter; True where the filter must not
    be asked: a value outside the column's hash family, or an int outside
    int64 (no stored value equals it). An int64 is tried under both ORC
    integer hashes."""
    if col_kind in of._INT_KINDS and isinstance(value, int):
        if not I64_MIN <= value <= I64_MAX:
            return True
        v = np.array([value], dtype=np.int64)
        return bool(bf.test_hashes(np.concatenate(
            [wang_hash_i64(v), wang_hash_i64_orc(v)])).any())
    if col_kind in of._STRING_KINDS and isinstance(value, (str, bytes)):
        return bf.might_contain_bytes(value.encode() if isinstance(value, str) else value)
    return True


def group_may_match(stats, bf, col_kind: int, lo, hi, eq) -> bool:
    """Three-valued per-group test: the stats range check (each bound
    gated on its own), then for an equality probe the bloom filter."""
    if stats is not None:
        mn, mx = stats
        if lo is not None and stats_comparable(mx, lo) and mx < lo:
            return False
        if hi is not None and stats_comparable(mn, hi) and mn > hi:
            return False
    return eq is None or bf is None or bloom_might_contain(bf, col_kind, eq)


def oracle_keep(entries, filters, n_groups: int, col_kind: int, eq=None,
                lo=None, hi=None, not_null=None) -> list[int]:
    """The groups the per-group rules keep: ``entries`` are row-index
    entries (positions, (min, max) or None, (n_values, has_null)), and
    ``filters`` each group's BloomFilter or None. An eq list keeps a group
    if ANY value may match; beside eq, lo and hi go unused."""
    eqs = (None if eq is None else list(eq)
           if isinstance(eq, (list, tuple, set, frozenset)) else [eq])
    n = min(n_groups, len(entries))
    keep = []
    for g in range(n):
        stats = entries[g][1]
        bf = filters[g] if g < len(filters) else None
        if eqs is not None:
            ok = any(group_may_match(stats, bf, col_kind, v, v, v) for v in eqs)
        else:
            ok = group_may_match(stats, None, col_kind, lo, hi, None)
        n_values, has_null = entries[g][2]
        if not_null is True and n_values == 0:
            ok = False
        if not_null is False and has_null is False:
            ok = False
        if ok:
            keep.append(g)
    return keep + list(range(n, n_groups))


def evaluator_keep(entries, filters, n_groups: int, col_kind: int, eq=None,
                   lo=None, hi=None, not_null=None) -> list[int]:
    """The same groups by the reader's evaluator, as StripeIndex feeds it."""
    n = min(n_groups, len(entries))
    stats = of.ColumnStats(col_kind, [e[1] for e in entries[:n]],
                           [e[2] for e in entries[:n]])
    probe = of.Probe(eq, lo, hi, not_null)
    blooms = BloomMatrix(filters) if filters and eq is not None else None
    return np.flatnonzero(of.keep_mask(probe, stats, n_groups, blooms, col_kind)).tolist()


# --- the property test -------------------------------------------------------

UTC = dt.timezone.utc
_VALUES = {
    of.K_LONG: st.one_of(st.integers(-40, 40), st.integers(I64_MIN, I64_MAX)),
    of.K_DOUBLE: st.one_of(st.integers(-40, 40).map(float),
                           st.floats(allow_nan=False, width=64)),
    of.K_STRING: st.text(alphabet="ab\x00é", max_size=3),
    of.K_DATE: st.dates(dt.date(1960, 1, 1), dt.date(1960, 3, 1)) | st.dates(),
    of.K_TIMESTAMP: st.datetimes(dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 2))
    | st.datetimes(),
    of.K_DECIMAL: st.decimals(-50, 50, places=1),
}
_PROBES = st.one_of(
    st.integers(-40, 40), st.integers(I64_MIN, I64_MAX),
    st.integers(1 << 63, 1 << 70), st.integers(-(1 << 70), I64_MIN - 1),
    st.floats(width=64), st.booleans(), st.text(alphabet="ab\x00é", max_size=3),
    st.binary(max_size=2), st.dates(), st.datetimes(),
    st.datetimes(timezones=st.just(UTC)), st.decimals(-50, 50, places=1),
)


def _filter(kind: int, vals: list, size: int | None, liborc: bool):
    bf = BloomFilter.for_expected(size or len(vals))
    if vals and kind == of.K_LONG:
        ints = np.array(vals, dtype=np.int64)
        bf.add_hashes(wang_hash_i64_orc(ints) if liborc else wang_hash_i64(ints))
    for v in vals if kind == of.K_STRING else ():
        bf.add_hashes(np.array([murmur3_64_int(v.encode())], dtype=np.uint64))
    return bf


@st.composite
def _stripes(draw):
    """(kind, per-group values with None for nulls, entries, filters,
    n_groups): statistics as a writer computes them, a group's dropped at
    random (missing statistics), and, for int and string columns, a
    bloom filter per group (one shape for all, or one per group)."""
    kind = draw(st.sampled_from(sorted(_VALUES)))
    groups = draw(st.lists(st.lists(st.none() | _VALUES[kind], max_size=6),
                           min_size=1, max_size=6))
    entries = []
    for vals in groups:
        live = [v for v in vals if v is not None]
        stats = (min(live), max(live)) if live and draw(st.integers(0, 3)) else None
        nulls = draw(st.sampled_from([(len(live), len(live) < len(vals)), (None, None)]))
        entries.append(([0], stats, nulls))
    filters = []
    if kind in (of.K_LONG, of.K_STRING) and draw(st.booleans()):
        size = draw(st.sampled_from([None, 64]))
        liborc = draw(st.booleans())
        filters = [None if draw(st.integers(0, 5)) == 0 else
                   _filter(kind, [v for v in vals if v is not None], size, liborc)
                   for vals in groups]
    n_groups = len(groups)
    # entries past the groups bound nothing; groups past the entries keep
    cut = draw(st.integers(max(1, n_groups - 1), n_groups))
    return kind, groups, entries[:cut], filters, n_groups


def _neighbours(v) -> list:
    """``v`` and probes of other types at or next to it: the values where
    a type gate or a rounding rule decides."""
    out = [v]
    if isinstance(v, int):
        out += [float(v), v + 0.5, v - 0.5, decimal.Decimal(v), v + (1 << 64)]
    elif isinstance(v, float):
        out += [int(v), int(v) + 1] if np.isfinite(v) else []
    elif isinstance(v, str):
        out += [v.encode(), v + "\x00"]
    elif isinstance(v, dt.datetime):
        out += [v.replace(tzinfo=UTC), v.date()]
    elif isinstance(v, dt.date):
        out += [dt.datetime.combine(v, dt.time())]
    elif isinstance(v, decimal.Decimal):
        out += [int(v), float(v), v + decimal.Decimal("0.05")]
    return out


@st.composite
def _probes(draw, groups):
    """(eq, lo, hi, not_null): values from the column, next to them (of
    other types too), and of every type."""
    pool = [v for vals in groups for v in vals if v is not None]
    value = (st.sampled_from(pool).flatmap(lambda v: st.sampled_from(_neighbours(v)))
             | _PROBES) if pool else _PROBES
    shape = draw(st.sampled_from(["eq", "in", "range"]))
    eq = lo = hi = None
    if shape == "eq":
        eq = draw(value)
    elif shape == "in":
        eq = draw(st.lists(value, max_size=4))
    else:
        lo, hi = draw(st.none() | value), draw(st.none() | value)
    return eq, lo, hi, draw(st.sampled_from([None, True, False]))


def _matches(v, eq, lo, hi, not_null) -> bool:
    """May row value ``v`` (None: null) satisfy the probe? Values a range
    cannot order count as matching."""
    if v is None:
        return not_null is not True and eq is None and lo is None and hi is None
    if not_null is False:
        return False
    if eq is not None:
        return any(v == e for e in (eq if isinstance(eq, list) else [eq]))
    try:
        return (lo is None or v >= lo) and (hi is None or v <= hi)
    except (TypeError, decimal.InvalidOperation):
        return True


@settings(max_examples=1500, deadline=None, derandomize=True)
@given(data=st.data())
def test_evaluator_equals_oracle_and_keeps_every_match(data):
    kind, groups, entries, filters, n_groups = data.draw(_stripes())
    eq, lo, hi, not_null = data.draw(_probes(groups))
    want = oracle_keep(entries, filters, n_groups, kind, eq, lo, hi, not_null)
    got = evaluator_keep(entries, filters, n_groups, kind, eq, lo, hi, not_null)
    assert got == want
    for g, vals in enumerate(groups):
        if any(_matches(v, eq, lo, hi, not_null) for v in vals):
            assert g in got, (g, vals)


@pytest.mark.parametrize("probe, keep", [
    (dict(eq=5), [0, 3]), (dict(eq=[5, 250]), [0, 2, 3]), (dict(eq=[]), []),
    (dict(lo=150), [1, 2, 3]), (dict(hi=150), [0, 1, 3]),
    (dict(lo=150, hi=160), [1, 3]), (dict(eq=5.0), [0, 3]), (dict(eq=5.5), [0, 3]),
    (dict(eq=True), [0, 1, 2, 3]), (dict(eq="5"), [0, 1, 2, 3]),
    (dict(eq=1 << 64), [3]), (dict(lo=1 << 64), [3]), (dict(hi=-(1 << 64)), [3]),
    (dict(lo=-(1 << 64)), [0, 1, 2, 3]), (dict(lo=float("inf")), [3]),
    (dict(hi=float("-inf")), [3]), (dict(lo=float("nan")), [0, 1, 2, 3]),
    (dict(lo=0, not_null=True), [0, 2, 3]), (dict(lo=0, not_null=False), [0, 1, 3]),
])
def test_int_statistics_probes(probe, keep):
    """Group statistics [0, 99], [100, 199] (all null: no non-null value),
    [200, 299] with no nulls, and a group without statistics: equality,
    IN-lists, ranges, a float or bool or str probe, ints outside int64,
    infinities, NaN and null tests."""
    entries = [([0], (0, 99), (100, True)), ([0], (100, 199), (0, True)),
               ([0], (200, 299), (100, False)), ([0], None, (None, None))]
    args = (probe.get("eq"), probe.get("lo"), probe.get("hi"), probe.get("not_null"))
    assert oracle_keep(entries, [], 4, of.K_LONG, *args) == keep
    assert evaluator_keep(entries, [], 4, of.K_LONG, *args) == keep


def test_double_statistics_compare_int_probes_exactly():
    """An int probe of a double column compares as Python does, past
    2**53 and past the doubles' range."""
    big = float(1 << 60)
    entries = [([0], (big, big), (1, False)), ([0], (-1.5, 2.5), (2, False)),
               ([0], (float("inf"), float("inf")), (1, False))]
    for v in [(1 << 60) + 1, (1 << 60) - 1, 1 << 60, 2, 3, 1 << 2000, -(1 << 2000)]:
        for args in [(v, None, None), (None, v, None), (None, None, v)]:
            want = oracle_keep(entries, [], 3, of.K_DOUBLE, *args)
            assert evaluator_keep(entries, [], 3, of.K_DOUBLE, *args) == want, (v, args)


def test_scalar_eq_plans_splits(tmp_path):
    """A scalar ``eq`` predicate plans and reads splits like a one-value
    IN-list; it raised a TypeError before the stripe pruning took it."""
    import pyarrow as pa

    path = str(tmp_path / "ids.orc")
    of.write_orc(pa.table({"id": pa.array(np.arange(30_000))}), path,
                 stripe_rows=10_000)
    metas = {path: of.read_metadata(path)}
    splits = of.plan_splits(metas, [dict(column="id", eq=12_345)])
    assert [s.offset for s in splits] == [
        s.offset for s in of.plan_splits(metas, [dict(column="id", eq=[12_345])])]
    assert len(splits) == 1
    got = [of.decode_split(s, *of.fetch_split(s), predicates=[dict(column="id", eq=12_345)])
           for s in splits]
    ids = pa.concat_tables(got).column("id").to_numpy()
    assert 12_345 in ids and len(ids) < 30_000


# --- the chunk table's statistics through the same evaluator ----------------
#
# operators.predicate.column_stats turns a chunk's or its row groups' min
# and max strings into ColumnStats by codec family; chunk_keep composes
# keep_mask over them. Per-group values are drawn per codec, their
# statistics strings written as operators.encode writes them (string
# bounds cut to 64 characters, decimals as unscaled mantissas, null-only
# groups with None), and every group, and the chunk, that holds a row the
# predicate matches must be kept.

EPOCH = dt.datetime(1970, 1, 1)
_US = dt.timedelta(microseconds=1)
_LONG_TEXT = st.text(alphabet="ab\U0010ffff", min_size=60, max_size=70)
_CHUNK_VALUES = {
    "rle_v2": st.integers(-40, 40) | st.integers(I64_MIN, I64_MAX),
    "byte_rle": st.integers(-128, 127),
    "float_plain": st.integers(-40, 40).map(float)
    | st.floats(allow_nan=False, allow_infinity=False)
    | st.sampled_from([math.nan, math.inf, -math.inf]),
    "date": st.dates(dt.date(1960, 1, 1), dt.date(1960, 3, 1)) | st.dates(),
    "timestamp_split": st.datetimes(dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 2))
    | st.datetimes(),
    "direct": st.text(alphabet="ab\x00é", max_size=3) | _LONG_TEXT,
    "decimal": st.decimals(-50, 50, places=2),
}


def _spark_order(v):
    """Sort key of a row value in Spark's order, where NaN is above +inf
    (and equal to itself)."""
    return (1, 0.0) if isinstance(v, float) and v != v else (0, v)


def _stat(codec: str, v) -> str:
    """A bound's statistics string as the encoder writes it."""
    if codec == "float_plain":
        return repr(v)
    if codec == "date":
        return str(v.toordinal() - EPOCH.toordinal())
    if codec == "timestamp_split":
        return str((v - EPOCH) // _US)
    if codec == "decimal":
        return str(int(v.scaleb(2)))
    if codec == "direct":
        return v[:64]
    return str(v)


def _chunk_neighbours(v) -> list:
    """Probes at and next to a row value, and of other types."""
    out = _neighbours(v)
    if isinstance(v, int):
        out += [v - 1, v + 1]
    elif isinstance(v, float):
        out += [math.nextafter(v, math.inf), math.nextafter(v, -math.inf)]
    elif isinstance(v, str):
        out += [v[:64], v[:63], v + "\U0010ffff", v[:-1] if v else "a"]
    elif isinstance(v, dt.datetime):
        out += [v + _US, v - _US]
    elif isinstance(v, dt.date):
        out += [v + dt.timedelta(days=1), v - dt.timedelta(days=1)]
    return out


@st.composite
def _chunk_predicates(draw, values, value=None):
    """A Comparison of every op, IS [NOT] NULL, or two of them under And,
    Or or Not, on column "c"; its values drawn from ``value``, by default
    next to ``values`` or of any type."""
    from orc_rust_spark.operators import predicate as pr

    if value is None:
        pool = [v for v in values if v is not None]
        near = st.sampled_from(pool).flatmap(lambda v: st.sampled_from(_chunk_neighbours(v)))
        value = st.one_of(near, near, _PROBES) if pool else _PROBES
    comparison = st.builds(pr.Comparison, st.just("c"),
                           st.sampled_from(["=", "!=", "<", "<=", ">", ">="]), value)
    leaf = st.one_of(comparison, comparison, comparison,
                     st.sampled_from([pr.IsNull("c"), pr.IsNotNull("c")]))
    shape = draw(st.sampled_from(["leaf", "leaf", "leaf", "and", "or", "not"]))
    if shape == "leaf":
        return draw(leaf)
    if shape == "not":
        return pr.Not(draw(leaf))
    a, b = draw(leaf), draw(leaf)
    return pr.And(a, b) if shape == "and" else pr.Or(a, b)


def _sql(v, pred):
    """``pred`` on row value ``v`` (None: null): True, False or None
    (unknown), as SQL evaluates it; values it cannot order may match."""
    from orc_rust_spark.operators import predicate as pr

    if isinstance(pred, pr.IsNull):
        return v is None
    if isinstance(pred, pr.IsNotNull):
        return v is not None
    if isinstance(pred, pr.Not):
        got = _sql(v, pred.pred)
        return None if got is None else not got
    if isinstance(pred, (pr.And, pr.Or)):
        got = [_sql(v, p) for p in pred.preds]
        decided = False if isinstance(pred, pr.And) else True
        if decided in got:
            return decided
        return None if None in got else not decided
    if v is None:
        return None
    p = pred.value
    if isinstance(v, dt.datetime) and isinstance(p, dt.datetime) and p.tzinfo is not None:
        # Spark compares an aware literal's instant with the naive
        # statistics' UTC reading (an instant, or a wall clock at the UTC
        # session time zone)
        p = p.astimezone(UTC).replace(tzinfo=None)
    if any(isinstance(x, float) and x != x for x in (v, p)) and all(
            isinstance(x, (int, float)) and not isinstance(x, bool) for x in (v, p)):
        v, p = _spark_order(v), _spark_order(p)  # Spark: NaN = NaN, NaN > +inf
    try:
        return {"=": lambda: v == p, "!=": lambda: v != p, "<": lambda: v < p,
                "<=": lambda: v <= p, ">": lambda: v > p, ">=": lambda: v >= p}[pred.op]()
    except (TypeError, decimal.InvalidOperation):
        return True


@pytest.mark.parametrize("codec", sorted(_CHUNK_VALUES))
@settings(max_examples=300, deadline=None, derandomize=True)
@given(data=st.data())
def test_chunk_stats_keep_every_matching_group(codec, data):
    import json

    from orc_rust_spark.operators.predicate import chunk_keep, group_keep

    value = _CHUNK_VALUES[codec]
    groups = data.draw(st.lists(st.lists(st.one_of(value, value, st.none()), min_size=1,
                                         max_size=6), min_size=1, max_size=6))
    rg = {"codec": codec, "n": [len(g) for g in groups],
          "nulls": [g.count(None) for g in groups], "min": [], "max": []}
    for vals in groups:
        live = [v for v in vals if v is not None]
        rg["min"].append(_stat(codec, min(live, key=_spark_order)) if live else None)
        rg["max"].append(_stat(codec, max(live, key=_spark_order)) if live else None)
    live = [v for vals in groups for v in vals if v is not None]
    row = {"column": "c", "stream_kind": "DATA", "codec": codec,
           "min_val": _stat(codec, min(live, key=_spark_order)) if live else None,
           "max_val": _stat(codec, max(live, key=_spark_order)) if live else None,
           "null_count": sum(rg["nulls"]), "row_count": sum(rg["n"]),
           "stats_json": json.dumps({"rg": rg})}
    pred = data.draw(_chunk_predicates([v for vals in groups for v in vals]))
    verdict, keep = chunk_keep([row], pred), group_keep([row], pred)
    kept = range(len(groups)) if keep is None else keep
    for g, vals in enumerate(groups):
        if any(_sql(v, pred) is True for v in vals):
            assert verdict and g in kept, (g, vals, rg["min"][g], rg["max"][g])


# A TimestampType column holds instants: PySpark turns a naive datetime
# into one in the Python process's local zone (TimestampType.toInternal),
# and so does F.lit a probe's; a TimestampNTZType column holds wall
# clocks, which stand as UTC at the UTC session time zone, as does an NTZ
# literal. Whichever of these the column and the literal use, a group
# holding a match must keep, in any local zone (DST transitions included).

_ZONES = ["UTC0", "EST5EDT,M3.2.0,M11.1.0", "JST-9"]
_TS_VALUES = (st.datetimes(dt.datetime(2024, 3, 9), dt.datetime(2024, 3, 11))
              | st.datetimes(dt.datetime(2024, 11, 2), dt.datetime(2024, 11, 4))
              | st.datetimes(dt.datetime(1901, 1, 1), dt.datetime(2100, 1, 1)))


def _instant_us(v: dt.datetime) -> int:
    """PySpark's TimestampType.toInternal of a naive datetime."""
    import time

    return int(time.mktime(v.timetuple())) * 1_000_000 + v.microsecond


def _wall_us(v: dt.datetime) -> int:
    return (v - EPOCH) // _US


def _with_values(pred, f):
    """``pred`` with every Comparison's value mapped by ``f``."""
    from orc_rust_spark.operators import predicate as pr

    if isinstance(pred, pr.Comparison):
        return pr.Comparison(pred.col, pred.op, f(pred.value))
    if isinstance(pred, pr.Not):
        return pr.Not(_with_values(pred.pred, f))
    if isinstance(pred, (pr.And, pr.Or)):
        return type(pred)(*(_with_values(p, f) for p in pred.preds))
    return pred


@pytest.mark.parametrize("zone", _ZONES)
@settings(max_examples=200, deadline=None, derandomize=True)
@given(data=st.data())
def test_chunk_timestamp_stats_keep_matches_in_any_local_zone(local_zone, zone, data):
    import json

    from orc_rust_spark.operators.predicate import chunk_keep, group_keep

    with local_zone(zone):
        column_us = data.draw(st.sampled_from([_instant_us, _wall_us]))
        literal_us = data.draw(st.sampled_from([_instant_us, _wall_us]))
        groups = data.draw(st.lists(st.lists(st.one_of(_TS_VALUES, _TS_VALUES, st.none()),
                                             min_size=1, max_size=6), min_size=1, max_size=6))
        us = [[None if v is None else column_us(v) for v in vals] for vals in groups]
        rg = {"codec": "timestamp_split", "n": [len(g) for g in groups],
              "nulls": [g.count(None) for g in groups], "min": [], "max": []}
        for vals in us:
            live = [v for v in vals if v is not None]
            rg["min"].append(str(min(live)) if live else None)
            rg["max"].append(str(max(live)) if live else None)
        live = [v for vals in us for v in vals if v is not None]
        row = {"column": "c", "stream_kind": "DATA", "codec": "timestamp_split",
               "min_val": str(min(live)) if live else None,
               "max_val": str(max(live)) if live else None,
               "null_count": sum(rg["nulls"]), "row_count": sum(rg["n"]),
               "stats_json": json.dumps({"rg": rg})}
        pool = [v for vals in groups for v in vals if v is not None] or [dt.datetime(2024, 3, 10)]
        shift = st.sampled_from([-9, -5, -4, 0, 4, 5, 9]).map(lambda h: dt.timedelta(hours=h))
        near = st.builds(lambda v, d, e: v + d + e * _US, st.sampled_from(pool), shift,
                         st.sampled_from([-1, 0, 1]))
        pred = data.draw(_chunk_predicates([], near))
        verdict, keep = chunk_keep([row], pred), group_keep([row], pred)
        exact = _with_values(pred, literal_us)
    kept = range(len(groups)) if keep is None else keep
    for g, vals in enumerate(us):
        if any(_sql(v, exact) is True for v in vals):
            assert verdict and g in kept, (g, groups[g], rg["min"][g], rg["max"][g])


def test_chunk_bloom_prunes_absent_values_inside_min_max():
    """A probe inside a chunk's [min, max] but not in it is ruled out by
    the chunk's bloom filter alone: an odd id of an even-only long column
    and an absent string, with the filters stored zlib-compressed."""
    import pyarrow as pa

    from orc_rust_spark.operators.encode import encode_chunk
    from orc_rust_spark.operators.predicate import Comparison, chunk_keep

    ids = list(range(0, 20_000, 2))
    table = pa.table({"id": pa.array(ids, pa.int64()),
                      "s": pa.array([f"key-{i:06d}" for i in ids])})
    plan = {c: {"bloom": True, "block_codec": "zlib"} for c in ("id", "s")}
    rows = encode_chunk(table, 0, 0, plan).to_pylist()
    assert {r["codec"] for r in rows if r["stream_kind"] == "BLOOM_FILTER"} >= {"rle_v2"}
    for probe in (ids[0], ids[-1], 10_000):
        assert chunk_keep(rows, Comparison("id", "=", probe))
        assert chunk_keep(rows, Comparison("s", "=", f"key-{probe:06d}"))
    odd = range(1, 20_000, 402)
    kept_ids = sum(chunk_keep(rows, Comparison("id", "=", i)) for i in odd)
    kept_strs = sum(chunk_keep(rows, Comparison("s", "=", f"key-{i:06d}")) for i in odd)
    # the filters' false positives only (fpp 5%: about 2 of 50)
    assert kept_ids <= 10 and kept_strs <= 10, (kept_ids, kept_strs, len(odd))

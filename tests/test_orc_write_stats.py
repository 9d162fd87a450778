"""Row-group statistics of the ORC writer: ``orc_file._group_bounds``
computes every group's (min, max) of a column from one reduce, and must
give exactly what the per-group pyarrow ``min_max`` it replaced gave
(``_per_group_min_max`` below is a copy of that function). Values are
compared by ``repr``, so -0.0 against 0.0 and a date against a datetime
count as differences, as they would in the written statistics bytes."""

import datetime as dt
import decimal
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from orc_rust_spark.codecs.string_codec import sorted_dictionary
from orc_rust_spark.sources import orc_file as of


def _per_group_min_max(kind, g_dense):
    """The writer's per-group statistics before one reduce per column."""
    if not len(g_dense):
        return None, None
    if kind in (of.K_BYTE, of.K_SHORT, of.K_INT, of.K_LONG):
        mm = pc.min_max(g_dense)
        return int(mm["min"].as_py()), int(mm["max"].as_py())
    if kind in (of.K_FLOAT, of.K_DOUBLE):
        mm = pc.min_max(g_dense)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        if mn is None or mx is None or math.isnan(mn) or math.isnan(mx):
            return None, None
        return float(mn), float(mx)
    if kind in (of.K_STRING, of.K_VARCHAR, of.K_CHAR):
        mm = pc.min_max(g_dense.cast(pa.large_string()))
        return mm["min"].as_py(), mm["max"].as_py()
    if kind == of.K_DECIMAL:
        mm = pc.min_max(g_dense)
        return mm["min"].as_py(), mm["max"].as_py()
    if kind in (of.K_DATE, of.K_TIMESTAMP, of.K_TIMESTAMP_INSTANT):
        mm = pc.min_max(g_dense)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        if isinstance(mn, dt.datetime) and mn.tzinfo is not None:
            mn = mn.astimezone(dt.timezone.utc).replace(tzinfo=None)
            mx = mx.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return mn, mx
    return None, None


def _expected(kind, arr, starts):
    return [_per_group_min_max(kind, arr.slice(a, b - a).drop_null())
            for a, b in zip(starts[:-1], starts[1:])]


def _check(arr, counts, dictionary=False):
    """``_group_bounds`` equals the per-group function on every group."""
    starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    kind = of._orc_kind_of(arr.type)
    dic = None
    if dictionary:
        ranks, data, lens, _ = sorted_dictionary(arr.drop_null().cast(pa.large_binary()))
        dic = (ranks, data, lens)
    got = of._group_bounds(kind, arr, starts, dic)
    want = _expected(kind, arr, starts.tolist())
    assert [repr(b) for b in got] == [repr(b) for b in want]
    return got


# groups of 8 values, a short last group; group 1 is all null
COUNTS = [8, 8, 8, 8, 3]


def _with_nulls(values, typ):
    """``values`` (35 of them) with group 1 all null and a few more nulls."""
    mask = np.zeros(len(values), dtype=bool)
    mask[8:16] = True
    mask[[0, 20, 33]] = True
    return pa.array(values, type=typ, mask=mask)


@pytest.mark.parametrize("typ,lo,hi", [
    (pa.int8(), -128, 127), (pa.int16(), -(2**15), 2**15 - 1),
    (pa.int32(), -(2**31), 2**31 - 1), (pa.int64(), -(2**63), 2**63 - 1),
    (pa.uint8(), 0, 255),
])
def test_integer_bounds_with_extremes_and_nulls(typ, lo, hi):
    rng = np.random.default_rng(1)
    vals = rng.integers(lo, hi, 35, endpoint=True).tolist()
    vals[17], vals[26], vals[34] = lo, hi, lo
    got = _check(_with_nulls(vals, typ), COUNTS)
    assert got[1] == (None, None) and got[2][0] == lo and got[3][1] == hi
    _check(pa.array(vals, type=typ), COUNTS)  # no nulls


def test_float_bounds_nan_and_signed_zero():
    nan = float("nan")
    groups = [
        [nan] * 8,                                    # NaN-only
        [nan, 1.5, nan, -2.5, nan, 3.0, nan, nan],    # NaN-mixed
        [0.0, -0.0, 1.0, 0.0, -0.0, 2.0, 0.0, 3.0],   # zero min, 0.0 first
        [-0.0, 0.0, -1.0, 0.0, -0.0, -2.0, 0.0, -0.0],  # zero max, -0.0 first
        [nan, -0.0, 0.0],
        [math.inf, -math.inf, 1.0, nan, 0.0, 5.0, -5.0, 2.0],
    ]
    vals = [v for g in groups for v in g]
    counts = [len(g) for g in groups]
    for typ in (pa.float64(), pa.float32()):
        got = _check(pa.array(vals, type=typ), counts)
        assert got[1] == (-2.5, 3.0)
        assert repr(got[2][0]) == "0.0" and repr(got[3][1]) == "-0.0"
        mask = np.zeros(len(vals), dtype=bool)
        mask[8:16] = mask[40] = True
        _check(pa.array(vals, type=typ, mask=mask), counts)


def test_date_bounds():
    rng = np.random.default_rng(2)
    days = rng.integers(-800_000, 2_900_000, 35).astype(np.int32)
    arr = pa.array(days).view(pa.date32())
    assert _check(arr, COUNTS)[0][0].__class__ is dt.date
    _check(_with_nulls(arr.to_pylist(), pa.date32()), COUNTS)


@pytest.mark.parametrize("typ", [
    pa.timestamp("us"), pa.timestamp("ms"), pa.timestamp("ns"),
    pa.timestamp("us", tz="America/New_York"), pa.timestamp("us", tz="UTC"),
    pa.timestamp("ns", tz="Asia/Kolkata"),
])
def test_timestamp_bounds(typ):
    rng = np.random.default_rng(3)
    us = rng.integers(-9 * 10**15, 9 * 10**15, 35)  # 1685 to 2255
    ticks = {"ms": us // 1000, "us": us,
             "ns": us * 1000 + rng.integers(0, 1000, 35)}[typ.unit]
    arr = pa.array(ticks).view(typ)
    _check(arr, COUNTS)
    _check(pa.array(arr.to_pylist(), type=typ, mask=np.arange(35) % 5 == 0), COUNTS)


@pytest.mark.parametrize("dictionary", [True, False])
def test_string_bounds(dictionary):
    words = ["zebra", "Äpfel", "apple", "日本", "", "a\u0000b", "éclair", "Zulu"]
    rng = np.random.default_rng(4)
    vals = [words[i] for i in rng.integers(0, len(words), 35)]
    arr = _with_nulls(vals, pa.string())
    got = _check(arr, COUNTS, dictionary)
    assert got[1] == (None, None)
    _check(pa.array(vals, type=pa.large_string()), COUNTS, dictionary)


def test_decimal_bounds():
    rng = np.random.default_rng(5)
    vals = [decimal.Decimal(int(v)).scaleb(-2)
            for v in rng.integers(-(10**12), 10**12, 35)]
    _check(_with_nulls(vals, pa.decimal128(18, 2)), COUNTS)


def test_unbounded_kinds_and_empty_columns():
    bools = pa.array([True, False, None] * 5)
    assert _check(bools, [8, 7]) == [(None, None)] * 2
    _check(pa.array([b"x", b"y"] * 4, type=pa.binary()), [8])
    _check(pa.array([None] * 16, type=pa.int64()), [8, 8])
    _check(pa.array([], type=pa.int64()), [])


# --- through the writer -------------------------------------------------------


def _table(n=20_500):
    rng = np.random.default_rng(6)
    valid = rng.random(n) > 0.1
    valid[10_000:20_000] = False  # one all-null group
    floats = rng.normal(size=n)
    floats[rng.random(n) < 0.05] = np.nan
    floats[:10_000:7] = -0.0
    ts = pa.array(rng.integers(-(10**15), 10**15, n)).view(pa.timestamp("us"))
    return pa.table({
        "i8": pa.array(rng.integers(-128, 128, n).astype(np.int8), mask=~valid),
        "i64": pa.array(rng.integers(-(2**63), 2**63 - 1, n)),
        "f": pa.array(floats, mask=~valid),
        "d": pa.array(rng.integers(-10_000, 30_000, n).astype(np.int32)).view(pa.date32()),
        "ts": ts,
        "tz": ts.view(pa.timestamp("us", tz="Europe/Berlin")),
        "lang": pa.array(np.array(["en", "de", "ß", "日本"], dtype=object)[rng.integers(0, 4, n)]),
        "url": pa.array([f"ü/{i}" for i in rng.permutation(n)], mask=~valid),
        "dec": pa.array([decimal.Decimal(int(v)).scaleb(-3)
                         for v in rng.integers(-(10**9), 10**9, n)], pa.decimal128(12, 3)),
        "nested": pa.array([{"x": int(v), "y": float(v) / 3}
                            for v in rng.integers(-50, 50, n)],
                           pa.struct([("x", pa.int64()), ("y", pa.float64())])),
    })


@pytest.mark.parametrize("writer_timezone", ["UTC", "America/New_York"])
def test_writer_bounds_equal_per_group_min_max(tmp_path, monkeypatch, writer_timezone):
    """Every ``_group_bounds`` call of a write, nested children and the
    non-UTC timestamp statistics array included, matches the per-group
    function; and a file written with the per-group function is the same
    file, byte for byte."""
    table = _table()
    calls = []
    real = of._group_bounds

    def checked(kind, arr, group_starts, dictionary=None):
        got = real(kind, arr, group_starts, dictionary)
        want = _expected(kind, arr, group_starts.tolist())
        assert [repr(b) for b in got] == [repr(b) for b in want]
        calls.append((kind, dictionary is not None, len(group_starts) - 1))
        return got

    def per_group(kind, arr, group_starts, dictionary=None):
        return _expected(kind, arr, group_starts.tolist())

    out = {}
    for label, fn in (("reduce", checked), ("per_group", per_group)):
        monkeypatch.setattr(of, "_group_bounds", fn)
        path = tmp_path / f"{label}.orc"
        of.write_orc(table, str(path), compression="none",
                     writer_timezone=writer_timezone, bloom_columns=["i64"])
        out[label] = path.read_bytes()
    assert out["reduce"] == out["per_group"]
    kinds = {k for k, _, _ in calls}
    assert {of.K_BYTE, of.K_LONG, of.K_DOUBLE, of.K_DATE, of.K_TIMESTAMP,
            of.K_TIMESTAMP_INSTANT, of.K_STRING, of.K_DECIMAL} <= kinds
    assert (of.K_STRING, True, 3) in calls and (of.K_STRING, False, 3) in calls


def test_string_children_without_values_write(tmp_path):
    """A nested string child whose groups hold no values (every parent
    null or empty) still writes and reads back."""
    table = pa.table({
        "s": pa.array([None] * 3, pa.struct([("y", pa.string())])),
        "l": pa.array([[], None, []], pa.list_(pa.string())),
    })
    path = tmp_path / "empty_children.orc"
    of.write_orc(table, str(path), compression="none")
    assert of.orc_to_table(str(path)).to_pylist() == table.to_pylist()

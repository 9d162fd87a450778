import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_rust_spark.codecs.timestamp_split import (
    ORC_EPOCH_SECONDS,
    combine_timestamp_ns,
    decode_timestamp,
    encode_timestamp,
    split_timestamp_ns,
)


def test_trailing_zero_trick():
    # 1000 ns -> strip 3 zeros -> (1 << 3) | (3 - 1)
    ts = np.array([ORC_EPOCH_SECONDS * 10**9 + 1000], dtype=np.int64)
    secs, enc = split_timestamp_ns(ts)
    assert secs.tolist() == [0]
    assert enc.tolist() == [(1 << 3) | 2]
    # no trailing zeros -> shifted only
    ts = np.array([7], dtype=np.int64)
    _, enc = split_timestamp_ns(ts)
    assert enc.tolist() == [7 << 3]
    # exactly 1 zero -> not stripped
    ts = np.array([10], dtype=np.int64)
    _, enc = split_timestamp_ns(ts)
    assert enc.tolist() == [10 << 3]
    # cap at 8 removed zeros: 1e8 ns
    ts = np.array([10**8], dtype=np.int64)
    _, enc = split_timestamp_ns(ts)
    assert enc.tolist() == [(1 << 3) | 7]


def test_roundtrip_2024_microsecond_values():
    base = 1_704_067_200_000_000  # 2024-01-01 in us
    us = np.arange(base, base + 10_000, 7, dtype=np.int64)
    ns = us * 1000
    data, secondary = encode_timestamp(ns)
    out = decode_timestamp(data, secondary, ns.size)
    assert (out == ns).all()


def test_negative_seconds_orc763():
    # well below epoch, nanos > 999_999 -> exercises the ORC-763 adjustment
    ns = np.array([-5 * 10**9 + 123_456_789, -10**9, -2 * 10**9 + 1], dtype=np.int64)
    secs, enc = split_timestamp_ns(ns)
    assert (combine_timestamp_ns(secs, enc) == ns).all()


def test_epoch_boundary_roundtrips_liborc_convention():
    # Through r6 the writer used the Java floor+ORC-763 convention, whose
    # inverse of the (-1s, 0) range lands on stored seconds == 0 and
    # decodes +1s off — a differential write fuzz vs liborc caught it
    # (r7). The split now truncates toward zero with a SIGNED sub-second,
    # exactly what C++ liborc writes (measured: -1 us stores enc -6),
    # and every value round-trips.
    ns = np.array([-1, -1000, -999_999_999, -(10**9), -1_500_000_000, 0, 1],
                  dtype=np.int64)
    secs, enc = split_timestamp_ns(ns)
    assert (combine_timestamp_ns(secs, enc) == ns).all()
    # byte parity with liborc's measured encoding of -1 us
    s1, e1 = split_timestamp_ns(np.array([-1000], dtype=np.int64))
    assert (s1.tolist(), e1.tolist()) == ([-1_420_070_400], [-6])


@given(st.lists(st.integers(-(2**55), 2**55), min_size=1, max_size=500))
@settings(max_examples=40, deadline=None)
def test_roundtrip_random_ns(vals):
    # the full range round-trips, (-1s, 0) included (r7 liborc-parity split)
    ns = np.array(vals, dtype=np.int64)
    data, secondary = encode_timestamp(ns)
    assert (decode_timestamp(data, secondary, ns.size) == ns).all()


def test_far_future_timestamps_roundtrip_us_space():
    """Spark timestamps past ~year 2262 overflow int64 in ns-space
    (us*1000); the us-native split/combine must roundtrip them through
    both the chunk engine and the ORC file writer (code-review r6).
    (liborc cross-read is skipped here: Arrow's ns timestamps cannot
    represent these instants at all.)"""
    import os
    import tempfile

    import pyarrow as pa

    from orc_rust_spark.sources.orc_file import orc_to_table, write_orc

    us = np.array([
        32503680000000000,        # 3000-01-01
        253402300799999999,       # 9999-12-31 23:59:59.999999
        -62135596800000000,       # year 1
        1700000000123456,         # a normal 2023 value
    ], dtype=np.int64)
    arr = pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))
    tbl = pa.table({"ts": arr})
    d = tempfile.mkdtemp()
    p = os.path.join(d, "far.orc")
    write_orc(tbl, p, compression="zlib")
    back = orc_to_table(p)
    assert back.column("ts").cast(pa.timestamp("us")).combine_chunks().equals(arr)


def test_combine_ns_out_of_range_raises():
    """ns-space combine raises on values past ~2262 instead of silently
    wrapping int64 (code-review r7 — the us path got this in r6)."""
    import pytest

    from orc_rust_spark.codecs.timestamp_split import (
        ORC_EPOCH_SECONDS,
        combine_timestamp_ns,
    )

    for unix_secs in (16_725_225_600,        # year 2500
                      -62_135_596_800):      # year 1
        stored = np.array([unix_secs - ORC_EPOCH_SECONDS], dtype=np.int64)
        with pytest.raises(ValueError, match="ns-representable"):
            combine_timestamp_ns(stored, np.zeros(1, dtype=np.int64))
    # boundary-adjacent values inside the range still decode
    ok = np.array([9_000_000_000 - ORC_EPOCH_SECONDS], dtype=np.int64)
    assert combine_timestamp_ns(ok, np.zeros(1, dtype=np.int64))[0] == \
        9_000_000_000 * 10**9


def test_corrupt_secondary_stream_nanos_rejected():
    """A decoded sub-second component outside (-1e9, 1e9) can only come
    from a corrupt SECONDARY stream; both combines refuse it instead of
    wrapping int64 past the seconds bound (code-review r7, second
    pass)."""
    import pytest

    from orc_rust_spark.codecs.timestamp_split import (
        combine_timestamp_ns,
        combine_timestamp_us,
    )

    # enc = nanos << 3 with zero trailing-zero code -> nanos = 2e9
    bad = np.array([2_000_000_000 << 3], dtype=np.int64)
    secs = np.zeros(1, dtype=np.int64)
    for combine in (combine_timestamp_ns, combine_timestamp_us):
        with pytest.raises(ValueError, match="corrupt"):
            combine(secs, bad)


def test_negative_boundary_liborc_both_directions(tmp_path):
    """-1 us and friends cross liborc in BOTH directions exactly (r7:
    the differential write fuzz caught our floor-convention writer
    storing -1 us as +999999 us; now trunc+signed-nanos, liborc
    parity)."""
    import pyarrow as pa
    import pyarrow.orc as paorc

    from orc_rust_spark.sources.orc_file import orc_to_table, write_orc

    vals = [-1, -999_999, -1_000_000, -1_500_000, -2_000_001, 0, 1]
    tbl = pa.table({"t": pa.array(vals, type=pa.int64())
                    .cast(pa.timestamp("us"))})
    ours, theirs = str(tmp_path / "ours.orc"), str(tmp_path / "lib.orc")
    write_orc(tbl, ours)
    paorc.write_table(tbl, theirs)
    for p in (ours, theirs):
        assert orc_to_table(p).column("t").cast(pa.int64()).to_pylist() \
            == vals, f"our reader on {p}"
        assert paorc.ORCFile(p).read().column("t").cast(
            pa.timestamp("us")).cast(pa.int64()).to_pylist() == vals, \
            f"liborc on {p}"


def _seven_pass_pack(secs, nanos):
    """The nanos packing before the 8/4/2/1 cascade: one modulo pass per
    candidate zero count, 8 down to 2."""
    enc = nanos << np.int64(3)
    removed = np.zeros_like(nanos)
    stripped = nanos.copy()
    for r in range(8, 1, -1):
        p = np.int64(10**r)
        hit = (removed == 0) & (nanos != 0) & (nanos % p == 0)
        removed[hit] = r
        stripped[hit] = nanos[hit] // p
    has = removed > 0
    enc[has] = (stripped[has] << np.int64(3)) | (removed[has] - 1)
    return secs - ORC_EPOCH_SECONDS, enc


def _granular_us():
    """Day-, second-, ms- and us-granular values around 1900, 1970, 2038
    and 3000, negative ones, zero, and sub-second offsets with every
    trailing-zero count."""
    from orc_rust_spark.codecs.timestamp_split import _trunc_div

    rng = np.random.default_rng(9)
    day = 86_400 * 10**6
    anchors = np.array([-2_208_988_800, 0, 2_147_483_647, 32_503_680_000],
                       dtype=np.int64) * 10**6  # 1900, 1970, 2038, 3000
    parts = [np.array([0, 1, -1, 10, -10, 100, 999_999, -999_999, 10**6, -(10**6)])]
    for a in anchors:
        parts += [a + rng.integers(-3650, 3650, 300) * day,            # days
                  a + rng.integers(-10**9, 10**9, 300) * 10**6,        # seconds
                  a + rng.integers(-10**12, 10**12, 300) * 1000,       # ms
                  a + rng.integers(-10**15, 10**15, 300),              # us
                  a + rng.integers(-10**6, 10**6, 300) * 10**6         # sub-second:
                  + (rng.integers(1, 10, 300) * 10 ** rng.integers(0, 6, 300))]
    us = np.concatenate(parts).astype(np.int64)
    _, rem = _trunc_div(us, 10**6)
    assert (rem < 0).any() and (rem == 0).any()
    return us


def test_split_equals_seven_pass_packing_and_round_trips():
    from orc_rust_spark.codecs.timestamp_split import (_trunc_div, combine_timestamp_us,
                                                       split_timestamp_us)

    us = _granular_us()
    secs, rem = _trunc_div(us, 10**6)
    want = _seven_pass_pack(secs, rem * 1000)
    got = split_timestamp_us(us)
    assert all(np.array_equal(g, w) for g, w in zip(got, want))
    # us-granular nanos keep 3 to 8 trailing zeros: every stripping code
    assert set((got[1][rem != 0] & 7).tolist()) == {2, 3, 4, 5, 6, 7}
    assert np.array_equal(combine_timestamp_us(*got), us)

    in_ns = us[np.abs(us) < 9 * 10**15]  # 1685 to 2255
    ns = in_ns * 1000 + in_ns % 3 * 70  # some with 0 or 1 trailing zeros
    secs, rem = _trunc_div(ns, 10**9)
    want = _seven_pass_pack(secs, rem)
    got = split_timestamp_ns(ns)
    assert all(np.array_equal(g, w) for g, w in zip(got, want))
    assert set((got[1][rem != 0] & 7).tolist()) == {0, 2, 3, 4, 5, 6, 7}
    assert np.array_equal(combine_timestamp_ns(*got), ns)


def _floor_fixup_trunc_div(ts: np.ndarray, unit: int) -> tuple[np.ndarray, np.ndarray]:
    """The floor-divide-and-fix-up form of the truncating split, kept as
    the reference of ``_trunc_div``."""
    secs = np.floor_divide(ts, np.int64(unit))
    rem = ts - secs * np.int64(unit)
    secs = np.where((ts < 0) & (rem != 0), secs + 1, secs)
    return secs, ts - secs * np.int64(unit)


@pytest.mark.parametrize("unit", [10**6, 10**9])
def test_trunc_div_equals_floor_fixup_form(unit):
    """The fmod split equals the floor-divide-and-fix-up one at the int64
    extremes, around zero and one either side of a unit multiple."""
    from orc_rust_spark.codecs.timestamp_split import _trunc_div

    i64 = np.iinfo(np.int64)
    edge = [i64.min, i64.min + 1, i64.max, i64.max - 1, 0, 1, -1,
            unit, -unit, unit + 1, unit - 1, -unit + 1, -unit - 1]
    ts = np.concatenate([np.array(edge, dtype=np.int64), _granular_us()])
    got, want = _trunc_div(ts, unit), _floor_fixup_trunc_div(ts, unit)
    assert got[0].dtype == got[1].dtype == np.int64
    assert np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1])
    assert np.array_equal(got[0] * unit + got[1], ts)


#: values of each Arrow unit: sub-second parts, pre-1970, and (ns) one in
#: 2001 that a microsecond reading of the ticks would put out of range
UNIT_VALUES = {"s": [5, 2_000_000, -86_401, 1_700_000_000],
               "ms": [5, 2_000_000, -1, 1_700_000_000_123],
               "us": [5, 2_000_000, -1, 1_700_000_000_123_456],
               "ns": [5, 2_000_000, -1, 10**18, 1_700_000_000_123_456_789]}


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
@pytest.mark.parametrize("unit", sorted(UNIT_VALUES))
def test_write_orc_keeps_every_timestamp_unit(tmp_path, unit, zone):
    """write_orc stores a timestamp column of every Arrow unit as the
    instants it holds, under UTC and a non-UTC writer zone: this engine's
    reader (at ns) and pyarrow's read the same values back, and a
    microsecond read of a sub-microsecond value raises."""
    import pyarrow as pa
    import pyarrow.orc as paorc

    from orc_rust_spark.sources import orc_file as of

    arr = pa.array(np.array(UNIT_VALUES[unit], dtype=f"datetime64[{unit}]"))
    path = str(tmp_path / f"{unit}.orc")
    of.write_orc(pa.table({"t": arr}), path, compression="zstd", writer_timezone=zone)
    want = arr.cast(pa.timestamp("ns")).to_pylist()
    ours = of.orc_to_table(path, timestamp_unit="ns").column("t")
    assert ours.cast(pa.timestamp("ns")).to_pylist() == want
    assert paorc.read_table(path).column("t").cast(pa.timestamp("ns")).to_pylist() == want
    if unit == "ns":
        with pytest.raises(ValueError, match="sub-microsecond"):
            of.orc_to_table(path)
    else:
        assert of.orc_to_table(path).column("t").cast(pa.timestamp("ns")).to_pylist() == want

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_rust_spark.codecs import util


def test_varint_golden():
    # FIXTURES.md §2 varint table (reference util.rs:770-788)
    cases = [(0, b"\x00"), (127, b"\x7f"), (128, b"\x80\x01"),
             (16383, b"\xff\x7f"), (16384, b"\x80\x80\x01")]
    for value, enc in cases:
        assert util.write_varint(value) == enc
        got, pos = util.read_varint(enc, 0)
        assert got == value and pos == len(enc)


def test_zigzag_golden():
    # reference util.rs:622-654
    vals = np.array([0, -1, 1, -2, 2, 2**63 - 1, -(2**63)], dtype=np.int64)
    enc = util.zigzag_encode(vals)
    assert enc.tolist() == [0, 1, 2, 3, 4, 2**64 - 2, 2**64 - 1]
    assert (util.zigzag_decode(enc) == vals).all()
    assert util.zigzag_encode_scalar(-1) == 1
    assert util.zigzag_decode_scalar(2**64 - 1) == -(2**63)


def test_bit_width_tables():
    assert util.closest_fixed_bits(0) == 1
    assert util.closest_fixed_bits(5) == 5
    assert util.closest_fixed_bits(25) == 26
    assert util.closest_fixed_bits(33) == 40
    assert util.closest_fixed_bits(57) == 64
    assert util.closest_aligned_bits(3) == 4
    assert util.closest_aligned_bits(12) == 16
    assert util.decode_bit_width(util.encode_bit_width(24)) == 24
    assert util.decode_bit_width(0) == 1
    assert util.decode_bit_width(31) == 64


def test_bits_required_exact_above_2_53():
    v = np.array([0, 1, 2**53 + 1, 2**63, 2**64 - 1], dtype=np.uint64)
    assert util.bits_required(v).tolist() == [1, 1, 54, 64, 64]


def test_percentile_bits():
    # 20 values, one 20-bit outlier -> 95p is 8 bits, 100p is 20 bits
    v = np.array([30, 0, 20, 998000] + list(range(40, 200, 10)), dtype=np.uint64)
    assert util.percentile_bits(v, 1.0) == 20
    assert util.percentile_bits(v, 0.95) == 8


def _histogram_walk(values, p):
    """Reference percentile width: the ORC writer's loop over the fixed-bit
    width histogram, widest bucket first."""
    hist = [0] * 65
    for x in values:
        hist[util.closest_fixed_bits(int(x).bit_length())] += 1
    allowance = int(len(values) * (1.0 - p))
    for width in range(64, 0, -1):
        allowance -= hist[width]
        if allowance < 0:
            return width
    return 1


@pytest.mark.parametrize("m", [1, 2, 4, 10, 20, 30, 100, 512])
def test_percentile_rows_match_histogram_walk(m):
    rng = np.random.default_rng(m)
    # per row: small values plus a random number of wide ones, so the
    # percentiles land on every side of the top width
    rows = rng.integers(0, 1 << 8, (300, m)).astype(np.uint64)
    for r in range(rows.shape[0]):
        k = int(rng.integers(0, m + 1))
        top = int(rng.integers(1, 65))
        rows[r, rng.choice(m, k, replace=False)] = (
            rng.integers(0, 1 << 62, k).astype(np.uint64) >> np.uint64(64 - top)
            | np.uint64(1 << (top - 1)))
    for p in (1.0, 0.95, 0.9):
        got = util.percentile_bits_rows(rows, p).tolist()
        assert got == [_histogram_walk(row.tolist(), p) for row in rows], p


@pytest.mark.parametrize("width", [1, 2, 4, 8, 16, 24, 32, 40, 48, 56, 64])
@pytest.mark.parametrize("m", [1, 3, 7, 510, 512])
def test_bitpack_rows_equals_bitpack_per_row(width, m):
    rng = np.random.default_rng(width * 1000 + m)
    rows = rng.integers(0, 1 << 63, (5, m), dtype=np.uint64) * np.uint64(2)
    rows |= rng.integers(0, 2, (5, m), dtype=np.uint64)
    rows >>= np.uint64(64 - width)
    packed = util.bitpack_rows(rows, width)
    assert [bytes(r) for r in packed] == [util.bitpack(r, width) for r in rows]


def _rows_at_width(seed, k, m, width):
    rng = np.random.default_rng(seed)
    rows = rng.integers(0, 1 << 63, (k, m), dtype=np.uint64) * np.uint64(2)
    rows |= rng.integers(0, 2, (k, m), dtype=np.uint64)
    return rows >> np.uint64(64 - width)


@pytest.mark.parametrize("width", [1, 2, 4, 8, 16, 24, 32, 40, 48, 56, 64])
@pytest.mark.parametrize("m", [1, 3, 7, 510, 512])
def test_bitunpack_rows_inverts_bitpack_rows(width, m):
    rows = _rows_at_width(width * 1000 + m, 5, m, width)
    packed = util.bitpack_rows(rows, width)
    got = util.bitunpack_rows(packed, m, width)
    assert got.dtype == np.uint64 and np.array_equal(got, rows)
    # the reader passes runs as a strided view of the stream: each row's
    # bytes follow a 2-byte run header
    stream = np.zeros((5, 2 + packed.shape[1]), dtype=np.uint8)
    stream[:, 2:] = packed
    assert np.array_equal(util.bitunpack_rows(stream[:, 2:], m, width), rows)
    assert np.array_equal(util.bitunpack(packed[3].tobytes(), m, width), rows[3])


@pytest.mark.parametrize("width", [3, 5, 7, 12, 17, 23, 26, 28, 30])
def test_bitunpack_rows_unaligned_widths(width):
    """Widths only liborc writes go through the bit-matrix path."""
    rows = _rows_at_width(width, 4, 37, width)
    packed = np.array([np.frombuffer(util.bitpack(r, width), np.uint8) for r in rows])
    assert np.array_equal(util.bitunpack_rows(packed, 37, width), rows)


@given(st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=200),
       st.integers(1, 64))
@settings(max_examples=50, deadline=None)
def test_bitpack_roundtrip(values, width):
    mask = (1 << width) - 1
    vals = np.array([v & mask for v in values], dtype=np.uint64)
    packed = util.bitpack(vals, width)
    assert len(packed) == (len(vals) * width + 7) // 8
    out = util.bitunpack(packed, len(vals), width)
    assert out.tolist() == vals.tolist()


@given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=100))
@settings(max_examples=50, deadline=None)
def test_zigzag_roundtrip(values):
    v = np.array(values, dtype=np.int64)
    assert (util.zigzag_decode(util.zigzag_encode(v)) == v).all()


@given(st.integers(0, 2**64 - 1))
@settings(max_examples=100, deadline=None)
def test_varint_roundtrip(value):
    got, _ = util.read_varint(util.write_varint(value), 0)
    assert got == value


def test_frombuffer_exact_truncation_is_corrupt_stream():
    """Truncated streams raise the engine's CorruptStream (a ValueError
    subclass the stripe guard wraps into the corrupt-file contract), not
    numpy's bare builtins ValueError (code-review r7)."""
    import pytest

    from orc_rust_spark.codecs.util import CorruptStream, frombuffer_exact

    with pytest.raises(CorruptStream, match="truncated stream"):
        frombuffer_exact(b"\x01\x02", np.int64, 1)
    with pytest.raises(CorruptStream, match="truncated stream"):
        frombuffer_exact(b"\x00" * 4, np.uint8, 2, offset=3)
    out = frombuffer_exact(b"\x01\x00\x02\x00", "<u2", 2)
    assert out.tolist() == [1, 2]

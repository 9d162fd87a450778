"""RLEv2 golden vectors (ORC v2 spec draft, mirrored from the reference's
unit suite at src/encoding/integer/rle_v2/mod.rs:558-692) + Hypothesis
roundtrips shaped like the reference's proptest strategies."""

import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_rust_spark.codecs.rle_v2 import decode_rlev2, encode_rlev2

U = dict(signed=False)
S = dict(signed=True)


# --- decode goldens ---------------------------------------------------------

def test_short_repeat_decode():
    assert decode_rlev2(bytes([0x0A, 0x27, 0x10]), 5, **U).tolist() == [10000] * 5


def test_direct_decode_unsigned():
    data = bytes([0x5E, 0x03, 0x5C, 0xA1, 0xAB, 0x1E, 0xDE, 0xAD, 0xBE, 0xEF])
    assert decode_rlev2(data, 4, **U).tolist() == [23713, 43806, 57005, 48879]


def test_direct_decode_signed():
    data = bytes([110, 3, 0, 185, 66, 1, 86, 60, 1, 189, 90, 1, 125, 222])
    assert decode_rlev2(data, 4, **S).tolist() == [23713, 43806, 57005, 48879]


def test_delta_decode():
    primes = [2, 3, 5, 7, 11, 13, 17, 19, 23, 29]
    data = bytes([0xC6, 0x09, 0x02, 0x02, 0x22, 0x42, 0x42, 0x46])
    assert decode_rlev2(data, 10, **U).tolist() == primes
    # alternate header (width 3, unaligned) the reader must also accept
    data = bytes([196, 9, 2, 2, 74, 40, 166])
    assert decode_rlev2(data, 10, **U).tolist() == primes


def test_patched_base_decode():
    data = bytes([0x8E, 0x09, 0x2B, 0x21, 0x07, 0xD0, 0x1E, 0x00, 0x14, 0x70,
                  0x28, 0x32, 0x3C, 0x46, 0x50, 0x5A, 0xFC, 0xE8])
    expected = [2030, 2000, 2020, 1000000, 2040, 2050, 2060, 2070, 2080, 2090]
    assert decode_rlev2(data, 10, **U).tolist() == expected


def test_patched_base_decode_alt_widths():
    # same values, wider header variant from the reference reader_test
    data = bytes([102, 9, 0, 126, 224, 7, 208, 0, 126, 79, 66, 64, 0, 127,
                  128, 8, 2, 0, 128, 192, 8, 22, 0, 130, 0, 8, 42])
    expected = [2030, 2000, 2020, 1000000, 2040, 2050, 2060, 2070, 2080, 2090]
    assert decode_rlev2(data, 10, **U).tolist() == expected


def test_mixed_runs_decode():
    data = bytes([2, 1, 64, 5, 80, 1, 1])
    expected = [1, 1, 1, 1, 1, 0, 1, 0, 1, 0, 0, 1, 1, 1, 1]
    assert decode_rlev2(data, 15, **U).tolist() == expected


def test_fixed_run_short_repeat_decode():
    assert decode_rlev2(bytes([7, 1]), 10, **U).tolist() == [1] * 10


def test_patched_base_java_parity_decode():
    data = bytes([
        144, 109, 4, 164, 141, 16, 131, 194, 0, 240, 112, 64, 60, 84, 24, 3, 193, 201, 128,
        120, 60, 33, 4, 244, 3, 193, 192, 224, 128, 56, 32, 15, 22, 131, 129, 225, 0, 112, 84,
        86, 14, 8, 106, 193, 192, 228, 160, 64, 32, 14, 213, 131, 193, 192, 240, 121, 124, 30,
        18, 9, 132, 67, 0, 224, 120, 60, 28, 14, 32, 132, 65, 192, 240, 160, 56, 61, 91, 7, 3,
        193, 192, 240, 120, 76, 29, 23, 7, 3, 220, 192, 240, 152, 60, 52, 15, 7, 131, 129, 225,
        0, 144, 56, 30, 14, 44, 140, 129, 194, 224, 120, 0, 28, 15, 8, 6, 129, 198, 144, 128,
        104, 36, 27, 11, 38, 131, 33, 48, 224, 152, 60, 111, 6, 183, 3, 112, 0, 1, 78, 5, 46,
        2, 1, 1, 141, 3, 1, 1, 138, 22, 0, 65, 1, 4, 0, 225, 16, 209, 192, 4, 16, 8, 36, 16, 3,
        48, 1, 3, 13, 33, 0, 176, 0, 1, 94, 18, 0, 68, 0, 33, 1, 143, 0, 1, 7, 93, 0, 25, 0, 5,
        0, 2, 0, 4, 0, 1, 0, 1, 0, 2, 0, 16, 0, 1, 11, 150, 0, 3, 0, 1, 0, 1, 99, 157, 0, 1,
        140, 54, 0, 162, 1, 130, 0, 16, 112, 67, 66, 0, 2, 4, 0, 0, 224, 0, 1, 0, 16, 64, 16,
        91, 198, 1, 2, 0, 32, 144, 64, 0, 12, 2, 8, 24, 0, 64, 0, 1, 0, 0, 8, 48, 51, 128, 0,
        2, 12, 16, 32, 32, 71, 128, 19, 76,
    ])
    expected = [
        20, 2, 3, 2, 1, 3, 17, 71, 35, 2, 1, 139, 2, 2, 3, 1783, 475, 2, 1, 1, 3, 1, 3, 2, 32,
        1, 2, 3, 1, 8, 30, 1, 3, 414, 1, 1, 135, 3, 3, 1, 414, 2, 1, 2, 2, 594, 2, 5, 6, 4, 11,
        1, 2, 2, 1, 1, 52, 4, 1, 2, 7, 1, 17, 334, 1, 2, 1, 2, 2, 6, 1, 266, 1, 2, 217, 2, 6,
        2, 13, 2, 2, 1, 2, 3, 5, 1, 2, 1, 7244, 11813, 1, 33, 2, -13, 1, 2, 3, 13, 1, 92, 3,
        13, 5, 14, 9, 141, 12, 6, 15, 25, -1, -1, -1, 23, 1, -1, -1, -71, -2, -1, -1, -1, -1,
        2, 1, 4, 34, 5, 78, 8, 1, 2, 2, 1, 9, 10, 2, 1, 4, 13, 1, 5, 4, 4, 19, 5, -1, -1, -1,
        34, -17, -200, -1, -943, -13, -3, 1, 2, -1, -1, 1, 8, -1, 1483, -2, -1, -1, -12751, -1,
        -1, -1, 66, 1, 3, 8, 131, 14, 5, 1, 2, 2, 1, 1, 8, 1, 1, 2, 1, 5, 9, 2, 3, 112, 13, 2,
        2, 1, 5, 10, 3, 1, 1, 13, 2, 3, 4, 1, 3, 1, 1, 2, 1, 1, 2, 4, 2, 207, 1, 1, 2, 4, 3, 3,
        2, 2, 16,
    ]
    assert decode_rlev2(data, len(expected), **S).tolist() == expected


# --- encode goldens (writer heuristic parity) --------------------------------

def test_short_repeat_encode():
    assert encode_rlev2(np.array([10000] * 5), **U) == bytes([0x0A, 0x27, 0x10])


def test_fixed_run_encode():
    assert encode_rlev2(np.array([1] * 10), **U) == bytes([7, 1])


def test_delta_encode():
    primes = np.array([2, 3, 5, 7, 11, 13, 17, 19, 23, 29])
    assert encode_rlev2(primes, **U) == bytes([0xC6, 0x09, 0x02, 0x02, 0x22, 0x42, 0x42, 0x46])


def test_patched_base_encode_golden():
    # reference writer_test_patched_base (rle_v2/mod.rs:559-572)
    vals = np.array([2030, 2000, 2020, 1000000, 2040, 2050, 2060, 2070, 2080, 2090,
                     2100, 2110, 2120, 2130, 2140, 2150, 2160, 2170, 2180, 2190])
    expected = bytes([0x8E, 0x13, 0x2B, 0x21, 0x07, 0xD0, 0x1E, 0x00, 0x14, 0x70, 0x28, 0x32,
                      0x3C, 0x46, 0x50, 0x5A, 0x64, 0x6E, 0x78, 0x82, 0x8C, 0x96, 0xA0, 0xAA,
                      0xB4, 0xBE, 0xFC, 0xE8])
    assert encode_rlev2(vals, **U) == expected


def test_choose_direct_over_patched_base():
    # reference writer_test_choose_direct_over_patched_base (rle_v2/mod.rs:575-585)
    vals = np.array([0, 7, 6, 4, 5, 7, 0, 5, 6, 1, 4, 6, 5, 5, 3, 6, 7, 31, 17, 3])
    expected = bytes([0x4E, 0x13, 0, 7, 6, 4, 5, 7, 0, 5, 6, 1, 4, 6, 5, 5, 3, 6, 7, 31, 17, 3])
    assert encode_rlev2(vals, **U) == expected


def test_mixed_runs_encode():
    # churny data (mean run < 3): the adaptive writer folds short repeats
    # into one packed DIRECT block — still valid RLEv2, smaller than
    # emitting shortrepeat/fixed runs per 3-repeat (4 bytes vs 7 here)
    vals = np.array([1, 1, 1, 1, 1, 0, 1, 0, 1, 0, 0, 1, 1, 1, 1])
    enc = encode_rlev2(vals, **U)
    assert len(enc) <= 7
    assert decode_rlev2(enc, vals.size, signed=False).tolist() == vals.tolist()
    # run-dominated data still gets fixed-run encodings (golden vectors
    # above pin those bytes)
    runs = np.array([5] * 40 + [9] * 40 + [2] * 40)
    enc2 = encode_rlev2(runs, **U)
    assert len(enc2) <= 16
    assert decode_rlev2(enc2, runs.size, signed=False).tolist() == runs.tolist()


# --- roundtrips ---------------------------------------------------------------

def _roundtrip(vals, signed):
    v = np.array(vals, dtype=np.int64)
    enc = encode_rlev2(v, signed=signed)
    out = decode_rlev2(enc, v.size, signed=signed)
    assert out.tolist() == v.tolist()


def test_roundtrip_edges():
    _roundtrip([], True)
    _roundtrip([0], True)
    _roundtrip([-(2**63), 2**63 - 1, 0, -1, 1], True)
    _roundtrip([2**63 - 1] * 600, True)
    _roundtrip(list(range(5000)), True)          # long monotonic -> delta chunks
    _roundtrip(list(range(5000, 0, -1)), True)   # decreasing delta
    _roundtrip([5, 5, 5, 5, 5], True)
    _roundtrip([-5, -5, -5, -5, -5], True)
    _roundtrip([1, 2, None or 3, 4, 5], True)
    _roundtrip([7] * 3000, False)                # fixed-delta chunking >512


def test_roundtrip_planted_outliers():
    rng = np.random.default_rng(42)
    base = rng.integers(2000, 2200, size=512)
    idx = rng.choice(512, size=20, replace=False)
    base[idx] = rng.integers(10**6, 10**7, size=20)
    _roundtrip(base.tolist(), True)
    _roundtrip(base.tolist(), False)
    # outliers needing >31 patch entries must fall back to DIRECT
    many = rng.integers(0, 100, size=512)
    many[rng.choice(512, size=60, replace=False)] = 10**9
    _roundtrip(many.tolist(), True)


@given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=1000))
@settings(max_examples=60, deadline=None)
def test_roundtrip_random_i64(values):
    _roundtrip(values, True)


@given(st.lists(st.integers(0, 2**63 - 1), min_size=1, max_size=1000))
@settings(max_examples=40, deadline=None)
def test_roundtrip_random_u63(values):
    _roundtrip(values, False)


@given(st.lists(st.integers(-100, 100), min_size=1, max_size=2000))
@settings(max_examples=40, deadline=None)
def test_roundtrip_runny_small(values):
    _roundtrip(values, True)


@given(st.lists(st.sampled_from([0, 1, 5, 5, 5, 1000000]), min_size=1, max_size=2000))
@settings(max_examples=40, deadline=None)
def test_roundtrip_biased_runs(values):
    _roundtrip(values, True)


# --- skip (E19) ----------------------------------------------------------------

@given(st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=1500),
       st.integers(0, 1499))
@settings(max_examples=40, deadline=None)
def test_skip_then_decode_equals_slice(values, skip):
    skip = min(skip, len(values) - 1)
    v = np.array(values, dtype=np.int64)
    enc = encode_rlev2(v, signed=True)
    out = decode_rlev2(enc, v.size - skip, signed=True, skip=skip)
    assert out.tolist() == values[skip:]


def test_skip_across_run_kinds():
    vals = [5] * 8 + list(range(100)) + [7, 1, 9, 2] * 20 + [2000, 2000000] + [3] * 600
    v = np.array(vals, dtype=np.int64)
    enc = encode_rlev2(v, signed=True)
    for skip in (0, 3, 8, 50, 108, 150, 190, 300, 700):
        out = decode_rlev2(enc, len(vals) - skip, signed=True, skip=skip)
        assert out.tolist() == vals[skip:], skip


def test_patched_base_entry_width_rounds_to_fixed_bits():
    """Java/C++ ORC pack the patch list at closestFixedBits(gap+patch):
    a run with gap_width 3 + patch_width 40 = 43 packs at 48. Packing at
    the raw sum silently corrupted every real-ORC interop in both
    directions (code-review r6, differential-tested vs pyarrow's C++
    reader/writer)."""
    import pyarrow as pa
    import pyarrow.orc as paorc

    rng = np.random.default_rng(1)
    v = rng.integers(0, 512, 200).astype(np.int64)
    v[7] = 2**40  # one outlier -> PATCHED_BASE, entry width 43 -> 48
    enc = encode_rlev2(v, signed=True)
    assert np.array_equal(decode_rlev2(enc, v.size, signed=True), v)

    import os
    import tempfile

    from orc_rust_spark.sources.orc_file import orc_to_table, write_orc

    d = tempfile.mkdtemp()
    p = os.path.join(d, "pb.orc")
    write_orc(pa.table({"v": pa.array(v)}), p, compression="none")
    assert paorc.read_table(p).column("v").to_pylist() == v.tolist()

    w = rng.integers(-256, 256, 3000).astype(np.int64)
    w[::517] = 2**50
    p2 = os.path.join(d, "pb2.orc")
    paorc.write_table(pa.table({"v": pa.array(w)}), p2,
                      compression="UNCOMPRESSED")
    assert orc_to_table(p2).column("v").to_pylist() == w.tolist()


def test_patched_base_malformed_stream_raises_value_error():
    """Corrupt patch entries must raise ValueError, not OverflowError /
    IndexError (code-review r6)."""
    rng = np.random.default_rng(3)
    v = rng.integers(0, 512, 200).astype(np.int64)
    v[9] = 2**40
    enc = bytearray(encode_rlev2(v, signed=True))
    assert enc[0] >> 6 == 2  # PATCHED_BASE
    # corrupt the entry's GAP bits (big-endian first byte of the single
    # 48-bit patch entry) so the patch index runs past the run length
    enc[-6] = 0xFF
    with pytest.raises(ValueError):
        decode_rlev2(bytes(enc), v.size, signed=True)


def test_run_extent_n1_delta_consumes_delta_base():
    """Seek parity with _read_delta's old-Hive contract: the delta-base
    varint is present even for a declared run length of 1, so header
    arithmetic must step over it — skipping left next_pos inside the
    varint and the following run parsed as garbage (code-review r7)."""
    import numpy as np

    from orc_rust_spark.codecs.rle_v2 import _run_extent, decode_rlev2

    # delta run n=1 (base 10 zigzag=20, delta-base 0) + a second run
    buf = bytes([0xC0, 0x00, 20, 0]) + bytes([0x0A, 0x00, 0x03])
    n, nxt = _run_extent(buf, 0)
    assert (n, nxt) == (1, 4)
    full = decode_rlev2(buf, 6, signed=True)
    skipped = decode_rlev2(buf, 5, signed=True, skip=1)
    assert np.array_equal(skipped, full[1:])


# --- pinned encoder bytes --------------------------------------------------
#
# The writer's choice of runs, sub-encodings and widths is part of the file
# format we ship: the bytes below were recorded from the run-at-a-time
# encoder this block-batched one replaced, and any change to them changes
# every file the engine writes.

I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def _runs(rng, lengths, lo=-1000, hi=1000):
    """One run per length, adjacent runs always of different values."""
    steps = rng.integers(1, hi - lo, len(lengths))
    vals = lo + np.cumsum(steps) % (hi - lo)
    return np.repeat(vals, lengths)


def _mean_run_case(rng, extra):
    # 1000 runs alternating 1 and 5 values (mean exactly 3), one run
    # shortened or lengthened by one value
    lengths = np.tile([1, 5], 500)
    lengths[1] += extra
    return _runs(rng, lengths)


def _widths_case(rng):
    # one 512-value DIRECT block per aligned width, in one variable span,
    # in an order that makes width groups interleave within a batch
    blocks = []
    for bits in (24, 1, 16, 2, 24, 4, 8, 3, 12, 20, 32, 40, 48, 56, 63, 16, 2):
        blk = rng.integers(0, 1 << bits, 512, dtype=np.int64)
        blk[0] = (1 << bits) - 1  # pin the block's top width
        blocks.append(blk)
    return np.concatenate(blocks)


def _delta_case(rng):
    parts = [
        np.cumsum(rng.integers(1, 100, 600)),                # increasing
        -np.cumsum(rng.integers(1, 1 << 30, 700)),           # decreasing
        np.cumsum(np.r_[1, rng.integers(0, 2, 511)]),        # |delta| <= 1
        -np.cumsum(np.r_[1, rng.integers(0, 2, 100)]),
        np.cumsum(np.r_[0, rng.integers(0, 9, 520)]),        # first delta 0
        np.cumsum(rng.integers(1 << 40, 1 << 41, 513)),
    ]
    # each part its own span (and so starting a block): fixed runs between
    sep = np.full(12, -(10**15))
    return np.concatenate([x for part in parts for x in (part, sep)])


def _fixed_delta_case(rng):
    parts = [np.arange(n) * step + int(rng.integers(-10**6, 10**6))
             for n, step in ((512, 3), (1030, -7), (700, 1), (513, 1 << 33), (5, 2))]
    return np.concatenate(parts)


def _patched_case(rng, outlier_frac, lo, hi, outlier_lo, outlier_hi, n=4096):
    v = rng.integers(lo, hi, n)
    k = max(1, int(n * outlier_frac))
    v[rng.choice(n, k, replace=False)] = rng.integers(outlier_lo, outlier_hi, k)
    return v


def _gap_case(rng):
    # one outlier per 300 values: patch gaps past 255 need jump entries
    v = rng.integers(100, 300, 3000)
    v[7::300] = rng.integers(1 << 30, 1 << 34, v[7::300].size)
    return v


def _percentile_case(rng):
    # blocks whose count of values within one fixed width of the top is
    # at, just above and just below the 90th-percentile allowance
    # int(m * (1 - 0.9)): 51 for m = 512, and 1 and 2 (not 2 and 3) for the
    # tail lengths 20 and 30, which float rounding pulls down
    parts = []
    for m, counts in ((512, (50, 51, 52, 53)), (20, (1, 2, 3)), (30, (2, 3, 4))):
        for c in counts:
            blk = rng.integers(0, 256, m)
            near = rng.choice(m, c, replace=False)
            blk[near] = rng.integers(1 << 18, 1 << 19, c)
            blk[near[0]] = (1 << 19) + int(rng.integers(0, 1 << 18))
            parts += [blk, np.full(12, -1)]
    return np.concatenate(parts)


def _mixed_case(rng):
    lengths = rng.choice([1, 1, 2, 3, 3, 4, 10, 11, 12, 13, 40, 512, 513], 2000)
    v = _runs(rng, lengths, -(10**6), 10**6)[:30001]
    v[rng.integers(0, v.size, 200)] = rng.integers(I64_MIN, I64_MAX, 200)
    return v


ENCODER_CASES = {
    "short_repeats": lambda r: _runs(r, r.integers(3, 11, 400)),
    "fixed_runs_3_10_11_12_512_513": lambda r: _runs(
        r, [3, 10, 11, 12, 512, 513, 514, 515, 1025, 1026, 12, 3]),
    "mean_run_below_3": lambda r: _mean_run_case(r, -1),
    "mean_run_above_3": lambda r: _mean_run_case(r, +1),
    "churny_low_cardinality": lambda r: r.integers(0, 3, 10_000),
    "direct_every_width": _widths_case,
    "delta_monotone": _delta_case,
    "fixed_delta": _fixed_delta_case,
    "patched_base": lambda r: _patched_case(r, 0.02, 2000, 2200, 1 << 20, 1 << 40),
    "patched_base_negative": lambda r: _patched_case(r, 0.01, -5000, -4800, 1 << 36, 1 << 37),
    "patched_gap_over_255": _gap_case,
    "percentile_boundaries": _percentile_case,
    "patched_fallback_many_patches": lambda r: _patched_case(r, 0.08, 0, 100, 10**9, 10**9 + 1),
    "patched_fallback_base_limit": lambda r: _patched_case(r, 0.02, -(1 << 57), -(1 << 57) + 200,
                                                           1 << 40, 1 << 41),
    "patched_fallback_range": lambda r: _patched_case(r, 0.02, -(1 << 40), -(1 << 40) + 300,
                                                      I64_MAX - 100, I64_MAX),
    "span_one_into_block": lambda r: np.concatenate(
        [r.integers(0, 1 << 20, 513), np.full(20, 7), r.integers(0, 1 << 20, 1025),
         np.full(13, -1), r.integers(0, 50, 1)]),
    "short_tails": lambda r: np.concatenate(
        [np.r_[r.integers(0, 1 << 10, n), np.full(12, n)] for n in (1, 2, 3, 4, 5, 11, 511)]),
    "int64_extremes": lambda r: r.choice(np.array([I64_MIN, I64_MAX, 0, -1, 1, I64_MIN + 1]), 3000),
    "unsigned_high": lambda r: (r.integers(0, 1 << 62, 2000).astype(np.uint64)
                                | np.uint64(1 << 63)).view(np.int64),
    "mixed_30001": _mixed_case,
}

# sha256 of encode_rlev2(v, signed=True) + b"|" + encode_rlev2(v, signed=False)
ENCODER_DIGESTS = {
    "churny_low_cardinality":
        "04e0a1bcd2af7851bc92908accdfac8b22c771c28f4520ef84fe7b83382aa5b4",
    "delta_monotone":
        "2c2411c3d5cbef083bc7a627ec911fe9e76692f23fb52a240dfce1a33f1afaa1",
    "direct_every_width":
        "6e2372ed0368d571cdd02f04b24d94088eda74455cc3cfcb6d43a6026b428822",
    "fixed_delta":
        "5b12855b0d711e06259970cf095fec5e0999d097d4b3b74890fab8e8ac5d419b",
    "fixed_runs_3_10_11_12_512_513":
        "0353b3803922c539d8cd850e3ebbb471eb6d70f06ce67519f25e50e60d8a4506",
    "int64_extremes":
        "fe63f000e56d10634a376234253149f7c4961c070293e4d71a22735364d41546",
    "mean_run_above_3":
        "96ab4d3897104ecaf1aa5473704afe8978b964c105826345b76fac185817b1ae",
    "mean_run_below_3":
        "a997dae8f3255725493b390d6b6da29182b1c58244762d6feae4a7a4ee952065",
    "mixed_30001":
        "3f0d83c8cd3bd374f36279d0f9f5c1ea894c15da36804167e9ab671873c20738",
    "patched_base":
        "da3fb50c93a8950062eb89b8806e016608b8fbe567bc073ef7604f047cb3a0c8",
    "patched_base_negative":
        "05104849b1d8bd71f7ecbcb97133c132a31f9e144fe70af68d0b23c17e4455d7",
    "patched_fallback_base_limit":
        "ca66a800cf4b3c2a61b9bcec57658a779015027604c38e588b833cce7622307c",
    "patched_fallback_many_patches":
        "f22121d2c4a81cbbe6fae5542067d4be5203e21bdd1a12d599c42b328b7657fe",
    "patched_fallback_range":
        "8348c446584d7f1a1ff06cabf2cfdd907418fd7e2d6378aa88d9b7c67752c7a6",
    "patched_gap_over_255":
        "586fcd8d35df09c66937ea00b1c3523c19841f26fcb8f8b8bbe5477626fa7d10",
    "percentile_boundaries":
        "2d033d7e081a6e38463c46472bb58a76e896b974acc61c278c66e690d5c63bea",
    "short_repeats":
        "6693a710fc9a4e71a25e3836e95e808e0d6ba4d9cb77e546c6c9154de638f301",
    "short_tails":
        "c94153a0c74c912ef0d4ddeff7cc78781ac553f0aaa55d9b577d3f37527482bb",
    "span_one_into_block":
        "8d77b814c6ff869466fd3df784c13374e2e08f1d0fd982f78236d3a718c90e5b",
    "unsigned_high":
        "3f82bbbee71c5cc89ca0edd59c8ffbf90296e665688ae644bc5831ec572de8fe",
}


def _encoder_case(name):
    rng = np.random.default_rng(zlib.crc32(name.encode()))
    return np.ascontiguousarray(ENCODER_CASES[name](rng), dtype=np.int64)


def _sub_encodings(enc):
    """Sub-encoding of every run in a stream, from the run headers."""
    from orc_rust_spark.codecs.rle_v2 import _run_extent

    names = ["SHORT_REPEAT", "DIRECT", "PATCHED_BASE", "DELTA"]
    kinds, pos = set(), 0
    while pos < len(enc):
        h = enc[pos]
        kind = names[h >> 6]
        if kind == "DELTA" and not (h >> 1) & 0x1F:
            kind = "FIXED_DELTA"
        kinds.add(kind)
        pos = _run_extent(enc, pos)[1]
    return kinds


@pytest.mark.parametrize("name", sorted(ENCODER_CASES))
def test_encoder_bytes_pinned(name):
    import hashlib

    v = _encoder_case(name)
    signed, unsigned = encode_rlev2(v, signed=True), encode_rlev2(v, signed=False)
    for enc, s in ((signed, True), (unsigned, False)):
        assert np.array_equal(decode_rlev2(enc, v.size, signed=s), v)
    assert hashlib.sha256(signed + b"|" + unsigned).hexdigest() == ENCODER_DIGESTS[name]


def test_encoder_corpus_covers_every_sub_encoding():
    kinds = {name: _sub_encodings(encode_rlev2(_encoder_case(name), signed=True))
             for name in ENCODER_CASES}
    assert set().union(*kinds.values()) == {
        "SHORT_REPEAT", "DIRECT", "PATCHED_BASE", "DELTA", "FIXED_DELTA"}
    for name in ("patched_base", "patched_base_negative", "patched_gap_over_255"):
        assert "PATCHED_BASE" in kinds[name], name
    # each fallback case is a PATCHED_BASE candidate written DIRECT
    for name in ("patched_fallback_many_patches", "patched_fallback_base_limit",
                 "patched_fallback_range"):
        assert kinds[name] == {"DIRECT"}, name
    assert kinds["percentile_boundaries"] >= {"DIRECT", "PATCHED_BASE"}
    assert "DELTA" in kinds["delta_monotone"]
    assert "FIXED_DELTA" in kinds["fixed_delta"]


def _lineitem_like(seed, n_rows):
    """Lineitem-shaped columns: shuffled order keys four lines each, random
    part/supplier keys, line numbers, low-cardinality flags and a
    day-granular ship date."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    perm = rng.permutation(n_rows)
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2498, n_rows).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": (1 << 17) + perm // 4 * 4,
        "l_partkey": rng.integers(0, 20_000, n_rows),
        "l_linenumber": (perm % 4 + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        "l_returnflag": pa.array(np.array(["R", "A", "N"], dtype=object)[rng.integers(0, 3, n_rows)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


ORC_FILE_DIGEST = "1b58f98269e13a2e5d305350b6d967dde9b17e7add9c22b2218f66b2c44775fb"
#: the stripes alone (everything before the file tail)
ORC_STRIPES_DIGEST = "41e838ef32327567ddd2531befaa0b00b76a3b15b09edc7495793d9afc5adc76"


def test_write_orc_bytes_pinned(tmp_path):
    """An uncompressed file, so the digests pin the writer's RLEv2 streams
    (and the rest of its layout), not a compression library. The stripes
    have their own digest, so a change to the tail alone (such as the
    Footer's softwareVersion) shows as one."""
    import hashlib

    from orc_rust_spark.sources.orc_file import (orc_to_table, read_metadata,
                                                 write_orc)

    table = _lineitem_like(3, 25_000)
    path = tmp_path / "lineitem.orc"
    write_orc(table, str(path), compression="none", bloom_columns=["l_orderkey"])
    assert orc_to_table(str(path)).cast(table.schema).equals(table)
    data = path.read_bytes()
    end = 3 + sum(st.index_length + st.data_length + st.footer_length
                  for st in read_metadata(str(path)).stripes)
    assert hashlib.sha256(data[:end]).hexdigest() == ORC_STRIPES_DIGEST
    assert hashlib.sha256(data).hexdigest() == ORC_FILE_DIGEST


# --- block-batched reader ----------------------------------------------------
#
# The reader walks the run headers once and decodes runs of one shape
# together, so these tests aim at shapes that meet across the stream:
# consecutive runs (a strided view of the buffer), the same shape with
# other runs between (copied rows), a group that ends the buffer, and
# every skip position relative to a run.

def _run_bounds(enc):
    """The value offset at which each run starts, then the value count."""
    from orc_rust_spark.codecs.rle_v2 import _run_extent

    bounds, pos, got = [], 0, 0
    while pos < len(enc):
        bounds.append(got)
        count, pos = _run_extent(enc, pos)
        got += count
    return bounds + [got]


def _direct_run(u, width):
    """A DIRECT run at any fixed width; the writer only emits aligned ones."""
    from orc_rust_spark.codecs.util import bitpack, encode_bit_width

    n = len(u)
    head = bytes((0x40 | encode_bit_width(width) << 1 | (n - 1) >> 8, (n - 1) & 0xFF))
    return head + bitpack(u, width)


def _mixed_corpus(signed):
    """-> (values, one stream holding every sub-encoding): pieces of the
    encoder cases, then hand-made DIRECT runs at unaligned widths, two of
    one shape adjacent, one shape split by another run, and three adjacent
    runs that end the stream."""
    from orc_rust_spark.codecs.util import zigzag_decode

    vals, encs = [], []
    for name in ("short_repeats", "fixed_delta", "delta_monotone", "patched_base",
                 "mixed_30001", "direct_every_width"):
        v = _encoder_case(name)[:700]
        vals.append(v)
        encs.append(encode_rlev2(v, signed=signed))
    rng = np.random.default_rng(5)
    for width, n in ((3, 512), (3, 512), (26, 100), (5, 7), (26, 100),
                     (17, 300), (17, 300), (17, 300)):
        u = rng.integers(0, 1 << width, n, dtype=np.int64).astype(np.uint64)
        vals.append(zigzag_decode(u) if signed else u.view(np.int64))
        encs.append(_direct_run(u, width))
    return np.concatenate(vals), b"".join(encs)


def _skips(bounds, rng, picks=15):
    """Skip 0, skips on run boundaries and one value either side of them,
    and mid-run skips, over a sample of the runs."""
    runs = list(zip(bounds, bounds[1:]))
    if len(runs) > picks:
        runs = [runs[i] for i in sorted(rng.choice(len(runs), picks, replace=False))]
    out = {0, bounds[-1] - 1}
    for a, b in runs:
        out |= {a - 1, a, a + 1, (a + b) // 2, b - 1}
    return sorted(s for s in out if 0 <= s < bounds[-1])


def test_mixed_corpus_covers_every_sub_encoding():
    for signed in (True, False):
        v, enc = _mixed_corpus(signed)
        assert _sub_encodings(enc) == {
            "SHORT_REPEAT", "DIRECT", "PATCHED_BASE", "DELTA", "FIXED_DELTA"}
        assert np.array_equal(decode_rlev2(enc, v.size, signed=signed), v)


def _near_block_multiples():
    """Streams 512 * k + {-1, 0, 1} values long, of runs and noise mixed so
    that every block length and sub-encoding meets batch edges."""
    rng = np.random.default_rng(11)
    out = []
    for k in (1, 3, 4, 5, 31, 32, 33):
        for d in (-1, 0, 1):
            n = 512 * k + d
            lengths = rng.choice([1, 1, 2, 3, 12, 40, 300, 600], n)
            v = _runs(rng, lengths, -(10**5), 10**5)[:n]
            v[rng.integers(0, n, max(1, n // 50))] = rng.integers(1 << 30, 1 << 40)
            out.append(v)
    return out


@pytest.mark.parametrize("name", sorted(ENCODER_CASES) + ["<mixed>", "<near 512k>"])
def test_encoder_bytes_do_not_depend_on_batch_size(name):
    """The selector batch cap (rle_v2.BATCH_VALUES for the chunk encoder,
    FILE_BATCH_VALUES for the ORC writer) changes no byte: caps of 1, 4
    and 32 blocks and one larger than any stream."""
    from orc_rust_spark.codecs.rle_v2 import (BATCH_VALUES, FILE_BATCH_VALUES,
                                              MAX_RUN_LENGTH)

    assert (BATCH_VALUES, FILE_BATCH_VALUES) == (4 * 512, 32 * 512)
    caps = (MAX_RUN_LENGTH, BATCH_VALUES, FILE_BATCH_VALUES, 1 << 40)
    if name == "<mixed>":
        streams = [_mixed_corpus(s)[0] for s in (True, False)]
    elif name == "<near 512k>":
        streams = _near_block_multiples()
    else:
        streams = [_encoder_case(name)]
    for v in streams:
        for signed in (True, False):
            want = encode_rlev2(v, signed=signed)
            for cap in caps:
                assert encode_rlev2(v, signed=signed, batch_values=cap) == want, cap


def _delta_shapes(signed):
    """-> (values, stream) of DELTA runs the encoder does not write: one
    value under a width code (old Hive writers), two values under a width
    code, a fixed run with a negative delta, and a fixed run that wraps
    past the int64 range (for unsigned values: across 2**63)."""
    from orc_rust_spark.codecs.rle_v2 import _delta_head
    from orc_rust_spark.codecs.util import zigzag_encode_scalar

    def u(v):
        return zigzag_encode_scalar(v) if signed else v & (2**64 - 1)

    wrap = (np.arange(6, dtype=np.uint64) + np.uint64(I64_MAX - 2)).view(np.int64)
    runs = [
        ([-3], _delta_head(1, 2, u(-3), 0)),
        ([7, 4], _delta_head(2, 2, u(7), -3)),
        ([100 - 7 * i for i in range(12)], _delta_head(12, 0, u(100), -7)),
        (wrap.tolist(), _delta_head(6, 0, u(I64_MAX - 2), 1)),
        ([I64_MIN, I64_MIN + 5], _delta_head(2, 4, u(I64_MIN), 5)),
    ]
    return (np.array([x for vals, _ in runs for x in vals], dtype=np.int64),
            b"".join(enc for _, enc in runs))


def _rle_case(name, signed):
    """-> (values, stream) of an encoder case, the mixed corpus or the
    DELTA shapes."""
    if name == "<mixed>":
        return _mixed_corpus(signed)
    if name == "<delta shapes>":
        return _delta_shapes(signed)
    v = _encoder_case(name)
    return v, encode_rlev2(v, signed=signed)


@pytest.mark.parametrize("signed", [True, False])
@pytest.mark.parametrize("name", sorted(ENCODER_CASES) + ["<mixed>", "<delta shapes>"])
def test_reader_skip_and_partial_reads_equal_slices(name, signed):
    v, enc = _rle_case(name, signed)
    bounds = _run_bounds(enc)
    assert bounds[-1] == v.size
    rng = np.random.default_rng(zlib.crc32(name.encode()) + signed)
    for skip in _skips(bounds, rng):
        got = decode_rlev2(enc, v.size - skip, signed=signed, skip=skip)
        assert np.array_equal(got, v[skip:]), skip
        for n in (1, 2, 7, 513, 1500):
            got = decode_rlev2(enc, min(n, v.size - skip), signed=signed,
                               skip=skip, exact=False)
            assert np.array_equal(got, v[skip:skip + n]), (skip, n)


def _narrow_corpus(signed):
    """-> (values, stream, expected narrow dtype) per aligned DIRECT width
    of at most 32 bits, which the reader unpacks and un-zigzags in the
    width's own dtype: runs at the width's extreme values around a short
    repeat of the extreme that fits the same narrow dtype, and around one
    of the value one past it, which needs the next wider dtype."""
    from orc_rust_spark.codecs.rle_v2 import _short_repeat
    from orc_rust_spark.codecs.util import zigzag_decode, zigzag_encode_scalar

    rng = np.random.default_rng(17)
    out = []
    for width in (1, 2, 4, 8, 16, 24, 32):
        u = rng.integers(0, 1 << width, 700, dtype=np.int64).astype(np.uint64)
        u[:2] = 0, (1 << width) - 1
        vals = zigzag_decode(u) if signed else u.view(np.int64)
        bits = 8 if width <= 8 else 16 if width <= 16 else 32
        extreme = -(1 << (bits - 1)) if signed else (1 << bits) - 1
        for past, wide in ((0, bits), (1, 2 * bits if bits < 32 else 64)):
            value = extreme - past if signed else extreme + past
            rep = zigzag_encode_scalar(value) if signed else value
            enc = (_direct_run(u[:512], width) + _short_repeat(rep, 5)
                   + _direct_run(u[512:], width))
            dtype = np.dtype(f"{'i' if signed else 'u'}{wide // 8}")
            out.append((np.concatenate([vals[:512], np.full(5, value), vals[512:]]), enc,
                        np.dtype(np.int64) if wide == 64 else dtype))
    return out


@pytest.mark.parametrize("signed", [True, False])
@pytest.mark.parametrize("name", sorted(ENCODER_CASES) + ["<mixed>", "<narrow>"])
def test_reader_narrow_keeps_every_value(name, signed):
    """Every value decodes exact as int64, whole and from a skip, and
    decode_rlev2's ``narrow`` changes only the dtype: the narrowest of 8,
    16 and 32 bits (signed like the stream) that the runs prove, where
    every run decoded is DIRECT or SHORT_REPEAT, and int64 otherwise."""
    if name == "<narrow>":
        cases = _narrow_corpus(signed)
    elif name == "<mixed>":
        cases = [(*_mixed_corpus(signed), np.dtype(np.int64))]
    else:
        v = _encoder_case(name)
        cases = [(v, encode_rlev2(v, signed=signed), None)]
    for v, enc, dtype in cases:
        for skip in (0, 1, v.size // 2):
            got = decode_rlev2(enc, v.size - skip, signed=signed, skip=skip)
            assert got.dtype == np.int64 and np.array_equal(got, v[skip:]), skip
            got = decode_rlev2(enc, v.size - skip, signed=signed, skip=skip, narrow=True)
            assert np.array_equal(got.astype(np.int64), v[skip:]), skip
            if dtype is not None and skip == 0:
                assert got.dtype == dtype, got.dtype


def test_reader_count_mismatch_raises_value_error():
    """exact=True: a count that ends inside a run is a mismatch; one on a
    run boundary reads the runs before it."""
    v, enc = _mixed_corpus(True)
    bounds = _run_bounds(enc)
    b = bounds[len(bounds) // 2]
    assert np.array_equal(decode_rlev2(enc, b, signed=True), v[:b])
    with pytest.raises(ValueError, match="expected"):
        decode_rlev2(enc, b + 1, signed=True)
    assert np.array_equal(decode_rlev2(enc, b - 1, signed=True, exact=False), v[:b - 1])


@pytest.mark.parametrize("signed", [True, False])
def test_reader_truncated_stream_raises_corrupt_stream(signed):
    """A stream cut at any byte raises CorruptStream (a ValueError), never
    IndexError or a bare NumPy error: on the full read, and on a read that
    skips half the values first."""
    from orc_rust_spark.codecs.util import CorruptStream

    v, enc = _mixed_corpus(signed)
    half = v.size // 2
    for cut in range(len(enc)):
        with pytest.raises(CorruptStream):
            decode_rlev2(enc[:cut], v.size, signed=signed)
        with pytest.raises(CorruptStream):
            decode_rlev2(enc[:cut], v.size - half, signed=signed, skip=half,
                         exact=False)


def test_walker_cases_cover_every_shape():
    """The reader cases hold every sub-encoding, the DELTA shapes the
    encoder never writes, int64 extremes and unsigned values >= 2**63."""
    kinds = set()
    for name in list(ENCODER_CASES) + ["<mixed>"]:
        kinds |= _sub_encodings(_rle_case(name, True)[1])
    assert kinds == {"SHORT_REPEAT", "DIRECT", "PATCHED_BASE", "DELTA", "FIXED_DELTA"}
    v, enc = _delta_shapes(False)
    assert _run_bounds(enc) == [0, 1, 3, 15, 21, 23]
    assert v.min() == I64_MIN and v.max() == I64_MAX
    assert (_rle_case("unsigned_high", False)[0] < 0).all()  # >= 2**63 as uint64

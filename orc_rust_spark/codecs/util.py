"""Low-level integer utilities shared by the RLE codecs.

Implements, vectorized in NumPy, the primitives of the ORC v1 run-length
encodings (public Apache ORC specification):

- zigzag encode/decode            (reference parity: src/encoding/integer/util.rs:475-520)
- unsigned LEB128 varint r/w      (util.rs:522-581)
- big-endian bit-pack/unpack      (util.rs:44-362)
- 5-bit width codes + closest-fixed-bits + aligned widths (util.rs:370-472)
- percentile bit widths (util.rs:584-610)

All array kernels take/return NumPy arrays. The ``*_rows`` kernels work on
a ``(k, m)`` matrix with one RLEv2 block per row, so the RLEv2 writer
selects and packs a whole batch of blocks per NumPy call, and the reader
unpacks a batch of same-shape runs per call (``bitunpack_rows`` takes a
strided view of the stream, one run per row); no Python loop here runs
over values.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
I64 = np.int64


class CorruptStream(ValueError):
    """A stream is shorter than its own header/metadata promised.

    Distinct type so the stripe-decode corruption guard can wrap it into
    the documented ``ValueError("corrupt ORC stripe ...")`` contract — a
    bare builtins ValueError from np.frombuffer is indistinguishable from
    the engine's own diagnostics (code-review r7)."""


def frombuffer_exact(buf, dtype, count: int, offset: int = 0) -> np.ndarray:
    """np.frombuffer that raises CorruptStream (not numpy's builtins
    ValueError) when ``buf`` is too short for ``count`` items."""
    dt = np.dtype(dtype)
    need = offset + count * dt.itemsize
    if len(buf) < need:
        raise CorruptStream(
            f"truncated stream: need {need} bytes for {count} x {dt}, "
            f"have {len(buf)}")
    return np.frombuffer(buf, dtype=dt, count=count, offset=offset)

# --- zigzag ---------------------------------------------------------------


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """(v << 1) ^ (v >> 63) with int64 wraparound semantics."""
    v = values.astype(np.int64, copy=False)
    z = v << np.int64(1)
    z ^= v >> np.int64(63)
    return z.view(np.uint64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    """(u >> 1) ^ -(u & 1), the negation wrapping in the unsigned dtype:
    int64 from uint64 (or any other dtype), and from a narrower unsigned
    array the signed integers of its width."""
    if values.dtype.kind != "u" or values.dtype == np.uint64:
        values = values.astype(np.uint64, copy=False)
    one = values.dtype.type(1)
    sign = values & one
    np.negative(sign, out=sign)
    out = values >> one
    out ^= sign
    return out.view(values.dtype.str.replace("u", "i"))


def zigzag_encode_scalar(v: int) -> int:
    v &= (1 << 64) - 1
    sv = v - (1 << 64) if v >= 1 << 63 else v
    return ((sv << 1) ^ (sv >> 63)) & ((1 << 64) - 1)


def zigzag_decode_scalar(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# --- varint (unsigned LEB128) ----------------------------------------------


def write_varint(value: int) -> bytes:
    """Unsigned base-128 varint of a Python int (0 <= value < 2**64)."""
    if value < 0:
        raise ValueError("varint value must be non-negative")
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_varint(buf, pos: int) -> tuple[int, int]:
    """Read one unsigned varint from ``buf`` at ``pos`` -> (value, new_pos)."""
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def write_signed_varint(value: int) -> bytes:
    """Zigzag + varint (ORC 'signed varint')."""
    return write_varint(zigzag_encode_scalar(value))


def read_signed_varint(buf, pos: int) -> tuple[int, int]:
    u, pos = read_varint(buf, pos)
    return zigzag_decode_scalar(u), pos


# --- bit widths -------------------------------------------------------------

# ORC FixedBitSizes: 1..24, 26, 28, 30, 32, 40, 48, 56, 64 (32 entries).
_FIXED_BITS = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]
# width -> 5-bit code (code i encodes width _FIXED_BITS[i])
_WIDTH_TO_CODE = {w: i for i, w in enumerate(_FIXED_BITS)}
# aligned widths used by DIRECT packing
_ALIGNED = np.array([1, 2, 4, 8, 16, 24, 32, 40, 48, 56, 64], dtype=np.int64)


# 0..64 -> rounded-up size, as plain-int lookup tables for the scalar
# helpers and as arrays for the row-wise kernels
_FIXED_LUT = [1] + [
    next(w for w in _FIXED_BITS if w >= n) for n in range(1, 65)
]
_ALIGNED_LUT = [1] + [
    next(int(w) for w in _ALIGNED.tolist() if w >= n) for n in range(1, 65)
]
_FIXED_LUT_ARR = np.array(_FIXED_LUT, dtype=np.int64)
_ALIGNED_LUT_ARR = np.array(_ALIGNED_LUT, dtype=np.int64)


def closest_fixed_bits(n: int) -> int:
    """Round a bit width up to the nearest ORC fixed-bit size (min 1)."""
    if n <= 1:
        return 1
    return _FIXED_LUT[n]


def closest_aligned_bits(n: int) -> int:
    """Round a bit width up to the nearest byte-aligned-friendly size."""
    if n <= 1:
        return 1
    return _ALIGNED_LUT[n]


def closest_aligned_bits_array(n: np.ndarray) -> np.ndarray:
    """:func:`closest_aligned_bits` of each element of an int array."""
    return _ALIGNED_LUT_ARR[n]


def encode_bit_width(width: int) -> int:
    """Width -> 5-bit header code (width must be a fixed-bit size)."""
    return _WIDTH_TO_CODE[closest_fixed_bits(width)]


def decode_bit_width(code: int) -> int:
    """5-bit header code -> width."""
    return _FIXED_BITS[code]


_POW2_U64 = (np.uint64(1) << np.arange(64, dtype=np.uint64))


def bits_required(values: np.ndarray) -> np.ndarray:
    """Per-element minimal bit width of uint64 values (0 -> 1), exact.

    One binary search per element against the 64 powers of two
    (``bit_length(u)`` = count of powers <= u) — exact across the full
    64-bit range (float log2 would not be above 2**53) and a single
    numpy call.
    """
    u = np.ascontiguousarray(values, dtype=np.uint64)
    if u.size == 0:
        return np.zeros(0, dtype=np.int64)
    return np.maximum(
        np.searchsorted(_POW2_U64, u, side="right"), 1
    ).astype(np.int64)


def bits_required_scalar(v: int) -> int:
    return max(1, int(v).bit_length())


def percentile_bits(values_u64: np.ndarray, p: float) -> int:
    """Smallest fixed-bit width covering the p-th percentile of widths
    (see :func:`percentile_bits_rows`)."""
    if values_u64.size == 0:
        return 1
    return int(percentile_bits_rows(values_u64.reshape(1, -1), p)[0])


def percentile_bits_rows(rows_u64: np.ndarray, p: float) -> np.ndarray:
    """:func:`percentile_bits` of every row of a ``(k, m)`` uint64 matrix.

    The ORC writer rounds each value's width up to a fixed-bit size, then
    walks that histogram from the widest bucket down, subtracting counts
    from the allowance ``int(m * (1 - p))``; the first bucket that
    overdraws is the answer. That bucket is the one holding the
    allowance-th largest value (0-based), because the fixed-bit rounding
    of a width is monotone in the value: so one ``np.partition`` per batch
    gives the answer with no per-value width pass.
    """
    m = rows_u64.shape[1]
    allowance = int(m * (1.0 - p))
    if allowance == 0:
        kth = rows_u64.max(axis=1)
    else:
        pos = m - 1 - allowance
        kth = np.partition(rows_u64, pos, axis=1)[:, pos]
    return _FIXED_LUT_ARR[bits_required(kth)]


# --- big-endian bit packing --------------------------------------------------


def bitpack(values: np.ndarray, width: int) -> bytes:
    """Pack uint64 values MSB-first at ``width`` bits each, zero-padded tail."""
    if width == 0 or values.size == 0:
        return b""
    u = np.ascontiguousarray(values, dtype=np.uint64)
    if width in (1, 2, 4) or width % 8 == 0:
        return bitpack_rows(u.reshape(1, -1), width).tobytes()
    # other widths: full 64-bit big-endian bit matrix, slice low `width` bits
    bits = np.unpackbits(u.view(np.uint8).reshape(-1, 8)[:, ::-1], axis=1)
    return np.packbits(bits[:, 64 - width :]).tobytes()


def bitpack_rows(rows_u64: np.ndarray, width: int) -> np.ndarray:
    """Pack each row of a ``(k, m)`` uint64 matrix MSB-first at an aligned
    ``width`` (1, 2, 4 or a multiple of 8), every row zero-padded to whole
    bytes: -> ``(k, ceil(m * width / 8))`` uint8. Row r equals
    ``bitpack(rows_u64[r], width)``."""
    k, m = rows_u64.shape
    if width % 8 == 0:
        nbytes = width // 8
        if nbytes in (1, 2, 4, 8):
            be = rows_u64.astype(f">u{nbytes}")
            return be.view(np.uint8).reshape(k, m * nbytes)
        # 3, 5, 6, 7 bytes: one strided byte plane at a time
        out = np.empty((k, m, nbytes), dtype=np.uint8)
        for j in range(nbytes):
            out[:, :, j] = rows_u64 >> U64(8 * (nbytes - 1 - j))
        return out.reshape(k, m * nbytes)
    small = rows_u64.astype(np.uint8)
    if width == 1:
        return np.packbits(small, axis=1)
    per = 8 // width  # values per byte: 4 at width 2, 2 at width 4
    pad = -m % per
    if pad:
        small = np.concatenate((small, np.zeros((k, pad), dtype=np.uint8)), axis=1)
    packed = small[:, 0::per] << np.uint8(8 - width)
    for j in range(1, per):
        packed |= small[:, j::per] << np.uint8(8 - width * (j + 1))
    return packed


_BIG_ENDIAN = {n: np.dtype(f">u{n}") for n in (1, 2, 4, 8)}


def bitunpack(buf, n: int, width: int) -> np.ndarray:
    """Unpack ``n`` uint64 values packed MSB-first at ``width`` bits each."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    raw = frombuffer_exact(buf, np.uint8, (n * width + 7) // 8)
    return bitunpack_rows(raw.reshape(1, -1), n, width)[0]


def bitunpack_rows(mat: np.ndarray, m: int, width: int, narrow: bool = False) -> np.ndarray:
    """Unpack each row of a ``(k, ceil(m * width / 8))`` uint8 matrix into
    m uint64 values packed MSB-first at ``width`` bits: -> ``(k, m)``
    uint64. The inverse of :func:`bitpack_rows`. ``mat`` may be a strided
    view (one packed run per row, rows anywhere in a stream) as long as
    each row's bytes are contiguous. With ``narrow`` the values come in
    the narrowest native unsigned dtype that holds ``width`` bits where
    one of the aligned paths below reads them (at most 32 bits), and as
    uint64 otherwise.

    Aligned widths take byte views (1, 2, 4 or 8 bytes), overlapping
    4-byte words (3 bytes), byte planes (5, 6 or 7 bytes), shift folds (2
    and 4 bits) or ``unpackbits`` (1 bit). The other widths go through a
    64-column bit matrix: liborc writes DIRECT runs at them, and
    PATCHED_BASE values and patch lists use them too."""
    k = mat.shape[0]
    if width % 8 == 0:
        nbytes = width // 8
        raw = mat[:, : m * nbytes]
        if nbytes in _BIG_ENDIAN:
            out = raw.view(_BIG_ENDIAN[nbytes])
            return out.astype(out.dtype.newbyteorder("=") if narrow else np.uint64)
        if nbytes == 3:
            # value i is the top 3 bytes of the big-endian word at byte 3i
            # of a row copied with one byte of padding
            full = np.zeros((k, m * 3 + 1), dtype=np.uint8)
            full[:, : m * 3] = raw
            words = np.ndarray((k, m), dtype=">u4", buffer=full,
                               strides=(full.strides[0], 3))
            return (words >> np.uint32(8)).astype(np.uint32 if narrow else np.uint64)
        # 5, 6, 7 bytes: right-align each value in an 8-byte word
        full = np.zeros((k, m, 8), dtype=np.uint8)
        full[:, :, 8 - nbytes :] = raw.reshape(k, m, nbytes)
        return full.view(">u8").reshape(k, m).astype(np.uint64)
    if width == 1:
        out = np.unpackbits(mat, axis=1, count=m)
        return out if narrow else out.astype(np.uint64)
    if width in (2, 4):
        per = 8 // width  # values per byte, the first in the high bits
        out = np.empty((k, mat.shape[1], per), dtype=np.uint8)
        for j in range(per):
            np.right_shift(mat, np.uint8(8 - width * (j + 1)), out=out[:, :, j])
        out &= np.uint8((1 << width) - 1)
        out = out.reshape(k, -1)[:, :m]
        return out if narrow else out.astype(np.uint64)
    bits = np.unpackbits(mat, axis=1)[:, : m * width].reshape(k * m, width)
    full = np.zeros((k * m, 64), dtype=np.uint8)
    full[:, 64 - width :] = bits
    return np.packbits(full, axis=1)[:, ::-1].copy().view(np.uint64).reshape(k, m)


def int32_offsets(lengths) -> "pa.Array":
    """Arrow int32 offsets buffer from per-value lengths (shared by the
    chunk decoder and the real-ORC reader's list/map assembly)."""
    import pyarrow as pa

    lengths = np.asarray(lengths, dtype=np.int64)
    total = int(lengths.sum()) if lengths.size else 0
    if total > 2**31 - 1:
        raise OverflowError("list child count exceeds int32 offsets")
    offsets = np.zeros(lengths.size + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.array(offsets, type=pa.int32())


def split_binary(flat, lengths: np.ndarray) -> "pa.LargeBinaryArray":
    """Arrow large_binary array over ``flat`` (any bytes-like object)
    cut at per-value ``lengths``, shared by the chunk decoder and the
    real-ORC reader. The values buffer wraps ``flat`` without a copy: the
    chunk decoder passes zero-copy memoryviews of uncompressed streams."""
    import pyarrow as pa

    offsets = np.zeros(lengths.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), lengths.size,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(flat)],
    )


def respace(dense: "pa.Array", not_null: np.ndarray | None) -> "pa.Array":
    """Scatter a dense array into its null slots via a null-propagating
    take; ``not_null`` None (no PRESENT stream) returns ``dense``."""
    import pyarrow as pa

    if not_null is None:
        return dense
    idx = np.zeros(not_null.shape[0], dtype=np.int64)
    idx[not_null] = np.arange(int(not_null.sum()))
    return dense.take(pa.array(idx, type=pa.int64(), mask=~not_null))

"""ORC timestamp split encoding: DATA = seconds since the ORC epoch
(2015-01-01 UTC), SECONDARY = nanoseconds with the trailing-zero trick.

Trailing-zero trick (ORC v1 spec): if the nanosecond value has >= 2 trailing
decimal zeros, ``removed`` (2..8) zeros are stripped and the low 3 bits store
``removed - 1``; otherwise the low 3 bits are 0 and nothing is stripped.

Below-epoch values (r7, liborc writer parity measured on real files):
seconds truncate TOWARD ZERO and the sub-second remainder is stored
SIGNED (same sign as the value) — e.g. -1 us is (secs=0, nanos=-1000).
This is what C++ liborc writes, it round-trips every value exactly
(including the (-1s, 0) range where the floor+ORC-763 convention we used
through r6 decoded +1s off), and every reader that decodes nanos with
arithmetic shifts recovers it through plain modular arithmetic.

The DECODER additionally honors the Java/ORC-763 convention for foreign
files: stored seconds < 0 with nanos > 999_999 adjust seconds - 1
(reference parity: src/encoding/timestamp.rs:121-151;
src/array_decoder/timestamp.rs:51 for the epoch constant). The two
conventions are disjoint on the wire — trunc-written files never pair
negative seconds with positive nanos — so both decode exactly.
"""

from __future__ import annotations

import numpy as np

from .rle_v2 import decode_rlev2, encode_rlev2

NANOS_PER_SECOND = 1_000_000_000
# seconds from 1970-01-01 to 2015-01-01 UTC
ORC_EPOCH_SECONDS = 1_420_070_400


def _trunc_div(ts: np.ndarray, unit: int) -> tuple[np.ndarray, np.ndarray]:
    """(value // unit, value % unit) with C-style truncation toward zero
    (signed remainder) — liborc's writer split, exact for every input."""
    rem = np.fmod(ts, np.int64(unit))
    # ts - rem is a multiple of unit (and cannot overflow: rem has ts'
    # sign), so the floor division is exact
    return (ts - rem) // np.int64(unit), rem


#: ticks per second of each Arrow timestamp unit
TICKS_PER_SECOND = {"s": 1, "ms": 1_000, "us": 1_000_000, "ns": NANOS_PER_SECOND}


def split_timestamp(ticks: np.ndarray, unit: str) -> tuple[np.ndarray, np.ndarray]:
    """int64 ticks of Arrow timestamp ``unit`` ("s", "ms", "us" or "ns")
    since the unix epoch -> (orc_seconds, encoded_nanos), exact for every
    unit and value: ORC's seconds+nanos have no int64 range limit, so no
    unit is scaled to another first."""
    per = TICKS_PER_SECOND[unit]
    ts = np.ascontiguousarray(ticks, dtype=np.int64)
    secs, rem = _trunc_div(ts, per)
    return _pack_secs_nanos(secs, rem * (NANOS_PER_SECOND // per))  # nanos in (-1e9, 1e9)


def split_timestamp_ns(ts_ns: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """int64 nanos-since-unix-epoch -> (orc_seconds, encoded_nanos)."""
    return split_timestamp(ts_ns, "ns")


def split_timestamp_us(ts_us: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """int64 MICROS-since-unix-epoch -> (orc_seconds, encoded_nanos).

    The ns-space API caps out at ~year 2262 (us * 1000 wraps int64 —
    code-review r6); ORC's seconds+nanos representation has no such
    limit, so Spark's us-precision timestamps split directly."""
    return split_timestamp(ts_us, "us")


# nanosecond multiplier by the 3-bit zeros code: code z > 0 means z + 1
# zeros were stripped
_ZEROS_MULT = np.array([1] + [10**(z + 1) for z in range(1, 8)], dtype=np.int64)


def _pack_secs_nanos(secs: np.ndarray, nanos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    stored_secs = secs - ORC_EPOCH_SECONDS

    # trailing decimal zero stripping, over the nonzero nanos only: count
    # their trailing zeros (at most 8, as |nanos| < 1e9) by an 8/4/2/1
    # cascade and strip them where there are at least 2. Works unchanged
    # for SIGNED nanos (liborc convention): an exact multiple has
    # remainder 0 under floored mod too, x << 3 keeps the low 3 bits clear
    # in two's complement, and | sets the zeros code.
    enc = nanos << np.int64(3)
    nz = np.flatnonzero(nanos)
    if nz.size:
        x = nanos[nz]
        zeros = np.zeros_like(x)
        for r in (8, 4, 2, 1):
            p = np.int64(10**r)
            hit = x % p == 0
            x[hit] //= p
            zeros[hit] += r
        strip = zeros >= 2
        enc[nz[strip]] = (x[strip] << np.int64(3)) | (zeros[strip] - 1)
    return stored_secs, enc


_THREE, _LOW3, _EPOCH = np.int64(3), np.int64(0x7), np.int64(ORC_EPOCH_SECONDS)
_US, _US_SPAN, _US_MAX = np.int64(1000), np.int64(999_999), np.uint64(1_999_998)


def _unpack_secs_nanos(stored_secs: np.ndarray, enc_nanos: np.ndarray):
    nanos = (enc_nanos >> _THREE) * _ZEROS_MULT[enc_nanos & _LOW3]
    secs = stored_secs + _EPOCH
    neg = secs < 0
    if np.count_nonzero(neg):
        # Java/ORC-763: a negative second with a positive sub-second is
        # one second early (int64 minus bool)
        secs -= neg & (nanos > 999_999)
    return secs, nanos


def combine_timestamp_ns(stored_secs: np.ndarray, enc_nanos: np.ndarray) -> np.ndarray:
    """(orc_seconds, encoded_nanos) -> int64 nanos since unix epoch.

    Raises on values outside the int64-ns range (~1677-2262): the multiply
    would otherwise wrap silently, the exact corruption the us-space
    combine was fixed to avoid (code-review r6/r7). The bound is
    conservative by one second at each end."""
    secs, nanos = _unpack_secs_nanos(stored_secs, enc_nanos)
    _check_nanos_range(nanos)
    lim = np.iinfo(np.int64).max // NANOS_PER_SECOND  # 9_223_372_036
    # strict > -lim on the low side: secs == -lim with a negative signed
    # sub-second (liborc convention) would still underflow the multiply
    if secs.size and (int(secs.min()) <= -lim or int(secs.max()) >= lim):
        raise ValueError(
            "ORC timestamp outside the ns-representable range "
            "(~1677-2262); decode with timestamp_unit='us' instead")
    return secs * np.int64(NANOS_PER_SECOND) + nanos


def _check_nanos_range(nanos: np.ndarray) -> None:
    """A decoded sub-second component outside (-1e9, 1e9) can only come
    from a corrupt SECONDARY stream (the encoding's mult is at most 10^8,
    valid writers never store a full second, and liborc's signed
    convention bounds the magnitude the same way) — without this check
    the combine below could wrap int64 silently even with the seconds
    bound in place (code-review r7)."""
    if nanos.size and (int(nanos.min()) < -999_999_999
                       or int(nanos.max()) > 999_999_999):
        raise ValueError(
            "corrupt ORC timestamp SECONDARY stream: sub-second component "
            "outside (-1e9, 1e9)")


def combine_timestamp_us(stored_secs: np.ndarray, enc_nanos: np.ndarray) -> np.ndarray:
    """(orc_seconds, encoded_nanos) -> int64 MICROS since unix epoch.

    Raises on sub-microsecond precision (decoding to Spark's us grid
    would silently alter values); unlike the ns-space combine it does not
    wrap for timestamps past ~year 2262 (code-review r6)."""
    if not np.count_nonzero(enc_nanos):
        # whole seconds (a day- or second-granular column): no sub-second
        # to unpack, check or add, and no ORC-763 adjustment
        return (stored_secs + _EPOCH) * np.int64(1_000_000)
    secs, nanos = _unpack_secs_nanos(stored_secs, enc_nanos)
    us, sub_us = np.divmod(nanos, _US)
    # valid nanos are whole micros in (-1e9, 1e9), so |us| <= 999_999:
    # one unsigned compare tests both signs; a failure is told apart
    # (corrupt range first) off the common path
    if np.count_nonzero(sub_us) or np.count_nonzero(
            (us + _US_SPAN).view(np.uint64) > _US_MAX):
        _check_nanos_range(nanos)
        raise ValueError(
            "ORC timestamp has sub-microsecond precision; decoding to "
            "Spark's us-precision timestamps would silently alter values")
    return secs * np.int64(1_000_000) + us


def encode_timestamp(ts_ns: np.ndarray) -> tuple[bytes, bytes]:
    """-> (DATA stream bytes, SECONDARY stream bytes), both RLEv2."""
    secs, nanos = split_timestamp_ns(ts_ns)
    return encode_rlev2(secs, signed=True), encode_rlev2(nanos, signed=False)


def decode_timestamp(data: bytes, secondary: bytes, n: int) -> np.ndarray:
    secs = decode_rlev2(data, n, signed=True)
    nanos = decode_rlev2(secondary, n, signed=False)
    return combine_timestamp_ns(secs, nanos)

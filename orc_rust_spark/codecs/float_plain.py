"""Plain IEEE-754 little-endian float encoding (no RLE).

(reference parity: src/encoding/float.rs:39-111)

``encode_scaled`` / ``decode_scaled`` hold decimal-like doubles in memory
as exact scaled integers (ALP, Afroozeh et al., SIGMOD 2023: most real
doubles are decimals that round-trip through ``int / 10**e``): the
narrowest of int8, int16 and int32 plus an exponent ``e``. The point
reader's decoded-data pool keeps double pieces this way; files never
change.
"""

from __future__ import annotations

import numpy as np

from .util import frombuffer_exact

#: the largest exponent a scaled array may take (``10.0 ** e`` is exact)
MAX_SCALE = 9
_POW10 = 10.0 ** np.arange(MAX_SCALE + 1)
#: the values a scale is picked from when no earlier array suggests one
SAMPLE_VALUES = 32
_INT_TYPES = tuple(np.iinfo(t) for t in (np.int8, np.int16, np.int32))


def encode_float(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values)
    if v.dtype not in (np.dtype("<f4"), np.dtype("<f8")):
        raise TypeError(f"expected float32/float64, got {v.dtype}")
    return v.tobytes()


def decode_float(buf, n: int, dtype=np.float64) -> np.ndarray:
    return frombuffer_exact(buf, np.dtype(dtype).newbyteorder("<"), n)


def decode_scaled(ints: np.ndarray, e: int) -> np.ndarray:
    """float64 ``ints / 10**e``: one correctly rounded division a value."""
    return ints / _POW10[e]


def _sample_scale(sample: np.ndarray) -> int | None:
    """The smallest ``e`` at which every sample value round-trips through
    ``rint(v * 10**e) / 10**e``, or None when one needs more than
    MAX_SCALE."""
    with np.errstate(over="ignore", invalid="ignore"):
        back = np.rint(sample[:, None] * _POW10) / _POW10
    ok = back.view(np.uint64) == sample.view(np.uint64)[:, None]
    if not ok.any(axis=1).all():
        return None
    return int(ok.argmax(axis=1).max())


def _scaled_ints(values: np.ndarray, e: int) -> np.ndarray | None:
    """``rint(values * 10**e)`` in the narrowest integer type that holds
    it, if ``decode_scaled`` of it is bit for bit ``values``; else None
    (a value off the 10**-e grid, -0.0, NaN, an infinity, or a range
    that needs int64)."""
    p = float(_POW10[e])
    vmin = float(np.minimum.reduce(values))
    # rint(v * p) is monotonic in v: the scaled range is the range
    # scaled, found before a multiply that could overflow (a Python
    # float goes to inf quietly)
    lo, hi = np.rint(vmin * p), np.rint(float(np.maximum.reduce(values)) * p)
    for info in _INT_TYPES:
        if info.min <= lo and hi <= info.max:  # NaN fails both
            scaled = np.multiply(values, p)
            np.rint(scaled, out=scaled)
            ints = scaled.astype(info.dtype)
            # decode_scaled(ints, e) in place: ``scaled`` holds the ints
            # exactly but for a zero's sign, which + 0.0 drops as the
            # cast did (no zero is signed when every value is positive)
            if vmin <= 0:
                np.add(scaled, 0.0, out=scaled)
            np.divide(scaled, p, out=scaled)
            if np.count_nonzero(scaled.view(np.uint64) != values.view(np.uint64)):
                return None
            return ints
    return None


def encode_scaled(values: np.ndarray, hint: int | None = None) -> tuple[np.ndarray, int] | None:
    """float64 ``values`` -> (ints, e) with ``decode_scaled(ints, e)``
    bit-identical to them, or None. ``hint`` (an earlier array's ``e``)
    is tried on the whole array first; otherwise ``e`` is the smallest
    that round-trips a sample of SAMPLE_VALUES values, verified on the
    whole array. Float32 and empty arrays give None."""
    if values.dtype != np.float64 or not values.size:
        return None
    if hint is not None:
        ints = _scaled_ints(values, hint)
        if ints is not None:
            return ints, hint
    e = _sample_scale(values[:: max(1, values.size // SAMPLE_VALUES)])
    if e is None or e == hint:
        return None
    ints = _scaled_ints(values, e)
    return None if ints is None else (ints, e)

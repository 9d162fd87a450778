"""ORC-compatible Bloom filters (ORC v1 spec, BLOOM_FILTER_UTF8 stream).

Behavioral parity with the reference (src/bloom_filter.rs:97-260):
- bytes are hashed with ORC's Murmur3 hash64 (seed 104729, little-endian
  blocks, x64-128 finalizer)
- i64 values use Thomas Wang's 64-bit mix. This engine's writer mixes
  with logical right shifts (``wang_hash_i64``), liborc with arithmetic
  ones (``wang_hash_i64_orc``); the two agree on the values from 1 to
  790,302,200 (just under 2**29.56); the ORC reader, which meets files
  of both writers, probes with both
- the 64-bit hash splits into two signed 32-bit halves combined as
  h1 + i*h2 for i in 1..k, negatives bit-flipped, modulo bit count
- a cleared bit means definitely-absent; set bits mean maybe-present

The byte-string hash is vectorized across values (transposed block loop +
masked tail), so building a filter over a chunk's url column is a handful
of NumPy passes, not a per-row loop.

Serialization: k (uint32 LE) + bitset words (uint64 LE) — our analog of
the utf8bitset proto field.
"""

from __future__ import annotations

import math
import struct

import numpy as np

_C1 = np.uint64(0x87C37B911142_53D5)
_C2 = np.uint64(0x4CF5AD432745_937F)
_M = np.uint64(5)
_N1 = np.uint64(1_390_208_809)
_SEED = np.uint64(104_729)
_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)

DEFAULT_FPP = 0.05


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * _MIX1
    k = k ^ (k >> np.uint64(33))
    k = k * _MIX2
    k = k ^ (k >> np.uint64(33))
    return k


def murmur3_64(data: bytes, offsets: np.ndarray) -> np.ndarray:
    """ORC Murmur3 hash64 of each string in (flat bytes, n+1 offsets)."""
    n = offsets.size - 1
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    # block reads stop at start+8*nblocks-1 and tail reads at
    # start+length-1, both inside the buffer — no padding copy needed
    # (the old concatenate re-copied the whole payload per call;
    # code-review r6)
    buf = np.frombuffer(data, dtype=np.uint8)
    starts = offsets[:-1].astype(np.int64)
    lengths = (offsets[1:] - offsets[:-1]).astype(np.int64)
    nblocks = lengths // 8
    h1 = np.full(n, _SEED, dtype=np.uint64)
    max_blocks = int(nblocks.max()) if n else 0
    with np.errstate(over="ignore"):
        for j in range(max_blocks):
            mask = nblocks > j
            pos = starts[mask] + 8 * j
            k1 = (
                buf[pos[:, None] + np.arange(8)]
                .copy()
                .view("<u8")
                .ravel()
                .astype(np.uint64)
            )
            k1 = _rotl(k1 * _C1, 31) * _C2
            hm = h1[mask]
            hm = hm ^ k1
            hm = _rotl(hm, 27) * _M + _N1
            h1[mask] = hm
        # tail: remaining 0-7 bytes, little-endian into k1 (byte 0 lowest)
        tail_len = lengths - nblocks * 8
        tail_pos = starts + nblocks * 8
        k1 = np.zeros(n, dtype=np.uint64)
        for b in range(7):
            mask = tail_len > b
            if not mask.any():
                break
            k1[mask] ^= buf[tail_pos[mask] + b].astype(np.uint64) << np.uint64(8 * b)
        has_tail = tail_len > 0
        kt = _rotl(k1[has_tail] * _C1, 31) * _C2
        h1[has_tail] ^= kt
        h1 ^= lengths.astype(np.uint64)
        return _fmix64(h1)


def wang_hash_i64(values: np.ndarray) -> np.ndarray:
    """Thomas Wang 64-bit mix (ORC's integer bloom hash)."""
    key = values.astype(np.int64, copy=True)
    with np.errstate(over="ignore"):
        key = (~key) + (key << np.int64(21))
        key = key ^ (key.view(np.uint64) >> np.uint64(24)).view(np.int64)
        key = key + (key << np.int64(3)) + (key << np.int64(8))
        key = key ^ (key.view(np.uint64) >> np.uint64(14)).view(np.int64)
        key = key + (key << np.int64(2)) + (key << np.int64(4))
        key = key ^ (key.view(np.uint64) >> np.uint64(28)).view(np.int64)
        key = key + (key << np.int64(31))
    return key.view(np.uint64)


def wang_hash_i64_orc(values: np.ndarray) -> np.ndarray:
    """Thomas Wang 64-bit mix as liborc and ORC Java compute it: every
    right shift is arithmetic. It equals ``wang_hash_i64`` on every value
    from 1 to 790,302,200; zero, negative values and many larger ones
    hash differently."""
    key = values.astype(np.int64, copy=True)
    with np.errstate(over="ignore"):
        key = (~key) + (key << np.int64(21))
        key = key ^ (key >> np.int64(24))
        key = key + (key << np.int64(3)) + (key << np.int64(8))
        key = key ^ (key >> np.int64(14))
        key = key + (key << np.int64(2)) + (key << np.int64(4))
        key = key ^ (key >> np.int64(28))
        key = key + (key << np.int64(31))
    return key.view(np.uint64)


_U64 = (1 << 64) - 1


def _wang_int(value: int, arithmetic: bool) -> int:
    key = value & _U64
    if arithmetic:
        def shr(x: int, n: int) -> int:
            return ((x - (1 << 64) if x >> 63 else x) >> n) & _U64
    else:
        def shr(x: int, n: int) -> int:
            return x >> n
    key = (~key + (key << 21)) & _U64
    key ^= shr(key, 24)
    key = (key + (key << 3) + (key << 8)) & _U64
    key ^= shr(key, 14)
    key = (key + (key << 2) + (key << 4)) & _U64
    key ^= shr(key, 28)
    return (key + (key << 31)) & _U64


def _rotl_int(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def murmur3_64_int(data: bytes) -> int:
    """``murmur3_64`` of one byte string, in Python ints (a scalar probe
    pays no NumPy array set-up)."""
    n = len(data)
    c1, c2, n1 = int(_C1), int(_C2), int(_N1)
    h = int(_SEED)
    full = n - n % 8
    for (k,) in struct.iter_unpack("<Q", data[:full]):
        k = _rotl_int(k * c1 & _U64, 31) * c2 & _U64
        h = (_rotl_int(h ^ k, 27) * 5 + n1) & _U64
    if full < n:
        k = int.from_bytes(data[full:], "little")
        h ^= _rotl_int(k * c1 & _U64, 31) * c2 & _U64
    h ^= n
    h ^= h >> 33
    h = h * int(_MIX1) & _U64
    h ^= h >> 33
    h = h * int(_MIX2) & _U64
    return h ^ (h >> 33)


def wang_hash_i64_int(value: int) -> int:
    """``wang_hash_i64`` of one int64 value, in Python ints (a scalar
    probe pays no NumPy array set-up)."""
    return _wang_int(value, False)


def wang_hash_i64_orc_int(value: int) -> int:
    """``wang_hash_i64_orc`` of one int64 value, in Python ints."""
    return _wang_int(value, True)


def bit_positions(h: int, k: int, bit_count: int) -> list[int]:
    """The ``k`` bit indices of one 64-bit hash ``h`` in a ``bit_count``-bit
    filter: ``BloomFilter._bit_indices`` for one hash, in Python ints."""
    h1 = h & 0xFFFFFFFF
    h2 = (h >> 32) & 0xFFFFFFFF
    out = []
    for i in range(1, k + 1):
        c = (h1 + i * h2) & 0xFFFFFFFF  # int32 wrap-around
        if c >> 31:
            c = ~(c - (1 << 32))
        out.append(c % bit_count)
    return out


class BloomMatrix:
    """The bloom filters of one column's row groups, tested for every
    group in one step. Filters of one shape (k, words) sit in a single
    ``(groups, words)`` uint64 array; a group without a filter always
    maybe-contains. Filters of unequal shapes keep the per-group test."""

    def __init__(self, filters: list["BloomFilter | None"]):
        self.n_groups = len(filters)
        shapes = {(f.k, f.bitset.size) for f in filters if f is not None}
        self.filters = filters if len(shapes) > 1 else None
        self.missing = np.array([f is None for f in filters], dtype=bool)
        self.k, words = shapes.pop() if len(shapes) == 1 else (0, 0)
        self.bits = np.zeros((self.n_groups, words), dtype=np.uint64)
        if self.filters is None:
            for g, f in enumerate(filters):
                if f is not None:
                    self.bits[g] = f.bitset

    def may_contain(self, hashes: list[int]) -> np.ndarray:
        """Per group: does any of ``hashes`` maybe-belong to its filter?"""
        if self.filters is not None:
            h = np.array(hashes, dtype=np.uint64)
            return np.array([f is None or bool(f.test_hashes(h).any())
                             for f in self.filters], dtype=bool)
        if not self.bits.shape[1]:
            return self.missing.copy()
        bit_count = self.bits.shape[1] * 64
        pos = np.array([bit_positions(h, self.k, bit_count) for h in hashes],
                       dtype=np.int64)  # (hashes, k)
        words = self.bits[:, pos // 64]  # (groups, hashes, k)
        set_ = (words >> (pos % 64).astype(np.uint64)) & np.uint64(1)
        return set_.astype(bool).all(axis=2).any(axis=1) | self.missing


class BloomFilter:
    def __init__(self, num_hash_functions: int, bitset: np.ndarray):
        self.k = max(1, int(num_hash_functions))
        self.bitset = np.ascontiguousarray(bitset, dtype=np.uint64)

    @classmethod
    def for_expected(cls, n: int, fpp: float = DEFAULT_FPP) -> "BloomFilter":
        n = max(1, n)
        m_bits = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        words = max(1, (m_bits + 63) // 64)
        k = max(1, int(round(words * 64 / n * math.log(2))))
        return cls(k, np.zeros(words, dtype=np.uint64))

    def _bit_indices(self, hashes: np.ndarray) -> np.ndarray:
        """(n, k) bit positions via the ORC double-hash scheme."""
        bit_count = np.int64(self.bitset.size * 64)
        h1 = hashes.astype(np.uint32).view(np.int32).astype(np.int32)
        h2 = (hashes >> np.uint64(32)).astype(np.uint32).view(np.int32).astype(np.int32)
        i = np.arange(1, self.k + 1, dtype=np.int32)
        with np.errstate(over="ignore"):
            combined = h1[:, None] + i[None, :] * h2[:, None]
        combined = np.where(combined < 0, ~combined, combined)
        return combined.astype(np.uint32).astype(np.int64) % bit_count

    def add_hashes(self, hashes: np.ndarray) -> None:
        # boolean scatter + packbits instead of np.bitwise_or.at: the
        # unbuffered per-element scatter was ~10-30x slower on the encode
        # hot path; little-endian packbits viewed as <u8 words matches
        # the bit-i -> word i//64, shift i%64 layout exactly
        # (code-review r6)
        idx = self._bit_indices(hashes).ravel()
        bits = np.zeros(self.bitset.size * 64, dtype=bool)
        bits[idx] = True
        self.bitset |= np.packbits(bits, bitorder="little").view("<u8")

    def test_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Vector of maybe-present booleans."""
        idx = self._bit_indices(hashes)
        words = self.bitset[idx // 64]
        bits = (words >> (idx % 64).astype(np.uint64)) & np.uint64(1)
        return bits.all(axis=1)

    def add_bytes(self, data: bytes, offsets: np.ndarray) -> None:
        self.add_hashes(murmur3_64(data, offsets))

    def might_contain_bytes(self, value: bytes) -> bool:
        bits = bit_positions(murmur3_64_int(value), self.k, self.bitset.size * 64)
        return all(int(self.bitset[p >> 6]) >> (p & 63) & 1 for p in bits)

    def add_i64(self, values: np.ndarray) -> None:
        self.add_hashes(wang_hash_i64(values))

    def might_contain_i64(self, value: int) -> bool:
        h = wang_hash_i64(np.array([value], dtype=np.int64))
        return bool(self.test_hashes(h)[0])

    def serialize(self) -> bytes:
        return np.uint32(self.k).tobytes() + self.bitset.astype("<u8").tobytes()

    @classmethod
    def deserialize(cls, buf: bytes) -> "BloomFilter":
        k = int(np.frombuffer(buf[:4], dtype="<u4")[0])
        bitset = np.frombuffer(buf[4:], dtype="<u8").copy()
        return cls(k, bitset)

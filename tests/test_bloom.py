import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_rust_spark.codecs.bloom import (
    BloomFilter,
    murmur3_64,
    wang_hash_i64,
)


def _murmur3_64_ref(data: bytes) -> int:
    """Direct scalar transcription of the ORC Java Murmur3 hash64 semantics
    (public algorithm) to validate the vectorized version."""
    C1 = 0x87C37B91114253D5
    C2 = 0x4CF5AD432745937F
    MASK = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & MASK

    h1 = 104729
    nblocks = len(data) // 8
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 8 : i * 8 + 8], "little")
        k1 = (k1 * C1) & MASK
        k1 = rotl(k1, 31)
        k1 = (k1 * C2) & MASK
        h1 ^= k1
        h1 = rotl(h1, 27)
        h1 = (h1 * 5 + 1390208809) & MASK
    tail = data[nblocks * 8 :]
    k1 = 0
    for i in range(len(tail) - 1, -1, -1):
        k1 ^= tail[i] << (8 * i)
    if tail:
        k1 = (k1 * C1) & MASK
        k1 = rotl(k1, 31)
        k1 = (k1 * C2) & MASK
        h1 ^= k1
    h1 ^= len(data)
    h1 ^= h1 >> 33
    h1 = (h1 * 0xFF51AFD7ED558CCD) & MASK
    h1 ^= h1 >> 33
    h1 = (h1 * 0xC4CEB9FE1A85EC53) & MASK
    h1 ^= h1 >> 33
    return h1


def _wang_ref(v: int) -> int:
    M = (1 << 64) - 1

    def s(x):  # to signed 64
        x &= M
        return x - (1 << 64) if x >= 1 << 63 else x

    key = v
    key = s(~key + (key << 21))
    key = s(key ^ ((key & M) >> 24))
    key = s(key + (key << 3) + (key << 8))
    key = s(key ^ ((key & M) >> 14))
    key = s(key + (key << 2) + (key << 4))
    key = s(key ^ ((key & M) >> 28))
    key = s(key + (key << 31))
    return key & M


@given(st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=50))
@settings(max_examples=40, deadline=None)
def test_murmur3_matches_reference_scalar(strings):
    data = b"".join(strings)
    off = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strings], out=off[1:])
    got = murmur3_64(data, off)
    expect = [_murmur3_64_ref(s) for s in strings]
    assert got.tolist() == expect


@given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=100))
@settings(max_examples=40, deadline=None)
def test_wang_hash_matches_reference_scalar(values):
    got = wang_hash_i64(np.array(values, dtype=np.int64))
    assert got.tolist() == [_wang_ref(v) for v in values]


def test_bloom_no_false_negatives_bytes():
    urls = [f"https://h{i}.example.com/{i}".encode() for i in range(2000)]
    data = b"".join(urls)
    off = np.zeros(len(urls) + 1, dtype=np.int64)
    np.cumsum([len(u) for u in urls], out=off[1:])
    bf = BloomFilter.for_expected(len(urls), fpp=0.05)
    bf.add_bytes(data, off)
    for u in urls[::97]:
        assert bf.might_contain_bytes(u)
    # false positive rate sanity
    misses = sum(
        bf.might_contain_bytes(f"https://absent-{i}.example.com/x".encode())
        for i in range(1000)
    )
    assert misses < 150  # ~5% target, generous bound


def test_bloom_i64_and_serialization():
    vals = np.arange(0, 100000, 7, dtype=np.int64)
    bf = BloomFilter.for_expected(vals.size)
    bf.add_i64(vals)
    clone = BloomFilter.deserialize(bf.serialize())
    assert clone.k == bf.k
    assert clone.might_contain_i64(7 * 777)
    assert (clone.test_hashes(wang_hash_i64(vals)) == True).all()  # noqa: E712
    absent = np.array([3, 5, 11, 9999999], dtype=np.int64)
    fp = clone.test_hashes(wang_hash_i64(absent)).sum()
    assert fp <= 2


def test_i64_probe_hash_per_reader():
    """The engine's own blooms (chunk tables) are probed with the writer's
    hash alone; the ORC reader, which also reads liborc files, tries
    liborc's arithmetic-shift hash too."""
    from orc_rust_spark.codecs.bloom import BloomMatrix, wang_hash_i64_orc
    from orc_rust_spark.sources import orc_file as of

    def orc_reader_keeps(bf, v) -> bool:
        # one group without statistics: only its bloom filter can prune
        stats = of.ColumnStats(of.K_LONG, [None])
        return bool(of.keep_mask(of.Probe(v), stats, 1, BloomMatrix([bf]), of.K_LONG)[0])

    probes = np.array([0, -1, -(2**40), 2**62 - 3], dtype=np.int64)
    assert (wang_hash_i64(probes) != wang_hash_i64_orc(probes)).all()
    liborc = BloomFilter.for_expected(probes.size)
    liborc.add_hashes(wang_hash_i64_orc(probes))
    for v in probes.tolist():
        assert not liborc.might_contain_i64(v)
        assert orc_reader_keeps(liborc, v)
    ours = BloomFilter.for_expected(probes.size)
    ours.add_i64(probes)
    assert all(orc_reader_keeps(ours, v) for v in probes.tolist())
    empty = BloomFilter.for_expected(probes.size)
    assert not any(orc_reader_keeps(empty, v) for v in probes.tolist())


def test_scalar_int_hashes_equal_numpy_hashes():
    """The Python-int forms a scalar probe uses equal the NumPy hashes on
    the edge values (zero, -1, 1, the last and first value where the two
    hashes part, the int64 extremes) and 10k seeded values."""
    from orc_rust_spark.codecs.bloom import (
        wang_hash_i64_int,
        wang_hash_i64_orc,
        wang_hash_i64_orc_int,
    )

    edges = [0, -1, 1, 790_302_200, 790_302_201, -(2**63), 2**63 - 1]
    rng = np.random.default_rng(10_000)
    vals = np.concatenate([np.array(edges, dtype=np.int64),
                           rng.integers(-(2**63), 2**63 - 1, 10_000, dtype=np.int64,
                                        endpoint=True)])
    ours, orc = wang_hash_i64(vals), wang_hash_i64_orc(vals)
    for v, a, b in zip(vals.tolist(), ours.tolist(), orc.tolist()):
        assert wang_hash_i64_int(v) == a, v
        assert wang_hash_i64_orc_int(v) == b, v


def test_bloom_matrix_equals_per_filter_test():
    """Bit positions of one hash equal BloomFilter._bit_indices, and the
    (groups, words) probe equals each filter's own test_hashes, with
    missing filters kept."""
    from orc_rust_spark.codecs.bloom import BloomMatrix, bit_positions

    rng = np.random.default_rng(4)
    filters = []
    for g in range(6):
        bf = BloomFilter.for_expected(500)
        bf.add_i64(rng.integers(0, 5_000, 500))
        filters.append(None if g == 3 else bf)
    probes = wang_hash_i64(rng.integers(0, 10_000, 300)).tolist()
    bf = filters[0]
    idx = bf._bit_indices(np.array(probes, dtype=np.uint64))
    for h, row in zip(probes, idx.tolist()):
        assert bit_positions(h, bf.k, bf.bitset.size * 64) == row
    bm = BloomMatrix(filters)
    assert bm.filters is None  # one shape: the array path
    for i in range(0, len(probes), 3):
        hs = probes[i: i + 3]
        want = [f is None or bool(f.test_hashes(np.array(hs, dtype=np.uint64)).any())
                for f in filters]
        assert bm.may_contain(hs).tolist() == want


def test_scalar_murmur3_equals_numpy_murmur3():
    """The Python-int Murmur3 a string probe uses equals the NumPy hash on
    a seeded corpus: every length 0-40 (so every tail length 0-7 after
    0-5 full blocks), 255-257, non-ASCII UTF-8 and high bytes."""
    from orc_rust_spark.codecs.bloom import murmur3_64_int

    rng = np.random.default_rng(3)
    corpus = [rng.integers(0, 256, n, dtype=np.uint8).tobytes()
              for n in [*range(41), 255, 256, 257] for _ in range(4)]
    corpus += [s.encode() for s in ["é", "日本語のテキスト", "naïve café ☕", "\x00" * 9]]
    corpus += [b"\xff" * n for n in range(17)]
    off = np.zeros(len(corpus) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in corpus], out=off[1:])
    want = murmur3_64(b"".join(corpus), off).tolist()
    assert [murmur3_64_int(s) for s in corpus] == want
    assert {len(s) % 8 for s in corpus} == set(range(8))


def test_might_contain_bytes_equals_test_hashes():
    """The scalar string probe answers as ``test_hashes`` on the NumPy
    hash, for members and for absent values."""
    urls = [f"https://h{i}.example.com/{i}".encode() for i in range(300)]
    off = np.zeros(len(urls) + 1, dtype=np.int64)
    np.cumsum([len(u) for u in urls], out=off[1:])
    bf = BloomFilter.for_expected(len(urls), fpp=0.05)
    bf.add_bytes(b"".join(urls), off)
    probes = urls + [f"absent-{i}".encode() for i in range(300)]
    off = np.zeros(len(probes) + 1, dtype=np.int64)
    np.cumsum([len(p) for p in probes], out=off[1:])
    want = bf.test_hashes(murmur3_64(b"".join(probes), off)).tolist()
    assert [bf.might_contain_bytes(p) for p in probes] == want
    assert all(want[:300]) and not all(want[300:])

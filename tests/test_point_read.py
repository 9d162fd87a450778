"""Point lookups read the non-key columns at the matching rows only
(sources/orc_file.py:_decode_column_rows): PRESENT maps the rows to dense
offsets once per group, a scalar column is gathered from its hit groups
decoded whole (pieces), a direct string from the blocks of its rows, and
each column becomes one Arrow array. Every scalar kind, with and without
nulls, must come back as a filter of the source table and as a
whole-group decode of the hit groups followed by a take, on this
engine's files (4 KiB blocks, so a 1,000-row group spans several) and on
pyarrow's, under none, zlib and zstd. The probed key sits in a group's first and last rows, which hold
the first and last bytes of the group's blocks.
"""

import decimal
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as paorc
import pytest

from orc_rust_spark.codecs import block as blockc
from orc_rust_spark.sources import orc_file as of

N = 5_000
STRIDE = 1_000
BLOCK = 4_096
EDGE = (0, 999, 2_000, 2_999, 4_999)  # rows of key -1: group edges
PAIR = (1_500, 1_501)  # rows of key -2: two neighbours mid-group
NULLS = (0, 2_999, 1_501, 10)  # matching rows that are null in every "_n" column
I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def _table(seed=11) -> pa.Table:
    """A key ``k`` and one column per scalar kind, each also as ``<name>_n``
    with ~30% nulls (NULLS among them, the other matching rows valid).
    Floats hold NaN at matching rows; ints hold their type's extremes;
    timestamps cross a New York DST change."""
    rng = np.random.default_rng(seed)
    k = np.arange(N, dtype=np.int64)
    k[list(EDGE)] = -1
    k[list(PAIR)] = -2
    i64 = rng.integers(-(10**12), 10**12, N)
    i64[[0, 4_999]] = I64_MIN, I64_MAX
    i32 = rng.integers(-(2**31), 2**31, N)
    i32[999] = 2**31 - 1
    f32 = rng.random(N).astype(np.float32)
    f32[[999, 1_500]] = np.nan
    f64 = rng.normal(size=N)
    f64[[2_000, 4_999]] = np.nan, -0.0
    ts = (1_615_600_000_000_000 + rng.integers(0, 200_000, N) * 1_000_000
          + rng.integers(0, 1_000_000, N))
    # no wall clock inside the hour the change skips
    gap = np.array(["2021-03-14T02:00", "2021-03-14T03:00"], "datetime64[us]").astype(np.int64)
    ts[(ts >= gap[0]) & (ts < gap[1])] += 3_600_000_000
    cents = rng.integers(-(10**9), 10**9, N)
    words = np.array("alpha beta gamma delta epsilon zeta eta theta".split())
    base = {
        "i8": pa.array(rng.integers(-128, 128, N), pa.int8()),
        "i16": pa.array(rng.integers(-(2**15), 2**15, N), pa.int16()),
        "i32": pa.array(i32, pa.int32()),
        "i64": pa.array(i64, pa.int64()),
        "flag": pa.array(rng.random(N) < 0.5),
        "f32": pa.array(f32),
        "f64": pa.array(f64),
        "day": pa.array(rng.integers(-5_000, 20_000, N).astype(np.int32), pa.date32()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "dec": pa.array([decimal.Decimal(int(c)).scaleb(-3) for c in cents],
                        pa.decimal128(12, 3)),
        "wide": pa.array([decimal.Decimal(int(c) * 10**12 + 7).scaleb(-4) for c in cents],
                         pa.decimal128(30, 4)),
        "lang": pa.array(words[rng.integers(0, 3, N)].tolist(), pa.string()),
        "text": pa.array([f"{i:05d} " + " ".join(words[rng.integers(0, 8, int(m))])
                          for i, m in enumerate(rng.integers(1, 40, N))], pa.string()),
        "blob": pa.array([rng.bytes(int(m)) for m in rng.integers(0, 60, N)], pa.binary()),
    }
    mask = rng.random(N) < 0.3
    mask[list(NULLS)] = True
    mask[[999, 2_000, 4_999, 1_500]] = False
    cols = {"k": pa.array(k)}
    for name, arr in base.items():
        cols[name] = arr
        cols[f"{name}_n"] = pc.if_else(pa.array(mask), pa.scalar(None, arr.type), arr)
    return pa.table(cols)


def _ours(tbl, path, compression, rle_version=2):
    """This engine's writer, New York writer zone, every stream framed and
    recorded in 4 KiB blocks."""
    real = blockc.compress_stream
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(of, "_compress_or_raw",
                   lambda b, c: b if c == "none" else real(b, c, block_size=BLOCK))
        mp.setattr(blockc, "DEFAULT_BLOCK_SIZE", BLOCK)
        of.write_orc(tbl, path, compression=compression, row_index_stride=STRIDE,
                     writer_timezone="America/New_York", rle_version=rle_version)


def _pyarrow(tbl, path, compression):
    paorc.write_table(tbl, path, compression=compression,
                      compression_block_size=BLOCK, row_index_stride=STRIDE,
                      dictionary_key_size_threshold=0.5)


FILES = {
    "ours-none": lambda t, p: _ours(t, p, "none"),
    "ours-zlib": lambda t, p: _ours(t, p, "zlib"),
    "ours-zstd": lambda t, p: _ours(t, p, "zstd"),
    "ours-zstd-rlev1": lambda t, p: _ours(t, p, "zstd", rle_version=1),
    "pyarrow-none": lambda t, p: _pyarrow(t, p, "uncompressed"),
    "pyarrow-zlib": lambda t, p: _pyarrow(t, p, "zlib"),
    "pyarrow-zstd": lambda t, p: _pyarrow(t, p, "zstd"),
}


@pytest.fixture(scope="module")
def table():
    return _table()


@pytest.fixture(scope="module", params=sorted(FILES))
def orc(request, table, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("point") / f"{request.param}.orc")
    FILES[request.param](table, path)
    return path


def _values(arr) -> list:
    """Python values with NaN made comparable and -0.0 told from 0.0."""
    out = []
    for v in arr.to_pylist():
        if isinstance(v, float):
            v = "nan" if v != v else repr(v)
        out.append(v)
    return out


def _same(got: pa.Table, want: pa.Table):
    assert got.column_names == want.column_names
    assert got.num_rows == want.num_rows
    for name in want.column_names:
        g = got.column(name).combine_chunks().cast(want.schema.field(name).type)
        assert _values(g) == _values(want.column(name)), name


def test_files_hold_every_encoding(orc):
    """Both string encodings, several groups, and a string stream many
    blocks long."""
    meta = of.read_metadata(orc)
    if meta.compression != "none":
        assert meta.block_size == BLOCK
    assert meta.stripes[0].number_of_rows == N
    with open(orc, "rb") as fh:
        ix = of.OrcReader(meta).stripe(0, fh)
    names = dict(zip(meta.types[0].subtypes, meta.types[0].field_names))
    enc = {names[c]: ix.encodings[c][0] for c in names}
    assert enc["lang"] in (of.E_DICTIONARY, of.E_DICTIONARY_V2)
    assert enc["text"] in (of.E_DIRECT, of.E_DIRECT_V2)
    assert ix.n_groups == N // STRIDE
    text = next(c for c, n in names.items() if n == "text")
    assert ix.offsets[(text, of.S_DATA)][1] > 4 * BLOCK


@pytest.mark.parametrize("key", [-1, -2, 10, 4_998, -5])
def test_lookup_equals_filter(orc, table, key):
    got, decoded, total = of.orc_point_lookup(orc, "k", key)
    _same(got, table.filter(pc.equal(table.column("k"), key)))
    assert total == N // STRIDE and decoded <= total


@pytest.mark.parametrize("column, value", [("lang", "beta"), ("lang_n", "alpha")])
def test_dense_lookup_equals_filter(orc, table, column, value):
    """A probe that matches about a third of every group's rows: each
    RLEv2 stream is then decoded as one stretch, not walked per value."""
    got = of.orc_point_lookup(orc, column, value)[0]
    want = table.filter(pc.equal(table.column(column), value))
    assert want.num_rows > N // 5
    _same(got, want)


# group 0's rows are null in every "_n" column
SPARSE = {0: np.array([0, 10]), 1: np.array([500, 501]),
          2: np.array([0, 999]), 4: np.array([999])}
DENSE = {1: np.arange(0, 1_000, 3), 3: np.arange(100, 900)}


@pytest.mark.parametrize("rows", [SPARSE, DENSE], ids=["sparse", "dense"])
def test_point_read_equals_group_decode_and_take(orc, rows):
    """Each non-key column's point read over the hit groups equals the
    hit groups decoded whole and taken at the matching rows, type and
    nulls included."""
    meta = of.read_metadata(orc)
    root = meta.types[0]
    with open(orc, "rb") as fh:
        ix = of.OrcReader(meta).stripe(0, fh)
        for cid in root.subtypes:
            assert ix.seek_entries(cid) is not None
        streams = of._fetch_streams(ix, ix.ranges(root.subtypes, list(rows)),
                                    of._span_reader(fh, meta.stripes[0].offset))
    for cid, name in zip(root.subtypes, root.field_names):
        got = of._decode_column_rows(ix, streams, cid, rows, name, {}, {})
        want = pa.concat_arrays([
            of._decode_column_group(ix, streams, cid, g, ix.group_rows(g), name,
                                    {}, {}).take(pa.array(r)) for g, r in rows.items()])
        assert got.type == want.type, name
        assert _values(got) == _values(want), name


def test_writer_zone_timestamps_match_the_source(table, tmp_path):
    """The New York writer zone is load-bearing: a point read of our file
    gives back the source wall clock on both sides of the DST change."""
    path = str(tmp_path / "ny.orc")
    _ours(table, path, "zstd")
    ts = table.column("ts").to_numpy()
    assert (ts < np.datetime64("2021-03-14T07:00")).any()
    assert (ts > np.datetime64("2021-03-14T07:00")).any()
    for row in (10, 1_234, 4_321):
        got = of.orc_point_lookup(path, "k", row)[0]
        assert got.column("ts").to_pylist() == [table.column("ts")[row].as_py()]


# --- the decoded-data pool (orc_file.DataPool) --------------------------------


@pytest.fixture
def pool(monkeypatch):
    """A fresh, empty process pool for one test."""
    fresh = of.DataPool()
    monkeypatch.setattr(of, "_POOL", fresh)
    return fresh


def _reader_of(path):
    """The cached OrcReader of ``path``, or None."""
    name = str(path)
    found = [r for k, r in of._READERS.items() if k[1] == name]
    assert len(found) <= 1
    return found[0] if found else None


def _entries_of(pool, reader) -> int:
    return sum(1 for k in pool._items if k[0] is reader)


def _blob_table(seed: int) -> pa.Table:
    """A key, a dictionary string and 16-byte random binaries: the
    binaries are stored uncompressed, so two seeds give files of one
    size that differ in the binaries alone."""
    rng = np.random.default_rng(seed)
    words = np.array(["red", "green", "blue"])
    return pa.table({
        "k": pa.array(np.arange(N, dtype=np.int64) % 1_700),
        "lang": pa.array(words[np.arange(N) % 3].tolist()),
        "blob": pa.array([rng.bytes(16) for _ in range(N)], pa.binary()),
    })


@pytest.mark.parametrize("how", ["in-place", "rename"])
def test_rewritten_file_never_serves_pooled_rows(pool, tmp_path, how):
    """A file replaced at the same path and size, in place (same inode)
    or renamed over, by a writer that does not tell the reader cache:
    the lookup returns the new file's rows, and the old reader's pooled
    blocks, dictionary and key groups are dropped."""
    old, new = _blob_table(1), _blob_table(2)
    path = str(tmp_path / "f.orc")
    spare = str(tmp_path / "new.orc")
    _ours(old, path, "zstd")
    _ours(new, spare, "zstd")
    with open(spare, "rb") as fh:
        data = fh.read()
    assert len(data) == len(open(path, "rb").read())
    probes = (5, 1_699, 0)
    for key in probes * 2:
        _same(of.orc_point_lookup(path, "k", key)[0],
              old.filter(pc.equal(old.column("k"), key)))
    stale = _reader_of(path)
    assert _entries_of(pool, stale) and pool.stats()["hits"]
    kinds = {k[2] for k in pool._items if k[0] is stale}
    assert kinds == {"block", "dict", "piece"}
    if how == "in-place":
        with open(path, "r+b") as fh:
            fh.write(data)
    else:
        os.replace(spare, path)
    for key in probes:
        _same(of.orc_point_lookup(path, "k", key)[0],
              new.filter(pc.equal(new.column("k"), key)))
    assert _reader_of(path) is not stale
    assert not _entries_of(pool, stale) and not stale.pooled


def test_pool_stays_under_its_cap_with_four_threads(pool, table, tmp_path, monkeypatch):
    """Four threads make mixed lookups (hits, misses, an integer, a
    dictionary-string, a direct string and a binary key, whose block
    directories a pyarrow file's lookups extend as they go) over three
    files with a small cap: after every lookup the pool holds at most the
    cap, it evicts and it hits, and every result equals a filter of the
    source."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    cap = 96 * 1024
    monkeypatch.setattr(of, "POOL_BYTES", cap)
    paths = []
    for i, name in enumerate(("ours-zstd", "ours-zlib", "pyarrow-zstd")):
        paths.append(str(tmp_path / f"{i}.orc"))
        FILES[name](table, paths[-1])
    probes = [("k", v) for v in (-1, -2, 10, 1_234, 4_998, -5)] + [
        ("lang", "gamma"), ("lang_n", "beta"), ("k", 3_333)] + [
        (c, table.column(c)[r].as_py()) for c, r in (
            ("text", 4_321), ("text_n", 999), ("blob", 2_999), ("text", 12))]
    jobs = [(p, c, v) for _ in range(3) for p in paths for c, v in probes]
    want = {(c, v): table.filter(pc.equal(table.column(c), v)) for c, v in probes}
    over = []

    def lookup(job):
        path, column, value = job
        got = of.orc_point_lookup(path, column, value)[0]
        held = pool.stats()["bytes"]
        if held > cap:
            over.append(held)
        return got

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=4) as workers:
            got = list(workers.map(lookup, jobs, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == len(jobs) and not over
    for (_, column, value), g in zip(jobs, got):
        _same(g, want[(column, value)])
    stats = pool.stats()
    assert stats["bytes"] == sum(b for _, b in pool._items.values()) <= cap
    assert stats["evictions"] and stats["hits"] and stats["entries"]


def test_forget_and_reader_eviction_empty_the_readers_entries(pool, table, tmp_path,
                                                             monkeypatch):
    """forget_reader drops a reader's pooled entries and retires it, and
    so does its eviction from the reader cache; other readers keep theirs."""
    monkeypatch.setattr(of, "READER_CACHE_FILES", 2)
    paths = [str(tmp_path / f"{i}.orc") for i in range(3)]
    for p in paths:
        _ours(table, p, "zstd")
    of.orc_point_lookup(paths[0], "k", -1)
    first = _reader_of(paths[0])
    assert _entries_of(pool, first)
    of.forget_reader(paths[0])
    assert _reader_of(paths[0]) is None
    assert not _entries_of(pool, first) and not first.pooled
    for p in paths:
        of.orc_point_lookup(p, "k", -2)
    readers = [_reader_of(p) for p in paths]
    assert readers[0] is None
    assert all(_entries_of(pool, r) for r in readers[1:])
    assert pool.stats()["bytes"] == sum(b for _, b in pool._items.values())
    evicted = {k[0] for k in pool._items} - set(readers[1:])
    assert not evicted


def test_lookup_on_a_dropped_reader_files_nothing(pool, table, tmp_path, monkeypatch):
    """A lookup still running on a reader when its file is replaced (here:
    forget_reader between the key phase's compare and the point reads)
    returns its rows but files none of what it decoded into the pool."""
    path = str(tmp_path / "f.orc")
    _ours(table, path, "zstd")
    real = of._key_mask

    def forget_midway(*args):
        of.forget_reader(path)
        return real(*args)

    of.orc_point_lookup(path, "k", -2)
    reader = _reader_of(path)
    assert _entries_of(pool, reader)
    monkeypatch.setattr(of, "_key_mask", forget_midway)
    _same(of.orc_point_lookup(path, "k", -1)[0],
          table.filter(pc.equal(table.column("k"), -1)))
    monkeypatch.undo()
    assert _reader_of(path) is None and not pool._items


def test_writer_drops_the_paths_reader_when_it_truncates(pool, table, tmp_path):
    """OrcWriter forgets the reader of the file it replaces as soon as
    it opens it, not only at close."""
    path = str(tmp_path / "w.orc")
    _ours(table, path, "zstd")
    of.orc_point_lookup(path, "k", -1)
    reader = _reader_of(path)
    assert reader is not None and _entries_of(pool, reader)
    writer = of.OrcWriter(path, table.schema, compression="zstd")
    try:
        assert _reader_of(path) is None
        assert not _entries_of(pool, reader)
        writer.write_table(table)
    finally:
        writer.close()
    _same(of.orc_point_lookup(path, "k", -2)[0],
          table.filter(pc.equal(table.column("k"), -2)))


def _nested_table(seed=5) -> pa.Table:
    """_table plus a list and a struct column, with nulls."""
    tbl = _table(seed)
    rng = np.random.default_rng(seed)
    tags = [None if i % 7 == 3 else [f"t{j}" for j in range(int(m))]
            for i, m in enumerate(rng.integers(0, 4, N))]
    pt = pa.StructArray.from_arrays(
        [pa.array(rng.integers(-100, 100, N)),
         pa.array([f"p{i % 13}" for i in range(N)])], ["a", "b"],
        mask=pa.array(rng.random(N) < 0.2))
    return tbl.append_column("tags", pa.array(tags, pa.list_(pa.string()))).append_column(
        "pt", pt)


@pytest.mark.parametrize("writer", ["ours-zstd", "pyarrow-zstd"])
def test_warm_lookups_equal_cold_lookups(pool, tmp_path, writer):
    """A probe sweep of hits, misses, rows null in every "_n" column,
    dictionary strings, timestamps and nested columns: lookups served
    from the pool equal lookups on an empty pool and a filter of the
    source."""
    tbl = _nested_table()
    path = str(tmp_path / "sweep.orc")
    FILES[writer](tbl, path)
    ts = tbl.column("ts")
    probes = [("k", v) for v in (-1, -2, 10, 4_998, -5, 10**9)] + [
        ("lang", "alpha"), ("lang_n", "gamma"), ("lang", "omega"),
        ("ts", ts[1_234].as_py()), ("ts_n", ts[3_000].as_py())]
    cold = []
    for column, value in probes:
        of.forget_reader(path)
        got = of.orc_point_lookup(path, column, value)[0]
        _same(got, tbl.filter(pc.equal(tbl.column(column), value)))
        cold.append(got)
    for _ in range(2):
        hits = pool.stats()["hits"]
        for (column, value), want in zip(probes, cold):
            got = of.orc_point_lookup(path, column, value)[0]
            assert got.schema == want.schema
            _same(got, want)
        assert pool.stats()["hits"] > hits


@pytest.mark.parametrize("dtype", [pa.int8(), pa.int16(), pa.int32(), pa.int64()])
def test_integer_eq_mask_equals_pyarrow_equal(dtype):
    """An integer probe of a null-free integer group is compared in NumPy:
    the same rows as pyarrow's equal, at the type's and int64's extremes,
    past the type's range, and for a bool probe."""
    import pyarrow.compute as pc

    info = np.iinfo(dtype.to_pandas_dtype())
    vals = np.array([0, 1, -1, info.min, info.max, 7, 7], dtype=info.dtype)
    arr = pa.array(vals, dtype)
    for probe in (0, 7, -1, 3, int(info.min), int(info.max), int(info.max) + 1,
                  int(info.min) - 1, I64_MIN, I64_MAX, True, 2**64):
        try:
            want = pc.equal(arr, probe).fill_null(False).to_numpy(zero_copy_only=False)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError):
            want = np.zeros(len(arr), dtype=bool)
        assert np.array_equal(of._eq_mask(arr, probe), want), (dtype, probe)


# --- decimal-like doubles pooled as exact scaled integers ---------------------

#: rows of key -7, one in every group's first piece and one in every group's
#: second (ours: 512 doubles a 4 KiB block)
SCALED_ROWS = tuple(g * STRIDE + r for g in range(N // STRIDE) for r in (3, 700))
#: (column, e, dtype) of the decimal-like columns, e = 0..6; "i8"/"i16" span
#: their dtype's whole range
SCALED = [("e0", 0, np.int32), ("e1", 1, np.int16), ("e2", 2, np.int32),
          ("e3", 3, np.int32), ("e4", 4, np.int32), ("e5", 5, np.int32),
          ("e6", 6, np.int32), ("i8", 2, np.int8), ("i16", 1, np.int16)]
#: columns that must be pooled as plain values: each holds its odd value
#: at every key -7 row
ODD = {"neg_zero": -0.0, "nan": float("nan"), "inf": float("inf"),
       "ninf": float("-inf"), "subnormal": 5e-324, "inexact": 0.1 + 0.2,
       "near_2_53": float(2**53 - 1), "int64_range": 3.0e12}


def _scaled_table(seed=3) -> pa.Table:
    """A key ``k`` (-7 at SCALED_ROWS), the SCALED columns, the ODD
    columns (cents otherwise), ``mixed`` (cents with a random double in
    group 2), ``shifting`` (e = 1, 3, 0, 3, 1 by group), a float32
    column and a nullable cents column."""
    rng = np.random.default_rng(seed)
    k = np.arange(N, dtype=np.int64)
    k[list(SCALED_ROWS)] = -7
    cols = {"k": pa.array(k)}
    for name, e, dtype in SCALED:
        info = np.iinfo(dtype)
        if name in ("i8", "i16"):
            ints = rng.integers(info.min, int(info.max) + 1, N)
            ints[[1, 2]] = info.min, info.max
        else:
            # a last digit that is not 0: every value needs all e digits
            span = min(int(info.max) // 10, 10**7)
            ints = rng.integers(-span, span, N) * 10 + rng.integers(1, 10, N)
        cols[name] = pa.array(ints / 10.0**e)
    cents = rng.integers(0, 100_000, N) / 100
    for name, odd in ODD.items():
        vals = cents.copy()
        vals[list(SCALED_ROWS)] = odd
        cols[name] = pa.array(vals)
    mixed = cents.copy()
    mixed[2 * STRIDE + 500] = rng.random()
    cols["mixed"] = pa.array(mixed)
    shifting = np.concatenate([rng.integers(1, 10**6, STRIDE) / 10.0**e
                               for e in (1, 3, 0, 3, 1)])
    cols["shifting"] = pa.array(shifting)
    cols["f32"] = pa.array((rng.integers(0, 1000, N) / 4).astype(np.float32))
    cols["cents_n"] = pa.array(cents, mask=rng.random(N) < 0.3)
    return pa.table(cols)


@pytest.fixture(scope="module")
def scaled_table():
    return _scaled_table()


def _float_entries(pool, path) -> dict:
    """{column name: [(dtype or None, e) of each pooled value piece]} of
    ``path``'s float and double columns, None standing for plain values."""
    reader = _reader_of(path)
    names = dict(zip(reader.meta.types[0].subtypes, reader.meta.types[0].field_names))
    floats = {c for c in names if reader.meta.types[c].kind in (of.K_FLOAT, of.K_DOUBLE)}
    out: dict = {}
    for key, (piece, size) in pool._items.items():
        if key[0] is reader and key[2] == "piece" and key[3][0] in floats \
                and key[3][2] != of._PRESENT:
            assert size == piece.values.nbytes
            out.setdefault(names[key[3][0]], []).append(
                (None if piece.scale is None else piece.values.dtype, piece.scale))
    return out


@pytest.mark.parametrize("writer", ["ours-zstd", "pyarrow-zstd"])
def test_scaled_pool_lookups_equal_filter_cold_and_warm(pool, scaled_table, tmp_path,
                                                        writer):
    """Lookups of keys in every group and piece: cold (an empty pool) and
    warm results equal a filter of the source, bit for bit, for every
    scaled, fallen-back, float32 and nullable column."""
    path = str(tmp_path / "scaled.orc")
    FILES[writer](scaled_table, path)
    keys = [-7, 10, 1_234, 2_500, 3_999, 4_998]
    cold = []
    for key in keys:
        of.forget_reader(path)
        got = of.orc_point_lookup(path, "k", key)[0]
        _same(got, scaled_table.filter(pc.equal(scaled_table.column("k"), key)))
        cold.append(got)
    for _ in range(2):
        for key in keys:
            of.orc_point_lookup(path, "k", key)
        hits = pool.stats()["hits"]
        for key, want in zip(keys, cold):
            _same(of.orc_point_lookup(path, "k", key)[0], want)
        assert pool.stats()["hits"] > hits
    assert pool.stats()["misses"] and not pool.stats()["evictions"]


@pytest.mark.parametrize("writer", ["ours-zstd", "pyarrow-zstd"])
def test_decimal_like_doubles_pool_as_narrow_scaled_ints(pool, scaled_table, tmp_path,
                                                         writer):
    """Every piece of a decimal-like column is pooled scaled, in the
    narrowest integer type at the smallest exponent; odd values, a
    group mixing exact and inexact values and float32 pool plain; a
    column whose exponent changes by group keeps each piece's own."""
    path = str(tmp_path / "scaled.orc")
    FILES[writer](scaled_table, path)
    of.orc_point_lookup(path, "k", -7)
    got = _float_entries(pool, path)
    pieces = 2 * (N // STRIDE) if writer.startswith("ours") else N // STRIDE
    for name, e, dtype in SCALED:
        assert got[name] == [(np.dtype(dtype), e)] * pieces, name
    for name in ODD:
        assert got[name] == [(None, None)] * pieces, name
    assert got["f32"] == [(None, None)] * (N // STRIDE)  # 4,000 bytes a group
    assert all(e == 2 for _, e in got["cents_n"])
    reader = _reader_of(path)
    names = reader.meta.types[0].field_names
    e_of = {(names[key[3][0] - 1], *key[3][1:]): piece.scale
            for key, (piece, _) in pool._items.items()
            if key[0] is reader and key[2] == "piece" and key[3][2] != of._PRESENT}
    # the piece that holds mixed's random double, row 500 of group 2
    assert {at: e for at, e in e_of.items() if at[0] == "mixed" and e != 2} == {
        ("mixed", 2, 0): None}
    # a group of e = 0 or 1 values after one of e = 3 takes the column's 3
    assert {g: {e for at, e in e_of.items() if at[:2] == ("shifting", g)}
            for g in range(5)} == {0: {1}, 1: {3}, 2: {3}, 3: {3}, 4: {3}}


def test_pooled_decimal_like_doubles_take_at_most_half_their_bytes(pool, tmp_path):
    """A cents column of 4 KiB pieces pools at most half the bytes of its
    raw doubles; the pool holds no block of it."""
    tbl = pa.table({"k": pa.array(np.arange(N, dtype=np.int64) % 50),
                    "price": pa.array(np.round(np.random.default_rng(2).uniform(
                        900.68, 104_999.91, N), 2))})
    path = str(tmp_path / "price.orc")
    _ours(tbl, path, "zstd")
    of.orc_point_lookup(path, "k", 7)
    held = raw = 0
    for key, (piece, size) in pool._items.items():
        if key[2] == "piece" and key[3][0] == 2:
            assert piece.scale == 2
            held += size
            raw += 8 * len(piece.values)
    assert raw == 8 * N and 2 * held <= raw
    assert not any(k[2] == "block" for k in pool._items)


def test_scaled_ints_round_trip_bit_for_bit():
    """encode_scaled at e = 0..6 gives back every value bit for bit in
    the narrowest type; odd values, float32 and empty arrays give None."""
    from orc_rust_spark.codecs.float_plain import decode_scaled, encode_scaled

    rng = np.random.default_rng(4)
    for e in range(7):
        for lo, hi, dtype in ((-128, 128, np.int8), (-(2**15), 2**15, np.int16),
                              (-(2**31), 2**31, np.int32)):
            ints = rng.integers(lo, hi, 2_000)
            ints[:2] = lo, hi - 1
            if e:
                ints[2] = 1  # one value needs all e digits
            vals = ints / 10.0**e
            # a larger hint that still fits scales by it; a smaller one fails
            for hint in (None, e, e + 1, max(e - 1, 0)):
                got = encode_scaled(vals, hint)
                assert got is not None, (e, dtype, hint)
                if hint == e + 1 and got[1] == hint:
                    assert got[0].itemsize >= np.dtype(dtype).itemsize
                else:
                    assert (got[0].dtype, got[1]) == (dtype, e), (e, dtype, hint)
                assert decode_scaled(*got).view(np.uint64).tolist() == \
                    vals.view(np.uint64).tolist()
    cents = rng.integers(0, 10**6, 1_000) / 100
    for odd in ODD.values():
        vals = cents.copy()
        vals[500] = odd
        assert encode_scaled(vals) is None and encode_scaled(vals, 2) is None, odd
    assert encode_scaled(cents.astype(np.float32)) is None
    assert encode_scaled(np.array([], dtype=np.float64)) is None


# --- warm lookups gather from pooled pieces (orc_file._Piece) -----------------

#: rows of key -1 in every group: a lookup of it gathers from five pieces a column
SPREAD = (3, 1_500, 2_600, 3_700, 4_999)
#: (column, row, value) at a row the probes below pick: each column's span
#: in a group, one past an unsigned dtype's range, in groups decoded as
#: int64 (their runs are not all DIRECT), so the frame of reference must
#: widen its offsets
SPANS = [("span8", 1_500, 256), ("span16", 2_600, 1 << 16), ("span32", 3_700, 1 << 32)]


def _piece_table(seed=7) -> pa.Table:
    """A key ``k`` (-1 at SPREAD) and a column for each piece form: ints
    at their type's extremes (int64's min and max in one group), the
    SPANS, dates, whole-second and microsecond timestamps before and
    after 1970, dictionary strings with an empty one and a column of
    them all null (an empty dictionary), booleans, bytes, decimals,
    decimal-like and other doubles, and a column null in all of group 2."""
    rng = np.random.default_rng(seed)
    k = np.arange(N, dtype=np.int64)
    k[list(SPREAD)] = -1
    # in every group: a ramp of fixed steps (DELTA runs) up to the span,
    # then the span repeated; the SPANS rows hold it
    local = np.arange(N, dtype=np.int64) % STRIDE
    span8, span16, span32 = (np.minimum(local * step, value) for step, (_, _, value)
                             in zip((1, 131, 6_700_000), SPANS))
    i64 = rng.integers(-(10**15), 10**15, N)
    i64[[0, 999, 3]] = I64_MIN, I64_MAX, I64_MIN
    secs = rng.integers(-40 * 365, 40 * 365, N) * 86_400  # days either side of 1970
    us = rng.integers(-(2**40), 2**40, N) * 1_000 + rng.integers(0, 1_000, N)
    words = np.array(["", "alpha", "beta", "gamma"])
    cents = rng.integers(-(10**6), 10**6, N) / 100
    nulls = rng.random(N) < 0.3
    nulls[2 * STRIDE: 3 * STRIDE] = True
    nulls[list(SPREAD)] = False
    nulls[2_600] = True
    return pa.table({
        "k": pa.array(k),
        "i8": pa.array(np.r_[-128, 127, rng.integers(-128, 128, N - 2)], pa.int8()),
        "i16": pa.array(np.r_[-(2**15), 2**15 - 1, rng.integers(-9, 9, N - 2)], pa.int16()),
        "i32": pa.array(np.r_[-(2**31), 2**31 - 1, rng.integers(0, 2**20, N - 2)], pa.int32()),
        "i64": pa.array(i64),
        "span8": pa.array(span8), "span16": pa.array(span16), "span32": pa.array(span32),
        "day": pa.array(rng.integers(-30_000, 30_000, N).astype(np.int32), pa.date32()),
        "ts_s": pa.array(secs * 1_000_000, pa.timestamp("us")),
        "ts_us": pa.array(us, pa.timestamp("us")),
        "lang": pa.array(words[rng.integers(0, 4, N)].tolist()),
        "none": pa.nulls(N, pa.string()),
        "flag": pa.array(rng.random(N) < 0.5, mask=rng.random(N) < 0.2),
        "dec": pa.array([decimal.Decimal(int(c)).scaleb(-3) for c in i64 % 10**9],
                        pa.decimal128(12, 3)),
        "wide": pa.array([decimal.Decimal(int(c)).scaleb(-4) for c in i64], pa.decimal128(30, 4)),
        "cents": pa.array(cents),
        "f64": pa.array(rng.normal(size=N)),
        "i64_n": pa.array(i64, mask=nulls),
    })


PIECE_FILES = {
    "ours-zstd": lambda t, p: of.write_orc(t, p, compression="zstd", row_index_stride=STRIDE),
    "pyarrow-zstd": FILES["pyarrow-zstd"],
}
#: (column, value): the key's, and probes of other columns' pieces, with
#: and without nulls (an empty string, the empty dictionary's column,
#: bytes, an int missing from the file)
PIECE_PROBES = [("k", v) for v in [-1, 0, 999, 1_234, 2_100, 4_321, 2_600, 3_700]] + [
    ("lang", ""), ("lang", "beta"), ("none", "alpha"), ("i8", -128), ("i16", 3),
    ("i64_n", None), ("span8", 256), ("day", None), ("i64", I64_MAX), ("i64", 5)]


@pytest.fixture(scope="module")
def piece_table():
    return _piece_table()


@pytest.mark.parametrize("writer", sorted(PIECE_FILES))
def test_pieces_warm_cold_and_filter_agree(pool, piece_table, tmp_path, writer):
    """Every piece form read warm (from the pool), cold (each lookup on an
    emptied pool) and by a filter of the source agree, value for value;
    the warm sweep decodes no piece and hits the pool."""
    path = str(tmp_path / "pieces.orc")
    PIECE_FILES[writer](piece_table, path)
    # a None value stands for the column's value at row 1_500 (not null)
    probes = [(c, piece_table.column(c)[1_500].as_py() if v is None else v)
              for c, v in PIECE_PROBES]
    want = {p: piece_table.filter(pc.equal(piece_table.column(p[0]), p[1])) for p in probes}
    assert want[("i64_n", probes[13][1])].num_rows and not want[("i64", 5)].num_rows
    for column, value in probes:
        of.forget_reader(path)
        _same(of.orc_point_lookup(path, column, value)[0], want[(column, value)])
    for column, value in probes:
        of.orc_point_lookup(path, column, value)
    kinds = {p.kind for p, _ in pool._items.values() if isinstance(p, of._Piece)}
    assert kinds == {"for", "codes", "scaled", "dense", "present"}
    built = []
    real = of._build_piece
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(of, "_build_piece", lambda *a: built.append(a[2:5]) or real(*a))
        hits = pool.stats()["hits"]
        for column, value in probes:
            _same(of.orc_point_lookup(path, column, value)[0], want[(column, value)])
    assert not built and pool.stats()["hits"] > hits


@pytest.mark.parametrize("writer", sorted(PIECE_FILES))
def test_wide_spans_keep_their_values(pool, piece_table, tmp_path, writer):
    """int64's min and max in one group (a span of 2**64 - 1) and spans
    one past uint8, uint16 and uint32 come back exact, cold and warm, and
    their pieces hold the span's offsets in the dtype that fits it."""
    path = str(tmp_path / "spans.orc")
    PIECE_FILES[writer](piece_table, path)
    for _ in range(2):
        for name, row, value in SPANS + [("i64", 999, I64_MAX), ("i64", 0, I64_MIN)]:
            key = piece_table.column("k")[row].as_py()
            got = of.orc_point_lookup(path, "k", key)[0].column(name).to_pylist()
            assert got == piece_table.filter(pc.equal(piece_table.column("k"), key)
                                             ).column(name).to_pylist(), (name, row)
            assert value in got
    reader = _reader_of(path)
    names = dict(zip(reader.meta.types[0].subtypes, reader.meta.types[0].field_names))
    dtypes = {(names[key[3][0]], key[3][1]): piece.values.dtype
              for key, (piece, _) in pool._items.items()
              if key[0] is reader and key[2] == "piece" and piece.kind == "for"}
    assert dtypes[("span8", 1)] == np.uint16
    assert dtypes[("span16", 2)] == np.uint32
    assert dtypes[("span32", 3)] == np.uint64
    assert dtypes[("i64", 0)] == np.uint64


def test_sub_microsecond_timestamps_read_alone(pool, tmp_path):
    """A group holding sub-microsecond timestamps, and pre-1970 ones with
    sub-second parts, has no piece: a row of it with whole microseconds
    reads exact, cold and warm, and a sub-microsecond row raises, cold
    and warm."""
    ns = np.array([-1_500_000_000_123, -1_000, 5, 1_000_000_001_000_000_000,
                   -86_400_000_000_000, 2_000_000], dtype=np.int64)
    tbl = pa.table({"k": pa.array(np.arange(ns.size)),
                    "ts": pa.array(ns.astype("datetime64[ns]"))})
    path = str(tmp_path / "ns.orc")
    paorc.write_table(tbl, path, row_index_stride=STRIDE)
    for _ in range(2):
        for row in (1, 3, 4, 5):
            got = of.orc_point_lookup(path, "k", row)[0]
            assert got.column("ts").cast(pa.int64()).to_pylist() == [ns[row] // 1_000], row
        for row in (0, 2):
            with pytest.raises(ValueError, match="sub-microsecond"):
                of.orc_point_lookup(path, "k", row)


def test_warm_lookup_of_a_pooled_stripe_reads_nothing(pool, piece_table, tmp_path,
                                                      monkeypatch):
    """A repeated lookup whose stripe's pieces and blocks are all pooled
    reads no byte of the file and plans no stream range, by an integer and
    by a direct string key, with direct string and binary columns (the
    all-null one among them) read at their rows."""
    rng = np.random.default_rng(3)
    piece_table = piece_table.append_column(
        "url", pa.array([f"https://example.org/{i * 7919 % N}" for i in range(N)])
    ).append_column(
        "text", pa.array([f"{i} " + "lorem " * int(m)
                          for i, m in enumerate(rng.integers(0, 30, N))])
    ).append_column("blob", pa.array([rng.bytes(int(m)) for m in rng.integers(0, 50, N)]))
    path = str(tmp_path / "warm.orc")
    PIECE_FILES["ours-zstd"](piece_table, path)
    assert all(_direct(path, c) for c in ("url", "text", "blob", "none"))
    probes = [("k", -1), ("url", piece_table.column("url")[SPREAD[2]].as_py())]
    for key, value in probes:
        of.orc_point_lookup(path, key, value)
    reads = []
    real_open = of.fsio.open_input

    class Counting:
        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            self.fh.__enter__()
            return self

        def __exit__(self, *exc):
            return self.fh.__exit__(*exc)

        def read(self, *args):
            reads.append(args)
            return self.fh.read(*args)

        def __getattr__(self, name):
            return getattr(self.fh, name)

    def planned(*args):
        raise AssertionError("a pooled stripe planned or fetched stream bytes")

    monkeypatch.setattr(of.fsio, "open_input", lambda *a: Counting(real_open(*a)))
    monkeypatch.setattr(of.StripeIndex, "ranges", planned)
    monkeypatch.setattr(of, "_fetch_streams", planned)
    for key, value in probes:
        got = of.orc_point_lookup(path, key, value)[0]
        assert not reads and got.num_rows
        _same(got, piece_table.filter(pc.equal(piece_table.column(key), value)))


def test_mixed_type_set_probe_keeps_and_matches_nothing(table, tmp_path):
    """A set IN-probe of mixed types neither raises nor sorts: a point
    lookup returns no row, as the same values as a list do, and a pruned
    read keeps the same groups as the list (the string, which no integer
    statistic can rule out, keeps every one)."""
    path = str(tmp_path / "mixed.orc")
    _ours(table, path, "zstd")
    for probe in ({10, "a"}, [10, "a"], frozenset({"a", 10})):
        got, decoded, total = of.orc_point_lookup(path, "k", probe)
        assert got.num_rows == 0 and 0 < decoded <= total, probe
    meta = of.read_metadata(path)
    st = meta.stripes[0]
    with open(path, "rb") as fh:
        fh.seek(st.offset)
        body = fh.read(st.index_length + st.data_length)
        footer = fh.read(st.footer_length)
    got = [of.decode_stripe_pruned(body, footer, meta, st.number_of_rows, "k", eq=probe)
           for probe in ({10, "a"}, [10, "a"], {1_500, 1_600})]
    as_predicate = of.decode_stripe_pruned(body, footer, meta, st.number_of_rows,
                                           predicates=[{"column": "k", "eq": {"a", 10}}])
    assert as_predicate[1:] == got[0][1:]
    assert got[0][1:] == got[1][1:] == (N // STRIDE, N // STRIDE)
    _same(got[0][0], got[1][0])
    assert 10 in got[0][0].column("k").to_pylist()
    assert got[2][1] < N // STRIDE  # a set of comparable values still prunes


def test_lookup_fetches_no_stream_range_twice(pool, table, tmp_path, monkeypatch):
    """A direct string key's group is fetched by the key phase, and the
    rows' phase reuses its bytes and blocks: a cold lookup fetches every
    stream range once, and a warm one, whose pieces and blocks are
    pooled, fetches nothing."""
    path = str(tmp_path / "text.orc")
    _ours(table, path, "zstd")
    wanted = []
    real = of._fetch_streams

    def recording(ix, want, fetch):
        wanted.append(want)
        return real(ix, want, fetch)

    monkeypatch.setattr(of, "_fetch_streams", recording)
    value = table.column("text")[1_501].as_py()
    for warm in (False, True):
        del wanted[:]
        got = of.orc_point_lookup(path, "text", value)[0]
        _same(got, table.filter(pc.equal(table.column("text"), value)))
        ranges = [(key, r) for want in wanted for key, rs in want.items() for r in rs]
        assert (not wanted) if warm else (wanted and len(ranges) == len(set(ranges)))


def test_direct_string_at_the_last_slot_of_a_full_group(pool, tmp_path):
    """A group of 2**15 rows with no null in a column whose PRESENT stream
    exists (the next group has one) maps its last row to dense slot
    32,767: that row's string reads exact, cold and warm."""
    n = 1 << 15
    text = [f"row-{i}" for i in range(2 * n)]
    text[n + 5] = None
    tbl = pa.table({"k": pa.array(np.arange(2 * n)), "text": pa.array(text)})
    path = str(tmp_path / "full.orc")
    of.write_orc(tbl, path, compression="zstd", row_index_stride=n)
    for _ in range(2):
        got = of.orc_point_lookup(path, "k", n - 1)[0]
        assert got.column("text").to_pylist() == [f"row-{n - 1}"]


# --- direct string keys: a length filter, then a byte compare -------------


def _direct(path, column):
    """Whether ``column`` of the file's first stripe is a direct (not a
    dictionary) string or binary column, or None if it is neither."""
    meta = of.read_metadata(path)
    cid = meta.types[0].subtypes[meta.types[0].field_names.index(column)]
    if meta.types[cid].kind not in of._STRING_KINDS:
        return None
    st = meta.stripes[0]
    with open(path, "rb") as fh:
        fh.seek(st.offset + st.index_length + st.data_length)
        ix = of.StripeIndex(fh.read(st.footer_length), meta, st.number_of_rows,
                            lambda end: b"")
    return not ix.cols[cid].is_dict


def _string_key_table(seed=5) -> pa.Table:
    """A direct string key ``url`` and the same bytes as a binary key
    ``raw``, with a string and a binary payload, over five 1,000-row
    groups: keys that are prefixes of others ("a", "ab", "abc", each in
    two groups), the empty string, nulls, long values that cross 4 KiB
    blocks, and a key every group repeats."""
    rng = np.random.default_rng(seed)
    url = [f"https://example.org/{i:05d}/" + "x" * int(m)
           for i, m in enumerate(rng.integers(0, 80, N))]
    for rows, value in [((7, 3_990), "a"), ((8, 2_001), "ab"), ((9, 4_999), "abc"),
                        ((0, 1_500, 1_501), ""), ((999, 1_999, 2_999, 3_999, 4_000), "same"),
                        ((2_500,), "y" * 9_000), ((2_501,), "y" * 8_999 + "z")]:
        for r in rows:
            url[r] = value
    nulls = rng.random(N) < 0.1
    nulls[[7, 8, 9, 0, 1_500, 1_501, 999, 1_999, 2_999, 3_999, 4_000, 2_500, 2_501]] = False
    nulls[[10, 3_000]] = True
    url = pa.array(url, mask=nulls)
    return pa.table({
        "url": url,
        "raw": url.cast(pa.binary()),
        "text": pa.array([f"{i} " + "lorem " * int(m)
                          for i, m in enumerate(rng.integers(0, 40, N))],
                         mask=rng.random(N) < 0.2),
        "blob": pa.array([rng.bytes(int(m)) for m in rng.integers(0, 60, N)]),
    })


STRING_FILES = {"ours-zstd": FILES["ours-zstd"], "ours-none": FILES["ours-none"],
                "pyarrow-zstd": FILES["pyarrow-zstd"], "pyarrow-zlib": FILES["pyarrow-zlib"]}
#: (column, probe): prefixes of one another, the empty string, a key every
#: group repeats, long keys one byte apart, a key of a common length that
#: is absent, a str probe of the binary column and a bytes probe of the
#: string one, a bytes probe that is not UTF-8, and probes of other types
STRING_PROBES = [("url", "a"), ("url", "ab"), ("url", "abc"), ("url", ""), ("url", "same"),
                 ("url", "y" * 9_000), ("url", "y" * 8_999 + "z"), ("url", "zz"),
                 ("raw", "ab"), ("url", b"abc"), ("raw", b""), ("url", b"\xff"),
                 ("raw", "same"), ("url", 5), ("raw", 5), ("url", None)]


def _filtered(table: pa.Table, column: str, value) -> pa.Table:
    """The rows of ``table`` whose ``column`` equals ``value`` by
    pyarrow; none for a probe pyarrow cannot compare with the column."""
    try:
        mask = pc.equal(table.column(column), value)
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid, TypeError):
        return table.slice(0, 0)
    return table.filter(mask.combine_chunks().fill_null(False))


@pytest.mark.parametrize("writer", sorted(STRING_FILES))
def test_direct_string_lookups_equal_filter(pool, tmp_path, monkeypatch, writer):
    """Lookups by a direct string and a direct binary key equal a filter of
    the source cold (each on an emptied pool, whose misses count each
    entry once), warm (from pooled pieces and blocks: no piece decoded,
    nothing fetched, nothing decompressed) and with a pool too small to
    keep a group's blocks, on this engine's files (4 KiB blocks,
    compressed or not) and on pyarrow's."""
    table = _string_key_table()
    path = str(tmp_path / "strings.orc")
    STRING_FILES[writer](table, path)
    assert all(_direct(path, c) for c in ("url", "raw", "text", "blob"))
    want = {p: _filtered(table, *p) for p in STRING_PROBES}
    assert all(want[p].num_rows for p in STRING_PROBES[:7])
    assert want[("url", "same")].num_rows == 5 and not want[("url", "zz")].num_rows
    for column, value in STRING_PROBES:
        of.forget_reader(path)
        before = pool.stats()
        got, decoded, total = of.orc_point_lookup(path, column, value)
        _same(got, want[(column, value)])
        assert total == N // STRIDE
        # every entry a cold lookup missed was filed, and counted once
        after = pool.stats()
        assert after["misses"] - before["misses"] == after["entries"]
    for column, value in STRING_PROBES:
        of.orc_point_lookup(path, column, value)
    fetched, decompressed = [], []
    real_fetch, real_block = of._fetch_streams, of._block_at
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(of, "_build_piece", lambda *a: pytest.fail("a warm lookup built a piece"))
        mp.setattr(of, "_fetch_streams", lambda *a: fetched.append(a[1]) or real_fetch(*a))
        mp.setattr(of, "_block_at", lambda *a: decompressed.append(a[2]) or real_block(*a))
        for column, value in STRING_PROBES:
            _same(of.orc_point_lookup(path, column, value)[0], want[(column, value)])
    assert not fetched and not decompressed
    monkeypatch.setattr(of, "POOL_BYTES", 8 << 10)
    of.forget_reader(path)
    for _ in range(2):
        for column, value in STRING_PROBES:
            _same(of.orc_point_lookup(path, column, value)[0], want[(column, value)])
    assert pool.stats()["evictions"] and pool.stats()["bytes"] <= 8 << 10

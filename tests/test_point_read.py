"""Point lookups read the non-key columns at the matching rows only
(sources/orc_file.py:_decode_column_rows): PRESENT maps the rows to dense
offsets once per group, RLEv2 streams are read by one walk over their run
headers, raw streams by their byte windows, and each column becomes one
Arrow array. Every scalar kind, with and without nulls, must come back as
a filter of the source table and as a whole-group decode of the hit
groups followed by a take, on this engine's files (4 KiB blocks, so a
1,000-row group spans several) and on pyarrow's, under none, zlib and
zstd. The probed key sits in a group's first and last rows, which hold
the first and last bytes of the group's blocks.
"""

import decimal

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

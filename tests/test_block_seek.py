"""Point lookups that seek inside compressed streams by block arithmetic.

Files of this engine's writer start every row group of a stream on a
compression-block boundary, and every block but a group's last holds
exactly the PostScript's compressionBlockSize bytes; the Footer's
softwareVersion names the engine. A lookup then decompresses a direct
string or binary DATA stream only over the blocks that hold the selected
values (sources/orc_file.py:_value_bytes, by the group's block
directory), and a float DATA stream from the block that holds the first
selected value (_group_bytes). Every lookup here must equal a filter of
the source table; the block counts show the seek; files of other
writers, and merges of mixed inputs, read from the group start; a
marker whose blocks are short fails loudly.
"""

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as paorc
import pytest

from orc_rust_spark.codecs import block as blockc
from orc_rust_spark.codecs.util import CorruptStream
from orc_rust_spark.sources import orc_file as of
from orc_rust_spark.sources.orc_merge import merge_orc_files

N = 40_000
BLOCK = blockc.DEFAULT_BLOCK_SIZE
SMALL = 64 * 1024
DUP = (5, N // 2, N - 5)  # rows sharing the key -1


def _table(n=N, seed=7) -> pa.Table:
    """One 40,000-row group per file: ``txt`` compressible direct strings
    with 30% nulls (~12 blocks), ``blob`` incompressible binaries (stored
    "original", ~16 blocks), ``x`` doubles with 10% nulls (2 blocks),
    ``f`` floats. Key -1 sits in the first, a middle and the last rows."""
    rng = np.random.default_rng(seed)
    k = np.arange(n, dtype=np.int64)
    k[list(DUP)] = -1
    words = np.array("the quick brown fox jumps over a lazy dog".split())
    txt = [f"{i:06d} " + " ".join(words[rng.integers(0, len(words), rng.integers(2, 30))])
           for i in range(n)]
    return pa.table({
        "k": pa.array(k),
        "txt": pa.array(txt, mask=rng.random(n) < 0.3),
        "blob": pa.array([rng.bytes(int(m)) for m in rng.integers(50, 150, n)],
                         type=pa.binary()),
        "x": pa.array(rng.random(n), mask=rng.random(n) < 0.1),
        "f": pa.array(rng.random(n).astype(np.float32)),
    })


def _write(tbl, path, block=None, record=True):
    """Write with this engine's writer; ``block`` frames every stream in
    blocks of that size, and ``record`` also records it in the
    PostScript (else the PostScript keeps the default)."""
    if block is None:
        of.write_orc(tbl, path, compression="zstd", row_index_stride=N)
        return path
    real = blockc.compress_stream
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(of, "_compress_or_raw",
                   lambda b, c: b if c == "none" else real(b, c, block_size=block))
        if record:
            mp.setattr(blockc, "DEFAULT_BLOCK_SIZE", block)
        of.write_orc(tbl, path, compression="zstd", row_index_stride=N)
    return path


@pytest.fixture(scope="module")
def table():
    return _table()


@pytest.fixture(scope="module")
def ours(table, tmp_path_factory):
    return _write(table, str(tmp_path_factory.mktemp("seek") / "ours.orc"))


def _same_rows(got: pa.Table, want: pa.Table):
    assert got.column_names == want.column_names
    assert got.num_rows == want.num_rows
    for col in want.column_names:
        g = got.column(col).combine_chunks().cast(want.schema.field(col).type)
        assert g.equals(want.column(col).combine_chunks()), col


def _lookup(path, table, key, cold=True):
    """The lookup of ``key``, checked against a filter of ``table``;
    -> {(column name, stream kind): blocks decompressed}. A ``cold``
    lookup first drops the file's reader and its pooled data, so the
    counts do not depend on the lookups before it."""
    blocks: Counter = Counter()
    real = of._block_at
    names = dict(zip(range(1, table.num_columns + 1), table.column_names))

    def counting(raw, comp, pos, cache, ckey):
        if (ckey, pos) not in cache:
            blocks[(names[ckey[0]], ckey[1])] += 1
        return real(raw, comp, pos, cache, ckey)

    if cold:
        of.forget_reader(path)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(of, "_block_at", counting)
        got, decoded, total = of.orc_point_lookup(path, "k", key)
    _same_rows(got, table.filter(pc.equal(table.column("k"), key)))
    assert total == 1 and decoded <= 1
    return blocks


def _dense_rows(arr: pa.Array) -> np.ndarray:
    """Row numbers of ``arr``'s non-null values, in dense order."""
    return np.flatnonzero(np.asarray(arr.is_valid()))


def _edge_rows(arr: pa.Array) -> dict:
    """Rows of a string or binary column whose value lies in the first
    block, inside the fifth, in the last block, and across the first
    block edge."""
    dense = _dense_rows(arr)
    lens = pc.binary_length(arr.drop_null()).to_numpy().astype(np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    j = int(np.flatnonzero((starts < BLOCK) & (ends > BLOCK))[0])
    m = int(np.flatnonzero(starts >= 4 * BLOCK)[0])
    assert starts[-2] // BLOCK > 5  # the last block is far from the fifth
    rows = {"first": int(dense[1]), "middle": int(dense[m]),
            "last": int(dense[-2]), "edge": int(dense[j])}
    assert not set(rows.values()) & set(DUP)
    return rows


def _data_stream_blocks(path, col: int) -> list[tuple[int, bool]]:
    """(length, stored original) of each block of column ``col``'s DATA
    stream in the file's one stripe."""
    meta = of.read_metadata(path)
    st = meta.stripes[0]
    with open(path, "rb") as fh:
        fh.seek(st.offset + st.index_length + st.data_length)
        ix = of.StripeIndex(fh.read(st.footer_length), meta, st.number_of_rows,
                            lambda end: b"")
        at, length = ix.offsets[(col, of.S_DATA)]
        fh.seek(st.offset + at)
        raw = fh.read(length)
    out, pos = [], 0
    while pos < len(raw):
        head = int.from_bytes(raw[pos: pos + 3], "little")
        out.append((head >> 1, bool(head & 1)))
        pos += 3 + (head >> 1)
    return out


def test_writer_records_block_size_and_engine(ours):
    meta = of.read_metadata(ours)
    assert meta.block_size == BLOCK and meta.software == of.SOFTWARE_VERSION
    assert meta.seek_block_size == BLOCK
    assert of.task_meta(meta).seek_block_size == BLOCK
    lib = paorc.ORCFile(ours)
    assert lib.software_version.endswith(of.SOFTWARE_VERSION)
    assert lib.compression_size == BLOCK


@pytest.mark.parametrize("where", ["first", "middle", "last", "edge"])
def test_nullable_string_rows_seek_to_their_blocks(ours, table, where):
    """A selected string in the first block, a middle one, the last
    block, and one straddling a block edge: the rows map to dense values
    through PRESENT (30% of txt is null), and txt's DATA decompresses
    only the blocks that hold the value. The group's block directory
    checks that its blocks end where its DATA ends, and each block's size,
    so a value in the group's last block reads that block alone."""
    row = _edge_rows(table.column("txt").combine_chunks())[where]
    key = int(table.column("k")[row].as_py())
    blocks = _lookup(ours, table, key)
    assert blocks[("txt", of.S_DATA)] == (2 if where == "edge" else 1)
    assert len(_data_stream_blocks(ours, 2)) > 8


@pytest.mark.parametrize("where", ["first", "middle", "last", "edge"])
def test_original_binary_blocks_seek(ours, table, where):
    """Incompressible binaries are stored "original": the header walk
    steps over them by their stored length."""
    stored = _data_stream_blocks(ours, 3)
    assert all(orig for _, orig in stored) and len(stored) > 8
    assert all(n == BLOCK for n, _ in stored[:-1])
    row = _edge_rows(table.column("blob").combine_chunks())[where]
    blocks = _lookup(ours, table, int(table.column("k")[row].as_py()))
    assert blocks[("blob", of.S_DATA)] == (2 if where == "edge" else 1)


@pytest.mark.parametrize("where", ["first", "last"])
def test_double_rows_seek_by_eight_bytes_a_value(ours, table, where):
    """A nullable double column: the value's byte offset is 8 x its dense
    index, so a value in the first block reads that block alone, and one
    in the second (last) block reads it and checks the first."""
    dense = _dense_rows(table.column("x").combine_chunks())
    row = int(dense[1] if where == "first" else dense[-2])
    assert row not in DUP
    assert (8 * int(np.searchsorted(dense, row)) >= BLOCK) == (where == "last")
    blocks = _lookup(ours, table, int(table.column("k")[row].as_py()))
    assert blocks[("x", of.S_DATA)] == (1 if where == "first" else 2)


def test_rows_in_every_block_share_one_read(ours, table):
    """A key on the first, a middle and the last rows: one window over
    every block, and each selected value is picked out of it."""
    _lookup(ours, table, -1)
    assert table.filter(pc.equal(table.column("k"), -1)).num_rows == len(DUP)


def test_repeated_lookup_decompresses_no_pooled_block(ours, table):
    """A lookup repeated on the same reader finds every block the first
    one decompressed, and the probed column's group, in the DataPool."""
    key = N // 3
    assert sum(_lookup(ours, table, key).values()) > 0
    before = of.pool_stats()
    assert sum(_lookup(ours, table, key, cold=False).values()) == 0
    assert of.pool_stats()["hits"] > before["hits"]


def test_rows_spread_over_the_group(ours, table):
    """Rows every 997 along the group, and a key with no row."""
    for key in list(range(1, N, 997)) + [-2]:
        _lookup(ours, table, key)


def test_foreign_file_reads_from_group_start(table, tmp_path):
    """A pyarrow (liborc) file records no engine marker: every group read
    starts at the group, with no block size to seek by."""
    path = str(tmp_path / "liborc.orc")
    paorc.write_table(table, path, compression="zstd", row_index_stride=N)
    meta = of.read_metadata(path)
    assert meta.block_size and not meta.own_writer and meta.seek_block_size == 0
    seen = []
    real = of._group_bytes

    def spy(*args):
        seen.append(args[7] if len(args) > 7 else 0)
        return real(*args)

    row = _edge_rows(table.column("txt").combine_chunks())["last"]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(of, "_group_bytes", spy)
        for key in (int(table.column("k")[row].as_py()), -1, 17):
            got, _, _ = of.orc_point_lookup(path, "k", key)
            _same_rows(got, table.filter(pc.equal(table.column("k"), key)))
    assert seen and set(seen) == {0}


def test_other_block_size_recorded_seeks_by_it(table, tmp_path):
    """A file framed in 64 KiB blocks that records 64 KiB seeks by it."""
    path = _write(table, str(tmp_path / "small.orc"), block=SMALL)
    assert of.read_metadata(path).seek_block_size == SMALL
    row = _edge_rows(table.column("txt").combine_chunks())["last"]
    blocks = _lookup(path, table, int(table.column("k")[row].as_py()))
    assert blocks[("txt", of.S_DATA)] == 1
    _lookup(path, table, -1)


@pytest.mark.parametrize("where", ["first", "last", "edge"])
def test_marker_with_short_blocks_raises(table, tmp_path, where):
    """Blocks of 64 KiB under a PostScript that says 256 KiB: the block
    that a read decompresses is short and not the group's last (a seek
    past the first block lands on the wrong one), so the lookup raises
    CorruptStream instead of returning wrong rows."""
    path = _write(table, str(tmp_path / "lying.orc"), block=SMALL, record=False)
    assert of.read_metadata(path).seek_block_size == BLOCK
    row = _edge_rows(table.column("txt").combine_chunks())[where]
    with pytest.raises(ValueError, match="corrupt ORC stripe") as got:
        of.orc_point_lookup(path, "k", int(table.column("k")[row].as_py()))
    assert isinstance(got.value.__cause__, CorruptStream)
    assert of.orc_to_table(path).equals(of.orc_to_table(_write(
        table, str(tmp_path / "whole.orc"))))  # a scan reads no window


def test_marker_whose_last_block_fits_the_frame_raises(tmp_path):
    """Blocks of 64 KiB under a PostScript that says 256 KiB, over a group
    of 320 KiB: the group's block directory ends in a 64 KiB block, as
    large as the file's second block, so only the count of the group's
    blocks tells the framing apart; a lookup of a value past 256 KiB
    raises instead of reading the second block's bytes."""
    n = (BLOCK + SMALL) // 64
    rng = np.random.default_rng(2)
    tbl = pa.table({"k": pa.array(np.arange(n)),
                    "blob": pa.array([rng.bytes(64) for _ in range(n)], pa.binary())})
    path = _write(tbl, str(tmp_path / "lying.orc"), block=SMALL, record=False)
    assert len(_data_stream_blocks(path, 2)) == 5
    with pytest.raises(ValueError, match="corrupt ORC stripe") as got:
        of.orc_point_lookup(path, "k", n - 1)
    assert isinstance(got.value.__cause__, CorruptStream)


def test_group_bytes_window_checks():
    """_group_bytes on hand-framed streams: a window equals the slice of
    the decompressed group with and without a block size; a window past
    the group's end, or blocks framed at another size than the one given,
    whether larger or smaller, compressed or stored, raise."""
    rng = np.random.default_rng(1)
    data = bytes(rng.integers(0, 4, 3 * SMALL + 123, dtype=np.uint8))
    raw = blockc.compress_stream(data, "zstd", block_size=SMALL)
    for lo, hi in [(0, 10), (SMALL - 5, SMALL + 5), (2 * SMALL, 2 * SMALL + 1),
                   (3 * SMALL + 100, 3 * SMALL + 123), (7, 7)]:
        for size in (0, SMALL):
            got = of._group_bytes(raw, "zstd", (0, 0), None, {}, "k", (lo, hi), size)
            assert got == data[lo:hi], (lo, hi, size)
    with pytest.raises(CorruptStream):
        of._group_bytes(raw, "zstd", (0, 0), None, {}, "k", (0, len(data) + 1), SMALL)
    with pytest.raises(CorruptStream):
        of._group_bytes(raw, "zstd", (0, 0), None, {}, "k", (SMALL + 1, SMALL + 2), 2 * SMALL)
    # blocks of 128 KiB then 100 bytes, read as if 64 KiB: the step over
    # the first lands on the group's last block, which would hand back
    # its bytes 10..20 for the group's bytes 64 KiB + 10..20
    for tail in (bytes(rng.integers(0, 4, 2 * SMALL + 100, dtype=np.uint8)),
                 rng.bytes(2 * SMALL + 100)):  # compressed, stored
        framed = blockc.compress_stream(tail, "zstd", block_size=2 * SMALL)
        with pytest.raises(CorruptStream):
            of._group_bytes(framed, "zstd", (0, 0), None, {}, "k",
                            (SMALL + 10, SMALL + 20), SMALL)


# --- merges: the marker survives only inputs of one engine and block size --


def _merged(tmp_path, parts):
    out = str(tmp_path / "merged.orc")
    merge_orc_files(parts, out)
    return out


def test_merge_of_own_files_keeps_marker(table, ours, tmp_path):
    half = table.slice(0, N // 2)
    other = _write(half, str(tmp_path / "half.orc"))
    out = _merged(tmp_path, [ours, other])
    meta = of.read_metadata(out)
    assert meta.software == of.SOFTWARE_VERSION and meta.seek_block_size == BLOCK
    both = pa.concat_tables([table, half])
    row = _edge_rows(table.column("txt").combine_chunks())["last"]
    for key in (int(table.column("k")[row].as_py()), -1):
        got, _, _ = of.orc_point_lookup(out, "k", key)
        _same_rows(got, both.filter(pc.equal(both.column("k"), key)))


@pytest.mark.parametrize("mix", ["liborc", "block_size"])
def test_merge_of_mixed_inputs_drops_marker(table, ours, tmp_path, mix):
    """A liborc input, or one of ours framed in 64 KiB blocks: the merged
    file names no engine (the PostScript advertises the larger block
    size), so no stripe is read by block arithmetic, and lookups in every
    input's stripes equal the filter."""
    other = str(tmp_path / "other.orc")
    if mix == "liborc":
        paorc.write_table(table, other, compression="zstd", row_index_stride=N)
    else:
        _write(table, other, block=SMALL)
    out = _merged(tmp_path, [other, ours])
    meta = of.read_metadata(out)
    assert meta.software == "" and meta.seek_block_size == 0
    assert meta.block_size == BLOCK
    assert paorc.ORCFile(out).read().num_rows == 2 * N
    both = pa.concat_tables([table, table])
    rows = _edge_rows(table.column("txt").combine_chunks())
    for key in (int(table.column("k")[rows["last"]].as_py()),
                int(table.column("k")[rows["edge"]].as_py()), -1):
        got, _, _ = of.orc_point_lookup(out, "k", key)
        _same_rows(got, both.filter(pc.equal(both.column("k"), key)))

"""The encode operator: DataFrame -> chunk table, via mapInArrow.

Spark lifecycle analog of the reference writer (SURVEY §3.2): executors
stream Arrow batches into a per-task stripe buffer; when the buffered raw
size crosses the stripe threshold (64 MiB, matching
src/arrow_writer.rs:52,118) the stripe is flushed through the per-column
encoders and emitted as chunk-table rows. All value work is NumPy/pyarrow;
rows never materialize as Python objects (mapInArrow, not per-row UDFs).

Two batch sources feed that one flush loop (_flush_chunks). A bare parquet
scan is read by the Python workers themselves, over Spark's own file
partitions and in the batches Spark would send (_worker_splits,
_read_split), like the reference doing its own IO through a byte-range
ChunkReader (SURVEY §2.3): parquet values never cross the JVM->Python
boundary. Any other input is handed over by Spark's mapInArrow. Both give
a task the same rows in the same batches, so they write the same chunks.
"""

from __future__ import annotations

import json
import math
import time
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..codecs import block as blockc
from ..codecs.boolean_rle import encode_boolean_rle
from ..codecs.present import encode_present
from ..codecs.float_plain import encode_float
from ..codecs.fsst import FsstTable, fsst_encode
from ..codecs.rle_v2 import BATCH_VALUES, encode_rlev2
from ..codecs.selector import choose_string_codec, integer_chunk_stats, string_chunk_stats
from ..codecs.string_codec import sorted_dictionary
from ..codecs.timestamp_split import TICKS_PER_SECOND, split_timestamp, split_timestamp_us
from ..sources import chunk_table as ct

STRIPE_BYTES = 64 * 1024 * 1024  # reference stripe flush threshold
BLOCK_MIN_BYTES = 4096  # streams smaller than this skip general compression


def _flatten_large_binary(arr: pa.Array) -> tuple[memoryview, np.ndarray]:
    """-> (the values' bytes as a view of the Arrow data buffer, not a
    copy; their n + 1 offsets into it)."""
    arr = arr.cast(pa.large_binary()) if not pa.types.is_large_binary(arr.type) else arr
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=len(arr) + 1,
                         offset=arr.offset * 8)
    data = (memoryview(arr.buffers()[2])[offs[0]: offs[-1]]
            if len(arr) else memoryview(b""))
    return data, offs - offs[0]


def _float_bounds(mins: np.ndarray, maxs: np.ndarray) -> tuple[str, str]:
    """min and max statistics strings of float values in Spark's order,
    where NaN sorts above +inf: the max of values holding NaN is 'nan', an
    upper bound no probe rules out, and the min is 'nan' only when every
    value is. repr() round-trips exactly, infinities included."""
    finite_min = mins[~np.isnan(mins)]
    return (repr(float(finite_min.min())) if finite_min.size else "nan",
            "nan" if np.isnan(maxs).any() else repr(float(maxs.max())))


def _encode_string_column(
    dense: pa.Array, fsst_table_bytes: bytes | None, block_codec: str = "none",
    force_codec: str | None = None,
) -> tuple[str, dict, list[tuple[str, bytes]], int]:
    """-> (codec, stats, [(stream_kind, bytes)], dict_size).

    ``force_codec`` pins the string strategy ('dict'/'fsst'/'direct'),
    bypassing the selector trial — coverage gates and corpora where the
    caller knows better than the bounded sample."""
    dense = dense.cast(pa.large_binary()) if not pa.types.is_large_binary(dense.type) else dense
    reuse: dict = {}
    stats = string_chunk_stats(dense, reuse)
    table = FsstTable.deserialize(fsst_table_bytes) if fsst_table_bytes else None
    if force_codec is not None:
        if force_codec == "fsst" and table is None:
            raise ValueError("force_codec='fsst' requires a trained fsst_table")
        codec, detail = force_codec, dict(stats, forced=True)
    else:
        codec, detail = choose_string_codec(dense, stats, table, block_codec)
    data, offsets = _flatten_large_binary(dense)
    lengths = np.diff(offsets)
    if codec == "dict":
        ranks, dict_data, dict_lens, n_dict = sorted_dictionary(
            dense, reuse.get("denc"))
        streams = [
            (ct.DATA, encode_rlev2(ranks, signed=False)),
            (ct.DICTIONARY_DATA, dict_data),
            (ct.LENGTH, encode_rlev2(dict_lens, signed=False)),
        ]
        return codec, detail, streams, n_dict
    if codec == "fsst":
        enc, _ = fsst_encode(data, offsets, table)
        streams = [
            (ct.DATA, enc),
            (ct.LENGTH, encode_rlev2(lengths, signed=False)),
            (ct.SYMBOL_TABLE, table.serialize()),
        ]
        return codec, detail, streams, 0
    streams = [
        (ct.DATA, data),
        (ct.LENGTH, encode_rlev2(lengths, signed=False)),
    ]
    return "direct", detail, streams, 0


def encode_chunk(
    table: pa.Table, part_id: int, chunk_ord: int, plan: dict
) -> pa.RecordBatch:
    """Encode one stripe of rows into chunk-table rows.

    Nested columns (list/struct/map) follow the reference's stream model
    (src/array_decoder/{list.rs,struct_decoder.rs,map.rs}): the parent
    column carries PRESENT (+ LENGTH for list/map, RLEv2 of per-value
    child counts); children are encoded as separate chunk-table columns
    named ``parent.item`` / ``parent.<field>`` / ``parent.key|value``,
    recursively, each with its own row_count.
    """
    rows: dict[str, list] = {f.name: [] for f in ct.CHUNK_ARROW_SCHEMA}

    def emit(column, kind, codec, data_bytes, *, n, null_count=0, dict_size=0,
             raw=0, minv=None, maxv=None, ms=0.0, stats=None, block_codec="none"):
        final = data_bytes
        enc_len = len(data_bytes)
        if block_codec != "none":
            final = blockc.compress_stream(
                data_bytes, block_codec,
                block_size=blockc.CHUNK_BLOCK_SIZE)
        rows["part_id"].append(part_id)
        rows["chunk_ord"].append(chunk_ord)
        rows["column"].append(column)
        rows["stream_kind"].append(kind)
        rows["codec"].append(codec)
        rows["block_codec"].append(block_codec)
        rows["data"].append(bytes(final))  # an uncompressed view becomes bytes
        rows["row_count"].append(n)
        rows["null_count"].append(null_count)
        rows["dict_size"].append(dict_size)
        rows["raw_bytes"].append(raw)
        rows["enc_bytes"].append(enc_len)
        rows["final_bytes"].append(len(final))
        rows["min_val"].append(minv)
        rows["max_val"].append(maxv)
        rows["crc32"].append(zlib.crc32(final))
        rows["encode_ms"].append(ms)
        rows["stats_json"].append(json.dumps(stats) if stats else None)

    for name in table.column_names:
        arr = table.column(name)
        # drop each source column once taken, so a caller that passed
        # its only reference frees the column as soon as it is encoded
        table = table.drop_columns([name])
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
        _encode_column(name, arr, plan.get(name, {}), emit)
    return pa.RecordBatch.from_pydict(rows, schema=ct.CHUNK_ARROW_SCHEMA)


def _offsets_lengths(arr: pa.Array) -> np.ndarray:
    """Per-value child counts of a dense (null-free) list/map array."""
    width = 8 if pa.types.is_large_list(arr.type) else 4
    dtype = np.int64 if width == 8 else np.int32
    offs = np.frombuffer(
        arr.buffers()[1], dtype=dtype, count=len(arr) + 1, offset=arr.offset * width
    ).astype(np.int64)
    return np.diff(offs)


ROW_INDEX_STRIDE = 10_000  # reference row-group stride (src/stripe.rs:300)


def _bloomable(typ: pa.DataType) -> bool:
    """Bloom filters are built only for types whose probe-side byte
    representation is well-defined (i64 for ints, utf8/raw bytes for
    string/binary) — a decimal/float bloom would be probed with different
    bytes than it was built from (and the large_binary cast crashes)."""
    return bool(
        pa.types.is_integer(typ)
        or pa.types.is_string(typ) or pa.types.is_large_string(typ)
        or pa.types.is_binary(typ) or pa.types.is_large_binary(typ)
    )


def _encode_column_row_groups(name: str, arr: pa.Array, col_plan: dict, emit) -> None:
    """Row-group-indexed encode: the column is encoded per 10,000-row group
    (reference ROW_INDEX analog, src/row_index.rs:31-55) by re-invoking the
    ordinary column encoder on each slice; the per-group sub-streams are
    concatenated per stream kind, and stats_json carries per-group
    min/max/null_count plus byte offsets into each (uncompressed) stream so
    a reader can seek to and decode ONLY the groups a predicate may match.
    """
    n = len(arr)
    stride = int(col_plan.get("row_index_stride", ROW_INDEX_STRIDE))
    sub_plan = {k: v for k, v in col_plan.items() if k not in ("row_index", "bloom")}
    sub_plan["block_codec"] = "none"  # compression is applied to the merged stream
    groups: list[list] = []
    t0 = time.perf_counter()
    for g_start in range(0, n, stride):
        captured: list[tuple] = []

        def sub_emit(_name, kind, codec, data_bytes, *, n, null_count=0, dict_size=0,
                     raw=0, minv=None, maxv=None, ms=0.0, stats=None, block_codec="none"):
            captured.append((kind, codec, data_bytes, n, null_count, dict_size,
                             raw, minv, maxv))

        _encode_column(name, arr.slice(g_start, stride), sub_plan, sub_emit)
        groups.append(captured)

    kinds: list[str] = []
    for cap in groups:
        for k, *_ in cap:
            if k not in kinds:
                kinds.append(k)
    merged: dict[str, bytearray] = {k: bytearray() for k in kinds}
    offsets: dict[str, list[int]] = {k: [0] for k in kinds}
    # per-group codec: the string selector is data-dependent, so one group
    # may pick dict while its neighbor picks direct/fsst — decode must
    # dispatch per group, not per chunk
    rg = {"stride": stride, "n": [], "nulls": [], "dict_size": [],
          "min": [], "max": [], "codec": None, "codecs": [], "off": offsets}
    raw_total = 0
    for cap in groups:
        by_kind = {k: (codec, data, n_g, nc, ds, raw, mn, mx)
                   for k, codec, data, n_g, nc, ds, raw, mn, mx in cap}
        for k in kinds:
            if k in by_kind:
                merged[k].extend(by_kind[k][1])
            offsets[k].append(len(merged[k]))
        data_row = by_kind[ct.DATA]
        rg["codec"] = data_row[0]
        rg["codecs"].append(data_row[0])
        rg["n"].append(data_row[2])
        rg["nulls"].append(data_row[3])
        rg["dict_size"].append(data_row[4])
        raw_total += data_row[5]
        rg["min"].append(data_row[6])
        rg["max"].append(data_row[7])
    non_null_min = [m for m in rg["min"] if m is not None]
    non_null_max = [m for m in rg["max"] if m is not None]
    # group stats are strings of a monotone encoding per type, so chunk
    # stats = min/max of TYPED group values; parse via the codec kind
    numeric = rg["codec"] in (
        "rle_v2", "rle_v1", "byte_rle", "date", "decimal", "timestamp_split"
    )
    floaty = rg["codec"] == "float_plain"
    if non_null_min:
        if numeric:
            minv = str(min(int(m) for m in non_null_min))
            maxv = str(max(int(m) for m in non_null_max))
        elif floaty:
            minv, maxv = _float_bounds(np.array(non_null_min, dtype=np.float64),
                                       np.array(non_null_max, dtype=np.float64))
        else:
            minv, maxv = min(non_null_min), max(non_null_max)
    else:
        minv = maxv = None
    ms = (time.perf_counter() - t0) * 1000
    total_nulls = int(sum(rg["nulls"]))
    for k in kinds:
        data_bytes = bytes(merged[k])
        bc = (col_plan.get("block_codec", blockc.default_codec())
              if len(data_bytes) >= BLOCK_MIN_BYTES and k != ct.SYMBOL_TABLE else "none")
        is_data = k == ct.DATA  # the rg index + chunk stats ride on DATA
        emit(name, k, rg["codec"], data_bytes,
             n=n, null_count=total_nulls, dict_size=0,
             raw=raw_total if is_data else 0,
             minv=minv if is_data else None, maxv=maxv if is_data else None,
             ms=ms if is_data else 0.0, stats={"rg": rg} if is_data else None,
             block_codec=bc)

    if col_plan.get("bloom") and _bloomable(arr.type):
        from ..codecs.bloom import BloomFilter

        dense = arr.drop_null()
        bf = BloomFilter.for_expected(len(dense))
        if pa.types.is_integer(arr.type):
            bf.add_i64(dense.to_numpy(zero_copy_only=False).astype(np.int64))
        else:
            bdata, boffs = _flatten_large_binary(dense.cast(pa.large_binary()))
            bf.add_bytes(bdata, boffs)
        emit(name, ct.BLOOM_FILTER, rg["codec"], bf.serialize(), n=n,
             null_count=total_nulls)


def _encode_column(name: str, arr: pa.Array, col_plan: dict, emit, *,
                   rle_batch: int = BATCH_VALUES) -> None:
    """Encode one column, calling ``emit`` once per stream. ``rle_batch``
    is the RLEv2 selector batch cap of an integer, date or timestamp
    column's streams (rle_v2.BATCH_VALUES); only the ORC file writer
    raises it."""
    n = len(arr)
    if col_plan.get("row_index") and not (
        pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
        or pa.types.is_struct(arr.type) or pa.types.is_map(arr.type)
    ):
        _encode_column_row_groups(name, arr, col_plan, emit)
        return
    block_codec_pref = col_plan.get("block_codec", blockc.default_codec())
    t0 = time.perf_counter()
    null_count = arr.null_count
    if null_count:
        not_null = np.asarray(arr.is_valid())
        present = encode_present(not_null)
        dense = arr.drop_null()
    else:
        present = None
        dense = arr
    typ = arr.type

    # --- nested types: LENGTH stream + recursive child columns ------------
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        lengths = _offsets_lengths(dense)
        if present is not None:
            emit(name, ct.PRESENT, "boolean_rle", present, n=n, null_count=null_count)
        emit(name, ct.LENGTH, "list", encode_rlev2(lengths, signed=False),
             n=n, null_count=null_count, ms=(time.perf_counter() - t0) * 1000,
             block_codec=block_codec_pref if lengths.size * 8 >= BLOCK_MIN_BYTES else "none")
        child = dense.flatten()
        _encode_column(f"{name}.item", child, col_plan.get("item", {}), emit)
        return
    if pa.types.is_struct(typ):
        if present is not None:
            emit(name, ct.PRESENT, "boolean_rle", present, n=n, null_count=null_count)
        emit(name, ct.DATA, "struct", b"", n=n, null_count=null_count,
             ms=(time.perf_counter() - t0) * 1000)
        for i, field in enumerate(typ):
            _encode_column(f"{name}.{field.name}", dense.field(i),
                           col_plan.get(field.name, {}), emit)
        return
    if pa.types.is_map(typ):
        lengths = _offsets_lengths(dense)
        if present is not None:
            emit(name, ct.PRESENT, "boolean_rle", present, n=n, null_count=null_count)
        emit(name, ct.LENGTH, "map", encode_rlev2(lengths, signed=False),
             n=n, null_count=null_count, ms=(time.perf_counter() - t0) * 1000)
        # keys and items ignore a sliced array's offset: cut them to its entries
        start, stop = dense.offsets[0].as_py(), dense.offsets[-1].as_py()
        _encode_column(f"{name}.key", dense.keys.slice(start, stop - start),
                       col_plan.get("key", {}), emit)
        _encode_column(f"{name}.value", dense.items.slice(start, stop - start),
                       col_plan.get("value", {}), emit)
        return

    minv = maxv = None
    stats = None
    dict_size = 0
    if pa.types.is_integer(typ) and typ.bit_width == 8:
        # reference writer maps Int8 -> ByteRLE (writer/stripe.rs:178)
        from ..codecs.byte_rle import encode_byte_rle

        vals = dense.to_numpy(zero_copy_only=False)
        codec = "byte_rle"
        streams = [(ct.DATA, encode_byte_rle(vals.astype(np.int8).view(np.uint8)))]
        raw = n
        if vals.size:
            minv, maxv = str(int(vals.min())), str(int(vals.max()))
    elif pa.types.is_integer(typ):
        vals = dense.to_numpy(zero_copy_only=False).astype(np.int64)
        stats = integer_chunk_stats(vals)
        if int(col_plan.get("rle_version", 2)) == 1:
            # legacy RLEv1 writer path (reference decode-compat E10,
            # rle_v1.rs) — opt-in per column; ORC files emitted from these
            # chunks declare ColumnEncoding DIRECT (v1)
            from ..codecs.rle_v1 import encode_rlev1

            codec = "rle_v1"
            streams = [(ct.DATA, encode_rlev1(vals, signed=True))]
        else:
            codec = "rle_v2"
            streams = [(ct.DATA, encode_rlev2(vals, signed=True,
                                              batch_values=rle_batch))]
        raw = n * 8
        if vals.size:
            minv, maxv = str(int(vals.min())), str(int(vals.max()))
    elif pa.types.is_date(typ):
        # ORC Date = days since epoch as signed RLEv2 (src/schema.rs:529)
        days = dense.cast(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
        codec = "date"
        streams = [(ct.DATA, encode_rlev2(days, signed=True,
                                          batch_values=rle_batch))]
        raw = n * 4
        if days.size:
            minv, maxv = str(int(days.min())), str(int(days.max()))
    elif pa.types.is_timestamp(typ):
        ticks = dense.cast(pa.int64()).to_numpy(zero_copy_only=False)
        # each unit splits into seconds and nanos exactly, with no scaling
        # to another unit first (us*1000 wraps int64 past ~year 2262);
        # Spark's us go through split_timestamp_us, the name perfbench's
        # trace times as the codec's layer
        secs, nanos = (split_timestamp_us(ticks) if typ.unit == "us"
                       else split_timestamp(ticks, typ.unit))
        codec = "timestamp_split"
        streams = [
            (ct.DATA, encode_rlev2(secs, signed=True, batch_values=rle_batch)),
            (ct.SECONDARY, encode_rlev2(nanos, signed=False,
                                        batch_values=rle_batch)),
        ]
        raw = n * 8
        if ticks.size:
            # bounds in microseconds: a sub-microsecond value widens them
            per = TICKS_PER_SECOND[typ.unit]
            lo, hi = int(ticks.min()), int(ticks.max())
            minv, maxv = str(lo * 10**6 // per), str(-(-hi * 10**6 // per))
    elif pa.types.is_decimal(typ):
        from ..codecs.decimal_codec import encode_decimal, encode_varints_exact
        from ..codecs.rle_v2 import encode_rlev2 as _enc_rle

        words = np.frombuffer(
            dense.buffers()[1], dtype="<u8", count=2 * len(dense),
            offset=dense.offset * 16,
        ).reshape(-1, 2)
        lo = words[:, 0]
        hi = words[:, 1].view(np.int64)
        # fast path when every i128 mantissa fits int64 (hi word is pure
        # sign extension); otherwise exact Python-int unbounded varints —
        # both decode through the same unbounded-varint contract
        # (src/array_decoder/decimal.rs:36-123)
        fits64 = bool((hi == (lo.view(np.int64) >> np.int64(63))).all()) if len(dense) else True
        if fits64:
            mantissa = lo.copy().view(np.int64)
            d_data, d_secondary = encode_decimal(mantissa, typ.scale)
            if mantissa.size:
                minv, maxv = str(int(mantissa.min())), str(int(mantissa.max()))
        else:
            ints = [(int(hi[i]) << 64) + int(lo[i]) for i in range(len(dense))]
            d_data = encode_varints_exact(ints)
            d_secondary = _enc_rle(
                np.full(len(dense), typ.scale, dtype=np.int64), signed=True
            )
            minv, maxv = str(min(ints)), str(max(ints))
        codec = "decimal"
        streams = [(ct.DATA, d_data), (ct.SECONDARY, d_secondary)]
        raw = n * 16
    elif pa.types.is_floating(typ):
        vals = dense.to_numpy(zero_copy_only=False)
        codec = "float_plain"
        streams = [(ct.DATA, encode_float(np.ascontiguousarray(vals)))]
        raw = n * vals.dtype.itemsize
        if vals.size:
            minv, maxv = _float_bounds(vals, vals)
    elif pa.types.is_boolean(typ):
        vals = np.asarray(dense)
        codec = "boolean_rle"
        streams = [(ct.DATA, encode_boolean_rle(vals))]
        raw = n
    elif (pa.types.is_string(typ) or pa.types.is_large_string(typ)
          or pa.types.is_binary(typ) or pa.types.is_large_binary(typ)):
        is_str = pa.types.is_string(typ) or pa.types.is_large_string(typ)
        fsst_bytes = col_plan.get("fsst_table")
        codec, stats, streams, dict_size = _encode_string_column(
            dense, fsst_bytes,
            col_plan.get("block_codec", blockc.default_codec()),
            col_plan.get("force_codec"))
        raw = stats["total_bytes"]
        if is_str and len(dense):
            mm = pa.compute.min_max(dense.cast(pa.large_string()))
            minv = (mm["min"].as_py() or "")[:ct.STAT_CHARS]
            maxv = (mm["max"].as_py() or "")[:ct.STAT_CHARS]
    else:
        raise TypeError(f"unsupported column type {typ} for {name!r}")

    # optional per-chunk bloom filter (equality-pruning index, ORC
    # BLOOM_FILTER_UTF8 analog) on the dense values
    if col_plan.get("bloom") and _bloomable(typ):
        from ..codecs.bloom import BloomFilter

        n_dense = len(dense)
        bf = BloomFilter.for_expected(n_dense)
        if pa.types.is_integer(typ):
            bf.add_i64(dense.to_numpy(zero_copy_only=False).astype(np.int64))
        else:
            bdata, boffs = _flatten_large_binary(
                dense if not (pa.types.is_string(typ) or pa.types.is_large_string(typ))
                else dense.cast(pa.large_binary())
            )
            bf.add_bytes(bdata, boffs)
        streams = list(streams) + [(ct.BLOOM_FILTER, bf.serialize())]

    ms = (time.perf_counter() - t0) * 1000
    if present is not None:
        emit(name, ct.PRESENT, "boolean_rle", present, n=n, null_count=null_count)
    first = True
    for kind, data_bytes in streams:
        bc = (
            block_codec_pref
            if len(data_bytes) >= BLOCK_MIN_BYTES and kind != ct.SYMBOL_TABLE
            else "none"
        )
        emit(name, kind, codec, data_bytes, n=n, null_count=null_count,
             dict_size=dict_size, raw=raw if first else 0,
             minv=minv if first else None, maxv=maxv if first else None,
             ms=ms if first else 0.0, stats=stats if first else None,
             block_codec=bc)
        first = False


#: the input column that carries each row's Spark partition id into the
#: encode task; dropped before the rows are encoded
PART_ID_COL = "__encode_part_id"
#: rows per pyarrow batch of a worker's parquet read: bounds its temporaries
READ_BATCH_ROWS = 1024


def _with_part_id(df: DataFrame) -> DataFrame:
    """``df`` plus PART_ID_COL = ``spark_partition_id()``. The column is
    computed below the encode's ``mapInArrow``, so it names the input
    partition even where a later ``coalesce`` runs the encode of several
    input partitions inside one task, whose ``TaskContext.partitionId()``
    is the same for all of them: keyed by it, their chunks would share a
    ``(part_id, chunk_ord)``."""
    from pyspark.sql import functions as F

    return df.withColumn(PART_ID_COL, F.spark_partition_id())


def _arrow_bytes(arr: pa.ChunkedArray) -> int:
    """Bytes Spark's Arrow writer counts for these values (Arrow Java's
    ``getBufferSizeFor``: a validity bitmap per vector, n + 1 int32
    offsets per list or string vector), however pyarrow types, chunks and
    buffers them."""
    n, t = len(arr), arr.type
    if n == 0 or pa.types.is_null(t):
        return 0
    bitmap = -(-n // 8)
    if pa.types.is_boolean(t):
        return 2 * bitmap
    if pa.types.is_struct(t):
        return bitmap + sum(_arrow_bytes(pc.struct_field(arr, [i])) for i in range(t.num_fields))
    if pa.types.is_map(t):
        arr = arr.cast(pa.list_(pa.struct([t.key_field, t.item_field])))
    if pa.types.is_list(arr.type):
        return bitmap + 4 * (n + 1) + _arrow_bytes(pc.list_flatten(arr))
    if (pa.types.is_binary(t) or pa.types.is_string(t)
            or pa.types.is_large_binary(t) or pa.types.is_large_string(t)):
        return bitmap + 4 * (n + 1) + (pc.sum(pc.binary_length(arr)).as_py() or 0)
    return bitmap + n * (t.bit_width // 8)


def _table_bytes(t: pa.Table) -> int:
    return sum(_arrow_bytes(c) for c in t.columns)


def _sent_bytes(t: pa.Table) -> int:
    """_table_bytes plus what the JVM sends beside the rows: the int32
    PART_ID_COL and the bitmap of the struct mapInArrow wraps a row in."""
    return _table_bytes(t) + 4 * t.num_rows + 2 * -(-t.num_rows // 8)


def _cut(rows: pa.Table, max_rows: int, max_bytes: float) -> int:
    """Rows in the next batch Spark's Arrow writer sends a mapInArrow
    task: it adds rows while it holds fewer than ``max_rows`` and fewer
    than ``max_bytes`` (_sent_bytes)."""
    lo, hi = 1, min(max_rows, rows.num_rows)
    while lo < hi:
        mid = (lo + hi) // 2
        lo, hi = (lo, mid) if _sent_bytes(rows.slice(0, mid)) >= max_bytes else (mid + 1, hi)
    return lo


def _midpoint(rg) -> int:
    """Spark's split of a parquet row group: its first page offset plus
    half its compressed size."""
    c = rg.column(0)
    start = c.data_page_offset
    if c.has_dictionary_page and c.dictionary_page_offset < start:
        start = c.dictionary_page_offset
    return start + sum(rg.column(j).total_compressed_size for j in range(rg.num_columns)) // 2


def _worker_splits(df: DataFrame) -> list[list[tuple[str, list[int]]]] | None:
    """Spark's file partitions of ``df``'s scan, each as (file uri, row
    groups whose midpoint lies in its byte range) in Spark's order, when
    the Python workers can read them as the JVM would; else None. That
    takes a bare parquet scan (decode.parquet_scan) without partition
    columns, ignoreCorruptFiles, ignoreMissingFiles, large Arrow var
    types or legacy calendar rebasing, whose footers hold every column,
    no projected INT96 column and no legacy-calendar marker or Spark 2
    writer."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    from .decode import parquet_scan

    rel, _ = parquet_scan(df)
    if rel is None or rel.partitionSchema().length():
        return None
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    if (conf.ignoreCorruptFiles() or conf.ignoreMissingFiles() or conf.arrowUseLargeVarTypes()
            or conf.getConfString("spark.sql.parquet.datetimeRebaseModeInRead") == "LEGACY"):
        return None
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    if leaves.size() != 1 or leaves.apply(0).getClass().getSimpleName() != "FileSourceScanExec":
        return None
    parts = leaves.apply(0).inputRDD().filePartitions()
    names, footers, out = set(df.columns), {}, []
    for i in range(parts.size()):
        out.append([])
        for f in parts.apply(i).files():
            uri = f.filePath().toString()
            if uri not in footers:
                try:
                    fs, path = pafs.FileSystem.from_uri(uri)
                    md = pq.read_metadata(path, filesystem=fs)
                except (OSError, ValueError, pa.ArrowException):
                    return None
                kv = md.metadata or {}
                leaf = [md.schema.column(j) for j in range(md.num_columns)]
                tops = {c.path.split(".")[0] for c in leaf}
                if (not names <= tops or kv.get(b"org.apache.spark.version", b"3") < b"3"
                        or {b"org.apache.spark.legacyDateTime", b"org.apache.spark.legacyINT96"} & set(kv)
                        or any(c.physical_type == "INT96" and c.path.split(".")[0] in names
                               for c in leaf)):
                    return None
                footers[uri] = md
            md, lo = footers[uri], f.start()
            groups = [g for g in range(md.num_row_groups)
                      if lo <= _midpoint(md.row_group(g)) < lo + f.length()]
            out[-1] += [(uri, groups)] if groups else []
    return out or None


def _read_split(split: list, schema: pa.Schema, max_rows: int,
                max_bytes: float) -> Iterator[pa.Table]:
    """One of _worker_splits' partitions, read single-threaded in
    READ_BATCH_ROWS-row batches cast to ``schema``, and cut across files
    into the batches Spark's Arrow writer would send (_cut)."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    rest = schema.empty_table()
    for uri, groups in split:
        fs, path = pafs.FileSystem.from_uri(uri)
        with fs.open_input_file(path) as fh:
            for rb in pq.ParquetFile(fh).iter_batches(
                    READ_BATCH_ROWS, groups, schema.names, use_threads=False):
                rest = pa.concat_tables([rest, pa.Table.from_batches([rb.cast(schema)])])
                while rest.num_rows >= max_rows or _sent_bytes(rest) >= max_bytes:
                    k = _cut(rest, max_rows, max_bytes)
                    yield rest.slice(0, k)
                    rest = rest.slice(k)
    if rest.num_rows:
        yield rest


def _take(buf: list[pa.Table]) -> pa.Table:
    """The buffered rows as one table; empties ``buf``, so that
    encode_chunk frees each column once it is encoded."""
    t = pa.concat_tables(buf)
    buf.clear()
    return t


def _flush_chunks(tables: Iterator[tuple[pa.Table, int]], plan: dict,
                  stripe_bytes: int) -> Iterator[pa.RecordBatch]:
    """The flush loop of both batch sources: one task's (rows, part_id)
    batches, encoded as a chunk whenever their _table_bytes reach
    ``stripe_bytes``, and at the end."""
    buf: list[pa.Table] = []
    buffered = chunk_ord = 0
    for t, part_id in tables:
        buf.append(t)
        buffered += _table_bytes(t)
        del t  # only buf holds the rows, which encode_chunk frees as it goes
        if buffered >= stripe_bytes:
            yield encode_chunk(_take(buf), part_id, chunk_ord, plan)
            buffered, chunk_ord = 0, chunk_ord + 1
    if buf:
        yield encode_chunk(_take(buf), part_id, chunk_ord, plan)


def encode_table(
    df: DataFrame, plan: dict | None = None, stripe_bytes: int = STRIPE_BYTES
) -> DataFrame:
    """DataFrame -> chunk-table DataFrame (one row per column stream).

    When ``df`` is a bare parquet scan the Python workers can read as
    Spark does (_worker_splits), they read its files with pyarrow: task
    ``i`` of ``spark.range(0, n, 1, n)`` reads Spark's file partition
    ``i`` in the batches the JVM would send and encodes it under part_id
    ``i``, so no parquet value crosses the JVM->Python boundary, nothing
    is shuffled and the chunk table is the JVM scan's. Any other input
    reaches the same flush loop through mapInArrow."""
    plan = plan or {}
    splits = _worker_splits(df)
    if splits is None:
        def encode_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            return _flush_chunks(((pa.Table.from_batches([b.drop_columns([PART_ID_COL])]),
                                   b.column(PART_ID_COL)[0].as_py())
                                  for b in batches if b.num_rows), plan, stripe_bytes)

        return _with_part_id(df).mapInArrow(encode_iter, schema=ct.CHUNK_SPARK_SCHEMA)

    from pyspark.sql.pandas.types import to_arrow_schema

    conf = df.sparkSession._jsparkSession.sessionState().conf()
    # large types: the encoder's strings need no copy to 64-bit offsets
    schema = to_arrow_schema(df.schema, prefers_large_types=True)
    # Spark's own batch limits: no row limit at <= 0, no byte limit at 2^31 - 1
    max_rows = conf.arrowMaxRecordsPerBatch() if conf.arrowMaxRecordsPerBatch() > 0 else 2**31
    max_bytes = conf.arrowMaxBytesPerBatch()
    max_bytes = math.inf if max_bytes == 2**31 - 1 else max_bytes

    def read_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for i in (i for b in batches for i in b.column(0).to_pylist()):
            yield from _flush_chunks(((t, i) for t in _read_split(
                splits[i], schema, max_rows, max_bytes)), plan, stripe_bytes)

    return df.sparkSession.range(0, len(splits), 1, len(splits)).mapInArrow(
        read_iter, schema=ct.CHUNK_SPARK_SCHEMA)

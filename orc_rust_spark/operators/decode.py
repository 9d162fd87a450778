"""The decode operator: chunk table -> original rows.

Re-assembles every column from its streams — the read-side mirror of
operators.encode, playing the role of the reference's NaiveStripeDecoder
(src/array_decoder/mod.rs:290-364): per column pull PRESENT then
DATA/LENGTH/SECONDARY/DICTIONARY_DATA through the block decompressor and
the RLE/FSST decoders, then re-space nulls.

Two execution strategies over the same Arrow-array core:
- decode_table        groupBy(part_id, chunk_ord).applyInPandas — robust,
                      works on any row layout
- decode_table_arrow  repartition+sortWithinPartitions then mapInArrow —
                      decoded values stay Arrow end to end (no Python
                      string objects), the fast path
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs import block as blockc
from ..codecs.boolean_rle import decode_boolean_rle
from ..codecs.present import decode_present
from ..codecs.float_plain import decode_float
from ..codecs.fsst import FsstTable, fsst_decode
from ..codecs.rle_v2 import decode_rlev2
from ..codecs.timestamp_split import combine_timestamp_us
from ..sources import chunk_table as ct


def _kind_of(dt: T.DataType) -> str:
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int64"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DecimalType):
        return f"decimal:{dt.precision}:{dt.scale}"
    if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
        return "nested"
    raise TypeError(f"unsupported type {dt}")


_KIND_TO_TYPE = {
    "int64": T.LongType(),
    "timestamp": T.TimestampNTZType(),
    "date": T.DateType(),
    "float64": T.DoubleType(),
    "float32": T.FloatType(),
    "bool": T.BooleanType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
}


def _as_datatype(kind_or_dt) -> T.DataType:
    """Accept legacy string kinds or Spark DataTypes."""
    if isinstance(kind_or_dt, T.DataType):
        return kind_or_dt
    if kind_or_dt.startswith("decimal:"):
        _, p, s = kind_or_dt.split(":")
        return T.DecimalType(int(p), int(s))
    return _KIND_TO_TYPE[kind_or_dt]


def _arrow_of(dt: T.DataType) -> pa.DataType:
    """Arrow type matching Spark's Arrow conversion for this Spark type."""
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_of(dt.elementType))
    if isinstance(dt, T.StructType):
        return pa.struct([pa.field(f.name, _arrow_of(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow_of(dt.keyType), _arrow_of(dt.valueType))
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    return {
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(),
        T.ByteType: pa.int8(),
        T.DateType: pa.date32(),
        T.DoubleType: pa.float64(),
        T.FloatType: pa.float32(),
        T.BooleanType: pa.bool_(),
        T.StringType: pa.string(),
        T.BinaryType: pa.binary(),
    }[type(dt)]


def decode_chunk_arrays(
    stream_rows: list[dict], col_kinds: dict[str, str | T.DataType],
    rg_keep: list[int] | None = None,
) -> dict[str, pa.Array]:
    """Decode one chunk's stream rows -> {column: pa.Array} (dense schema).

    ``rg_keep``: row-group indexes to decode for chunks written with a
    row index (operators.encode ROW_INDEX analog); None decodes all.

    ``stream_rows``: dicts with column/stream_kind/codec/block_codec/data/
    row_count/null_count/dict_size. ``col_kinds`` values are legacy string
    kinds (scalar columns) or Spark DataTypes (required for nested types).
    Nested columns recurse through child stream columns named
    ``parent.item`` / ``parent.<field>`` / ``parent.key|value`` — the
    offsets trick of the reference's list/struct/map decoders
    (src/array_decoder/{list.rs:36-104,struct_decoder.rs:33-95,map.rs:35-123}).
    """
    by_col: dict[str, dict[str, dict]] = {}
    for r in stream_rows:
        by_col.setdefault(r["column"], {})[r["stream_kind"]] = r
    if rg_keep is None:
        return {
            name: _decode_column(name, _as_datatype(kind), by_col)
            for name, kind in col_kinds.items()
        }
    # group-filtered decode: indexed columns skip straight to the kept
    # groups; any non-indexed sibling decodes fully and is row-sliced to
    # the same spans. All indexed columns of a chunk must share one grid —
    # mismatched per-column strides would slice siblings at wrong row
    # spans, so that case falls back to a full decode (the caller's
    # residual filter still yields exact rows — code-review r6).
    grids = [g for g in (_rg_of(by_col[n]) for n in col_kinds) if g is not None]
    if grids and any(g["n"] != grids[0]["n"] for g in grids[1:]):
        return {
            name: _decode_column(name, _as_datatype(kind), by_col)
            for name, kind in col_kinds.items()
        }
    grid = grids[0] if grids else None
    out: dict[str, pa.Array] = {}
    for name, kind in col_kinds.items():
        dt = _as_datatype(kind)
        if _rg_of(by_col[name]) is not None:
            out[name] = _decode_column(name, dt, by_col, rg_keep=rg_keep)
        else:
            full = _decode_column(name, dt, by_col)
            if grid is None:
                out[name] = full
            else:
                spans = [full.slice(s, e - s) for s, e in rg_row_ranges(grid, rg_keep)]
                out[name] = (
                    pa.concat_arrays([p.combine_chunks() if hasattr(p, "combine_chunks") else p for p in spans])
                    if spans else full.slice(0, 0)
                )
    return out


from ..codecs.util import int32_offsets as _int32_offsets  # shared helper
from ..codecs.util import respace as _respace, split_binary as _split_binary


def _rg_of(metas: dict) -> dict | None:
    """Row-group index of a column, if its DATA row carries one."""
    import json

    data_meta = metas.get(ct.DATA)
    sj = data_meta.get("stats_json") if data_meta else None
    if not sj:
        return None
    try:
        return json.loads(sj).get("rg")
    except Exception:
        return None


def _decode_column_rg(
    name: str, dt: T.DataType, metas: dict, streams: dict, rg: dict,
    keep: list[int] | None,
) -> pa.Array:
    """Decode a row-group-indexed column group by group (E19 skip driven
    from a predicate: groups not in ``keep`` are never RLE-decoded —
    reference src/row_index.rs seek-positions analog). Each group's
    sub-streams are self-contained slices at the recorded offsets."""
    n_groups = len(rg["n"])
    groups = range(n_groups) if keep is None else keep
    parts = []
    for g in groups:
        sub: dict[str, dict] = {}
        for kind, buf in streams.items():
            off = rg["off"].get(kind)
            if off is None:
                continue
            seg = buf[off[g]: off[g + 1]]
            if len(seg) == 0 and kind != ct.DATA:
                continue  # e.g. PRESENT absent for a null-free group
            sub[kind] = {
                "column": name,
                "stream_kind": kind,
                # the selector is per group: fall back to the chunk codec
                # for indexes written before "codecs" existed
                "codec": rg.get("codecs", [rg["codec"]] * len(rg["n"]))[g],
                "block_codec": "none",
                "data": seg,
                "row_count": int(rg["n"][g]),
                "null_count": int(rg["nulls"][g]),
                "dict_size": int(rg["dict_size"][g]),
                "stats_json": None,
            }
        parts.append(_decode_column(name, dt, {name: sub}))
    if not parts:
        return pa.array([], type=_arrow_of(dt))
    if len(parts) == 1:
        return parts[0]
    return pa.concat_arrays([p.cast(parts[0].type) for p in parts])


def rg_row_ranges(rg: dict, keep: list[int]) -> list[tuple[int, int]]:
    """Row (start, stop) spans of the kept groups in chunk row space."""
    bounds = np.zeros(len(rg["n"]) + 1, dtype=np.int64)
    np.cumsum(np.asarray(rg["n"], dtype=np.int64), out=bounds[1:])
    return [(int(bounds[g]), int(bounds[g + 1])) for g in keep]


def _decode_column(
    name: str, dt: T.DataType, by_col: dict, rg_keep: list[int] | None = None
) -> pa.Array:
    metas = by_col[name]
    streams = {
        # data may be bytes (pandas path) or a zero-copy memoryview
        # (arrow path); decompress_stream accepts any bytes-like
        k: blockc.decompress_stream(r["data"], r["block_codec"])
        for k, r in metas.items()
    }
    rg = _rg_of(metas)
    if rg is not None:
        return _decode_column_rg(name, dt, metas, streams, rg, rg_keep)
    any_meta = next(iter(metas.values()))
    n = int(any_meta["row_count"])
    null_count = int(any_meta["null_count"])
    n_dense = n - null_count
    not_null = (
        decode_present(streams[ct.PRESENT], n) if ct.PRESENT in streams else None
    )

    if isinstance(dt, T.ArrayType):
        lengths = decode_rlev2(streams[ct.LENGTH], n_dense, signed=False)
        child = _decode_column(f"{name}.item", dt.elementType, by_col)
        dense = pa.ListArray.from_arrays(_int32_offsets(lengths), child)
        return _respace(dense, not_null)
    if isinstance(dt, T.StructType):
        children = [
            _decode_column(f"{name}.{f.name}", f.dataType, by_col) for f in dt.fields
        ]
        dense = pa.StructArray.from_arrays(children, [f.name for f in dt.fields])
        return _respace(dense, not_null)
    if isinstance(dt, T.MapType):
        lengths = decode_rlev2(streams[ct.LENGTH], n_dense, signed=False)
        keys = _decode_column(f"{name}.key", dt.keyType, by_col)
        items = _decode_column(f"{name}.value", dt.valueType, by_col)
        dense = pa.MapArray.from_arrays(_int32_offsets(lengths), keys, items)
        return _respace(dense, not_null)

    kind = _kind_of(dt)
    if isinstance(dt, T.DecimalType):
        kind = f"decimal:{dt.precision}:{dt.scale}"
    data_meta = metas[ct.DATA]
    codec = data_meta["codec"]
    if codec == "rle_v2":
        vals = decode_rlev2(streams[ct.DATA], n_dense, signed=True)
        dense = pa.array(vals, type=pa.int64())
    elif codec == "rle_v1":
        from ..codecs.rle_v1 import decode_rlev1

        vals = decode_rlev1(streams[ct.DATA], n_dense, signed=True)
        dense = pa.array(vals, type=pa.int64())
    elif codec == "timestamp_split":
        secs = decode_rlev2(streams[ct.DATA], n_dense, signed=True)
        nanos = decode_rlev2(streams[ct.SECONDARY], n_dense, signed=False)
        us = combine_timestamp_us(secs, nanos)
        dense = pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))
    elif codec == "decimal":
        from ..codecs.decimal_codec import (
            decode_decimal,
            decode_varints_exact,
            i128_words,
        )

        _, p, s = kind.split(":")
        try:
            mantissa = decode_decimal(
                streams[ct.DATA], streams[ct.SECONDARY], n_dense, int(s)
            )
            words = np.empty((n_dense, 2), dtype=np.uint64)
            words[:, 0] = mantissa.view(np.uint64)
            words[:, 1] = (mantissa >> np.int64(63)).view(np.uint64)  # sign ext
        except ValueError:
            # mantissas wider than 64-bit zigzag: exact i128 slow path
            words = i128_words(decode_varints_exact(streams[ct.DATA], n_dense))
        dense = pa.Array.from_buffers(
            pa.decimal128(int(p), int(s)), n_dense,
            [None, pa.py_buffer(words.tobytes())],
        )
    elif codec == "date":
        days = decode_rlev2(streams[ct.DATA], n_dense, signed=True)
        dense = pa.array(days.astype(np.int32), type=pa.int32()).cast(pa.date32())
    elif codec == "byte_rle":
        from ..codecs.byte_rle import decode_byte_rle

        u8 = decode_byte_rle(streams[ct.DATA], n_dense)
        dense = pa.array(u8.view(np.int8), type=pa.int8())
    elif codec == "float_plain":
        dtype = np.float32 if kind == "float32" else np.float64
        dense = pa.array(decode_float(streams[ct.DATA], n_dense, dtype))
    elif codec == "boolean_rle":
        dense = pa.array(decode_boolean_rle(streams[ct.DATA], n_dense))
    elif codec in ("direct", "dict", "fsst"):
        if codec == "direct":
            lengths = decode_rlev2(streams[ct.LENGTH], n_dense, signed=False)
            dense = _split_binary(streams[ct.DATA], lengths)
        elif codec == "dict":
            dict_size = int(data_meta["dict_size"])
            indices = decode_rlev2(streams[ct.DATA], n_dense, signed=False)
            dict_lens = decode_rlev2(streams[ct.LENGTH], dict_size, signed=False)
            dictionary = _split_binary(streams[ct.DICTIONARY_DATA], dict_lens)
            dense = pa.DictionaryArray.from_arrays(
                pa.array(indices, type=pa.int64()), dictionary
            ).cast(pa.large_binary())
        else:
            table = FsstTable.deserialize(streams[ct.SYMBOL_TABLE])
            span = np.array([0, len(streams[ct.DATA])], dtype=np.int64)
            flat, _ = fsst_decode(streams[ct.DATA], span, table)
            lengths = decode_rlev2(streams[ct.LENGTH], n_dense, signed=False)
            dense = _split_binary(flat, lengths)
        if kind == "string":
            dense = dense.cast(pa.large_string())
    else:
        raise ValueError(f"unknown codec {codec!r} for column {name!r}")

    return _respace(dense, not_null)


def _rows_to_stream_dicts(pdf: pd.DataFrame) -> list[dict]:
    return pdf[
        ["column", "stream_kind", "codec", "block_codec", "data",
         "row_count", "null_count", "dict_size", "stats_json"]
    ].to_dict("records")


def decode_chunk_pdf(
    pdf: pd.DataFrame, col_kinds: dict, rg_keep: list[int] | None = None
) -> pd.DataFrame:
    arrays = decode_chunk_arrays(_rows_to_stream_dicts(pdf), col_kinds, rg_keep=rg_keep)
    cols = {}
    for name, arr in arrays.items():
        kind = _kind_of(_as_datatype(col_kinds[name]))
        if kind == "timestamp":
            cols[name] = arr.cast(pa.timestamp("us")).to_pandas()
        elif kind in ("string", "binary", "bool", "nested"):
            cols[name] = arr.to_pandas()  # object dtype, None for nulls
        else:
            s = arr.to_pandas()
            if kind == "int64" and arr.null_count:
                s = pd.array(s, dtype="Int64")
            cols[name] = s
    return pd.DataFrame(cols, columns=list(col_kinds.keys()))


def decode_table(
    chunks: DataFrame, schema: T.StructType,
    group_cols: tuple[str, ...] = ("part_id", "chunk_ord"),
) -> DataFrame:
    """Chunk-table DataFrame -> DataFrame with the original schema
    (grouped applyInPandas strategy).

    ``group_cols`` identifies one chunk; streaming sinks that land one
    directory per micro-batch reuse task-local part_ids across batches and
    pass ("stream_batch_id", "part_id", "chunk_ord")."""
    col_kinds = {f.name: f.dataType for f in schema.fields}

    def decode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return decode_chunk_pdf(pdf, col_kinds)

    return chunks.groupBy(*group_cols).applyInPandas(decode_group, schema=schema)


def _binary_views(arr: pa.Array) -> list[memoryview]:
    """Zero-copy memoryview slices of a (large_)binary column's values."""
    t = arr.type
    if pa.types.is_large_binary(t) or pa.types.is_large_string(t):
        offs = np.frombuffer(arr.buffers()[1], np.int64, len(arr) + 1, arr.offset * 8)
    else:
        offs = np.frombuffer(arr.buffers()[1], np.int32, len(arr) + 1, arr.offset * 4)
    mv = memoryview(arr.buffers()[2])
    return [mv[offs[i]: offs[i + 1]] for i in range(len(arr))]


def decode_table_arrow(
    chunks: DataFrame, schema: T.StructType, co_locate: bool = True,
    group_cols: tuple[str, ...] = ("part_id", "chunk_ord"),
) -> DataFrame:
    """Fast path: decode chunk rows to Arrow RecordBatches directly.

    Stream metadata is read column-wise off the Arrow batch (no per-row
    Python dicts) and the encoded `data` bytes are zero-copy memoryview
    slices of the batch buffer — the analog of the reference handing
    Bytes slices to its decoders (src/stripe.rs:312-336).

    ``co_locate=False`` skips the repartition shuffle: valid whenever each
    chunk's stream rows are already contiguous within a partition, which
    is true for encode_table output piped directly in (each encode task
    emits one RecordBatch per chunk) — the whole roundtrip then runs as a
    single map-only stage with no exchange.

    ``group_cols`` identifies one chunk (tuple-compared per row — no
    packed-integer key, so no bound on chunk_ord or part_id magnitude);
    streaming consumers add "stream_batch_id" since per-batch landing
    dirs reuse task-local part_ids.
    """
    col_kinds = {f.name: f.dataType for f in schema.fields}
    arrow_schema = pa.schema(
        [pa.field(f.name, _arrow_of(f.dataType)) for f in schema.fields]
    )
    names = [f.name for f in schema.fields]
    META_COLS = ("column", "stream_kind", "codec", "block_codec", "stats_json")

    def decode_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # IMPORTANT lifetime rule: PySpark's Arrow stream reader may reuse
        # a batch's memory once iteration advances, so zero-copy views are
        # only valid while the owning batch is current. Every stream's
        # COMPRESSED bytes are copied out of the batch buffer (see row());
        # the zero-copy views exist only to slice without an extra
        # offsets-walk copy. Groups complete within a batch flush
        # immediately; a tail group that may continue into the next batch
        # waits in `pending`.
        pending: list[dict] = []
        pending_key = None

        def flush(rows):
            arrays = decode_chunk_arrays(rows, col_kinds)
            cols = []
            for name in names:
                arr = arrays[name]
                target = arrow_schema.field(name).type
                if not arr.type.equals(target):
                    arr = arr.cast(target)
                cols.append(arr)
            return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

        for b in batches:
            m = b.num_rows
            if m == 0:
                continue
            gcols = [b.column(c).to_numpy() for c in group_cols]
            row_count = b.column("row_count").to_numpy()
            null_count = b.column("null_count").to_numpy()
            dict_size = b.column("dict_size").to_numpy()
            meta = {c: b.column(c).to_pylist() for c in META_COLS}
            data = _binary_views(b.column("data"))

            def row(i):
                return {
                    "column": meta["column"][i],
                    "stream_kind": meta["stream_kind"][i],
                    "codec": meta["codec"][i],
                    "block_codec": meta["block_codec"][i],
                    # bytes() copies the COMPRESSED stream out of the
                    # batch's reusable memory — mandatory: PySpark's Arrow
                    # serializer aliases/reuses batch buffers, so views
                    # must not outlive the yield (measured: corruption
                    # otherwise). One memcpy per stream, ~raw/4.5 bytes.
                    "data": bytes(data[i]),
                    "row_count": int(row_count[i]),
                    "null_count": int(null_count[i]),
                    "dict_size": int(dict_size[i]),
                    "stats_json": meta["stats_json"][i],
                }

            changed = np.zeros(m - 1, dtype=bool)
            for col in gcols:
                changed |= col[1:] != col[:-1]
            bounds = np.flatnonzero(changed) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [m]))
            for s, e in zip(starts, ends):
                k = tuple(int(col[s]) for col in gcols)
                if pending and k != pending_key:
                    yield flush(pending)
                    pending = []
                pending.extend(row(i) for i in range(s, e))
                pending_key = k
                if e != m:  # group complete within this batch
                    yield flush(pending)
                    pending = []
        if pending:
            yield flush(pending)

    src = chunks
    if co_locate:
        src = chunks.repartition(
            *[F.col(c) for c in group_cols]
        ).sortWithinPartitions(*group_cols)
    return src.mapInArrow(decode_iter, schema=schema)

"""The decode operator: chunk table -> original rows.

Re-assembles every column from its streams — the read-side mirror of
operators.encode, playing the role of the reference's NaiveStripeDecoder
(src/array_decoder/mod.rs:290-364): per column pull PRESENT then
DATA/LENGTH/SECONDARY/DICTIONARY_DATA through the block decompressor and
the RLE/FSST decoders, then re-space nulls.

decode_table_arrow runs it as mapInArrow over runs of one chunk's stream
rows, so decoded values stay Arrow end to end (no Python string objects).
It reads a stored chunk table in place (one map-only stage, like the
reference decoding a stripe where it lies) when chunk_layout proves from
the parquet footers that no chunk can reach two tasks, and otherwise
first co-locates each chunk with repartition + sortWithinPartitions. With
a predicate (``where``) it decodes only the row groups of each chunk that
may hold a matching row (operators.predicate.pruned_scan).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterator, Sequence

import numpy as np
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

log = logging.getLogger(__name__)


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
    groups: list[int] | None = None,
) -> dict[str, pa.Array]:
    """Decode one chunk's stream rows -> {column: pa.Array} (dense schema).

    ``groups``: row-group indexes to decode for chunks written with a
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
    if groups is None:
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
            out[name] = _decode_column(name, dt, by_col, groups=groups)
        else:
            full = _decode_column(name, dt, by_col)
            if grid is None:
                out[name] = full
            else:
                spans = [full.slice(s, e - s) for s, e in rg_row_ranges(grid, groups)]
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
    name: str, dt: T.DataType, by_col: dict, groups: list[int] | None = None
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
        return _decode_column_rg(name, dt, metas, streams, rg, groups)
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


def _binary_views(arr: pa.Array) -> list[memoryview]:
    """Zero-copy memoryview slices of a (large_)binary column's values."""
    t = arr.type
    if pa.types.is_large_binary(t) or pa.types.is_large_string(t):
        offs = np.frombuffer(arr.buffers()[1], np.int64, len(arr) + 1, arr.offset * 8)
    else:
        offs = np.frombuffer(arr.buffers()[1], np.int32, len(arr) + 1, arr.offset * 4)
    mv = memoryview(arr.buffers()[2])
    return [mv[offs[i]: offs[i + 1]] for i in range(len(arr))]


def _first_overlap(boxes: list[tuple], members: list[int], col: int) -> tuple[int, int] | None:
    """Two of ``members`` whose key boxes intersect on every column, or None.

    ``boxes[i]`` holds one (min, max) per group column. Sweeping the
    members by their min on ``col`` splits them into runs that chain-
    overlap on it; only boxes in one run can intersect, so each run
    recurses on the next column, and the runs left after the last column
    (small in practice) are checked pair by pair."""
    if len(members) < 2:
        return None
    if col == len(boxes[members[0]]):
        for n, a in enumerate(members):
            for b in members[n + 1:]:
                if all(la <= hb and lb <= ha
                       for (la, ha), (lb, hb) in zip(boxes[a], boxes[b])):
                    return a, b
        return None
    run: list[int] = []
    reach = None
    for i in sorted(members, key=lambda i: boxes[i][col][0]):
        lo, hi = boxes[i][col]
        if run and lo > reach:
            found = _first_overlap(boxes, run, col + 1)
            if found:
                return found
            run = []
        reach = hi if not run else max(reach, hi)
        run.append(i)
    return _first_overlap(boxes, run, col + 1)


def parquet_scan(df: DataFrame):
    """-> (relation, "") when the optimized plan of ``df`` is a bare
    parquet scan: a parquet ``HadoopFsRelation`` under at most
    ``Project``s of plain column references (any subset and order; an
    alias, filter or computed column fails it); else (None, why not).
    Runs on the driver."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
    except AttributeError:  # a frame with no JVM behind it (Spark Connect)
        return None, "no JVM plan to inspect"
    while node.nodeName() == "Project":
        exprs = node.projectList()
        for i in range(exprs.size()):
            e = exprs.apply(i)
            if e.getClass().getSimpleName() != "AttributeReference":
                return None, f"{e.name()} is computed, not read from the files"
        node = node.child()
    if node.nodeName() != "LogicalRelation":
        return None, f"the plan is not a bare parquet scan ({node.nodeName()})"
    rel = node.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"):
        return None, "the scan does not read parquet files"
    return rel, ""


def chunk_layout(chunks: DataFrame, group_cols: Sequence[str]) -> tuple[bool, str]:
    """-> (map_only, reason): do the parquet footers prove that no chunk's
    stream rows can be split across tasks? Runs on the driver.

    The proof holds when
    - ``chunks`` is a bare parquet scan (parquet_scan: a repartition,
      union, sort, filter, join, cache or computed column fails it);
    - every row group of every input file has min/max statistics for each
      group column, or takes it as a Hive partition value from its path
      (``part_id=`` for encode_dataset, ``stream_batch_id=`` for the
      streaming sink);
    - no two row groups can share a chunk key: their key ranges are
      disjoint on at least one group column.
    Spark reads each row group in the one split that holds its midpoint,
    so a chunk inside one row group reaches exactly one task, in the order
    it was written. ``reason`` names the path and why it was chosen.
    """
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    cols = tuple(group_cols)
    rel, why = parquet_scan(chunks)
    if rel is None:
        return False, f"shuffle: {why}"
    part_cols = set(rel.partitionSchema().fieldNames())
    files = chunks.inputFiles()

    boxes: list[tuple] = []
    where: list[tuple[str, int]] = []
    for uri in files:
        try:
            fs, path = pafs.FileSystem.from_uri(uri)
            md = pq.read_metadata(path, filesystem=fs)
        except (OSError, pa.ArrowException) as e:
            return False, f"shuffle: cannot read the footer of {uri} ({e})"
        name = os.path.basename(path)
        in_path = dict(seg.split("=", 1) for seg in path.split("/")[:-1] if "=" in seg)
        leaf = {md.schema.column(j).path: j for j in range(md.num_columns)}
        fixed: dict[str, tuple[int, int]] = {}
        for c in cols:
            if c in part_cols:
                try:
                    v = int(in_path[c])
                except (KeyError, ValueError):
                    return False, f"shuffle: no integer {c}= value in the path of {name}"
                fixed[c] = (v, v)
            elif c not in leaf:
                return False, f"shuffle: {name} has no column {c}"
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            box = []
            for c in cols:
                if c in fixed:
                    box.append(fixed[c])
                    continue
                st = rg.column(leaf[c]).statistics
                if st is None or not st.has_min_max:
                    return False, f"shuffle: row group {g} of {name} has no min/max statistics for {c}"
                box.append((st.min, st.max))
            boxes.append(tuple(box))
            where.append((name, g))

    pair = _first_overlap(boxes, list(range(len(boxes))), 0)
    if pair is not None:
        a, b = pair
        shared = []
        for (la, ha), (lb, hb) in zip(boxes[a], boxes[b]):
            lo, hi = max(la, lb), min(ha, hb)
            shared.append(str(lo) if lo == hi else f"{lo}..{hi}")
        return False, (f"shuffle: row group {where[a][1]} of {where[a][0]} and row group "
                       f"{where[b][1]} of {where[b][0]} may share chunk ({', '.join(shared)})")
    return True, (f"map-only: {len(files)} files, {len(boxes)} row groups, "
                  f"disjoint ({', '.join(cols)})")


def _key_str(group_cols: Sequence[str], key: tuple) -> str:
    return "(" + ", ".join(f"{c}={v}" for c, v in zip(group_cols, key)) + ")"


def decode_table_arrow(
    chunks: DataFrame, schema: T.StructType, co_locate: bool = True,
    group_cols: tuple[str, ...] = ("part_id", "chunk_ord"), where=None,
) -> DataFrame:
    """Chunk-table DataFrame -> DataFrame with the original schema, decoded
    to Arrow RecordBatches directly.

    Stream metadata is read column-wise off the Arrow batch (no per-row
    Python dicts) and the encoded `data` bytes are zero-copy memoryview
    slices of the batch buffer — the analog of the reference handing
    Bytes slices to its decoders (src/stripe.rs:312-336).

    ``co_locate=True`` makes sure every chunk's stream rows arrive in one
    task, contiguously. When ``chunk_layout`` proves from the parquet
    footers that no chunk can be split across tasks (a bare scan of a
    stored chunk table whose row groups have disjoint chunk keys: the
    layout encode_table, encode_dataset and the streaming sink write),
    the decode is one map-only stage over the scan. Otherwise it falls
    back to repartition + sortWithinPartitions on ``group_cols``. Either
    way one INFO line on this module's logger names the path and why.

    ``co_locate=False`` takes the map-only path unchecked: right for
    encode_table output piped directly in (each encode task emits one
    RecordBatch per chunk), so the whole roundtrip runs as one stage.

    On the map-only path a chunk key that comes back after a different
    key within one partition raises ValueError naming it. Each Arrow
    batch is checked before any chunk in it is decoded, so a partial
    chunk is decoded only when its rows span batches, and then the error
    still fails the task, so none of it reaches the output. A stored
    table whose writer interleaved chunks inside one row group (sorted by
    another column, say) raises it too; decode such a table through a
    plan that is not a bare scan, for example
    ``chunks.repartition(*group_cols)``, which takes the shuffle.

    ``group_cols`` identifies one chunk (tuple-compared per row — no
    packed-integer key, so no bound on chunk_ord or part_id magnitude);
    streaming consumers add "stream_batch_id" since per-batch landing
    dirs reuse task-local part_ids.

    ``where`` (an operators.predicate Predicate) decodes of each chunk
    only the row groups whose statistics say they may hold a matching
    row (predicate.group_keep over its DATA rows); other rows of those
    groups stay, for the caller's filter. None decodes every row.
    """
    if where is not None:
        from .predicate import group_keep
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
        seen: set[tuple] = set()

        def flush(rows):
            keep = None if where is None else group_keep(rows, where)
            arrays = decode_chunk_arrays(rows, col_kinds, groups=keep)
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
            keys = [tuple(int(col[s]) for col in gcols) for s in starts]
            # a chunk key that comes back is caught for the whole batch
            # before any of its chunks is decoded
            prev = pending_key
            for k in keys:
                if k != prev and k in seen:
                    raise ValueError(
                        f"chunk {_key_str(group_cols, k)} came back after chunk "
                        f"{_key_str(group_cols, prev)} in one partition: its stream "
                        "rows are not contiguous, so a map-only decode would split it")
                seen.add(k)
                prev = k
            for s, e, k in zip(starts, ends, keys):
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

    map_only, reason = (chunk_layout(chunks, group_cols) if co_locate
                        else (True, "map-only: co_locate=False"))
    log.info("decode_table_arrow %s", reason)
    src = chunks
    if not map_only:
        src = chunks.repartition(
            *[F.col(c) for c in group_cols]
        ).sortWithinPartitions(*group_cols)
    return src.mapInArrow(decode_iter, schema=schema)


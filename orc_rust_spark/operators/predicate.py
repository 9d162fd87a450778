"""Composite predicate AST, pruned over the chunk table by the ORC reader's
evaluator.

Mirrors the reference's Predicate AST (src/predicate.rs:28-200: Comparison
with 6 ops, IsNull/IsNotNull, And/Or/Not with negation push-down). Each
leaf is a few ``orc_file.Probe``s, and a chunk's or its row groups' keep
mask is composed from ``orc_file.keep_mask`` over the chunk table's
statistics as ``ColumnStats`` arrays (column_stats): And is ``&``, Or is
``|``, and Not is pushed down De Morgan-style (Not(a AND b) -> Not(a) OR
Not(b), Not(Comparison) -> flipped op), because "might match" is not
closed under complement. Three-valued, as the reference's
src/row_group_filter.rs:54-205: a chunk or group is skipped only when its
statistics or bloom filter rule every row out; unknown statistics keep.

Timestamp statistics are UTC microseconds: of instants for a TimestampType
column, of wall clocks for a TimestampNTZType one. A naive datetime probe
stands for two of them (_span): PySpark's F.lit reads it in the Python
process's local zone (TimestampType.toInternal's time.mktime), as
createDataFrame does its values, and an NTZ literal or an NTZ column
compared at the UTC session time zone ``session.get_spark`` sets reads it
as UTC. Its bounds take the wider of the two, so neither prunes a chunk
the residual filter would match.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs import block as blockc
from ..codecs.bloom import BloomFilter, BloomMatrix
from ..sources import chunk_table as ct
from ..sources import orc_file as of

_NEG_OP = {"=": "!=", "!=": "=", "<": ">=", "<=": ">", ">": "<=", ">=": "<"}

#: chunk codec -> the statistics family of its min/max strings and their
#: parse into the family's domain (days for dates, microseconds for
#: timestamps). Decimal statistics are unscaled mantissas, which no probe
#: compares with, and booleans keep none.
_FAMILY_OF_CODEC = {
    **dict.fromkeys(("rle_v2", "rle_v1", "byte_rle"), ("int", int)),
    "float_plain": ("float", float), "date": ("date", int),
    "timestamp_split": ("ts", int),
    **dict.fromkeys(("direct", "dict", "fsst"), ("str", str)),
}
#: chunk codec -> the ORC column kind whose hash family its bloom holds
_BLOOM_KIND = {**dict.fromkeys(("rle_v2", "rle_v1", "byte_rle"), of.K_LONG),
               **dict.fromkeys(("direct", "dict", "fsst"), of.K_STRING)}


_EPOCH = dt.datetime(1970, 1, 1)


def _span(v) -> tuple:
    """(least, greatest) value a probe of ``v`` may stand for against the
    chunk statistics. A datetime's are naive UTC datetimes ("ts" family):
    an aware one's instant, a naive one's instant in the local zone (read
    here, on the driver, where F.lit reads it) and the naive value itself
    (see the module docstring); (None, None), which prunes nothing, where
    they overflow. Any other value stands for itself."""
    if not isinstance(v, dt.datetime):
        return v, v
    try:
        if v.tzinfo is not None:
            u = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return u, u
        local = _EPOCH + dt.timedelta(seconds=int(time.mktime(v.timetuple())),
                                      microseconds=v.microsecond)
    except (OverflowError, ValueError):
        return None, None
    return (v, v) if local == v else (min(v, local), max(v, local))


class Predicate:
    def columns(self) -> set[str]:
        raise NotImplementedError

    def negate(self) -> "Predicate":
        raise NotImplementedError

    def to_spark(self) -> Column:
        """The exact predicate over decoded rows (the residual filter)."""
        raise NotImplementedError


@dataclass(frozen=True)
class Comparison(Predicate):
    col: str
    op: str  # = != < <= > >=
    value: object
    #: the Probes whose keep masks OR to this comparison's: != is < or >,
    #: so a constant chunk prunes
    probes: tuple = field(init=False, repr=False, compare=False)

    def __post_init__(self):
        lo, hi = _span(self.value)
        lt, gt = of.Probe(hi=hi, hi_strict=True), of.Probe(lo=lo, lo_strict=True)
        eq = of.Probe(lo) if lo is hi else of.Probe(lo=lo, hi=hi)
        probes = {"=": (eq,), "!=": (lt, gt), "<": (lt,), "<=": (of.Probe(hi=hi),),
                  ">": (gt,), ">=": (of.Probe(lo=lo),)}.get(self.op)
        if probes is None:
            raise ValueError(f"unknown op {self.op!r}")
        object.__setattr__(self, "probes", probes)

    def columns(self) -> set[str]:
        return {self.col}

    def negate(self) -> Predicate:
        return Comparison(self.col, _NEG_OP[self.op], self.value)

    def to_spark(self) -> Column:
        c, v = F.col(self.col), F.lit(self.value)
        return {
            "=": c == v, "!=": c != v, "<": c < v,
            "<=": c <= v, ">": c > v, ">=": c >= v,
        }[self.op]


@dataclass(frozen=True)
class IsNull(Predicate):
    col: str
    probes: tuple = field(default_factory=lambda: (of.Probe(not_null=False),),
                          init=False, repr=False, compare=False)

    def columns(self) -> set[str]:
        return {self.col}

    def negate(self) -> Predicate:
        return IsNotNull(self.col)

    def to_spark(self) -> Column:
        return F.col(self.col).isNull()


@dataclass(frozen=True)
class IsNotNull(Predicate):
    col: str
    probes: tuple = field(default_factory=lambda: (of.Probe(not_null=True),),
                          init=False, repr=False, compare=False)

    def columns(self) -> set[str]:
        return {self.col}

    def negate(self) -> Predicate:
        return IsNull(self.col)

    def to_spark(self) -> Column:
        return F.col(self.col).isNotNull()


@dataclass(frozen=True)
class And(Predicate):
    preds: tuple

    def __init__(self, *preds: Predicate):
        object.__setattr__(self, "preds", tuple(preds))

    def columns(self) -> set[str]:
        return set().union(*(p.columns() for p in self.preds))

    def negate(self) -> Predicate:
        return Or(*(p.negate() for p in self.preds))

    def to_spark(self) -> Column:
        out = F.lit(True)
        for p in self.preds:
            out = out & p.to_spark()
        return out


@dataclass(frozen=True)
class Or(Predicate):
    preds: tuple

    def __init__(self, *preds: Predicate):
        object.__setattr__(self, "preds", tuple(preds))

    def columns(self) -> set[str]:
        return set().union(*(p.columns() for p in self.preds))

    def negate(self) -> Predicate:
        return And(*(p.negate() for p in self.preds))

    def to_spark(self) -> Column:
        out = F.lit(False)
        for p in self.preds:
            out = out | p.to_spark()
        return out


@dataclass(frozen=True)
class Not(Predicate):
    pred: Predicate

    def columns(self) -> set[str]:
        return self.pred.columns()

    def negate(self) -> Predicate:
        return self.pred

    def to_spark(self) -> Column:
        return ~self.pred.to_spark()


def column_stats(codec: str, mins: list, maxs: list, nulls: list | None,
                 rows: list) -> of.ColumnStats:
    """A chunk's (one entry) or its row groups' statistics as ColumnStats:
    the min and max strings parsed straight into the domain of the
    family their codec gives (_FAMILY_OF_CODEC); a None or unparsable one
    is unknown. A string max of ``ct.STAT_CHARS`` characters or more is a
    prefix of the true max; with its last code point bumped it is an
    upper bound, and unknown where that code point is U+10FFFF. A float
    max of 'nan' (the encoder's bound of values holding NaN, which Spark
    orders above +inf) stays NaN, which no probe's bound rules out.
    ``nulls`` (None: not known) and ``rows`` count each entry's nulls and
    rows."""
    family, parse = _FAMILY_OF_CODEC.get(codec, (None, None))
    pairs = []
    for mn, mx in zip(mins, maxs):
        pair = None
        if family is not None and mn is not None and mx is not None:
            try:
                pair = (parse(mn), parse(mx))
            except ValueError:
                pass
            if family == "str" and len(mx) >= ct.STAT_CHARS:
                pair = None if mx[-1] == "\U0010ffff" else (mn, mx[:-1] + chr(ord(mx[-1]) + 1))
        pairs.append(pair)
    counts = None if nulls is None else [(r - k, int(k > 0)) for k, r in zip(nulls, rows)]
    return of.ColumnStats.of(family, pairs, counts)


def _keep(pred: Predicate, cols: dict, n: int) -> np.ndarray:
    """Which of ``n`` entries may hold a row ``pred`` matches. ``cols`` maps
    a column to (ColumnStats, BloomMatrix or None, the bloom's ORC kind);
    a column without statistics keeps every entry."""
    if isinstance(pred, Not):
        return _keep(pred.pred.negate(), cols, n)
    if isinstance(pred, And):
        out = np.ones(n, dtype=bool)
        for p in pred.preds:
            out &= _keep(p, cols, n)
        return out
    if isinstance(pred, Or):
        out = np.zeros(n, dtype=bool)
        for p in pred.preds:
            out |= _keep(p, cols, n)
        return out
    got = cols.get(pred.col)
    if got is None:
        return np.ones(n, dtype=bool)
    stats, blooms, kind = got
    out = np.zeros(n, dtype=bool)
    for probe in pred.probes:
        out |= of.keep_mask(probe, stats, n, blooms, kind)
    return out


def chunk_keep(rows: list[dict], pred: Predicate) -> bool:
    """May one chunk hold a row ``pred`` matches? ``rows`` are the chunk's
    stream rows as dicts: a DATA row's ``min_val``, ``max_val``,
    ``null_count`` and ``row_count`` give a column's statistics and a
    BLOOM_FILTER row's ``data`` its bloom filter; a column without them
    keeps."""
    cols, stats = pred.columns(), {}
    for r in rows:
        if r["stream_kind"] == ct.DATA and r["column"] in cols:
            stats[r["column"]] = (column_stats(r["codec"], [r["min_val"]], [r["max_val"]],
                                               [r["null_count"]], [r["row_count"]]), None, -1)
    for r in rows:
        name = r["column"]
        if r["stream_kind"] == ct.BLOOM_FILTER and name in stats and r["codec"] in _BLOOM_KIND:
            bf = BloomFilter.deserialize(blockc.decompress_stream(r["data"], r["block_codec"]))
            stats[name] = (stats[name][0], BloomMatrix([bf]), _BLOOM_KIND[r["codec"]])
    return bool(_keep(pred, stats, 1)[0])


def group_keep(rows: list[dict], pred: Predicate) -> list[int] | None:
    """The row groups of one chunk that may hold a row ``pred`` matches,
    by each DATA row's ``stats_json`` "rg" index (a row without one
    keeps), or None for all: also when no column is indexed, every group
    may match, or the indexed columns lie on different group grids
    (per-column strides), where one keep list would slice them at
    different rows."""
    cols, stats, grids = pred.columns(), {}, []
    for r in rows:
        sj = r["stream_kind"] == ct.DATA and r["stats_json"]
        rg = json.loads(sj).get("rg") if sj else None
        if rg:
            grids.append(rg["n"])
            if r["column"] in cols:
                stats[r["column"]] = (column_stats(rg["codec"], rg["min"], rg["max"],
                                                   rg.get("nulls"), rg["n"]), None, -1)
    if not grids or any(g != grids[0] for g in grids[1:]):
        return None
    n = len(grids[0])
    keep = np.flatnonzero(_keep(pred, stats, n))
    return None if len(keep) == n else keep.tolist()


def prune_chunks_predicate(chunks: DataFrame, pred: Predicate) -> DataFrame:
    """Keys (part_id, chunk_ord) of the chunks whose statistics and bloom
    filters say ``pred`` MIGHT match: one grouped Arrow pass over the DATA
    and BLOOM_FILTER rows of its columns, which reads ``data`` for the
    BLOOM_FILTER rows only."""
    kind = F.col("stream_kind")
    meta = chunks.where(
        F.col("column").isin(sorted(pred.columns())) & kind.isin(ct.DATA, ct.BLOOM_FILTER)
    ).select("part_id", "chunk_ord", "column", "stream_kind", "codec", "block_codec",
             "min_val", "max_val", "null_count", "row_count",
             F.when(kind == ct.BLOOM_FILTER, F.col("data")).alias("data"))

    def verdict(table: pa.Table) -> pa.Table:
        keep = chunk_keep(table.to_pylist(), pred)
        return table.select(["part_id", "chunk_ord"]).slice(0, int(keep))

    return meta.groupBy("part_id", "chunk_ord").applyInArrow(
        verdict, schema="part_id int, chunk_ord int")


def pruned_scan(
    chunks: DataFrame, schema: T.StructType, pred: Predicate
) -> tuple[DataFrame, DataFrame]:
    """-> (decoded rows satisfying pred exactly, kept chunk keys).

    Two pruning granularities: prune_chunks_predicate keeps whole chunks,
    a broadcast semi-join leaves the others' streams in the JVM, and
    decode_table_arrow(where=pred) decodes in each kept chunk only the
    row groups group_keep keeps, its per-column keep masks COMPOSED
    across the predicate tree (And intersects, Or unions — the reference's
    RowSelection and_then/union, src/row_selection.rs:32-260). The
    residual filter gives the exact rows."""
    from .decode import decode_table_arrow

    keys = prune_chunks_predicate(chunks, pred)
    kept = chunks.join(F.broadcast(keys), ["part_id", "chunk_ord"], "left_semi")
    return decode_table_arrow(kept, schema, where=pred).where(pred.to_spark()), keys

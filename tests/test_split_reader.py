"""The one split planner and split reader behind every Spark ORC scan
(``orc_file.plan_splits``, ``fetch_split``, ``decode_split``): orc_scan,
the orcx batch reader and the orcx stream reader must plan, fetch and
decode alike."""

import os

import numpy as np
import pyarrow as pa
import pytest

from orc_rust_spark.sources import fsio, latencyfs
from orc_rust_spark.sources import orc_file as of


def _table(lo: int, hi: int, extra: bool = True) -> pa.Table:
    ids = np.arange(lo, hi, dtype=np.int64)
    cols = {"id": pa.array(ids),
            "name": pa.array([f"n{i % 97:02d}" for i in ids]),
            "val": pa.array(ids * 0.5)}
    if extra:
        cols["extra"] = pa.array(ids % 7)
    return pa.table(cols)


def _write(path: str, tbl: pa.Table) -> str:
    # 20k-row stripes of four 5k-row index groups each
    of.write_orc(tbl, path, compression="zstd", stripe_rows=20_000,
                 row_index_stride=5_000, bloom_columns=["id"])
    return path


# --- orc_scan's predicate translation, no Spark -----------------------------


@pytest.mark.parametrize("lo,hi", [
    (13_456, 13_456),  # equality probe (bloom)
    (6_000, 13_000),   # closed range
    (14_000, None),    # open above
    (None, 4_000),     # open below
])
def test_scalar_probe_equals_predicate_list(tmp_path, lo, hi):
    """``decode_stripe_pruned(column=c, eq=v | lo/hi)`` and the AND-list
    form orc_scan now sends (``[{"column": c, "eq": [v]}]`` for lo == hi,
    ``{"column", "lo", "hi"}`` otherwise) keep the same groups and return
    the same table."""
    p = _write(str(tmp_path / "one.orc"), _table(0, 20_000))
    meta = of.read_metadata(p)
    st = meta.stripes[0]
    with open(p, "rb") as fh:
        fh.seek(st.offset)
        body = fh.read(st.index_length + st.data_length)
        footer = fh.read(st.footer_length)
    if lo == hi:
        scalar = dict(column="id", eq=lo)
        listed = [dict(column="id", eq=[lo])]
    else:
        scalar = dict(column="id", lo=lo, hi=hi)
        listed = [dict(column="id", lo=lo, hi=hi)]
    a = of.decode_stripe_pruned(body, footer, meta, st.number_of_rows,
                                **scalar)
    b = of.decode_stripe_pruned(body, footer, meta, st.number_of_rows,
                                predicates=listed)
    assert a[0].equals(b[0])
    assert a[1:] == b[1:]
    assert 0 < a[1] < a[2] == 4  # the probe pruned some groups, not all


def test_plan_splits_prunes_clips_and_slims(tmp_path):
    """Stripe keeps intersect over the AND-list, a file lacking a probe's
    column keeps every stripe, row ranges clip to stripe-local ranges,
    and every split carries its file's task meta."""
    a = _write(str(tmp_path / "a.orc"), _table(0, 60_000))
    b = _write(str(tmp_path / "b.orc"), _table(60_000, 100_000, extra=False))
    metas = of.read_metadatas([a, b])
    splits = of.plan_splits(metas, [dict(column="id", lo=30_000),
                                    dict(column="extra", eq=[3])])
    assert [(s.path, s.offset) for s in splits] == (
        [(a, metas[a].stripes[i].offset) for i in (1, 2)]
        + [(b, st.offset) for st in metas[b].stripes])
    assert all(s.meta.stripes == [] and s.ranges is None for s in splits)

    ranged = of.plan_splits({a: metas[a]}, row_ranges=[(19_990, 20_010)])
    assert [s.ranges for s in ranged] == [[(19_990, 20_000)], [(0, 10)]]


# --- the fetch half's short-read check on both readers ----------------------


def test_truncated_file_fails_orc_scan_and_orcx(spark, tmp_path):
    """A file cut inside its last stripe after planning fails the read
    with "truncated ORC file" on orc_scan and on orcx alike."""
    from orc_rust_spark.sources.datasource import OrcRustReader

    p = _write(str(tmp_path / "cut.orc"), _table(0, 60_000))
    df = of.orc_scan(spark, p)
    reader = OrcRustReader({"path": p})
    parts = reader.partitions()
    last = of.read_metadata(p).stripes[-1]
    os.truncate(p, last.offset + last.index_length + last.data_length // 2)
    with pytest.raises(Exception, match="truncated ORC file"):
        df.collect()
    with pytest.raises(ValueError, match="truncated ORC file"):
        for part in parts:
            list(reader.read(part))


# --- orc_scan spreads its splits over tasks without a shuffle ---------------


def test_orc_scan_spreads_splits_without_a_shuffle(spark, tmp_path):
    """Ten equal stripes on a local[4] session: the scan's executed plan
    has no Exchange, and its four partitions hold 2 or 3 stripes each."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "ten.orc")
    of.write_orc(_table(0, 10_000), p, compression="zstd", stripe_rows=1_000)
    assert len(of.read_metadata(p).stripes) == 10
    df = of.orc_scan(spark, p)
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism == 4
    rows = [r["count"] for r in df.groupBy(F.spark_partition_id()).count().collect()]
    assert sum(rows) == 10_000 and len(rows) == 4
    assert max(rows) - min(rows) <= 1_000  # one stripe apart at most


# --- the stream reader's planning honours io_retries, no Spark --------------


@pytest.mark.parametrize("retries", [0, 2])
def test_stream_planning_honours_io_retries(tmp_path, retries):
    """Every tail read of the stream reader's planning fails once:
    ``io_retries=0`` raises from ``partitions``, ``io_retries=2`` plans
    (and reads) every stripe."""
    from orc_rust_spark.sources.datasource import OrcRustStreamReader

    (tmp_path / "land").mkdir()
    tbl = _table(0, 50_000)
    p = _write(str(tmp_path / "land" / "f.orc"), tbl)
    n_stripes = len(of.read_metadata(p).stripes)
    fs = latencyfs.make_flaky_filesystem(str(tmp_path), 1)
    r = OrcRustStreamReader({"path": "land",
                             "filesystem": fsio.fs_to_option(fs),
                             "io_retries": str(retries)})
    start, end = r.initialOffset(), r.latestOffset()
    if retries == 0:
        with pytest.raises(ValueError, match="simulated transient throttle"):
            r.partitions(start, end)
        return
    parts = r.partitions(start, end)
    assert len(parts) == n_stripes == 3
    got = pa.Table.from_batches([b for part in parts for b in r.read(part)])
    assert got.equals(of.orc_to_table(p).cast(got.schema))


# --- orc_scan and orcx return the same rows, Spark --------------------------


@pytest.fixture(scope="module")
def orcx(spark):
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)
    return spark


@pytest.fixture(scope="module")
def two_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("two")
    _write(str(d / "a.orc"), _table(0, 45_000))
    _write(str(d / "b.orc"), _table(45_000, 90_000))
    return str(d)


@pytest.fixture(scope="module")
def evolved(tmp_path_factory):
    d = tmp_path_factory.mktemp("evolved")
    _write(str(d / "a_old.orc"), _table(0, 45_000, extra=False))
    _write(str(d / "b_new.orc"), _table(45_000, 90_000))
    return str(d)


def _same(scan_df, orcx_df):
    assert scan_df.schema == orcx_df.schema
    got = sorted(tuple(r) for r in scan_df.collect())
    want = sorted(tuple(r) for r in orcx_df.collect())
    assert got == want and got


@pytest.mark.parametrize("predicate,cond", [
    (("id", 52_345, 52_345), "id = 52345"),
    (("id", 38_000, 61_000), "id BETWEEN 38000 AND 61000"),
    (("id", 81_500, None), "id >= 81500"),
    (("val", None, 1_000.0), "val <= 1000.0"),
])
def test_orc_scan_matches_orcx_where(orcx, two_files, predicate, cond):
    scan = of.orc_scan(orcx, two_files, predicate=predicate).where(cond)
    _same(scan, orcx.read.format("orcx").load(two_files).where(cond))


def test_orc_scan_matches_orcx_projection(orcx, two_files):
    cond = "id = 7777"
    scan = of.orc_scan(orcx, two_files, columns=["val", "id"],
                       predicate=("id", 7_777, 7_777)).where(cond)
    _same(scan, orcx.read.format("orcx").load(two_files)
          .select("id", "val").where(cond))


def test_orc_scan_matches_orcx_row_ranges(orcx, two_files):
    path = os.path.join(two_files, "a.orc")
    scan = of.orc_scan(orcx, path, row_ranges=[(100, 250), (19_990, 20_020)])
    _same(scan, orcx.read.format("orcx")
          .option("row_ranges", "100-250,19990-20020").load(path))


def test_orc_scan_matches_orcx_missing_as_null(orcx, evolved):
    cond = "id >= 44990"
    scan = of.orc_scan(orcx, evolved, missing_as_null=True,
                       predicate=("id", 44_990, None)).where(cond)
    orcx_df = (orcx.read.format("orcx").option("missing_as_null", "true")
               .load(evolved).where(cond))
    _same(scan, orcx_df)
    assert scan.where("extra IS NULL").count() == 10

"""encode_table on a bare parquet scan reads the files in the Python
workers over Spark's own file partitions. Each case encodes one input both
ways, the workers' read and the JVM scan handed over by mapInArrow (forced
by patching out the split planner), and asserts that the two chunk tables
hold the same rows in every column but encode_ms."""

import contextlib
import datetime as dt
import decimal
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from orc_rust_spark.operators import encode
from orc_rust_spark.operators.decode import decode_table_arrow
from orc_rust_spark.operators.encode import encode_table

KEY = ["part_id", "chunk_ord", "column", "stream_kind"]


@contextlib.contextmanager
def confs(spark, **kv):
    """Run the body with SQL confs set (keys with '_' for '.'), then
    restore them."""
    keys = {k.replace("_", "."): str(v) for k, v in kv.items()}
    old = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def _rows(chunks) -> pa.Table:
    t = chunks.toArrow().drop_columns(["encode_ms"])
    return t.sort_by([(k, "ascending") for k in KEY])


def _uses_worker_read(df) -> bool:
    plan = encode_table(df)._jdf.queryExecution().executedPlan().toString()
    return "Range (" in plan and "FileScan" not in plan


def assert_same_chunks(df, monkeypatch, stripe_bytes=encode.STRIPE_BYTES, after=None):
    """Both paths write the same chunk table; -> the workers' chunks."""
    after = after or (lambda c: c)
    assert _uses_worker_read(df)
    worker = _rows(after(encode_table(df, stripe_bytes=stripe_bytes)))
    with monkeypatch.context() as m:
        m.setattr(encode, "_worker_splits", lambda _df: None)
        assert not _uses_worker_read(df)
        jvm = _rows(after(encode_table(df, stripe_bytes=stripe_bytes)))
    assert worker.num_rows > 0
    assert worker.equals(jvm)
    return worker


def _typed_table(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    ints = rng.integers(-100, 100, n)
    floats = rng.normal(size=n)
    floats[::7] = math.nan
    floats[3::11] = math.inf
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return pa.table({
        "i8": pa.array(ints, pa.int8()),
        "i16": pa.array(ints * 300, pa.int16()),
        "i32": pa.array(ints * 70_000, pa.int32()),
        "i64": pa.array(ints * 2**40, pa.int64()),
        "f64": pa.array(floats),
        "dec": pa.array([decimal.Decimal(int(v)).scaleb(-2) for v in ints], pa.decimal128(9, 2)),
        "day": pa.array([dt.date(2020, 1, 1) + dt.timedelta(days=int(v)) for v in ints]),
        "ts": pa.array([base + dt.timedelta(microseconds=int(v) * 1_234_567) for v in ints],
                       pa.timestamp("us", tz="UTC")),
        "s": pa.array([None if v % 5 == 0 else f"s{v}" * (1 + v % 4) for v in ints],
                      pa.string()),
        "b": pa.array([bytes([v % 256]) * (v % 9) for v in ints], pa.binary()),
        "l": pa.array([None if v % 6 == 0 else list(range(v % 4)) for v in ints],
                      pa.list_(pa.int64())),
        "st": pa.array([None if v % 8 == 0 else {"x": int(v), "y": f"y{v}"} for v in ints],
                       pa.struct([("x", pa.int64()), ("y", pa.string())])),
        "m": pa.array([None if v % 9 == 0 else [(f"k{v}", int(v))] * (v % 3) for v in ints],
                      pa.map_(pa.string(), pa.int64())),
    })


@pytest.fixture(scope="module")
def typed_dir(tmp_path_factory):
    """Five files of every supported type, one of them empty and one of
    several row groups."""
    root = tmp_path_factory.mktemp("typed")
    for i, n in enumerate([300, 0, 500, 40, 900]):
        pq.write_table(_typed_table(n, i), root / f"part-{i}.parquet", row_group_size=100)
    return str(root)


def test_files_packed_into_one_partition(spark, typed_dir, monkeypatch):
    with confs(spark, spark_sql_files_openCostInBytes=1, spark_sql_files_minPartitionNum=1):
        df = spark.read.parquet(typed_dir)
        splits = encode._worker_splits(df)
        assert len(splits) < 5 and max(len(s) for s in splits) > 1
        got = assert_same_chunks(df, monkeypatch)
    assert set(got.column("column").to_pylist()) >= {"l.item", "st.x", "st.y"}


def test_row_groups_split_across_partitions(spark, typed_dir, monkeypatch):
    """Files cut into byte ranges: each row group is read in the split
    holding its midpoint, and some splits hold none (empty partitions)."""
    with confs(spark, spark_sql_files_maxPartitionBytes=2048,
               spark_sql_files_openCostInBytes=1):
        df = spark.read.parquet(typed_dir)
        splits = encode._worker_splits(df)
        groups = [g for s in splits for _, gs in s for g in gs]
        assert len(splits) > 10 and [] in splits
        assert len(groups) == sum(pq.ParquetFile(f"{typed_dir}/part-{i}.parquet")
                                  .num_row_groups for i in range(5))
        assert_same_chunks(df, monkeypatch)


def test_batches_and_stripes_cut_alike(spark, typed_dir, monkeypatch):
    """Small Arrow batches (by rows and by bytes) and a small stripe cut
    several chunks per task at the same rows on both paths."""
    with confs(spark, spark_sql_files_openCostInBytes=1,
               spark_sql_execution_arrow_maxRecordsPerBatch=70,
               spark_sql_execution_arrow_maxBytesPerBatch=3000):
        df = spark.read.parquet(typed_dir)
        got = assert_same_chunks(df, monkeypatch, stripe_bytes=5000)
    assert max(got.column("chunk_ord").to_pylist()) > 2


def test_projected_reordered_columns_and_coalesce(spark, typed_dir, monkeypatch):
    df = spark.read.parquet(typed_dir).select("s", "f64", "i8")
    assert_same_chunks(df, monkeypatch, after=lambda c: c.coalesce(1))
    decoded = decode_table_arrow(encode_table(df).coalesce(1), df.schema)
    assert sorted(map(str, decoded.collect())) == sorted(map(str, df.collect()))


def test_other_inputs_take_the_jvm_scan(spark, typed_dir, tmp_path):
    src = spark.read.parquet(typed_dir)
    assert not _uses_worker_read(src.where(F.col("i8") > 0))
    assert not _uses_worker_read(src.withColumn("i8", F.col("i8") + 1))
    assert not _uses_worker_read(src.select(F.col("i8").alias("j")))
    hive = str(tmp_path / "hive")
    src.select("i8", "i64").write.partitionBy("i8").parquet(hive)
    assert not _uses_worker_read(spark.read.parquet(hive))
    int96 = str(tmp_path / "int96")
    pq.write_to_dataset(pa.table({"t": pa.array([0, 1], pa.timestamp("us"))}), int96,
                        use_deprecated_int96_timestamps=True)
    assert not _uses_worker_read(spark.read.parquet(int96))
    with confs(spark, spark_sql_files_ignoreCorruptFiles="true"):
        assert not _uses_worker_read(src)

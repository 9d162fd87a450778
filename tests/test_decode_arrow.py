import logging

import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from orc_rust_spark.operators.decode import chunk_layout, decode_table_arrow
from orc_rust_spark.operators.encode import encode_table
from orc_rust_spark.plans.pipeline import plan_codecs
from orc_rust_spark.sources.webtext import WEBTEXT_SCHEMA, webtext_df


def test_decode_arrow_matches_source(spark):
    df = webtext_df(spark, 2500, num_partitions=3).cache()
    chunks = encode_table(df, plan=plan_codecs(df))
    decoded = decode_table_arrow(chunks, WEBTEXT_SCHEMA)
    s, d = df.alias("s"), decoded.alias("d")
    bad = (
        s.join(d, on="url", how="full")
        .where(
            ~F.col("s.text").eqNullSafe(F.col("d.text"))
            | ~F.col("s.html").eqNullSafe(F.col("d.html"))
            | ~F.col("s.lang").eqNullSafe(F.col("d.lang"))
            | ~F.col("s.warc_ts").eqNullSafe(F.col("d.warc_ts"))
        )
        .count()
    )
    assert bad == 0
    assert decoded.count() == 2500


def test_decode_arrow_testdata_tables(spark):
    for table, cols in [
        ("events", ["event_id", "ts", "user_id", "event_type", "value", "props"]),
        ("documents", ["doc_id", "text", "lang", "source", "n_chars"]),
    ]:
        src = spark.read.parquet(f"/root/testdata/sf0.001/{table}.parquet").select(*cols)
        chunks = encode_table(src, plan={})
        decoded = decode_table_arrow(chunks, src.schema)
        key = cols[0]
        joined = src.alias("s").join(decoded.alias("d"), on=key, how="full")
        cond = None
        for c in cols[1:]:
            ne = ~F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
            cond = ne if cond is None else (cond | ne)
        assert joined.where(cond).count() == 0, table


def test_encode_parquet_scan_roundtrip(spark, tmp_path):
    """A bare parquet scan is read inside the Python workers (of files
    without INT96 timestamps, Spark's default, which the JVM reads)."""
    src_dir = str(tmp_path / "src")
    df = webtext_df(spark, 1500, num_partitions=3)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.write.mode("overwrite").parquet(src_dir)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    src = spark.read.parquet(src_dir)
    chunks = encode_table(src, plan=plan_codecs(src))
    assert "FileScan" not in chunks._jdf.queryExecution().executedPlan().toString()
    decoded = decode_table_arrow(chunks, WEBTEXT_SCHEMA)
    joined = src.alias("s").join(decoded.alias("d"), on="url", how="full")
    bad = joined.where(
        ~F.col("s.text").eqNullSafe(F.col("d.text"))
        | ~F.col("s.html").eqNullSafe(F.col("d.html"))
    ).count()
    assert bad == 0 and decoded.count() == 1500


def test_coalesce_after_encode_keeps_chunk_keys_unique(spark, tmp_path):
    """A coalesce(1) after encode_table runs the encode of both input
    partitions inside one task. Each chunk still takes its input
    partition's id (spark_partition_id below the mapInArrow), so no two
    chunks share a key and the stored table decodes to the source."""
    src = webtext_df(spark, 200, num_partitions=2)
    path = str(tmp_path / "coalesced")
    encode_table(src).coalesce(1).write.parquet(path)
    chunks = spark.read.parquet(path)
    keys = ("part_id", "chunk_ord", "column", "stream_kind")
    assert chunks.groupBy(*keys).count().where("count > 1").count() == 0
    assert sorted(r.part_id for r in chunks.select("part_id").distinct().collect()) == [0, 1]
    assert _digest(decode_table_arrow(chunks, WEBTEXT_SCHEMA)) == _digest(src)


# --- map-only decode of stored chunk tables: the footer proof and its fallbacks

KEYS = ("part_id", "chunk_ord")


def _digest(df):
    """Order-insensitive multiset digest of every column."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), row["h"]


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    """A webtext source of two partitions, its digest, and a writer that
    stores its chunk table (one chunk per part) under given options."""
    src = webtext_df(spark, 300, num_partitions=2, seed=7).cache()
    chunks = encode_table(src, plan={}).cache()
    root = tmp_path_factory.mktemp("stored")

    def write(name, **options):
        path = str(root / name)
        w = chunks.write.mode("overwrite")
        for k, v in options.items():
            w = w.option(k, v)
        w.parquet(path)
        return spark.read.parquet(path)

    yield src, _digest(src), write
    chunks.unpersist()
    src.unpersist()


def _row_groups(stored_df):
    out = []
    for uri in stored_df.inputFiles():
        fs, path = pafs.FileSystem.from_uri(uri)
        out.append(pq.read_metadata(path, filesystem=fs).num_row_groups)
    return out


def _decodes_to_source(chunks, source_digest):
    assert _digest(decode_table_arrow(chunks, WEBTEXT_SCHEMA)) == source_digest


def test_one_row_group_per_file_is_map_only(stored, caplog):
    src, want, write = stored
    chunks = write("plain")
    assert _row_groups(chunks) == [1, 1]
    map_only, reason = chunk_layout(chunks, KEYS)
    assert map_only, reason
    assert reason == "map-only: 2 files, 2 row groups, disjoint (part_id, chunk_ord)"
    with caplog.at_level(logging.INFO, logger="orc_rust_spark.operators.decode"):
        decoded = decode_table_arrow(chunks, WEBTEXT_SCHEMA)
    assert any(reason in r.getMessage() for r in caplog.records)
    assert "Exchange" not in decoded._jdf.queryExecution().executedPlan().toString()
    assert _digest(decoded) == want


def test_chunk_across_row_groups_takes_shuffle(stored):
    """A tiny parquet.block.size cuts each chunk into several row
    groups that share its key."""
    src, want, write = stored
    chunks = write("tiny_groups", **{"parquet.block.size": 1,
                                    "parquet.page.size.row.check.min": 1})
    assert all(n > 1 for n in _row_groups(chunks))
    map_only, reason = chunk_layout(chunks, KEYS)
    assert not map_only
    assert reason.startswith("shuffle: row group ") and "may share chunk (" in reason
    _decodes_to_source(chunks, want)


def test_chunk_across_files_takes_shuffle(stored):
    """maxRecordsPerFile splits each chunk over several files."""
    src, want, write = stored
    chunks = write("split_files", maxRecordsPerFile=5)
    assert len(chunks.inputFiles()) > 2
    map_only, reason = chunk_layout(chunks, KEYS)
    assert not map_only
    assert "may share chunk (" in reason
    _decodes_to_source(chunks, want)


def test_non_bare_plan_takes_shuffle(stored):
    """Any operator above the scan voids the proof."""
    src, want, write = stored
    chunks = write("plain")
    shuffled = chunks.repartition(3)
    assert chunk_layout(shuffled, KEYS) == (
        False, "shuffle: the plan is not a bare parquet scan (Repartition)")
    _decodes_to_source(shuffled, want)
    half = chunks.where(F.col("part_id") == 0)
    both = half.union(chunks.where(F.col("part_id") == 1))
    assert chunk_layout(both, KEYS) == (
        False, "shuffle: the plan is not a bare parquet scan (Union)")
    _decodes_to_source(both, want)
    renamed = chunks.withColumn("part_id", F.lit(0))
    assert chunk_layout(renamed, KEYS)[0] is False


def test_group_columns_without_statistics_take_shuffle(stored, tmp_path, spark):
    """A file whose group columns carry no min/max statistics."""
    src, want, write = stored
    chunks = write("plain")
    for i, uri in enumerate(chunks.inputFiles()):
        fs, path = pafs.FileSystem.from_uri(uri)
        pq.write_table(pq.read_table(path, filesystem=fs),
                       str(tmp_path / f"part-{i}.parquet"), write_statistics=False)
    bare = spark.read.parquet(str(tmp_path))
    map_only, reason = chunk_layout(bare, KEYS)
    assert not map_only
    assert reason.startswith("shuffle: row group 0 of part-") and "no min/max statistics for part_id" in reason
    _decodes_to_source(bare, want)


def test_map_only_rejects_a_chunk_that_comes_back(stored, spark, tmp_path):
    src, want, write = stored
    interleaved = write("plain").coalesce(1).sortWithinPartitions("column")
    came_back = r"chunk \(part_id=\d+, chunk_ord=0\) came back after chunk"
    with pytest.raises(Exception, match=came_back):
        decode_table_arrow(interleaved, WEBTEXT_SCHEMA, co_locate=False).count()
    _decodes_to_source(interleaved, want)
    # stored that way, the chunks share one row group: the footers cannot
    # show the order inside it, so the proven path raises the same error
    # and a plan that is not a bare scan decodes it
    interleaved.write.parquet(str(tmp_path / "interleaved"))
    stored_interleaved = spark.read.parquet(str(tmp_path / "interleaved"))
    assert chunk_layout(stored_interleaved, KEYS)[0]
    with pytest.raises(Exception, match=came_back):
        decode_table_arrow(stored_interleaved, WEBTEXT_SCHEMA).count()
    _decodes_to_source(stored_interleaved.repartition(*KEYS), want)


def test_encode_dataset_output_is_map_only(spark, tmp_path):
    """encode_dataset partitions by part_id: the key comes from the path."""
    from orc_rust_spark.plans.pipeline import encode_dataset

    src = webtext_df(spark, 400, num_partitions=2, seed=3)
    out = encode_dataset(spark, src, str(tmp_path / "ds"), plan={})
    chunks = spark.read.parquet(out["chunks_dir"])
    map_only, reason = chunk_layout(chunks, KEYS)
    assert map_only, reason
    assert _digest(decode_table_arrow(chunks, WEBTEXT_SCHEMA)) == _digest(src)

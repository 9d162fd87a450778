import os

import pytest
from pyspark.sql import functions as F

from orc_rust_spark.sources.webtext import webtext_df
from orc_rust_spark.streaming.encode_stream import encode_stream, stats_stream


def test_streaming_encode_resumes_from_checkpoint(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    df1 = webtext_df(spark, 400, num_partitions=2, seed=1)
    df1.write.mode("append").parquet(input_dir)

    q = encode_stream(spark, input_dir, out_dir, trigger_once=True)
    q.awaitTermination(120)
    chunks = spark.read.parquet(os.path.join(out_dir, "chunks"))
    rows1 = chunks.where(F.col("stream_kind") == "DATA").where(
        F.col("column") == "url"
    ).agg(F.sum("row_count")).collect()[0][0]
    assert rows1 == 400
    batches1 = {r[0] for r in chunks.select("stream_batch_id").distinct().collect()}

    # new files arrive; restart drains only the delta (checkpoint resume)
    webtext_df(spark, 200, num_partitions=1, seed=2).write.mode("append").parquet(input_dir)
    q2 = encode_stream(spark, input_dir, out_dir, trigger_once=True)
    q2.awaitTermination(120)
    chunks = spark.read.parquet(os.path.join(out_dir, "chunks"))
    rows2 = chunks.where(F.col("stream_kind") == "DATA").where(
        F.col("column") == "url"
    ).agg(F.sum("row_count")).collect()[0][0]
    assert rows2 == 600  # 400 + 200, nothing double-encoded
    batches2 = {r[0] for r in chunks.select("stream_batch_id").distinct().collect()}
    assert len(batches2) > len(batches1)


def test_stats_stream_windowed(spark, tmp_path):
    input_dir = str(tmp_path / "in2")
    webtext_df(spark, 300, num_partitions=2).write.mode("append").parquet(input_dir)
    agg = stats_stream(spark, input_dir)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("ingest_stats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; the plan must at
    # least run and the table exist
    assert spark.table("ingest_stats").columns == ["window", "host", "pages", "bytes"]


def test_stateful_streaming_dedup_across_batches_and_restarts(spark, tmp_path):
    """applyInPandasWithState exact dedup: duplicates are suppressed
    WITHIN a run and ACROSS a checkpointed restart (state survives)."""
    import pandas as pd

    from orc_rust_spark.streaming.dedup_stream import run_dedup_stream

    input_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")

    texts = ["alpha doc", "beta doc", "alpha doc", "gamma doc", "beta doc"]
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(input_dir)

    q = run_dedup_stream(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).select("text").collect()
    assert sorted(r.text for r in got) == ["alpha doc", "beta doc", "gamma doc"]

    # restart with new files: old fingerprints stay suppressed (state in
    # checkpoint), only the genuinely new text passes
    spark.createDataFrame(
        [(10, "alpha doc"), (11, "delta doc"), (12, "gamma doc")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(input_dir)
    q2 = run_dedup_stream(spark, input_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out_dir).select("text").collect()
    assert sorted(r.text for r in got2) == [
        "alpha doc", "beta doc", "delta doc", "gamma doc"]


def test_encode_stream_rerun_overwrites_batch_dirs(spark, tmp_path):
    """foreachBatch is at-least-once: a re-delivered batch id must land
    idempotently. The sink writes each micro-batch to its own
    stream_batch_id=<id> dir with overwrite — re-running the whole drain
    with a FRESH checkpoint (every batch re-delivered) must leave row
    counts unchanged, where the old append sink doubled them
    (code-review r6)."""
    input_dir = str(tmp_path / "in3")
    out_dir = str(tmp_path / "out3")
    webtext_df(spark, 300, num_partitions=2, seed=3).write.mode("append").parquet(input_dir)

    q = encode_stream(spark, input_dir, out_dir, trigger_once=True)
    q.awaitTermination(120)

    def url_rows():
        chunks = spark.read.parquet(os.path.join(out_dir, "chunks"))
        return chunks.where(
            (F.col("stream_kind") == "DATA") & (F.col("column") == "url")
        ).agg(F.sum("row_count")).collect()[0][0]

    assert url_rows() == 300
    # fresh checkpoint = every batch re-delivered with the same ids
    q2 = encode_stream(spark, input_dir, out_dir, trigger_once=True,
                       checkpoint_dir=str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    assert url_rows() == 300  # overwritten, not doubled


def test_streaming_dedup_null_text_and_normalization(spark, tmp_path):
    """Null-text rows must not collapse into one fingerprint (hash of
    NULL) and silently drop each other; and the streaming fingerprint
    uses the batch normalization (lower + whitespace collapse), so
    'Alpha  Doc' and 'alpha doc' are duplicates — code-review r6."""
    from orc_rust_spark.streaming.dedup_stream import run_dedup_stream

    input_dir = str(tmp_path / "nin")
    out_dir = str(tmp_path / "nout")
    rows = [(0, "Alpha  Doc"), (1, None), (2, "alpha doc"), (3, None),
            (4, "beta doc")]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(input_dir)
    q = run_dedup_stream(spark, input_dir, out_dir, str(tmp_path / "nckpt"))
    q.awaitTermination(120)
    got = sorted(r.text for r in spark.read.parquet(out_dir).select("text").collect())
    # nulls filtered (mirroring batch exact_dedup), normalized dups merged
    assert got == ["Alpha  Doc", "beta doc"]


def test_orcx_stream_writer_end_to_end(spark, tmp_path):
    """df.writeStream.format("orcx"): each microbatch publishes real
    indexed ORC files through the two-phase-commit + per-batch-manifest
    protocol, and the batch reader sees exactly the streamed rows."""
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.dataSource.register(OrcRustDataSource)
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "orc_sink")
    ck = str(tmp_path / "ck")
    webtext_df(spark, 300, num_partitions=2, seed=5).select(
        "url", "lang").write.mode("append").parquet(input_dir)

    src = spark.readStream.schema(
        "url string, lang string").parquet(input_dir)
    q = (src.writeStream.format("orcx")
         .option("checkpointLocation", ck)
         .option("compression", "zstd")
         .trigger(availableNow=True).start(out_dir))
    q.awaitTermination(120)

    back = spark.read.format("orcx").load(out_dir)
    assert back.count() == 300
    assert back.select("url").distinct().count() == \
        webtext_df(spark, 300, num_partitions=2, seed=5) \
        .select("url").distinct().count()

    # a second batch appends (no manifest/batch collision, reader unions)
    webtext_df(spark, 100, num_partitions=1, seed=6).select(
        "url", "lang").write.mode("append").parquet(input_dir)
    q2 = (spark.readStream.schema("url string, lang string")
          .parquet(input_dir).writeStream.format("orcx")
          .option("checkpointLocation", ck)
          .trigger(availableNow=True).start(out_dir))
    q2.awaitTermination(120)
    assert spark.read.format("orcx").load(out_dir).count() == 400
    # manifests are invisible to the .orc listing
    import glob
    assert glob.glob(os.path.join(out_dir, "_orcx_batches", "*.json"))


def test_orcx_stream_writer_replayed_batch_is_exactly_once(spark, tmp_path):
    """The failure mode the manifest protocol exists for: a microbatch
    re-run with the SAME batchId (engine died between sink commit and
    checkpoint write) must replace the earlier attempt's files, never
    duplicate them — whatever order the crash interleaved."""
    import pyarrow as pa

    from orc_rust_spark.sources.datasource import (OrcRustDataSource,
                                                   OrcRustStreamWriter)

    spark.dataSource.register(OrcRustDataSource)

    out_dir = str(tmp_path / "sink")
    w = OrcRustStreamWriter({"path": out_dir}, None, overwrite=False)
    w._prepare()

    def attempt(vals):
        batch = pa.record_batch({"id": pa.array(vals, type=pa.int64())})
        return w.write(iter([batch]))

    # attempt 1 of batch 7 commits fully
    m1 = attempt([1, 2, 3])
    w.commit([m1], 7)
    files1 = sorted(os.listdir(out_dir))
    # replay of batch 7 (same offsets, new task attempt) commits again
    m2 = attempt([1, 2, 3])
    w.commit([m2], 7)
    orc_files = [f for f in os.listdir(out_dir) if f.endswith(".orc")]
    assert len(orc_files) == 1 and orc_files[0] != files1[0]
    assert spark.read.format("orcx").load(out_dir).count() == 3

    # a crash mid-commit: replay attempt 3 ran step 1 (deleted the
    # prior attempt's published files) and step 2 (manifest now names
    # its own, never-published files), then died before step 3's
    # publish. Replay 4 must still converge to one visible generation.
    m3 = attempt([1, 2, 3])
    for stale in w._read_manifest(7):
        os.remove(stale)            # step 1 of the crashed attempt
    w._write_manifest(7, [m3.final_path])  # step 2; step 3 never ran
    m4 = attempt([1, 2, 3])
    w.commit([m4], 7)
    orc_files = [f for f in os.listdir(out_dir) if f.endswith(".orc")]
    assert len(orc_files) == 1
    assert spark.read.format("orcx").load(out_dir).count() == 3
    # the unpublished attempt-3 tmp remains invisible to readers
    assert all(not f.endswith(".orc")
               for f in os.listdir(out_dir) if "inprogress" in f)

    # abort removes the aborted attempt's tmp
    m5 = attempt([9])
    w.abort([m5], 8)
    assert not os.path.exists(m5.tmp_path)


def test_orcx_stream_writer_manifest_retention(tmp_path):
    """A long-running stream must not accumulate one manifest per
    microbatch forever: commits prune manifests more than _MANIFEST_KEEP
    batches old (only the newest 1-2 batches can ever replay)."""
    import pyarrow as pa

    from orc_rust_spark.sources.datasource import OrcRustStreamWriter

    out_dir = str(tmp_path / "sink")
    w = OrcRustStreamWriter({"path": out_dir}, None, overwrite=False)
    w._prepare()
    keep = OrcRustStreamWriter._MANIFEST_KEEP
    for b in range(keep + 5):
        batch = pa.record_batch({"id": pa.array([b], type=pa.int64())})
        m = w.write(iter([batch]))
        w.commit([m], b)
    mdir = os.path.join(out_dir, "_orcx_batches")
    stems = sorted(int(f.split(".")[0]) for f in os.listdir(mdir)
                   if f.endswith(".json"))
    assert stems[0] == 4  # batches 0-3 pruned (cutoff = last - keep)
    assert stems[-1] == keep + 4
    assert len(stems) <= keep + 1
    # data files are untouched by retention
    orc = [f for f in os.listdir(out_dir) if f.endswith(".orc")]
    assert len(orc) == keep + 5


def test_decode_streamed_chunks_map_only(spark, tmp_path):
    """Two micro-batches land in stream_batch_id=<id> dirs and reuse
    part_ids; the directory column makes their chunk keys disjoint, so
    the stored table decodes map-only and equals the source."""
    from orc_rust_spark.operators.decode import chunk_layout, decode_table_arrow
    from orc_rust_spark.sources.webtext import WEBTEXT_SCHEMA

    input_dir = str(tmp_path / "in4")
    out_dir = str(tmp_path / "out4")
    keys = ("stream_batch_id", "part_id", "chunk_ord")
    for seed in (4, 5):
        webtext_df(spark, 200, num_partitions=2, seed=seed).write.mode(
            "append").parquet(input_dir)
        encode_stream(spark, input_dir, out_dir, trigger_once=True).awaitTermination(120)

    chunks = spark.read.parquet(os.path.join(out_dir, "chunks"))
    per_batch = chunks.select("stream_batch_id", "part_id").distinct().collect()
    assert {r.stream_batch_id for r in per_batch} == {0, 1}
    assert len({r.part_id for r in per_batch}) < len(per_batch)  # part_ids repeat

    map_only, reason = chunk_layout(chunks, keys)
    assert map_only, reason
    assert reason.endswith("disjoint (stream_batch_id, part_id, chunk_ord)")
    decoded = decode_table_arrow(chunks, WEBTEXT_SCHEMA, group_cols=keys)
    source = spark.read.schema(WEBTEXT_SCHEMA).parquet(input_dir)

    def digest(df):
        return df.agg(F.count(F.lit(1)), F.sum(
            F.xxhash64(*df.columns).cast("decimal(38,0)"))).collect()[0]

    assert digest(decoded) == digest(source)
    assert decoded.count() == 400

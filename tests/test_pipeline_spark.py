"""End-to-end Spark pipeline tests: webtext -> encode -> chunk table ->
decode -> byte-identical per url (the north-rule invariant), plus the
selector's choices, resume-from-checkpoint, and metrics emission."""

import os

import pytest
from pyspark.sql import functions as F

from orc_rust_spark.operators.decode import decode_table_arrow
from orc_rust_spark.operators.encode import encode_table
from orc_rust_spark.plans.pipeline import (
    encode_dataset,
    per_codec_metrics,
    plan_codecs,
    verify_roundtrip,
)
from orc_rust_spark.sources.webtext import WEBTEXT_SCHEMA, webtext_df

N_ROWS = 3000


@pytest.fixture(scope="module")
def source(spark):
    df = webtext_df(spark, N_ROWS, num_partitions=4).cache()
    df.count()
    return df


def test_generator_deterministic(spark):
    a = webtext_df(spark, 500, num_partitions=2).orderBy("url").collect()
    b = webtext_df(spark, 500, num_partitions=2).orderBy("url").collect()
    assert a == b
    assert len({r.url for r in a}) == 500  # unique urls
    langs = {r.lang for r in a}
    assert "en" in langs and len(langs) > 3


def test_encode_decode_roundtrip(spark, source):
    plan = plan_codecs(source)
    chunks = encode_table(source, plan=plan).cache()
    assert chunks.count() > 0
    decoded = decode_table_arrow(chunks, WEBTEXT_SCHEMA)
    s, d = source.alias("s"), decoded.alias("d")
    joined = s.join(d, on="url", how="full")
    bad = joined.where(
        ~F.col("s.text").eqNullSafe(F.col("d.text"))
        | ~F.col("s.html").eqNullSafe(F.col("d.html"))
        | ~F.col("s.lang").eqNullSafe(F.col("d.lang"))
        | ~F.col("s.warc_ts").eqNullSafe(F.col("d.warc_ts"))
    ).count()
    assert bad == 0
    assert decoded.count() == N_ROWS
    chunks.unpersist()


def test_selector_choices(spark, source):
    plan = plan_codecs(source)
    chunks = encode_table(source, plan=plan)
    picks = {
        (r["column"], r["codec"])
        for r in chunks.select("column", "codec").distinct().collect()
    }
    codec_by_col = {}
    for col, codec in picks:
        codec_by_col.setdefault(col, set()).add(codec)
    # lang: 25 distinct values -> dictionary
    assert codec_by_col["lang"] == {"dict"}
    # url: unique + short; since round 5 the selector's sample trial runs
    # THROUGH the block codec and direct+zstd beats fsst+zstd on final
    # bytes, so the measured winner is direct (fsst still wins when the
    # plan sets block_codec='none' — tests/test_fsst.py)
    assert codec_by_col["url"] == {"direct"}
    # timestamps split, ints RLEv2
    assert codec_by_col["warc_ts"] == {"timestamp_split"}
    # html: big binary -> direct (+ zlib blocks checked below)
    assert codec_by_col["html"] == {"direct"}
    html_data = chunks.where(
        (F.col("column") == "html") & (F.col("stream_kind") == "DATA")
    ).select("block_codec", "raw_bytes", "final_bytes").collect()
    from orc_rust_spark.codecs import block as blockc

    # the plan default tracks the container's best general-purpose codec
    # (zstd when available — measured faster AND tighter than zlib)
    assert all(r.block_codec == blockc.default_codec() for r in html_data)
    total_raw = sum(r.raw_bytes for r in html_data)
    total_final = sum(r.final_bytes for r in html_data)
    assert total_final < total_raw / 2  # html must compress well


def test_compressed_size_beats_pyarrow_orc(spark, source, tmp_path):
    """north rule: compressed size <= reference ORC (pyarrow.orc as oracle)."""
    import pyarrow.orc as pa_orc

    pdf = source.toPandas()
    import pyarrow as pa

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    orc_path = str(tmp_path / "ref.orc")
    # explicit ZLIB: pyarrow's default is UNCOMPRESSED, which would make
    # this gate trivial
    pa_orc.write_table(table, orc_path, compression="ZLIB")
    ref_size = os.path.getsize(orc_path)

    chunks = encode_table(source, plan=plan_codecs(source))
    ours = chunks.agg(F.sum("final_bytes")).collect()[0][0]
    assert ours <= ref_size, f"ours {ours} > reference ORC {ref_size}"


def test_encode_dataset_resume(spark, source, tmp_path):
    out = str(tmp_path / "run1")
    summary1 = encode_dataset(spark, source, out, snapshot_id="snap1")
    assert summary1["compressed_bytes"] > 0
    v = verify_roundtrip(spark, source, summary1["chunks_dir"])
    assert v["mismatches"] == 0 and v["unmatched_keys"] == 0 and v["rows"] == N_ROWS

    # resume with same snapshot: all partitions already done -> all skipped
    summary2 = encode_dataset(spark, source, out, snapshot_id="snap1")
    assert summary2["skipped_partitions"] >= 4
    # still verifiable after the no-op resume
    v2 = verify_roundtrip(spark, source, summary2["chunks_dir"])
    assert v2["mismatches"] == 0 and v2["rows"] == N_ROWS


def test_resume_voided_by_partition_layout_change(spark, source, tmp_path):
    """Part ids are positional: the SAME snapshot id re-run with a
    different partitioning must re-encode from scratch, never skip ids
    that now hold different rows (code-review r6 — reachable since the
    job derives snapshot ids from input content, which a layout change
    does not alter). The result must still decode to exactly the source."""
    out = str(tmp_path / "run_layout")
    encode_dataset(spark, source, out, snapshot_id="snapL")
    relaid = encode_dataset(spark, source, out, snapshot_id="snapL",
                            num_partitions=7)
    assert relaid["skipped_partitions"] == 0
    v = verify_roundtrip(spark, source, relaid["chunks_dir"])
    assert v["mismatches"] == 0 and v["unmatched_keys"] == 0 and v["rows"] == N_ROWS
    # and an unchanged-layout re-run after THAT resumes again
    again = encode_dataset(spark, source, out, snapshot_id="snapL",
                           num_partitions=7)
    assert again["skipped_partitions"] == 7
    # shrinking the layout must not leave the wider layout's higher part
    # dirs behind (dynamic overwrite only replaces written ids — the
    # fresh encode wipes the chunk dir)
    narrow = encode_dataset(spark, source, out, snapshot_id="snapL",
                            num_partitions=2)
    assert narrow["skipped_partitions"] == 0
    vn = verify_roundtrip(spark, source, narrow["chunks_dir"])
    assert vn["mismatches"] == 0 and vn["unmatched_keys"] == 0 and vn["rows"] == N_ROWS


def test_salted_repartition_defuses_host_skew(spark):
    """north_rule skew story: the webtext generator draws hosts Zipfian
    (one viral domain dominates); repartitioning on xxhash64(url) must
    spread rows near-uniformly so no encode task gets a giant stripe."""
    from pyspark.sql import functions as F

    from orc_rust_spark.plans.pipeline import salted_repartition

    df = webtext_df(spark, 8000, num_partitions=4)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    top_host_share = (
        df.groupBy(host.alias("h")).count().orderBy(F.desc("count")).limit(1)
        .collect()[0]["count"] / 8000
    )
    assert top_host_share > 0.10  # the generator really is skewed
    sizes = (
        salted_repartition(df, "url", partitions=16)
        .withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == 16
    assert max(counts) < 2 * (8000 / 16)  # no partition even 2x the mean


def test_encode_dataset_resume_after_partial_failure(spark, source, tmp_path):
    """Kill-mid-run simulation: one partition's chunk files vanish and its
    manifest row is dropped (as if the task died before commit); the
    resumed run re-encodes ONLY that partition and the final table decodes
    identically — no duplicate (part_id, chunk_ord) rows thanks to the
    dynamic partition-overwrite write mode."""
    import shutil

    from pyspark.sql import functions as F

    out = str(tmp_path / "run_partial")
    summary = encode_dataset(spark, source, out, snapshot_id="s2")
    chunks_dir, manifest_dir = summary["chunks_dir"], summary["manifest_dir"]
    parts = sorted(
        int(p.split("=")[1])
        for p in os.listdir(chunks_dir) if p.startswith("part_id=")
    )
    victim = parts[0]
    shutil.rmtree(os.path.join(chunks_dir, f"part_id={victim}"))
    manifest = spark.read.parquet(manifest_dir).where(F.col("part_id") != victim)
    manifest.write.mode("overwrite").parquet(str(tmp_path / "m_tmp"))
    spark.read.parquet(str(tmp_path / "m_tmp")).write.mode("overwrite").parquet(manifest_dir)

    resumed = encode_dataset(spark, source, out, snapshot_id="s2")
    assert resumed["skipped_partitions"] == len(parts) - 1
    v = verify_roundtrip(spark, source, chunks_dir)
    assert v["mismatches"] == 0 and v["unmatched_keys"] == 0 and v["rows"] == N_ROWS
    # exactly one set of chunk rows per (part_id, chunk_ord, column, kind)
    dup = (
        spark.read.parquet(chunks_dir)
        .groupBy("part_id", "chunk_ord", "column", "stream_kind")
        .count().where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_per_codec_metrics(spark, source, tmp_path):
    out = str(tmp_path / "run_m")
    summary = encode_dataset(spark, source, out, snapshot_id="m1")
    m = per_codec_metrics(spark, summary["chunks_dir"]).collect()
    by_col = {r["column"]: r for r in m}
    # one row per column: auxiliary streams (PRESENT/LENGTH/...) ride
    # under the DATA stream's codec, never surface as phantom
    # zero-raw-bytes codec rows (code-review r6)
    assert len(m) == len(by_col)
    assert all(r["raw_bytes"] > 0 and r["mb_per_sec"] > 0 for r in m)
    # r5 trial selector: direct+block beats fsst+block on url final bytes
    assert by_col["url"]["codec"] == "direct"


def test_nulls_and_empties_roundtrip(spark):
    # text column has ~1% nulls and ~10% empties by construction
    df = webtext_df(spark, 2000, num_partitions=2)
    nulls = df.where(F.col("text").isNull()).count()
    empties = df.where(F.col("text") == "").count()
    assert nulls > 0 and empties > 0
    chunks = encode_table(df, plan={})
    decoded = decode_table_arrow(chunks, WEBTEXT_SCHEMA)
    assert decoded.where(F.col("text").isNull()).count() == nulls
    assert decoded.where(F.col("text") == "").count() == empties


def test_plan_codecs_bounded_on_ultra_wide_table(spark):
    """VERDICT r5 next #8: the planner's sample cost must stay bounded on
    a 100-string-column frame — long columns are gated JVM-side (never
    collected), and eligible columns are collected in groups under
    FSST_SAMPLE_BUDGET_BYTES with values truncated to the gate length."""
    from pyspark.sql import functions as F

    from orc_rust_spark.plans import pipeline as pl

    n_cols = 100
    base = spark.range(600)
    cols = [
        F.concat(F.lit(f"c{i}-prefix-"), (F.col("id") % 7).cast("string"))
        .alias(f"s{i}")
        for i in range(n_cols)
    ]
    # one pathological column: ~64 KiB values, far over the length gate
    cols.append(
        F.concat(F.lit("x" * 1024), F.repeat(F.lit("y" * 1024), 63)).alias("huge"))
    df = base.select(*cols)

    collected_bytes = {"max": 0}
    orig_collect = type(df).collect

    def counting_collect(self):
        rows = orig_collect(self)
        size = sum(len(v) for r in rows for v in r if isinstance(v, str))
        collected_bytes["max"] = max(collected_bytes["max"], size)
        return rows

    import unittest.mock as mock

    with mock.patch.object(type(df), "collect", counting_collect):
        plan = pl.plan_codecs(df, sample_rows=500)

    # the huge column is length-gated out: no fsst table, and no single
    # collect ever shipped more than the budget to the driver
    assert "fsst_table" not in plan["huge"]
    assert collected_bytes["max"] <= pl.FSST_SAMPLE_BUDGET_BYTES
    # short repetitive columns still train tables
    trained = [c for c in plan if plan[c].get("fsst_table")]
    assert len(trained) >= 90


def test_verify_roundtrip_key_only_schema(spark, tmp_path):
    """A source with no columns besides the key must produce a well-formed
    0-mismatch report instead of TypeError (code-review r6)."""
    from orc_rust_spark.plans.pipeline import encode_dataset, verify_roundtrip

    src = spark.range(100).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    out = str(tmp_path / "key_only")
    summary = encode_dataset(spark, src, out, snapshot_id="s1")
    rep = verify_roundtrip(spark, src, summary["chunks_dir"])
    assert rep["mismatches"] == 0 and rep["unmatched_keys"] == 0
    assert rep["rows"] == 100


def test_encode_dataset_write_scoped_overwrite_mode(spark, tmp_path):
    """encode_dataset must not flip the SESSION partitionOverwriteMode —
    later unrelated partitioned overwrites in the same session would
    silently keep stale partitions (code-review r6)."""
    from orc_rust_spark.plans.pipeline import encode_dataset
    from orc_rust_spark.sources.webtext import webtext_df

    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    encode_dataset(spark, webtext_df(spark, 50, num_partitions=1),
                   str(tmp_path / "scoped"), snapshot_id="s2")
    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    assert before == after

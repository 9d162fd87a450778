"""The end-to-end resumable encode plan.

Two-pass lifecycle (SURVEY §3.2 'Spark lifecycle analog'):

  pass 1 (stats):  sample the source -> per-string-column FSST tables +
                   global codec hints (broadcast as a small plan dict)
  pass 2 (encode): optional salted repartition on xxhash64(url) to defuse
                   host-domain skew -> mapInArrow encode -> chunk table
                   parquet + per-partition manifest (lineage: snapshot id,
                   partition range, codecs, checksum, sizes)
  verify:          decode chunk table -> join source on the key column ->
                   count value mismatches (byte-identical text per url)

Resume: a re-run with the same snapshot_id skips partitions already
present in the manifest (their chunk files are kept), re-encoding only
the rest — the checkpoint model the north rule requires.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codecs import block as blockc
from ..codecs.fsst import train_fsst
from ..operators.decode import decode_table_arrow
from ..operators.encode import STRIPE_BYTES, encode_table

FSST_TRAIN_STRINGS = 512
FSST_MAX_TRAIN_AVG_LEN = 4096
#: driver-memory ceiling for one planner sample collect (VERDICT r5 next
#: #8: the r5 planner collected sample_rows of EVERY string column in one
#: job — unbounded on an ultra-wide table)
FSST_SAMPLE_BUDGET_BYTES = 64 << 20


def plan_codecs(df: DataFrame, sample_rows: int = 2000) -> dict:
    """Pass 1: train FSST tables / set block codecs from a driver sample.

    Driver memory is BOUNDED on arbitrarily wide tables: average lengths
    are measured JVM-side (one agg row, no strings shipped), columns over
    the FSST length gate are never collected at all, and the remaining
    columns' training samples are collected in groups sized to
    FSST_SAMPLE_BUDGET_BYTES with every value truncated to the gate
    length (tests/test_pipeline_spark.py exercises a 100-string-column
    frame)."""
    string_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "string"]
    plan: dict[str, dict] = {
        f.name: {"block_codec": blockc.default_codec()} for f in df.schema.fields
    }
    if not string_cols:
        return plan
    # ONE materialized sample: LIMIT without ordering is nondeterministic
    # and re-executes per collect, so an uncached `head` could gate a
    # column on one row set and train it on another while re-scanning the
    # source once per column group (code-review r6). The cached projection
    # carries JVM-side exact lengths plus gate-truncated values, so the
    # executor cache stays bounded on ultra-wide tables too.
    lens = [F.length(F.col(c)).alias(f"__len_{i}")
            for i, c in enumerate(string_cols)]
    vals_trunc = [F.substring(F.col(c), 1, FSST_MAX_TRAIN_AVG_LEN).alias(c)
                  for c in string_cols]
    head = df.select(*lens, *vals_trunc).limit(sample_rows).cache()
    try:
        avg_row = head.agg(
            *[F.avg(f"__len_{i}").alias(c) for i, c in enumerate(string_cols)]
        ).collect()[0]
        eligible = [c for c in string_cols
                    if avg_row[c] is not None and avg_row[c] <= FSST_MAX_TRAIN_AVG_LEN]
        per_col = sample_rows * FSST_MAX_TRAIN_AVG_LEN  # worst-case collect bytes
        group_n = max(1, FSST_SAMPLE_BUDGET_BYTES // per_col)
        for i in range(0, len(eligible), group_n):
            grp = eligible[i: i + group_n]
            sample = head.select(*grp).collect()
            for c in grp:
                vals = [r[c] for r in sample if r[c]]
                if not vals:
                    continue
                corpus = "".join(vals[:FSST_TRAIN_STRINGS]).encode()
                table = train_fsst(corpus)
                if table.symbols:
                    plan[c]["fsst_table"] = table.serialize()
    finally:
        head.unpersist()
    return plan


def salted_repartition(df: DataFrame, key: str = "url", partitions: int | None = None) -> DataFrame:
    """Defuse host-domain skew: repartition on xxhash64(key).

    The key is unique per row (urls are), so hashing it spreads any hot
    domain uniformly — the salt is the hash itself. Only needed when the
    source layout is skewed; costs one shuffle.
    """
    if partitions:
        return df.repartition(partitions, F.xxhash64(F.col(key)))
    return df.repartition(F.xxhash64(F.col(key)))


def encode_dataset(
    spark: SparkSession,
    source: DataFrame,
    output_dir: str,
    snapshot_id: str | None = None,
    plan: dict | None = None,
    stripe_bytes: int = STRIPE_BYTES,
    repartition_on: str | None = None,
    num_partitions: int | None = None,
) -> dict:
    """Run the resumable encode; returns a run summary dict."""
    os.makedirs(output_dir, exist_ok=True)
    chunks_dir = os.path.join(output_dir, "chunks")
    manifest_dir = os.path.join(output_dir, "manifest")
    snapshot_id = snapshot_id or uuid.uuid4().hex
    # persist the logical schema (the footer `types` analog) for readers
    with open(os.path.join(output_dir, "schema.json"), "w") as fh:
        fh.write(source.schema.json())

    # pin the realized partition count WITHOUT executing the plan: an
    # explicit repartition(N, ...) realizes exactly N (AQE respects a
    # user-specified count), so the salted path defaults N to the session's
    # shuffle partitions rather than probing `source.rdd.getNumPartitions()`
    # after an AQE shuffle — that probe materialized the whole scan +
    # shuffle once just to build the layout string (code-review r6)
    if repartition_on:
        n_real = num_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions"))
        source = salted_repartition(source, repartition_on, n_real)
    elif num_partitions:
        source = source.repartition(num_partitions)
        n_real = num_partitions
    else:
        # narrow file scan: partition list comes from split planning, no job
        n_real = source.rdd.getNumPartitions()

    plan = plan if plan is not None else plan_codecs(source)

    # partition-layout lineage: part ids are POSITIONAL, so resume is only
    # sound when the current run partitions the source the same way the
    # manifest's run did. The layout key captures the explicit layout
    # parameters AND the realized partition count — a re-run with a
    # different --num-partitions/--repartition-on (or a session whose
    # split planning yields a different count) over the SAME snapshot id
    # voids resume instead of skipping positionally-reused ids that now
    # hold different rows (code-review r6: the fingerprint-derived
    # snapshot id made that collision reachable without any input change)
    layout = f"{repartition_on or ''}|{num_partitions or ''}|{n_real}"

    # resume: skip partitions marked done for THIS snapshot + layout, but
    # only if the source still has the row count recorded at first run
    # (the round-1 scheme skipped blindly and could silently
    # drop/duplicate rows; see ADVICE r01)
    done: set[int] = set()
    recorded_rows = None
    if os.path.exists(manifest_dir):
        try:
            prev = spark.read.parquet(manifest_dir).where(
                (F.col("snapshot_id") == snapshot_id) & (F.col("status") == "done")
            )
            if "layout" in prev.columns:
                rows = prev.select("part_id", "source_rows", "layout").collect()
                if rows and all(r.layout == layout for r in rows):
                    done = {r.part_id for r in rows}
                    recorded_rows = sum(r.source_rows for r in rows)
                # any differing layout voids resume entirely — a partial
                # skip under a new layout would mix two partitionings
            else:
                # legacy manifest without layout lineage: not provably
                # safe to resume against — re-encode
                done = set()
        except Exception:
            done = set()
    if done:
        src_count = source.count()
        done_rows = int(recorded_rows or 0)
        if src_count < done_rows:
            # source shrank below what was already encoded: layout changed,
            # resume identity is void — re-encode everything
            done = set()

    if done:
        source = source.withColumn("_pid", F.spark_partition_id()).where(
            ~F.col("_pid").isin(*[int(p) for p in done])
        ).drop("_pid")
    elif os.path.exists(chunks_dir):
        # fresh (non-resumed) encode over an existing output: wipe it.
        # Dynamic partition overwrite only replaces part ids this run
        # WRITES — a voided resume with fewer partitions than the prior
        # layout would otherwise leave the old layout's higher part dirs
        # in place and the decoded table would double-count their rows
        import shutil

        shutil.rmtree(chunks_dir)

    t0 = time.time()
    chunks = encode_table(source, plan=plan, stripe_bytes=stripe_bytes)
    # partition-dir-per-part_id + dynamic overwrite = re-encoding a
    # partition atomically REPLACES its chunk files instead of appending
    # duplicate (part_id, chunk_ord) rows. Scoped to THIS write — mutating
    # the session conf would silently change every later
    # mode("overwrite").partitionBy(...) in the caller's session
    # (code-review r6)
    chunks.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("part_id").parquet(chunks_dir)
    wall = time.time() - t0

    # manifest from what actually landed (lineage per partition); the
    # checksum sorts its inputs first — collect_list order is
    # nondeterministic, a checksum built on it would never reproduce
    landed = spark.read.parquet(chunks_dir)
    is_top = ~F.col("column").contains(".")
    per_chunk = (
        landed.groupBy("part_id", "chunk_ord")
        .agg(
            F.max(F.when((F.col("stream_kind") == "DATA") & is_top, F.col("row_count"))).alias(
                "chunk_rows"
            )
        )
        .groupBy("part_id")
        .agg(F.sum("chunk_rows").alias("source_rows"))
    )
    manifest = (
        landed.groupBy("part_id")
        .agg(
            F.max("chunk_ord").alias("max_chunk_ord"),
            F.sum(F.when(F.col("stream_kind") == "DATA", F.col("row_count")).otherwise(0)).alias(
                "stream_rows"
            ),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("final_bytes").alias("final_bytes"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.collect_list(
                            F.concat_ws(
                                ":", F.col("column"), F.col("stream_kind"),
                                F.col("chunk_ord").cast("string"),
                                F.col("crc32").cast("string"),
                            )
                        )
                    ),
                )
            ).alias("checksum"),
        )
        .join(per_chunk, "part_id")
        .withColumn("snapshot_id", F.lit(snapshot_id))
        .withColumn("layout", F.lit(layout))
        .withColumn("status", F.lit("done"))
        .withColumn(
            "plan_json",
            F.lit(json.dumps({k: {kk: vv for kk, vv in v.items() if kk != "fsst_table"}
                              for k, v in plan.items()})),
        )
    )
    manifest.write.mode("overwrite").parquet(manifest_dir)

    totals = landed.agg(
        F.sum("raw_bytes").alias("raw"), F.sum("final_bytes").alias("final")
    ).collect()[0]
    return {
        "snapshot_id": snapshot_id,
        "wall_sec": wall,
        "raw_bytes": int(totals["raw"] or 0),
        "compressed_bytes": int(totals["final"] or 0),
        "skipped_partitions": len(done),
        "chunks_dir": chunks_dir,
        "manifest_dir": manifest_dir,
    }


def verify_roundtrip(
    spark: SparkSession, source: DataFrame, chunks_dir: str, key: str = "url"
) -> dict:
    """Decode the chunk table and compare every column per key row.

    Known limit: eqNullSafe cannot compare MapType columns (Spark raises
    AnalysisException); verify a map-bearing schema by exploding the map
    column first or excluding it from ``source``."""
    chunks = spark.read.parquet(chunks_dir)
    decoded = decode_table_arrow(chunks, source.schema)
    cols = [f.name for f in source.schema.fields if f.name != key]
    s = source.alias("s")
    d = decoded.alias("d")
    joined = s.join(d, on=key, how="full")
    # key-only schemas still get a well-formed 0-mismatch report
    # (F.when(None, ...) raised TypeError — code-review r6)
    mismatch_expr = F.lit(False)
    for c in cols:
        mismatch_expr = mismatch_expr | ~F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
    agg = joined.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(mismatch_expr, 1).otherwise(0)).alias("mismatches"),
        F.sum(F.when(F.col(f"s.{key}").isNull() | F.col(f"d.{key}").isNull(), 1).otherwise(0)).alias(
            "unmatched_keys"
        ),
    ).collect()[0]
    return {
        "rows": agg["rows"],
        "mismatches": int(agg["mismatches"] or 0),
        "unmatched_keys": int(agg["unmatched_keys"] or 0),
    }


def per_codec_metrics(spark: SparkSession, chunks_dir: str) -> DataFrame:
    """Per-codec compression-ratio + throughput metrics (north-rule output).

    A column's auxiliary streams (PRESENT, LENGTH, SYMBOL_TABLE, ...)
    ride under the codec its DATA stream chose for that chunk — grouping
    them by their own stream codec used to surface phantom rows like
    ``(text, boolean_rle)`` with raw_bytes 0 and a NULL throughput
    (raw/encode_ms are recorded on DATA only). Ratios therefore charge
    every stream's bytes against the codec that elected them. Nested
    PARENT columns (list/map) emit LENGTH/PRESENT but no DATA stream, so
    attribution prefers DATA > LENGTH > PRESENT — their structural rows
    aggregate under the LENGTH stream's structural codec (ratio stays
    NULL there: a parent has no raw payload of its own; the payload is
    on its ``parent.child`` leaf columns, which do carry DATA rows)."""
    chunks = spark.read.parquet(chunks_dir)
    from ..sources import chunk_table as ct

    col_codec = (
        chunks.withColumn(
            "pri",
            F.when(F.col("stream_kind") == ct.DATA, 3)
            .when(F.col("stream_kind") == ct.LENGTH, 2)
            .otherwise(1))
        .groupBy("part_id", "chunk_ord", "column")
        .agg(F.max_by("codec", "pri").alias("col_codec"))
    )
    return (
        chunks.join(col_codec, ["part_id", "chunk_ord", "column"], "left")
        .withColumn("codec", F.coalesce("col_codec", "codec"))
        .groupBy("column", "codec")
        .agg(
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("final_bytes").alias("compressed_bytes"),
            F.sum("encode_ms").alias("encode_ms"),
            F.count(F.lit(1)).alias("streams"),
        )
        .withColumn("ratio", F.try_divide(F.col("raw_bytes"), F.col("compressed_bytes")))
        .withColumn(
            "mb_per_sec",
            F.try_divide(F.col("raw_bytes") / 1e6, F.col("encode_ms") / 1000),
        )
        .orderBy("column", "codec")
    )

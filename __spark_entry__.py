"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: full encode->decode roundtrip of the documents
               table through the orc_rust_spark chunk-table engine.
queries()    — one entry per implemented operator family (SURVEY.md §2),
               each (spark, sf_dir) -> DataFrame.
oracle_sql() — DuckDB-equivalent SQL per query. Roundtrip queries have the
               identity oracle: if the engine is lossless, encode->decode
               equals SELECT ... FROM the source table.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _read_parallel(spark: SparkSession, sf_dir: str, table: str,
                   cols: list[str] | None = None) -> DataFrame:
    """Read a testdata table spread across all cores.

    Single-file single-row-group parquet (the small driver-generated
    tables) cannot be split below one task by Spark's input planning, so
    those pay an explicit repartition — one shuffle of the raw bytes —
    to let the encode stage use every core. When the source is already
    splittable into enough tasks (many files, or many row groups), the
    shuffle is skipped outright (r8, guide §2.4: remove shuffles whose
    only purpose is parallelism the layout already provides — measured
    ~25% off the encode+decode roundtrips on a 64-file source).

    For a LOCAL unsplittable file of bounded size the shuffle is removed
    outright (r8, guide §2.4/§2.5): ``_read_sliced`` fans the row range
    out over the task slots, each task decoding sequentially up to its
    slice's end row with pyarrow and emitting only its slice — the input
    crosses the Python boundary exactly once and NO exchange runs. The
    amplification (task i decodes rows [0, end_i)) is bounded by the
    size gate; larger or remote unsplittable sources fall back to a
    repartition keyed on the table's leading (id) column rather than
    round-robin — a keyless repartition first SORTS its input locally
    (spark.sql.execution.sortBeforeRepartition, on since SPARK-23207 so
    retried tasks reproduce their row assignment — guide §2.5), and on
    an unsplittable source that sort runs inside the ONE scan task; hash
    partitioning needs no sort, is retry-deterministic by construction,
    and the id columns are unique/near-unique so the spread is even.
    Measured on the single-row-group sf1 proxy lineitem, back-to-back:
    round-robin repartition 12.4 s, hash repartition 4.1 s (2.8 warm),
    sliced read 0.97 s; repartition+encode 13.8 -> 5.8 -> 3.3 s, with a
    bit-identical multiset digest."""
    import os

    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.parquet(path)
    if cols:
        df = df.select(*cols)
    par = spark.sparkContext.defaultParallelism
    if _parquet_splits(path, par) >= max(2, par // 2):
        return df
    if (os.path.isfile(path)
            and _SLICED_READ_MIN_BYTES <= os.path.getsize(path) <= _SLICED_READ_MAX_BYTES):
        return _read_sliced(spark, path, df.schema, par)
    return df.repartition(par, F.col(df.columns[0]))


#: size gate for the sliced single-file read: each of ``par`` tasks decodes
#: at most the whole file, so total decode work is ~par/2 file scans —
#: cheaper than a single-task sort+shuffle for files up to a couple of GB,
#: the wrong trade beyond (a huge unsplittable file keeps the keyed
#: repartition fallback; at real scale inputs are splittable and neither
#: path triggers)
_SLICED_READ_MAX_BYTES = 2 << 30

#: below this, the sliced read LOSES to a keyed repartition: ``par``
#: python tasks each opening + stream-decoding the file cost more than
#: one cheap exchange of a few MB, and a cached frame built from a
#: Python source stage taxes every downstream Python stage again.
#: Measured at the sf1 proxy (back-to-back, min of 3): documents
#: (5.7 MB) minhash_lsh 8.3 -> 5.5 s and word_jaccard 1.78 -> 0.25 s on
#: the keyed path; events (17 MB) roundtrip 9.9 -> 8.4 s; lineitem
#: (106 MB) keeps the sliced win (repartition+encode 5.8 -> 3.3 s).
_SLICED_READ_MIN_BYTES = 32 << 20


def _read_sliced(spark: SparkSession, path: str, schema, par: int) -> DataFrame:
    """Parallel read of one unsplittable local parquet file: ``par`` tasks
    each stream-decode from row 0 and emit only rows [start_i, end_i) —
    parquet cannot seek inside a row group, so early termination at
    ``end_i`` is the only pruning available, and the decoded rows reach
    the Python side of the pipeline with no Exchange at all. Every batch
    is cast to the Arrow form of ``schema`` (the file's own Arrow types
    can differ from Spark's, e.g. in timestamp unit)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    n_rows = pq.ParquetFile(path).metadata.num_rows
    rows = [(path, s, e) for s, e in _slice_bounds(n_rows, par)]
    slices = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, par), "p string, s long, e long")
    return slices.mapInArrow(_slice_reader(to_arrow_schema(schema)), schema=schema)


def _slice_bounds(n_rows: int, par: int) -> list[tuple[int, int]]:
    """``par`` contiguous row ranges [s, e) covering [0, n_rows), as even
    as integers allow; with fewer rows than slices some are empty."""
    bounds = [i * n_rows // par for i in range(par + 1)]
    return list(zip(bounds[:-1], bounds[1:]))


def _slice_reader(arrow_schema, batch_size: int = 65536):
    """The ``mapInArrow`` function of :func:`_read_sliced`: for each
    (path, start, end) row, the file's rows [start, end) as batches of
    ``arrow_schema``, decoded from row 0 and stopped at ``end``. It refers
    to nothing in this module, so Spark ships it to the workers whole."""
    names = arrow_schema.names

    def read_slice(batches):
        import pyarrow.parquet as pq

        for b in batches:
            for path, start, end in zip(*(b.column(i).to_pylist() for i in range(3))):
                if end <= start:
                    continue
                pos = 0
                for rb in pq.ParquetFile(path).iter_batches(
                        batch_size=batch_size, columns=names):
                    lo, hi = max(start - pos, 0), min(end - pos, rb.num_rows)
                    if lo < hi:
                        yield rb.slice(lo, hi - lo).select(names).cast(arrow_schema)
                    pos += rb.num_rows
                    if pos >= end:
                        break

    return read_slice


def _parquet_splits(path: str, cap: int) -> int:
    """Lower bound on the scan parallelism of a parquet file/dir: the
    number of row groups, counted driver-side from footers, stopping as
    soon as ``cap`` is reached (so a many-file corpus never pays a full
    footer sweep — file count alone reaches the cap first)."""
    import os

    import pyarrow.parquet as pq

    if os.path.isfile(path):
        files = [path]
    else:
        try:
            files = [os.path.join(path, f) for f in sorted(os.listdir(path))
                     if f.endswith(".parquet")]
        except OSError:
            return 0
    if len(files) >= cap:
        return len(files)
    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            total += 1
        if total >= cap:
            break
    return total



#: engine-format cache epoch — bump whenever a writer/format change would
#: make previously cached interop artifacts non-representative of the
#: current code (VERDICT r5 wrong #2: r5's zstd/selector changes silently
#: rebuilt inside the timed bench reps with no attribution; keying the
#: path makes a rebuild an explicit, warmable event instead)
_CACHE_EPOCH = "e7"  # e7: PATCHED_BASE entry width closest_fixed_bits fix


def _interop_cache_path(sf_dir: str, name: str, ext: str,
                        source: str = "lineitem") -> str:
    """/tmp cache path keyed by engine-format epoch + sf tag + the SOURCE
    table's parquet size/mtime so neither a regenerated testdata dir nor
    a format change ever hits a stale artifact. ``source`` names the
    table the artifact derives from — keying an events-derived cache on
    lineitem's stats served stale bytes when only events.parquet was
    regenerated (code-review r6). One rule for every cached interop
    artifact (ORC files, chunk tables, probes)."""
    import os

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    st = os.stat(f"{sf_dir}/{source}.parquet")
    os.makedirs("/tmp/orc_rust_spark_interop", exist_ok=True)
    return (f"/tmp/orc_rust_spark_interop/{name}_{_CACHE_EPOCH}_{sf_tag}"
            f"_{st.st_size}_{int(st.st_mtime)}{ext}")


def _clean_interop_sink_dirs(prefix: str) -> str:
    """Remove superseded orcx sink output dirs under the interop scratch
    root and return a fresh pid+uuid-scoped path for this rep. Deletes:
    this process's own earlier reps, dirs whose embedded pid is DEAD
    (crashed/finished runs — pid-only scoping leaked these until /tmp
    filled, code-review r6), and legacy un-scoped dirs with no parseable
    pid. Dirs owned by a LIVE other process are left alone so concurrent
    sessions never delete each other's freshly written output mid-scan."""
    import glob
    import os
    import shutil
    import uuid

    pid = os.getpid()
    for old in glob.glob(f"/tmp/orc_rust_spark_interop/{prefix}_*"):
        tail = os.path.basename(old)[len(prefix) + 1:]
        owner = None
        head = tail.split("_", 1)[0]
        if head.isdigit():
            owner = int(head)
        if owner is not None and owner != pid:
            try:
                os.kill(owner, 0)  # 0 = existence probe, sends no signal
                continue  # live owner: leave its output alone
            except ProcessLookupError:
                pass  # dead owner: reclaim
            except PermissionError:
                continue  # alive under another uid: leave it
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        else:
            # legacy plain FILES matched the glob but rmtree's
            # NotADirectoryError was silenced, so they survived every
            # sweep (code-review r6)
            try:
                os.remove(old)
            except OSError:
                pass
    # superseded-epoch cache artifacts (lineitem_*_e5_* after an e7 bump)
    # otherwise accumulate multi-MB files forever (code-review r6)
    for old in glob.glob("/tmp/orc_rust_spark_interop/*_e[0-9]*_*"):
        if f"_{_CACHE_EPOCH}_" not in os.path.basename(old):
            try:
                os.remove(old) if os.path.isfile(old) else shutil.rmtree(
                    old, ignore_errors=True)
            except OSError:
                pass
    os.makedirs("/tmp/orc_rust_spark_interop", exist_ok=True)
    return f"/tmp/orc_rust_spark_interop/{prefix}_{pid}_{uuid.uuid4().hex}"


def warm_caches(spark: SparkSession, sf_dir: str) -> None:
    """Build every cached interop artifact (ORC files, probes, chunk
    tables) OUTSIDE any timed region. bench.py calls this once before the
    per-query loop so first-rep lines measure the engine, not a
    driver-side ``write_orc`` of the fixture (VERDICT r5 wrong #2: the
    unattributed 7.2x orc_file_write_pruned regression was exactly a
    fixture rebuild drawn inside the timed reps)."""
    q_orc_file_scan(spark, sf_dir).limit(1).collect()
    q_orc_file_write(spark, sf_dir).limit(1).collect()
    _lineitem_bloom_orc(sf_dir)
    q_orc_file_write_pruned(spark, sf_dir).limit(1).collect()
    q_orc_file_rlev1_scan(spark, sf_dir).limit(1).collect()
    _events_ts_orc(sf_dir)
    _lineitem_chunks(spark, sf_dir)
    q_orc_compact_scan(spark, sf_dir).limit(1).collect()
    q_orc_evolved_scan(spark, sf_dir).limit(1).collect()


# --- checksum-aggregate gate helpers ----------------------------------------
# The collect-to-driver roundtrip gates were restructured (int8 first in r4,
# the lineitem/decimal/struct_map/date_decimal128 family in r6 — VERDICT r5
# next #2): instead of shipping 600k rows to the driver, the DECODED frame is
# aggregated per small group into counts + key-mixed checksums over every
# decoded column, and DuckDB recomputes the identical checksums from the
# source table. Per-row coverage is preserved (any wrong decoded value shifts
# a sum unless it collides in BOTH independent mix moduli) at a few-row
# driver result. Exact row-level roundtrips remain in pytest
# (tests/test_decode_arrow.py etc.), so the gates here only need to make a
# silent decode corruption overwhelmingly unlikely to cancel.

_MIX_P1, _MIX_P2 = 9973, 9931  # distinct primes -> two independent key mixes
_VAL_MOD = 1000003  # value modulus: product * 6M rows stays inside int64


def _mix_aggs(key, vals: dict) -> list:
    """count + (sum, two key-mixed checksums) per canonical-bigint value."""
    k1 = (key % F.lit(_MIX_P1)).cast("long")
    k2 = (key % F.lit(_MIX_P2)).cast("long")
    out = [F.count(F.lit(1)).alias("cnt")]
    for name, v in vals.items():
        vm = (v.cast("long") % F.lit(_VAL_MOD)).cast("long")
        out.append(F.sum(vm).alias(f"sum_{name}"))
        out.append(F.sum(vm * k1).alias(f"chk1_{name}"))
        out.append(F.sum(vm * k2).alias(f"chk2_{name}"))
    return out


def _mix_sql(group_cols: str, vals: dict[str, str], from_table: str,
             group_inner: str | None = None,
             key: str = "l_orderkey") -> str:
    """DuckDB mirror of _mix_aggs: same moduli, same column names.
    ``group_inner`` carries aliasing expressions (e.g. ``l_returnflag AS
    rf``) when the Spark-side group column name differs from the source.
    ``key`` is the checksum-mix key expression — it must match the ``key``
    column passed to the Spark-side ``_mix_aggs`` (VERDICT r6 wrong #2:
    this was hardcoded to l_orderkey, which would silently build wrong
    oracle SQL for the first non-lineitem caller)."""
    sel = [group_cols, "CAST(count(*) AS BIGINT) AS cnt"]
    for name in vals:
        sel.append(f"CAST(sum(v_{name}) AS BIGINT) AS sum_{name}")
        sel.append(f"CAST(sum(v_{name} * k1) AS BIGINT) AS chk1_{name}")
        sel.append(f"CAST(sum(v_{name} * k2) AS BIGINT) AS chk2_{name}")
    pre = [f"CAST(({expr}) % {_VAL_MOD} AS BIGINT) AS v_{name}"
           for name, expr in vals.items()]
    return (
        f"WITH t AS (SELECT {group_inner or group_cols}, "
        f"CAST(({key}) % {_MIX_P1} AS BIGINT) AS k1, "
        f"CAST(({key}) % {_MIX_P2} AS BIGINT) AS k2, "
        + ", ".join(pre) + f" FROM {from_table}) "
        f"SELECT {', '.join(sel)} FROM t GROUP BY {group_cols}"
    )


def _roundtrip(spark: SparkSession, sf_dir: str, table: str, cols: list[str]) -> DataFrame:
    """Encode a testdata table into the chunk-table and decode it back."""
    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table
    from orc_rust_spark.plans.pipeline import plan_codecs

    src = _read_parallel(spark, sf_dir, table, cols)
    chunks = encode_table(src, plan=plan_codecs(src))
    # encode output pipes straight into decode: chunk rows are already
    # contiguous per task, so the roundtrip is one map-only stage
    return decode_table_arrow(chunks, src.schema, co_locate=False).select(*cols)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: lossless engine roundtrip on sf0.001 documents."""
    return _roundtrip(
        spark, "/root/testdata/sf0.001", "documents",
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


# --- queries -----------------------------------------------------------------


def q_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "documents",
                      ["doc_id", "text", "lang", "source", "n_chars"])


def q_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "events",
                      ["event_id", "ts", "user_id", "event_type", "value", "props"])


def q_roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-width lineitem roundtrip (ints via RLEv2, double, dict strings,
    timestamp split). Gate: per-(returnflag, linestatus) checksum aggregate
    over every DECODED column (r6 restructure — the r5 committed 9.6 s line
    was ~80% a 600k-row driver collect; engine cost attributed 1.8-1.9 s)."""
    decoded = _roundtrip(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
         "l_returnflag", "l_linestatus", "l_shipdate"],
    )
    return decoded.groupBy("l_returnflag", "l_linestatus").agg(
        *_mix_aggs(F.col("l_orderkey"), {
            "ok": F.col("l_orderkey"),
            "pk": F.col("l_partkey"),
            "sk": F.col("l_suppkey"),
            # centi-units: catches >=0.01 perturbations a whole-unit
            # truncation would hide (code-review r6); values are exact
            # small-integer doubles so *100 has no float error
            "qty": F.col("l_quantity") * 100,
            # NTZ -> timestamp -> MICROsecond epoch (session tz is UTC, so
            # this equals DuckDB's epoch_us over the naive value); second
            # precision would mask sub-second corruption (code-review r6)
            "ship": F.unix_micros(F.col("l_shipdate").cast("timestamp")),
        })
    )


def q_roundtrip_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal codec roundtrip (E14): varint mantissa + scale streams."""
    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table

    li = _read_parallel(spark, sf_dir, "lineitem",
                        ["l_orderkey", "l_linenumber", "l_extendedprice",
                         "l_discount"])
    src = li.select(
        "l_orderkey", "l_linenumber",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
        F.col("l_discount").cast("decimal(4,2)").alias("disc"),
    )
    chunks = encode_table(src, plan={})
    decoded = decode_table_arrow(chunks, src.schema, co_locate=False)
    # r6 gate restructure: checksum aggregate per linenumber instead of a
    # 600k-row driver collect; cents (decimal * 100) are exact bigints so
    # no float bridge is involved at all anymore
    return decoded.groupBy(F.col("l_linenumber").cast("int").alias("linenum")).agg(
        *_mix_aggs(F.col("l_orderkey"), {
            "ok": F.col("l_orderkey"),
            "price_c": (F.col("price") * 100).cast("long"),
            "disc_c": (F.col("disc") * 100).cast("long"),
        })
    )


def q_roundtrip_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List<float> roundtrip through the LENGTH-stream offsets model
    (reference src/array_decoder/list.rs:36-104 analog), verified
    element-by-element via posexplode."""
    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table

    src = _read_parallel(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    chunks = encode_table(src, plan={})
    decoded = decode_table_arrow(chunks, src.schema, co_locate=False)
    return decoded.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", "pos", F.col("val").cast("double").alias("val"))


def q_roundtrip_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct + map roundtrip (struct_decoder.rs / map.rs analog): pack
    lineitem columns into struct/map, roundtrip, flatten back out."""
    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table

    li = _read_parallel(spark, sf_dir, "lineitem",
                        ["l_orderkey", "l_linenumber", "l_partkey",
                         "l_returnflag", "l_quantity"])
    src = li.select(
        "l_orderkey",
        "l_linenumber",
        F.struct(
            F.col("l_partkey").alias("pk"), F.col("l_returnflag").alias("rf")
        ).alias("s"),
        F.create_map(F.lit("qty"), F.col("l_quantity")).alias("m"),
    )
    chunks = encode_table(src, plan={})
    decoded = decode_table_arrow(chunks, src.schema, co_locate=False)
    # r6 gate restructure: group by the DECODED struct string field (so the
    # nested string stream feeds the keys) and checksum the struct int +
    # map value per group instead of collecting 600k flattened rows
    return decoded.groupBy(F.col("s.rf").alias("rf")).agg(
        *_mix_aggs(F.col("l_orderkey"), {
            "ok": F.col("l_orderkey"),
            "ln": F.col("l_linenumber"),
            "pk": F.col("s.pk"),
            "qty": F.element_at(F.col("m"), "qty"),
        })
    )


def q_roundtrip_date_decimal128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date32 + decimal128 mantissas wider than 64 bits (schema.rs:529,
    src/array_decoder/decimal.rs:36-123 analogs). The wide decimal is
    derived deterministically (orderkey * 10^20) so both engines agree."""
    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table

    li = _read_parallel(spark, sf_dir, "lineitem",
                        ["l_orderkey", "l_linenumber", "l_shipdate"])
    src = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_d"),
        F.concat(F.col("l_orderkey").cast("string"), F.lit("0" * 20))
        .cast("decimal(38,0)").alias("wide"),
    )
    chunks = encode_table(src, plan={})
    decoded = decode_table_arrow(chunks, src.schema, co_locate=False)
    # r6 gate restructure: epoch-day ints for the date and the wide
    # decimal's residue mod _VAL_MOD (computed on the full 38-digit value,
    # exact in both engines) replace the 600k-row string collect
    return decoded.groupBy(F.col("l_linenumber").cast("int").alias("linenum")).agg(
        *_mix_aggs(F.col("l_orderkey"), {
            "ok": F.col("l_orderkey"),
            "ship_d": F.datediff(F.col("ship_d"), F.lit("1970-01-01")),
            "wide": (F.col("wide") % F.lit(_VAL_MOD)),
        })
    )


def q_orc_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-ORC interop scan: lineitem is written to an ORC FILE by an
    independent writer (pyarrow.orc, ZLIB, multi-stripe), then read back
    by THIS engine — protobuf tail parse, stripe byte-range tasks, and
    every stream decoded by orc_rust_spark codecs (RLEv2/byte-RLE/
    boolean/float/timestamp), never an ORC library. Reference analog:
    tests/integration/main.rs + src/reader/metadata.rs:180-247."""
    import os

    import pyarrow.orc as paorc
    import pyarrow.parquet as pq

    from orc_rust_spark.sources.orc_file import orc_scan

    orc_path = _interop_cache_path(sf_dir, "lineitem", ".orc")
    if not os.path.exists(orc_path):
        tbl = pq.read_table(
            f"{sf_dir}/lineitem.parquet",
            columns=["l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
                     "l_linestatus", "l_shipdate"],
        )
        paorc.write_table(tbl, orc_path, compression="ZLIB", stripe_size=4 * 1024 * 1024)
    df = orc_scan(
        spark, orc_path,
        schema="l_orderkey long, l_partkey long, l_quantity double, "
               "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz",
    )
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def q_orc_file_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side ORC interop: lineitem written to a real ORC file by THIS
    engine's writer (write_orc — our encoders + hand-built protobuf tail,
    reference arrow_writer.rs analog), then scanned back stripe-parallel
    by our reader and aggregated. pytest additionally asserts pyarrow's
    liborc reads the same files bit-identically."""
    import os

    import pyarrow.parquet as pq

    from orc_rust_spark.sources.orc_file import orc_scan, write_orc

    orc_path = _interop_cache_path(sf_dir, "lineitem_ours", ".orc")
    if not os.path.exists(orc_path):
        tbl = pq.read_table(
            f"{sf_dir}/lineitem.parquet",
            columns=["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"],
        )
        write_orc(tbl, orc_path, compression="zlib", stripe_rows=100_000)
    df = orc_scan(
        spark, orc_path,
        schema="l_orderkey long, l_quantity double, l_returnflag string, "
               "l_shipdate timestamp_ntz",
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def _lineitem_bloom_orc(sf_dir: str) -> str:
    """liborc-written lineitem ORC with ROW_INDEX + bloom on l_orderkey,
    cached per sf (the index is written once, queried many times)."""
    import os

    import pyarrow.compute as pc
    import pyarrow.orc as paorc
    import pyarrow.parquet as pq

    orc_path = _interop_cache_path(sf_dir, "lineitem_bloom", ".orc")
    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate"]
    # gate on the LAST-written sidecar: an interrupt between write_table
    # and the .probe write would otherwise poison the cache (exists()
    # true, probe missing / file truncated — code-review r6)
    if not os.path.exists(orc_path + ".probe"):
        tbl = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=cols)
        # bloom_filter_columns take TYPE-TREE ids: 1 = l_orderkey
        paorc.write_table(tbl, orc_path, compression="ZLIB",
                          stripe_size=4 * 1024 * 1024, bloom_filter_columns=[1])
        # probe sidecar: computed once with the file, NOT inside the timed
        # query (the same measure-the-lookup rule as _lineitem_chunks)
        probe = int(pc.max(tbl.column("l_orderkey")).as_py())
        with open(orc_path + ".probe", "w") as fh:
            fh.write(str(probe))
    return orc_path


def q_orc_file_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group + bloom pruning inside the REAL-ORC reader (VERDICT r2
    missing #1): lineitem in a liborc-written ORC file with ROW_INDEX +
    BLOOM_FILTER_UTF8 streams; the point lookup parses S_ROW_INDEX
    (src/row_index.rs:235-329), evaluates per-10k-group stats + bloom
    (src/row_group_filter.rs:54-205,370-408), and seek-decodes ONLY the
    matching groups via the recorded stream positions."""
    from orc_rust_spark.sources.orc_file import orc_scan

    orc_path = _lineitem_bloom_orc(sf_dir)
    with open(orc_path + ".probe") as fh:
        probe = int(fh.read())
    df = orc_scan(
        spark, orc_path,
        schema="l_orderkey long, l_partkey long, l_quantity double, "
               "l_returnflag string, l_shipdate timestamp_ntz",
        predicate=("l_orderkey", probe, probe),
    )
    return df.where(F.col("l_orderkey") == probe)


def q_orc_file_write_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-pruning write-side indexes (VERDICT r3 next #6): lineitem is
    written to ORC by OUR writer with ROW_INDEX + per-group bloom +
    stripe/file statistics (write_orc row_index_stride path), then point-
    looked-up by OUR reader — stripe stats prune stripes, per-group stats
    + bloom prune 10k groups, position-seek decodes only survivors. pytest
    additionally asserts groups_decoded < groups_total on these files and
    that liborc reads them bit-identically."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from orc_rust_spark.sources.orc_file import orc_scan, write_orc

    orc_path = _interop_cache_path(sf_dir, "lineitem_ours_idx", ".orc")
    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate"]
    if not os.path.exists(orc_path + ".probe"):  # last-written sidecar gate
        tbl = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=cols)
        write_orc(tbl, orc_path, compression="zlib", stripe_rows=100_000,
                  bloom_columns=["l_orderkey"])
        probe = int(pc.max(tbl.column("l_orderkey")).as_py())
        with open(orc_path + ".probe", "w") as fh:
            fh.write(str(probe))
    with open(orc_path + ".probe") as fh:
        probe = int(fh.read())
    df = orc_scan(
        spark, orc_path,
        schema="l_orderkey long, l_partkey long, l_quantity double, "
               "l_returnflag string, l_shipdate timestamp_ntz",
        predicate=("l_orderkey", probe, probe),
    )
    return df.where(F.col("l_orderkey") == probe)


#: file row ranges for q_orc_row_ranges_scan — all inside the smallest
#: correctness table (60k rows) so the same literals work at every sf
_ROW_RANGES = [(1_000, 3_500), (17_000, 17_100), (42_000, 48_000)]


def q_orc_fs_uri_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine ORC IO through the fsio filesystem abstraction (r7 —
    VERDICT r6 missing #1/next #2; the reference's ChunkReader contract,
    src/reader/mod.rs:27-46,163-203): lineitem is WRITTEN by this
    engine's OrcWriter through a non-local pyarrow filesystem URI
    (SubTreeFileSystem — its paths are subtree-relative, NOT OS paths,
    so any leftover builtin open()/glob in the IO path fails loudly),
    then orc_scan reads it back through the same URI with readahead=2.
    The fs object resolves once on the driver and rides the task pickle
    into executors, exactly as an S3FileSystem would on a cluster."""
    import os

    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    from orc_rust_spark.sources import fsio
    from orc_rust_spark.sources.orc_file import orc_scan, write_orc

    root = _interop_cache_path(sf_dir, "fs_uri_root", ".d")
    os.makedirs(root, exist_ok=True)
    fsio.register_filesystem(
        "orcfs", pafs.SubTreeFileSystem(root, pafs.LocalFileSystem()))
    if not os.path.exists(os.path.join(root, "lineitem.orc")):
        tbl = pq.read_table(
            f"{sf_dir}/lineitem.parquet",
            columns=["l_orderkey", "l_partkey", "l_quantity",
                     "l_returnflag", "l_shipdate"])
        # write via the URI, tmp-name first: a crash mid-write must not
        # leave a corrupt lineitem.orc for the epoch-keyed cache to serve
        write_orc(tbl, "orcfs://lineitem.orc.tmp", compression="zstd")
        os.rename(os.path.join(root, "lineitem.orc.tmp"),
                  os.path.join(root, "lineitem.orc"))
    df = orc_scan(
        spark, "orcfs://lineitem.orc",
        schema="l_orderkey long, l_partkey long, l_quantity double, "
               "l_returnflag string, l_shipdate timestamp_ntz",
        readahead=2,
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("l_orderkey").alias("sum_ok"),
        F.sum("l_partkey").alias("sum_pk"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def q_orc_compact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-decode compaction end to end (r7 — the small-files problem a
    streaming crawl sink creates): events is split into 8 small MULTI-
    stripe ORC files by THIS engine's writer, compact_orc stripe-copy-
    merges them into ~3 bins (one Spark task per output file, no stream
    ever decoded — Hive ALTER TABLE .. CONCATENATE analog, built on the
    same stripe self-containment the reference's stripe reader relies on,
    src/stripe.rs:1-120), and the merged files are scanned back by
    orc_scan into a per-event_type checksum aggregate DuckDB recomputes
    from the source parquet — a single corrupted, dropped, or duplicated
    byte-copied stripe shifts a checksum."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from orc_rust_spark.sources.orc_file import orc_scan, write_orc
    from orc_rust_spark.sources.orc_merge import compact_orc

    out_dir = _interop_cache_path(sf_dir, "events_compacted", ".d",
                                  source="events")
    if not os.path.exists(out_dir + ".probe"):
        small_dir = out_dir + ".in"
        shutil.rmtree(small_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(small_dir)
        tbl = pq.read_table(f"{sf_dir}/events.parquet",
                            columns=["event_id", "ts", "user_id",
                                     "event_type", "value", "props"])
        n = tbl.num_rows
        step = (n + 7) // 8
        for i in range(8):
            chunk = tbl.slice(i * step, step)
            if chunk.num_rows:
                # ~3 stripes per input so the merge relocates MANY stripe
                # offsets per file, not one
                write_orc(chunk, os.path.join(small_dir, f"in-{i:02d}.orc"),
                          compression="zlib",
                          stripe_rows=max(500, step // 3 + 1))
        in_bytes = sum(os.path.getsize(os.path.join(small_dir, f))
                       for f in os.listdir(small_dir))
        manifest = compact_orc(spark, small_dir, out_dir,
                               target_bytes=max(in_bytes // 3, 1)).collect()
        total = sum(r["n_rows"] for r in manifest)
        if total != n:
            raise ValueError(
                f"compaction lost rows: {total} merged vs {n} source")
        # probe LAST: an interrupt mid-build must not poison the cache
        with open(out_dir + ".probe", "w") as fh:
            fh.write(f"{total}\n{len(manifest)}")
    df = orc_scan(
        spark, out_dir,
        schema="event_id long, ts timestamp_ntz, user_id long, "
               "event_type string, value double, props string",
        readahead=2,
    )
    return df.groupBy("event_type").agg(
        *_mix_aggs(F.col("event_id"), {
            "eid": F.col("event_id"),
            "uid": F.col("user_id"),
            # NTZ -> timestamp -> microsecond epoch (UTC session, so this
            # equals DuckDB's epoch_us over the naive source value)
            "tsu": F.unix_micros(F.col("ts").cast("timestamp")),
            # floor(x*1000) is the same IEEE double op in both engines
            "val": F.floor(F.col("value") * 1000).cast("long"),
            "plen": F.octet_length(F.col("props")),
        })
    )


def q_orc_evolved_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read, end to end (r7 — the ORC SchemaEvolution
    add-column contract): documents is split into a PRE-deploy ORC file
    (every doc_id % 3 == 0 row, written BEFORE the ``lang`` column
    existed) and a POST-deploy file that carries ``lang`` in a DIFFERENT
    column order; ``orc_scan(missing_as_null=True)`` with an explicit
    reader schema conforms both BY NAME, serving typed nulls for the old
    file's lang. The aggregate groups by lang INCLUDING the null group
    (exactly the old file's rows), so the oracle recomputes the whole
    evolution outcome from the source table — wrong nulling, row loss,
    or column misalignment all shift a group."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from orc_rust_spark.sources.orc_file import orc_scan, write_orc

    root = _interop_cache_path(sf_dir, "evolved_root", ".d")
    os.makedirs(root, exist_ok=True)
    old_p = os.path.join(root, "pre_deploy.orc")
    new_p = os.path.join(root, "post_deploy.orc")
    if not (os.path.exists(old_p) and os.path.exists(new_p)):
        tbl = pq.read_table(f"{sf_dir}/documents.parquet",
                            columns=["doc_id", "lang", "source", "n_chars"])
        mask = pa.array(tbl.column("doc_id").to_numpy() % 3 == 0)
        # the old file predates lang entirely; the new one reorders
        # columns so conform-by-name (not file position) is what's tested
        old = tbl.filter(mask).drop_columns(["lang"])
        new = tbl.filter(pc.invert(mask)).select(
            ["lang", "n_chars", "doc_id", "source"])
        for t, p in ((old, old_p), (new, new_p)):
            write_orc(t, p + ".tmp", compression="zstd")
            os.rename(p + ".tmp", p)
    df = orc_scan(
        spark, root,
        schema="doc_id long, lang string, source string, n_chars long",
        missing_as_null=True,
    )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("doc_id").alias("sum_id"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("source").alias("min_src"),
        F.max("source").alias("max_src"),
    )


def q_orc_row_ranges_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caller-supplied row-range selection (r6, VERDICT r5 next #7 — the
    reference's RowSelection/from_consecutive_ranges API,
    src/row_selection.rs:32-260): orc_scan(row_ranges=...) schedules only
    the stripes intersecting the [start, stop) file row ranges, seek-
    decodes only intersecting 10k-row index groups (pytest asserts
    groups_decoded < total), and slices rows exactly. The oracle
    recomputes the same positions with row_number() over the source
    table, which our single-threaded indexed writer preserves."""
    from orc_rust_spark.sources.orc_file import orc_scan

    q_orc_file_write_pruned(spark, sf_dir)  # ensures the cached file
    orc_path = _interop_cache_path(sf_dir, "lineitem_ours_idx", ".orc")
    df = orc_scan(
        spark, orc_path,
        schema="l_orderkey long, l_partkey long, l_quantity double, "
               "l_returnflag string, l_shipdate timestamp_ntz",
        row_ranges=_ROW_RANGES,
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("l_orderkey").alias("sum_ok"),
        F.sum("l_partkey").alias("sum_pk"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
    )


def q_orcx_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine as a registered PySpark Python DataSource:
    spark.read.format("orcx") plans like any native source — Catalyst
    pushes the l_orderkey range filter into the reader (pushFilters),
    which prunes stripes via StripeStatistics and row groups via
    S_ROW_INDEX before decoding through this engine's codecs."""
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)
    df = spark.read.format("orcx").load(_lineitem_bloom_orc(sf_dir))
    return (
        df.where(F.col("l_orderkey") <= 1000)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            F.max("l_orderkey").alias("max_ok"),
        )
    )


def q_orcx_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native ORC sink: df.write.format("orcx") writes one indexed
    ORC file per task through this engine's writer (two-phase commit:
    .inprogress files renamed by the driver), read straight back through
    the orcx reader and aggregated. The write happens INSIDE the timed
    query — this measures the sink, not a cached artifact."""
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)
    # earlier reps' outputs are dead once a new one is written (the
    # returned DataFrame reads lazily, so THIS rep's dir must persist)
    out = _clean_interop_sink_dirs("orcx_write")
    src = _read_parallel(spark, sf_dir, "lineitem",
                         ["l_orderkey", "l_partkey", "l_quantity", "l_returnflag"])
    src.write.format("orcx").mode("overwrite") \
        .option("bloom_columns", "l_orderkey").save(out)
    df = spark.read.format("orcx").load(out)
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("l_orderkey").alias("sum_ok"),
        F.sum("l_partkey").alias("sum_pk"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
    )


def q_orcx_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned ORC layout end to end (r7 — the #1 scan-avoidance
    lever at 100 TB): documents is written with
    .option("partition_columns", "lang") (files land under lang=<value>/
    with the partition column in the PATH, not the files), read back
    through the orcx reader's partition discovery, and filtered to two
    languages — a pushed IN-probe that prunes every other language's
    files at PLANNING. The write happens inside the timed query. The
    oracle recomputes the same aggregate from the source table, so a
    wrong layout, lost partition value, or over-prune all shift a
    group."""
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)
    out = _clean_interop_sink_dirs("orcx_part")
    src = _read_parallel(spark, sf_dir, "documents",
                         ["doc_id", "lang", "source", "n_chars"])
    # cluster by the partition column before the write (guide §6: the
    # standard pre-partitionBy shuffle) — without it every task opened a
    # writer for every language it saw, emitting tasks x languages tiny
    # files whose tails the read side then had to plan one by one (r8;
    # at very large scale a skewed partition value would additionally be
    # salted here)
    (src.repartition(F.col("lang"))
     .write.format("orcx").mode("overwrite")
     .option("partition_columns", "lang").save(out))
    df = spark.read.format("orcx").load(out)
    return (df.where(F.col("lang").isin("en", "de"))
            .groupBy("lang").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("doc_id").alias("sum_id"),
                F.sum("n_chars").alias("sum_chars"),
                F.min("source").alias("min_src"),
                F.max("source").alias("max_src"),
            ))


def q_orcx_write_instant_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSTANT-timestamp ORC sink (r6, VERDICT r5 missing #1): Spark
    TimestampType written through df.write.format("orcx") becomes ORC
    TIMESTAMP_INSTANT (kind 18 — reference src/schema.rs:526-528 maps
    tz-aware arrow the same way; r5 wrote every timestamp as wall-clock
    K_TIMESTAMP, silently dropping instant-ness). Read back through the
    orcx scan and checksum-aggregated on unix MICROS, which are
    tz-independent: the oracle recomputes them with epoch_us over the
    source events table. pytest (test_orcx_instant_timestamp_cross_tz)
    additionally cycles reader session timezones and liborc."""
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.dataSource.register(OrcRustDataSource)
    # set explicitly (not just inherited from whichever query ran before):
    # the exercised datasource path must not depend on bench ordering
    # (code-review r6)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    out = _clean_interop_sink_dirs("orcx_instant")
    ev = _read_parallel(spark, sf_dir, "events",
                        ["event_id", "ts", "user_id", "event_type"])
    # parquet ts is NTZ; session tz is UTC in this harness, so the cast
    # to TimestampType yields the instant whose UTC wall-clock equals the
    # naive value — exactly what DuckDB's epoch_us computes
    src = ev.select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    src.write.format("orcx").mode("overwrite").save(out)
    df = spark.read.format("orcx").load(out)
    k1 = (F.col("event_id") % F.lit(_MIX_P1)).cast("long")
    k2 = (F.col("event_id") % F.lit(_MIX_P2)).cast("long")
    us = (F.unix_micros(F.col("ts")) % F.lit(_VAL_MOD)).cast("long")
    uid = (F.col("user_id") % F.lit(_VAL_MOD)).cast("long")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(us).alias("sum_us"),
        F.sum(us * k1).alias("chk1_us"),
        F.sum(us * k2).alias("chk2_us"),
        F.sum(uid * k1).alias("chk1_uid"),
    )


def q_orcx_write_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-type ORC sink: array<float> embeddings — the core
    LLM-pipeline datatype — written through df.write.format("orcx") as
    real indexed ORC (the LENGTH-stream subtree of the reference's read
    contract, src/array_decoder/list.rs:36-104; the reference WRITER
    rejects nested types, src/writer/stripe.rs:187 unimplemented!), read
    back through the orcx reader and verified ELEMENT-BY-ELEMENT against
    the source parquet via the DuckDB oracle."""
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)
    out = _clean_interop_sink_dirs("orcx_emb")
    src = _read_parallel(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    src.write.format("orcx").mode("overwrite").save(out)
    df = spark.read.format("orcx").load(out)
    return df.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", "pos", F.col("val").cast("double").alias("val"))


def q_orc_file_rlev1_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLEv1 decode compat (E10, reference src/encoding/rle_v1.rs): an ORC
    file whose int columns are RLEv1-encoded with legacy DIRECT column
    encodings — written by our writer, independently readable by liborc
    (asserted in pytest) — scanned back through this engine's RLEv1
    decoder and aggregated."""
    import os

    import pyarrow.parquet as pq

    from orc_rust_spark.sources.orc_file import orc_scan, write_orc

    orc_path = _interop_cache_path(sf_dir, "lineitem_rlev1", ".orc")
    if not os.path.exists(orc_path):
        tbl = pq.read_table(f"{sf_dir}/lineitem.parquet",
                            columns=["l_orderkey", "l_partkey", "l_suppkey",
                                     "l_returnflag"])
        write_orc(tbl, orc_path, compression="zlib", rle_version=1)
    df = orc_scan(
        spark, orc_path,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_returnflag string",
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("l_orderkey").alias("sum_ok"),
        F.sum("l_partkey").alias("sum_pk"),
        F.min("l_suppkey").alias("min_sk"),
        F.max("l_suppkey").alias("max_sk"),
    )


def _events_ts_orc(sf_dir: str) -> tuple[str, str, str]:
    """Events written time-sorted to ORC by OUR writer (ROW_INDEX with
    timestampStatistics per 10k group) + a deterministic [lo, hi) probe
    window at 10%-20% of the time span, cached per sf. Returns
    (orc_path, lo_iso, hi_iso) — the oracle builder calls this too, so
    both engines share the exact literals."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from orc_rust_spark.sources.orc_file import write_orc

    orc_path = _interop_cache_path(sf_dir, "events_ts_ours", ".orc", source="events")
    if not os.path.exists(orc_path + ".bounds"):
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet",
            columns=["event_id", "ts", "user_id", "event_type"],
        ).sort_by([("ts", "ascending")])
        write_orc(tbl, orc_path, compression="zlib")
        mn = pc.min(tbl.column("ts")).as_py()
        mx = pc.max(tbl.column("ts")).as_py()
        span = mx - mn
        lo = (mn + span // 10).replace(microsecond=0)
        hi = (mn + span // 5).replace(microsecond=0)
        with open(orc_path + ".bounds", "w") as fh:
            fh.write(f"{lo.isoformat(sep=' ')}\n{hi.isoformat(sep=' ')}")
    with open(orc_path + ".bounds") as fh:
        lo_iso, hi_iso = fh.read().splitlines()
    return orc_path, lo_iso, hi_iso


def q_orc_ts_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-statistics pruning end to end: a time-sorted events ORC
    file written by OUR writer is range-scanned through orcx — Catalyst
    pushes the ts bounds, stripe timestampStatistics prune stripes, and
    per-group UTC-millis stats prune 10k row groups before seek-decode.
    The canonical time-series shape at 100 TB (time-partitioned logs)."""
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)
    orc_path, lo_iso, hi_iso = _events_ts_orc(sf_dir)
    df = spark.read.format("orcx").load(orc_path)
    lo = F.lit(lo_iso).cast("timestamp_ntz")
    hi = F.lit(hi_iso).cast("timestamp_ntz")
    return df.where((F.col("ts") >= lo) & (F.col("ts") < hi)).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("user_id").alias("sum_uid"),
        F.min("event_id").alias("min_eid"),
        F.max("event_id").alias("max_eid"),
        F.min(F.col("ts").cast("string")).alias("min_ts"),
        F.max(F.col("ts").cast("string")).alias("max_ts"),
    )


def q_streaming_orcx_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ORC ingest (readStream.format("orcx")): ORC files
    landing in a directory stream through this engine's decoder
    micro-batch by micro-batch (offsets = seen-file set, checkpointed),
    drained with availableNow and aggregated — the continuously-crawled
    corpus arriving AS ORC, not parquet."""
    import os
    import uuid

    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.dataSource.register(OrcRustDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    orc_path = _lineitem_bloom_orc(sf_dir)
    base = _clean_interop_sink_dirs("stream_ingest")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    os.symlink(orc_path, os.path.join(in_dir, "lineitem.orc"))
    q = (
        spark.readStream.format("orcx")
        .schema("l_orderkey long, l_partkey long, l_quantity double, "
                "l_returnflag string, l_shipdate timestamp_ntz")
        .load(in_dir)
        .writeStream.format("parquet")
        .option("path", os.path.join(base, "out"))
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    df = spark.read.parquet(os.path.join(base, "out"))
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
    )


def q_streaming_orcx_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ORC SINK (writeStream.format("orcx"), r7): documents
    stream micro-batch by micro-batch INTO real indexed ORC files through
    the per-batch-manifest exactly-once commit protocol
    (datasource.OrcRustStreamWriter), then the batch orcx reader
    aggregates them back — the write-side complement of
    streaming_orcx_ingest, closing the read+write x batch+stream matrix
    the reference only covers for batch (src/writer/stripe.rs)."""
    import os

    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.dataSource.register(OrcRustDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    base = _clean_interop_sink_dirs("stream_sink")
    out = os.path.join(base, "out")
    in_dir = os.path.join(base, "in")  # FileStreamSource wants a DIR
    os.makedirs(in_dir)
    os.symlink(f"{sf_dir}/documents.parquet",
               os.path.join(in_dir, "documents.parquet"))
    q = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long")
        .parquet(in_dir)
        .writeStream.format("orcx")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .option("compression", "zstd")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    df = spark.read.format("orcx").load(out)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("doc_id").alias("sum_id"),
        F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def q_roundtrip_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-RLE roundtrip (E11, reference src/encoding/byte.rs): int8
    columns derived from lineitem encode through the byte-RLE state
    machine and decode bit-identically.

    The gate aggregates the DECODED rows per l_linenumber — counts plus
    key-mixed checksums over every decoded value — instead of collecting
    600k rows to the driver (VERDICT r4 next #5: the 11 s committed line
    was ~90% driver collect + single-row-group repartition, ~1.1 s
    engine). A wrong decoded byte shifts a checksum unless a compensating
    error cancels it in BOTH independent mix moduli (r6: second modulus
    added per driver advice — the r5 single-mix gate admitted value swaps
    between rows sharing an orderkey residue); the exact row-level
    roundtrip lives in tests/test_byte_rle.py."""
    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table

    li = _read_parallel(spark, sf_dir, "lineitem",
                        ["l_orderkey", "l_linenumber", "l_quantity"])
    src = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_linenumber").cast("byte").alias("ln8"),
        ((F.col("l_quantity").cast("int") % 50) - 25).cast("byte").alias("q8"),
    )
    chunks = encode_table(src, plan={})
    decoded = decode_table_arrow(chunks, src.schema, co_locate=False)
    mix = (F.col("l_orderkey") % F.lit(_MIX_P1)).cast("long")
    mix2 = (F.col("l_orderkey") % F.lit(_MIX_P2)).cast("long")
    return (
        decoded.groupBy(F.col("l_linenumber").cast("int").alias("linenum"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("ln8").cast("long")).alias("sum_ln8"),
            F.sum(F.col("q8").cast("long")).alias("sum_q8"),
            F.sum(F.col("q8").cast("long") * mix).alias("chk_q8"),
            F.sum(F.col("ln8").cast("long") * mix).alias("chk_ln8"),
            F.sum(F.col("q8").cast("long") * mix2).alias("chk2_q8"),
            F.sum(F.col("ln8").cast("long") * mix2).alias("chk2_ln8"),
        )
    )


def q_roundtrip_fsst_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FSST roundtrip on URL-shaped strings (north-rule addition; FSST
    paper, Boncz/Neumann/Leis VLDB 2020 — no reference counterpart): a
    synthetic url column with heavy shared prefixes trains a symbol table
    and encodes through FSST via ``force_codec`` — a codec-coverage gate.
    (Since round 5 the selector runs a measured sample trial THROUGH the
    downstream block codec, and on this shape direct+zlib/zstd beats
    fsst+zlib/zstd on final bytes, so the unforced choice is correctly
    'direct' — asserted in tests/test_fsst.py. FSST stays the winner when
    no block codec runs, e.g. plan {'block_codec': 'none'}.) Decode is
    bit-identical either way."""
    from orc_rust_spark.codecs.fsst import train_fsst
    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table

    docs = _read_parallel(spark, sf_dir, "documents",
                          ["doc_id", "source", "lang"])
    src = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://crawl.example.org/archive/"), F.col("source"),
            F.lit("/page-"), F.col("doc_id").cast("string"),
            F.lit(".html?lang="), F.col("lang"),
        ).alias("url"),
    )
    # ordered sample: LIMIT without ordering is partition-order-dependent,
    # so the trained FSST table (and compressed sizes) varied run to run
    # (code-review r6)
    sample = [r["url"] for r in
              src.select("url").orderBy("doc_id").limit(256).collect()]
    table = train_fsst("".join(sample).encode())
    plan = {"url": {"fsst_table": table.serialize(), "block_codec": "zlib",
                    "force_codec": "fsst"}}
    chunks = encode_table(src, plan=plan)
    return decode_table_arrow(chunks, src.schema, co_locate=False)


def q_stats_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-statistics collection (reference §2.4 statistics.rs analog)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_quantity"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.min("l_returnflag").alias("min_returnflag"),
        F.max("l_returnflag").alias("max_returnflag"),
    )


def q_dictionary_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-size accounting (reference Column::dictionary_size analog)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.agg(
        F.countDistinct("l_returnflag").alias("returnflag_card"),
        F.countDistinct("l_linestatus").alias("linestatus_card"),
        F.countDistinct("l_suppkey").alias("suppkey_card"),
    )


def q_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group-pruning analog: selective scan with filter + projection
    pushed to the parquet reader (Catalyst does what row_group_filter.rs
    does in the reference)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where((F.col("l_quantity") < 5) & (F.col("l_returnflag") == "R"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        )
        .orderBy("l_linestatus")
    )


def _lineitem_chunks(spark: SparkSession, sf_dir: str):
    """Indexed lineitem chunk table (row_index on every column, bloom on
    l_orderkey), encoded ONCE per sf and persisted under /tmp — at scale
    the index is written once and queried many times, so the pruning
    queries must measure LOOKUP latency, not a fresh encode (VERDICT r2
    bench nit #5)."""
    import os

    from orc_rust_spark.operators.encode import encode_table

    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate"]
    src = _read_parallel(spark, sf_dir, "lineitem", cols)
    cache = _interop_cache_path(sf_dir, "lineitem_chunks", ".parquet")
    # gate on the LAST-written sidecar (probe), mirroring the ORC caches
    if not os.path.exists(cache + ".probe"):
        # row_index on every column -> point lookups decode only matching
        # 10k-row groups; bloom on the key column for equality pruning
        plan = {c: {"row_index": True, "block_codec": "zlib"} for c in cols}
        plan["l_orderkey"]["bloom"] = True
        encode_table(src, plan=plan, stripe_bytes=4 * 1024 * 1024).write.mode(
            "overwrite").parquet(cache)
        probe = src.agg(F.max("l_orderkey")).collect()[0][0]
        with open(cache + ".probe", "w") as fh:
            fh.write(str(int(probe)))
    with open(cache + ".probe") as fh:
        probe = int(fh.read())
    return src.schema, spark.read.parquet(cache), probe


def q_pruned_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-stats + bloom + ROW-GROUP pruned point lookup
    (row_group_filter.rs + bloom_filter.rs + row_index.rs analogs): typed
    min/max comparison prunes whole chunks, then surviving chunks decode
    only the 10k-row groups whose per-group stats may match."""
    from orc_rust_spark.operators.predicate import Comparison, pruned_scan

    schema, chunks, probe = _lineitem_chunks(spark, sf_dir)
    rows, _keys = pruned_scan(chunks, schema, Comparison("l_orderkey", "=", probe))
    return rows


def q_pruned_predicate_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite predicate AST (And/Or/IsNotNull) pruned scan
    (src/predicate.rs analog), aggregated so the result is small."""
    from orc_rust_spark.operators.predicate import (
        And,
        Comparison,
        IsNotNull,
        Or,
        pruned_scan,
    )

    schema, chunks, probe = _lineitem_chunks(spark, sf_dir)
    pred = And(
        Or(Comparison("l_orderkey", "<", 1000), Comparison("l_orderkey", ">=", 14000)),
        Comparison("l_returnflag", "=", "R"),
        IsNotNull("l_quantity"),
    )
    rows, _keys = pruned_scan(chunks, schema, pred)
    return rows.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
    )


# --- training-data pipeline operators ---------------------------------------


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orc_rust_spark.operators.text_analysis import (
        lang_id_col,
        quality_score_col,
        subtoken_count_col,
        token_count_col,
        fingerprint_col,
    )

    docs = _read_parallel(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count_col(t).alias("n_tokens"),
        subtoken_count_col(t).alias("n_subtokens"),
        quality_score_col(t).alias("quality"),
        lang_id_col(t).alias("lang_guess"),
        fingerprint_col(t).alias("fingerprint"),
    )


def q_streaming_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming surface: the documents table is ingested by a
    file-source readStream, encoded micro-batch by micro-batch
    (foreachBatch -> chunk parquet, checkpointed), drained with
    availableNow, then the accumulated chunk table is decoded back — the
    continuously-crawled-corpus path. Oracle: identity over documents."""
    import shutil
    import uuid

    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.streaming.encode_stream import encode_stream

    import os

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(*cols)
    out = _clean_interop_sink_dirs("stream_encode")
    # the file stream source needs a DIRECTORY; symlink the (read-only)
    # testdata file into a scratch input dir
    in_dir = os.path.join(out, "in")
    os.makedirs(in_dir)
    os.symlink(f"{sf_dir}/documents.parquet", os.path.join(in_dir, "documents.parquet"))
    q = encode_stream(spark, in_dir, out, plan={}, trigger_once=True, schema=src.schema)
    q.awaitTermination()
    chunks = spark.read.parquet(f"{out}/chunks")
    # per-batch landing dirs reuse task-local part_ids, so the batch id
    # (a partition-discovery column) is part of the chunk identity
    return decode_table_arrow(
        chunks, src.schema,
        group_cols=("stream_batch_id", "part_id", "chunk_ord"),
    ).select(*cols)


def q_streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): the
    documents backlog streams through a keyed exact-dedup that keeps one
    state row per text fingerprint and emits (fingerprint, keeper_id,
    dup_count) on first sight. The md5-prefix fingerprint makes the
    drained result exactly recomputable by the SQL oracle."""
    import os
    import uuid

    from orc_rust_spark.streaming.dedup_stream import streaming_dedup_summary

    out = _clean_interop_sink_dirs("stream_dedup")
    in_dir = os.path.join(out, "in")
    os.makedirs(in_dir)
    os.symlink(f"{sf_dir}/documents.parquet", os.path.join(in_dir, "documents.parquet"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(in_dir)
    )
    q = (
        streaming_dedup_summary(stream.where(F.col("text").isNotNull()))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out, "dedup"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(out, "dedup"))


def q_multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing end to end: deterministic fake
    media payloads (arithmetic header, SQL-predictable) are packed into a
    binary column, shipped through Arrow batches, and parsed back by the
    mapInPandas feature extractor. Real decode stays stubbed (no imaging
    libs in this container) — the schema/batching/UDF plumbing is what
    this verifies."""
    from orc_rust_spark.operators.multimodal import (
        extract_media_features,
        synth_media_table,
    )

    docs = _read_parallel(spark, sf_dir, "documents", ["doc_id"])
    media = synth_media_table(docs, id_col="doc_id")
    feats = extract_media_features(media, frame_stride=30, fake=True)
    return feats.select(
        "media_id", "width", "height", "n_frames", "payload_bytes",
        F.size("sampled_frames").alias("n_sampled"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orc_rust_spark.operators.dedup import exact_dedup

    docs = _read_parallel(spark, sf_dir, "documents")
    return exact_dedup(docs)


def q_word_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orc_rust_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read_parallel(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    # stop-shingle cap keeps the self-join from going quadratic on common
    # words; the oracle applies the identical document-frequency filter
    return ngram_jaccard_pairs(docs, n=1, threshold=0.5, max_df=100)


#: LSH parameters shared between the Spark queries and their SQL oracles —
#: md5-derived hashes are computed identically by DuckDB, so the oracle
#: re-runs the ENTIRE approximate algorithm independently (signatures,
#: banding, bucket caps) rather than settling for a rows-only check.
MINHASH_PARAMS = dict(n=2, num_perm=32, bands=16, threshold=0.5, max_bucket=1000)
ANN_LSH_PARAMS = dict(dim=64, k=5, n_planes=8, seed=7)


def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orc_rust_spark.operators.dedup import minhash_lsh_pairs

    docs = _read_parallel(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    return minhash_lsh_pairs(docs, hash_family="md5", **MINHASH_PARAMS)


def q_minhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-keep-one (r6): connected components over the MinHash
    near-dup pair graph via hash-min label propagation (one shuffle per
    iteration, O(diameter) iterations), summarized per cluster. The
    oracle recomputes the ENTIRE chain in SQL — the md5 minhash pairs
    plus a recursive-CTE transitive min — so the clustering algorithm
    itself is equality-checked, not just row counts."""
    from orc_rust_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_cluster_summary,
    )

    docs = _read_parallel(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    pairs = minhash_lsh_pairs(docs, hash_family="md5", **MINHASH_PARAMS)
    return neardup_cluster_summary(pairs)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orc_rust_spark.operators.dedup import simhash_neardup_pairs

    docs = _read_parallel(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    # 4x16-bit chunk blocking guarantees recall 1.0 only for hamming <= 3
    return simhash_neardup_pairs(docs, max_hamming=3, hash_family="md5")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orc_rust_spark.operators.similarity import cosine_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(vecs, k=5, round_to=None)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orc_rust_spark.operators.similarity import lsh_topk, make_planes

    p = ANN_LSH_PARAMS
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = make_planes(p["dim"], p["n_planes"], p["seed"])
    return lsh_topk(vecs, dim=p["dim"], k=p["k"], planes=planes)


IVF_PARAMS = dict(n_centroids=16, iters=5, seed=13, sample_rows=4096, k=5)
IVF_NPROBE = 3


_IVF_CENTROID_MEMO: dict[str, list[list[float]]] = {}


def _ivf_centroids_for(sf_dir: str) -> list[list[float]]:
    """Memoized per sf_dir: training is deterministic given the file, and
    retraining it inside every bench rep (and twice per oracle_sql build)
    charged driver-side k-means to the timed lines (code-review r6)."""
    if sf_dir not in _IVF_CENTROID_MEMO:
        from orc_rust_spark.operators.similarity import (
            ivf_sample_from_parquet,
            train_ivf_centroids,
        )

        p = IVF_PARAMS
        x = ivf_sample_from_parquet(f"{sf_dir}/embeddings.parquet",
                                    p["sample_rows"])
        _IVF_CENTROID_MEMO[sf_dir] = train_ivf_centroids(
            x, p["n_centroids"], p["iters"], p["seed"])
    return _IVF_CENTROID_MEMO[sf_dir]


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic k-means coarse quantizer
    (trained on a fixed sample), candidates restricted to the query's own
    inverted list. The oracle re-trains the IDENTICAL centroids from the
    same parquet (pure NumPy, no Spark) and inlines them as literals."""
    from orc_rust_spark.operators.similarity import ivf_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(vecs, _ivf_centroids_for(sf_dir), k=IVF_PARAMS["k"])


def q_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multi-probe (VERDICT r3 next #10): each query probes its
    NPROBE nearest centroids (sim desc, index asc — deterministic), the
    corpus keeps its single assignment, so recall rises while the join
    stays posting-list-local. The oracle re-trains identical centroids
    and re-ranks probes with the same row_number rule."""
    from orc_rust_spark.operators.similarity import ivf_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(vecs, _ivf_centroids_for(sf_dir), k=IVF_PARAMS["k"],
                    nprobe=IVF_NPROBE)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orc_rust_spark.operators.similarity import embedding_neardup_pairs

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_pairs(vecs, tau=0.4).select("id_a", "id_b")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "roundtrip_documents": q_roundtrip_documents,
        "roundtrip_events": q_roundtrip_events,
        "roundtrip_lineitem": q_roundtrip_lineitem,
        "roundtrip_decimal": q_roundtrip_decimal,
        "roundtrip_embeddings": q_roundtrip_embeddings,
        "roundtrip_struct_map": q_roundtrip_struct_map,
        "roundtrip_date_decimal128": q_roundtrip_date_decimal128,
        "orc_file_scan": q_orc_file_scan,
        "orc_fs_uri_scan": q_orc_fs_uri_scan,
        "orc_compact_scan": q_orc_compact_scan,
        "orc_evolved_scan": q_orc_evolved_scan,
        "orc_file_write": q_orc_file_write,
        "orc_file_point_lookup": q_orc_file_point_lookup,
        "orc_file_write_pruned": q_orc_file_write_pruned,
        "orcx_datasource_scan": q_orcx_datasource_scan,
        "orcx_write_roundtrip": q_orcx_write_roundtrip,
        "orcx_partitioned_write": q_orcx_partitioned_write,
        "orcx_write_embeddings": q_orcx_write_embeddings,
        "orcx_write_instant_ts": q_orcx_write_instant_ts,
        "orc_row_ranges_scan": q_orc_row_ranges_scan,
        "orc_file_rlev1_scan": q_orc_file_rlev1_scan,
        "orc_ts_range_scan": q_orc_ts_range_scan,
        "roundtrip_int8": q_roundtrip_int8,
        "roundtrip_fsst_urls": q_roundtrip_fsst_urls,
        "stats_collection": q_stats_collection,
        "dictionary_cardinality": q_dictionary_cardinality,
        "predicate_pushdown": q_predicate_pushdown,
        "pruned_point_lookup": q_pruned_point_lookup,
        "pruned_predicate_scan": q_pruned_predicate_scan,
        "text_analysis": q_text_analysis,
        "multimodal_extract": q_multimodal_extract,
        "streaming_encode": q_streaming_encode,
        "streaming_orcx_ingest": q_streaming_orcx_ingest,
        "streaming_orcx_sink": q_streaming_orcx_sink,
        "streaming_stateful_dedup": q_streaming_stateful_dedup,
        "dedup_exact": q_dedup_exact,
        "word_jaccard_pairs": q_word_jaccard_pairs,
        "minhash_lsh_neardup": q_minhash_lsh_neardup,
        "minhash_dedup_clusters": q_minhash_dedup_clusters,
        "simhash_neardup": q_simhash_neardup,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_multiprobe": q_ann_ivf_multiprobe,
        "embedding_neardup": q_embedding_neardup,
    }


def _minhash_oracle_sql() -> str:
    """DuckDB re-implementation of q_minhash_lsh_neardup (md5 family):
    same shingles, same md5 minhash perms, same band buckets, same bucket
    cap, same exact-Jaccard verify."""
    from orc_rust_spark.operators.dedup import MERSENNE61

    p = MINHASH_PARAMS
    num_perm, bands, thr, cap = p["num_perm"], p["bands"], p["threshold"], p["max_bucket"]
    r = num_perm // bands
    mins = ", ".join(
        f"min((p1 + {i} * p2) % {MERSENNE61}) AS h{i}" for i in range(num_perm)
    )
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, md5({expr}) AS bucket FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"CAST(h{b * r + j} AS VARCHAR)" for j in range(r)),
        )
        for b in range(bands)
    )
    return rf"""
        WITH t AS (
          SELECT doc_id AS id, string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
        ), sh AS (
          SELECT id, unnest(list_distinct(list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1]))) AS s
          FROM t WHERE len(toks) >= 2
        ), sigh AS (
          SELECT id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS p1,
                     CAST('0x' || substr(md5(s), 16, 8) AS BIGINT) AS p2
          FROM sh
        ), sig AS (
          SELECT id, {mins} FROM sigh GROUP BY id
        ), bands_u AS (
          {band_selects}
        ), sized AS (
          SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bn FROM bands_u
        ), kept AS (
          SELECT id, band, bucket FROM sized WHERE bn <= {cap}
        ), cand AS (
          SELECT DISTINCT x.id AS id_a, y.id AS id_b
          FROM kept x JOIN kept y ON x.band = y.band AND x.bucket = y.bucket
                                  AND x.id < y.id
        ), lists AS (
          SELECT id, list(DISTINCT s) AS sl FROM sh GROUP BY id
        )
        SELECT id_a, id_b,
               round(len(list_intersect(a.sl, b.sl)) * 1.0 /
                     (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6)
                 AS jaccard
        FROM cand JOIN lists a ON cand.id_a = a.id JOIN lists b ON cand.id_b = b.id
        WHERE round(len(list_intersect(a.sl, b.sl)) * 1.0 /
                    (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6)
              >= {thr}
    """


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB re-implementation of q_simhash_neardup (md5 family): same
    md5-hex-digit bit derivation, bit-majority, 4x16-bit chunks; the
    oracle joins ALL pairs (no blocking), so it also proves the Spark
    side's chunk blocking loses no pairs (pigeonhole recall = 1.0)."""
    digits = (
        "CAST('0x' || substr(h, 1, 15) AS BIGINT) AS hlo, "
        "CAST('0x' || substr(h, 16, 1) AS BIGINT) AS hhi"
    )
    bits = ", ".join(
        (f"sum(CASE WHEN (hlo >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
         if j < 60 else
         f"sum(CASE WHEN (hhi >> {j - 60}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}")
        for j in range(64)
    )
    chunks = ", ".join(
        "(" + " + ".join(
            f"CASE WHEN b{16 * q + j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16)
        ) + f") AS c{q}"
        for q in range(4)
    )
    ham = " + ".join(
        f"bit_count(xor(CAST(a.c{q} AS BIGINT), CAST(b.c{q} AS BIGINT)))" for q in range(4)
    )
    return rf"""
        WITH tok AS (
          SELECT doc_id AS id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
          FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
        ), tok2 AS (
          SELECT id, md5(t) AS h FROM tok WHERE length(t) > 0
        ), dig AS (
          SELECT id, {digits} FROM tok2
        ), bits AS (
          SELECT id, {bits} FROM dig GROUP BY id
        ), ch AS (
          SELECT id, {chunks} FROM bits
        )
        SELECT a.id AS id_a, b.id AS id_b, CAST({ham} AS INT) AS hamming
        FROM ch a JOIN ch b ON a.id < b.id
        WHERE {ham} <= {max_hamming}
    """


def _ann_lsh_oracle_sql() -> str:
    """DuckDB re-implementation of q_ann_lsh_topk with the IDENTICAL
    hyperplane constants (make_planes is deterministic; the literals are
    inlined here so both engines compute the same sign-bit buckets)."""
    from orc_rust_spark.operators.similarity import make_planes

    p = ANN_LSH_PARAMS
    planes = make_planes(p["dim"], p["n_planes"], p["seed"])

    def dot(vec_expr: str, plane: list[float]) -> str:
        lits = ", ".join(repr(x) for x in plane)
        return (
            f"list_sum(list_transform(list_zip({vec_expr}, [{lits}]), "
            "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot('embedding', plane)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    cos = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / "
        "(sqrt(list_sum(list_transform(q.embedding, "
        "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(c.embedding, "
        "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
    )
    return f"""
        WITH b AS (
          SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        )
        SELECT vec_id, rank, neighbor_id, cosine FROM (
          SELECT q.vec_id, c.vec_id AS neighbor_id, round({cos}, 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({cos}, 6) DESC, c.vec_id ASC
                 ) AS rank
          FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
        ) WHERE rank <= {ANN_LSH_PARAMS["k"]}
    """


def _ann_ivf_oracle_sql() -> str:
    """DuckDB re-implementation of q_ann_ivf_topk: the centroids are
    re-trained from the same parquet sample with the same NumPy code at
    SQL-build time and inlined as literals; assignment uses the identical
    first-occurrence argmax (list_indexof of list_max)."""
    centroids = _ivf_centroids_for("/root/testdata/sf0.01")

    def dot(plane: list[float]) -> str:
        lits = ", ".join(repr(x) for x in plane)
        return (
            f"list_sum(list_transform(list_zip(embedding, [{lits}]), "
            "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        )

    sims = ", ".join(dot(c) for c in centroids)
    cos = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / "
        "(sqrt(list_sum(list_transform(q.embedding, "
        "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(c.embedding, "
        "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
    )
    return f"""
        WITH s AS (
          SELECT vec_id, embedding, [{sims}] AS sims FROM embeddings
        ), b AS (
          SELECT vec_id, embedding,
                 CAST(list_indexof(sims, list_max(sims)) - 1 AS INT) AS cluster
          FROM s
        )
        SELECT vec_id, rank, neighbor_id, cosine FROM (
          SELECT q.vec_id, c.vec_id AS neighbor_id, round({cos}, 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({cos}, 6) DESC, c.vec_id ASC
                 ) AS rank
          FROM b q JOIN b c ON q.cluster = c.cluster AND q.vec_id != c.vec_id
        ) WHERE rank <= {IVF_PARAMS["k"]}
    """


def _ann_ivf_multiprobe_oracle_sql() -> str:
    """DuckDB re-implementation of q_ann_ivf_multiprobe: identical
    re-trained centroid literals; query probes = top-IVF_NPROBE centroids
    by (sim DESC, index ASC) — the same deterministic rule as the Spark
    side's struct sort on (-sim, idx); corpus keeps its single
    first-occurrence-argmax assignment."""
    centroids = _ivf_centroids_for("/root/testdata/sf0.01")

    def dot(plane: list[float]) -> str:
        lits = ", ".join(repr(x) for x in plane)
        return (
            f"list_sum(list_transform(list_zip(embedding, [{lits}]), "
            "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        )

    sims = ", ".join(dot(c) for c in centroids)
    cos = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / "
        "(sqrt(list_sum(list_transform(q.embedding, "
        "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(c.embedding, "
        "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
    )
    return f"""
        WITH s AS (
          SELECT vec_id, embedding, [{sims}] AS sims FROM embeddings
        ), b AS (
          SELECT vec_id, embedding,
                 CAST(list_indexof(sims, list_max(sims)) - 1 AS INT) AS cluster
          FROM s
        ), qc AS (
          SELECT vec_id, CAST(i AS INT) AS cluster FROM (
            SELECT s.vec_id, i,
                   row_number() OVER (
                     PARTITION BY s.vec_id
                     ORDER BY s.sims[i+1] DESC, i ASC
                   ) AS rn
            FROM s, range({len(centroids)}) t(i)
          ) WHERE rn <= {IVF_NPROBE}
        )
        SELECT vec_id, rank, neighbor_id, cosine FROM (
          SELECT q.vec_id, c.vec_id AS neighbor_id, round({cos}, 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({cos}, 6) DESC, c.vec_id ASC
                 ) AS rank
          FROM qc JOIN s q ON qc.vec_id = q.vec_id
                JOIN b c ON qc.cluster = c.cluster AND q.vec_id != c.vec_id
        ) WHERE rank <= {IVF_PARAMS["k"]}
    """


def oracle_sql() -> dict[str, str]:
    return {
        "roundtrip_documents":
            "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "roundtrip_events":
            "SELECT event_id, ts, user_id, event_type, value, props FROM events",
        "roundtrip_lineitem": _mix_sql(
            "l_returnflag, l_linestatus",
            {"ok": "l_orderkey", "pk": "l_partkey", "sk": "l_suppkey",
             "qty": "CAST(l_quantity * 100 AS BIGINT)",
             "ship": "CAST(epoch_us(l_shipdate) AS BIGINT)"},
            "lineitem"),
        "roundtrip_decimal": _mix_sql(
            "linenum",
            {"ok": "l_orderkey",
             "price_c": "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)",
             "disc_c": "CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)"},
            "lineitem", group_inner="CAST(l_linenumber AS INT) AS linenum"),
        "roundtrip_embeddings":
            "SELECT vec_id, CAST(i AS INT) AS pos, "
            "CAST(embedding[i+1] AS DOUBLE) AS val "
            "FROM embeddings, range(8192) t(i) WHERE i < len(embedding)",
        "roundtrip_struct_map": _mix_sql(
            "rf",
            {"ok": "l_orderkey", "ln": "l_linenumber", "pk": "l_partkey",
             "qty": "CAST(l_quantity AS BIGINT)"},
            "lineitem", group_inner="l_returnflag AS rf"),
        "roundtrip_date_decimal128": _mix_sql(
            "linenum",
            {"ok": "l_orderkey",
             "ship_d": "CAST(l_shipdate AS DATE) - DATE '1970-01-01'",
             "wide": "CAST(CAST(concat(CAST(l_orderkey AS VARCHAR), "
                     "'00000000000000000000') AS DECIMAL(38,0)) "
                     f"% {_VAL_MOD} AS BIGINT)"},
            "lineitem", group_inner="CAST(l_linenumber AS INT) AS linenum"),
        "orc_file_write":
            "SELECT l_returnflag, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
            "min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok, "
            "min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship "
            "FROM lineitem GROUP BY l_returnflag",
        "orc_fs_uri_scan":
            "SELECT l_returnflag, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(l_orderkey) AS BIGINT) AS sum_ok, "
            "CAST(sum(l_partkey) AS BIGINT) AS sum_pk, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
            "min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship "
            "FROM lineitem GROUP BY l_returnflag",
        "orc_evolved_scan":
            # the evolution outcome recomputed from the source table: the
            # pre-deploy file (doc_id % 3 = 0) has no lang column, so its
            # rows land in the NULL lang group
            "SELECT CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END "
            "AS lang, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_id, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
            "min(source) AS min_src, max(source) AS max_src "
            "FROM documents GROUP BY 1",
        "orc_compact_scan": _mix_sql(
            "event_type",
            {"eid": "event_id", "uid": "user_id",
             "tsu": "CAST(epoch_us(ts) AS BIGINT)",
             "val": "CAST(floor(value * 1000) AS BIGINT)",
             "plen": "CAST(octet_length(CAST(props AS BLOB)) AS BIGINT)"},
            "events", key="event_id"),
        "orc_file_scan":
            "SELECT l_returnflag, l_linestatus, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
            "min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok, "
            "min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus",
        "orc_file_point_lookup":
            "SELECT l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate "
            "FROM lineitem "
            "WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)",
        "orc_file_write_pruned":
            "SELECT l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate "
            "FROM lineitem "
            "WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)",
        "orcx_datasource_scan":
            "SELECT l_returnflag, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
            "max(l_orderkey) AS max_ok "
            "FROM lineitem WHERE l_orderkey <= 1000 GROUP BY l_returnflag",
        "orcx_write_roundtrip":
            "SELECT l_returnflag, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(l_orderkey) AS BIGINT) AS sum_ok, "
            "CAST(sum(l_partkey) AS BIGINT) AS sum_pk, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty "
            "FROM lineitem GROUP BY l_returnflag",
        "orcx_partitioned_write":
            "SELECT lang, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_id, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
            "min(source) AS min_src, max(source) AS max_src "
            "FROM documents WHERE lang IN ('en', 'de') GROUP BY lang",
        "orc_row_ranges_scan": (
            "WITH t AS (SELECT *, row_number() OVER () - 1 AS rn "
            "FROM lineitem) "
            "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(l_orderkey) AS BIGINT) AS sum_ok, "
            "CAST(sum(l_partkey) AS BIGINT) AS sum_pk, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
            "min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok "
            "FROM t WHERE " + " OR ".join(
                f"(rn >= {a} AND rn < {b})" for a, b in _ROW_RANGES)
            + " GROUP BY l_returnflag"),
        "orcx_write_instant_ts":
            "WITH t AS (SELECT event_type, "
            f"  CAST(event_id % {_MIX_P1} AS BIGINT) AS k1, "
            f"  CAST(event_id % {_MIX_P2} AS BIGINT) AS k2, "
            f"  CAST(epoch_us(ts) % {_VAL_MOD} AS BIGINT) AS us, "
            f"  CAST(user_id % {_VAL_MOD} AS BIGINT) AS uid FROM events) "
            "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(us) AS BIGINT) AS sum_us, "
            "CAST(sum(us * k1) AS BIGINT) AS chk1_us, "
            "CAST(sum(us * k2) AS BIGINT) AS chk2_us, "
            "CAST(sum(uid * k1) AS BIGINT) AS chk1_uid "
            "FROM t GROUP BY event_type",
        "orcx_write_embeddings":
            "SELECT vec_id, CAST(i AS INT) AS pos, "
            "CAST(embedding[i+1] AS DOUBLE) AS val "
            "FROM embeddings, range(8192) t(i) WHERE i < len(embedding)",
        "orc_file_rlev1_scan":
            "SELECT l_returnflag, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(l_orderkey) AS BIGINT) AS sum_ok, "
            "CAST(sum(l_partkey) AS BIGINT) AS sum_pk, "
            "min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk "
            "FROM lineitem GROUP BY l_returnflag",
        "orc_ts_range_scan": (lambda b: (
            "SELECT CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(user_id) AS BIGINT) AS sum_uid, "
            "min(event_id) AS min_eid, max(event_id) AS max_eid, "
            "CAST(min(ts) AS VARCHAR) AS min_ts, "
            "CAST(max(ts) AS VARCHAR) AS max_ts "
            f"FROM events WHERE ts >= TIMESTAMP '{b[1]}' "
            f"AND ts < TIMESTAMP '{b[2]}'"
        ))(_events_ts_orc("/root/testdata/sf0.01")),
        "roundtrip_int8":
            "WITH t AS (SELECT l_orderkey, l_linenumber, "
            "  CAST(CAST(l_linenumber AS TINYINT) AS BIGINT) AS ln8, "
            "  CAST(CAST((CAST(l_quantity AS INT) % 50) - 25 AS TINYINT) AS BIGINT) AS q8, "
            f"  CAST(l_orderkey % {_MIX_P1} AS BIGINT) AS mix, "
            f"  CAST(l_orderkey % {_MIX_P2} AS BIGINT) AS mix2 FROM lineitem) "
            "SELECT CAST(l_linenumber AS INT) AS linenum, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(ln8) AS BIGINT) AS sum_ln8, "
            "CAST(sum(q8) AS BIGINT) AS sum_q8, "
            "CAST(sum(q8 * mix) AS BIGINT) AS chk_q8, "
            "CAST(sum(ln8 * mix) AS BIGINT) AS chk_ln8, "
            "CAST(sum(q8 * mix2) AS BIGINT) AS chk2_q8, "
            "CAST(sum(ln8 * mix2) AS BIGINT) AS chk2_ln8 "
            "FROM t GROUP BY l_linenumber",
        "roundtrip_fsst_urls":
            "SELECT doc_id, 'https://crawl.example.org/archive/' || source "
            "|| '/page-' || CAST(doc_id AS VARCHAR) || '.html?lang=' || lang "
            "AS url FROM documents",
        "stats_collection":
            "SELECT count(*) AS row_count, "
            "min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_quantity, "
            "min(l_shipdate) AS min_shipdate, max(l_shipdate) AS max_shipdate, "
            "min(l_returnflag) AS min_returnflag, max(l_returnflag) AS max_returnflag "
            "FROM lineitem",
        "dictionary_cardinality":
            "SELECT count(DISTINCT l_returnflag) AS returnflag_card, "
            "count(DISTINCT l_linestatus) AS linestatus_card, "
            "count(DISTINCT l_suppkey) AS suppkey_card FROM lineitem",
        "predicate_pushdown":
            "SELECT l_linestatus, count(*) AS cnt, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty FROM lineitem "
            "WHERE l_quantity < 5 AND l_returnflag = 'R' "
            "GROUP BY l_linestatus ORDER BY l_linestatus",
        "pruned_point_lookup":
            "SELECT l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate "
            "FROM lineitem "
            "WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)",
        "pruned_predicate_scan":
            "SELECT CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
            "min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok FROM lineitem "
            "WHERE (l_orderkey < 1000 OR l_orderkey >= 14000) "
            "AND l_returnflag = 'R' AND l_quantity IS NOT NULL",
        "text_analysis": r"""
            WITH t AS (
              SELECT doc_id, text, coalesce(text, '') AS ct,
                     string_split_regex(lower(coalesce(text, '')), '\s+') AS toks
              FROM documents
            ), scores AS (
              SELECT doc_id, text, ct, toks,
                len(list_intersect(toks, ['the','and','of','to','in'])) AS s_en,
                len(list_intersect(toks, ['der','die','und','ist','das'])) AS s_de,
                len(list_intersect(toks, ['el','los','que','y','las'])) AS s_es,
                len(list_intersect(toks, ['le','la','et','les','des'])) AS s_fr,
                CASE WHEN length(ct) > 0 THEN
                  (length(ct) - length(regexp_replace(ct, '[^\p{L}\p{N}\s]', '', 'g'))) * 1.0
                   / length(ct)
                ELSE 0.0 END AS punct
              FROM t
            )
            SELECT doc_id,
              CASE WHEN text IS NULL THEN NULL
                   WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
              CASE WHEN text IS NULL THEN NULL
                   ELSE len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
              END AS n_subtokens,
              least(length(ct) / 500.0, 1.0)
                * (1.0 - least(punct * 2.0, 1.0) * 0.5) AS quality,
              CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= 1 THEN 'en'
                   WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= 1 THEN 'de'
                   WHEN s_es >= s_fr AND s_es >= 1 THEN 'es'
                   WHEN s_fr >= 1 THEN 'fr'
                   ELSE 'und' END AS lang_guess,
              md5(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g'))
                AS fingerprint
            FROM scores
        """,
        "streaming_encode":
            "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "streaming_orcx_ingest":
            "SELECT l_returnflag, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
            "min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok "
            "FROM lineitem GROUP BY l_returnflag",
        "streaming_orcx_sink":
            "SELECT lang, "
            "CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_id, "
            "CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars, "
            "min(doc_id) AS min_id, max(doc_id) AS max_id "
            "FROM documents GROUP BY lang",
        "multimodal_extract":
            "SELECT doc_id AS media_id, "
            "CAST((doc_id*7919)%4080+16 AS INT) AS width, "
            "CAST((doc_id*104729)%4080+16 AS INT) AS height, "
            "CAST((doc_id*31)%299+1 AS INT) AS n_frames, "
            "CAST(16 + (doc_id%1500+64) AS BIGINT) AS payload_bytes, "
            "CAST(((doc_id*31)%299+1+29)//30 AS INT) AS n_sampled "
            "FROM documents",
        "streaming_stateful_dedup": r"""
            SELECT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fingerprint,
                   min(doc_id) AS keeper_id,
                   CAST(count(*) - 1 AS BIGINT) AS dup_count
            FROM documents WHERE text IS NOT NULL
            GROUP BY 1
        """,
        "dedup_exact": r"""
            SELECT min(doc_id) AS doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
                   count(*) AS dup_count
            FROM documents WHERE text IS NOT NULL
            GROUP BY 2
        """,
        "word_jaccard_pairs": r"""
            WITH x AS (
              SELECT doc_id AS id,
                     unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS s
              FROM documents
              WHERE text IS NOT NULL AND length(trim(text)) > 0
            ), kept AS (
              SELECT s FROM x GROUP BY s HAVING count(*) <= 100
            ), e0 AS (
              SELECT x.id, x.s FROM x JOIN kept USING (s)
            ), e AS (
              SELECT id, s, count(*) OVER (PARTITION BY id) AS card FROM e0
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   round(count(*) * 1.0 / (a.card + b.card - count(*)), 6) AS jaccard
            FROM e a JOIN e b ON a.s = b.s AND a.id < b.id
            GROUP BY a.id, b.id, a.card, b.card
            HAVING round(count(*) * 1.0 / (a.card + b.card - count(*)), 6) >= 0.5
        """,
        # The approximate operators run their md5-seeded variants, which
        # DuckDB can recompute EXACTLY — each oracle below independently
        # re-implements the full algorithm (signatures/bits/buckets) in SQL.
        "minhash_lsh_neardup": _minhash_oracle_sql(),
        "minhash_dedup_clusters": (
            "WITH RECURSIVE pairs AS (" + _minhash_oracle_sql() + "), "
            "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "  UNION SELECT id_b, id_a FROM pairs), "
            "r AS ("
            "  SELECT a AS id, a AS lab FROM edges "
            "  UNION "
            "  SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.id"
            "), "
            "comp AS (SELECT id, min(lab) AS component FROM r GROUP BY id) "
            "SELECT component AS cluster, CAST(count(*) AS BIGINT) AS n_members, "
            "min(id) AS min_id, max(id) AS max_id "
            "FROM comp GROUP BY component"),
        "simhash_neardup": _simhash_oracle_sql(),
        "ann_lsh_topk": _ann_lsh_oracle_sql(),
        "ann_ivf_topk": _ann_ivf_oracle_sql(),
        "ann_ivf_multiprobe": _ann_ivf_multiprobe_oracle_sql(),
        "ann_cosine_topk": """
            SELECT vec_id, rank, neighbor_id, cosine FROM (
              SELECT a.vec_id, b.vec_id AS neighbor_id,
                list_sum(list_transform(list_zip(a.embedding, b.embedding),
                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(a.embedding,
                          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                 * sqrt(list_sum(list_transform(b.embedding,
                          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cosine,
                row_number() OVER (
                  PARTITION BY a.vec_id
                  ORDER BY list_sum(list_transform(list_zip(a.embedding, b.embedding),
                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(a.embedding,
                              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                     * sqrt(list_sum(list_transform(b.embedding,
                              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) DESC,
                    b.vec_id ASC
                ) AS rank
              FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
            ) WHERE rank <= 5
        """,
        "embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(
              list_sum(list_transform(list_zip(a.embedding, b.embedding),
                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding,
                        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
               * sqrt(list_sum(list_transform(b.embedding,
                        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) >= 0.4
        """,
    }

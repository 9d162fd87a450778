"""The benchmark's two workloads.

Every workload runs three kinds of operation on its table, and every
end-to-end metric is defined on each of them (README.md has the table):

- ``encode``: the workload's encoder. ``encode_table`` into a noop sink on
  ``local[N]`` for webtext_encode, ``write_orc`` for orc_lookup.
- ``decode``: reading everything back. The chunk table stored as parquet
  in set-up, through ``decode_table_arrow`` into a multiset digest;
  ``orc_to_table`` for orc_lookup.
- ``lookup``: closed-loop ``orc_point_lookup`` calls from one client, three
  hits to one miss, on an ORC copy of the workload's table (a slice of it
  for webtext_encode, whose blob rows make a whole-table point read cost a
  stripe read).

The fused ``encode_table -> decode_table_arrow(co_locate=False) ->
digest`` round trip runs in the traced run's ablation ladder only: as an
end-to-end operation it would cost as much as the other two together and
halve their samples.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs, procstat
from .trace import Tracer, traced_engine

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

WORKLOADS = ("webtext_encode", "orc_lookup")
ROWS = {"webtext_encode": 30_000, "orc_lookup": 120_000}
LOOKUP_KEY = {"webtext_encode": "url", "orc_lookup": "l_orderkey"}
#: rows of the ORC copy webtext_encode point-reads (orc_lookup reads its
#: whole table)
LOOKUP_SLICE_ROWS = 4_000
#: distinct probes, issued in a cycle
PROBES = 256
#: few lookups per round, so that the encode and decode operations get
#: many samples spread over the whole run
LOOKUPS_PER_ROUND = 16
SETUP_REPS = {"webtext_encode": 3, "orc_lookup": 5}
#: parquet files (so Spark tasks) per Spark cpu
PARTS_PER_CPU = 2
LADDER_REPS = 3
TRACED_LOOKUPS = 128
#: a full scan of the orc_lookup file takes about a third of a write
SCANS_PER_ROUND = 3
ORC_COMPRESSION = "zstd"


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


@dataclass
class Timings:
    """Wall and process-tree CPU seconds of each run of one operation."""

    wall: list = field(default_factory=list)
    cpu: list = field(default_factory=list)


@dataclass
class Ops:
    """Attempted/failed operation counts. An operation fails when it raises
    or when its output fails its check."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def run(self, fn, check=None, timings: Timings | None = None):
        """-> (output or None, wall seconds of ``fn`` alone). With
        ``timings``, also record the wall and the process tree's CPU seconds
        of ``fn`` (not of the check) there."""
        self.attempted += 1
        c0 = procstat.tree_cpu_seconds() if timings is not None else 0.0
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            wall = time.perf_counter() - t0
            self.failed += 1
            self.notes.append(traceback.format_exc())
            return None, wall
        wall = time.perf_counter() - t0
        if timings is not None:
            timings.cpu.append(procstat.tree_cpu_seconds() - c0)
            timings.wall.append(wall)
        if check is not None and not check(out):
            self.failed += 1
            self.notes.append(f"check failed: {fn.__qualname__}")
        return out, wall


def median(xs) -> float:
    return float(statistics.median(xs))


def p95(xs) -> float:
    return float(statistics.quantiles(xs, n=20)[18])


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    """Equal values and order once cast to the source schema (the decoders
    return large_string/large_binary and widen int32 to int64)."""
    if got.num_rows != want.num_rows:
        return False
    if got.num_rows == 0:
        return True
    return got.select(want.column_names).cast(want.schema).equals(want)


def expected_rows(table: pa.Table, key: str):
    """-> function key -> the source rows with that key, in file order."""
    col = table.column(key).to_numpy(zero_copy_only=False)
    order = np.argsort(col, kind="stable")
    ordered = col[order]

    def rows(k) -> pa.Table:
        lo, hi = np.searchsorted(ordered, k, "left"), np.searchsorted(ordered, k, "right")
        return table.take(pa.array(order[lo:hi]))

    return rows


@dataclass
class Lookups:
    """One closed-loop lookup client over an ORC file."""

    path: str
    key: str
    probes: list
    rows: object  # key -> expected pa.Table
    next_probe: int = 0
    latency_s: list = field(default_factory=list)

    def run(self, ops: Ops, n: int) -> float:
        """Issue ``n`` lookups; -> wall seconds spent inside the calls."""
        from orc_rust_spark.sources import orc_file

        wall = 0.0
        for _ in range(n):
            k, hit = self.probes[self.next_probe % len(self.probes)]
            self.next_probe += 1
            _, dt = ops.run(lambda: orc_file.orc_point_lookup(self.path, self.key, k),
                            lambda res: (res[0].num_rows > 0) == hit
                            and same_rows(res[0], self.rows(k)))
            self.latency_s.append(dt)
            wall += dt
        return wall


def lookup_client(table: pa.Table, key: str, seed: int, path: Path) -> Lookups:
    from orc_rust_spark.sources import orc_file

    orc_file.write_orc(table, str(path), compression=ORC_COMPRESSION, bloom_columns=[key])
    probes = inputs.lookup_keys(seed, table, key, PROBES)
    return Lookups(str(path), key, probes, expected_rows(table, key))


def engine_raw_bytes(table: pa.Table) -> int:
    """The engine's raw-size accounting (sum of chunk ``raw_bytes``)."""
    from orc_rust_spark.operators.encode import encode_chunk

    plan = {c: {"block_codec": "none"} for c in table.column_names}
    return int(sum(encode_chunk(table, 0, 0, plan).column("raw_bytes").to_pylist()))


# --- Spark helpers -----------------------------------------------------------


def start_spark(work: Path, n_cpus: int):
    """Session from the engine's own factory, with every temporary file
    inside ``work`` and a JVM heap small enough for a shared box."""
    tmp = work / "tmp"
    (work / "spark-local").mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # no hsperfdata file: HotSpot writes it to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_DRIVER_EXTRA_JAVA"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")
    from orc_rust_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{n_cpus}]", shuffle_partitions=n_cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process they
    started (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    tree = procstat.snapshot()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    procstat.wait_gone(tree)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest(df) -> tuple[int, object]:
    """Order-insensitive multiset digest: row count plus the sum of every
    row's xxhash64, as a decimal so the sum cannot overflow."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), row["h"]


def _identity(batches):
    return batches


@dataclass
class SparkSetup:
    parts: list
    src: object  # DataFrame over the parquet files
    plan: dict
    plan_s: float
    src_digest: tuple
    lookups: Lookups
    hashes: dict


def spark_inputs(spark, seed: int, work: Path, n_rows: int, n_parts: int) -> SparkSetup:
    """Generate the webtext table, write it as ``n_parts`` parquet files,
    plan the codecs and digest the source. Everything here counts as
    set-up."""
    from orc_rust_spark.plans.pipeline import plan_codecs

    table = inputs.webtext_table(seed, n_rows)
    src_dir = work / "source"
    shutil.rmtree(src_dir, ignore_errors=True)
    src_dir.mkdir(parents=True)
    bounds = np.linspace(0, table.num_rows, n_parts + 1).astype(int)
    parts = [table.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]
    for i, part in enumerate(parts):
        pq.write_table(part, src_dir / f"part-{i:03d}.parquet")
    src = spark.read.parquet(str(src_dir))
    t0 = time.perf_counter()
    plan = plan_codecs(src)
    plan_s = time.perf_counter() - t0
    src_digest = digest(src)
    lookups = lookup_client(table.slice(0, LOOKUP_SLICE_ROWS), LOOKUP_KEY["webtext_encode"],
                            seed, work / "lookup.orc")
    hashes = {"table": inputs.content_hash(table), "probes": inputs.keys_hash(lookups.probes)}
    return SparkSetup(parts, src, plan, plan_s, src_digest, lookups, hashes)


def run_spark_workload(seed: int, seconds: float, trace: bool, work: Path,
                       spans_path: Path, n_rows: int | None = None) -> tuple[Ops, dict, dict]:
    """-> (ops, metrics, info) for webtext_encode."""
    from pyspark.sql import functions as F

    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table

    n_rows = n_rows or ROWS["webtext_encode"]
    n_cpus = cpus()
    ops = Ops()
    t0 = time.perf_counter()
    spark = start_spark(work, n_cpus)
    session_s = time.perf_counter() - t0
    try:
        setup_times, hashes = [], set()
        for _ in range(1 if trace else SETUP_REPS["webtext_encode"]):
            t0 = time.perf_counter()
            s = spark_inputs(spark, seed, work, n_rows, PARTS_PER_CPU * n_cpus)
            setup_times.append(time.perf_counter() - t0)
            hashes.add(tuple(sorted(s.hashes.items())))
        if len(hashes) != 1:
            raise RuntimeError(f"set-up is not deterministic: {hashes}")
        schema = s.src.schema

        def encode_op():
            noop(encode_table(s.src, plan=s.plan))

        def decode_op():
            return digest(decode_table_arrow(chunks, schema))

        def is_source(d):
            return d == s.src_digest

        # warm-up: start the Python workers and store the chunk table the
        # decode operation reads (a cached encode_table plan would also
        # serve every later encode_table from the cache)
        t0 = time.perf_counter()
        encode_table(s.src, plan=s.plan).write.parquet(str(work / "chunks"))
        chunks = spark.read.parquet(str(work / "chunks"))
        totals = chunks.agg(F.sum("raw_bytes").alias("raw"),
                            F.sum("final_bytes").alias("fin")).collect()[0]
        raw, stored = int(totals["raw"]), int(totals["fin"])
        ops.run(encode_op)
        ops.run(decode_op, is_source)
        s.lookups.run(ops, 8)
        s.lookups.latency_s.clear()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + median(setup_times) + warm_s

        info = {"rows": n_rows, "raw_bytes": raw, "stored_bytes": stored,
                "partitions": PARTS_PER_CPU * n_cpus, "session_s": session_s,
                "setup_times_s": setup_times, "warm_s": warm_s, **s.hashes}
        if trace:
            metrics = traced_spark(s, ops, schema, spans_path)
            return ops, metrics, info

        enc, dec = Timings(), Timings()
        start = time.perf_counter()
        while True:
            gc.collect()
            ops.run(encode_op, None, enc)
            ops.run(decode_op, is_source, dec)
            s.lookups.run(ops, LOOKUPS_PER_ROUND)
            if time.perf_counter() - start >= seconds:
                break
        metrics = end_to_end(info, setup_s, raw, stored, s.lookups.latency_s,
                             procstat.peak_worker_rss_mb(), enc, dec)
        return ops, metrics, info
    finally:
        stop_spark(spark)


def traced_spark(s: SparkSetup, ops: Ops, schema, spans_path: Path) -> dict:
    """Ablation ladder for the layers Spark owns, then a one-thread replay
    of ``encode_chunk`` / ``decode_chunk_arrays`` over the same partitions
    and the lookup client, with every engine layer wrapped."""
    from orc_rust_spark.operators.decode import decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table

    tracer = Tracer()
    section_wall = 0.0
    steps = {
        "scan": (lambda: noop(s.src), None),
        "identity": (lambda: noop(s.src.mapInArrow(_identity, schema)), None),
        "encode": (lambda: noop(encode_table(s.src, plan=s.plan)), None),
        "roundtrip": (lambda: digest(decode_table_arrow(
            encode_table(s.src, plan=s.plan), schema, co_locate=False)),
            lambda d: d == s.src_digest),
    }
    ladder: dict[str, list[float]] = {k: [] for k in steps}
    for _ in range(LADDER_REPS):
        for step, (fn, check) in steps.items():
            t0 = time.perf_counter()
            with tracer.span(f"spark.ladder.{step}"):
                ladder[step].append(ops.run(fn, check)[1])
            section_wall += time.perf_counter() - t0
    med = {k: median(v) for k, v in ladder.items()}

    col_kinds = {f.name: f.dataType for f in schema.fields}
    with traced_engine(tracer):
        traced = replay(ops, s.parts, s.plan, col_kinds)
        opens0 = tracer.counts["sources.fsio.opens"]
        read0 = tracer.counts["sources.fsio.bytes_read"]
        section_wall += traced + s.lookups.run(ops, TRACED_LOOKUPS)
    untraced = replay(ops, s.parts, s.plan, col_kinds)
    spark_layers = {
        "spark.scan.s": med["scan"],
        "spark.arrow_boundary.s": med["identity"] - med["scan"],
        "spark.encode_stage.s": med["encode"] - med["identity"],
        "spark.decode_stage.s": med["roundtrip"] - med["encode"],
        "spark.ladder_s": sum(tracer.self_s[f"spark.ladder.{k}"] for k in steps),
    }
    tracer.write(spans_path)
    return layer_metrics(tracer, section_wall, traced / untraced - 1.0,
                         s.plan_s, opens0, read0, spark_layers)


def replay(ops: Ops, parts: list, plan: dict, col_kinds: dict) -> float:
    """``encode_chunk`` then ``decode_chunk_arrays`` over each partition on
    this thread, checking the decoded rows against the partition; -> wall
    seconds of the engine calls and the stream-row glue between them."""
    from orc_rust_spark.operators import decode, encode

    wall = 0.0
    for i, part in enumerate(parts):
        wall += ops.run(
            lambda: decode.decode_chunk_arrays(
                encode.encode_chunk(part, i, 0, plan).to_pylist(), col_kinds),
            lambda arrays: same_rows(pa.table(arrays), part))[1]
    return wall


# --- orc_lookup --------------------------------------------------------------


def run_orc_workload(seed: int, seconds: float, trace: bool, work: Path,
                     spans_path: Path, n_rows: int | None = None) -> tuple[Ops, dict, dict]:
    """-> (ops, metrics, info) for orc_lookup (no Spark)."""
    from orc_rust_spark.sources import orc_file

    n_rows = n_rows or ROWS["orc_lookup"]
    key = LOOKUP_KEY["orc_lookup"]
    ops = Ops()
    path = work / "lineitem.orc"

    def write_op():
        orc_file.write_orc(table, str(path), compression=ORC_COMPRESSION, bloom_columns=[key])

    def scan_op():
        return orc_file.orc_to_table(str(path))

    def is_source(t):
        return same_rows(t, table)

    # each set-up repetition ends with a warm-up (the write is in
    # lookup_client), so set-up is the median of whole repetitions
    setup_times, hashes = [], set()
    for _ in range(1 if trace else SETUP_REPS["orc_lookup"]):
        t0 = time.perf_counter()
        table = inputs.lineitem_table(seed, n_rows)
        raw = engine_raw_bytes(table)
        lookups = lookup_client(table, key, seed, path)
        ops.run(scan_op, is_source)
        lookups.run(ops, 8)
        lookups.latency_s.clear()
        lookups.next_probe = 0
        setup_times.append(time.perf_counter() - t0)
        hashes.add((inputs.content_hash(table), inputs.keys_hash(lookups.probes)))
    if len(hashes) != 1:
        raise RuntimeError(f"set-up is not deterministic: {hashes}")
    setup_s = median(setup_times)
    table_hash, probes_hash = hashes.pop()
    info = {"rows": n_rows, "raw_bytes": raw, "stored_bytes": os.path.getsize(path),
            "setup_times_s": setup_times, "table": table_hash, "probes": probes_hash}

    if trace:
        tracer = Tracer()
        with traced_engine(tracer):
            traced_wall = ops.run(write_op)[1] + ops.run(scan_op, is_source)[1]
            opens0 = tracer.counts["sources.fsio.opens"]
            read0 = tracer.counts["sources.fsio.bytes_read"]
            traced_wall += lookups.run(ops, TRACED_LOOKUPS)
        tracer.write(spans_path)
        lookups.next_probe = 0
        untraced = ops.run(write_op)[1] + ops.run(scan_op, is_source)[1]
        untraced += lookups.run(ops, TRACED_LOOKUPS)
        return ops, layer_metrics(tracer, traced_wall, traced_wall / untraced - 1.0,
                                  0.0, opens0, read0, {}), info

    write, scan = Timings(), Timings()
    start = time.perf_counter()
    while True:
        gc.collect()
        ops.run(write_op, None, write)
        for _ in range(SCANS_PER_ROUND):
            ops.run(scan_op, is_source, scan)
        lookups.run(ops, LOOKUPS_PER_ROUND)
        if time.perf_counter() - start >= seconds:
            break
    metrics = end_to_end(info, setup_s, raw, os.path.getsize(path), lookups.latency_s,
                         procstat.peak_rss_mb(os.getpid()), write, scan)
    return ops, metrics, info


def end_to_end(info: dict, setup_s: float, raw: int, stored: int, latency_s: list,
               rss_mb: float, encode: Timings, decode: Timings) -> dict:
    """End-to-end metrics from the encode and decode timings. Throughput is
    gated as process-tree CPU seconds per GB, which CPU steal on a shared
    host moves far less than wall time; the wall-clock MB/s, the lookup p95
    and every sample go to ``info``."""
    gb = raw / 1e9
    info.update(rounds=len(encode.wall), lookups=len(latency_s),
                lookup_p95_ms=p95(latency_s) * 1e3,
                wall_mb_s={"encode": raw / 1e6 / median(encode.wall),
                           "decode": raw / 1e6 / median(decode.wall)},
                wall_s={"encode": [round(x, 3) for x in encode.wall],
                        "decode": [round(x, 3) for x in decode.wall]},
                cpu_s={"encode": [round(x, 3) for x in encode.cpu],
                       "decode": [round(x, 3) for x in decode.cpu]})
    return {
        "setup_s": setup_s,
        "encode_cpu_s_per_gb": median(encode.cpu) / gb,
        "decode_cpu_s_per_gb": median(decode.cpu) / gb,
        "stored_per_raw": stored / raw,
        "lookup_p50_ms": median(latency_s) * 1e3,
        "peak_worker_rss_mb": rss_mb,
    }


# --- per-layer metrics -------------------------------------------------------


def layer_metrics(tracer: Tracer, wall: float, overhead: float, plan_s: float,
                  opens0: float, read0: float, spark_layers: dict) -> dict:
    """Per-layer metrics of a traced run; layers a workload does not run
    report 0. Times ending in ``self_s`` or named after a leaf layer are
    self times, so they and ``trace.uncovered_frac`` add up to the traced
    wall."""
    c, self_s, total_s, calls = tracer.counts, tracer.self_s, tracer.total_s, tracer.calls

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    lookups = c["sources.orc_file.lookups"]
    out = {
        "spark.scan.s": 0.0, "spark.arrow_boundary.s": 0.0,
        "spark.encode_stage.s": 0.0, "spark.decode_stage.s": 0.0, "spark.ladder_s": 0.0,
        **spark_layers,
        "operators.encode.s": total_s["operators.encode"],
        "operators.encode.self_s": self_s["operators.encode"],
        "operators.encode.calls": calls["operators.encode"],
        "operators.encode.raw_bytes": c["operators.encode.raw_bytes"],
        "codecs.block.compress_s": self_s["codecs.block.compress"],
        "codecs.block.decompress_s": self_s["codecs.block.decompress"],
        "codecs.block.bytes_in": c["codecs.block.bytes_in"],
        "codecs.block.bytes_out": c["codecs.block.bytes_out"],
        "codecs.block.blocks": c["codecs.block.blocks"],
        "codecs.block.original_frac": ratio(c["codecs.block.original_blocks"],
                                            c["codecs.block.blocks"]),
        "codecs.rle_v2.encode_s": self_s["codecs.rle_v2.encode"],
        "codecs.rle_v2.decode_s": self_s["codecs.rle_v2.decode"],
        "codecs.rle_v2.values_encoded": c["codecs.rle_v2.values_encoded"],
        "codecs.rle_v2.values_decoded": c["codecs.rle_v2.values_decoded"],
        "codecs.selector.s": self_s["codecs.selector"],
        "codecs.selector.fsst_trials": c["codecs.selector.fsst_trials"],
        "codecs.selector.fsst_win_frac": ratio(c["codecs.selector.fsst_wins"],
                                               c["codecs.selector.fsst_trials"]),
        "codecs.fsst.encode_s": self_s["codecs.fsst.encode"],
        "codecs.string_codec.dict_s": self_s["codecs.string_codec.dict"],
        "codecs.timestamp_split.s": self_s["codecs.timestamp_split"],
        "operators.decode.s": total_s["operators.decode"],
        "operators.decode.self_s": self_s["operators.decode"],
        "plans.pipeline.plan_codecs_s": plan_s,
        "sources.orc_file.write_s": total_s["sources.orc_file.write"],
        "sources.orc_file.write_self_s": self_s["sources.orc_file.write"],
        "sources.orc_file.scan_self_s": self_s["sources.orc_file.scan"],
        "sources.orc_file.lookup_self_s": self_s["sources.orc_file.lookup"],
        "sources.orc_file.read_metadata_s": self_s["sources.orc_file.read_metadata"],
        "sources.orc_file.read_metadata_calls": calls["sources.orc_file.read_metadata"],
        "sources.orc_file.decode_stripe_s": self_s["sources.orc_file.decode_stripe"],
        "sources.orc_file.stripes_kept_frac": ratio(c["sources.orc_file.stripes_kept"],
                                                    c["sources.orc_file.stripes_total"]),
        "sources.orc_file.groups_decoded_frac": ratio(c["sources.orc_file.groups_decoded"],
                                                      c["sources.orc_file.groups_total"]),
        "sources.fsio.bytes_read_per_lookup": ratio(c["sources.fsio.bytes_read"] - read0, lookups),
        "sources.fsio.opens_per_lookup": ratio(c["sources.fsio.opens"] - opens0, lookups),
        "codecs.bloom.groups_decoded_per_miss": ratio(c["codecs.bloom.miss_groups_decoded"],
                                                      c["codecs.bloom.misses"]),
        "trace.wall_s": wall,
        "trace.overhead_frac": overhead,
        "trace.uncovered_frac": 1.0 - tracer.root_time() / wall,
    }
    return out


def run(name: str, seed: int, seconds: float, trace: bool) -> tuple[Ops, dict, dict]:
    """Run one workload in a fresh work directory, removed afterwards.
    A traced run leaves its spans in ``.perfbench_work/traces/``."""
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; choose one of {WORKLOADS}")
    work = WORK / f"{name}-{seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    spans_path = WORK / "traces" / f"{name}-seed{seed}.jsonl"
    spans_path.parent.mkdir(parents=True, exist_ok=True)
    try:
        if name == "orc_lookup":
            return run_orc_workload(seed, seconds, trace, work, spans_path)
        return run_spark_workload(seed, seconds, trace, work, spans_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)

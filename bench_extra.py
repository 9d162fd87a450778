#!/usr/bin/env python
"""Round-8 optimization measurement harness (guide §1) — bench.py is
FROZEN for the driver's measurement, so per-query isolation, sf1-proxy
timing, and .explain("formatted") capture live here.

Usage:
  python bench_extra.py --sf /root/testdata/sf0.1 --queries ann_cosine_topk
  python bench_extra.py --build-sf1            # derive the sf1 proxy
  python bench_extra.py --sf /tmp/orc_rust_spark_sf1_r8 \
      --queries minhash_dedup_clusters --reps 2 \
      --explain plans/r08 --suffix before

Timing protocol matches bench.py's per-query loop (fn + collect,
min of reps) so numbers are comparable; each query is additionally
labeled with setJobDescription for UI attribution.

  python bench_extra.py --lookup-blocks --seed 1 [--workload orc_lookup]

rebuilds a perfbench lookup file (webtext_encode's 4,000-row slice by
default) in a temp directory, runs its probes through orc_point_lookup,
checks every result against the source rows, and prints the compression
blocks and uncompressed bytes decompressed per cold lookup (the file's
pooled data dropped first) for each (column, stream) of the data
streams, then the blocks per lookup of a second, warm sweep over the
decoded-data pool. No Spark.

  python bench_extra.py --lookup-cost --seed 1 [--workload orc_lookup] [--reps 3]
      [--probe-column l_linenumber] [--cold]

rebuilds the same lookup file, checks every probe's rows, then runs the
probes ``--reps`` times and prints the median and 90th percentile CPU
per lookup (``total``, ``total_p90``) and the median split by self time
into block decompression, RLEv2 reads (``decode_rlev2``), stripe and
row-group pruning (``orc_file.keep_mask``), the key phase (the probed
column's read and comparisons, ``orc_file._key_mask``) and the rest,
plus per lookup the block decompressions, the RLEv2 calls, the pieces
decoded whole (``orc_file._build_piece``) and the file reads (a
phase's ranges, one read each), and the decoded-data pool's counters
(``orc_file.pool_stats``) with its bytes and entries by kind: a piece's
form (for, codes, scaled, dense, present) or dict and block.
These lookups are warm: the checking sweep has filled the pool.
``--cold`` also prints the same split and counts of cold lookups, each
timed after the file's pooled data is dropped.
``--probe-column`` probes the first 8 distinct values of another column
instead of the workload's key: on a low-cardinality column each lookup
matches thousands of rows per group (a dense point read). No Spark, no
profiler.

  python bench_extra.py --python-task-cost [--reps 9]

starts a session from ``get_spark`` (``local[$SPARK_GRAFT_CPUS]``) and
times the fixed cost of a Python task: ``spark.range(0, 4, 1, 4)``
through an identity ``mapInArrow`` into the ``noop`` sink. It prints the
process-tree CPU per query and the Python workers' CPU per task, as
medians over the runs after two warm-up queries.

  python bench_extra.py --decode-path --seed 1 [--reps 9]

rebuilds perfbench's webtext_encode stored chunk table in a temp
directory (``local[$SPARK_GRAFT_CPUS]``, as perfbench) and prints the
path ``decode_table_arrow`` takes on it with the reason, then the median
process-tree CPU of that decode and of the plan it replaces
(repartition + sortWithinPartitions on the chunk key, then a map-only
decode), alternating the two after one warm-up round of each. Every
decode is checked against the source digest.

  python bench_extra.py --encode-split --seed 1 [--reps 7]

rebuilds perfbench's webtext_encode source in a temp directory
(``local[$SPARK_GRAFT_CPUS]``, as perfbench) and prints the CPU seconds of
its encode operation (``encode_table`` into the noop sink) by process:
the JVM, the PySpark workers (read through ``perfbench/procstat``) and
this driver, as medians over the runs after three warm-ups, and the input
the encode's plan reads (``FileSourceScanExec`` for the JVM's parquet
scan, ``RangeExec`` when the workers read the files).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/orc_rust_spark_sf1_r8")
SHARDS = 10


def build_sf1(spark) -> None:
    """Deterministic sf1 proxy derived from the read-only sf0.1 tables —
    the same shard-rotate derivation as scripts/sf1_bench.py, extended
    with the events table so every driver query runs at the proxy scale."""
    from pyspark.sql import functions as F

    os.makedirs(SF1_DIR, exist_ok=True)

    def documents_shard(df, i):
        df = df.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        if i == 0:
            return df
        words = F.split(F.col("text"), " ")
        return df.withColumn(
            "text",
            F.array_join(
                F.concat(F.slice(words, i + 1, 1_000_000),
                         F.slice(words, 1, i)), " "),
        )

    jobs = {
        "lineitem": lambda df, i: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * 10_000_000)),
        "documents": documents_shard,
        "events": lambda df, i: df.withColumn(
            "event_id", F.col("event_id") + F.lit(i * 100_000_000)),
        "embeddings": lambda df, i: df.withColumn(
            "vec_id", F.col("vec_id") + F.lit(i * 1_000_000)
        ).withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, p: (x + 0.07 * i * F.cos(
                    p.cast("double") * (i + 1) + F.col("vec_id") % 97
                )).cast("float"),
            ),
        ),
    }
    for table, shard_fn in jobs.items():
        out = os.path.join(SF1_DIR, f"{table}.parquet")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            continue
        src = spark.read.parquet(f"{SF01}/{table}.parquet")
        parts = [shard_fn(src, i) for i in range(SHARDS)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(64).write.mode("overwrite").parquet(out)
        print(f"built {out}", file=sys.stderr)


def _drop_pool(of, path: str) -> None:
    """Empty the decoded-data pool of ``path``'s cached reader, which
    keeps its parsed metadata and goes on pooling."""
    name = os.path.abspath(path)
    with of._READERS_LOCK:
        readers = [r for key, r in of._READERS.items() if key[1] == name]
    for reader in readers:
        of._POOL.drop(reader, retire=False)


def _pool_contents(of) -> dict:
    """The decoded-data pool's bytes and entries by kind: a piece's form
    (for, codes, scaled, dense, present), or dict and block."""
    held: dict[str, int] = {}
    entries: dict[str, int] = {}
    with of._POOL._lock:
        for key, (value, size) in of._POOL._items.items():
            kind = value.kind if key[2] == "piece" else key[2]
            held[kind] = held.get(kind, 0) + size
            entries[kind] = entries.get(kind, 0) + 1
    return {"bytes_by_kind": held, "entries_by_kind": entries}


def lookup_blocks(seed: int, workload: str) -> dict:
    """Blocks and bytes the data streams decompress per cold point lookup
    on the perfbench ``workload``'s lookup file, by (column, stream), and
    the blocks per lookup of a warm sweep."""
    import tempfile
    from collections import defaultdict

    from orc_rust_spark.sources import orc_file as of
    from perfbench import workloads as wl

    kinds = {v: k[2:] for k, v in vars(of).items()
             if k.startswith("S_") and isinstance(v, int)}
    got: dict = defaultdict(lambda: [0, 0])
    real = of._block_at

    def counting(raw, comp, pos, cache, ckey):
        fresh = (ckey, pos) not in cache
        out = real(raw, comp, pos, cache, ckey)
        if fresh:
            got[ckey][0] += 1
            got[ckey][1] += len(out[0])
        return out

    def sweep(cold: bool) -> None:
        for probe, _ in client.probes:
            if cold:
                _drop_pool(of, client.path)
            rows = of.orc_point_lookup(client.path, client.key, probe)[0]
            if not wl.same_rows(rows, client.rows(probe)):
                raise SystemExit(f"lookup of {probe!r} returned wrong rows")

    with tempfile.TemporaryDirectory() as work:
        client = _lookup_file(seed, workload, work)
        of._block_at = counting
        try:
            sweep(cold=True)
            cold = {ckey: tuple(v) for ckey, v in got.items()}
            sweep(cold=False)
        finally:
            of._block_at = real
        meta = of.read_metadata(client.path)
    names = dict(enumerate(meta.types[0].field_names, start=1))
    n = len(client.probes)
    warm = sum(b for b, _ in got.values()) - sum(b for b, _ in cold.values())
    per = {f"{names.get(cid, cid)}.{kinds[kind]}":
           {"blocks": round(b / n, 2), "mb": round(nb / n / 1e6, 3)}
           for (cid, kind), (b, nb) in sorted(cold.items())}
    return {"workload": workload, "seed": seed, "lookups": n,
            "block_size": meta.block_size, "writer": meta.software,
            "blocks_per_lookup": round(sum(b for b, _ in cold.values()) / n, 2),
            "mb_per_lookup": round(sum(nb for _, nb in cold.values()) / n / 1e6, 3),
            "streams": per, "warm_blocks_per_lookup": round(warm / n, 2)}


def _lookup_file(seed: int, workload: str, work: str, column: str = ""):
    """The perfbench ``workload``'s lookup client, its file written under
    ``work``; with ``column``, a client that probes that column's first 8
    distinct values."""
    from pathlib import Path

    import pyarrow.compute as pc

    from perfbench import inputs, workloads as wl

    if workload == "webtext_encode":
        table = inputs.webtext_table(seed, wl.ROWS[workload]).slice(
            0, wl.LOOKUP_SLICE_ROWS)
    else:
        table = inputs.lineitem_table(seed, wl.ROWS[workload])
    client = wl.lookup_client(table, wl.LOOKUP_KEY[workload], seed,
                              Path(work) / "lookup.orc")
    if not column:
        return client
    values = pc.unique(table.column(column)).to_pylist()[:8]
    return wl.Lookups(client.path, column, [(v, True) for v in values],
                      lambda v: table.filter(pc.equal(table.column(column), v)))


def lookup_cost(seed: int, workload: str, reps: int, column: str = "",
                cold: bool = False) -> dict:
    """Median and 90th percentile CPU per warm point lookup on the
    perfbench ``workload``'s lookup file (probing ``column`` if given,
    else the workload's key), the median split by self time into block
    decompression, RLEv2 reads, pruning (keep_mask), the key phase (the
    probed column's read and comparisons) and the rest; the block decompressions, RLEv2 calls,
    whole-piece decodes and file reads per lookup; and the pool's
    counters and contents. With ``cold``, the same of lookups each made
    after the file's pooled data is dropped."""
    import tempfile

    from orc_rust_spark.codecs import block as blockc
    from orc_rust_spark.sources import orc_file as of
    from perfbench import workloads as wl

    clock = time.process_time
    self_s: dict[str, float] = {}
    calls: dict[str, int] = {}
    stack: list[list] = []  # [part, start] of the open wrapped calls

    def timed(fn, part):
        def run(*args, **kwargs):
            now = clock()
            own = part
            if stack:
                outer = stack[-1]
                self_s[outer[0]] = self_s.get(outer[0], 0.0) + now - outer[1]
                if part == "rest" and outer[0] == "key":
                    # the rest of the key phase (its column's read) is key
                    own = "key"
            calls[own] = calls.get(own, 0) + 1
            frame = [own, now]
            stack.append(frame)
            try:
                return fn(*args, **kwargs)
            finally:
                end = clock()
                self_s[own] = self_s.get(own, 0.0) + end - frame[1]
                stack.pop()
                if stack:
                    stack[-1][1] = end
        return run

    # the point reads open their own part; a key phase that reads its
    # column as an Arrow array (_decode_column_rows) keeps it as key
    targets = [(blockc, "decompress_stream", "decompress"),
               (of, "decode_rlev2", "rlev2"), (of, "_eq_mask", "key"),
               (of, "keep_mask", "prune"), (of, "_key_mask", "key"),
               (of, "_decode_column_rows", "rest")]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in targets] + [
        (of, "_build_piece", of._build_piece), (of, "_span_reader", of._span_reader)]

    def counted(fn, what):
        def run(*args, **kwargs):
            calls[what] = calls.get(what, 0) + 1
            return fn(*args, **kwargs)
        return run

    def span_reader(fh, offset):
        return counted(saved[-1][2](fh, offset), "file_reads")

    def split(drop: bool) -> tuple[dict, dict]:
        per_lookup: dict[str, list[float]] = {k: [] for k in (
            "total", "decompress", "rlev2", "prune", "key", "rest")}
        # reported name -> the ``calls`` counter it reads
        counted_as = {"decompress_calls": "decompress", "rlev2_calls": "rlev2",
                      "piece_decodes": "piece_decodes", "file_reads": "file_reads"}
        counts: dict[str, list[int]] = {k: [] for k in counted_as}
        for _ in range(reps):
            for probe, _ in client.probes:
                if drop:
                    _drop_pool(of, client.path)
                self_s.clear()
                calls.clear()
                lookup(client.path, client.key, probe)
                for part in ("decompress", "rlev2", "prune", "key", "rest"):
                    per_lookup[part].append(self_s.get(part, 0.0))
                per_lookup["total"].append(sum(self_s.values()))
                for what, counter in counted_as.items():
                    counts[what].append(calls.get(counter, 0))
        cpu = {k: round(statistics.median(v) * 1e3, 3) for k, v in per_lookup.items()}
        cpu["total_p90"] = round(statistics.quantiles(per_lookup["total"], n=10)[-1] * 1e3, 3)
        return (cpu,
                {f"{k}_per_lookup": round(statistics.mean(v), 2) for k, v in counts.items()})

    out: dict = {}
    with tempfile.TemporaryDirectory() as work:
        client = _lookup_file(seed, workload, work, column)
        for probe, _ in client.probes:
            rows = of.orc_point_lookup(client.path, client.key, probe)[0]
            if not wl.same_rows(rows, client.rows(probe)):
                raise SystemExit(f"lookup of {probe!r} returned wrong rows")
        for mod, name, part in targets:
            setattr(mod, name, timed(getattr(mod, name), part))
        of._build_piece = counted(of._build_piece, "piece_decodes")
        # the file's spans read: one seek and read each (a file's tail and
        # stripe indexes are read by a reader's first lookups alone)
        of._span_reader = span_reader
        lookup = timed(of.orc_point_lookup, "rest")
        try:
            out["cpu_ms_per_lookup"], out["warm"] = split(False)
            out["pool"] = {**of.pool_stats(), **_pool_contents(of)}
            if cold:
                out["cold_cpu_ms_per_lookup"], out["cold"] = split(True)
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)
    return {"workload": workload, "seed": seed, "column": client.key,
            "lookups": len(client.probes), "reps": reps,
            "pool_bytes_cap": of.POOL_BYTES, **out}


def _identity(batches):
    return batches


def python_task_cost(reps: int) -> dict:
    """CPU of a trivial 4-task Python stage: the whole process tree per
    query, and the PySpark workers' share per task."""
    from orc_rust_spark.session import get_spark
    from perfbench import procstat

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark = get_spark("bench-extra-task-cost", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tasks = 4
    df = spark.range(0, tasks, 1, tasks).mapInArrow(_identity, "id long")

    def python_cpu() -> dict[int, float]:
        return {p: procstat.cpu_seconds(p) for p in procstat.python_workers()}

    query, per_task, workers = [], [], set()
    try:
        for i in range(2 + reps):
            w0, c0 = python_cpu(), procstat.tree_cpu_seconds()
            df.write.format("noop").mode("overwrite").save()
            c1, w1 = procstat.tree_cpu_seconds(), python_cpu()
            if i >= 2:
                query.append(c1 - c0)
                per_task.append(sum(v - w0.get(p, 0.0)
                                    for p, v in w1.items()) / tasks)
                workers |= set(w1)
    finally:
        spark.stop()
    return {"reps": reps, "tasks_per_query": tasks,
            "python_processes": len(workers),
            "query_cpu_s": round(statistics.median(query), 3),
            "worker_cpu_s_per_task": round(statistics.median(per_task), 3),
            "query_cpu_s_runs": [round(x, 3) for x in query]}


def decode_path(seed: int, reps: int) -> dict:
    """Path and CPU of ``decode_table_arrow`` on the webtext_encode stored
    chunk table, against the repartition + sort plan it replaces."""
    import tempfile
    from pathlib import Path

    from orc_rust_spark.operators.decode import chunk_layout, decode_table_arrow
    from orc_rust_spark.operators.encode import encode_table
    from perfbench import procstat, workloads as wl

    keys = ("part_id", "chunk_ord")
    with tempfile.TemporaryDirectory() as tmp:
        work = Path(tmp)
        cpus = wl.cpus()
        spark = wl.start_spark(work, cpus)
        try:
            s = wl.spark_inputs(spark, seed, work, wl.ROWS["webtext_encode"],
                                wl.PARTS_PER_CPU * cpus)
            encode_table(s.src, plan=s.plan).write.parquet(str(work / "chunks"))
            chunks = spark.read.parquet(str(work / "chunks"))
            schema = s.src.schema
            map_only, reason = chunk_layout(chunks, keys)
            plans = {
                "proven": lambda: decode_table_arrow(chunks, schema),
                "shuffle": lambda: decode_table_arrow(
                    chunks.repartition(*keys).sortWithinPartitions(*keys),
                    schema, co_locate=False),
            }
            cpu: dict[str, list[float]] = {name: [] for name in plans}
            for i in range(1 + reps):
                for name in (list(plans) if i % 2 else list(plans)[::-1]):
                    c0 = procstat.tree_cpu_seconds()
                    got = wl.digest(plans[name]())
                    c1 = procstat.tree_cpu_seconds()
                    if got != s.src_digest:
                        raise SystemExit(f"{name} decode digest {got} != source {s.src_digest}")
                    if i:
                        cpu[name].append(c1 - c0)
            files = len(chunks.inputFiles())
            partitions = chunks.rdd.getNumPartitions()
        finally:
            wl.stop_spark(spark)
    return {"seed": seed, "reps": reps, "files": files, "partitions": partitions,
            "path": "map-only" if map_only else "shuffle", "reason": reason,
            "cpu_s": {name: round(statistics.median(xs), 3) for name, xs in cpu.items()},
            "cpu_s_runs": {name: [round(x, 3) for x in xs] for name, xs in cpu.items()}}


def encode_split(seed: int, reps: int) -> dict:
    """Per-process CPU of perfbench's webtext_encode encode operation
    (``encode_table`` into the noop sink): the JVM's, the PySpark
    workers' and this driver's, as medians over ``reps`` runs after three
    warm-up runs."""
    import tempfile
    from pathlib import Path

    from pyspark import SparkContext

    from orc_rust_spark.operators.encode import encode_table
    from perfbench import procstat, workloads as wl

    with tempfile.TemporaryDirectory() as tmp:
        work = Path(tmp)
        cpus = wl.cpus()
        spark = wl.start_spark(work, cpus)
        try:
            s = wl.spark_inputs(spark, seed, work, wl.ROWS["webtext_encode"],
                                wl.PARTS_PER_CPU * cpus)
            jvm = SparkContext._gateway.proc.pid

            def sample() -> tuple:
                workers = sum(procstat.cpu_seconds(p) for p in procstat.python_workers())
                return (procstat.cpu_seconds(jvm), workers, time.process_time(),
                        time.perf_counter())

            runs: dict[str, list[float]] = {"jvm": [], "python_workers": [],
                                            "driver": [], "wall": []}
            for i in range(3 + reps):
                before = sample()
                wl.noop(encode_table(s.src, plan=s.plan))
                after = sample()
                if i >= 3:
                    for k, a, b in zip(runs, before, after):
                        runs[k].append(b - a)
            plan = encode_table(s.src, plan=s.plan)._jdf.queryExecution().executedPlan()
            leaf = plan.collectLeaves().apply(0).getClass().getSimpleName()
        finally:
            wl.stop_spark(spark)
    med = {k: round(statistics.median(v), 3) for k, v in runs.items()}
    return {"seed": seed, "reps": reps, "input": leaf, "cpu_s": {
        "jvm": med["jvm"], "python_workers": med["python_workers"],
        "driver": med["driver"], "total": round(med["jvm"] + med["python_workers"]
                                                + med["driver"], 3)},
        "wall_s": med["wall"],
        "runs": {k: [round(x, 3) for x in v] for k, v in runs.items()}}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lookup-blocks", action="store_true",
                    help="print the blocks decompressed per point lookup")
    ap.add_argument("--lookup-cost", action="store_true",
                    help="print the CPU per point lookup, split by layer")
    ap.add_argument("--python-task-cost", action="store_true",
                    help="print the CPU of a trivial 4-task Python stage")
    ap.add_argument("--decode-path", action="store_true",
                    help="print the stored-table decode path and its CPU")
    ap.add_argument("--encode-split", action="store_true",
                    help="print the JVM's and the Python workers' CPU of one webtext encode")
    ap.add_argument("--probe-column", default="",
                    help="with --lookup-cost: probe this column, not the key")
    ap.add_argument("--cold", action="store_true",
                    help="with --lookup-cost: also time lookups on an emptied pool")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", default="webtext_encode",
                    choices=["webtext_encode", "orc_lookup"])
    ap.add_argument("--sf", default=SF01)
    ap.add_argument("--queries", default="")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--build-sf1", action="store_true")
    ap.add_argument("--warm", action="store_true",
                    help="run entry.warm_caches first (bench.py protocol)")
    args = ap.parse_args()

    if args.lookup_blocks:
        print(json.dumps(lookup_blocks(args.seed, args.workload), indent=1))
        return
    if args.lookup_cost:
        print(json.dumps(lookup_cost(args.seed, args.workload, max(args.reps, 3),
                                     args.probe_column, args.cold),
                         indent=1))
        return
    if args.python_task_cost:
        print(json.dumps(python_task_cost(max(args.reps, 7))))
        return
    if args.decode_path:
        print(json.dumps(decode_path(args.seed, max(args.reps, 7))))
        return
    if args.encode_split:
        print(json.dumps(encode_split(args.seed, max(args.reps, 7))))
        return

    from orc_rust_spark.session import get_spark

    import __spark_entry__ as entry

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench-extra-r8", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if args.build_sf1:
        build_sf1(spark)
        spark.stop()
        return

    if args.warm:
        entry.warm_caches(spark, args.sf)

    wanted = [q for q in args.queries.split(",") if q]
    all_q = entry.queries()
    out: dict[str, float] = {}
    for name in wanted or all_q:
        fn = all_q[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf)
            with open(os.path.join(
                    args.explain, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        best = None
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"r8:{name}")
            t0 = time.time()
            df = fn(spark, args.sf)
            df.collect() if df.schema else None
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps({"sf_dir": args.sf, "reps": args.reps, "queries": out,
                      "total": round(sum(out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()

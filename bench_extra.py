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
blocks and uncompressed bytes decompressed per lookup for each (column,
stream) of the data streams. No Spark.

  python bench_extra.py --python-task-cost [--reps 9]

starts a session from ``get_spark`` (``local[$SPARK_GRAFT_CPUS]``) and
times the fixed cost of a Python task: ``spark.range(0, 4, 1, 4)``
through an identity ``mapInArrow`` into the ``noop`` sink. It prints the
process-tree CPU per query and the Python workers' CPU per task, as
medians over the runs after two warm-up queries.
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


def lookup_blocks(seed: int, workload: str) -> dict:
    """Blocks and bytes the data streams decompress per point lookup on
    the perfbench ``workload``'s lookup file, by (column, stream)."""
    import tempfile
    from collections import defaultdict
    from pathlib import Path

    from orc_rust_spark.sources import orc_file as of
    from perfbench import inputs, workloads as wl

    key = wl.LOOKUP_KEY[workload]
    if workload == "webtext_encode":
        table = inputs.webtext_table(seed, wl.ROWS[workload]).slice(
            0, wl.LOOKUP_SLICE_ROWS)
    else:
        table = inputs.lineitem_table(seed, wl.ROWS[workload])
    kinds = {v: k[2:] for k, v in vars(of).items()
             if k.startswith("S_") and isinstance(v, int)}
    names = {cid: name for name, cid in zip(table.column_names,
                                            range(1, table.num_columns + 1))}
    got: dict = defaultdict(lambda: [0, 0])
    real = of._block_at

    def counting(raw, comp, pos, cache, ckey):
        fresh = (ckey, pos) not in cache
        out = real(raw, comp, pos, cache, ckey)
        if fresh:
            got[ckey][0] += 1
            got[ckey][1] += len(out[0])
        return out

    with tempfile.TemporaryDirectory() as work:
        client = wl.lookup_client(table, key, seed, Path(work) / "lookup.orc")
        of._block_at = counting
        try:
            for probe, _ in client.probes:
                rows = of.orc_point_lookup(client.path, key, probe)[0]
                if not wl.same_rows(rows, client.rows(probe)):
                    raise SystemExit(f"lookup of {probe!r} returned wrong rows")
        finally:
            of._block_at = real
        meta = of.read_metadata(client.path)
    n = len(client.probes)
    per = {f"{names.get(cid, cid)}.{kinds[kind]}":
           {"blocks": round(b / n, 2), "mb": round(nb / n / 1e6, 3)}
           for (cid, kind), (b, nb) in sorted(got.items())}
    return {"workload": workload, "seed": seed, "lookups": n,
            "block_size": meta.block_size, "writer": meta.software,
            "blocks_per_lookup": round(sum(b for b, _ in got.values()) / n, 2),
            "mb_per_lookup": round(sum(nb for _, nb in got.values()) / n / 1e6, 3),
            "streams": per}


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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lookup-blocks", action="store_true",
                    help="print the blocks decompressed per point lookup")
    ap.add_argument("--python-task-cost", action="store_true",
                    help="print the CPU of a trivial 4-task Python stage")
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
    if args.python_task_cost:
        print(json.dumps(python_task_cost(max(args.reps, 7))))
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

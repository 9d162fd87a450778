"""SparkSession factory with the engine's required configuration.

- Arrow-batched UDF transport (the engine's in-flight representation)
- AQE on (runtime re-planning, skew-join handling)
- glibc malloc tuning exported to Python workers: this sandbox has very
  slow first-touch pages, so worker processes must reuse freed arenas
  instead of munmap-ing them (MALLOC_MMAP_THRESHOLD_/MALLOC_TRIM_THRESHOLD_).
- the Python daemon started through ``worker_daemon``: every PySpark task
  calls ``importlib.invalidate_caches()``, which on CPython 3.11 re-reads
  the central directory of every zip archive on the import path. With
  pyspark imported from ``pyspark.zip`` that re-read was most of a
  trivial task's CPU (~0.19 CPU-s per task on 4 vCPU). The wrapper skips
  archives whose (inode, size, mtime) are unchanged; without zip imports
  it changes nothing. The package's parent directory is put on the
  workers' PYTHONPATH, so the daemon module resolves from any driver cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package, for the workers' import path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "2147483648",
    "MALLOC_TRIM_THRESHOLD_": "2147483648",
    "MALLOC_TOP_PAD_": "268435456",
}

# rows per Arrow batch handed to pandas UDFs — the analog of the reference
# writer's 1024-row encode slices (src/arrow_writer.rs:50), scaled up since
# NumPy kernels amortize better over bigger batches
ARROW_BATCH_ROWS = 65536


def get_spark(
    app_name: str = "orc_rust_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    # export before the JVM forks so python workers inherit
    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # naive timestamps (webtext warc_ts, test fixtures) are
        # interpreted in the session timezone: pin it so generated
        # instants, encoded bytes, and stats are host-independent
        # (code-review r6)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE rewrite sort-merge to shuffled-hash when every
        # post-shuffle partition's build side fits locally (default 0 =
        # never): joins that attach array payloads (minhash verify)
        # otherwise SORT the heavy side; scale-adaptive — large builds
        # stay sort-merge (guide §3.1, r8)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "128m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # pre-touch the whole heap at JVM start: this sandbox's first-touch
        # pages are pathologically slow, so lazy heap growth mid-job would
        # serialize tasks (see BASELINE.md scaling notes)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('SPARK_DRIVER_MEMORY', '8g')} -XX:+AlwaysPreTouch "
            + os.environ.get("SPARK_DRIVER_EXTRA_JAVA", ""),
        )
        # 32 MiB input splits balanced best for the encode pipeline on this
        # box (see BASELINE.md scaling notes); still >= the 64 MiB stripe
        # threshold after arrow expansion
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.daemon.module", "orc_rust_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # let Catalyst push filters into our Python DataSource (orcx)
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k in MALLOC_ENV:
        # mirror the DRIVER-side resolution (setdefault keeps a user
        # override): executors must see the same malloc tuning the user
        # asked for, not the hardcoded default (code-review r6)
        builder = builder.config(f"spark.executorEnv.{k}", os.environ[k])
    return builder.getOrCreate()

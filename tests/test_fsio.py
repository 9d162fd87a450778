"""The engine's ORC IO through a NON-local filesystem (VERDICT r6
missing #1 / next #2): every byte the reader, writer, orcx datasource,
and stream reader move must go through the fsio seam — the reference's
ChunkReader contract (src/reader/mod.rs:27-46,163-203) — so object-store
URLs work wherever a local path works.

The non-local backend here is a pyarrow SubTreeFileSystem mounted under
a test scheme (``subfs://``). Its paths are NOT valid OS paths (they are
subtree-relative), so any remaining builtin ``open()``/``glob`` call on
a path from this filesystem fails loudly instead of silently passing —
and the fs object pickles, so it rides Spark task closures into real
executors exactly like an S3FileSystem would."""

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orc_rust_spark.sources import fsio
from orc_rust_spark.sources import orc_file as of

SCHEME = "subfs"


@pytest.fixture()
def subfs(tmp_path):
    import pyarrow.fs as pafs

    fs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    fsio.register_filesystem(SCHEME, fs)
    yield fs
    fsio.unregister_filesystem(SCHEME)


def _table(n=25_000):
    import numpy as np

    rng = np.random.default_rng(11)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array([f"page {i} body text" for i in range(n)]),
        "lang": pa.array(rng.choice(["en", "de", "fr"], n).tolist()),
    })


def test_resolve_coordinate_rules(subfs):
    assert fsio.resolve("/a/b.orc") == (None, "/a/b.orc")
    assert fsio.resolve("file:///a/b.orc") == (None, "/a/b.orc")
    fs, p = fsio.resolve(f"{SCHEME}://x/y.orc")
    assert fs is subfs and p == "x/y.orc"
    assert fsio.is_uri("s3://b/k") and not fsio.is_uri("/b/k")
    assert fsio.join(f"{SCHEME}://x", "a", "b.orc") == f"{SCHEME}://x/a/b.orc"
    assert fsio.join("x/y", "a.orc") == "x/y/a.orc"


def test_unknown_scheme_routes_to_pyarrow_from_uri():
    with pytest.raises(Exception):  # pyarrow: unrecognized/unsupported URI
        fsio.resolve("no-such-scheme-xyz://bucket/key")


def test_write_read_roundtrip_through_subfs(subfs):
    tbl = _table()
    fsio.makedirs("corpus", subfs)
    uri = f"{SCHEME}://corpus/part-0.orc"
    of.write_orc(tbl, uri, compression="zstd",
                 bloom_columns=["doc_id"])
    # tail parse, full decode, and point lookup all through the fs
    meta = of.read_metadata(uri)
    assert meta.number_of_rows == tbl.num_rows
    back = of.orc_to_table(uri)
    assert back.cast(tbl.schema).equals(tbl)
    hit, decoded, total = of.orc_point_lookup(uri, "doc_id", 12345)
    assert hit.num_rows == 1 and hit.column("doc_id")[0].as_py() == 12345
    assert decoded < total  # bloom/stats pruning still works through fs
    # and the bytes on the backing store really are ORC
    import pyarrow.orc as paorc
    assert paorc.ORCFile(
        subfs.open_input_file("corpus/part-0.orc")).nrows == tbl.num_rows


def test_expand_paths_lists_directories_through_subfs(subfs):
    tbl = _table(1000)
    fsio.makedirs("d", subfs)
    of.write_orc(tbl.slice(0, 500), f"{SCHEME}://d/a.orc")
    of.write_orc(tbl.slice(500), f"{SCHEME}://d/b.orc")
    subfs.open_output_stream("d/ignored.txt").close()
    fs, paths = of.resolve_scan(f"{SCHEME}://d")
    assert fs is subfs and paths == ["d/a.orc", "d/b.orc"]
    with pytest.raises(NotImplementedError):
        of.resolve_scan(f"{SCHEME}://d/*.orc")  # no globs on object stores


def test_orc_scan_through_subfs_in_spark_executors(spark, subfs):
    tbl = _table()
    fsio.makedirs("scan", subfs)
    of.write_orc(tbl, f"{SCHEME}://scan/p0.orc", stripe_rows=5_000)
    of.write_orc(tbl, f"{SCHEME}://scan/p1.orc", stripe_rows=5_000)
    df = of.orc_scan(spark, f"{SCHEME}://scan",
                     "doc_id long, text string, lang string")
    got = df.groupBy("lang").count().orderBy("lang").collect()
    import collections
    want = collections.Counter(tbl.column("lang").to_pylist() * 2)
    assert [(r["lang"], r["count"]) for r in got] == sorted(want.items())


def test_orc_scan_readahead_depths_agree(spark, subfs):
    tbl = _table(30_000)
    fsio.makedirs("ra", subfs)
    of.write_orc(tbl, f"{SCHEME}://ra/p0.orc", stripe_rows=4_000)
    ddl = "doc_id long, text string, lang string"
    base = of.orc_scan(spark, f"{SCHEME}://ra", ddl,
                       readahead=1).orderBy("doc_id").collect()
    deep = of.orc_scan(spark, f"{SCHEME}://ra", ddl,
                       readahead=4).orderBy("doc_id").collect()
    assert base == deep and len(base) == tbl.num_rows
    with pytest.raises(ValueError):
        of.orc_scan(spark, f"{SCHEME}://ra", ddl, readahead=0)


def test_orcx_write_commit_and_read_through_subfs(spark, subfs):
    """Spark plans Python datasources in a separate worker process where
    driver-side register_filesystem isn't visible — the documented
    transport for a non-from_uri scheme is the ``filesystem`` option
    (base64-pickled fs, exactly what rides the task pickle anyway)."""
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.dataSource.register(OrcRustDataSource)
    fs_opt = fsio.fs_to_option(subfs)
    sdf = spark.range(0, 20_000).selectExpr(
        "id as doc_id", "concat('t', id) as text")
    uri = f"{SCHEME}://sink"
    sdf.write.format("orcx").mode("append") \
        .option("filesystem", fs_opt) \
        .option("compression", "zstd").save(uri)
    # two-phase commit finished: no .inprogress left behind, files visible
    names = fsio.list_files("sink", subfs)
    assert names and all(n.endswith(".orc") for n in names)
    assert fsio.list_files("sink", subfs, suffix=".inprogress") == []
    back = spark.read.format("orcx").option("filesystem", fs_opt).load(uri)
    assert back.count() == 20_000
    assert back.agg({"doc_id": "sum"}).first()[0] == 19_999 * 20_000 // 2
    # overwrite drops the old generation through the fs too
    spark.range(0, 7).selectExpr("id as doc_id", "'x' as text") \
        .coalesce(1).write.format("orcx").mode("overwrite") \
        .option("filesystem", fs_opt).save(uri)
    assert spark.read.format("orcx").option("filesystem", fs_opt) \
        .load(uri).count() == 7
    assert len(fsio.list_files("sink", subfs)) == 1


def test_orcx_stream_reader_lists_and_reads_through_subfs(subfs):
    """Driver-side stream machinery (listing, offsets, partitions) and
    the executor-side stripe read, driven directly against the fs."""
    from orc_rust_spark.sources.datasource import (OrcRustStreamReader,
                                                   _read_stripe_region)

    fsio.makedirs("land", subfs)
    of.write_orc(_table(2_000), f"{SCHEME}://land/f1.orc", stripe_rows=1_000)
    r = OrcRustStreamReader({"path": f"{SCHEME}://land"})
    start = r.initialOffset()
    end = r.latestOffset()
    assert [p for p, _ in end["recent"]] == ["land/f1.orc"]
    parts = r.partitions(start, end)
    assert len(parts) == 2  # two stripes
    body, footer = _read_stripe_region(parts[0], r._fs)
    tbl = of.decode_stripe(body, footer, parts[0].meta, parts[0].rows)
    assert tbl.num_rows == 1_000


def test_local_paths_still_use_builtin_open(tmp_path):
    """The local fast path must stay on builtins (fs is None), keeping
    the hot bench path byte-identical to the pre-abstraction code."""
    p = str(tmp_path / "x.orc")
    of.write_orc(_table(100), p)
    fs, paths = of.resolve_scan(str(tmp_path))
    assert fs is None and paths == [p]
    assert isinstance(fsio.open_input(p, None), type(open(p, "rb")))


def _overlapping_pids(log_path) -> set[str]:
    """Process ids in a latency-filesystem open log (``pid start end``
    lines) with two opens whose intervals overlap."""
    by_pid: dict[str, list[tuple[float, float]]] = {}
    with open(log_path) as fh:
        for line in fh:
            pid, start, end = line.split()
            by_pid.setdefault(pid, []).append((float(start), float(end)))
    out = set()
    for pid, spans in by_pid.items():
        spans.sort()
        # sorted by start: an open that overlaps any later one overlaps the next
        if any(b_start < a_end for (_, a_end), (b_start, _) in zip(spans, spans[1:])):
            out.add(pid)
    return out


def test_readahead_hides_injected_fetch_latency(spark, tmp_path):
    """The in-task readahead must actually OVERLAP stripe fetches — the
    reference's async-reader behavior (src/async_arrow_reader.rs:75-190)
    as an observed fact, not an architecture note. A latency filesystem
    (fsio.latency_filesystem) sleeps 120 ms per input open and logs each
    open's (pid, start, end). 12 stripes on a local[4] session give each
    task about three stripe fetches: at depth 4 some Python worker has two
    opens in flight at once, at depth 1 none does. The overlap is read
    from the log, not from wall-clock ratios, so a loaded host cannot
    flake it."""
    import numpy as np
    from pyspark.sql import functions as F

    from orc_rust_spark.sources.orc_file import OrcWriter, orc_scan

    n = 24_000
    tbl = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "name": pa.array([f"r{i % 31}" for i in range(n)]),
    })
    path = str(tmp_path / "lat.orc")
    w = OrcWriter(path, tbl.schema, compression="zstd", stripe_rows=2_000)
    w.write_table(tbl)
    w.close()

    def run(depth):
        log = tmp_path / f"opens_depth{depth}.log"
        fsio.register_filesystem(
            "slowfs", fsio.latency_filesystem(str(tmp_path), 0.12, str(log)))
        try:
            df = orc_scan(spark, "slowfs://lat.orc", "id long, name string",
                          readahead=depth)
            row = df.agg(F.count(F.lit(1)).alias("n"),
                         F.sum("id").alias("s")).collect()[0]
        finally:
            fsio.unregister_filesystem("slowfs")
        assert (row["n"], row["s"]) == (n, n * (n - 1) // 2)
        assert len(log.read_text().splitlines()) >= 12  # one open per stripe
        return _overlapping_pids(log)

    assert not run(1), "depth 1 overlapped two fetches in one worker"
    assert run(4), "readahead=4 never had two fetches in flight in one worker"


def test_io_retries_recover_transient_open_failures(spark, tmp_path):
    """Transient fetch errors (object-store throttling as OSError) must
    retry IN-TASK (fsio.call_with_io_retries — the reference's OpenDAL
    retry layer) instead of failing the Spark task; permanent not-found
    errors surface immediately; retries=0 is a plain call."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from orc_rust_spark.sources import latencyfs
    from orc_rust_spark.sources.orc_file import OrcWriter, orc_scan

    n = 8_000
    tbl = pa.table({"id": pa.array(np.arange(n, dtype=np.int64))})
    w = OrcWriter(str(tmp_path / "flaky.orc"), tbl.schema,
                  compression="zstd", stripe_rows=4_000)
    w.write_table(tbl)
    w.close()

    fsio.register_filesystem(
        "flaky", latencyfs.make_flaky_filesystem(str(tmp_path), 2))
    try:
        df = orc_scan(spark, "flaky://flaky.orc", "id long", io_retries=3)
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("id").alias("s")).collect()[0]
        assert (row["n"], row["s"]) == (n, n * (n - 1) // 2)
    finally:
        fsio.unregister_filesystem("flaky")

    # helper-level contracts (no Spark): transient recovers, budget
    # exhaustion re-raises, permanent never retries
    calls = {"n": 0}

    def flaky_twice():
        calls["n"] += 1
        if calls["n"] <= 2:
            raise OSError("transient")
        return "ok"

    assert fsio.call_with_io_retries(flaky_twice, 2, backoff_s=0.001) == "ok"
    calls["n"] = 0
    with _pytest.raises(OSError):
        fsio.call_with_io_retries(flaky_twice, 1, backoff_s=0.001)

    seen = {"n": 0}

    def gone():
        seen["n"] += 1
        raise FileNotFoundError("permanent")

    with _pytest.raises(FileNotFoundError):
        fsio.call_with_io_retries(gone, 5, backoff_s=0.001)
    assert seen["n"] == 1  # no retry on permanent errors

    with _pytest.raises(ValueError):
        orc_scan(spark, str(tmp_path / "flaky.orc"), "id long",
                 io_retries=-1)


def test_distributed_planning_matches_driver_side(spark, tmp_path, monkeypatch):
    """Past DISTRIBUTED_PLAN_THRESHOLD files, orc_scan's planning tail
    parse runs as a Spark job (one task per file batch) — the metas and
    the scan results must be identical to the driver-threadpool path,
    including through a registered non-local filesystem."""
    import numpy as np
    from pyspark.sql import functions as F

    n_files, rows_per = 6, 500
    for i in range(n_files):
        tbl = pa.table({"id": pa.array(
            np.arange(i * rows_per, (i + 1) * rows_per, dtype=np.int64))})
        of.write_orc(tbl, str(tmp_path / f"f{i}.orc"), compression="zstd")

    paths = [str(tmp_path / f"f{i}.orc") for i in range(n_files)]
    serial = of.read_metadatas(paths)
    monkeypatch.setattr(of, "DISTRIBUTED_PLAN_THRESHOLD", 4)
    dist = of.read_metadatas(paths, spark=spark)
    assert list(dist) == list(serial)
    for p in paths:
        assert dist[p].number_of_rows == serial[p].number_of_rows
        assert len(dist[p].stripes) == len(serial[p].stripes)
        assert dist[p].compression == serial[p].compression

    # end-to-end through the distributed-planning path + a subfs URI
    import pyarrow.fs as pafs
    fsio.register_filesystem(
        "planfs", pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem()))
    try:
        df = of.orc_scan(spark, "planfs://", "id long")
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("id").alias("s")).collect()[0]
        total = n_files * rows_per
        assert (row["n"], row["s"]) == (total, total * (total - 1) // 2)
    finally:
        fsio.unregister_filesystem("planfs")


def test_orc_scan_infers_schema(spark, tmp_path):
    """orc_scan(schema=None) infers the Spark schema from the file's
    type tree (r7 — the orcx datasource's schema() rule, shared code so
    they can't drift), including with a projection."""
    from pyspark.sql import functions as F

    from orc_rust_spark.sources.orc_file import orc_scan, write_orc

    tbl = _table(2_000)
    p = str(tmp_path / "infer.orc")
    write_orc(tbl, p, compression="zstd")
    df = orc_scan(spark, p)
    assert df.columns == ["doc_id", "text", "lang"]
    assert dict(df.dtypes)["doc_id"] == "bigint"
    assert df.count() == 2_000
    proj = orc_scan(spark, p, columns=["lang", "doc_id"])
    assert set(proj.columns) == {"doc_id", "lang"}
    assert proj.agg(F.sum("doc_id")).collect()[0][0] == sum(range(2_000))


def test_orc_scan_empty_projection_needs_explicit_schema(spark, tmp_path):
    """columns=[] with schema inference used to emit an empty DDL string
    and die in Spark's parser — reject with a clear message instead
    (code-review r7)."""
    from orc_rust_spark.sources.orc_file import orc_scan, write_orc

    p = str(tmp_path / "cnt.orc")
    write_orc(_table(100), p)
    with pytest.raises(ValueError, match="columns"):
        orc_scan(spark, p, columns=[])


def test_orc_scan_rejects_cross_file_type_flip(spark, tmp_path):
    """Two files whose same-named column disagrees on type fail at
    PLANNING with the shared consistency message, whether the schema is
    inferred or explicit (code-review r7)."""
    import pyarrow as pa

    from orc_rust_spark.sources.orc_file import orc_scan, write_orc

    d = tmp_path / "mix"
    d.mkdir()
    write_orc(pa.table({"v": pa.array([1, 2], type=pa.int64())}),
              str(d / "a.orc"))
    write_orc(pa.table({"v": pa.array(["x"], type=pa.string())}),
              str(d / "b.orc"))
    with pytest.raises(ValueError, match="consistent column types"):
        orc_scan(spark, str(d))
    with pytest.raises(ValueError, match="consistent column types"):
        orc_scan(spark, str(d), "v bigint")


def test_listing_helpers_skip_dot_hidden_files(tmp_path):
    """Dot-hidden temp files (the Hadoop in-progress convention) never
    reach planning: every listing helper skips them, matching the glob
    convention of list_files (code-review r7, third pass)."""
    import os

    from orc_rust_spark.sources import fsio

    (tmp_path / "a.orc").write_bytes(b"x")
    (tmp_path / ".tmp-b.orc").write_bytes(b"x")
    (tmp_path / "_c.orc").write_bytes(b"x")
    sub = tmp_path / ".hidden_dir"
    sub.mkdir()
    (sub / "d.orc").write_bytes(b"x")
    names = lambda lst: sorted(os.path.basename(p) for p in lst)
    assert names(fsio.list_files(str(tmp_path))) == ["_c.orc", "a.orc"]
    assert names(fsio.list_files_recursive(str(tmp_path))) == [
        "_c.orc", "a.orc"]
    assert names(p for p, _ in fsio.list_files_with_sizes(
        str(tmp_path))) == ["_c.orc", "a.orc"]
    assert names(p for p, _ in fsio.list_files_with_sizes(
        str(tmp_path), recursive=True)) == ["_c.orc", "a.orc"]


def test_sized_recursive_walk_ignores_dir_symlink_cycles(tmp_path):
    import os

    from orc_rust_spark.sources import fsio

    sub = tmp_path / "day=1"
    sub.mkdir()
    (sub / "f.orc").write_bytes(b"x")
    os.symlink(str(tmp_path), str(sub / "loop"))
    got = fsio.list_files_with_sizes(str(tmp_path), recursive=True)
    assert [os.path.basename(p) for p, _ in got] == ["f.orc"]

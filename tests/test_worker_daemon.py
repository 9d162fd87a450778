"""The Python daemon wrapper: zip-archive directories are re-read by
``importlib.invalidate_caches()`` only when the archive has changed, per
importer; and Spark's workers run under it."""

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pyarrow as pa
import pytest

from orc_rust_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, pkg: str, value: int, pad: str = "") -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/mod.py", f"v = {value}{pad}\n")


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """An archive holding ``<pkg>/mod.py`` (``v = 1``) on the import path
    and imported, so two importers (archive root and ``<pkg>/``) share
    it; the patch installed; and a spy counting this archive's reads."""
    pkg = f"zpkg_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, pkg, 1)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(f"{pkg}.mod").v == 1
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter) and f.archive == archive]
    assert len(importers) == 2

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()
    reads = []
    real = zipimport._read_directory

    def spy(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()  # each importer reads once, taking its stamp
    assert len(reads) == 2
    reads.clear()
    yield pkg, archive, importers, reads
    _forget(pkg)


def _forget(pkg: str) -> None:
    for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
        del sys.modules[name]


def _reimport(pkg: str):
    _forget(pkg)
    return importlib.import_module(f"{pkg}.mod")


def test_unchanged_archive_is_not_reread(zipped):
    pkg, _, importers, reads = zipped
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert _reimport(pkg).v == 1
    assert reads == []


def test_rewritten_archive_is_reread_by_every_importer(zipped):
    pkg, archive, importers, reads = zipped
    before = os.stat(archive)
    _write_zip(archive, pkg, 2, pad="  # rewritten")
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(reads) == 2
    size = len(b"v = 2  # rewritten\n")
    # a toc entry is (path, compress, data_size, file_size, offset, ...)
    assert [imp._files[os.path.join(pkg, "mod.py")][3] for imp in importers] == [size] * 2
    assert _reimport(pkg).v == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_replaced_archive_with_same_size_and_mtime_is_reread(zipped, tmp_path):
    """A new file moved over the archive (new inode) is re-read even when
    its size and mtime equal the old ones."""
    pkg, archive, _, reads = zipped
    before = os.stat(archive)
    fresh = str(tmp_path / "fresh.zip")
    _write_zip(fresh, pkg, 3)
    assert os.path.getsize(fresh) == before.st_size
    os.utime(fresh, ns=(before.st_atime_ns, before.st_mtime_ns))
    os.replace(fresh, archive)
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert _reimport(pkg).v == 3


def test_deleted_archive_raises_nothing(zipped):
    """A deleted archive empties every importer's directory, also one that
    never took a stamp, and a re-created one is read again."""
    pkg, archive, importers, reads = zipped
    unstamped = zipimport.zipimporter(archive)
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    unstamped.invalidate_caches()
    assert all(imp._files == {} for imp in [*importers, unstamped])
    _write_zip(archive, pkg, 4)
    importlib.invalidate_caches()
    assert _reimport(pkg).v == 4


def test_spark_workers_run_under_the_wrapper(spark):
    def worker_state(batches):
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"code": [fn.__code__.co_filename]})

    rows = (spark.range(0, 4, 1, 4)
            .mapInArrow(worker_state, "code string").collect())
    assert len(rows) == 4
    assert {os.path.basename(r.code) for r in rows} == {"worker_daemon.py"}


def test_add_py_file_zip_is_importable(spark, tmp_path):
    pkg = f"addpy_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{pkg}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "VALUE = 'from the zip'\n")
    spark.sparkContext.addPyFile(str(archive))

    def read_value(batches):
        mod = importlib.import_module(pkg)
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [mod.VALUE] * b.num_rows})

    rows = spark.range(0, 8, 1, 4).mapInArrow(read_value, "v string").collect()
    assert [r.v for r in rows] == ["from the zip"] * 8


def test_daemon_resolves_from_any_driver_cwd(tmp_path):
    """A driver started outside the repository, with the package only on
    its own sys.path (no PYTHONPATH), still gets working Python workers."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pyarrow as pa
        from orc_rust_spark.session import get_spark

        def where(batches):
            import orc_rust_spark
            for b in batches:
                yield pa.RecordBatch.from_pydict(
                    {{"f": [orc_rust_spark.__file__] * b.num_rows}})

        spark = get_spark("cwd-test", master="local[2]", shuffle_partitions=2)
        try:
            rows = spark.range(0, 4, 1, 2).mapInArrow(where, "f string").collect()
            print("PKG", sorted({{r.f for r in rows}}))
        finally:
            spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEMORY="1g", SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    want = os.path.join(REPO, "orc_rust_spark", "__init__.py")
    assert f"PKG {[want]!r}" in out.stdout

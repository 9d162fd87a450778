"""PySpark's Python daemon, with zip-archive directories re-read only
when the archive has changed.

Run as ``python -m orc_rust_spark.worker_daemon <worker module>`` (the
session sets ``spark.python.daemon.module``). Every task's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, and on
CPython 3.11 ``zipimporter.invalidate_caches`` re-reads the archive's
whole central directory: with pyspark imported from ``pyspark.zip``
(1,300+ entries, one importer per package path) that is the largest cost
of a trivial task. Here each importer remembers the (inode, size,
mtime_ns) stamp of the archive it last read and skips the re-read while
the stamp is unchanged. The stamp is kept per importer, not per archive:
every importer of a rewritten archive re-reads its own directory. A new
archive (``addPyFile``) gets a new importer and is read as before;
without zip imports nothing changes. Forked workers inherit the patch.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _reread(self)
    self._read_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

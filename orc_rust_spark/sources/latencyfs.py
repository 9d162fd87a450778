"""Latency-injecting pyarrow filesystem for scale experiments.

``make_latency_filesystem(root, latency_s)`` behaves like
``SubTreeFileSystem(root, LocalFileSystem())`` except every INPUT open
first sleeps ``latency_s`` — a deterministic local stand-in for
object-store round-trip latency (S3 time-to-first-byte is commonly
10-100 ms). The handler's state is just ``(root, latency)``, so the
filesystem pickles into Spark python workers and can be passed anywhere
fsio accepts a filesystem (orc_scan's task closure, the orcx
``filesystem`` option).

Purpose: measure — not just assert — that orc_scan's in-task stripe
readahead hides fetch latency, the behavior the reference implements
with its async reader state machine (src/async_arrow_reader.rs:75-190).
See tests/test_fsio.py and scripts/readahead_bench.py.

Module note: unlike fsio this module imports pyarrow.fs eagerly — the
handler must be a module-level subclass of the pyarrow ABC or pickle
could not resolve it worker-side.
"""

from __future__ import annotations

import os
import time

import pyarrow.fs as pafs


class LatencyFileSystemHandler(pafs.FileSystemHandler):
    """Delegates to SubTreeFileSystem(root) with a sleep on input opens.
    With ``log_path``, every input open appends one line
    ``<pid> <start> <end>`` (``time.monotonic`` seconds, sleep included)
    to that file, so a test can see which opens of one process overlapped."""

    def __init__(self, root: str, latency_s: float, log_path: str | None = None):
        self.root, self.latency = root, float(latency_s)
        self.log_path = log_path

    def _log_open(self, start: float) -> None:
        if self.log_path is not None:
            with open(self.log_path, "a") as fh:
                fh.write(f"{os.getpid()} {start!r} {time.monotonic()!r}\n")

    def _base(self) -> pafs.SubTreeFileSystem:
        return pafs.SubTreeFileSystem(self.root, pafs.LocalFileSystem())

    def get_type_name(self):
        return "latency"

    def get_file_info(self, paths):
        return self._base().get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self._base().get_file_info(selector)

    def create_dir(self, path, recursive):
        self._base().create_dir(path, recursive=recursive)

    def delete_dir(self, path):
        self._base().delete_dir(path)

    def delete_dir_contents(self, path, missing_dir_ok=False):
        self._base().delete_dir_contents(path, missing_dir_ok=missing_dir_ok)

    def delete_root_dir_contents(self):
        raise NotImplementedError("refusing to clear the subtree root")

    def delete_file(self, path):
        self._base().delete_file(path)

    def move(self, src, dest):
        self._base().move(src, dest)

    def copy_file(self, src, dest):
        self._base().copy_file(src, dest)

    def open_input_stream(self, path):
        start = time.monotonic()
        time.sleep(self.latency)
        out = self._base().open_input_stream(path)
        self._log_open(start)
        return out

    def open_input_file(self, path):
        start = time.monotonic()
        time.sleep(self.latency)
        out = self._base().open_input_file(path)
        self._log_open(start)
        return out

    def open_output_stream(self, path, metadata=None):
        return self._base().open_output_stream(path)

    def open_append_stream(self, path, metadata=None):
        raise NotImplementedError("append is not part of the IO seam")

    def normalize_path(self, path):
        return path


def make_latency_filesystem(root: str, latency_s: float,
                            log_path: str | None = None) -> pafs.PyFileSystem:
    return pafs.PyFileSystem(LatencyFileSystemHandler(root, latency_s, log_path))


# per-process open counters for the flaky filesystem: the failure budget
# must survive the handler's pickle round-trip into a Spark python worker
# (instance state would reset per task and never stop failing)
_FLAKY_OPENS: dict[tuple[str, str], int] = {}


class FlakyFileSystemHandler(LatencyFileSystemHandler):
    """Fails the first ``fail_opens`` input opens of each path (per process)
    with a transient-looking OSError — deterministic object-store
    throttling (S3 503 SlowDown) for testing fsio.call_with_io_retries."""

    def __init__(self, root: str, fail_opens: int):
        super().__init__(root, 0.0)
        self.fail_opens = int(fail_opens)

    def _maybe_fail(self, path: str) -> None:
        key = (self.root, path)
        n = _FLAKY_OPENS.get(key, 0)
        _FLAKY_OPENS[key] = n + 1
        if n < self.fail_opens:
            raise OSError(f"simulated transient throttle #{n + 1} on {path}")

    def open_input_stream(self, path):
        self._maybe_fail(path)
        return self._base().open_input_stream(path)

    def open_input_file(self, path):
        self._maybe_fail(path)
        return self._base().open_input_file(path)


def make_flaky_filesystem(root: str, fail_opens: int) -> pafs.PyFileSystem:
    return pafs.PyFileSystem(FlakyFileSystemHandler(root, fail_opens))

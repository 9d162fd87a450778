"""Process-tree CPU time and peak RSS read from ``/proc`` (Linux only).

Reads ``/proc/<pid>/stat`` and ``/proc/<pid>/status`` directly, so it
needs no third-party module. A Spark run spreads its work over the
benchmark process, the JVM it launches, the PySpark daemon and its workers;
summing CPU over the whole descendant tree is what makes
``encode_cpu_s_per_gb`` a measure of total work rather than of one process.
"""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field, or None
    when the process has gone. The comm may contain spaces or parentheses,
    so split at the last ``)``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return raw[raw.rfind(")") + 2:].split()


def _parent_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                out[int(name)] = int(f[1])  # field 4 (ppid)
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pid: int) -> float:
    """User + system CPU of ``pid`` plus that of its reaped children."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 (1-based) of the line
    return sum(int(v) for v in f[11:15]) / CLK_TCK


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and every live
    descendant. A descendant that exits and is reaped between two samples
    keeps counting through its parent's ``cutime``/``cstime``. This
    process's own CPU comes from ``time.process_time`` (nanoseconds) rather
    than ``/proc`` clock ticks (10 ms), so a single-process measurement is
    not quantised."""
    if root is None or root == os.getpid():
        t = os.times()
        own = time.process_time() + t.children_user + t.children_system
        return own + sum(cpu_seconds(p) for p in descendants(os.getpid()))
    return sum(cpu_seconds(p) for p in [root, *descendants(root)])


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB; 0 if it has gone."""
    return _status_kb(pid, "VmHWM") * 1024 / 1e6


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return ""


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return ""


def python_workers(root: int | None = None) -> list[int]:
    """Descendants of ``root`` that are PySpark Python daemons or workers
    (the JVM's command line names pyspark too, so match the executable)."""
    root = os.getpid() if root is None else root
    return [p for p in descendants(root)
            if _comm(p).startswith("python") and "pyspark" in _cmdline(p)]


def peak_worker_rss_mb(root: int | None = None) -> float:
    """Highest VmHWM among the PySpark Python processes under ``root``."""
    return max((peak_rss_mb(p) for p in python_workers(root)), default=0.0)


def start_time(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks since boot (stat field 22);
    with the pid it names one process even if the pid is reused."""
    f = _stat_fields(pid)
    return None if f is None else int(f[19])


def _alive(proc: tuple[int, int | None]) -> bool:
    f = _stat_fields(proc[0])
    return f is not None and f[0] != "Z" and int(f[19]) == proc[1]


def snapshot(root: int | None = None) -> list[tuple[int, int | None]]:
    """(pid, start time) of every live descendant of ``root``."""
    root = os.getpid() if root is None else root
    return [(p, start_time(p)) for p in descendants(root)]


def wait_gone(procs: list[tuple[int, int | None]], timeout_s: float = 20.0) -> list[int]:
    """Wait until every process of a :func:`snapshot` has exited, SIGKILL
    the ones still alive after ``timeout_s``, and return their pids. Take
    the snapshot before stopping the parent: an orphan is re-parented out
    of our tree."""
    deadline = time.monotonic() + timeout_s
    while any(map(_alive, procs)) and time.monotonic() < deadline:
        time.sleep(0.1)
    stuck = [p for p in procs if _alive(p)]
    for pid, _ in stuck:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5.0
    while any(map(_alive, stuck)) and time.monotonic() < deadline:
        time.sleep(0.05)
    return [pid for pid, _ in stuck]

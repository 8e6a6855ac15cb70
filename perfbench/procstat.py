"""Process-tree CPU and memory readings from /proc (Linux).

The tree is this process plus every live descendant: the Spark JVM it
launched and the ``pyspark.daemon`` Python workers the JVM forks. Workers
that exited between readings are still counted through their parent's
reaped-children fields (cutime/cstime), so short-lived UDF workers are
not lost.
"""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _tree() -> dict[int, list[str]]:
    """stat fields of this process and all of its live descendants."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    me = os.getpid()
    out, stack = {}, [me]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid]
        stack.extend(kids.get(pid, []))
    return out


def _cpu(st: list[str]) -> float:
    # utime, stime, cutime, cstime (fields 14-17 of proc(5))
    return sum(int(x) for x in st[11:15]) / _HZ


def cpu_seconds(jvm_pid: int | None = None) -> tuple[float, float]:
    """(CPU seconds of the whole tree, CPU seconds of the JVM process)."""
    tree = _tree()
    jvm = _cpu(tree[jvm_pid]) if jvm_pid in tree else 0.0
    return sum(_cpu(st) for st in tree.values()), jvm


def rss_mb() -> float:
    """Resident memory of the whole tree, in MiB."""
    return sum(int(st[21]) for st in _tree().values()) * _PAGE / 2**20


def process_age_s() -> float:
    """Seconds since this process was started (proc(5) starttime)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat("self")[19]) / _HZ


def jvm_pid() -> int | None:
    """pid of the java child this process launched (local-mode Spark)."""
    me = os.getpid()
    return next((pid for pid in _tree() if pid != me and _comm(pid) == "java"), None)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class PeakRss:
    """Samples the tree's RSS on a background thread while active."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, rss_mb())

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb())
            self._stop.wait(self.interval_s)

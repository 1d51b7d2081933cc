"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark's process tree is the driver Python process, the JVM that
``spark-submit`` launches as its child, and the Python workers the JVM
forks.  ``psutil`` is not a dependency, so this reads ``/proc/<pid>/stat``
directly.  Linux only.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_INTERVAL_S = 0.2   # RSS sampling period


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks, rss pages) of one process, or None once it is gone.

    The cpu ticks are utime + stime + cutime + cstime: a child that exits
    and is reaped moves its ticks into its parent's cutime/cstime, so the
    tree total never drops when a worker ends mid-window."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; every later field follows the last ')'
    rest = data[data.rindex(b")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21])


def tree_stats(root: int) -> dict[int, tuple[int, int, int]]:
    """``_stat`` of ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid]
            stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    return sum(s[1] for s in tree_stats(root).values()) / _TICK


def tree_rss_mb(root: int) -> float:
    return sum(s[2] for s in tree_stats(root).values()) * _PAGE / 2**20


class TreeWindow:
    """Context manager over one measured window of this process's tree:
    ``cpu_s`` is the tree's CPU seconds spent inside it, ``peak_rss_mb`` the
    largest tree RSS seen by a background sampler."""

    def __init__(self):
        self.root = os.getpid()
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _poll(self) -> None:
        while not self._stop.wait(_INTERVAL_S):
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))

    def __enter__(self) -> "TreeWindow":
        self._cpu0 = tree_cpu_s(self.root)
        self.peak_rss_mb = tree_rss_mb(self.root)
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0


def wait_gone(pids: set[int], timeout_s: float = 30.0) -> bool:
    """Poll until none of ``pids`` is alive (a zombie counts as gone)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return True
        time.sleep(0.1)
    return False


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read()
    except OSError:
        return False
    return data[data.rindex(b")") + 2:data.rindex(b")") + 3] != b"Z"

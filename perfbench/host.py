"""Process-tree CPU and memory, and host context, read from ``/proc``.

The tree is the benchmark's own process and every descendant: the Spark
JVM it launches and the Python workers the JVM forks. Exited children are
counted through their parents' ``cutime``/``cstime``.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list:
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        # the command name may hold spaces and parentheses: split after it
        return f.read().rsplit(")", 1)[1].split()


def _children(pid: int) -> list:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out  # the process exited
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # the thread exited
    return out


def tree_pids(root: int) -> list:
    """``root`` and its descendants, found by walking down from ``root``
    through each thread's ``children`` list, so the cost does not grow with
    the number of other processes on the host."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int) -> float:
    pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                pages += int(f.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE / 2 ** 20


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    process whose parent exits first (a Python worker outliving the JVM)
    stays in the tree that ``stop_descendants`` waits for."""
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> list:
    """Stop every process below this one and wait until each has ended:
    SIGTERM first, SIGKILL for what still runs after ``grace_s``. Returns
    the pids that were found running."""
    me = os.getpid()
    found: list = []
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return found
        found.extend(p for p in left if p not in found)
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in left:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.1)


class PeakRss:
    """Samples the tree's summed resident memory every 100 ms on a thread;
    ``stop`` returns the peak in MiB."""

    def __init__(self, root: int):
        self._root = root
        self._done = threading.Event()
        self._peak = 0.0
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self._peak = max(self._peak, tree_rss_mb(self._root))
            if self._done.wait(0.1):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=10)
        self._peak = max(self._peak, tree_rss_mb(self._root))
        return self._peak


def steal_s() -> float:
    """Host-wide steal time so far, from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / _TICK


def loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")

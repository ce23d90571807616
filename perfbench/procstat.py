"""CPU time and resident memory of this process and all its descendants.

The Spark driver JVM, the Python worker daemon and its forked workers are
descendants of the benchmark process, so the tree read from ``/proc``
covers every process that does the work. ``os.times()`` cannot: the JVM
has not exited, so its time never lands in the children's fields.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens: split after the last ')'
    return raw[raw.rfind(")") + 2:].split()


def tree(root: int) -> list:
    """``root`` and every descendant pid."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system seconds of the tree, including reaped children (a worker
    that exits is charged to its parent's cutime/cstime)."""
    total = 0
    for pid in tree(root or os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in tree(root or os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21])
    return total * _PAGE / 1e6


def wait_gone(pids: list, timeout: float) -> list:
    """Wait until every pid has exited (zombies count as exited); kill
    what is left after ``timeout`` seconds. Returns the killed pids."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids
                 if (f := _stat_fields(p)) is not None and f[0] != "Z"]
        if not alive:
            return []
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            return alive
        time.sleep(0.1)


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds between
    ``start`` and ``stop``; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def start(self) -> None:
        self.peak_mb = tree_rss_mb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb

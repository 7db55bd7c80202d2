"""CPU time and resident memory of the system's process tree, from /proc.

The tree is this process and every descendant (the Spark JVM, the PySpark
daemon and its Python workers), minus excluded pids such as the load
generator. CPU counts ``utime + stime + cutime + cstime`` of every live
process, so a worker that exited and was reaped by its parent stays counted
in the parent's ``cutime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name (which may hold spaces)
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


class ProcessTree:
    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.exclude: set[int] = set()

    def pids(self) -> list[int]:
        kids = _children()
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def cpu_seconds(self) -> float:
        total = 0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None:
                # utime, stime, cutime, cstime are fields 14-17 (1-based)
                total += sum(int(v) for v in st[11:15])
        return total / _TICK

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None:
                total += int(st[21]) * _PAGE  # rss, field 24 (1-based)
        return total


class PeakRss:
    """Samples the tree's summed RSS on a background thread."""

    def __init__(self, tree: ProcessTree, interval_s: float = 0.25):
        self.tree = tree
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.tree.rss_bytes())

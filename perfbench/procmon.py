"""CPU time and resident memory of the Spark process tree, from /proc.

The tree is the JVM that the PySpark gateway launched plus every live
descendant (the Python daemon and its forked workers).  CPU time counts
utime+stime of live members plus cutime+cstime, so workers that exited
and were reaped by their parent still count.  Resident memory counts the
JVM and the Python processes only: the JVM also forks short-lived
helper processes, and a fork shares the JVM's pages, so counting it
would add the JVM's whole RSS a second time while it lives (seen as
one-off +2.6 GB peaks).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def running(pid: int) -> bool:
    """True while *pid* exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """utime+stime+cutime+cstime summed over the live tree."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (the ``steal`` field of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        if pid != root and not _comm(pid).startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` is the
    largest sample since ``start`` or the last ``reset``."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            v = rss_bytes(self.root)
            with self._lock:
                self.peak = max(self.peak, v)
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def reset(self) -> int:
        """Start a new window; returns the peak of the one that ended."""
        v = rss_bytes(self.root)
        with self._lock:
            last, self.peak = max(self.peak, v), v
        return last

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak

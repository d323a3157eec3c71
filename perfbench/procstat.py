"""CPU and memory of the Spark JVM's process tree, read from ``/proc``.

In local mode the tree is the JVM and, under it, the PySpark worker
daemon with its forked Python workers. CPU is split two ways so a
change at the Python boundary can be told apart from one in the JVM:

- ``jvm``: the JVM's own threads (utime + stime);
- ``py``: every descendant of the JVM, including processes that have
  exited: workers reaped by their daemon (their time sits in the
  daemon's cutime/cstime) and daemons reaped by the JVM (in the JVM's
  cutime/cstime; the JVM starts no other children).
"""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/children") as f:
            out.extend(int(c) for c in f.read().split())
    return out


class ProcTree:
    """The process tree rooted at the JVM ``jvm_pid``."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def descendants(self) -> list[int]:
        """Live descendants of the JVM (daemon and workers)."""
        seen: list[int] = []
        todo = [self.jvm_pid]
        while todo:
            pid = todo.pop()
            try:
                kids = _children(pid)
            except OSError:
                continue
            seen.extend(kids)
            todo.extend(kids)
        return seen

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds of ``jvm`` and ``py`` (see module doc).

        A worker reaped by the daemon between reading the worker and
        reading the daemon would be counted twice or not at all, so a
        sample is retried until the process list did not change while
        it was read."""
        for _ in range(10):
            pids = self.descendants()
            out = {"jvm": 0.0, "py": 0.0}
            try:
                f = _stat_fields(self.jvm_pid)
                out["jvm"] = (int(f[11]) + int(f[12])) / _HZ
                out["py"] = (int(f[13]) + int(f[14])) / _HZ
            except OSError:
                pass
            for pid in pids:
                try:
                    f = _stat_fields(pid)
                except OSError:
                    continue
                out["py"] += (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _HZ
            if self.descendants() == pids:
                break
        return out

    def rss_mb(self) -> float:
        """Resident memory of the tree in MB: the JVM's RSS plus the
        proportional set size (PSS) of every Python process, so the
        copy-on-write pages the forked workers share with their daemon
        count once."""
        total = 0.0
        try:
            with open(f"/proc/{self.jvm_pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE_MB
        except OSError:
            pass
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) / 1e3
                            break
            except OSError:
                continue
        return total


def steal_s() -> float:
    """Host-wide steal time so far: CPU time the hypervisor ran other
    guests while a vCPU of this one was runnable."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


class PeakRss:
    """Samples the tree's resident memory on a background thread while
    active; ``peak_mb`` is the largest sample seen."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.25):
        self.tree = tree
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())

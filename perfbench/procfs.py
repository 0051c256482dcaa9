"""Resident memory of a process tree, read from Linux ``/proc``.

The benchmark's driver is one Python process; it starts the Spark JVM,
which forks the Python worker daemon and its workers.  Peak memory is
the largest sum of resident set sizes over that whole tree, sampled on a
background thread.
"""

from __future__ import annotations

import os
import threading

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def parent_map() -> dict[int, int]:
    """pid -> parent pid for every process visible in ``/proc``."""
    out: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces and parentheses: fields after
        # the LAST ')' are fixed-position (state, ppid, ...)
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(entry)] = int(fields[1])
    return out


def descendants(root: int, parents: dict[int, int] | None = None) -> list[int]:
    """All live descendants of ``root`` (not including ``root``)."""
    parents = parent_map() if parents is None else parents
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out: list[int] = []
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    """Resident set size of one process, 0 if it has ended."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_BYTES
    except (OSError, IndexError, ValueError):
        return 0


def cpu_times() -> tuple[float, float]:
    """Machine-wide (busy, steal) CPU seconds since boot from the
    ``cpu`` line of ``/proc/stat``: busy is user + nice + system + irq +
    softirq, steal the time the host ran something else while one of
    this machine's virtual CPUs wanted to run."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fields[1:9])
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def tree_rss_bytes(root: int) -> int:
    return rss_bytes(root) + sum(rss_bytes(p) for p in descendants(root))


class PeakRss:
    """Samples the resident memory of ``root`` and its descendants every
    ``interval`` seconds until :meth:`stop`; :attr:`peak` is the largest
    sum seen."""

    def __init__(self, root: int, interval: float = 0.2) -> None:
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak

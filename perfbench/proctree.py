"""CPU and memory of a process tree, read from ``/proc``.

The program under test is the benchmark's own Python process (the Spark
driver), the JVM it launches and the Python workers the JVM forks. The
emulator is also a child of the benchmark, so callers name the pids
whose subtrees are left out.

CPU counts ``utime + stime + cutime + cstime`` of every live process in
the tree: a worker that exits is reaped by its parent inside the tree,
so its CPU moves into the parent's ``cutime`` and the total does not
drop.

Memory is the proportional set size (PSS): Python workers are forked
from one daemon and share most of their pages, which a sum of RSS would
count once per worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[bytes] | None:
    """Fields of ``/proc/<pid>/stat`` from the state (field 3) on."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is in parentheses and may hold spaces
    return raw[raw.rindex(b")") + 2 :].split()


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> set[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out: set[int] = set()
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree(root: int, exclude: frozenset[int] = frozenset()) -> set[int]:
    """``root`` and its descendants, without the subtrees of ``exclude``."""
    left_out = set(exclude)
    for pid in exclude:
        left_out |= descendants(pid)
    return ({root} | descendants(root)) - left_out


def cpu_s(pids) -> float:
    """User + system CPU seconds of ``pids``, with their reaped children."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(f) for f in fields[11:15])
    return total / _TICK


def pss_bytes(pids) -> int:
    """Proportional set size of ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process not yet reaped is not."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != b"Z"


class PeakPss:
    """Samples the tree's PSS on a thread; ``stop()`` returns the peak in
    bytes seen since ``start()``."""

    def __init__(self, root: int, exclude: frozenset[int], interval_s: float = 0.2):
        self.root, self.exclude, self.interval_s = root, exclude, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak = max(self.peak, pss_bytes(tree(self.root, self.exclude)))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "PeakPss":
        self.peak = 0
        self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        return self.peak

"""Memory of a process tree, read from /proc (no psutil).

A Spark-on-Python run is one driver Python process, the JVM it launches and
the Python workers the JVM forks. Forked workers share pages with their
parent, so summing per-process RSS or ``VmHWM`` counts those pages once per
worker. The proportional set size (``Pss`` in ``smaps_rollup``) divides each
shared page among the processes that map it, so the sum over the tree counts
every resident page once.
"""

from __future__ import annotations

import os
import threading
import time

PROC = "/proc"


def _stat_fields(pid, proc: str) -> list[str]:
    """Fields 3 on of ``/proc/<pid>/stat``: the command name before them is
    in parentheses and may contain spaces."""
    with open(f"{proc}/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def identity(pid: int, proc: str = PROC) -> tuple[int, int] | None:
    """``(pid, start time)`` while ``pid`` is live and not a zombie, else
    None. The start time (field 22, clock ticks since boot) tells a process
    from a later one that reuses its pid."""
    try:
        fields = _stat_fields(pid, proc)
        if fields[0] == "Z":
            return None
        return pid, int(fields[19])
    except (OSError, ValueError, IndexError):
        return None


def descendants(root: int, proc: str = PROC) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name, proc)[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def pss_kb(pid: int, proc: str = PROC) -> int:
    """Proportional set size of ``pid`` in KiB; 0 when it has gone (an
    exiting process can leave ``smaps_rollup`` empty)."""
    try:
        with open(f"{proc}/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakSampler:
    """Samples the tree's PSS on a background thread; ``peak_mb`` is the max.

    Also remembers every process it saw, as ``(pid, start time)`` (see
    :func:`identity`), so the caller can wait for all of them to end after
    shutting the tree down."""

    def __init__(self, root: int, interval_s: float = 1.0, proc: str = PROC):
        self.root = root
        self.interval_s = interval_s
        self.proc = proc
        self.peak_mb = 0.0
        self.seen: set[tuple[int, int]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = descendants(self.root, self.proc)
        self.seen.update(i for i in (identity(p, self.proc) for p in pids) if i)
        mb = sum(pss_kb(p, self.proc) for p in pids) / 1024.0
        self.peak_mb = max(self.peak_mb, mb)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(procs, timeout_s: float, proc: str = PROC) -> list[tuple[int, int]]:
    """Poll until every ``(pid, start time)`` has ended; return those still
    alive at timeout. A pid now held by another process counts as ended."""
    deadline = time.monotonic() + timeout_s
    left = [i for i in procs if identity(i[0], proc) == i]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [i for i in left if identity(i[0], proc) == i]
    return left

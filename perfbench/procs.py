"""CPU and memory of the benchmark's process tree, read from /proc.

The tree is this (driver) process, the JVM it launches, and the Python
daemon and workers the JVM forks. Workers exit between reads, so a
per-process delta would lose their CPU (it reads negative when a worker
that was counted at the start of an interval is gone at its end). The
snapshot therefore counts, for every live process, its own utime+stime
plus the cutime+cstime of the children it has already reaped: a process
that exited is counted once, in its parent's reaped total, and a
difference of two snapshots is the CPU the whole tree used in between.
Everything below the JVM (the daemon, its workers, and whatever they
reaped) is Python-worker CPU.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped children cpu s)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:  # exited between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    own = (int(f[11]) + int(f[12])) / _TICK
    reaped = (int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), own, reaped


@dataclass
class Snapshot:
    driver_cpu: float
    jvm_cpu: float
    pyworker_cpu: float
    pids: tuple[int, ...]

    @property
    def cpu(self) -> float:
        return self.driver_cpu + self.jvm_cpu + self.pyworker_cpu


def snapshot() -> Snapshot:
    """CPU seconds of this process and all of its descendants, split
    into driver, JVM and Python workers."""
    root = os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    driver = jvm = pyw = 0.0
    pids = []
    # (pid, inside the JVM's subtree?)
    stack = [(root, False)]
    while stack:
        pid, below_jvm = stack.pop()
        st = stats.get(pid)
        if st is None:
            continue
        comm, _, own, reaped = st
        pids.append(pid)
        if pid == root:
            driver += own + reaped
        elif below_jvm:
            pyw += own + reaped
        elif comm == "java":
            jvm += own
            pyw += reaped  # daemons/workers the JVM already waited for
            below_jvm = True
        else:
            driver += own + reaped
        stack.extend((c, below_jvm) for c in children.get(pid, ()))
    return Snapshot(driver, jvm, pyw, tuple(pids))


def steal_share(t0: tuple[float, float], t1: tuple[float, float]) -> float:
    """Share of this machine's CPU time between two ``host_clock()``
    readings that the hypervisor ran something else on its CPUs instead
    (the steal column of /proc/stat)."""
    return (t1[1] - t0[1]) / ((t1[0] - t0[0]) * os.cpu_count())


def host_clock() -> tuple[float, float]:
    """(monotonic s, CPU s stolen from this machine so far)."""
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8]) / _TICK
    return time.monotonic(), steal


def pss(pids) -> int:
    """Summed proportional set size of ``pids`` in bytes. Forked Python
    workers share most pages with their daemon; PSS counts each shared
    page once across the sharers, where RSS would count it per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited since the tree was listed
            continue
    return total


class MemorySampler:
    """Background thread recording the peak summed PSS of the tree."""

    def __init__(self, interval: float = 0.5):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, pss(snapshot().pids))
            self._stop.wait(self._interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

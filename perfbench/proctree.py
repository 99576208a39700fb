"""CPU and resident memory of one process tree, read from /proc.

The tree is the benchmark's worker process, the Spark JVM it launches
and the Python UDF workers the JVM forks.  CPU is summed as
utime + stime + cutime + cstime over every live process of the tree, so
a worker that exits between two readings is still counted: its parent
reaps it and its time moves into the parent's cutime/cstime.  Memory is
the proportional set size (PSS): the Python workers are forks of one
daemon, and summing their RSS would count every page they share once
per worker.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm start at index 3 of the stat line: state=0, ppid=1,
    # utime=11, stime=12, cutime=13, cstime=14
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), cpu


def _pss(pid: int) -> int:
    """Proportional set size in bytes; 0 if the process has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree(root: int) -> dict[int, tuple[str, int, float]]:
    """Every live process under ``root`` (inclusive), keyed by pid."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    out, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            frontier.extend(p for p, st in procs.items() if st[1] == pid)
    return out


def steal_s() -> float:
    """Machine-wide CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


class Reading:
    """One reading of the tree, split by role: the JVM, the Python UDF
    workers under it, and the worker process itself."""

    def __init__(self, root: int):
        self.t = time.time()
        self.steal = steal_s()
        self.jvm_cpu = self.python_cpu = self.driver_cpu = 0.0
        self.pss = 0
        jvm = None
        procs = tree(root)
        for pid, (comm, ppid, cpu) in procs.items():
            self.pss += _pss(pid)
            if pid == root:
                self.driver_cpu = cpu
            elif comm == "java" and ppid == root:
                jvm = pid
        for pid, (comm, ppid, cpu) in procs.items():
            if pid == root:
                continue
            if pid == jvm:
                self.jvm_cpu = cpu
            else:
                self.python_cpu += cpu
        # a JVM reaped by the root moves into its cutime; the total is
        # what the cpu_s metric reads
        self.cpu = self.jvm_cpu + self.python_cpu + self.driver_cpu


class Sampler:
    """Background thread that reads this process's tree every ``period``
    seconds.
    ``peak_pss(t0, t1)`` and ``python_cpu_in(spans)`` answer from the
    series; the caller takes exact readings at the window edges."""

    def __init__(self, period: float):
        self.root = os.getpid()
        self.period = period
        self.samples: list[Reading] = []
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.read()

    def read(self) -> Reading:
        r = Reading(self.root)
        with self._lock:
            self.samples.append(r)
        return r

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_pss(self, t0: float, t1: float) -> int:
        with self._lock:
            return max((s.pss for s in self.samples if t0 <= s.t <= t1),
                       default=0)

    def python_cpu_in(self, spans: list[tuple[float, float]]) -> float:
        """Python UDF worker CPU accrued inside the given wall spans,
        interpolated linearly between readings."""
        with self._lock:
            pts = [(s.t, s.python_cpu) for s in self.samples]

        def at(t: float) -> float:
            prev = None
            for ts, v in pts:
                if ts >= t:
                    if prev is None or ts == prev[0]:
                        return v
                    return prev[1] + (v - prev[1]) * (t - prev[0]) / (ts - prev[0])
                prev = (ts, v)
            return pts[-1][1] if pts else 0.0

        return sum(max(0.0, at(b) - at(a)) for a, b in spans)

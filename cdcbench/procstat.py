"""Process-tree and on-disk probes: CPU, peak RSS, JVM GC/JIT, directory bytes.

The benchmark process owns the whole tree it measures: the Python driver,
the Spark driver JVM it launches, and the JVM's Python daemon and workers.
Everything is read from ``/proc`` so no probe adds a thread or a process.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot names its JIT compiler threads "C1 CompilerThreadN" / "C2 ...";
# /proc truncates a thread name to 15 characters
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _scan() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def tree_pids(root: int | None = None, procs: dict | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    procs = _scan() if procs is None else procs
    root = os.getpid() if root is None else root
    found = {root}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in found and pid not in found:
                found.add(pid)
                grew = True
    return sorted(p for p in found if p in procs)


def tree_cpu_s() -> float:
    """CPU seconds used by this process tree, reaped children included."""
    procs = _scan()
    return sum(procs[p][1] for p in tree_pids(procs=procs)) / _TICK


def tree_jit_cpu_s() -> float:
    """CPU seconds of the JVM's JIT compiler threads in this process tree.

    The JVM runs with ``-XX:-UseDynamicNumberOfCompilerThreads`` so these
    threads live as long as the JVM and their time is never lost with them.
    """
    ticks = 0
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm = stat[stat.index("(") + 1 : stat.rindex(")")]
            if comm.startswith(_JIT_THREADS):
                fields = stat[stat.rindex(")") + 2 :].split()
                ticks += int(fields[11]) + int(fields[12])
    return ticks / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the ones still alive."""
    deadline = time.time() + timeout_s
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


class JvmClock:
    """Cumulative GC seconds of the Spark driver JVM, read over py4j from
    the platform management beans."""

    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

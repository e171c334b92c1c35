"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The program under test is this Python process (the Spark driver side:
plan building, seam bookkeeping), the JVM it launched, and the Python
workers the JVM forks. Processes the benchmark starts for itself (the
loopback Jira server) are separate children of this process and are
left out by construction: only this process and the JVM's subtree are
summed.

The machine-wide ``busy`` and ``steal`` counters of ``/proc/stat`` give
the share of wanted CPU time the hypervisor granted over an interval;
the benchmark scales wall times by it (``run._granted_wall``).

A process that exits is reaped by its parent, whose ``cutime``/
``cstime`` then carry its whole CPU time, so summing ``utime + stime +
cutime + cstime`` over the live subtree counts every process once,
whether it is still running or not.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    ppid: int
    comm: str
    cpu_s: float        # own utime + stime
    child_cpu_s: float  # reaped children's cutime + cstime
    rss_mb: float


def _read(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listing and reading
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    return Proc(ppid=int(rest[1]), comm=comm,
                cpu_s=(int(rest[11]) + int(rest[12])) / _TICK,
                child_cpu_s=(int(rest[13]) + int(rest[14])) / _TICK,
                rss_mb=int(rest[21]) * _PAGE / 1e6)


def snapshot() -> dict[int, Proc]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read(int(name))
            if p is not None:
                out[int(name)] = p
    return out


def subtree(snap: dict[int, Proc], root: int) -> list[int]:
    """``root`` and all its live descendants in ``snap``."""
    kids: dict[int, list[int]] = {}
    for pid, p in snap.items():
        kids.setdefault(p.ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in snap:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU seconds of this machine since boot, summed over
    its CPUs, from ``/proc/stat``. ``steal`` is time a CPU wanted to run
    but the hypervisor ran another guest instead."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = t
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def granted(busy: float, steal: float) -> float:
    """Share of the CPU time this machine wanted over an interval that
    the hypervisor granted, from the interval's busy and steal seconds."""
    return busy / (busy + steal) if busy > 0 else 1.0


def hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    return 0.0


@dataclass(frozen=True)
class Sample:
    wall: float
    cpu_s: float          # this process + JVM subtree
    pyworker_cpu_s: float  # Python processes under the JVM
    pyworker_rss_mb: float
    busy_s: float         # whole machine, from /proc/stat
    steal_s: float


class Sampler:
    """Samples the program's CPU and Python-worker RSS; remembers the
    peak summed worker RSS seen at any sample."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_worker_rss_mb = 0.0

    def sample(self) -> Sample:
        wall = time.perf_counter()
        own = time.process_time()
        snap = snapshot()
        jvm_cpu = py_cpu = py_rss = 0.0
        for pid in subtree(snap, self.jvm_pid):
            p = snap[pid]
            total = p.cpu_s + p.child_cpu_s
            jvm_cpu += total
            if p.comm.startswith("python"):
                py_cpu += total
                py_rss += p.rss_mb
        self.peak_worker_rss_mb = max(self.peak_worker_rss_mb, py_rss)
        return Sample(wall, own + jvm_cpu, py_cpu, py_rss, *host_cpu())

    def peak_rss_mb(self) -> float:
        """JVM ``VmHWM`` plus the peak summed Python-worker RSS."""
        return hwm_mb(self.jvm_pid) + self.peak_worker_rss_mb

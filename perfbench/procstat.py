"""CPU time and resident memory of the benchmark's process tree: this
Python driver, the JVM it launched and the JVM's Python workers."""

from __future__ import annotations

import os
import threading
import time
from typing import NamedTuple

_TICK_S = 1 / os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: Linux names (truncated to 15 characters) of the JVM's JIT compiler
#: threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class Usage(NamedTuple):
    cpu_s: float  # every thread of every process in the tree
    jit_s: float  # the JVM's JIT compiler threads, a part of cpu_s
    rss: int  # bytes

    @property
    def work_s(self) -> float:
        """CPU seconds spent on the program's work: all but JIT compiling."""
        return self.cpu_s - self.jit_s


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a /proc stat file."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 1:].split()


def _jit_ticks(pid: int) -> int:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    ticks = 0
    for tid in tids:
        stat = _stat(f"/proc/{pid}/task/{tid}/stat")
        if stat is not None and stat[0].startswith(JIT_THREADS):
            ticks += int(stat[1][11]) + int(stat[1][12])  # utime, stime
    return ticks


def tree_usage(threads: bool = True) -> Usage:
    """CPU and RSS summed over this process and all its descendants, from
    /proc. CPU counts user + system time of every live process plus what its
    reaped children used, so a Python worker that exited is still counted
    once. ``threads=False`` skips the per-thread JIT split (``jit_s`` 0).
    The JVM must keep its compiler threads for its whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or the split loses the
    time of those that exit."""
    stats: dict[int, tuple[str, list[str]]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            stat = _stat(f"/proc/{entry}/stat")
            if stat is not None:
                stats[int(entry)] = stat
                children.setdefault(int(stat[1][1]), []).append(int(entry))
    ticks = jit = rss = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid not in stats:
            continue
        comm, fields = stats[pid]
        ticks += sum(int(f) for f in fields[11:15])  # utime, stime, cutime, cstime
        rss += int(fields[21]) * _PAGE
        if threads and comm == "java":
            jit += _jit_ticks(pid)
    return Usage(ticks * _TICK_S, jit * _TICK_S, rss)


#: ``reference_s()`` on this 4-vCPU VM when its other tenants were quiet
REFERENCE_NOMINAL_S = 0.070


def reference_s() -> float:
    """Thread CPU seconds of a fixed piece of allocation-heavy Python work
    (a 200,000-entry dict, then a sort of its values): how much CPU time
    this host needs right now for a fixed amount of work. A shared host
    stretches it, and the program's CPU time with it, by up to a fifth."""
    t = time.thread_time()
    table = {i: str(i) for i in range(200_000)}
    sorted(table.values(), key=len)
    return time.thread_time() - t


class RssSampler(threading.Thread):
    """Peak summed RSS of the process tree, sampled every 0.2 s; traced runs
    only, so its own CPU stays out of untraced runs."""

    def __init__(self):
        super().__init__(name="perfbench-rss", daemon=True)
        self.peak = 0
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.wait(0.2):
            self.peak = max(self.peak, tree_usage(threads=False).rss)

"""CPU time and peak resident memory of the engine's processes, from /proc.

The engine's processes are this Python process and its descendants: the
driver JVM, the PySpark worker daemon and its Python workers.

CPU time is the figure the benchmark gates on, rather than wall time: on a
virtual machine, time stolen by the hypervisor and time waiting on a shared
disk stretch wall time from one run to the next, and neither accrues CPU
time.

The JIT compiler threads' share of that CPU time is reported on its own
(``jit_cpu_seconds``). The engine's plans generate more classes per
operation than Spark's codegen cache holds (100 entries), so every
operation hands HotSpot fresh classes to compile: on a 4-vCPU host, about
half of a ``profile_codec`` operation's CPU time.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _processes() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces; the fields after ')' are fixed
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), fields)
    return out


def _descendants(procs, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    found, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        found.append(pid)
        stack.extend(children.get(pid, []))
    return found


def cpu_seconds() -> float:
    """User + system CPU seconds used so far by this process and its
    descendants, including descendants' reaped children (exited workers)."""
    procs = _processes()
    me = os.times()
    total = me.user + me.system
    for pid in _descendants(procs, os.getpid()):
        f = procs[pid][1]
        # utime, stime, cutime, cstime (fields 14-17 of stat)
        total += sum(int(x) for x in f[11:15]) / _TICK
    return total


# HotSpot names its compiler threads "C1 CompilerThread<n>" and
# "C2 CompilerThread<n>"; the kernel keeps the first 15 characters
_JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def jit_cpu_seconds() -> float:
    """User + system CPU seconds used so far by the JIT compiler threads of
    the JVMs among this process's descendants.

    Only live threads are counted, so the JVM must keep its compiler
    threads for its whole life (``-XX:-UseDynamicNumberOfCompilerThreads``,
    which ``host.start_session`` passes)."""
    total = 0
    for pid in _descendants(_processes(), os.getpid()):
        if not _is_jvm(pid):
            continue
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
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            if name.startswith(_JIT_THREAD_PREFIXES):
                fields = stat[stat.rindex(")") + 2:].split()
                total += int(fields[11]) + int(fields[12])
    return total / _TICK


class PeakRss:
    """Context manager: a thread samples the summed RSS of this process's
    descendants every ``interval`` seconds; ``peak_mb`` is the highest."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            procs = _processes()
            rss = sum(int(procs[p][1][21]) for p in _descendants(procs, me)) * _PAGE
            self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

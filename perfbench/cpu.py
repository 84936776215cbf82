"""CPU time of the run's process tree, read from ``/proc``.

The tree is the benchmark's own Python process (the Spark driver's Python
side), the driver JVM it launches, and the Python workers the JVM forks.
Unlike an operation's wall time, its CPU time leaves out the time its
threads waited for a core another process of the machine held. The
JVM's JIT compiler threads are counted apart (``jit``): how much they
compile in a given second depends on how far the run's warm-up has got,
which makes them the noisiest part of the total.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


#: name prefixes of HotSpot's JIT compiler threads
_JIT = ("C1 CompilerThre", "C2 CompilerThre")


def parse_stat(raw: str) -> tuple[str, int, float, float]:
    """``(name, ppid, cpu seconds, cpu seconds of reaped children)`` from
    the text of a ``stat`` file of proc(5). The children's part of a
    thread's file is its whole process's."""
    # the command name is in parentheses and may hold spaces and ")"
    f = raw[raw.rfind(")") + 2:].split()
    # fields 4 (ppid), 14-15 (utime, stime) and 16-17 (cutime, cstime)
    name = raw[raw.find("(") + 1:raw.rfind(")")]
    return name, int(f[1]), (int(f[11]) + int(f[12])) / _HZ, (int(f[13]) + int(f[14])) / _HZ


def _stat(path: str) -> tuple[str, int, float, float] | None:
    """:func:`parse_stat` of a file; ``None`` when the process is gone."""
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            return parse_stat(fh.read())
    except OSError:
        return None


def _jit_s(jvm: int, seen: dict[str, float]) -> float:
    """CPU seconds of the JVM's JIT compiler threads. HotSpot starts and
    stops compiler threads as the queue grows and shrinks, so ``seen``
    keeps the last reading of each one, ended threads included."""
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        tids = []
    for tid in tids:
        st = _stat(f"/proc/{jvm}/task/{tid}/stat")
        if st is not None and st[0].startswith(_JIT):
            seen[tid] = st[2]
    return sum(seen.values())


def tree_cpu(root: int, jvm: int | None, jit_seen: dict[str, float]) -> dict[str, float]:
    """CPU seconds used so far by ``root`` (``driver_py``), the JVM's JIT
    compiler threads (``jit``), the rest of the JVM (``jvm``) and every
    other process below either (``workers``)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(f"/proc/{name}/stat")
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out = {"driver_py": 0.0, "jvm": 0.0, "jit": 0.0, "workers": 0.0}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid not in procs:
            continue
        kind = "driver_py" if pid == root else "jvm" if pid == jvm else "workers"
        out[kind] += procs[pid][2] + procs[pid][3]
        stack.extend(children.get(pid, ()))
    if jvm is not None and jvm in procs:
        jit = min(_jit_s(jvm, jit_seen), out["jvm"])
        out["jit"], out["jvm"] = jit, out["jvm"] - jit
    return out


def host_steal() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the whole machine since boot: the
    time a virtual machine's CPUs were ready but held by the host."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def work_ms(split: dict[str, float]) -> float:
    """CPU of an operation from its :func:`tree_cpu` split in ms: every
    process of the tree, the JIT compiler threads left out."""
    return sum(v for k, v in split.items() if k != "jit")


class CpuClock:
    """Samples :func:`tree_cpu` of one run's process tree."""

    def __init__(self, root: int, jvm: int | None):
        self.root, self.jvm = root, jvm
        self._jit_seen: dict[str, float] = {}

    def split(self) -> dict[str, float]:
        return tree_cpu(self.root, self.jvm, self._jit_seen)

"""CPU time of the benchmark's process tree, read from ``/proc``.

The end-to-end figures are CPU seconds, not wall seconds: on a shared
virtual machine the host takes whole cores away for minutes at a time
(``steal`` in ``/proc/stat``), which stretches the wall time of a pass
2-3 fold while the kernel keeps that stolen time out of every task's
CPU time (paravirtual steal accounting).
"""

from __future__ import annotations

import os

#: Thread names (``comm``, cut to 15 characters) of the JVM's JIT
#: compilers. Their work is warm-up that fades over a run at its own pace,
#: so the meter leaves it out.
COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def parse_stat(text: str) -> tuple[str, int, int, int]:
    """``(comm, ppid, own ticks, reaped children's ticks)`` of one
    ``/proc/<pid>/stat`` line; ticks are user + system time."""
    head, rest = text.rsplit(")", 1)
    f = rest.split()
    return (head.split("(", 1)[1], int(f[1]), int(f[11]) + int(f[12]),
            int(f[13]) + int(f[14]))


def _stat(path: str) -> tuple[str, int, int, int] | None:
    try:
        with open(path) as f:
            return parse_stat(f.read())
    except (OSError, ValueError, IndexError):
        return None  # the process or thread ended meanwhile


class CpuMeter:
    """CPU seconds of this process and every live descendant (the driver
    JVM, the Python worker daemon and its workers), including the children
    they have reaped, less the JVM's JIT compiler threads."""

    def __init__(self) -> None:
        self.tick = os.sysconf("SC_CLK_TCK")
        self.jit: dict[tuple[int, int], int] = {}  # (pid, tid) -> last ticks seen
        self.other: set[tuple[int, int]] = set()  # threads known not to compile

    def read(self) -> float:
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit() and (s := _stat(f"/proc/{d}/stat")) is not None:
                procs[int(d)] = s
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid not in procs:
                continue
            comm, _, own, reaped = procs[pid]
            total += own + reaped
            if comm == "java":
                self._compilers(pid)
            todo.extend(children.get(pid, []))
        return (total - sum(self.jit.values())) / self.tick

    def _compilers(self, pid: int) -> None:
        """Update the ticks of ``pid``'s compiler threads. A thread that
        ended keeps its last reading, which its process total still holds."""
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            key = (pid, int(tid))
            if key in self.other:
                continue
            s = _stat(f"/proc/{pid}/task/{tid}/stat")
            if s is None:
                continue
            if s[0].startswith(COMPILER_THREADS):
                self.jit[key] = s[2]
            else:
                self.other.add(key)

"""CPU time of the run: this process and every process below it (the
Spark JVM, Spark's Python workers), read from /proc.

The JVM's JIT compiler threads are left out. Every distinct query makes
Spark generate and load new classes, so the compilers stay busy for the
whole run, by amounts that follow the host's scheduling rather than the
work. The JVM is started with a fixed set of compiler threads (see
``env.JVM_OPTS``), so none exit and take their time with them.

CPU time leaves out the time a thread waits for a processor the host gave
to someone else, which wall time counts; that makes it the steadier
measure of how much work an operation costs on a shared machine.
"""

from __future__ import annotations

import os

_TCK = os.sysconf("SC_CLK_TCK")
_JIT = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, or None if gone."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    close = s.rindex(")")
    return s[s.index("(") + 1:close], s[close + 2:].split()


def _tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(f"/proc/{d}/stat")
            if st is not None:
                kids.setdefault(int(st[1][1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def seconds() -> float:
    """CPU seconds used so far by the process tree, reaped children
    included, JIT compiler threads excluded."""
    total = 0
    for pid in _tree(os.getpid()):
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        f = st[1]
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        if len(tids) > 1:
            for tid in tids:
                t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if t is not None and t[0].startswith(_JIT):
                    total -= int(t[1][11]) + int(t[1][12])
    return total / _TCK

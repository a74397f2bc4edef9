"""Host context recorded with every run: CPU steal, load average and the
process tree's CPU time.  Linux ``/proc`` only; elsewhere the readings are
reported as absent."""

from __future__ import annotations

import os
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def steal_s() -> float | None:
    """Host-wide CPU steal so far, in CPU-seconds (the 8th field of the
    ``cpu`` line of /proc/stat)."""
    try:
        fields = Path("/proc/stat").read_text().splitlines()[0].split()
        return int(fields[8]) / _TICK
    except (OSError, IndexError, ValueError):
        return None


def loadavg() -> list[float] | None:
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except (OSError, ValueError):
        return None


def _stat_fields(stat: str) -> list[str]:
    """The fields of a /proc stat line after the ``(comm)`` field."""
    return stat[stat.rfind(")") + 2:].split()


def _tree(root: int) -> tuple[list[int], dict[int, list[str]]]:
    """The pids of ``root`` and its live descendants, with their stat fields."""
    children: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            rest = _stat_fields((d / "stat").read_text())
        except OSError:
            continue
        p = int(d.name)
        children.setdefault(int(rest[1]), []).append(p)
        fields[p] = rest
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in fields:
            pids.append(p)
        todo += children.get(p, [])
    return pids, fields


def tree_cpu_s(pid: int | None = None) -> float:
    """User+system CPU seconds of ``pid`` (default: this process) and its
    live descendants (the Spark JVM and its Python workers), including the
    children each of them has reaped."""
    pids, fields = _tree(pid or os.getpid())
    return sum(sum(int(x) for x in fields[p][11:15]) for p in pids) / _TICK


def jit_cpu_s(pid: int | None = None) -> float:
    """User+system CPU seconds of the JVM's JIT compiler threads (HotSpot's
    ``C1/C2 CompilerThread``) in the same process tree."""
    total = 0
    for p in _tree(pid or os.getpid())[0]:
        try:
            tasks = list(Path(f"/proc/{p}/task").iterdir())
        except OSError:
            continue
        for t in tasks:
            try:
                stat = (t / "stat").read_text()
            except OSError:
                continue
            if stat[stat.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                total += sum(int(x) for x in _stat_fields(stat)[11:13])
    return total / _TICK


def work_cpu_s() -> float:
    """This process tree's CPU seconds without its JIT compiler threads:
    the CPU the program's own work costs.  The JIT's share of a cold
    process's first operation is large (a third, on a 4-core host) and
    varies from process to process."""
    return tree_cpu_s() - jit_cpu_s()

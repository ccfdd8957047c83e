"""Process-tree counters read from ``/proc`` (``psutil`` is not a
dependency): CPU seconds and peak resident memory of a process and all
of its descendants — the Spark application's Python process, the JVM
it launches, and the JVM's Python worker daemon and workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _fields(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of /proc/<pid>/stat: ``rest[0]`` is
    field 3 (state), so field N is ``rest[N - 3]``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces and parens: split after the last ')'
    head, _, rest = raw.rpartition(")")
    return head.partition("(")[2], rest.split()


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    got = _fields(pid)
    if got is None:
        return None
    comm, f = got
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])  # fields 14-17
    return int(f[1]), comm, (utime + stime + cutime + cstime) / _TICK


def session(sid: int) -> list[int]:
    """Live (non-zombie) processes of one session. The PySpark worker
    daemon moves to its own process group but stays in the session."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            got = _fields(int(name))
            if got is not None and got[1][0] != "Z" and int(got[1][3]) == sid:
                out.append(int(name))
    return out


def tree(root: int) -> dict[int, tuple[str, float]]:
    """``{pid: (comm, cpu_s)}`` for ``root`` and every live descendant."""
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm, _cpu) in info.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = (info[pid][1], info[pid][2])
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree. A process that exits between two reads
    moves its time into its parent's cutime/cstime once reaped, so the
    difference of two reads counts it either way."""
    return sum(cpu for _comm, cpu in tree(root).values())


def tree_hwm_mb(root: int) -> dict[str, float]:
    """VmHWM (peak resident set) in MiB over the live tree, summed per
    command name (``java``, ``python3``, ...)."""
    out: dict[str, float] = {}
    for pid, (comm, _cpu) in tree(root).items():
        out[comm] = out.get(comm, 0.0) + _vm_hwm_kb(pid) / 1024.0
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0

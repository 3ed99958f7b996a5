"""CPU time and peak memory of this process tree, read from ``/proc``.

The tree is the driver Python process, the JVM it launches, and the
JVM's Python worker processes. A process's CPU is its own user+system
time plus that of the children it has reaped, so workers that exit
between two readings are still counted through their parent.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _fields(pid: int | str) -> tuple[str, list[str]] | None:
    """(comm, the fields after comm) of ``/proc/<pid>/stat``, or None.
    The list starts at field 3 (state): ppid=4, pgrp=5, utime=14 ...
    cstime=17, starttime=22."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _stat(pid: int) -> tuple[str, int, float, int] | None:
    """(comm, ppid, cpu seconds incl. reaped children, pgrp) or None."""
    f = _fields(pid)
    if f is None:
        return None
    comm, rest = f
    ppid, pgrp = int(rest[1]), int(rest[2])
    cpu = sum(int(x) for x in rest[11:15]) / TICK
    return comm, ppid, cpu, pgrp


def _all() -> dict[int, tuple[str, int, float, int]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                procs[int(name)] = st
    return procs


def group(pgid: int) -> list[int]:
    """Processes of process group ``pgid`` that have not ended (zombies,
    which have ended but wait for their parent, are left out)."""
    out = []
    for name in os.listdir("/proc"):
        f = _fields(name) if name.isdigit() else None
        if f and f[1][0] != "Z" and int(f[1][2]) == pgid:
            out.append(int(name))
    return out


def tree(root: int | None = None) -> dict[int, tuple[str, int, float, int]]:
    """Every live process under ``root`` (default: this process)."""
    root = root or os.getpid()
    procs = _all()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            todo.extend(p for p, st in procs.items() if st[1] == pid)
    return out


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far: ``driver`` (this Python process), ``jvm``,
    ``workers`` (Python processes under the JVM) and ``total``."""
    root = root or os.getpid()
    t = tree(root)
    driver = t[root][2] if root in t else 0.0
    jvms = {p for p, st in t.items() if st[0] == "java"}
    workers = 0.0
    for pid, (comm, ppid, _cpu, _pgrp) in t.items():
        if comm.startswith("python") and pid != root:
            # a worker counts once: through the highest Python ancestor
            # below the JVM (the daemon), whose cutime holds reaped forks
            if ppid in jvms:
                workers += _subtree_cpu(t, pid)
    total = sum(st[2] for st in t.values())
    return {
        "driver": driver,
        "jvm": sum(t[p][2] for p in jvms),
        "workers": workers,
        "total": total,
    }


def _subtree_cpu(t: dict[int, tuple], pid: int) -> float:
    cpu, todo = 0.0, [pid]
    while todo:
        p = todo.pop()
        cpu += t[p][2]
        todo.extend(c for c, st in t.items() if st[1] == p)
    return cpu


def peak_rss_mb(root: int | None = None) -> float:
    """VmHWM of the driver Python process plus the JVM, in MB."""
    root = root or os.getpid()
    pids = [root] + [p for p, st in tree(root).items() if st[0] == "java"]
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    start_ticks = int(_fields("self")[1][19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / TICK

"""CPU, written bytes and peak memory of the benchmark's process tree.

The tree is this process plus every descendant: the Spark JVM that
pyspark launches and the Python workers the JVM forks.  Figures come
from ``/proc/<pid>/{stat,io,status}``; a process that ends between
two readings keeps its CPU in its parent's ``cutime``/``cstime`` once
reaped, so CPU deltas stay whole, while its written bytes and peak
memory are lost with it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # the command name (field 2) may hold spaces: split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree() -> list[int]:
    """This process and all of its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def sample() -> dict[str, float]:
    """Cumulative user+system CPU seconds (reaped children included),
    cumulative bytes written (``wchar``: files, shuffle, spill, pipes
    and sockets), and the summed peak resident set (``VmHWM``) of the
    live tree."""
    cpu = wchar = hwm_kb = 0.0
    for pid in tree():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            cpu += sum(int(x) for x in fields[11:15]) / _TICK
        io = _read(f"/proc/{pid}/io")
        if io is not None:
            for line in io.splitlines():
                if line.startswith("wchar:"):
                    wchar += int(line.split()[1])
        status = _read(f"/proc/{pid}/status")
        if status is not None:
            for line in status.splitlines():
                if line.startswith("VmHWM:"):
                    hwm_kb += int(line.split()[1])
    return {"cpu_s": cpu, "wchar_b": wchar, "hwm_mb": hwm_kb / 1024.0}


def steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests (the steal
    column of ``/proc/stat``, summed over CPUs): contention this run
    cannot control."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK

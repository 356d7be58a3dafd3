"""CPU time and resident memory of the benchmark's process tree, read
from /proc (Linux only).

The tree is this Python process plus every descendant: the JVM that
PySpark launches and any Python workers the JVM forks. CPU time is
utime+stime of each live process plus cutime+cstime (its reaped
children), so work done by short-lived workers is not lost.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; split after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all of its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """Summed user+system CPU seconds of the process tree."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """High-water RSS (VmHWM) of this Python process plus the JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    kb += _status_kb(pid, "VmHWM")
        except OSError:
            pass
    return kb / 1024.0

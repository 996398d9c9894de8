"""The processes of one engine run: the worker, its JVM and the JVM's Python
workers. They share the worker's session; they do not share a process
group, because PySpark's worker daemon makes a group of its own."""

from __future__ import annotations

import os


def session_stats(sid: int) -> list[list[str]]:
    """The /proc/<pid>/stat fields after the command name (state first) of
    every live process in session `sid`; ended processes not yet reaped
    (state Z) are left out."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append([pid, *fields])
    return out


def session_cpu_s(sid: int) -> float:
    """CPU seconds used so far by the live processes of session `sid`,
    with the workers they have reaped (cutime, cstime). The kernel leaves
    time stolen by the host out of these counters."""
    ticks = sum(sum(int(x) for x in f[12:16]) for f in session_stats(sid))
    return ticks / os.sysconf("SC_CLK_TCK")


def session_rss(sid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[22]) * page for f in session_stats(sid))

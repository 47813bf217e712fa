"""Process accounting: the driver JVM and Python workers are children of
this process, found through /proc."""

from __future__ import annotations

import os
import resource

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name is parenthesised and may hold spaces
        return f.read().rsplit(")", 1)[1].split()


def children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d))[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = children(todo.pop())
        out += kids
        todo += kids
    return out


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every
    process under it: the driver JVM and its Python workers."""
    total = sum(os.times()[:2])
    for pid in descendants(os.getpid()):
        try:
            fields = _stat_fields(pid)
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / CLK_TCK
    return total


def peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                st = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if st.get("Name", "").strip() == "java":
            total_kb += int(st["VmHWM"].split()[0])
    return total_kb / 1024.0

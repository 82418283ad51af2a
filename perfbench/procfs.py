"""The few ``/proc`` reads the benchmark needs (Linux only)."""

from __future__ import annotations

import os
from typing import NamedTuple


class Stat(NamedTuple):
    ppid: int
    comm: str
    cpu_ticks: int  # utime + stime + cutime + cstime: reaped children count
    start_ticks: int  # tells a process from a later one with its pid


def stat(pid: int) -> Stat | None:
    """Parsed ``/proc/<pid>/stat``, or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; the fields after it start
    # with field 3 (state): ppid is field 4, utime..cstime 14..17,
    # starttime 22
    fields = raw[raw.rindex(")") + 2 :].split()
    return Stat(
        int(fields[1]),
        raw[raw.index("(") + 1 : raw.rindex(")")],
        sum(int(x) for x in fields[11:15]),
        int(fields[19]),
    )


def tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = stat(int(entry))
            if st is not None:
                kids.setdefault(st.ppid, []).append(int(entry))
    out, todo = [root], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    """Resident set of one process (VmRSS), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def argv(pid: int) -> list[bytes]:
    """Command line of a process, [] if it is gone."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().split(b"\0")
    except OSError:
        return []

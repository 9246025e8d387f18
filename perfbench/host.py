"""Process-tree and host readings from /proc (Linux).

The Spark JVM is a child of the client and the Python workers are
children of the JVM, so one walk from the JVM's launcher process covers
every process that does the engine's work.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its descendants that are alive now."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def group(pgid: int) -> list[int]:
    """Live processes of process group ``pgid``."""
    return [int(e) for e in os.listdir("/proc")
            if e.isdigit() and (f := _stat_fields(int(e))) is not None and int(f[2]) == pgid]


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's own peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
                    break
        except OSError:
            pass
    return kb / 1024


def steal_and_total() -> tuple[int, int]:
    """Host-wide (steal ticks, all ticks) from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice,
    # which are already counted in user/nice]
    return fields[7], sum(fields[:8])


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop that does not depend on the
    program: a reading of how fast this host runs right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc += i * i
    return time.perf_counter() - t0

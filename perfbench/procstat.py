"""Process-tree accounting from /proc: external CPU load and peak RSS.

The external-load method is the one ``bench.py`` uses for its per-leg
audit, copied here so the benchmark does not import the old harness:
all-CPU busy jiffies from /proc/stat minus the jiffies this process tree
(the Python driver, the Spark JVM it launched and that JVM's Python
workers) burned in the same window, divided by the window. The result is
co-tenant cores on average. It is a diagnostic only: no run is dropped or
retried because of it.
"""

from __future__ import annotations

import os
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _total_busy_jiffies() -> int:
    """All-CPU busy jiffies (everything except idle+iowait) since boot."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return -1
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals) - idle


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime) for every readable process."""
    table: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue  # raced a process exit
        try:
            rest = s[s.rindex(")") + 2:].split()
            table[int(d)] = (
                int(rest[1]),
                int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
            )
        except (ValueError, IndexError):
            continue
    return table


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    out = []
    for pid in table:
        p, seen = pid, set()
        while p > 1 and p not in seen:
            if p == root:
                out.append(pid)
                break
            seen.add(p)
            p = table.get(p, (1, 0))[0]
    return out


def _tree_jiffies() -> int:
    """CPU jiffies of this process tree. Reaped children fold into the
    parent's cutime/cstime and leave /proc, so live-sum + cutime never
    double-counts."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids() if p in table)


class ExternalLoad:
    """Co-tenant cores averaged over the window from construction to
    :meth:`cores` (-1.0 when /proc is unreadable)."""

    def __init__(self) -> None:
        self._b0 = _total_busy_jiffies()
        self._o0 = _tree_jiffies()
        self._t0 = time.perf_counter()

    def cores(self) -> float:
        wall = time.perf_counter() - self._t0
        db = _total_busy_jiffies() - self._b0
        if self._b0 < 0 or db < 0:
            return -1.0
        own = _tree_jiffies() - self._o0
        return max(0.0, (db - own) / _HZ / max(wall, 1e-9))


def peak_rss_mb() -> float:
    """Sum of per-process peak resident set (VmHWM) over the live process
    tree, in MiB. Each process's own peak is exact; their sum bounds the
    tree's simultaneous peak from above."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2:].split()[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 60.0) -> bool:
    """Block until none of ``pids`` is alive (zombies count as ended;
    ours are reaped here). True on success, False on timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if not [p for p in pids if _alive(p)]:
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.2)

"""Process-tree accounting from /proc: resident memory, CPU time, and the
busy/steal core sample ``bench.py`` uses for host load."""

from __future__ import annotations

import os
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return s[s.rindex(")") + 2:].split()


def _all_stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int) -> dict[int, list[str]]:
    """``root`` and all its live descendants, with their stat fields."""
    stats = _all_stats()
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def resident_bytes(root: int) -> int:
    """Resident memory of ``root``'s tree with each shared page counted
    once: the sum of PSS. Plain RSS counts the pages a forked Python
    worker shares with its parent (or a JVM shares with the helper it
    spawns) once per process."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited since the tree was read
    return total


def cpu_seconds(root: int) -> float:
    """User + system CPU of ``root`` and its live descendants."""
    return sum(int(st[11]) + int(st[12]) for st in tree(root).values()) / _HZ


def session_pids(sid: int) -> list[int]:
    return [pid for pid, st in _all_stats().items() if int(st[3]) == sid]


def _cpu_sample():
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    return sum(v), v[3] + v[4], (v[7] if len(v) > 7 else 0)


def host_load(interval: float = 0.2) -> dict:
    """Busy and steal cores of the whole host over ``interval`` seconds."""
    t1, i1, s1 = _cpu_sample()
    time.sleep(interval)
    t2, i2, s2 = _cpu_sample()
    dt = max(t2 - t1, 1)
    n = os.cpu_count() or 1
    return {
        "busy_cores": round(n * (1.0 - (i2 - i1) / dt), 2),
        "steal_cores": round(n * (s2 - s1) / dt, 2),
    }

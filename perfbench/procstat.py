"""CPU time and peak memory of this process's descendants (the Spark JVM
and its Python workers), read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out: list[int] = []
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime + cutime + cstime summed over ``pids``."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """VmHWM in MB summed over ``pids``, split by process name (``java``,
    ``python``…)."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                name = f.readline().split()[1]
                for line in f:
                    if line.startswith("VmHWM:"):
                        key = "java" if name == "java" else "python"
                        out[key] = out.get(key, 0.0) + int(line.split()[1]) / 1024
                        break
        except OSError:
            pass
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the ``steal`` column of /proc/stat); a call that was slowed by a busy
    host shows it here."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0

"""CPU time and resident memory of the benchmark's process tree, read from /proc.

Three roles: the driver (this process), the JVM it launches (processes named
``java`` below it) and the Python workers below the JVM. CPU time is utime +
stime plus the cutime + cstime of reaped children, so a worker that exited and
was waited for still counts through its parent.
"""

from __future__ import annotations

import os
import threading
import time

ROLES = ("driver", "jvm", "pyworker")
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.02  # how often PeakRss reads the memory of known processes


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: [state, ppid, ...]."""
    s = _read(f"/proc/{pid}/stat")
    if s is None:
        return None
    return s[s.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from /proc/stat.
    Steal is time a hypervisor ran something else while one of the machine's
    virtual CPUs was ready: it stretches wall time but not CPU time."""
    fields = [int(v) for v in _read("/proc/stat").split("\n", 1)[0].split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


class ProcTree:
    """The process tree below this process, grouped into ROLES."""

    def __init__(self):
        self.root = os.getpid()

    def groups(self) -> dict[str, list[int]]:
        kids = _children_map()
        out: dict[str, list[int]] = {r: [] for r in ROLES}
        out["driver"].append(self.root)
        stack = [(k, "driver") for k in kids.get(self.root, [])]
        while stack:
            pid, parent_role = stack.pop()
            comm = (_read(f"/proc/{pid}/comm") or "").strip()
            if comm == "java":
                role = "jvm"
            elif parent_role in ("jvm", "pyworker"):
                role = "pyworker"
            else:
                role = "driver"
            out[role].append(pid)
            stack.extend((k, role) for k in kids.get(pid, []))
        return out

    def descendants(self) -> list[int]:
        g = self.groups()
        return [p for r in ROLES for p in g[r] if p != self.root]

    @staticmethod
    def cpu_of(pids: list[int]) -> float:
        total = 0
        for pid in pids:
            f = _stat_fields(pid)
            if f is not None:
                total += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
        return total / _TICK

    @staticmethod
    def rss_of(pids: list[int]) -> int:
        total = 0
        for pid in pids:
            s = _read(f"/proc/{pid}/statm")
            if s is not None:
                total += int(s.split()[1]) * _PAGE
        return total

    def cpu(self) -> dict[str, float]:
        """CPU seconds used so far by each role."""
        g = self.groups()
        return {r: self.cpu_of(g[r]) for r in ROLES}


class PeakRss:
    """Samples the tree's resident memory in a background thread and keeps the
    peak per role and of the Python processes together (the driver and the
    workers, read at the same instant). The process list is refreshed once a
    second; the memory of known processes every RSS_INTERVAL_S seconds."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak = {r: 0 for r in ROLES}
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        groups, refreshed = self.tree.groups(), time.monotonic()
        while True:
            now = {r: ProcTree.rss_of(groups[r]) for r in ROLES}
            for r in ROLES:
                self.peak[r] = max(self.peak[r], now[r])
            self.peak_python = max(self.peak_python, now["driver"] + now["pyworker"])
            if self._stop.wait(RSS_INTERVAL_S):
                return
            if time.monotonic() - refreshed >= 1.0:
                groups, refreshed = self.tree.groups(), time.monotonic()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

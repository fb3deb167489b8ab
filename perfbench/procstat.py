"""CPU and resident memory of this process and all its descendants, from /proc.

The tree is the benchmark process, the Spark JVM it launches and the
Python workers the JVM forks. CPU counts user + system time of every
live process in the tree plus the time of children they have already
reaped, so workers that exit mid-run are not lost. One sampler thread
polls the summed RSS and keeps its peak.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm is parenthesised and may contain spaces
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def tree_pids(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, parent pid) for ``root`` and its descendants."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is None:
            continue
        pid, ppid = int(entry), int(st[2])
        info[pid] = (st[0], ppid)
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid]
        todo.extend(children.get(pid, []))
    return out


def cpu_times() -> list[int]:
    """Host-wide jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``cpu_times()`` readings (field 8 of the cpu line)."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(sum(delta[:8]), 1)


def wait_gone(pids, timeout: float) -> list[int]:
    """Wait until none of ``pids`` runs any more (gone or zombie);
    return those still running at the timeout."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if (st := _stat(p)) is not None and st[1] != "Z"]
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.1)


class ProcessTree:
    """CPU-seconds and RSS of a process tree; ``start()`` runs the RSS
    sampler thread, ``close()`` stops it and waits for it."""

    INTERVAL = 0.1  # seconds between RSS samples
    RESCAN = 1.0  # seconds between walks of /proc for new processes

    def __init__(self):
        self.root = os.getpid()
        self._pids = tree_pids(self.root)
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="procstat", daemon=True)

    def start(self) -> "ProcessTree":
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        last_scan = time.monotonic()
        while not self._stop.wait(self.INTERVAL):
            now = time.monotonic()
            if now - last_scan >= self.RESCAN:
                self._pids, last_scan = tree_pids(self.root), now
            rss = self.rss_bytes()
            with self._lock:
                self._peak = max(self._peak, rss)

    def rss_bytes(self) -> int:
        """Resident memory of the tree. The Spark Python workers are forked
        from one daemon and share pages with it, so they count by their
        proportional share (PSS); the other processes by RSS, except a
        child still carrying its parent's name: a fork or spawn of the JVM
        that has not yet exec'd, whose RSS is the JVM's own memory."""
        total = 0
        pids = self._pids
        for pid, (name, ppid) in list(pids.items()):
            forked = pid != self.root and name.startswith("python")
            if not forked and ppid in pids and pids[ppid][0] == name:
                continue
            try:
                if forked:
                    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                        pss = next(line for line in f if line.startswith(b"Pss:"))
                    total += int(pss.split()[1]) * 1024
                else:
                    with open(f"/proc/{pid}/statm", "rb") as f:
                        total += int(f.read().split()[1]) * _PAGE
            except (OSError, StopIteration, IndexError, ValueError):
                continue
        return total

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = self.rss_bytes()

    def peak_rss_bytes(self) -> int:
        with self._lock:
            return max(self._peak, self.rss_bytes())

    def cpu_seconds(self, python_workers_only: bool = False) -> float:
        """Summed CPU time of the tree, read now. With
        ``python_workers_only``, only Python processes other than the
        benchmark process itself (the Spark Python workers)."""
        pids = tree_pids(self.root)
        self._pids = pids
        ticks = 0
        for pid, (name, _) in pids.items():
            if python_workers_only and (pid == self.root or not name.startswith("python")):
                continue
            st = _stat(pid)
            if st is None:
                continue
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            ticks += sum(int(x) for x in st[12:16])
        return ticks / _TICK

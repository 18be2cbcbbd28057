"""Peak summed memory of the Spark JVM and its Python workers, from /proc.

The JVM is found by pid; the Python daemon and workers are its
descendants.  Each process counts its proportional set size (PSS: resident
pages, each shared page split among the processes sharing it), so the pages
forked workers share with their daemon count once and the sum is the
footprint of the process tree.  One sampling thread polls while a pass
runs."""

from __future__ import annotations

import os
import threading
from typing import Dict, List

_TICK = os.sysconf("SC_CLK_TCK")


def _ppid_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # process exited between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree(root: int) -> List[int]:
    """``root`` and every live (or not yet reaped) descendant of it."""
    kids = _ppid_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            total += _pss_bytes(pid)
        except OSError:  # process exited while being read
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, including the children each has reaped.  The guest kernel
    accounts hypervisor steal separately, so this is the work done, not
    the time it took."""
    ticks = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # process exited while being read
            continue
        # fields 14-17: utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


class PeakRss:
    """``with PeakRss(jvm_pid) as p: ...`` then ``p.peak_mb``."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self.root = root_pid
        self.interval = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)

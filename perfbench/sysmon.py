"""Process memory sampling and the same-window CPU probe."""
from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf('SC_PAGE_SIZE')
_PROBE_ITERS = 2_000_000


def _children_map() -> dict:
    """ppid -> [pid] over every process visible in /proc"""
    out: dict = {}
    for name in os.listdir('/proc'):
        if not name.isdigit():
            continue
        try:
            with open(f'/proc/{name}/stat') as fh:
                stat = fh.read()
        except OSError:  # process ended while listing
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat[stat.rindex(')') + 2:].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f'/proc/{p}/statm') as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """samples the summed RSS of every descendant of this process (the JVM
    and its Python workers) on a background thread while active"""

    def __init__(self, interval: float = 0.05, rescan: float = 1.0):
        self.interval = interval
        self.rescan = rescan
        self._pids: list = []
        self._scanned = 0.0
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self):
        # walking /proc costs milliseconds; the process tree changes rarely
        now = time.monotonic()
        if now - self._scanned > self.rescan:
            self._pids = descendants(os.getpid())
            self._scanned = now
        rss = rss_bytes(self._pids)
        with self._lock:
            self._peak = max(self._peak, rss)

    def take(self) -> int:
        """peak bytes since the previous ``take``, counting a sample taken
        now, so a short action still gets one"""
        self.sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def steal_ticks() -> int:
    """host-wide CPU time stolen by the hypervisor, in clock ticks"""
    with open('/proc/stat') as fh:
        return int(fh.readline().split()[8])


def cpu_probe() -> float:
    """single-thread pure-Python work units per second; a throttled window
    reads low here in the same proportion it slows the Python kernel"""
    t0 = time.perf_counter()
    x = 0
    for i in range(_PROBE_ITERS):
        x += i * i
    return _PROBE_ITERS / (time.perf_counter() - t0)

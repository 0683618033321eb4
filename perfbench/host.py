"""Host facts the benchmark records and the limits it derives from them.

Nothing here adjusts a metric: the steal probe, load average and core count
are recorded next to the results so a reader can judge the run's noise.
"""

from __future__ import annotations

import os
import threading

GB = 1024.0 ** 3


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


# Driver heap: fixed, so that GC work and peak RSS do not follow the other
# tenants' memory use; with the Python workers it fits a 15 GB box.
DRIVER_HEAP_GB = 3


def noise_state(repo_root) -> dict:
    """Steal probe (the same fresh-subprocess kernel probe as bench.py),
    load average and core count."""
    import sys

    sys.path.insert(0, str(repo_root))
    import bench

    probe_ms = bench._steal_probe()
    return {"steal_probe_ms": probe_ms,
            "steal_index": probe_ms / bench.STEAL_REF_MS,
            "loadavg": list(os.getloadavg()),
            "nproc": cpu_count()}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_by_command(pids) -> dict[str, int]:
    """Resident bytes summed per command name ("java", "python3", ...)."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers it forks), sampled every ``interval`` seconds while
    armed."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(self.interval):
            if self._armed:
                parts = rss_by_command(descendants(me))
                if sum(parts.values()) > self.peak:
                    self.peak, self.at_peak = sum(parts.values()), parts

    def arm(self):
        self.peak, self.at_peak = 0, {}
        self._armed = True

    def disarm(self) -> float:
        """Stop sampling; returns the peak in GB."""
        self._armed = False
        return self.peak / GB

    def close(self):
        self._stop.set()
        self._thread.join()

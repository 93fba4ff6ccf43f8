"""Machine facts from ``/proc``: the per-run stamp and process-tree
memory sampling.

``getrusage(RUSAGE_CHILDREN)`` misses the Spark JVM (it is a
grandchild that is still running when the CLI's Python exits), so
peak RSS is sampled instead: every ``interval`` seconds, the summed
resident set of the CLI process and all its descendants.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _meminfo_kib(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class Stamp:
    """Machine state at the start and end of one benchmark run."""

    def __init__(self) -> None:
        self.cpus = len(os.sched_getaffinity(0))
        self.mem_total_mib = _meminfo_kib("MemTotal") // 1024
        self.load_start = _loadavg()
        self._cpu_start = _cpu_times()

    def finish(self, **extra) -> dict:
        end = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu_start, end)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        return {
            "nproc": self.cpus,
            "mem_total_mib": self.mem_total_mib,
            "loadavg_start": self.load_start,
            "loadavg_end": _loadavg(),
            "cpu_steal_share": round(delta[7] / total, 4) if len(delta) > 7 else 0.0,
            **extra,
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _descendants(root: int) -> list[int]:
    kids = _children_map()
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


class TreeSampler:
    """Samples the summed RSS of ``pid``'s process tree until stopped.
    The tree is re-listed every ``rescan`` samples: walking all of
    ``/proc`` costs far more than reading a few ``statm`` files, and
    the sampler shares the cores with the run it measures."""

    def __init__(self, pid: int, interval: float = 0.2, rescan: int = 5) -> None:
        self.peak = 0
        self._pid = pid
        self._interval = interval
        self._rescan = rescan
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        tick = 0
        while not self._stop.is_set():
            if tick % self._rescan == 0:
                tree = _descendants(self._pid)
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree))
            tick += 1
            self._stop.wait(self._interval)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak

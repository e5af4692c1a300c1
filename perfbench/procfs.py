"""Process-tree and host readings from ``/proc`` (Linux only).

The benchmark's process tree is the driver Python process, the JVM it
launches and the JVM's Python worker daemons and workers.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (field 3 on),
    or ``None`` if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def tree(root: int) -> list[tuple[int, int]]:
    """``root`` and every live descendant, each with its depth below ``root``."""
    children: dict[int, list[int]] = {}
    for pid in _all_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [(root, 0)]
    while todo:
        pid, depth = todo.pop()
        out.append((pid, depth))
        todo.extend((child, depth + 1) for child in children.get(pid, ()))
    return out


def session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    out = []
    for pid in _all_pids():
        fields = _stat_fields(pid)
        if fields is not None and int(fields[3]) == sid and fields[0] != "Z":
            out.append(pid)
    return out


def _cpu_and_rss(pid: int) -> tuple[float, float] | None:
    """(user plus system CPU seconds, resident MB) of one process."""
    fields = _stat_fields(pid)
    if fields is None:
        return None
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK, int(fields[21]) * _PAGE / 2**20


class TreeSampler:
    """Samples the process tree under ``root`` every ``interval`` seconds on
    a background thread, between ``start()`` and ``stop()``.

    * ``cpu_s``: CPU the tree used in the interval. Each process counts from
      its first to its last sample, so a Python worker that exits mid-run
      keeps what it used and no CPU from before ``start()`` leaks in.
    * ``peak_rss_mb``: the largest sum of resident sets over the tree at
      one sample; ``peak_rss_by_role`` the same per role (the root process,
      its children, deeper descendants).
    """

    def __init__(self, root: int, interval: float = 0.5) -> None:
        self.root = root
        self.interval = interval
        self.first: dict[int, float] = {}
        self.last: dict[int, float] = {}
        self.peak_rss_mb = 0.0
        self.peak_rss_by_role = [0.0, 0.0, 0.0]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True, name="tree-sampler")

    def _sample(self, initial: bool = False) -> None:
        rss = [0.0, 0.0, 0.0]
        for pid, depth in tree(self.root):
            reading = _cpu_and_rss(pid)
            if reading is None:
                continue
            cpu, mb = reading
            # A process first seen after start() was born in the interval.
            self.first.setdefault(pid, cpu if initial else 0.0)
            self.last[pid] = cpu
            rss[min(depth, 2)] += mb
        self.peak_rss_mb = max(self.peak_rss_mb, sum(rss))
        self.peak_rss_by_role = [max(a, b) for a, b in zip(self.peak_rss_by_role, rss)]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._sample(initial=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def cpu_s(self) -> float:
        return sum(self.last[pid] - self.first[pid] for pid in self.last)


def cpu_times() -> list[int]:
    """The host's aggregate ``cpu`` line of ``/proc/stat``, in ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 else 0.0


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints without
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))

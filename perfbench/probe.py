"""Measurements taken from outside the program: ``/proc`` process-tree CPU
and RSS, host CPU steal from ``/proc/stat``, and an in-memory span log.

The process tree is this benchmark process and every descendant: the Spark
driver JVM and the Python workers it forks.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return data[data.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pids) -> set[int]:
    """The pids that still run (zombies count as ended)."""
    out = set()
    for pid in pids:
        f = _stat_fields(pid)
        if f and f[0] != "Z":
            out.add(pid)
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of the live tree, plus what its members have
    already reaped from exited children."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f:
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * PAGE_MB


def process_age_s() -> float:
    """Seconds since this process started (``/proc`` resolution, 10 ms)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / CLK_TCK


def host_cpu() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies of all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[3] + v[4], v[7]


def host_window(a: tuple[int, int, int], b: tuple[int, int, int]) -> dict:
    """steal% and busy% of the host between two :func:`host_cpu` readings."""
    total = max(b[0] - a[0], 1)
    steal = b[2] - a[2]
    return {
        "steal_pct": 100.0 * steal / total,
        "busy_pct": 100.0 * (total - (b[1] - a[1]) - steal) / total,
    }


class RssSampler:
    """Background thread recording the peak summed RSS of the tree while
    sampling is switched on."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            if self._on.is_set():
                self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sampling(self, on: bool) -> None:
        if on:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._on.set()
        else:
            self._on.clear()


class Spans:
    """Spans (name, start, end, parent, run id) around the benchmark's calls
    into the program, kept in memory and written out at the end. Disabled,
    it records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)


class _Span:
    def __init__(self, log: Spans, name: str, attrs: dict):
        self.log, self.name, self.attrs = log, name, attrs
        self.start = self.end = 0.0

    def __enter__(self) -> "_Span":
        if self.log.enabled:
            self.id = len(self.log.records)
            self.parent = self.log._stack[-1] if self.log._stack else None
            self.log.records.append({})
            self.log._stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, exc_type, *exc) -> None:
        self.end = time.perf_counter()
        if self.log.enabled:
            self.log._stack.pop()
            self.log.records[self.id] = {
                "id": self.id,
                "name": self.name,
                "start": self.start,
                "end": self.end,
                "parent": self.parent,
                "run_id": self.log.run_id,
                "ok": exc_type is None,
                **self.attrs,
            }

    @property
    def seconds(self) -> float:
        return self.end - self.start

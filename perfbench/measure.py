"""Order statistics, run-health probes and the resident-memory sampler.

Nothing here touches Spark: the sampler is handed a callable that names
the JVM's pid once a session exists.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading
import time
from collections.abc import Callable, Sequence

# Percentiles the tail may use, highest first; 50 is the floor.
_LADDER = (99.9, *range(99, 49, -1))
TAIL_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # rounded first so that 99.9% of 10,000 is exactly 9,990
    return max(0, math.ceil(round(p * n / 100.0, 9)) - 1)


def nearest_rank(sorted_vals: Sequence[float], p: float) -> float:
    """Nearest-rank percentile of an ascending sequence."""
    return sorted_vals[_rank(p, len(sorted_vals))]


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(percentile, value): the highest percentile of ``values`` with at
    least ``beyond`` samples above its nearest-rank position.  With too
    few samples for any percentile of at least 50, the median is used."""
    vals = sorted(values)
    n = len(vals)
    if not n:
        raise ValueError("no samples")
    for p in _LADDER:
        k = _rank(p, n)
        if n - 1 - k >= beyond:
            return float(p), vals[k]
    return 50.0, p50(vals)


def p50(values: Sequence[float]) -> float:
    """Nearest-rank median, so that no tail can read below it."""
    return nearest_rank(sorted(values), 50.0)


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def mean(values: Sequence[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def calib_burn() -> float:
    """Seconds for a fixed single-thread pure-CPU burn (sha256 of 128 MiB).
    A slow burn marks a noisy window on the box, not slow code."""
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(128):
        h.update(buf)
    return time.perf_counter() - t0


def steal_seconds() -> float:
    """Box-wide steal time so far, from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Samples the summed RSS of this process plus the JVM and every
    process under it (the Python workers) on a background thread."""

    def __init__(self, jvm_pid: Callable[[], int | None], interval: float = 0.25):
        self._jvm_pid = jvm_pid
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_kb = 0
        self.peak_parts: dict[str, float] = {}
        self._t0 = time.perf_counter()

    def sample(self) -> None:
        jvm = self._jvm_pid()
        workers = _descendants(jvm)[1:] if jvm else []
        parts = {
            "driver_mb": _rss_kb(os.getpid()) / 1024.0,
            "jvm_mb": _rss_kb(jvm) / 1024.0 if jvm else 0.0,
            "workers_mb": sum(_rss_kb(p) for p in workers) / 1024.0,
            "workers": len(workers),
            "at_s": time.perf_counter() - self._t0,
        }
        total = parts["driver_mb"] + parts["jvm_mb"] + parts["workers_mb"]
        if total * 1024.0 > self.peak_kb:
            self.peak_kb, self.peak_parts = total * 1024.0, parts

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Health:
    """Run-health record: steal seconds over the run and the CPU burn
    before and after it."""

    def __init__(self) -> None:
        self.burn_before = calib_burn()
        self._steal0 = steal_seconds()
        self.burn_after = 0.0
        self.steal_s = 0.0

    def finish(self) -> None:
        self.steal_s = steal_seconds() - self._steal0
        self.burn_after = calib_burn()

    def record(self) -> dict:
        return {
            "burn_before_s": self.burn_before,
            "burn_after_s": self.burn_after,
            "steal_s": self.steal_s,
        }

    def layers(self) -> dict[str, float]:
        return {
            "box.steal_s": self.steal_s,
            "box.burn_s": max(self.burn_before, self.burn_after),
        }

"""Sample statistics and the process-tree memory sampler.

Every timing sample a run takes is kept: summaries report the count,
median and quartiles of all of them, never a minimum.
"""

from __future__ import annotations

import math
import os
import statistics
import threading


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0 ≤ p ≤ 100) of all
    samples, the same rule as ``statistics.quantiles(method='inclusive')``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile out of range: {p}")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def supported_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest of the usual tail percentiles that still leaves at least
    ``beyond`` samples above it out of ``n``; None if not even the
    median does."""
    for per_mille in (999, 990, 950, 900, 750, 500):
        if n * (1000 - per_mille) >= beyond * 1000:
            return per_mille / 10.0
    return None


def summary(values: list[float]) -> dict:
    """Count, median, quartiles and the supported tail of the samples."""
    out = {"n": len(values)}
    if not values:
        return out
    out.update(
        median=median(values),
        p25=percentile(values, 25.0),
        p75=percentile(values, 75.0),
        min=min(values),
        max=max(values),
    )
    tail = supported_percentile(len(values))
    if tail is not None:
        out["tail_pct"] = tail
        out["tail"] = percentile(values, tail)
    return out


def _children_map(proc: str) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as fh:
                stat = fh.read()
        except OSError:  # process ended while listing
            continue
        # the command name (field 2) may hold spaces: parse after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(proc: str, pid: int) -> int:
    try:
        with open(os.path.join(proc, str(pid), "status")) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root_pid: int, proc: str) -> list[int]:
    kids = _children_map(proc)
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        if pid not in out:
            out.append(pid)
            stack.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int, proc: str = "/proc") -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MiB
    (the driver, the JVM it launched and the JVM's Python workers)."""
    return sum(_rss_kb(proc, pid) for pid in _tree(root_pid, proc)) / 1024.0


class RssSampler:
    """Background thread that samples the process tree's RSS every
    ``interval`` seconds and keeps the peak. Use as a context manager."""

    def __init__(self, root_pid: int | None = None, interval: float = 0.2,
                 proc: str = "/proc"):
        self.root_pid = os.getpid() if root_pid is None else root_pid
        self.interval = interval
        self.proc = proc
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> float:
        mb = tree_rss_mb(self.root_pid, self.proc)
        self.peak_mb = max(self.peak_mb, mb)
        self.samples += 1
        return mb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)
        self.sample()
        return self.peak_mb

    def __enter__(self) -> "RssSampler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

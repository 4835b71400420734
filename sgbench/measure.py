"""Small measurement helpers: order statistics and process-tree memory."""

from __future__ import annotations

import math
import os
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return float(xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)])


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n samples."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values, percentiles=TAIL_PERCENTILES) -> tuple[float, float] | None:
    """(p, value) for the highest percentile with at least MIN_BEYOND
    samples beyond it, or None when there are too few samples for any."""
    n = len(values)
    for p in sorted(percentiles, reverse=True):
        if beyond(n, p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while scanning
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Process ids of every descendant of a process (default: this one)."""
    kids = _children()
    out, todo = [], list(kids.get(os.getpid() if root is None else root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_mb(root: int | None = None) -> float:
    """Summed resident set size of a process and all its descendants
    (this Python process, the JVM, the Python workers), in MB."""
    root = os.getpid() if root is None else root
    total_kb = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakRss:
    """Peak of ``tree_rss_mb`` over explicit sample points (no sampler
    thread: the benchmark's load model is one closed-loop client)."""

    def __init__(self) -> None:
        self.peak = 0.0

    def sample(self) -> float:
        self.peak = max(self.peak, tree_rss_mb())
        return self.peak

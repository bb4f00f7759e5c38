"""Pure helpers: percentiles, quartiles, span self time, space amplification.

Nothing here imports the library or Spark, so the unit tests in
``perfbench/tests`` run in a second.
"""

from __future__ import annotations

import math
import os
import statistics

# A percentile is reported only when at least this many samples lie
# strictly beyond its rank.
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Smallest sample count whose ``q``-quantile (0 < q < 1) has at
    least MIN_BEYOND samples above it."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile must lie in (0, 1), got {q}")
    n = MIN_BEYOND
    while samples_beyond(n, q) < MIN_BEYOND:
        n += 1
    return n


def rank(n: int, q: float) -> int:
    """0-based index of the nearest-rank ``q``-quantile of ``n`` sorted
    samples."""
    if n < 1:
        raise ValueError("no samples")
    return min(n - 1, max(0, math.ceil(q * n) - 1))


def samples_beyond(n: int, q: float) -> int:
    """Samples ranked strictly above the ``q``-quantile of ``n``."""
    return n - 1 - rank(n, q)


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile; raises when fewer than MIN_BEYOND
    samples lie beyond it, so an unsupported percentile is never
    reported."""
    n = len(samples)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        raise ValueError(
            f"p{round(q * 100)} needs {MIN_BEYOND} samples beyond it; have {n} samples"
        )
    return sorted(samples)[rank(n, q)]


def boundary_ratio(samples: list[float], q: float) -> float:
    """Sample ranked just above the ``q``-quantile divided by the one
    ranked just below it. A ratio well above 1 flags a percentile that
    sits on the boundary between two modes of the distribution."""
    s = sorted(samples)
    r = rank(len(s), q)
    lo, hi = s[max(r - 1, 0)], s[min(r + 1, len(s) - 1)]
    return hi / lo if lo > 0 else float("inf")


def median(values: list[float]) -> float:
    return statistics.median(values)


def mean_or_zero(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals``
    covers; overlapping intervals are counted once."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    counted once, and a child sticking out of its parent only counts
    inside it). Each span is a dict with ``id``, ``parent`` (an id or
    None), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def tree_bytes(root: str) -> int:
    """Bytes of every regular file under ``root``."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def space_amplification(stored_bytes: int, live_body_bytes: int) -> float:
    """Bytes the store keeps on disk per byte of live user JSON."""
    if live_body_bytes <= 0:
        raise ValueError("no live user bytes")
    return stored_bytes / live_body_bytes


def peak_rss_mb(pid: str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def wchar() -> int:
    """Bytes this process has passed to write() so far."""
    with open("/proc/self/io") as fh:
        for line in fh:
            if line.startswith("wchar:"):
                return int(line.split()[1])
    raise RuntimeError("wchar missing from /proc/self/io")

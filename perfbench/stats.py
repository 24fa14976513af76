"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
from collections.abc import Iterable, Mapping


def median(values: Iterable[float]) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no samples")
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    pos = (len(v) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie strictly above the q-th
    percentile's position."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def tail_percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """The q-th percentile, or None when fewer than ``min_beyond``
    samples lie beyond it (too few to say anything about the tail)."""
    if samples_beyond(len(values), q) < min_beyond:
        return None
    return percentile(values, q)


def geomean_of_medians(by_kind: Mapping[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median."""
    meds = [median(v) for v in by_kind.values() if v]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

"""Small, dependency-free statistics used by the benchmark.

Everything here is pure Python so the self-tests run without Spark.
"""

from __future__ import annotations

import math
import statistics
from typing import Iterable, List, Optional, Sequence, Tuple

#: a tail percentile is reported only when at least this many samples lie
#: beyond it; otherwise it would be one or two outliers, not a tail
MIN_TAIL_SAMPLES = 10


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    if lo == hi:
        return float(xs[lo])
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail_samples(n: int, q: float) -> int:
    """Number of samples strictly beyond the ``q``-th percentile of ``n``."""
    return int(math.floor(n * (100.0 - q) / 100.0))


def tail(values: Sequence[float], q: float) -> Optional[float]:
    """The ``q``-th percentile, or None when fewer than
    :data:`MIN_TAIL_SAMPLES` samples lie beyond it."""
    if tail_samples(len(values), q) < MIN_TAIL_SAMPLES:
        return None
    return percentile(values, q)


TAIL_LEVELS = (99.0, 95.0, 90.0, 75.0)


def summary(values: Sequence[float]) -> dict:
    """Median and sample count, the p90 where the rule allows, and the
    highest of :data:`TAIL_LEVELS` that the sample supports."""
    out = {"n": len(values),
           "p50": percentile(values, 50) if values else None,
           "p90": tail(values, 90) if values else None, "tail": None}
    for q in TAIL_LEVELS:
        v = tail(values, q) if values else None
        if v is not None:
            out["tail"] = {"q": q, "value": v}
            break
    return out


def union_ms(intervals: Iterable[Tuple[float, float]],
             lo: Optional[float] = None,
             hi: Optional[float] = None) -> float:
    """Total length covered by ``intervals``, each clipped to [lo, hi].

    Overlapping and nested intervals count once, so the result is the
    wall time during which at least one interval was open."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def relative_iqr(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    if med == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(med)


def mean(values: List[float]) -> Optional[float]:
    """Arithmetic mean; None for no samples, never a made-up 0."""
    return sum(values) / len(values) if values else None

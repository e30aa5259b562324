"""Summary statistics shared by the benchmark and its tests.

Nothing here imports Spark, so the rules can be tested on their own.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

# Candidate tail percentiles, highest first. A tail is reported at the
# highest one that still has at least MIN_BEYOND samples above it, so a
# short run never reports a "p99" that rests on one or two samples.
TAIL_PERCENTILES = (99, 90, 75, 50)
MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least pct%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail(values: Sequence[float]) -> dict:
    """The highest of TAIL_PERCENTILES with at least MIN_BEYOND samples
    strictly above it. Returns the value, which percentile it is, how
    many samples lie beyond it and the sample count. When even the
    median has fewer than MIN_BEYOND samples beyond it, ``pct`` is None
    and the value is the maximum: the run is too short for a tail."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        v = percentile(values, pct)
        beyond = sum(1 for x in values if x > v)
        if beyond >= MIN_BEYOND:
            return {"value": v, "pct": pct, "beyond": beyond, "n": n}
    return {"value": float(max(values)), "pct": None, "beyond": 0, "n": n}


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("geomean of no samples")
    if any(v <= 0 for v in vals):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def kind_medians(samples: Sequence[tuple[str, float]]) -> dict[str, float]:
    """Median latency per op kind from (kind, seconds) samples."""
    by_kind: dict[str, list[float]] = {}
    for kind, sec in samples:
        by_kind.setdefault(kind, []).append(sec)
    return {k: median(v) for k, v in sorted(by_kind.items())}


def failed_frac(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def drift_ratio(samples: Sequence[tuple[str, float]]) -> float:
    """Mean of the first half of a window over the mean of its second
    half, each sample first divided by its kind's median so that the
    order of a mixed set of ops does not show up as drift. 1.0 means no
    trend; above 1 means the window was still getting faster."""
    if len(samples) < 2:
        return 1.0
    meds = kind_medians(samples)
    norm = [sec / meds[kind] for kind, sec in samples]
    half = len(norm) // 2
    first, second = norm[:half], norm[len(norm) - half:]
    return (sum(first) / len(first)) / (sum(second) / len(second))


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total

"""Order statistics the benchmark reports.

Latencies are reported as a median and a fixed tail percentile. The
rule for the tail is the highest percentile that leaves at least
``TAIL_BEYOND`` samples above it at the sample count the workload
produces in one run (``tail_percentile``). Each workload fixes its
percentile (``Workload.tails``) from the counts its window yields at
the benchmark's window length, so every run reports the same one; a
workload whose window yields too few samples for the rule to give a
percentile above the median reports its slowest operation (p100)
instead.
"""

from __future__ import annotations

import math

# samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the ``numpy`` default method):
    rank ``pct/100 * (n - 1)`` between the two nearest order
    statistics."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= pct <= 100:
        raise ValueError(f"percentile {pct} outside [0, 100]")
    xs = sorted(values)
    rank = pct / 100 * (len(xs) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int:
    """Highest whole percentile p with at least ``beyond`` of ``n``
    samples strictly above rank p: ``n * (1 - p/100) >= beyond``.
    Returns 0 when the sample is too small to leave ``beyond`` samples
    above any percentile."""
    if n <= beyond:
        return 0
    return max(0, math.floor(100 * (n - beyond) / n))


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above percentile ``pct``."""
    return n - math.ceil(pct / 100 * n)

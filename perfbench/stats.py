"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only with at least this many samples
#: beyond it
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float | None:
    """Highest whole percentile ``p`` that leaves at least ``min_beyond``
    of ``n`` samples strictly above its rank (``n * (1 - p/100) >=
    min_beyond``), or None when ``n`` is too small for any."""
    if n < min_beyond + 1:
        return None
    return float(math.floor(100.0 * (n - min_beyond) / n))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def latency_summary(values: list[float]) -> dict:
    """Median and tail of a latency sample, with the tail's percentile
    and the sample count. With fewer than ``2 * TAIL_MIN_BEYOND``
    samples no percentile at or above the median has enough samples
    beyond it, and the tail is the median."""
    p = tail_percentile(len(values))
    med = statistics.median(values)
    if p is None or p < 50:
        return {"n": len(values), "p50": med, "tail_pct": 50.0, "tail": med}
    return {"n": len(values), "p50": med, "tail_pct": p,
            "tail": percentile(values, p)}

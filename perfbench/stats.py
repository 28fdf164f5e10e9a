"""Order statistics shared by the runner and its self-checks."""

from __future__ import annotations

import statistics

# a tail percentile is reported only when at least this many samples lie
# beyond it, and only when that percentile reaches p90
TAIL_BEYOND = 10
TAIL_MIN_PCT = 90.0


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float]) -> dict | None:
    """The highest nearest-rank percentile with TAIL_BEYOND samples beyond it.

    With n sorted samples, the sample at 1-based rank k has n - k samples
    beyond it, so the highest admissible rank is n - TAIL_BEYOND, which is
    the (100 * k / n)-th percentile. Returns None (the metric is omitted)
    when that percentile is below TAIL_MIN_PCT, i.e. when n < 100."""
    n = len(values)
    k = n - TAIL_BEYOND
    if k < 1:
        return None
    pct = 100.0 * k / n
    if pct < TAIL_MIN_PCT:
        return None
    return {"value": sorted(values)[k - 1], "pct": pct, "n": n}

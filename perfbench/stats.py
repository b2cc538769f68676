"""Order statistics used by every metric of the benchmark."""

from __future__ import annotations

import statistics

# A tail percentile is reported only where at least this many samples lie
# beyond it, so one slow sample cannot move it by itself.
TAIL_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile of ``xs`` with at least ``beyond`` samples
    above it in rank: returns ``(value, percentile, n)``. The value is the
    sample of rank ``n - beyond`` (1-based), so exactly ``beyond`` samples
    rank after it; its percentile is ``100 * (n - beyond) / n``."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    return float(s[n - beyond - 1]), 100.0 * (n - beyond) / n, n

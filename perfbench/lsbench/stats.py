"""Summary statistics for latency samples."""

from __future__ import annotations

from typing import Sequence

#: A tail percentile needs at least this many samples beyond it.
MIN_BEYOND = 10


def quantile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return quantile(values, 0.5)


def tail_q(n: int, nominal: float = 0.90) -> float:
    """The highest percentile, at most ``nominal``, with at least
    ``MIN_BEYOND`` of ``n`` samples beyond it; the median when ``n`` is too
    small for any tail (the caller reports ``n`` and the ``q`` used)."""
    if n <= 0:
        raise ValueError("tail of no samples")
    return max(0.5, min(nominal, 1.0 - MIN_BEYOND / n))


def tail(values: Sequence[float], nominal: float = 0.90) -> tuple[float, float]:
    """(value, q) at :func:`tail_q`."""
    q = tail_q(len(values), nominal)
    return quantile(values, q), q

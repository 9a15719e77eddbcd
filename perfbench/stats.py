"""Order statistics used by every workload's report."""

from __future__ import annotations

import statistics


def quantile(values, p: float) -> float:
    """Linear-interpolated quantile of ``values`` at ``p`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = p * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(units: int) -> float:
    """The tail percentile a sample of ``units`` independent units supports:
    the highest level with at least ten units beyond it, ``1 - 10/units``.
    A tail is never reported below the median, so fewer than 20 units give
    the median (0.5)."""
    if units <= 0:
        raise ValueError("no units")
    return max(0.5, 1.0 - 10.0 / units)


def tail(values, units: int | None = None) -> tuple[float, float]:
    """(value, level) of the tail of ``values``. ``units`` is the number of
    independent units behind the sample when that is not one per value,
    as for freshness, where all blocks of one micro-batch share a commit."""
    level = tail_level(len(values) if units is None else units)
    return quantile(values, level), level


def spread(values) -> float:
    """Run-to-run spread: inter-quartile distance over the median, with the
    quartiles of ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2

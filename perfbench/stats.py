"""The tail rule for reported timings.

A ``*.tail`` value is the highest percentile that still has at least
``TAIL_BEYOND`` samples above it; it is reported with that percentile and
the sample count, so a tail drawn from few samples reads as what it is.
"""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the sorted sample at index ``n-1-beyond``,
    the highest rank with ``beyond`` samples above it. Its percentile is
    ``100 * k / (n - 1)``, the linear-interpolation rank of index ``k``."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"a tail needs more than {beyond} samples, got {n}")
    k = n - 1 - beyond
    return sorted(values)[k], 100.0 * k / (n - 1), n

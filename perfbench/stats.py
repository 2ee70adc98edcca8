"""Order statistics shared by the runner and the workloads."""

from __future__ import annotations

import statistics


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest whole percentile with at least 10 samples beyond it,
    and its value; (None, None) when fewer than 20 samples exist, since
    such a percentile would sit at or below the median."""
    n = len(values)
    if n < 20:
        return None, None
    pct = int(100 * (n - 10) / n)
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1], pct

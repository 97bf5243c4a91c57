"""Summary statistics and metric-name rules shared by the benchmark."""

from __future__ import annotations

import re
import statistics

TAIL_MIN_BEYOND = 10
_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> dict | None:
    """The highest percentile that still has `min_beyond` samples above it.

    With n sorted samples, the k-th smallest (1-based) has n - k samples
    beyond it, so the answer is the (n - min_beyond)-th smallest, at
    percentile 100 * (n - min_beyond) / n. Returns None when n <= min_beyond,
    i.e. when no sample has enough samples beyond it.
    """
    n = len(values)
    k = n - min_beyond
    if k < 1:
        return None
    return {
        "value": sorted(values)[k - 1],
        "percentile": round(100.0 * k / n, 2),
        "samples": n,
    }


def valid_name(name: str) -> bool:
    """Metric and workload names: a letter or digit, then up to 63 letters,
    digits, '_', '.' or '-'."""
    return _NAME.fullmatch(name) is not None

"""Percentiles shared by the harness processes."""

from __future__ import annotations

import math


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile, p in (0, 1]."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]

"""Order statistics for latency samples."""

from __future__ import annotations

import statistics


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def ratio(num: float, den: float, empty: float = 0.0) -> float:
    """``num / den``, or ``empty`` when nothing was measured."""
    return num / den if den else empty

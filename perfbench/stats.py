"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics


def quantile(values: list[float], p: int) -> float:
    if p == 50:
        return statistics.median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it,
    or None when the sample is too small for any of them."""
    for p in (99, 95, 90, 75):
        if len(values) * (100 - p) / 100 >= 10:
            return p, quantile(values, p)
    return None


def timing(values: list[float], unit: str = "s") -> dict:
    """A latency sample as its median, or as its tail with the percentile
    and the sample count (value None when the sample supports no tail)."""
    return {"value": statistics.median(values) if values else None, "unit": unit,
            "n": len(values)}


def tail_timing(values: list[float], unit: str = "s") -> dict:
    t = tail(values)
    return {"value": t and t[1], "unit": unit, "percentile": t and t[0], "n": len(values)}

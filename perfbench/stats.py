"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest percentile of ``values`` that still has at least
    ``beyond`` samples above it: the (beyond+1)-th largest value.

    Returns the value, the percentile it sits at (share of samples at or
    below it, in %), the number of samples beyond it and the sample count.
    Fewer than ``beyond + 1`` samples have no such percentile; the tail is
    then the largest sample, with none beyond it."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    ordered = sorted(values)
    i = n - beyond - 1 if n > beyond else n - 1
    return {
        "value": ordered[i],
        "percentile": 100.0 * (i + 1) / n,
        "beyond": n - 1 - i,
        "samples": n,
    }


def slowest_op(samples: list[tuple[str, float]]) -> dict:
    """The tail operation: the largest per-operation median latency.

    ``samples`` holds (operation, latency) pairs over all timed passes.
    Returns the value, the operation and how many samples it had."""
    if not samples:
        raise ValueError("no samples")
    by_op: dict[str, list[float]] = {}
    for name, latency in samples:
        by_op.setdefault(name, []).append(latency)
    op = max(by_op, key=lambda name: statistics.median(by_op[name]))
    return {"value": statistics.median(by_op[op]), "op": op, "samples": len(by_op[op])}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

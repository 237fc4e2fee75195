"""Latency summaries and the parsing of Spark SQL metric strings."""

from __future__ import annotations

import math
import re
import statistics

MIN_BEYOND = 10


def nearest_rank(sorted_vals: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    rank = max(1, math.ceil(pct / 100.0 * len(sorted_vals)))
    return sorted_vals[rank - 1]


def tail_percentile(values: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least ``MIN_BEYOND`` samples
    above its nearest rank, and its value.  Too few samples for any
    such percentile gives the maximum, reported as percentile 100."""
    vals = sorted(values)
    n = len(vals)
    for pct in range(99, 0, -1):
        if n - max(1, math.ceil(pct / 100.0 * n)) >= MIN_BEYOND:
            return pct, nearest_rank(vals, pct)
    return 100, vals[-1]


def summarize(latencies: list[float]) -> dict:
    pct, tail = tail_percentile(latencies)
    return {
        "n": len(latencies),
        "p50": statistics.median(latencies),
        "tail_pct": pct,
        "tail": tail,
    }


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A Spark SQL metric value as shown by the status store, in base
    units (bytes, seconds, plain counts).  Per-task metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``: the total is
    taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)

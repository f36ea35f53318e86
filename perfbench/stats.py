"""Aggregation and record stamps.

Medians, quartiles and the geometric mean the benchmark reports, and the
host/config stamp every record carries. Two records may be compared only
when their stamps agree on every key in ``COMPARABLE_KEYS``; figures
from another host (or another core count, scale or streaming-state
location) are not evidence about this one.
"""

from __future__ import annotations

import math
import statistics

# stamp keys that must match before two records are compared; seed and
# load averages are recorded but legitimately differ run to run
COMPARABLE_KEYS = (
    "nproc",
    "spark_graft_cpus",
    "master",
    "spark_version",
    "python_version",
    "sf",
    "shuffle_partitions",
    "aqe",
    "driver_memory",
    "checkpoint_location",
    "state_store",
)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float]:
    """First and third quartile, as ``statistics.quantiles(values, n=4)``
    gives them; a single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        return float(values[0]), float(values[0])
    q = statistics.quantiles(values, n=4)
    return float(q[0]), float(q[2])


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def comparable(a: dict, b: dict) -> list[str]:
    """Keys on which two stamps differ (empty list: comparable)."""
    return [k for k in COMPARABLE_KEYS if a.get(k) != b.get(k)]

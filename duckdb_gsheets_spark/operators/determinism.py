"""Helpers that make double-typed aggregates bitwise-reproducible
across engines (Spark vs the DuckDB oracle) and across partitionings.

Floating-point summation is order-dependent; at sf0.1 a 600k-row
double sum can differ between engines by ~1e-4 — enough to break a
value-hash at any rounding. The test data's money-like columns are
exact fixed-point values stored as doubles, so scaling to integers
turns the aggregation into exact long arithmetic (identical in every
engine and under every partitioning); the final integer→double
conversion and the single division are correctly rounded and
deterministic.

``round(x · 10^s)`` recovers the exact integer because the double's
representation error (~1e-12 relative) is far below 0.5 ulp of the
scaled value for the magnitudes in play. Long overflow bound:
|Σ x·10^s| must stay under 2^63 — at scale=6 that is ~9.2e12 in
column units, comfortable through sf10 here. A sum past that bound
needs DECIMAL accumulation instead (``SUM(CAST(x AS DECIMAL(p,s)))``
in both engines, ~3× slower — measured on the q1 aggregate at sf0.1).

A result that changes with partition count is untestable; these
helpers pin it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Deterministic SUM of a fixed-point double column.

    Oracle: ``(CAST(SUM(CAST(ROUND(x * 10^s) AS BIGINT)) AS DOUBLE) / 10^s)``.
    """
    col = F.col(col) if isinstance(col, str) else col
    factor = float(10**scale)
    return (
        F.sum(F.round(col * F.lit(factor)).cast("long")).cast("double")
        / F.lit(factor)
    )


def davg(col: Column | str, scale: int = 2) -> Column:
    """Deterministic AVG: exact scaled-long sum / count, in double.

    Oracle: ``(dsum-expansion / COUNT(x))``.
    """
    col = F.col(col) if isinstance(col, str) else col
    return dsum(col, scale) / F.count(col)


def round_half_away(x: float, ndigits: int = 6) -> float:
    """Python-side rounding that matches SQL ROUND (half AWAY from
    zero) instead of Python's builtin half-even.

    Every Spark-COLUMN rounding in the repo is ``F.round`` (HALF_UP,
    matching DuckDB); this is the same contract for the few values
    assembled driver-side (the multimodal decode stub, iterative-ML
    result assembly). Probe-verified against DuckDB
    ``ROUND(CAST(x AS DOUBLE), n)`` including exact .5 ties.
    """
    import math

    factor = float(10**ndigits)
    return math.copysign(math.floor(abs(x) * factor + 0.5) / factor, x)


def oracle_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB SQL text matching :func:`dsum`."""
    factor = float(10**scale)
    return (
        f"(CAST(SUM(CAST(ROUND(({expr}) * {factor}) AS BIGINT)) AS DOUBLE)"
        f" / {factor})"
    )


def oracle_davg(expr: str, scale: int = 2) -> str:
    """DuckDB SQL text matching :func:`davg`."""
    return f"({oracle_dsum(expr, scale)} / COUNT({expr}))"

"""Exact-decimal aggregation helpers for money-like columns.

The testdata money columns (prices, discounts, event values) are 2-decimal
values stored as doubles. Summing them as doubles makes the result depend on
partial-aggregation order — Spark's 32-partition sum and DuckDB's sum differ
in the last ulp, and because 2-decimal inputs make exact .xx5 half-boundaries
*common*, round(x, 2) then flips on ~2% of groups.

Fix: aggregate in exact DECIMAL (order-independent), round in decimal space,
cast to DOUBLE at the very end. Both engines then produce bit-identical
doubles. Averages/ratios divide the exact decimal sum (as double) by the
exact count, which is also order-independent.

Cost note: decimal aggregation is ~1.5-2× a double sum but stays in whole
stage codegen; for a correctness-gated engine that trade is right, and at
100 TB the shuffled partials are tiny either way.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(12,2)"  # prices, quantities, event values
RATE = "decimal(4,2)"  # discounts, taxes (0.00-1.00)


def money(col: Column | str) -> Column:
    return F.col(col).cast(MONEY) if isinstance(col, str) else col.cast(MONEY)


def rate(col: Column | str) -> Column:
    return F.col(col).cast(RATE) if isinstance(col, str) else col.cast(RATE)


def sum_exact(expr: Column, nd: int = 2) -> Column:
    """Order-independent decimal sum → rounded → double."""
    return F.round(F.sum(expr), nd).cast("double")


def avg_exact(expr: Column, nd: int = 6) -> Column:
    """Exact-sum / exact-count average (deterministic double).

    Default 6dp: a 2-decimal sum divided by a small count can land exactly
    on a 2dp half-boundary, where engine rounding modes disagree; at 6dp no
    reachable p/q value sits near a boundary.
    """
    return F.round(F.sum(expr).cast("double") / F.count(F.lit(1)), nd)


def disc_price() -> Column:
    return money("l_extendedprice") * (1 - rate("l_discount"))


# --- matching DuckDB SQL fragments ---------------------------------------

SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)


def sql_sum_exact(expr: str, nd: int = 2) -> str:
    return f"CAST(round(sum({expr}), {nd}) AS DOUBLE)"


def sql_avg_exact(expr: str, nd: int = 6) -> str:
    return f"round(CAST(sum({expr}) AS DOUBLE) / count(*), {nd})"

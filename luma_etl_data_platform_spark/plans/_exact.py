"""Exact (partition-order-independent) numeric aggregation helpers.

Floating-point sums are non-associative: the same query summed under
a different partition count can differ in the last ulp, and a final
``round(x, 2)`` flips when the true value sits on a half-cent
boundary (observed: q7 volume 137947.485 → .48 vs .49 between
engines). Money-like columns (2-decimal doubles) are therefore cast
to DECIMAL before summing — decimal addition is exact, so the result
is identical for ANY partitioning and any engine — then rounded and
returned as double.

The double→decimal cast itself is safe for 2-dp money data: the
nearest rounding tie is 0.005 away, ~8 orders of magnitude beyond the
double representation error.

The DuckDB oracles mirror the same casts; both engines see identical
decimal sums.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scales: money has 2dp; rates (discount/tax) have ≤4dp.
MONEY = "decimal(18,2)"
RATE = "decimal(9,4)"


def dmoney(c: Column) -> Column:
    return c.cast(MONEY)


def drate(c: Column) -> Column:
    return c.cast(RATE)


def exact_sum(c: Column, scale: int = 2) -> Column:
    """Exact decimal sum → rounded double."""
    return F.round(F.sum(c).cast("decimal(38,6)"), scale).cast("double")


def revenue_expr() -> Column:
    """l_extendedprice * (1 - l_discount), decimal-exact."""
    one = F.lit(1).cast(RATE)
    return dmoney(F.col("l_extendedprice")) * (one - drate(F.col("l_discount")))


def charge_expr() -> Column:
    """revenue * (1 + l_tax), decimal-exact."""
    one = F.lit(1).cast(RATE)
    return revenue_expr() * (one + drate(F.col("l_tax")))


# SQL fragments for the DuckDB oracles (kept textually close to the
# Spark expressions so reviewers can line them up).
SQL_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,4)))"
SQL_CHARGE = f"({SQL_REV}) * (1 + CAST(l_tax AS DECIMAL(9,4)))"

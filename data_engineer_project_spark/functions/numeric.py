"""Exact-arithmetic helpers for oracle-parity numerics.

The driver testdata stores money-like measures as DOUBLE whose values
are all exact 2-decimal quantities. Summing doubles is order-dependent
(different partitionings → different last bits), which would make
result hashes nondeterministic at scale. Casting to DECIMAL first makes
every aggregate exact and order-independent — the same answer on
local[32] and on 1000 executors — and the final cast back to DOUBLE is
a deterministic conversion both Spark and DuckDB perform identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"
# Wide-enough intermediate for products like price*(1-disc)*(1+tax).
MONEY6 = "decimal(28,6)"


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def money(c: str | Column) -> Column:
    """Exact 2-decimal view of a measure column."""
    return _col(c).cast(MONEY)


def sum_money(c: str | Column, alias: str) -> Column:
    """Exact SUM of a 2-decimal measure, emitted as DOUBLE."""
    return F.sum(money(c)).cast("double").alias(alias)


def avg_money(c: str | Column, alias: str) -> Column:
    """AVG as exact-decimal SUM / COUNT in double space (deterministic)."""
    col = money(c)
    return (F.sum(col).cast("double") / F.count(col).cast("double")).alias(alias)

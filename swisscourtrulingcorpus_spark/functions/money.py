"""Exact money arithmetic shared by every oracle-gated query.

All monetary sums go through DECIMAL(18,2) (exact, engine-independent
partial aggregation) and convert to DOUBLE only after the final merge —
the single convention that makes Spark and DuckDB produce bit-identical
doubles.  Defined once so a precision change cannot drift between plan
modules.

Each expression has one body, its SQL text (one parsed string per
expression instead of one py4j round trip per operation; see
functions/hashing.py); the Column forms are ``F.expr`` over it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec2_sql(expr: str) -> str:
    """Cast an expression string to the engine-wide exact money type
    DECIMAL(18,2)."""
    return f"cast({expr} as decimal(18,2))"


def one_sql() -> str:
    """Exact decimal 1."""
    return "cast(1 as decimal(18,2))"


def disc_price_sql() -> str:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return f"{dec2_sql('l_extendedprice')} * ({one_sql()} - {dec2_sql('l_discount')})"


def charge_sql() -> str:
    """disc_price * (1 + l_tax), exact decimal (multiplication is
    left-associative, so the unparenthesized product is
    ``(disc_price) * (1 + tax)``)."""
    return f"{disc_price_sql()} * ({one_sql()} + {dec2_sql('l_tax')})"


def dec2(name: str) -> Column:
    """Column form of :func:`dec2_sql` over a column name (built lazily
    — Column construction needs an active SparkContext)."""
    return F.expr(dec2_sql(name))


def disc_price() -> Column:
    """Column form of :func:`disc_price_sql`."""
    return F.expr(disc_price_sql())

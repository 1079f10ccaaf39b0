"""Exact money arithmetic shared by every oracle-gated query.

All monetary sums go through DECIMAL(18,2) (exact, engine-independent
partial aggregation) and convert to DOUBLE only after the final merge —
the single convention that makes Spark and DuckDB produce bit-identical
doubles.  Defined once so a precision change cannot drift between plan
modules.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def one() -> Column:
    """Exact decimal 1 (built lazily — Column construction needs an
    active SparkContext, so no module-level expressions here)."""
    return F.lit(1).cast("decimal(18,2)")


def dec2(c: Column | str) -> Column:
    """Cast to the engine-wide exact money type DECIMAL(18,2)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return dec2("l_extendedprice") * (one() - dec2("l_discount"))


def charge() -> Column:
    """disc_price * (1 + l_tax), exact decimal."""
    return disc_price() * (one() + dec2("l_tax"))


# --- SQL-text forms (r12 optimization round) ---------------------------
#
# One parsed string per expression instead of one py4j round trip per
# operation (see functions/hashing.py); same expression trees as above.


def dec2_sql(expr: str) -> str:
    """SQL text of :func:`dec2` over an expression string."""
    return f"cast({expr} as decimal(18,2))"


def one_sql() -> str:
    """SQL text of :func:`one`."""
    return "cast(1 as decimal(18,2))"


def disc_price_sql() -> str:
    """SQL text of :func:`disc_price`."""
    return f"{dec2_sql('l_extendedprice')} * ({one_sql()} - {dec2_sql('l_discount')})"


def charge_sql() -> str:
    """SQL text of :func:`charge` (multiplication is left-associative,
    so the unparenthesized product matches the Column tree exactly)."""
    return f"{disc_price_sql()} * ({one_sql()} + {dec2_sql('l_tax')})"

"""Shared expression helpers, including oracle-exact numeric aggregates.

Spark and DuckDB both sum doubles in nondeterministic partition order,
so SUM(double) can differ in final ULPs between engines.  The engine's
convention for every money-typed aggregate: cast to DECIMAL before
summing (exact, order-independent) and cast the result back to DOUBLE
(deterministic) -- on both the Spark side and the SQL-oracle side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: enough integer digits for 100 TB-scale money sums at group level
MONEY = "decimal(30,4)"

#: factor types for money PRODUCTS.  A decimal multiply's result width
#: is the SUM of the operand widths (+1 in Spark): DECIMAL(30,4)
#: factors overflow width 38, at which point Spark silently reduces
#: scale while DuckDB falls back to DOUBLE -- divergent rounding, the
#: one thing the oracle convention exists to prevent.  The fixture's
#: money columns are exact 2-decimal values, so DECIMAL(15,2) prices
#: (13 integer digits -- fine for any per-ROW money value; group SUMS
#: still accumulate in the engines' widened 38-digit sum type) and
#: DECIMAL(8,2) rate factors keep every 2- and 3-factor product inside
#: width 38 in BOTH engines: exact, order-independent, identical.
PRICE = "decimal(15,2)"
FRAC = "decimal(8,2)"


#: split point for the two-long accumulation in exact_scaled_sum
_SPLIT = 1_000_000


def exact_scaled_sum(c: Column, scale: int) -> Column:
    """Exact order-independent money SUM as a whole-stage-codegen plan.

    PRECONDITION: inputs must be exactly representable at <= ``scale``
    decimal digits (true for the fixtures' 2-decimal money columns) and
    ``|c| * 10^scale`` must stay well below 2^53.  Within that domain
    the semantics are identical to ``SUM(CAST(c AS DECIMAL(30,s)))``.
    Outside it they are NOT: ``round()`` on the binary double can round
    differently from the decimal cast (which rounds the shortest
    decimal representation) for inputs carrying more than ``scale``
    decimal digits -- e.g. 0.00015 at scale 4 is the double
    0.000149999..., so round() yields 1 unit (0.0001) while
    ``CAST(0.00015 AS DECIMAL(30,4))`` yields 0.0002.  Widening the
    contract requires a decimal-string parse, not a double round
    (property test: tests/test_properties.py pins both the in-domain
    equivalence and this out-of-domain divergence).

    Performance: ~5x faster than the decimal formulation, because
    Spark's decimal sum with precision > 18 leaves the codegen fast
    path (per-row Decimal objects in the agg buffer).
    Instead the value is converted to integer ``10^scale``-ths in a
    LONG (exact -- per-row money values are far below 2^53/10^scale),
    accumulated as TWO long sums that stay in whole-stage codegen,
    and recombined in DECIMAL only on the post-aggregation rows:

        units         = round(c * 10^scale)          (exact long)
        hi, lo        = floor(units/1e6), units mod 1e6
        exact integer = 1e6 * SUM(hi) + SUM(lo)      (decimal, tiny)

    Overflow headroom: per-row units <= ~1e11 (a 10-million money
    value at scale 4), so SUM(lo) < n * 1e6 and SUM(hi) < n * 1e5 --
    both fit a long up to n ~ 9e12 rows (two orders of magnitude past
    the 100 TB target); the recombination widens to DECIMAL(38,0)
    BEFORE the multiply, so the final integer never touches a long.
    """
    units = F.round(c.cast("double") * (10**scale)).cast("long")
    return exact_units_sum(units, scale)


def exact_units_sum(units: Column, scale: int) -> Column:
    """Split-long accumulation over a pre-computed integer-units
    column (``10^-scale`` units in a long).  See exact_scaled_sum."""
    hi = F.floor(units / _SPLIT).cast("long")
    lo = units - hi * _SPLIT
    total = F.sum(hi).cast("decimal(38,0)") * _SPLIT + F.sum(lo)
    # exact integer -> exact decimal value -> nearest double: the same
    # value DuckDB's CAST(SUM(DECIMAL) AS DOUBLE) produces
    return (total / (10**scale)).cast("double")


def dec_sum(col: str | Column, alias: str) -> Column:
    """Order-independent SUM over a money column (double or decimal
    with scale <= 4), exact to the ten-thousandth."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_scaled_sum(c, 4).alias(alias)


def dec_sum_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,4))) AS DOUBLE) AS {alias}"


def dec_avg(col: str | Column, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    return (exact_scaled_sum(c, 4) / F.count(c)).alias(alias)


def dec_avg_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(30,4))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount) in exact decimal arithmetic.

    DECIMAL(15,2) x DECIMAL(8,2) -> scale-4 product within width 38 in
    both engines: no double fallback, no scale reduction.
    """
    return F.col("l_extendedprice").cast(PRICE) * (
        F.lit(1).cast(FRAC) - F.col("l_discount").cast(FRAC)
    )


DISC_PRICE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(15,2))"
    " * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))"
)


def charge() -> Column:
    """l_extendedprice * (1-l_discount) * (1+l_tax), exact decimal.

    The 3-factor product stays within width 38 (scale 6) both engines.
    """
    return disc_price() * (
        F.lit(1).cast(FRAC) + F.col("l_tax").cast(FRAC)
    )


CHARGE_SQL = (
    f"{DISC_PRICE_SQL} * (CAST(1 AS DECIMAL(8,2))"
    " + CAST(l_tax AS DECIMAL(8,2)))"
)


# -- integer-units twins of disc_price()/charge(): the same exact
#    values as the decimal products, but as pure LONG arithmetic that
#    stays inside whole-stage codegen (a JVM Decimal multiply per row
#    is the dominant cost of the decimal formulation).  Money columns
#    are exact 2-decimal values, so cents are exact longs and
#    cents * integer rate factors are exact scale-4/-6 units.


def disc_price_units() -> Column:
    """``l_extendedprice * (1 - l_discount)`` in exact scale-4 integer
    units: cents(price) * (100 - cents(discount))."""
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return ep_c * (F.lit(100) - disc_c)


def charge_units() -> Column:
    """``disc_price * (1 + l_tax)`` in exact scale-6 integer units."""
    tax_c = F.round(F.col("l_tax") * 100).cast("long")
    return disc_price_units() * (F.lit(100) + tax_c)


def sum_disc_price(alias: str) -> Column:
    """Exact SUM of disc_price as an all-long codegen plan."""
    return exact_units_sum(disc_price_units(), 4).alias(alias)


def sum_charge(alias: str) -> Column:
    """Exact SUM of charge as an all-long codegen plan."""
    return exact_units_sum(charge_units(), 6).alias(alias)

"""Cross-engine determinism helpers.

The driver hash-compares Spark results with a DuckDB oracle, so every
floating-point aggregate must be *order-independent* and *engine-independent*:

- Money-like doubles (2-decimal generated, nonnegative) are converted to
  exact integer CENTS per row (``floor(x*100 + 0.5)`` — the doubles are the
  closest representation of n/100, so ``x*100`` lands within ~1e-9 of the
  integer and the half-up floor recovers n exactly), summed as
  DECIMAL(38,0) — exact at ANY corpus scale, no 2^63 ceiling — and divided
  back to dollars once per GROUP. Bit-identical to the oracle's
  ``CAST(SUM(CAST(c AS DECIMAL(18,2))) AS DOUBLE)`` (both are the correctly
  rounded double of the same exact rational) and ~2× cheaper than per-row
  DECIMAL arithmetic: the hot path is a long multiply/floor inside
  whole-stage codegen; decimal addition touches only integer-valued
  compacts (measured r6: q04 star-agg 1.29 s → 0.79 s at sf0.1).
- Money PRODUCTS (price · (1 - discount)) multiply integer cents by integer
  (100 - discount_cents) — exact 1e-4-dollar units, same decimal-sum path.
- Averages divide the exact sum by the count in DOUBLE (IEEE division is
  deterministic and identical across engines), then ROUND — both engines
  round doubles half-away-from-zero (verified empirically).
- Raw double SUM/AVG never appears in a query that has an oracle.
- PRECONDITION (asserted for the driver tables in tests/test_properties.py):
  inputs are nonnegative doubles with at most 2 decimals. For arbitrary
  doubles the half-up floor and the decimal cast disagree on repr-boundary
  values — use explicit DECIMAL casts there instead.

At cluster scale exact integer/decimal arithmetic is also the *correct*
choice for money (no drift across 10^9-row partial sums), not just a
parity trick.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(c: str | Column) -> Column:
    """Exact integer cents of a 2-decimal nonnegative double column."""
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def _dec_sum(units: Column) -> Column:
    """Exact DECIMAL(38,0) sum of integer units — overflow-proof at any SF."""
    return F.sum(units.cast("decimal(38,0)"))


def money_sum(c: str | Column) -> Column:
    """Order-independent exact sum of a 2-decimal double column."""
    return (_dec_sum(cents(c)) / 100).cast("double")


def money_avg(c: str | Column, scale: int = 4) -> Column:
    """Exact-sum / count in double, rounded; deterministic across engines."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round((_dec_sum(cents(col)) / 100).cast("double") / F.count(col), scale)


# ----------------------------------------------------------------------
# SPARK-side SQL-string forms of the exact-money constructions above, for
# queries built as one spark.sql() string (r11 driver-side-construction
# work; see plans/relational.q04_region_revenue). These must stay
# textually faithful to cents()/_dec_sum(): FLOOR on a double returns
# BIGINT (the .cast("long")), 0.5D keeps the addend a double (a bare 0.5
# parses as DECIMAL(1,1) in Spark SQL and changes the arithmetic type).


def spark_cents(c: str) -> str:
    return f"FLOOR({c} * 100 + 0.5D)"


def spark_money_sum(c: str) -> str:
    return f"CAST(SUM(CAST({spark_cents(c)} AS DECIMAL(38,0))) / 100 AS DOUBLE)"


def spark_money_avg(c: str) -> str:
    return f"ROUND({spark_money_sum(c)} / COUNT({c}), 4)"


def spark_disc_price_sum(price: str, discount: str) -> str:
    return (
        f"CAST(SUM(CAST({spark_cents(price)} * (100 - {spark_cents(discount)})"
        f" AS DECIMAL(38,0))) / 10000 AS DOUBLE)"
    )

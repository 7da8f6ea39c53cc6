"""Deterministic-numerics helpers, the ACS sentinel codes, and SQL-text
quoting.

1. Hash-stable aggregate arithmetic. Floating-point SUM is
   summation-order-dependent, so a Spark sum and a DuckDB oracle sum of
   the same doubles can differ in the low bits and fail an exact
   value-hash comparison. Policy (documented here, used by every query in
   queries.py): aggregate over **exact integers** (money → cents via
   round(x*100)::long; integral doubles → long), which makes SUM exact
   and order-independent; derive ratios *after* aggregation with a single
   IEEE double division (deterministic on identical inputs in any
   engine). Per-row double arithmetic (a*b, 1-x) is IEEE-deterministic
   and safe to output directly.

2. ``ACS_SENTINELS``, the Census API's "value not available" codes,
   which the typed tier of transforms/normalize.py turns into NULL.

3. ``sql_ident`` / ``sql_literal``, for plans built as ``selectExpr``
   strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# deterministic numerics
# ---------------------------------------------------------------------------


def cents(col: Column | str) -> Column:
    """Exact integer cents of a 2-decimal money double.

    round(x*100) is exact for values that are 2-decimal in their source
    (TPC-H money columns); the cast to long makes downstream SUM exact and
    order-independent — identical in Spark and DuckDB.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(100)).cast("long")


def as_long(col: Column | str) -> Column:
    """Cast an integral-valued double (e.g. TPC-H l_quantity) to long so
    sums are exact."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("long")


# ---------------------------------------------------------------------------
# ACS sentinel codes for "value not available" (public Census API
# convention; the reference never handles them — SURVEY.md §1.2 makes the
# rule explicit in the engine's typed tier)
# ---------------------------------------------------------------------------

ACS_SENTINELS = ("-888888888", "-999999999", "-666666666", "-222222222")


# ---------------------------------------------------------------------------
# SQL text: plans built as ``selectExpr`` strings cost one py4j call per
# string, where a ``Column`` composition costs one per ``F.*`` call
# ---------------------------------------------------------------------------


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"

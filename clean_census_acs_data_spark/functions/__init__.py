"""Scalar-function pack + deterministic-numerics helpers.

Two jobs:

1. Re-express the reference's scalar surface (upper/trim/replace/join/
   zero-pad/substring/json-encode/timestamps — SURVEY.md §2A rows 24-32)
   as JVM-side ``pyspark.sql.functions`` compositions (whole-stage
   codegen; no Python UDFs).

2. Hash-stable aggregate arithmetic. Floating-point SUM is
   summation-order-dependent, so a Spark sum and a DuckDB oracle sum of
   the same doubles can differ in the low bits and fail an exact
   value-hash comparison. Policy (documented here, used by every query in
   queries.py): aggregate over **exact integers** (money → cents via
   round(x*100)::long; integral doubles → long), which makes SUM exact
   and order-independent; derive ratios *after* aggregation with a single
   IEEE double division (deterministic on identical inputs in any
   engine). Per-row double arithmetic (a*b, 1-x) is IEEE-deterministic
   and safe to output directly.
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


def micro(col: Column | str, scale: int = 1_000_000) -> Column:
    """Quantize a small double/float to an exact integer at ``scale``
    (default 1e-6 grain). Used for embedding elements so dot products can
    be computed in exact int64 arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("double") * F.lit(scale)).cast("long")


def as_long(col: Column | str) -> Column:
    """Cast an integral-valued double (e.g. TPC-H l_quantity) to long so
    sums are exact."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("long")


def ratio(num: Column, den: Column) -> Column:
    """Single deterministic double division (both sides exact ints)."""
    return num.cast("double") / den.cast("double")


# ---------------------------------------------------------------------------
# reference scalar surface (SURVEY.md §2A rows 24-32)
# ---------------------------------------------------------------------------


def norm_name(col: Column | str) -> Column:
    """The reference's column-name normalization as a *data* operation:
    replace('-','_') . upper . strip  (Test_census_tract.py:352)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.trim(F.translate(c, "-", "_")))


def clean_key(col: Column | str) -> Column:
    """Mapping-key cleanup: upper + strip (Test_census_tract.py:48)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.trim(c))


def zero_pad(col: Column | str, width: int = 2) -> Column:
    """2-digit FIPS zero-pad, f"{i:02}" (Test_census_tract.py:327)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lpad(c.cast("string"), width, "0")


def join_csv(*cols: Column | str) -> Column:
    """','.join(...) (Test_census_tract.py:161,343)."""
    return F.concat_ws(",", *[F.col(c) if isinstance(c, str) else c for c in cols])


def truncate(col: Column | str, n: int = 200) -> Column:
    """Error-text clip, resp.text[:200] (Test_census_tract.py:368)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, 1, n)


def blank_to_null(col: Column | str) -> Column:
    """EMPTYASNULL + BLANKSASNULL COPY semantics
    (Test_census_tract.py:277) as an expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c), F.lit(""))


# ACS sentinel codes for "value not available" (public Census API
# convention; the reference never handles them — SURVEY.md §1.2 makes the
# rule explicit in the engine's typed tier).
ACS_SENTINELS = ("-888888888", "-999999999", "-666666666", "-222222222")


def sentinel_to_null(col: Column | str, sentinels: tuple[str, ...] = ACS_SENTINELS) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    out = F.trim(c)
    return F.when(out.isin(*sentinels), F.lit(None)).otherwise(out)


def iso_utc_now() -> Column:
    """ISO-8601 UTC timestamp string (audit record timestamp,
    Test_census_tract.py:94)."""
    return F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssXXX")


def epoch_seconds() -> Column:
    """int(time.time()) analog (Test_census_tract.py:251)."""
    return F.unix_timestamp()


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

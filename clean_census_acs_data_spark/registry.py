"""The query registry — the driver contract.

Every entry in ``QUERIES`` is a callable ``(spark, sf_dir) -> DataFrame``
with a matching ANSI-SQL oracle in ``ORACLES`` that DuckDB runs on the
same parquet tables. The driver compares row count + schema +
order-insensitive value hash, so results must be *bit-deterministic*
across engines. The discipline (see functions/__init__.py docstring):

- Never SUM/AVG raw doubles (summation order differs between engines).
  Aggregate exact integers (money → cents, integral doubles → long).
- Derive ratios post-aggregation with a single double division —
  IEEE-deterministic on identical inputs.
- Per-row double arithmetic written with identical association order on
  both sides.
- Window orderings made total with a unique-key tiebreak so row_number
  is deterministic.
- Alias every computed column identically on both sides (driver sorts
  columns by name before hashing).

Transcendentals (ln) use the deterministic atanh-series ln over exact
integer ratios (functions/detmath — no libm), quantized to integer
micro-units for order-free sums; hashing is md5-derived and recomputed
identically in the oracle SQL.

This module imports no entry module; the domain modules import
``register`` and ``_t`` from here, and ``queries`` imports every domain.
Scale notes are inline per query: each states why the plan survives
100 TB (broadcast vs shuffle choice, pushdown, partial aggregation).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from clean_census_acs_data_spark.io import load_table
from clean_census_acs_data_spark.session import ensure_engine_conf


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        # A dict assignment would silently REPLACE an existing entry —
        # in round 10 a new fusion entry registered under round-10's
        # rrf_fusion_topk and shadowed a driver-attested operator until
        # the registry count came up one short. Name collisions are
        # always a bug here; fail at import time, where the traceback
        # names the offending module.
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered (by {QUERIES[name].__wrapped__.__module__}); "
                "pick a distinct entry name"
            )

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_engine_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # expose the defining function
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)

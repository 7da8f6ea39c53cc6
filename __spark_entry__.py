"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Thin shim over clean_census_acs_data_spark.queries — the catalog lives
in the package so tests, bench, and the driver all share one registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clean_census_acs_data_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    return _q.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def _rotation_order(names: list[str]) -> list[str]:
    """Order the registry so the driver's first-50 sample window lands
    on the entries most worth (re-)checking.

    The driver samples the first 50 entries of ``queries()`` in
    insertion order for its per-round CORRECTNESS check (verified:
    CORRECTNESS_r01..r03 key sets equal the registry's first 50 at each
    round's close — VERDICT r3 'What's missing #1'). Rounds 4-10
    rotated never-attested entries into the window; by r10 close every
    entry carried a driver attestation, so from r11 the rotation is
    CHANGE-AWARE (VERDICT r10 ask #3): never-attested / red entries
    still front, then attested entries whose code fingerprint differs
    from the one recorded for their newest attested round in
    ATTESTED_FINGERPRINTS.json, then the rest, oldest-attested first.
    Full tier rules and the missing-map fallback:
    clean_census_acs_data_spark.rotation.
    """
    from clean_census_acs_data_spark import rotation as _rot

    here = os.path.dirname(os.path.abspath(__file__))
    return _rot.rotation_order(names, _q.ORACLES, repo=here)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2C, ordered
    never-attested-first so the driver's 50-query sample rotates."""
    return {n: _q.QUERIES[n] for n in _rotation_order(list(_q.QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for
    non-SQL-expressible ops → driver runs rows-only check)."""
    return dict(_q.ORACLES)

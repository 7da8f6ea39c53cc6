"""Local mirror of the driver's correctness gate, but *stricter*: exact
value equality (bit-exact doubles), so any summation-order or rounding
nondeterminism is caught here before the driver's value-hash sees it.

Runs every QUERIES entry that has an oracle at sf0.001 (fast) against
DuckDB on the same parquet files.
"""

from __future__ import annotations

import math

import os

import duckdb
import pandas as pd
import pytest

from clean_census_acs_data_spark.io import TABLES
from clean_census_acs_data_spark.queries import ORACLES, QUERIES

SF = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


# one shared definition of dtype-kind with the driver-format sweep
# (scripts/local_correctness.py) so the two verdicts cannot diverge
from clean_census_acs_data_spark.compare import dtype_kind as _kind  # noqa: E402


def assert_dtype_kinds_match(a: pd.DataFrame, b: pd.DataFrame, name: str) -> None:
    """The driver value-hashes raw dtypes, so a DuckDB HUGEINT (which
    pandas widens to float64) hashes differently from Spark's int64 even
    when every value is equal — that was r1's one red row
    (window_running). Compare dtype *kinds* strictly so a missing
    CAST(... AS BIGINT) in the oracle SQL fails here, before the driver
    ever sees it."""
    for c in a.columns:
        ka, kb = _kind(a[c].dtype), _kind(b[c].dtype)
        assert ka == kb, (
            f"{name}: column {c!r} dtype-kind mismatch spark={a[c].dtype} "
            f"({ka}) vs oracle={b[c].dtype} ({kb}) — likely a DuckDB "
            f"HUGEINT/DECIMAL widening; add CAST(... AS BIGINT/DOUBLE) in "
            f"the oracle SQL or align the Spark-side type. The driver's "
            f"value-hash will mismatch otherwise."
        )


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def assert_frames_equal(a: pd.DataFrame, b: pd.DataFrame, name: str):
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} != {list(b.columns)}"
    assert len(a) == len(b), f"{name}: row count {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        def _null(v):
            if isinstance(v, (list, tuple, dict)):
                return False
            res = pd.isna(v)
            return bool(res) if not hasattr(res, "__len__") else False

        for i, (x, y) in enumerate(zip(av, bv)):
            if _null(x):
                ok = _null(y)
            elif isinstance(x, float):
                ok = isinstance(y, float) and (x == y)  # bit-exact on purpose
            else:
                ok = x == y
            assert ok, f"{name}: col {c} row {i}: spark={x!r} oracle={y!r}"


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF).toPandas()
    odf = ddb.execute(ORACLES[name]).df()
    ca, cb = canon(sdf), canon(odf)
    assert_dtype_kinds_match(ca, cb, name)
    assert_frames_equal(ca, cb, name)


@pytest.mark.parametrize(
    "argv", [["a", "b", "--sf", "X", "Y"], ["a", "b", "--sf", "X", "--sf", "Y"]]
)
def test_parity_one_takes_several_scale_dirs(argv):
    import importlib.util

    script = os.path.join(os.path.dirname(__file__), "..", "scripts", "parity_one.py")
    spec = importlib.util.spec_from_file_location("parity_one", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.parse_args(argv) == (["a", "b"], ["X", "Y"])

"""Pin the approx_distinct_sketch med_bkt=0 guard on data that actually
triggers it: orders whose median price is 1 cent put the log2-histogram
median bucket at 0, which unguarded meant 1 << -1 — DuckDB raises,
Spark's shiftleft masks the shift to 63 and returns garbage. Both
engines must now return the floor estimate 1 and stay hash-equal."""

from __future__ import annotations

import duckdb
import pytest

from clean_census_acs_data_spark.queries_sketches import (
    _ADS_ORACLE,
    approx_distinct_sketch,
)


@pytest.fixture(scope="module")
def spark():
    from clean_census_acs_data_spark.session import get_spark

    s = get_spark(shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_small_cents_median_guard(spark, tmp_path):
    rows = [
        # priority 'P0': every price 0.01 -> cents=1 -> bucket 0 median
        *[(i, i % 7, "P0", 0.01) for i in range(20)],
        # priority 'P1': normal prices, sanity that the guard is inert
        *[(100 + i, i % 5, "P1", 123.45) for i in range(20)],
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderpriority string, o_totalprice double"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/orders.parquet")

    out = {
        r.o_orderpriority: r
        for r in approx_distinct_sketch(spark, sf_dir).collect()
    }
    assert out["P0"].approx_median_cents == 1  # guard floor, not garbage
    assert out["P1"].approx_median_cents > 1

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet/*.parquet'"
    )
    oracle = {
        r[0]: r for r in con.execute(_ADS_ORACLE).fetchall()
    }
    for prio in ("P0", "P1"):
        s_row, o_row = out[prio], oracle[prio]
        assert s_row.approx_median_cents == o_row[3]
        assert s_row.exact_customers == o_row[2]
        assert s_row.approx_customers == o_row[1]  # bit-exact doubles

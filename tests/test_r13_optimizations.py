"""Equivalence pins for the round-13 optimization rewrites.

Each test rebuilds the REPLACED form verbatim and asserts the live
entry's output matches it exactly — the same discipline as
tests/test_r12_optimizations.py: an optimization may change the plan,
never the rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clean_census_acs_data_spark.io import load_table
from clean_census_acs_data_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_hodges_groupedmap_matches_jvm_inrow_fold(spark):
    """r13: hodges_lehmann_location's Walsh-median kernel moved from a
    nested transform/slice JVM fold (interpreted HOF, ~17 µs/element)
    to a numpy grouped map (np.add.outer upper triangle + np.partition
    lower-median select). The replaced r12 JVM form is rebuilt verbatim
    here; outputs must match exactly — same pair count, same selected
    sum, same float division."""
    c = load_table(spark, SF_DIR, "customer").select(
        F.col("c_nationkey").alias("nk"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    g = c.groupBy("nk").agg(F.collect_list("cents").alias("cs"))
    n = F.size("cs")
    walsh = F.flatten(
        F.transform(
            "cs",
            lambda x, i: F.transform(
                F.slice("cs", i + 1, n - i), lambda y: x + y
            ),
        )
    )
    np_ = (n.cast("long") * (n.cast("long") + 1) / 2).cast("long")
    s = F.element_at(F.array_sort(walsh), ((np_ + 1) / 2).cast("int"))
    old = g.select(
        F.col("nk").alias("nation_key"),
        np_.alias("n_walsh_pairs"),
        s.cast("long").alias("hl_doubled_cents"),
        (s.cast("double") / 2).alias("hl_location_cents"),
    )
    new = QUERIES["hodges_lehmann_location"](spark, SF_DIR)
    # name+type identity (nullability may differ: a grouped-map stage
    # declares nullable fields; the driver's schema gate compares
    # pandas dtype kinds, which are nullability-blind)
    assert [(f.name, f.dataType) for f in new.schema.fields] == [
        (f.name, f.dataType) for f in old.schema.fields
    ]
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_hodges_groupedmap_skips_null_cents(spark, tmp_path):
    """A nation whose customers include NULL balances gives the same row
    as that nation with those customers removed; a nation with only NULL
    balances gives no row, as if it had no customers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(1, 10.0), (1, 2.5), (1, None), (1, 7.25), (1, None), (2, 3.0), (3, None)]
    for name, keep in (("with_nulls", rows), ("without", [r for r in rows if r[1] is not None])):
        (tmp_path / name).mkdir()
        pq.write_table(
            pa.table(
                {
                    "c_custkey": pa.array(range(len(keep)), pa.int64()),
                    "c_nationkey": pa.array([r[0] for r in keep], pa.int32()),
                    "c_acctbal": pa.array([r[1] for r in keep], pa.float64()),
                }
            ),
            tmp_path / name / "customer.parquet",
        )
    hl = QUERIES["hodges_lehmann_location"]
    got = sorted(map(tuple, hl(spark, str(tmp_path / "with_nulls")).collect()))
    want = sorted(map(tuple, hl(spark, str(tmp_path / "without")).collect()))
    assert [r[0] for r in want] == [1, 2]
    assert got == want


def test_hodges_walsh_triangle_equals_outer_sum():
    """The Walsh-median kernel builds only the upper triangle of the
    pair-sum matrix. It holds the same multiset as the full
    np.add.outer + triu_indices form it replaced, and the kernel selects
    the same pair count and lower median from it, on n = 1, all-equal
    values, NULL cents, an all-NULL group and random groups."""
    import numpy as np
    import pandas as pd

    from clean_census_acs_data_spark.queries_stats import _hl_group, _walsh_sums

    def outer_form(a):
        return np.add.outer(a, a)[np.triu_indices(len(a))]

    rng = np.random.default_rng(13)
    groups = [[5], [7] * 6, [3, None, -2, None, 3], [None, None], [-4, 9]]
    groups += [rng.integers(-(10**6), 10**6, size=n).tolist() for n in (3, 17, 200, 301)]
    for i, cents in enumerate(groups):
        pdf = pd.DataFrame({"nk": [i] * len(cents), "cents": cents})
        a = np.sort(pdf["cents"].dropna().to_numpy(np.int64))
        want = outer_form(a)
        assert np.array_equal(np.sort(_walsh_sums(a)), np.sort(want))
        got = _hl_group(pdf)
        if not len(a):
            assert got.empty
            continue
        k = (len(want) + 1) // 2
        assert got.to_dict("list") == {
            "nk": [i],
            "np": [len(want)],
            "s": [int(np.partition(want, k - 1)[k - 1])],
        }

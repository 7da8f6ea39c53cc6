"""Property pins for the round-15 tier (profiling / rank statistics /
weighted graphs / coresets / calendar arithmetic) — semantics beyond
what the hash gate proves.
"""

from __future__ import annotations

from clean_census_acs_data_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_fk_containment_known_keys_and_negative_control(spark):
    rows = {r.fk_candidate: r for r in QUERIES["fk_discovery_containment"](spark, SF).collect()}
    # genuine FKs in the generated TPC-H-ish data are full inclusions
    for fk in (
        "lineitem.l_orderkey->orders.o_orderkey",
        "orders.o_custkey->customer.c_custkey",
        "customer.c_nationkey->nation.n_nationkey",
        "lineitem.l_suppkey->supplier.s_suppkey",
    ):
        assert rows[fk].is_inclusion, fk
        assert rows[fk].containment_ppm == 1_000_000
    # the negative control must NOT certify (custkeys far outnumber suppkeys)
    neg = rows["orders.o_custkey->supplier.s_suppkey"]
    assert not neg.is_inclusion
    assert 0 <= neg.containment_ppm < 1_000_000
    for r in rows.values():
        assert 0 <= r.n_contained <= r.n_left_distinct


def test_kendall_tau_counts_are_consistent(spark):
    row = QUERIES["kendall_tau_rankings"](spark, SF).collect()[0]
    n = row.n_items
    assert row.n_pairs == n * (n - 1) // 2
    # row_number tiebreaks make both rankings total → no zero-sign pairs
    assert row.concordant + row.discordant == row.n_pairs
    assert -1.0 <= row.tau <= 1.0
    assert row.tau == (row.concordant - row.discordant) / row.n_pairs


def test_sssp_weighted_dominates_hop_count(spark):
    from clean_census_acs_data_spark.queries_graph import _SSSP_HOPS, _SSSP_SEED

    dist = {r.doc_id: r.dist_weighted for r in QUERIES["graph_sssp_weighted"](spark, SF).collect()}
    bfs = {r.doc_id: r.distance for r in QUERIES["graph_bfs_distance"](spark, SF).collect()}
    assert dist[_SSSP_SEED] == 0
    # identical reachable set (same edges, same hop bound)
    assert set(dist) == set(bfs)
    for v, d in dist.items():
        # weights are >= 1, so weighted distance >= unweighted hops;
        # and <= hops * max weight (6)
        assert bfs[v] <= d <= bfs[v] * 6 or v == _SSSP_SEED
    assert max(bfs.values()) <= _SSSP_HOPS


def test_kcenter_radius_monotone_and_centers_distinct(spark):
    rows = sorted(
        QUERIES["kcenter_coreset_select"](spark, SF).collect(),
        key=lambda r: r.sel_round,
    )
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == len(ids)  # a point is never re-selected
    # greedy max-min radius is non-increasing after the first selection:
    # adding a center can only shrink every point's min-distance
    radii = [r.radius_sq for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert all(r >= 0 for r in radii)


def test_business_day_latency_bounds(spark):
    rows = QUERIES["business_day_latency"](spark, SF).collect()
    assert rows, "priority groups missing"
    for r in rows:
        # ship follows order in the generator, so business days >= 0;
        # the ratio is the single final division
        assert r.sum_busdays >= 0
        assert abs(r.avg_busdays - r.sum_busdays / r.n_items) < 1e-12


def test_busday_closed_form_matches_naive_count(spark):
    # the GENERATED W(n) SQL text (not a hand-written re-derivation,
    # which once green-lit an operator-precedence bug: 5*(n) DIV 7
    # parses as (5*n) DIV 7) against a literal day walk, driven through
    # a real engine so the precedence the engine applies is what's
    # tested — over spans crossing weekends and every mod-7 phase
    from datetime import date, timedelta

    import duckdb

    from clean_census_acs_data_spark.queries_analytics import _busday_w

    def w(n: int) -> int:
        sql = _busday_w(str(n)).format(div="//")
        return duckdb.sql(f"SELECT {sql} AS w").fetchone()[0]

    def naive(a: date, b: date) -> int:
        d, cnt = a, 0
        while d < b:
            if d.weekday() < 5:  # Mon-Fri
                cnt += 1
            d += timedelta(days=1)
        return cnt

    epoch = date(1970, 1, 1)
    for start_off in range(0, 21):
        for span in (0, 1, 5, 9, 30):
            a = epoch + timedelta(days=8035 + start_off)  # 1992-ish
            b = a + timedelta(days=span)
            na, nb = (a - epoch).days, (b - epoch).days
            assert w(nb) - w(na) == naive(a, b), (a, b)
    # and the Spark spelling agrees with the DuckDB spelling for a
    # sample of epoch days (both engines evaluate the shared text)
    samples = [0, 1, 2, 3, 4, 5, 6, 7, 8035, 8041, 10000]
    spark_vals = spark.sql(
        "SELECT "
        + ", ".join(f"{_busday_w(str(n)).format(div='DIV')} AS w{i}" for i, n in enumerate(samples))
    ).collect()[0]
    for i, n in enumerate(samples):
        assert spark_vals[f"w{i}"] == w(n), n

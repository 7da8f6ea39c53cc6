"""Property pins for the round-16 tier (robust statistics / divisor
apportionment / exact survival / weighted quantiles) — semantics beyond
what the hash gate proves.
"""

from __future__ import annotations

import math

from clean_census_acs_data_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_theil_sen_is_lower_median_of_pairwise_slopes(spark):
    # recompute one user's slope set literally and check the selection
    from pyspark.sql import functions as F

    from clean_census_acs_data_spark.io import load_table

    rows = QUERIES["theil_sen_slope_user"](spark, SF).collect()
    assert rows
    target = rows[0]
    p = (
        load_table(spark, SF, "events")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("user_id") == target.user_id)
        )
        .select(
            F.col("event_id").alias("eid"),
            F.unix_micros("ts").alias("x"),
            F.round(F.col("value") * 100).cast("long").alias("y"),
        )
        .collect()
    )
    slopes = sorted(
        (
            ((b.y - a.y) / (b.x - a.x)), a.eid, b.eid
        )
        for a in p
        for b in p
        if a.eid < b.eid and a.x != b.x
    )
    assert target.n_pairs == len(slopes)
    assert target.theil_sen_slope == slopes[(len(slopes) + 1) // 2 - 1][0]


def test_dhondt_sums_to_house_and_is_member_monotone(spark):
    from clean_census_acs_data_spark.queries_analytics import _DH_SEATS

    rows = QUERIES["apportion_dhondt_divisor"](spark, SF).collect()
    assert sum(r.seats for r in rows) == _DH_SEATS
    # divisor methods are house-monotone in members: strictly more
    # members can never mean strictly fewer seats (ties break by key,
    # so equal-member nations may differ by one — exclude equals)
    by_members = sorted(rows, key=lambda r: r.members)
    for a, b in zip(by_members, by_members[1:]):
        if b.members > a.members:
            assert b.seats >= a.seats, (a, b)


def test_dhondt_disagrees_or_agrees_with_hamilton_but_same_total(spark):
    # the two methods apportion the same house size; their per-nation
    # difference is bounded by the method gap (usually 0-2 seats here)
    ham = {
        r.c_nationkey: r.seats
        for r in QUERIES["apportion_largest_remainder"](spark, SF).collect()
    }
    dh = {
        r.c_nationkey: r.seats
        for r in QUERIES["apportion_dhondt_divisor"](spark, SF).collect()
    }
    assert set(ham) == set(dh)
    # Hamilton used 1000 seats, D'Hondt 100 — compare only totals scale
    assert sum(ham.values()) == 1000 and sum(dh.values()) == 100


def test_kaplan_meier_log_survival_matches_float_product(spark):
    rows = sorted(
        QUERIES["kaplan_meier_survival"](spark, SF).collect(),
        key=lambda r: r.t_hours,
    )
    assert rows
    log_s = 0.0
    for r in rows:
        assert r.n_risk >= r.d_events >= 0
        if r.term_micro_nats is None:
            assert r is rows[-1], "d=n pole can only be the last bucket"
            continue
        log_s += math.log((r.n_risk - r.d_events) / r.n_risk) if r.d_events else 0.0
        # micro-nat quantization of a 1e-9-accurate deterministic ln:
        # cumulative drift stays well under 1 milli-nat per bucket
        assert abs(r.log_survival_micro_nats / 1e6 - log_s) < 1e-3 * (
            rows.index(r) + 1
        )
    # survival is non-increasing: cumulative log never rises
    cums = [r.log_survival_micro_nats for r in rows if r.log_survival_micro_nats is not None]
    assert all(a >= b for a, b in zip(cums, cums[1:]))


def test_weighted_percentile_bounds_and_dominance(spark):
    rows = QUERIES["weighted_percentile_exact"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.wp50_cents <= r.wp90_cents
        assert r.total_weight > 0


def test_weighted_percentile_reduces_to_unweighted_on_unit_weights(spark):
    # literal recomputation on one group with the same total order
    from pyspark.sql import functions as F

    from clean_census_acs_data_spark.io import load_table

    li = (
        load_table(spark, SF, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
            F.col("l_quantity").cast("long").alias("w"),
            "l_orderkey",
            "l_linenumber",
        )
        .collect()
    )
    ordered = sorted(li, key=lambda r: (r.p, r.l_orderkey, r.l_linenumber))
    totw = sum(r.w for r in ordered)
    cum, wp50 = 0, None
    for r in ordered:
        cum += r.w
        if cum * 100 >= totw * 50:
            wp50 = r.p
            break
    got = {
        r.l_returnflag: r.wp50_cents
        for r in QUERIES["weighted_percentile_exact"](spark, SF).collect()
    }
    assert got["R"] == wp50

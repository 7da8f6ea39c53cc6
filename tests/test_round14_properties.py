"""Property pins for the round-14 tier (allocation / interval sweeps /
sequential fold) — semantics beyond what the hash gate proves.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clean_census_acs_data_spark.io import load_table
from clean_census_acs_data_spark.queries import QUERIES
from clean_census_acs_data_spark.queries_events import _DEBOUNCE_GAP_US, _IV_W_US
from clean_census_acs_data_spark.queries_analytics import _SEATS

SF = "/root/testdata/sf0.001"


def test_apportionment_sums_exactly_to_house_size(spark):
    rows = QUERIES["apportion_largest_remainder"](spark, SF).collect()
    assert sum(r.seats for r in rows) == _SEATS
    for r in rows:
        # bonus is at most one seat, never negative
        assert r.seats in (r.floor_seats, r.floor_seats + 1)


def test_apportionment_bonus_goes_to_largest_remainders(spark):
    rows = QUERIES["apportion_largest_remainder"](spark, SF).collect()
    bonus = sorted(
        (r.remainder_num, -r.c_nationkey) for r in rows if r.seats > r.floor_seats
    )
    none = sorted(
        (r.remainder_num, -r.c_nationkey) for r in rows if r.seats == r.floor_seats
    )
    # every bonus remainder ranks at least as high as every non-bonus one
    if bonus and none:
        assert min(bonus) >= max(none)


def test_max_concurrency_brute_force(spark):
    """The sweep's per-day peak equals a brute-force count of intervals
    covering the reported first_peak_us (half-open [s, s+W))."""
    ev = [
        r.us
        for r in load_table(spark, SF, "events")
        .select(F.unix_micros("ts").alias("us"))
        .collect()
    ]
    rows = QUERIES["max_concurrent_intervals"](spark, SF).collect()
    assert rows
    for r in rows[:5]:  # brute force a handful of days
        t = r.first_peak_us
        covering = sum(1 for s in ev if s <= t < s + _IV_W_US)
        assert covering == r.max_concurrent
        assert t // 86_400_000_000 == r.day_bucket


def test_interval_union_coverage_bounds(spark):
    """covered ≤ span, covered ≥ W (any user has ≥1 interval), and
    coverage never exceeds n_events·W (= sum of widths)."""
    per_user = {
        r.user_id: r.n
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = QUERIES["interval_union_coverage"](spark, SF).collect()
    assert set(per_user) == {r.user_id for r in rows}
    for r in rows:
        assert _IV_W_US <= r.covered_us <= r.span_us
        assert r.covered_us <= per_user[r.user_id] * _IV_W_US
        assert 1 <= r.n_islands <= per_user[r.user_id]


def test_waterfill_fills_budget_without_overflow(spark):
    rows = QUERIES["token_budget_waterfill"](spark, SF).collect()
    total = sum(r.n_tokens for r in rows)
    budget = total // 2
    alloc = sum(r.alloc_tokens for r in rows)
    level = rows[0].level
    assert all(r.level == level for r in rows)
    # the level fills as much as possible: within budget, and raising
    # it by one would overflow
    assert alloc <= budget
    assert (
        sum(min(r.n_tokens, level + 1) for r in rows) > budget
    )
    for r in rows:
        assert r.alloc_tokens == min(r.n_tokens, level)
        assert r.at_cap == (r.n_tokens <= level)


def test_debounce_chain_is_greedy_and_maximal(spark):
    """Kept events are ≥ gap apart, the first event of every user is
    kept, and every DROPPED event is within gap of the latest kept
    event before it (greedy maximality)."""
    ev = {}
    for r in (
        load_table(spark, SF, "events")
        .groupBy("user_id", F.unix_micros("ts").alias("us"))
        .agg(F.min("event_id").alias("eid"))
        .collect()
    ):
        ev.setdefault(r.user_id, []).append(r.us)
    kept = {}
    for r in QUERIES["event_debounce_keep_first"](spark, SF).collect():
        kept.setdefault(r.user_id, []).append(r.kept_us)
    assert set(ev) == set(kept)
    for uid, all_us in ev.items():
        all_us.sort()
        ks = sorted(kept[uid])
        assert ks[0] == all_us[0]  # first event always kept
        for a, b in zip(ks, ks[1:]):
            assert b - a >= _DEBOUNCE_GAP_US
        kset = set(ks)
        last = None
        for u in all_us:
            if u in kset:
                last = u
            else:
                assert last is not None and u - last < _DEBOUNCE_GAP_US

"""Round-19 tier property tests: wide-decimal Spearman, χ² cells,
repeated-median regression, RBO, and the table-arg UDTF sessionizer."""

from __future__ import annotations

from fractions import Fraction

from clean_census_acs_data_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_spearman_decimal_matches_int64_form(spark):
    """Where the int64 form is in-range (every sealed fixture), the
    DECIMAL(38,0) switch must agree exactly: same rho double, and
    rho_num_str equal to the int64 numerator digit-for-digit."""
    wide = {
        r["nation_name"]: r
        for r in QUERIES["spearman_rho_decimal"](spark, SF).collect()
    }
    narrow = {
        r["nation_name"]: r
        for r in QUERIES["spearman_rho_exact"](spark, SF).collect()
    }
    assert set(wide) == set(narrow) and wide
    for k in wide:
        assert wide[k]["n_cust"] == narrow[k]["n_cust"]
        assert wide[k]["rho_num_str"] == str(narrow[k]["rho_num"])
        assert wide[k]["spearman_rho"] == narrow[k]["spearman_rho"]


def test_chi_squared_cells_exact_fraction_recompute(spark):
    """Every cell's chi2_micro must equal the exact-Fraction
    floor(10⁶·(O·N−R·C)²/(N·R·C)), and the window total must be the
    plain sum of the cells."""
    rows = QUERIES["chi_squared_cells"](spark, SF).collect()
    assert rows
    total = sum(r["chi2_micro"] for r in rows)
    # recompute marginals independently from the cells
    n = sum(r["o_xy"] for r in rows)
    rx = {}
    cy = {}
    for r in rows:
        rx[r["l_returnflag"]] = rx.get(r["l_returnflag"], 0) + r["o_xy"]
        cy[r["l_linestatus"]] = cy.get(r["l_linestatus"], 0) + r["o_xy"]
    for r in rows:
        assert r["r_x"] == rx[r["l_returnflag"]]
        assert r["c_y"] == cy[r["l_linestatus"]]
        assert r["dev"] == r["o_xy"] * n - r["r_x"] * r["c_y"]
        expect = (1_000_000 * r["dev"] * r["dev"]) // (n * r["r_x"] * r["c_y"])
        assert r["chi2_micro"] == expect
        assert r["chi2_total_micro"] == total
        assert r["chi2"] == total / 1e6
    # independence sanity: returnflag/linestatus are strongly dependent
    # in TPC-H (returns only exist for old shipdates) -> chi2 far from 0
    assert total > 0


def test_repeated_median_brute_force(spark):
    """Exact brute-force recompute of Siegel's repeated median (lower
    medians, the operator's tiebreaks) from the raw purchase points."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.functions import cents
    from clean_census_acs_data_spark.io import load_table

    pts = (
        load_table(spark, SF, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("eid"),
            F.unix_micros("ts").alias("x"),
            cents("value").alias("y"),
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in pts:
        by_user.setdefault(r["user_id"], []).append((r["eid"], r["x"], r["y"]))

    def lower_median(items):  # items: [(sortkey..., value)] pre-sorted
        return items[(len(items) + 1) // 2 - 1]

    expect = {}
    for u, ps in by_user.items():
        meds = []
        for eid, x, y in ps:
            slopes = sorted(
                ((y2 - y) / (x2 - x), e2)
                for e2, x2, y2 in ps
                if e2 != eid and x2 != x
            )
            if slopes:
                meds.append((lower_median(slopes)[0], eid))
        if meds:
            meds.sort()
            expect[u] = (len(meds), lower_median(meds)[0])
    got = {
        r["user_id"]: (r["n_anchors"], r["repeated_median_slope"])
        for r in QUERIES["repeated_median_slope"](spark, SF).collect()
    }
    assert got == expect and got


def test_rbo_structure_and_bounds(spark):
    """Weights are the exact integers 2520·2^(10−d)/d, intersection
    counts are monotone in depth, rbo_num is the contrib sum, and the
    final score sits in [0, 1] (1 ⟺ identical top-10 prefixes)."""
    rows = sorted(
        QUERIES["rbo_rank_overlap"](spark, SF).collect(),
        key=lambda r: r["depth"],
    )
    assert [r["depth"] for r in rows] == list(range(1, 11))
    prev = 0
    for r in rows:
        d = r["depth"]
        assert r["weight_num"] == 2520 * (1 << (10 - d)) // d
        assert (2520 * (1 << (10 - d))) % d == 0  # weights exactly integer
        assert r["inter_cnt"] >= prev and r["inter_cnt"] <= d
        assert r["contrib"] == r["inter_cnt"] * r["weight_num"]
        prev = r["inter_cnt"]
    total = sum(r["contrib"] for r in rows)
    scale = 2520 * (1 << 10)  # ADVICE r11: (1−p)·p^(d−1)/d, NOT p^d/d
    for r in rows:
        assert r["rbo_num"] == total
        assert r["rbo"] == total / scale
    # Pin the emitted score against the DEFINITION (Webber et al. eq. 4):
    # truncated RBO@10, p=1/2 is (1−p)·Σ p^(d−1)·X_d/d — exact rational
    # equality, so a wrong scale constant (the r11 halving bug) fails here.
    p = Fraction(1, 2)
    definition = (1 - p) * sum(
        p ** (r["depth"] - 1) * Fraction(r["inter_cnt"], r["depth"])
        for r in rows
    )
    assert Fraction(total, scale) == definition
    assert 0.0 <= rows[0]["rbo"] <= 1.0
    assert Fraction(total, scale) <= 1 - Fraction(1, 2) ** 10
    # and the identical-prefix maximum is achievable EXACTLY: X_d = d for
    # all d makes Σ d·W_d / scale = Σ 1/2^d = 1 − 2^-10 (weights + scale
    # are mutually consistent — the old scale capped the score at ~0.4995)
    max_total = sum(d * (2520 * (1 << (10 - d)) // d) for d in range(1, 11))
    assert Fraction(max_total, scale) == 1 - Fraction(1, 2) ** 10


def test_udtf_sessionize_python_recompute(spark):
    """Independent Python recompute of the 30-min-gap sessionization
    from the raw purchase stream (strict-greater gap, total order)."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.io import load_table
    from clean_census_acs_data_spark.queries_relational import _SESSION_GAP_US

    raw = (
        load_table(spark, SF, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in raw:
        by_user.setdefault(r["user_id"], []).append((r["us"], r["event_id"]))
    expect = set()
    for u, evs in by_user.items():
        evs.sort()
        sid, n, start, last = 1, 0, None, None
        for us, _eid in evs:
            if start is None:
                n, start, last = 1, us, us
            elif us - last > _SESSION_GAP_US:
                expect.add((u, sid, n, start, last))
                sid += 1
                n, start, last = 1, us, us
            else:
                n, last = n + 1, us
        if start is not None:
            expect.add((u, sid, n, start, last))
    got = {
        (r["user_id"], r["session_idx"], r["n_events"], r["start_us"], r["end_us"])
        for r in QUERIES["udtf_table_arg_sessionize"](spark, SF).collect()
    }
    assert got == expect and got


def test_suffix_distinct_brute_force(spark):
    """Suffix distinct count equals the brute-force suffix set size per
    user under the (us, event_id) total order."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.io import load_table

    raw = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in raw:
        by_user.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], r["event_type"])
        )
    expect = {}
    for u, evs in by_user.items():
        evs.sort()
        for i, (_us, eid, _t) in enumerate(evs):
            expect[eid] = len({t for _, _, t in evs[i:]})
    got = {
        r["event_id"]: r["n_distinct_remaining"]
        for r in QUERIES["windowed_distinct_suffix"](spark, SF).collect()
    }
    assert got == expect and got


def test_hodges_lehmann_brute_force(spark):
    """HL location equals the brute-force lower median of all Walsh
    pair sums (i <= j, self-pairs included)."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.io import load_table

    rows = (
        load_table(spark, SF, "customer")
        .select(
            "c_nationkey",
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    by_nk: dict[int, list] = {}
    for r in rows:
        by_nk.setdefault(r["c_nationkey"], []).append((r["c_custkey"], r["cents"]))
    expect = {}
    for nk, cs in by_nk.items():
        walsh = sorted(
            (ca + cb, ia, ib)
            for i, (ia, ca) in enumerate(cs)
            for ib, cb in cs
            if ia <= ib
        )
        np = len(walsh)
        s = walsh[(np + 1) // 2 - 1][0]
        expect[nk] = (np, s, s / 2)
    got = {
        r["nation_key"]: (
            r["n_walsh_pairs"],
            r["hl_doubled_cents"],
            r["hl_location_cents"],
        )
        for r in QUERIES["hodges_lehmann_location"](spark, SF).collect()
    }
    assert got == expect and got


def test_mann_whitney_pairwise_definition(spark):
    """The rank-sum formula must agree with the DEFINITION of U:
    2·U1 = 2·#{(x1, x2): x1 > x2} + #ties — two independent
    derivations of one statistic. Tie cubes recomputed exactly too."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.io import load_table

    rows = (
        load_table(spark, SF, "orders")
        .where(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.col("o_orderstatus").alias("st"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    by_grp: dict[str, tuple[list, list]] = {}
    for r in rows:
        a, b = by_grp.setdefault(r["grp"], ([], []))
        (a if r["st"] == "F" else b).append(r["cents"])
    got = {
        r["order_priority"]: r
        for r in QUERIES["mann_whitney_u"](spark, SF).collect()
    }
    assert set(got) == set(by_grp)
    for g, (s1, s2) in by_grp.items():
        greater = sum(1 for x in s1 for y in s2 if x > y)
        ties = sum(1 for x in s1 for y in s2 if x == y)
        assert got[g]["n1"] == len(s1) and got[g]["n2"] == len(s2)
        assert got[g]["u1_doubled"] == 2 * greater + ties
        from collections import Counter

        tc = Counter(s1 + s2)
        assert got[g]["tie_cubes"] == sum(t**3 - t for t in tc.values())


def test_ks_statistic_brute_force(spark):
    """KS numerator equals the brute-force sup over pooled points of
    |n2·cum1 − n1·cum2|, and Cliff's delta (mann_whitney_u) equals its
    pairwise definition (#greater − #less)/(n1·n2)."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.io import load_table

    rows = (
        load_table(spark, SF, "orders")
        .where(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.col("o_orderstatus").alias("st"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    by_grp: dict[str, tuple[list, list]] = {}
    for r in rows:
        a, b = by_grp.setdefault(r["grp"], ([], []))
        (a if r["st"] == "F" else b).append(r["cents"])
    ks = {
        r["order_priority"]: r
        for r in QUERIES["kolmogorov_smirnov_2sample"](spark, SF).collect()
    }
    mwu = {
        r["order_priority"]: r
        for r in QUERIES["mann_whitney_u"](spark, SF).collect()
    }
    assert set(ks) == set(by_grp) == set(mwu)
    for g, (s1, s2) in by_grp.items():
        n1, n2 = len(s1), len(s2)
        pooled = sorted(set(s1) | set(s2))
        best = max(
            abs(
                n2 * sum(1 for x in s1 if x <= v)
                - n1 * sum(1 for y in s2 if y <= v)
            )
            for v in pooled
        )
        assert (ks[g]["n1"], ks[g]["n2"]) == (n1, n2)
        assert ks[g]["ks_num"] == best
        assert ks[g]["ks_stat"] == best / (n1 * n2)
        greater = sum(1 for x in s1 for y in s2 if x > y)
        less = sum(1 for x in s1 for y in s2 if x < y)
        assert mwu[g]["cliffs_delta_num"] == greater - less
        assert mwu[g]["cliffs_delta"] == (greater - less) / (n1 * n2)


def test_pettitt_double_sum_identity(spark):
    """The rank-formula U_t must equal the DEFINITION
    U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j) computed by brute force —
    the mid-rank identity the operator's comment proves, checked
    numerically with ties included, plus the argmax selection."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.io import load_table

    raw = (
        load_table(spark, SF, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.unix_micros("ts").alias("us"),
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in raw:
        by_user.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], r["cents"])
        )
    expect = {}
    for u, evs in by_user.items():
        evs.sort()
        xs = [c for _, _, c in evs]
        n = len(xs)
        if n < 2:
            continue
        best = None
        for t in range(1, n):
            u_t = sum(
                (xs[i] > xs[j]) - (xs[i] < xs[j])
                for i in range(t)
                for j in range(t, n)
            )
            key = (abs(u_t), -t)  # max |U|, earliest t on ties
            if best is None or key > best[0]:
                best = (key, t, abs(u_t), evs[t - 1][0])
        expect[u] = (n, best[2], best[1], best[3])
    got = {
        r["user_id"]: (
            r["n_points"],
            r["k_stat"],
            r["change_after_t"],
            r["change_after_us"],
        )
        for r in QUERIES["pettitt_change_point"](spark, SF).collect()
        if r["n_points"] >= 2
    }
    assert got == expect and got


def test_wilcoxon_and_mcnemar_brute_force(spark):
    """Wilcoxon W⁺ recomputed from exact mid-ranks of |d| over the
    first-vs-last pairs; McNemar cells recomputed from the raw flags."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.io import load_table

    orders = (
        load_table(spark, SF, "orders")
        .select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            "o_orderpriority",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    cust = {
        r["c_custkey"]: (r["c_nationkey"], r["c_mktsegment"])
        for r in load_table(spark, SF, "customer")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .collect()
    }
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in load_table(spark, SF, "nation").collect()
    }
    by_cust: dict[int, list] = {}
    for r in orders:
        by_cust.setdefault(r["o_custkey"], []).append(
            (r["o_orderdate"], r["o_orderkey"], r["cents"])
        )
    diffs: dict[str, list] = {}
    for ck, os_ in by_cust.items():
        if len(os_) < 2 or ck not in cust:
            continue
        os_.sort()
        d = os_[-1][2] - os_[0][2]
        if d != 0:
            diffs.setdefault(nation[cust[ck][0]], []).append(d)
    got = {
        r["nation_name"]: r
        for r in QUERIES["wilcoxon_signed_rank"](spark, SF).collect()
    }
    assert set(got) == set(diffs)
    for nat, ds in diffs.items():
        ads = sorted(abs(d) for d in ds)
        # exact mid-rank of each |d| as a double-rank integer
        first = {}
        from collections import Counter

        cnt = Counter(ads)
        pos = {}
        run = 1
        for v in sorted(cnt):
            pos[v] = run  # rank of first occurrence
            run += cnt[v]
        w_plus_dbl = sum(
            2 * pos[abs(d)] + cnt[abs(d)] - 1 for d in ds if d > 0
        )
        assert got[nat]["n_pairs"] == len(ds)
        assert got[nat]["w_plus_dbl"] == w_plus_dbl
        assert got[nat]["tie_cubes"] == sum(t**3 - t for t in cnt.values())
    # McNemar cells
    cells: dict[str, list] = {}
    for r in orders:
        if r["o_custkey"] not in cust:
            continue
        seg = cust[r["o_custkey"]][1]
        x = 1 if r["o_orderpriority"] in ("1-URGENT", "2-HIGH") else 0
        y = 1 if r["o_orderstatus"] == "F" else 0
        b_, c_, bp, bn = cells.get(seg, (0, 0, 0, 0))
        cells[seg] = (
            b_ + (x and not y),
            c_ + ((not x) and y),
            bp + (x and y),
            bn + ((not x) and (not y)),
        )
    gm = {
        r["segment"]: r
        for r in QUERIES["mcnemar_paired_flags"](spark, SF).collect()
    }
    assert set(gm) == set(cells)
    for seg, (b_, c_, bp, bn) in cells.items():
        assert (gm[seg]["b"], gm[seg]["c"]) == (b_, c_)
        assert (gm[seg]["both_pos"], gm[seg]["both_neg"]) == (bp, bn)
        if b_ + c_ > 0:
            assert gm[seg]["chi2_micro"] == (1_000_000 * (b_ - c_) ** 2) // (
                b_ + c_
            )


def test_logrank_exact_fraction_recompute(spark):
    """Per-bucket O−E and hypergeometric variance recomputed with exact
    integer arithmetic from the raw events (cohort = first event is a
    click; KM's censoring point); totals and z pinned."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.io import load_table

    STUDY_END_US = 1719792000000000  # 2024-07-01 00:00:00 UTC in µs
    raw = (
        load_table(spark, SF, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in raw:
        by_user.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], r["event_type"])
        )
    rowsd: dict[int, list] = {}
    for u, evs in by_user.items():
        evs.sort()
        grp_a = 1 if evs[0][2] == "click" else 0
        first_us = evs[0][0]
        conv = min((us for us, _, t in evs if t == "purchase"), default=None)
        event = 1 if conv is not None else 0
        t_hours = ((conv if conv is not None else STUDY_END_US) - first_us) // 3_600_000_000
        rowsd.setdefault(t_hours, []).append((grp_a, event))
    buckets = sorted(rowsd)
    # reverse cumulative at-risk per group
    n_a = n_b = 0
    risk = {}
    for t in reversed(buckets):
        n_a += sum(1 for g, _ in rowsd[t] if g == 1)
        n_b += sum(1 for g, _ in rowsd[t] if g == 0)
        risk[t] = (n_a, n_b)
    expect = {}
    oe_total = v_total = 0
    for t in buckets:
        d_a = sum(e for g, e in rowsd[t] if g == 1)
        d_b = sum(e for g, e in rowsd[t] if g == 0)
        if d_a + d_b == 0:
            continue
        na, nb = risk[t]
        n = na + nb
        d = d_a + d_b
        oe_num = 1_000_000 * (d_a * n - d * na)
        oe = oe_num // n if oe_num >= 0 else -((-oe_num) // n)
        v = (1_000_000 * d * na * nb * (n - d)) // (n * n * (n - 1)) if n > 1 else 0
        expect[t] = (d_a, d_b, na, nb, oe, v)
        oe_total += oe
        v_total += v
    got = {
        r["t_hours"]: r
        for r in QUERIES["logrank_test"](spark, SF).collect()
    }
    assert set(got) == set(expect) and got
    for t, (d_a, d_b, na, nb, oe, v) in expect.items():
        r = got[t]
        assert (r["d_a"], r["d_b"], r["n_a"], r["n_b"]) == (d_a, d_b, na, nb)
        assert r["oe_micro"] == oe, (t, r["oe_micro"], oe)
        assert r["v_micro"] == v
        assert r["oe_total_micro"] == oe_total
        assert r["v_total_micro"] == v_total
        if v_total > 0:
            assert r["z_score"] == oe_total / (v_total * 1e6) ** 0.5


def test_cochran_armitage_exact_recompute(spark):
    """T and Var(T) recomputed exactly from the per-dose tables; the
    trend statistic must also be invariant to shifting all dose scores
    by a constant (a textbook CA property — checked on the exact
    numerators)."""
    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.io import load_table

    orders = (
        load_table(spark, SF, "orders")
        .select("o_custkey", "o_orderpriority", "o_orderstatus")
        .collect()
    )
    seg = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, SF, "customer")
        .select("c_custkey", "c_mktsegment")
        .collect()
    }
    dose: dict[str, dict[int, list]] = {}
    for r in orders:
        if r["o_custkey"] not in seg:
            continue
        s = seg[r["o_custkey"]]
        w = int(r["o_orderpriority"][0])
        d = dose.setdefault(s, {}).setdefault(w, [0, 0])
        d[0] += 1
        d[1] += 1 if r["o_orderstatus"] == "F" else 0
    got = {
        r["segment"]: r
        for r in QUERIES["cochran_armitage_trend"](spark, SF).collect()
    }
    assert set(got) == set(dose)
    for s, table in dose.items():
        n = sum(m for m, _ in table.values())
        dd = sum(d for _, d in table.values())
        swd = sum(w * d for w, (_, d) in table.items())
        swm = sum(w * m for w, (m, _) in table.items())
        sw2m = sum(w * w * m for w, (m, _) in table.items())
        t_num = 1_000_000 * (n * swd - dd * swm)
        t_micro = t_num // n if t_num >= 0 else -((-t_num) // n)
        v_micro = (1_000_000 * dd * (n - dd) * (n * sw2m - swm * swm)) // (
            n * n * n
        )
        r = got[s]
        assert (r["n"], r["responders"]) == (n, dd)
        assert r["t_micro"] == t_micro
        assert r["v_micro"] == v_micro
        # shift-invariance of the exact numerator: w -> w + 3 leaves
        # n*swd' - dd*swm' unchanged (swd' = swd + 3dd, swm' = swm + 3n)
        assert n * (swd + 3 * dd) - dd * (swm + 3 * n) == n * swd - dd * swm

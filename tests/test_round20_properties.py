"""Round-20 tier property tests: sliding-frame exact distinct,
Passing–Bablok regression, and the analyze-time table-schema UDTF —
each pinned against an independent brute-force recompute of the
DEFINITION (the round-19 discipline)."""

from __future__ import annotations

import pyspark.sql.functions as F

from clean_census_acs_data_spark.io import load_table
from clean_census_acs_data_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_windowed_distinct_sliding_bruteforce(spark):
    """The interval-delta rewrite must equal the textbook definition:
    for every event, |{event_type of the last min(10, pos+1) rows}| —
    recomputed here with plain Python sets over the same (us, event_id)
    total order."""
    from clean_census_acs_data_spark.queries_analytics import _SLIDE_K

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
    expect: dict[int, int] = {}
    for evs in by_user.values():
        evs.sort()
        for i in range(len(evs)):
            window = evs[max(0, i - _SLIDE_K) : i + 1]
            expect[window[-1][1]] = len({t for _, _, t in window})
    got = {
        r["event_id"]: r["n_distinct_window"]
        for r in QUERIES["windowed_distinct_sliding"](spark, SF).collect()
    }
    assert got == expect and got
    # the frame actually slides: some count must DROP somewhere (a
    # suffix/prefix frame's counts are monotone per user; a sliding
    # frame's are not)
    drops = 0
    for evs in by_user.values():
        ids = [e[1] for e in sorted(evs)]
        vals = [got[i] for i in ids]
        drops += sum(1 for a, b in zip(vals, vals[1:]) if b < a)
    assert drops > 0, "no count ever dropped — frame is not sliding"


def test_passing_bablok_bruteforce(spark):
    """Full Python recompute of the PB definition: x-ordered integer
    pairs, S = dy/dx as the same IEEE double, drop S = −1 (dy = −dx),
    K = #{dy + dx < 0}, slope = K-shifted median with (s, ia, ib)
    tiebreak (mean of two in the even case), intercept = lower median
    of y − b·x with customer tiebreak."""
    cust = (
        load_table(spark, SF, "customer")
        .join(
            load_table(spark, SF, "orders"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_nationkey", "c_acctbal")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.col("c_custkey").alias("ck"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
            "y",
        )
        .collect()
    )
    by_nk: dict[int, list] = {}
    for r in cust:
        by_nk.setdefault(r["nk"], []).append((r["ck"], r["x"], r["y"]))
    expect = {}
    for nk, items in by_nk.items():
        slopes = []
        kneg = 0
        for ia, xa, ya in items:
            for ib, xb, yb in items:
                if xa < xb:
                    dy, dx = yb - ya, xb - xa
                    if dy + dx == 0:
                        continue  # S = -1 discarded per PB
                    if dy + dx < 0:
                        kneg += 1
                    slopes.append((dy / dx, ia, ib))
        slopes.sort()
        n = len(slopes)
        if n == 0:
            continue
        if n % 2 == 1:
            idx = (n + 1) // 2 + kneg  # 1-based
            if idx > n:
                continue  # the HAVING guard drops it
            b = slopes[idx - 1][0]
        else:
            i1, i2 = n // 2 + kneg, n // 2 + 1 + kneg
            if i2 > n:
                continue
            b = (slopes[i1 - 1][0] + slopes[i2 - 1][0]) / 2
        resid = sorted((y - b * x, ck) for ck, x, y in items)
        a = resid[(len(resid) + 1) // 2 - 1][0]
        expect[nk] = (len(items), n, kneg, b, a)
    got = {
        r["nation_key"]: (
            r["n_items"],
            r["n_pairs"],
            r["k_neg"],
            r["pb_slope"],
            r["pb_intercept"],
        )
        for r in QUERIES["passing_bablok_regression"](spark, SF).collect()
    }
    assert got == expect and got
    # K must actually bite somewhere, else the entry degenerates to a
    # plain (Theil–Sen-style) median and the shift machinery is untested
    assert any(v[2] > 0 for v in expect.values()), "K = 0 everywhere"


def test_quantile_regression_origin_minimizes_check_loss(spark):
    """The selection device must return a true argmin of the check
    loss: for every (nation, τ), Σ ρ_τ(y − b_τ·x) ≤ Σ ρ_τ(y − s·x)
    for EVERY candidate slope s (the optimum of a piecewise-linear
    objective sits on a breakpoint) — plus an independent
    weighted-quantile recompute with exact integer thresholds."""
    from fractions import Fraction

    cust = (
        load_table(spark, SF, "customer")
        .join(
            load_table(spark, SF, "orders"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_nationkey", "c_acctbal")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y"))
        .select(
            F.col("c_nationkey").alias("nk"),
            F.col("c_custkey").alias("ck"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
            "y",
        )
        .collect()
    )
    by_nk: dict[int, list] = {}
    for r in cust:
        if r["x"] != 0:
            by_nk.setdefault(r["nk"], []).append((r["ck"], r["x"], r["y"]))
    expect = {}
    for nk, items in by_nk.items():
        sw = sorted((y / x, ck, abs(x)) for ck, x, y in items)
        pw = sum(x for _, x, _ in items if x > 0)
        nw = sum(-x for _, x, _ in items if x < 0)
        for tau4 in (1, 2, 3):
            cum = 0
            thr = tau4 * pw + (4 - tau4) * nw  # 4·(τP + (1−τ)N)
            for s, _ck, w in sw:
                cum += w
                if 4 * cum >= thr:
                    expect[(nk, tau4)] = (len(items), pw + nw, s)
                    break
    got = {
        (r["nation_key"], r["tau_quarters"]): (
            r["n_items"],
            r["weight_total"],
            r["b_tau"],
        )
        for r in QUERIES["quantile_regression_origin"](spark, SF).collect()
    }
    assert got == expect and got
    # argmin property: exact-rational check loss at b_tau is <= the
    # loss at every breakpoint slope (ties allowed — flat segments)
    for nk, items in by_nk.items():
        data = [(Fraction(y), Fraction(x)) for _, x, y in items]
        cands = sorted({Fraction(y, x) for y, x in data})

        def loss(b, tau4, _data=data):
            tot = Fraction(0)
            for y, x in _data:
                r = y - b * x
                tot += Fraction(tau4, 4) * r if r >= 0 else Fraction(tau4 - 4, 4) * r
            return tot

        for tau4 in (1, 2, 3):
            b = expect[(nk, tau4)][2]
            # b is a float equal to some y/x; recover its exact rational
            b_exact = min(cands, key=lambda c: abs(float(c) - b))
            lb = loss(b_exact, tau4)
            assert all(lb <= loss(c, tau4) for c in cands), (nk, tau4)
    # the quartiles must actually spread somewhere (τ exercises the
    # weighting, not just three copies of the median)
    assert any(
        len({expect[(nk, t)][2] for t in (1, 2, 3)}) > 1 for nk in by_nk
    )


def test_keyed_layout_binned_entry_splits_at_sf001(spark):
    """The binned-readback entry must actually exercise the multi-file
    regime at driver scale: at sf0.01 each l_returnflag holds ~20k rows
    against the 8k target, so every key directory must contain between
    2 and ceil(n_key/8000) parquet files, each internally sorted by
    l_orderkey."""
    import glob
    import os

    out = QUERIES["keyed_layout_binned_readback"](spark, "/root/testdata/sf0.01")
    per_key = {r["k"]: r["n_rows"] for r in out.collect()}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(repo, "spark-warehouse", "keyed_layout_binned.parquet")
    for k, n in per_key.items():
        files = glob.glob(os.path.join(base, f"l_returnflag={k}", "*.parquet"))
        bins = -(-n // 8000)
        assert 2 <= len(files) <= bins, (k, n, files)
        rows = spark.read.parquet(files[0]).select("l_orderkey").collect()
        keys = [r["l_orderkey"] for r in rows]
        assert keys == sorted(keys)


def test_isotonic_pava_matches_minmax_and_true_pava(spark):
    """Three pins: (1) the emitted fit equals a bit-identical Python
    recompute of the min-max closed form (same IEEE divisions, same
    MIN/MAX); (2) it equals the TRUE sequential PAVA (exact Fractions)
    to float precision — the closed form and the algorithm are the
    same estimator; (3) every user's fit is monotone non-decreasing
    and pools preserve block means."""
    from fractions import Fraction

    raw = (
        load_table(spark, SF, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("y"),
            F.unix_micros("ts").alias("us"),
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in raw:
        by_user.setdefault(r["user_id"], []).append((r["us"], r["event_id"], r["y"]))
    got: dict[tuple, tuple] = {}
    for r in QUERIES["isotonic_regression_pava"](spark, SF).collect():
        got[(r["user_id"], r["pos"])] = (r["y_cents"], r["yhat"])
    n_checked = 0
    for u, evs in by_user.items():
        evs.sort()
        ys = [y for _, _, y in evs]
        n = len(ys)
        # (1) bit-identical min-max recompute
        pre = [0]
        for y in ys:
            pre.append(pre[-1] + y)

        def avg(j, k, _pre=pre):  # 1-based inclusive
            return (_pre[k] - _pre[j - 1]) / (k - j + 1)

        fit = []
        for i in range(1, n + 1):
            fit.append(
                max(min(avg(j, k) for k in range(i, n + 1)) for j in range(1, i + 1))
            )
        for i in range(1, n + 1):
            assert got[(u, i)] == (ys[i - 1], fit[i - 1])
            n_checked += 1
        # (2) true sequential PAVA with exact rationals
        blocks = []  # (sum, count)
        for y in ys:
            blocks.append((Fraction(y), 1))
            while len(blocks) > 1 and (
                blocks[-2][0] / blocks[-2][1] > blocks[-1][0] / blocks[-1][1]
            ):
                s2, c2 = blocks.pop()
                s1, c1 = blocks.pop()
                blocks.append((s1 + s2, c1 + c2))
        pava = []
        for s, c in blocks:
            pava.extend([s / c] * c)
        for a, b in zip(fit, pava):
            assert abs(a - float(b)) <= 1e-9 * max(1.0, abs(float(b)))
        # (3) monotone
        assert all(a <= b for a, b in zip(fit, fit[1:]))
    assert n_checked > 100


def test_acf_hourly_bruteforce(spark):
    """Independent recompute of the lag-1/lag-24 autocorrelation from
    the raw events: dense hour spine (missing hours = 0), exact
    integer numerators/denominator via the n²-cleared mean identity."""
    import datetime

    raw = load_table(spark, SF, "events").select("event_type", "ts").collect()
    mn = min(r["ts"] for r in raw).replace(minute=0, second=0, microsecond=0)
    mx = max(r["ts"] for r in raw).replace(minute=0, second=0, microsecond=0)
    hours = []
    h = mn
    while h <= mx:
        hours.append(h)
        h += datetime.timedelta(hours=1)
    counts: dict[str, dict] = {}
    for r in raw:
        t = r["ts"].replace(minute=0, second=0, microsecond=0)
        counts.setdefault(r["event_type"], {}).setdefault(t, 0)
        counts[r["event_type"]][t] += 1
    expect = {}
    for et, byh in counts.items():
        xs = [byh.get(h, 0) for h in hours]
        n, s = len(xs), sum(xs)
        den = sum((n * x - s) ** 2 for x in xs)
        num1 = sum((n * xs[t] - s) * (n * xs[t + 1] - s) for t in range(n - 1))
        num24 = sum((n * xs[t] - s) * (n * xs[t + 24] - s) for t in range(n - 24))
        expect[et] = (n, s, num1, num24, den, num1 / den, num24 / den)
    got = {
        r["event_type"]: (
            r["n_hours"],
            r["sum_x"],
            r["acf1_num"],
            r["acf24_num"],
            r["acf_den"],
            r["r_lag1"],
            r["r_lag24"],
        )
        for r in QUERIES["acf_hourly_lag_profile"](spark, SF).collect()
    }
    assert got == expect and len(got) == 5
    # the dense spine must matter at this scale: some hour is empty for
    # some type (sf0.001 averages ~0.28 events/type/hour)
    assert any(
        any(byh.get(h, 0) == 0 for h in hours) for byh in counts.values()
    )


def test_langid_prf_recompute_from_confusion(spark):
    """P/R/F1 must equal exact truncating-integer recomputes from the
    confusion matrix, and the count identities must hold (tp + fn =
    support; Σ(tp + fp) = Σ support = total docs)."""
    from clean_census_acs_data_spark.queries_text import lang_id_confusion

    cm = {
        (r["labeled_lang"], r["pred_lang"]): r["n_docs"]
        for r in lang_id_confusion(spark, SF).collect()
    }
    labels = {a for a, _ in cm}
    preds = {b for _, b in cm}
    got = {r["lang"]: r for r in QUERIES["langid_eval_prf"](spark, SF).collect()}
    assert set(got) == labels
    total = sum(cm.values())
    for cls in labels:
        tp = cm.get((cls, cls), 0)
        support = sum(v for (a, _), v in cm.items() if a == cls)
        predicted = sum(v for (_, b), v in cm.items() if b == cls)
        r = got[cls]
        assert (r["tp"], r["fp"], r["fn"], r["support"]) == (
            tp,
            predicted - tp,
            support - tp,
            support,
        )
        assert r["precision_ppm"] == (10**6 * tp // predicted if predicted else 0)
        assert r["recall_ppm"] == (10**6 * tp // support if support else 0)
        assert r["f1_ppm"] == (
            2 * 10**6 * tp // (predicted + support) if predicted + support else 0
        )
    assert sum(r["support"] for r in got.values()) == total
    # a predicted-only class ('und' or a confused lang) may exist in
    # preds but not labels — the entry keys on LABELED classes
    assert preds  # non-degenerate matrix


def test_mrr_bruteforce(spark):
    """Independent Python recompute: token-set overlap ranking with the
    (overlap DESC, cid ASC) tiebreak, relevance = same source, RR as
    the exact truncating 10⁶ DIV rank."""
    docs = (
        load_table(spark, SF, "documents").select("doc_id", "source", "text").collect()
    )
    toks = {r["doc_id"]: set((r["text"] or "").split(" ")) for r in docs}
    src = {r["doc_id"]: r["source"] for r in docs}
    qids = sorted(d for d in toks if d < 10)
    cids = sorted(d for d in toks if d >= 10)
    expect = {}
    rrs = []
    for q in qids:
        order = sorted(cids, key=lambda c: (-len(toks[c] & toks[q]), c))
        first = None
        nrel = 0
        for rank, c in enumerate(order, 1):
            if src[c] == src[q]:
                nrel += 1
                if first is None:
                    first = rank
        rr = 10**6 // first if first else 0
        rrs.append(rr)
        expect[q] = (first, nrel, rr)
    got = {
        r["query_doc"]: (r["first_rel_rank"], r["n_relevant"], r["rr_ppm"])
        for r in QUERIES["mrr_eval_retrieval"](spark, SF).collect()
    }
    assert got == expect and len(got) == 10
    srow = QUERIES["mrr_eval_retrieval"](spark, SF).collect()[0]
    assert srow["mrr_ppm_sum"] == sum(rrs) and srow["n_queries"] == 10


def test_udtf_unpivot_schema_derived_from_table_argument(spark):
    """The fourth UDTF shape's contract: analyze() must copy the key
    field's NAME and TYPE from the table argument and melt exactly the
    BIGINT columns — so pointing the same registered function at a
    table with a different key name/type yields a different output
    schema without redeclaration."""
    out = QUERIES["udtf_analyze_table_unpivot"](spark, SF)
    assert [f.name for f in out.schema.fields] == ["p_partkey", "metric", "value"]
    rows = out.collect()
    src = (
        load_table(spark, SF, "part")
        .select(
            "p_partkey",
            F.col("p_size").cast("long").alias("size_units"),
            F.round(F.col("p_retailprice") * 100).cast("long").alias("retail_cents"),
        )
        .collect()
    )
    expect = set()
    for r in src:
        expect.add((r["p_partkey"], "size_units", r["size_units"]))
        expect.add((r["p_partkey"], "retail_cents", r["retail_cents"]))
    assert {(r["p_partkey"], r["metric"], r["value"]) for r in rows} == expect
    # dynamic-schema proof: a STRING-keyed table re-keys the output
    spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20)], "doc string, n_lines long, n_chars long"
    ).createOrReplaceTempView("__unpivot_alt")
    alt = spark.sql("SELECT * FROM unpivot_longs_fn(TABLE(__unpivot_alt))")
    assert [(f.name, f.dataType.simpleString()) for f in alt.schema.fields] == [
        ("doc", "string"),
        ("metric", "string"),
        ("value", "bigint"),
    ]
    assert {(r["doc"], r["metric"], r["value"]) for r in alt.collect()} == {
        ("a", "n_lines", 1),
        ("a", "n_chars", 10),
        ("b", "n_lines", 2),
        ("b", "n_chars", 20),
    }
    # contract agreement (r12 review finding): eval() dispatches on
    # Python int, which cannot tell BIGINT from INT — analyze() must
    # REJECT narrow-integer metric columns rather than let the two
    # dispatch rules disagree (eval would melt an INT column that
    # analyze excluded from the declared BIGINT-only contract).
    spark.createDataFrame(
        [(1, 2, 3)], "k long, narrow int, wide long"
    ).createOrReplaceTempView("__unpivot_narrow")
    import pytest as _pytest

    with _pytest.raises(Exception, match="BIGINT-only"):
        spark.sql(
            "SELECT * FROM unpivot_longs_fn(TABLE(__unpivot_narrow))"
        ).collect()


def test_krippendorff_alpha_bruteforce(spark):
    """The scaled-integer alpha must equal the textbook definition
    computed with exact Fractions: alpha = 1 - D_o/D_e, D_o =
    (1/n) sum_u (m_u^2 - sum_c n_uc^2)/(m_u - 1), D_e =
    (n^2 - sum_c n_c^2)/(n(n-1)) — recomputed here with Python
    Counters over independently re-derived labels."""
    import re
    from collections import Counter
    from fractions import Fraction

    from clean_census_acs_data_spark.queries_corpus import (
        _W_ALPHA,
        _W_CHAR,
        _W_DIGIT,
        _W_PUNCT,
        _W_WS,
    )

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "n_chars"
    ).collect()
    labels: dict[int, list[str]] = {}
    for r in docs:
        text, nc = r["text"], r["n_chars"]
        logit = (
            _W_WS * len(text.split(" "))
            + _W_ALPHA * len(re.findall(r"[A-Za-z]+", text))
            + _W_PUNCT * len(re.findall(r"[^A-Za-z0-9 ]+", text))
            + _W_DIGIT * len(re.findall(r"[0-9]+", text))
            + _W_CHAR * nc
        )
        ra = "keep" if logit >= 8000 else ("review" if logit >= 3000 else "drop")
        rb = "keep" if nc >= 320 else ("review" if nc >= 160 else "drop")
        ls = [ra, rb]
        if r["doc_id"] % 3 != 0:
            nt = len(text.split(" "))
            ls.append(
                "keep" if nt >= 60 else ("review" if nt >= 30 else "drop")
            )
        labels[r["doc_id"]] = ls
    pairable = {u: ls for u, ls in labels.items() if len(ls) >= 2}
    n = sum(len(ls) for ls in pairable.values())
    do_total = Fraction(0)
    for ls in pairable.values():
        m, cc = len(ls), Counter(ls)
        do_total += Fraction(m * m - sum(v * v for v in cc.values()), m - 1)
    marg = Counter(l for ls in pairable.values() for l in ls)
    de_pairs = n * n - sum(v * v for v in marg.values())
    alpha = 1 - Fraction(n - 1) * do_total / de_pairs
    row = QUERIES["krippendorff_alpha_nominal"](spark, SF).collect()[0]
    from clean_census_acs_data_spark.queries_stats import _ALPHA_SCALE

    assert row["n_units"] == len(pairable)
    assert row["n_values"] == n
    assert row["do_scaled"] == _ALPHA_SCALE * do_total  # exact: scale clears denominators
    assert row["de_pairs"] == de_pairs
    assert Fraction(row["alpha_num"], row["alpha_den"]) == alpha
    assert row["alpha"] == row["alpha_num"] / row["alpha_den"]
    # the statistic is inside its defined range and non-degenerate here
    assert -1.0 <= row["alpha"] <= 1.0
    # missing labels genuinely exercised: some units have 2, some 3
    sizes = {len(ls) for ls in pairable.values()}
    assert sizes == {2, 3}


def test_misra_gries_mergeable_bruteforce(spark):
    """The 4-stage unrolled SQL fold must equal a sequential Python
    implementation of the SAME canonical fold (exact bucket counts,
    merge = pointwise add, subtract the (k+1)-th largest by
    (v DESC, token), drop non-positives) — and the final summary must
    satisfy the MG guarantee exact - D <= counter <= exact, with every
    token of frequency > D present."""
    from collections import Counter

    from clean_census_acs_data_spark.queries_sketches import _MG_B, _MG_K

    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    buckets = [Counter() for _ in range(_MG_B)]
    exact = Counter()
    for r in docs:
        toks = r["text"].split(" ")
        buckets[r["doc_id"] % _MG_B].update(toks)
        exact.update(toks)

    def compress(cnt: Counter) -> tuple[Counter, int]:
        items = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        t = items[_MG_K][1] if len(items) > _MG_K else 0
        return Counter({k: v - t for k, v in items if v - t > 0}), t

    s: Counter = Counter()
    d_total = 0
    for b in range(_MG_B):
        s, t = compress(s + buckets[b])
        d_total += t

    rows = QUERIES["misra_gries_mergeable"](spark, SF).collect()
    got = {r["token"]: r["counter"] for r in rows}
    assert got == dict(s)
    assert all(r["decrement_total"] == d_total for r in rows)
    assert len(got) <= _MG_K
    # the deterministic MG guarantee against the exact counts
    for tok, c in got.items():
        assert exact[tok] - d_total <= c <= exact[tok]
    for tok, c in exact.items():
        if c > d_total:
            assert tok in got, f"frequent token {tok!r} missing from summary"


def test_seasonal_decompose_bruteforce(spark):
    """trend48/det48/seasonal pairs recomputed with plain Python ints
    over the independently densified hourly series, and the additive
    identity x = trend + seasonal + remainder checked EXACTLY in
    Fractions for every row with a defined trend."""
    import datetime as dt
    from collections import Counter, defaultdict
    from fractions import Fraction

    ev = load_table(spark, SF, "events").select("event_type", "ts").collect()
    floor = lambda t: t.replace(minute=0, second=0, microsecond=0)  # noqa: E731
    counts: Counter = Counter((r["event_type"], floor(r["ts"])) for r in ev)
    types = sorted({r["event_type"] for r in ev})
    lo = floor(min(r["ts"] for r in ev))
    hi = floor(max(r["ts"] for r in ev))
    hours = []
    h = lo
    while h <= hi:
        hours.append(h)
        h += dt.timedelta(hours=1)
    series = {ty: [counts.get((ty, h), 0) for h in hours] for ty in types}
    trend48: dict[tuple, int] = {}
    det48: dict[tuple, int] = {}
    for ty, xs in series.items():
        for i in range(len(xs)):
            if i - 12 < 0 or i + 12 >= len(xs):
                continue
            t48 = xs[i - 12] + xs[i + 12] + 2 * sum(xs[i - 11 : i + 12])
            trend48[(ty, hours[i])] = t48
            det48[(ty, hours[i])] = 48 * xs[i] - t48
    snum: dict[tuple, int] = defaultdict(int)
    sden: dict[tuple, int] = defaultdict(int)
    for (ty, h), d in det48.items():
        snum[(ty, h.hour)] += d
        sden[(ty, h.hour)] += 1

    rows = QUERIES["seasonal_decompose_ma"](spark, SF).collect()
    assert len(rows) == len(types) * len(hours)
    checked = 0
    for r in rows:
        key = (r["event_type"], r["h"])
        assert r["x"] == series[r["event_type"]][hours.index(r["h"])]
        if key in trend48:
            assert r["trend48"] == trend48[key]
            assert r["det48"] == det48[key]
            hod = (r["event_type"], r["h"].hour)
            assert r["s_num"] == snum[hod] and r["s_den"] == sden[hod]
            # exact additive identity in Fractions
            total = (
                Fraction(r["trend48"], 48)
                + Fraction(r["s_num"], 48 * r["s_den"])
                + Fraction(r["det48"] * r["s_den"] - r["s_num"], 48 * r["s_den"])
            )
            assert total == Fraction(r["x"], 1)
            # emitted floats are the single divisions of those integers
            assert r["trend"] == r["trend48"] / 48.0
            assert r["seasonal"] == r["s_num"] / (48 * r["s_den"])
            assert r["remainder"] == (
                r["det48"] * r["s_den"] - r["s_num"]
            ) / (48 * r["s_den"])
            checked += 1
        else:
            assert r["trend48"] is None and r["remainder"] is None
    assert checked > 100  # margins excluded, interior fully pinned


def test_jonckheere_terpstra_bruteforce(spark):
    """J recomputed by the O(N^2) textbook pair loop (g_a < g_b and
    x_a < x_b, strict on both), the moments from their closed forms,
    and z re-derived as the same single expression."""
    import math

    rows = (
        load_table(spark, SF, "orders")
        .select(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    data = [(r["g"], r["cents"]) for r in rows]
    n = len(data)
    j = sum(
        1
        for i in range(n)
        for l in range(n)
        if data[i][0] < data[l][0] and data[i][1] < data[l][1]
    )
    from collections import Counter

    sizes = Counter(g for g, _ in data)
    mu_x4 = n * n - sum(c * c for c in sizes.values())
    var_x72 = n * n * (2 * n + 3) - sum(
        c * c * (2 * c + 3) for c in sizes.values()
    )
    row = QUERIES["jonckheere_terpstra_trend"](spark, SF).collect()[0]
    assert row["n_total"] == n
    assert row["j_stat"] == j
    assert row["mu_x4"] == mu_x4
    assert row["var_x72"] == var_x72
    assert row["z_score"] == (4 * j - mu_x4) / 4.0 / math.sqrt(var_x72 / 72.0)
    # the ordinal structure is genuinely exercised: all 5 levels present
    assert len(sizes) == 5


def test_friedman_balanced_blocks_bruteforce(spark):
    """Conover's tie-robust T recomputed with exact Fractions from true
    midranks over the independently densified (day x type) design, and
    the no-ties textbook identity 12*sum(R^2)/(nk(k+1)) - 3n(k+1)
    asserted blockwise where no block has ties."""
    from collections import Counter, defaultdict
    from fractions import Fraction

    ev = load_table(spark, SF, "events").select("event_type", "ts").collect()
    day = lambda t: t.date()  # noqa: E731
    counts: Counter = Counter((day(r["ts"]), r["event_type"]) for r in ev)
    days = sorted({day(r["ts"]) for r in ev})
    types = sorted({r["event_type"] for r in ev})
    n, k = len(days), len(types)
    # true midranks per block
    rsum: dict[str, Fraction] = defaultdict(Fraction)
    a2 = Fraction(0)
    any_ties = False
    for d in days:
        xs = sorted((counts.get((d, ty), 0), ty) for ty in types)
        vals = [v for v, _ in xs]
        for v, ty in xs:
            lo = vals.index(v)
            n_ties = vals.count(v)
            if n_ties > 1:
                any_ties = True
            mid = Fraction(2 * lo + n_ties + 1, 2)  # average of ranks lo+1..lo+n_ties
            rsum[ty] += mid
            a2 += mid * mid
    sum_r2 = sum(v * v for v in rsum.values())
    t_num = (k - 1) * (sum_r2 - Fraction(n * n * k * (k + 1) * (k + 1), 4))
    t_den = a2 - Fraction(n * k * (k + 1) * (k + 1), 4)
    rows = QUERIES["friedman_balanced_blocks"](spark, SF).collect()
    assert len(rows) == k
    for r in rows:
        assert r["n_blocks"] == n and r["k_treatments"] == k
        assert Fraction(r["rank_sum_dbl"], 2) == rsum[r["event_type"]]
        # the x4-scaled integers equal the Fraction forms exactly
        assert Fraction(r["chi2_num"], 4) == t_num
        assert Fraction(r["chi2_den"], 4) == t_den
        assert r["chi2_f"] == r["chi2_num"] / r["chi2_den"]
    if not any_ties:
        textbook = Fraction(12) * sum_r2 / (n * k * (k + 1)) - 3 * n * (k + 1)
        assert t_num / t_den == textbook
    # zero-filled cells are really in the design: every block has k cells
    assert sum(rsum.values()) == Fraction(n * k * (k + 1), 2)


def test_conformal_quantile_bruteforce(spark):
    """The conformal index, selected quantile, and held-out coverage
    recomputed from first principles: k = ceil((n_cal+1)(1-alpha)),
    qhat = the k-th smallest calibration score, coverage = exact count
    on the disjoint test half."""
    import math

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "n_chars"
    ).collect()
    scores = {
        r["doc_id"]: abs(r["n_chars"] - 6 * len(r["text"].split(" ")))
        for r in docs
    }
    cal = sorted(
        (scores[d], d) for d in scores if d % 2 == 0
    )
    test = [scores[d] for d in scores if d % 2 != 0]
    got = {
        (r["alpha_num"], r["alpha_den"]): r
        for r in QUERIES["conformal_quantile_calibration"](spark, SF).collect()
    }
    assert set(got) == {(1, 10), (1, 20)}
    for (an, ad), r in got.items():
        n_cal = len(cal)
        k = math.ceil((ad - an) * (n_cal + 1) / ad)
        qhat = cal[k - 1][0]
        ncov = sum(1 for s in test if s <= qhat)
        assert r["n_cal"] == n_cal and r["k_idx"] == k
        assert r["qhat"] == qhat
        assert r["n_test"] == len(test) and r["n_covered"] == ncov
        assert r["coverage"] == ncov / len(test)
        # the index really is the guarantee index: k/(n_cal+1) >= 1-alpha
        assert k * ad >= (ad - an) * (n_cal + 1)


def test_page_trend_bruteforce(spark):
    """Page's L recomputed from exact-Fraction midranks over the same
    densified blocks with the lexicographic treatment order, moments
    from their closed forms, and the shared-CTE contract: rank sums
    must equal friedman_balanced_blocks' exactly."""
    import math
    from collections import Counter, defaultdict
    from fractions import Fraction

    ev = load_table(spark, SF, "events").select("event_type", "ts").collect()
    day = lambda t: t.date()  # noqa: E731
    counts: Counter = Counter((day(r["ts"]), r["event_type"]) for r in ev)
    days = sorted({day(r["ts"]) for r in ev})
    types = sorted({r["event_type"] for r in ev})
    n, k = len(days), len(types)
    rsum: dict[str, Fraction] = defaultdict(Fraction)
    for d in days:
        xs = sorted((counts.get((d, ty), 0), ty) for ty in types)
        vals = [v for v, _ in xs]
        for v, ty in xs:
            lo, t = vals.index(v), vals.count(v)
            rsum[ty] += Fraction(2 * lo + t + 1, 2)
    l_stat = sum((types.index(ty) + 1) * rsum[ty] for ty in types)
    mu_x4 = n * k * (k + 1) * (k + 1)
    var_x144 = n * k * k * (k + 1) * (k + 1) * (k - 1)
    rows = QUERIES["page_trend_test"](spark, SF).collect()
    assert len(rows) == k
    for r in rows:
        assert r["treatment_order"] == types.index(r["event_type"]) + 1
        assert Fraction(r["rank_sum_dbl"], 2) == rsum[r["event_type"]]
        assert Fraction(r["l_dbl"], 2) == l_stat
        assert r["mu_x4"] == mu_x4 and r["var_x144"] == var_x144
        assert r["z_score"] == 3 * (2 * r["l_dbl"] - mu_x4) / math.sqrt(var_x144)
    # shared-CTE contract with friedman: identical rank sums
    fr = {
        r["event_type"]: r["rank_sum_dbl"]
        for r in QUERIES["friedman_balanced_blocks"](spark, SF).collect()
    }
    assert fr == {r["event_type"]: r["rank_sum_dbl"] for r in rows}


def test_grubbs_outlier_bruteforce(spark):
    """G^2 recomputed with unbounded Python ints from the definition
    ((n-1) * dev*^2 // sum dev^2, micro-quantized), the argmax with
    the (|dev| DESC, custkey) total order, and the statistical
    identity G = |x* - xbar| / s verified in floats."""
    import math
    from collections import defaultdict

    cust = (
        load_table(spark, SF, "customer")
        .select(
            "c_nationkey",
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    by_nk: dict[int, list] = defaultdict(list)
    for r in cust:
        by_nk[r["c_nationkey"]].append((r["c_custkey"], r["cents"]))
    got = {
        r["nation_key"]: r
        for r in QUERIES["grubbs_outlier_scan"](spark, SF).collect()
    }
    assert set(got) == set(by_nk)
    for nk, items in by_nk.items():
        n = len(items)
        s = sum(c for _, c in items)
        devs = [(abs(n * c - s), -ck, ck, n * c - s) for ck, c in items]
        devs.sort(reverse=True)
        _, _, ck_star, dev_star = devs[0]
        sum_dev2 = sum((n * c - s) ** 2 for _, c in items)
        g2_micro = ((n - 1) * dev_star * dev_star * 1000000) // sum_dev2
        r = got[nk]
        assert r["n_cust"] == n and r["outlier_custkey"] == ck_star
        assert r["dev_n_cleared"] == dev_star
        assert r["g2_micro"] == g2_micro
        assert r["g_stat"] == math.sqrt(g2_micro / 1000000.0)
        # identity vs the textbook float definition (within quantization)
        mean = s / n
        sd = math.sqrt(sum((c - mean) ** 2 for _, c in items) / (n - 1))
        g_text = abs(dev_star / n) / sd
        assert abs(r["g_stat"] - g_text) <= 1e-3 + 1e-6 * g_text

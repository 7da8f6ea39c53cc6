"""Focused equivalence tests for round-12 optimization rewrites.

Each optimization here changed an operator's *plan shape* while
claiming bit-identical output; these tests pin that claim against the
original (unstaged / multi-pass) formulation so the two cannot drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clean_census_acs_data_spark.operators import text as X
from clean_census_acs_data_spark.io import load_table

SF = "/root/testdata/sf0.001"


def test_lang_id_frame_matches_unstaged_fold(spark):
    """lang_id_frame (the staged-projection rewrite behind
    text_lang_id) must agree row-for-row with the original inline
    lang_id/lang_scores expressions — same argmax, same tiebreak, same
    en-ratio bits. The rewrite only restructures the expression DAG
    (stage the five stopword ratios as real columns, then fold over
    plain references); any arithmetic difference shows up here."""
    docs = load_table(spark, SF, "documents")
    staged = X.lang_id_frame(docs, "text", keep=("doc_id",)).select(
        "doc_id", "pred_lang", *[f"s_{L}" for L in sorted(X.LANG_STOPWORDS)]
    )
    toks = X.tokens("text")
    scores = X.lang_scores(toks)
    unstaged = docs.select(
        "doc_id",
        X.lang_id(toks).alias("pred_lang"),
        *[scores[L].alias(f"s_{L}") for L in sorted(X.LANG_STOPWORDS)],
    )
    assert staged.exceptAll(unstaged).count() == 0
    assert unstaged.exceptAll(staged).count() == 0


def test_funnel_window_probe_matches_semijoin_probe(spark):
    """funnel_time_constrained's r12 single-window-pass form must
    agree with the original chained bucketed-EXISTS decomposition
    (still live in _exists_within): the range frame (−(w−1), −1) on
    integer µs is exactly the open interval (us−w, us) the semi-join
    probes."""
    from clean_census_acs_data_spark.queries import QUERIES
    from clean_census_acs_data_spark.queries_analytics import (
        _FUNNEL_W_US,
        _exists_within,
    )

    ev = load_table(spark, SF, "events")

    def typed(t, *cols):
        return ev.where(F.col("event_type") == t).select(
            *cols, F.unix_micros("ts").alias("us")
        )

    p = typed("purchase", "event_id", "user_id")
    c = typed("click", "user_id")
    v = typed("view", "user_id")
    cv = _exists_within(c, v, _FUNNEL_W_US).distinct()
    old = (
        p.count(),
        _exists_within(p, c, _FUNNEL_W_US).count(),
        _exists_within(p, cv, _FUNNEL_W_US).count(),
    )
    r = QUERIES["funnel_time_constrained"](spark, SF).collect()[0]
    assert (r.n_purchases, r.n_with_click, r.n_full_chain) == old


def test_basket_inrow_pairs_match_selfjoin_pairs(spark):
    """market_basket_lift's r12 in-row pair generation (collect_set →
    sorted array → upper-triangle transform) must emit exactly the
    pair multiset of the original distinct-items self-join, and the
    full lift table must match the self-join reformulation row-for-
    row."""
    from clean_census_acs_data_spark.queries import QUERIES
    from clean_census_acs_data_spark.queries_analytics import _BASKET_MIN_SUPPORT

    items = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pr = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    cab = (
        pr.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= _BASKET_MIN_SUPPORT)
    )
    cu = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    tot = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    ua = cu.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a"))
    ub = cu.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b"))
    old = (
        cab.join(ua, "part_a")
        .join(ub, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(
                F.col("c_ab").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                * 1000000.0
            )
            .cast("long")
            .alias("lift_e6"),
        )
    )
    new = QUERIES["market_basket_lift"](spark, SF)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    ) and new.count() > 0


def test_markov_window_totals_match_joinback(spark):
    """markov_transition_counts' r12 SUM-over-window row totals must
    equal the original aggregate-then-broadcast-join-back totals,
    probability bits included (same long/long → double division)."""
    from pyspark.sql.window import Window

    from clean_census_acs_data_spark.queries import QUERIES

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_table(spark, SF, "events").select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    tr = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = tr.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("row_total")
    )
    old = tr.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.col("row_total").cast("double")).alias(
            "prob"
        ),
    )
    new = QUERIES["markov_transition_counts"](spark, SF)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    ) and new.count() > 0


def test_bucketed_minmax_matches_per_user_grouping(spark):
    """applyinpandas_minmax_scale's r12 bucketed grouped-map (pmod
    user bucket + vectorized per-user groupby-transform inside) must
    emit exactly the rows of the original one-group-per-user form."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from clean_census_acs_data_spark.io import spread
    from clean_census_acs_data_spark.queries import QUERIES

    schema = StructType(
        [
            StructField("event_id", LongType(), False),
            StructField("user_id", LongType(), False),
            StructField("scaled_micro", LongType(), False),
        ]
    )

    def scale_one_user(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = pdf["cents"].to_numpy()
        mn, mx = int(cents.min()), int(cents.max())
        s = (
            np.zeros(len(cents), dtype=np.int64)
            if mx == mn
            else (cents - mn) * 1_000_000 // (mx - mn)
        )
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                "user_id": pdf["user_id"].to_numpy(),
                "scaled_micro": s.astype(np.int64),
            }
        )

    e = spread(load_table(spark, SF, "events")).select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    old = e.groupBy("user_id").applyInPandas(scale_one_user, schema)
    new = QUERIES["applyinpandas_minmax_scale"](spark, SF)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    ) and new.count() > 0


def test_bucketed_cogroup_stats_match_per_user_grouping(spark):
    """cogroup_click_purchase_stats' r12 bucketed cogroup (vectorized
    per-user reindex inside) must emit exactly the rows of the
    original one-cogroup-per-user form, full-outer semantics
    included."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from clean_census_acs_data_spark.queries import QUERIES

    schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("n_clicks", LongType(), False),
            StructField("n_purchases", LongType(), False),
            StructField("clicks_before_first_purchase", LongType(), False),
        ]
    )

    def stats_one_user(key, clicks, purchases):
        (uid,) = key
        n_c, n_p = len(clicks), len(purchases)
        if n_p:
            first = purchases["us"].to_numpy().min()
            before = int((clicks["us"].to_numpy() < first).sum()) if n_c else 0
        else:
            before = 0
        return pd.DataFrame(
            {
                "user_id": np.array([uid], dtype=np.int64),
                "n_clicks": np.array([n_c], dtype=np.int64),
                "n_purchases": np.array([n_p], dtype=np.int64),
                "clicks_before_first_purchase": np.array([before], dtype=np.int64),
            }
        )

    ev = load_table(spark, SF, "events")
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    old = (
        c.groupBy("user_id").cogroup(p.groupBy("user_id")).applyInPandas(
            stats_one_user, schema
        )
    )
    new = QUERIES["cogroup_click_purchase_stats"](spark, SF)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    ) and new.count() > 0


def test_sweep_derived_configs_match_independent_bandings(spark):
    """lsh_parameter_sweep's r12 single-superset derivation (all three
    configs read off the 8x1 candidate set via signature predicates)
    must match the original per-config independent banding self-joins
    row-for-row."""
    from clean_census_acs_data_spark.operators import dedup as D
    from clean_census_acs_data_spark.queries import QUERIES
    from clean_census_acs_data_spark.queries_dedup import _SWEEP_CONFIGS

    sh_tbl = D.standard_shingle_table(spark, SF)
    sig = D.standard_minhash_signatures(spark, SF)
    rows = []
    for bands, rpb in _SWEEP_CONFIGS:
        band_cols = [
            F.concat_ws("#", *[F.col(f"mh{b * rpb + r}") for r in range(rpb)])
            for b in range(bands)
        ]
        banded = sig.select(
            "doc", F.posexplode(F.array(*band_cols)).alias("band_id", "band_key")
        )
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"])
        )
        sa = sh_tbl.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
        sb = sh_tbl.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
        ver = cand.join(sa, "doc_a").join(sb, "doc_b")
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("long")
        union = F.size("sh_a").cast("long") + F.size("sh_b").cast("long") - inter
        jac = inter.cast("double") / union.cast("double")
        r = (
            ver.select(jac.alias("jaccard"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
                F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0))
                .cast("long")
                .alias("n_verified"),
                F.expr(
                    "cast(sum(case when jaccard >= 0.5 then 1 else 0 end)"
                    " * 1000000 div count(1) as long)"
                ).alias("precision_micro"),
            )
            .collect()[0]
        )
        rows.append((bands, r.n_candidates, r.n_verified, r.precision_micro))
    got = sorted(
        (r.bands, r.n_candidates, r.n_verified, r.precision_micro)
        for r in QUERIES["lsh_parameter_sweep"](spark, SF).collect()
    )
    assert got == sorted(rows)
    # the nesting that licenses the derivation: candidate counts are
    # monotone in band count (2x4 subset of 4x2 subset of 8x1)
    by_bands = {r[0]: r[1] for r in rows}
    assert by_bands[2] <= by_bands[4] <= by_bands[8]


def test_cc_fused_convergence_exact_on_chain_and_forest(spark):
    """connected_components' r12 fused convergence check (old_label
    carried through the checkpoint, filter+count instead of a diff
    join) must still land exactly on min-label fixpoints — exercised
    on a 12-hop chain (multiple pointer-jump rounds, nontrivial
    convergence detection) plus disjoint components."""
    from clean_census_acs_data_spark.operators.components import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(100, 112)]
    other = [(7, 3), (3, 1), (50, 40)]
    edges = spark.createDataFrame(
        chain + other, schema="doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(edges).collect()
    }
    want = {(v, 100) for v in range(100, 113)}
    want |= {(v, 1) for v in (1, 3, 7)}
    want |= {(40, 40), (50, 40)}
    assert got == want


def test_cc_fused_convergence_exact_on_chain_and_forest_rounds(spark, cc_rounds):
    test_cc_fused_convergence_exact_on_chain_and_forest(spark)


def test_hodges_lehmann_inrow_matches_pair_join(spark):
    """hodges_lehmann_location's r12 in-row Walsh-pair selection
    (collect_list → upper-triangle transform → array_sort →
    element_at) must select exactly the join-form median: the k-th
    smallest pair SUM under (s, ia, ib) ordering is the k-th element
    of the sorted sum multiset, because the id tiebreaks only permute
    EQUAL sums."""
    from pyspark.sql.window import Window

    from clean_census_acs_data_spark.queries import QUERIES

    got = {
        (r.nation_key, r.n_walsh_pairs, r.hl_doubled_cents)
        for r in QUERIES["hodges_lehmann_location"](spark, SF).collect()
    }
    c = load_table(spark, SF, "customer").select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("ck"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    b = c.select(
        F.col("nk").alias("nkb"),
        F.col("ck").alias("ib"),
        F.col("cents").alias("cb"),
    )
    w = c.join(
        b, (F.col("nk") == F.col("nkb")) & (F.col("ck") <= F.col("ib"))
    ).select(
        "nk",
        (F.col("cents") + F.col("cb")).alias("s"),
        F.col("ck").alias("ia"),
        "ib",
    )
    wr = Window.partitionBy("nk").orderBy("s", "ia", "ib")
    want = {
        (r.nk, r.np, r.s)
        for r in w.select(
            "nk",
            "s",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("nk")).alias("np"),
        )
        .where(F.col("rn") == F.expr("(np + 1) DIV 2"))
        .select("nk", F.col("np").cast("long").alias("np"), "s")
        .collect()
    }
    assert got == want


def test_attribution_window_matches_bucket_probe_join(spark):
    """attribution_first_last's r12 RANGE-window form must agree
    row-for-row with the original bucket-probe left join + group-by
    (the exact pre-r12 formulation, rebuilt here): same touch counts,
    same first/last (µs, id) struct extrema, zero-touch purchases
    included with NULL extrema."""
    from clean_census_acs_data_spark.queries import QUERIES
    from clean_census_acs_data_spark.queries_analytics import _ATTR_WINDOW_US

    new = QUERIES["attribution_first_last"](spark, SF)

    ev = load_table(spark, SF, "events")
    w = F.lit(_ATTR_WINDOW_US).cast("long")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        F.col("user_id").alias("__pu"),
        F.unix_micros("ts").alias("__pus"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("__cu"),
        F.unix_micros("ts").alias("__cus"),
        F.col("event_id").alias("__cid"),
        F.floor(F.unix_micros("ts") / w).cast("long").alias("__cb"),
    )
    probes = p.withColumn(
        "__pb",
        F.explode(
            F.array(
                (F.floor(F.col("__pus") / w) - 1).cast("long"),
                F.floor(F.col("__pus") / w).cast("long"),
            )
        ),
    )
    joined = probes.join(
        c,
        (F.col("__pb") == F.col("__cb"))
        & (F.col("__pu") == F.col("__cu"))
        & (F.col("__cus") < F.col("__pus"))
        & (F.col("__cus") > F.col("__pus") - w),
        "left",
    )
    touch = F.when(
        F.col("__cus").isNotNull(),
        F.struct(F.col("__cus").alias("us"), F.col("__cid").alias("eid")),
    )
    old = (
        joined.groupBy("event_id")
        .agg(
            F.count("__cus").cast("long").alias("n_touches"),
            F.min(touch).alias("__f"),
            F.max(touch).alias("__l"),
        )
        .select(
            "event_id",
            "n_touches",
            F.col("__f.us").alias("first_touch_us"),
            F.col("__f.eid").alias("first_touch_id"),
            F.col("__l.us").alias("last_touch_us"),
            F.col("__l.eid").alias("last_touch_id"),
        )
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_open_orders_explode_matches_union_deltas(spark):
    """open_orders_sweep's r12 in-row two-delta explode must produce
    the exact (day, delta-sum) aggregate of the original self-union of
    the joined frame."""
    from clean_census_acs_data_spark.queries import QUERIES

    new = QUERIES["open_orders_sweep"](spark, SF)
    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders")
    closes = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_date")
    )
    j = o.join(closes, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderdate", "close_date"
    )
    deltas = j.select(
        F.col("o_orderdate").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        j.select(
            F.date_add("close_date", 1).alias("day"), F.lit(-1).alias("delta")
        )
    )
    per = deltas.groupBy("day").agg(F.sum("delta").cast("long").alias("d"))
    from pyspark.sql.window import Window

    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    old = per.select(
        "day", F.sum("d").over(wcum).cast("long").alias("open_orders")
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_argbest_centroid_matches_rownumber_window(spark):
    """argbest_centroid's in-row fold must reproduce the ROW_NUMBER
    (c_cos DESC, centroid_id ASC) rn=1 selection it replaced in
    ivf_topk / semantic_dedup — including the degenerate orderings:
    equal scores always keep the smaller id (ties broken first-wins
    over the id-ascending centroid array). Zero-norm vectors raise
    identically in both forms under the session's ANSI division, so
    the equivalence domain is non-degenerate vectors."""
    from pyspark.sql.window import Window

    from clean_census_acs_data_spark.operators import similarity as S

    # vectors engineered for exact cosine ties: centroid 0 = e1,
    # centroid 1 = e2, centroid 2 = (1,1)
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 1.0]),
        (3, [1.0, 1.0]),  # tie with centroid 2 (cos=1); ties 0 vs 1
        (4, [0.0, 2.0]),  # ties centroids 1 and 2? no: 1 wins (cos=1)
        (5, [3.0, 0.0]),  # centroid 0 wins exactly
        (6, [2.0, 1.0]),
        (7, [1.0, 2.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = S._quantized(emb, "vec_id", "embedding")
    cent = base.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("__q").alias("__cq"),
        F.col("__n2").alias("__cn2"),
    )
    got = {
        (r.vec_id, r.cid)
        for r in base.crossJoin(F.broadcast(S.centroid_array(cent)))
        .select(
            "vec_id",
            S.argbest_centroid(F.col("__q"), F.col("__n2"), F.col("__cents"))[
                "cid"
            ].alias("cid"),
        )
        .collect()
    }
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        S.cosine(
            S._dot_q(F.col("__q"), F.col("__cq")),
            F.col("__n2"),
            F.col("__cn2"),
        ).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("c_cos"), F.asc("centroid_id")
    )
    want = {
        (r.vec_id, r.centroid_id)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    assert got == want
    # pin the engineered cases explicitly
    by_vec = dict(got)
    assert by_vec[3] == 2  # exact cos=1 with centroid 2
    assert by_vec[4] == 1
    assert by_vec[5] == 0


def test_bucketed_debounce_matches_per_user_grouping(spark):
    """event_debounce_keep_first's r12 bucketed grouped-map (pmod user
    bucket, per-user state reset at each user boundary inside the
    fold) must emit exactly the rows of the original
    one-group-per-user form."""
    import pandas as pd

    from clean_census_acs_data_spark.queries import QUERIES
    from clean_census_acs_data_spark.queries_events import _DEBOUNCE_GAP_US

    new = QUERIES["event_debounce_keep_first"](spark, SF)

    ev = (
        load_table(spark, SF, "events")
        .groupBy("user_id", F.unix_micros("ts").alias("us"))
        .agg(F.min("event_id").alias("eid"))
    )
    gap = _DEBOUNCE_GAP_US

    def fold_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("us")
        uid = pdf["user_id"].iloc[0]
        kept_us, kept_eid = [], []
        last = None
        for u, e in zip(pdf["us"].tolist(), pdf["eid"].tolist()):
            if last is None or u - last >= gap:
                kept_us.append(u)
                kept_eid.append(e)
                last = u
        return pd.DataFrame(
            {
                "user_id": [uid] * len(kept_us),
                "kept_us": kept_us,
                "kept_eid": kept_eid,
            }
        )

    old = ev.groupBy("user_id").applyInPandas(
        fold_one, schema="user_id long, kept_us long, kept_eid long"
    )
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    ) and new.count() > 0


def test_greedy_gains_arithmetic_matches_antijoin_aggregate(spark):
    """greedy_coverage_select's r12 gains derivation — per-doc total
    minus broadcast covered-hit count, dropping gain 0 — must emit
    exactly the rows of the original per-round anti-join + full
    re-aggregation for every greedy round state. Rebuilds the old form
    verbatim and walks both through all three rounds."""
    from clean_census_acs_data_spark.operators.text import shingles

    d = load_table(spark, SF, "documents")
    t = F.split(F.lower(F.col("text")), " ")
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(shingles(t, 2))).alias("gram")
    ).cache()
    totals = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("total"))

    picked = None
    covered = None
    for rnd in range(1, 4):
        # old form: anti-join the full pair table, re-aggregate
        rem = grams
        if picked is not None:
            rem = rem.join(F.broadcast(picked), "doc_id", "left_anti")
        if covered is not None:
            rem = rem.join(F.broadcast(covered), "gram", "left_anti")
        old_gains = rem.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("marginal_gain")
        )
        # new form: arithmetic over the once-computed totals
        if covered is None:
            new_gains = totals.select(
                "doc_id", F.col("total").alias("marginal_gain")
            )
        else:
            hits = (
                grams.join(F.broadcast(covered), "gram")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("hit"))
            )
            new_gains = (
                totals.join(F.broadcast(picked), "doc_id", "left_anti")
                .join(hits, "doc_id", "left")
                .select(
                    "doc_id",
                    (
                        F.col("total") - F.coalesce(F.col("hit"), F.lit(0))
                    ).alias("marginal_gain"),
                )
                .where(F.col("marginal_gain") > 0)
            )
        assert old_gains.exceptAll(new_gains).count() == 0
        assert new_gains.exceptAll(old_gains).count() == 0
        # advance the greedy state via the OLD form
        pick_docs = (
            old_gains.orderBy(F.desc("marginal_gain"), "doc_id")
            .limit(1)
            .select("doc_id")
            .cache()
        )
        assert pick_docs.count() == 1
        picked = pick_docs if picked is None else picked.union(pick_docs)
        pick_grams = grams.join(F.broadcast(pick_docs), "doc_id").select("gram")
        covered = (
            pick_grams if covered is None else covered.union(pick_grams).distinct()
        ).cache()
        covered.count()


def test_xsource_inrow_pairs_match_selfjoin(spark):
    """cross_source_fp_overlap's r12 in-row holder-set pair generation
    must emit exactly the rows of the original distinct → fp⋈fp
    self-join with the source inequality (rebuilt verbatim here)."""
    from clean_census_acs_data_spark.queries import QUERIES
    from clean_census_acs_data_spark.io import spread

    new = QUERIES["cross_source_fp_overlap"](spark, SF)

    d = spread(load_table(spark, SF, "documents"))
    toks = X.tokens("text")
    fps = F.filter(
        F.transform(X.shingles(toks, 3), X.md5_long),
        lambda h: h % 8 == 0,
    )
    fp = (
        d.where(F.size(F.split(F.col("text"), " ")) >= 3)
        .select("source", F.explode(fps).alias("fp"))
        .distinct()
    )
    a = fp.select(F.col("source").alias("source_a"), "fp")
    b = fp.select(F.col("source").alias("source_b"), "fp")
    old = (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() > 0


def test_loo_single_pass_matches_join_form(spark):
    """source_loo_coverage's r12 single-derivation form (per-gram
    holder sets + pos-0 total attribution) must emit exactly the rows
    of the original distinct → holder-count → join-back shape
    (rebuilt verbatim here, including the crossJoin total)."""
    from clean_census_acs_data_spark.operators.text import shingles
    from clean_census_acs_data_spark.queries import QUERIES

    new = QUERIES["source_loo_coverage"](spark, SF)

    d = load_table(spark, SF, "documents")
    t = F.split(F.lower(F.col("text")), " ")
    grams = d.select(
        "source", F.explode(F.array_distinct(shingles(t, 2))).alias("gram")
    ).distinct()
    holders = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_sources"))
    per = (
        grams.join(holders, "gram")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
    )
    total = holders.agg(F.count(F.lit(1)).cast("long").alias("total_grams"))
    old = per.crossJoin(F.broadcast(total)).select(
        "source",
        "n_grams",
        "n_unique",
        "total_grams",
        F.expr("(CAST(n_unique AS DECIMAL(38,0)) * 1000000) DIV total_grams")
        .cast("long")
        .alias("loo_drop_ppm"),
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() > 0


def test_inrow_pair_kernels_match_explode_sequence_forms(spark):
    """The r12 in-row pair/bigram generators (token_cooccurrence_pmi,
    lm_bigram_surprisal, doremi_domain_weights) must emit exactly the
    multiset of the old explode(sequence) + element_at forms —
    including 1- and 2-token edge docs, where sequence(1, 0) would go
    DESCENDING and fabricate phantom pairs without the guard."""
    d = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "x"),
            (3, "p q"),
            (4, "m n o"),
            (5, ""),
        ],
        "doc_id long, text string",
    ).select("doc_id", F.split("text", " ").alias("t"))

    # --- PMI ±2-window unordered pairs
    def _offset_pairs(o):
        return (
            d.where(F.size("t") > o)
            .select(
                F.explode(F.sequence(F.lit(1), F.size("t") - o)).alias("i"),
                "t",
            )
            .select(
                F.least(
                    F.expr("element_at(t, i)"),
                    F.expr(f"element_at(t, i + {o})"),
                ).alias("tok_a"),
                F.greatest(
                    F.expr("element_at(t, i)"),
                    F.expr(f"element_at(t, i + {o})"),
                ).alias("tok_b"),
            )
        )

    old_pr = _offset_pairs(1).unionAll(_offset_pairs(2))

    def _pairs_for(o):
        idx = F.when(
            F.size("t") > o, F.sequence(F.lit(1), F.size("t") - o)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                F.least(
                    F.element_at(F.col("t"), i),
                    F.element_at(F.col("t"), i + F.lit(o)),
                ).alias("tok_a"),
                F.greatest(
                    F.element_at(F.col("t"), i),
                    F.element_at(F.col("t"), i + F.lit(o)),
                ).alias("tok_b"),
            ),
        )

    new_pr = (
        d.where(F.size("t") > 1)
        .select(F.explode(F.concat(_pairs_for(1), _pairs_for(2))).alias("p"))
        .select("p.tok_a", "p.tok_b")
    )
    assert old_pr.exceptAll(new_pr).count() == 0
    assert new_pr.exceptAll(old_pr).count() == 0
    assert new_pr.count() == 3 + 2 + 1 + 2 + 1  # doc1: 3+2, doc3: 1, doc4: 2+1

    # --- adjacent bigrams (the lm_bigram_surprisal / doremi kernel)
    old_bg = (
        d.where(F.size("t") > 1)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
            "doc_id",
            "t",
        )
        .select(
            "doc_id",
            F.expr("element_at(t, i)").alias("w1"),
            F.expr("element_at(t, i + 1)").alias("w2"),
        )
    )
    new_bg = (
        d.where(F.size("t") > 1)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("w1"),
                        F.element_at(F.col("t"), i + F.lit(1)).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    assert old_bg.exceptAll(new_bg).count() == 0
    assert new_bg.exceptAll(old_bg).count() == 0


def test_decontaminate_single_agg_matches_two_agg_join(spark):
    """ngram_decontaminate's r12 single-aggregation form (in-row eval
    flag + conditional sum) must emit exactly the rows of the original
    totals⋈overlaps two-aggregate shape (rebuilt verbatim here)."""
    from clean_census_acs_data_spark.operators.corpus import (
        _word_grams,
        ngram_decontaminate,
    )
    from clean_census_acs_data_spark.operators.text import md5_long

    docs = load_table(spark, SF, "documents")
    train = docs.where(F.col("doc_id") % 17 != 0)
    eval_set = docs.where(F.col("doc_id") % 17 == 0)
    new = ngram_decontaminate(train, eval_set, n=5)

    t_grams = (
        train.select(
            "doc_id", F.explode(_word_grams(F.col("text"), 5)).alias("gram")
        )
        .select("doc_id", md5_long(F.col("gram")).alias("gram_h"))
        .distinct()
    )
    e_grams = (
        eval_set.select(F.explode(_word_grams(F.col("text"), 5)).alias("gram"))
        .select(md5_long(F.col("gram")).alias("gram_h"))
        .distinct()
    )
    totals = t_grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams_distinct")
    )
    overlaps = (
        t_grams.join(e_grams, "gram_h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.col("n_overlap").cast("double") / F.col(
        "n_grams_distinct"
    ).cast("double")
    old = totals.join(overlaps, "doc_id", "left").select(
        "doc_id",
        "n_grams_distinct",
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        F.coalesce(frac, F.lit(0.0)).alias("overlap_frac"),
        (F.coalesce(frac, F.lit(0.0)) > F.lit(0.10)).alias("is_contaminated"),
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() > 0

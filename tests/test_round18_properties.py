"""Round-18 tier property tests: rank stats, MI, Ed-Join, two-phase CC."""

from __future__ import annotations

from fractions import Fraction

import pyspark.sql.functions as F

from clean_census_acs_data_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_two_phase_components_match_label_propagation(spark):
    """Large-star/small-star and min-label propagation must reach the
    SAME (doc_id, component_id) fixpoint on the standard pair graph."""
    a = sorted(map(tuple, QUERIES["components_large_star"](spark, SF).collect()))
    b = sorted(map(tuple, QUERIES["dedup_components"](spark, SF).collect()))
    assert a and a == b


def test_two_phase_components_match_label_propagation_rounds(spark, cc_rounds):
    test_two_phase_components_match_label_propagation(spark)


def test_two_phase_components_long_chain(spark):
    """The algorithm's selling point: a path graph (diameter = n−1)
    converges in O(log² n) star rounds — and to the right answer."""
    from clean_census_acs_data_spark.operators.components import (
        connected_components_two_phase,
    )

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(1000, 1001)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components_two_phase(edges, max_iters=12).collect()
    }
    assert all(got[i] == 0 for i in range(n))
    assert got[1000] == 1000 and got[1001] == 1000
    assert len(got) == n + 2


def test_two_phase_components_long_chain_rounds(spark, cc_rounds):
    test_two_phase_components_long_chain(spark)


def test_is_star_forest_exact_confirmation(spark):
    """ADVICE r10: signature-match convergence is probabilistic; the
    exact confirmation accepts precisely the fixpoints (min-rooted star
    forests) and rejects chains, duplicate children, and roots that are
    also children."""
    from clean_census_acs_data_spark.operators.components import _is_star_forest

    def mk(rows):
        return spark.createDataFrame(rows, "lo long, hi long")

    assert _is_star_forest(mk([(0, 1), (0, 2), (5, 6)]))  # two stars
    assert _is_star_forest(mk([]))  # empty graph is trivially converged
    assert not _is_star_forest(mk([(0, 1), (1, 2)]))  # chain: 1 is lo AND hi
    assert not _is_star_forest(mk([(0, 2), (1, 2)]))  # child 2 appears twice


def test_edjoin_finds_planted_near_dups(spark):
    """Every planted mutant whose dropped-first-token edit cost fits the
    threshold must pair with its original — recall on the known truth."""
    from clean_census_acs_data_spark.io import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    pairs = {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in QUERIES["edjoin_edit_distance_pairs"](spark, SF).collect()
    }
    expected = 0
    for did, text in docs.items():
        if did % 10 == 0 and len(text) >= 3:
            tok0 = text.split(" ")[0]
            ed = len(tok0) + 1  # dropped token + its separating space
            if ed <= 10:
                expected += 1
                assert pairs.get((did, did + 1_000_000)) == ed, (did, ed)
    assert expected > 0
    # symmetry/canonicalization: doc_a < doc_b everywhere, no dups
    assert all(a < b for a, b in pairs)


def test_edjoin_prefix_filter_lossless_vs_bruteforce(spark):
    """The candidate pruning (sliding length blocks + char-bag L1/2
    bound) is lossless: the verified output must equal the brute-force
    all-pairs levenshtein join."""
    from clean_census_acs_data_spark.operators.dedup import plant_near_dups
    from clean_census_acs_data_spark.io import load_table

    # deterministic third of the corpus: a pair's membership in the
    # result depends only on its two docs, so brute-force over a doc
    # subset must equal the full entry's output restricted to pairs
    # inside the subset — same losslessness check, 9× fewer pure-Python
    # levenshtein calls (the mutant keeps its original's residue class:
    # (id + 10⁶) % 3 cycles, so test membership via id % 10⁶)
    corpus = [
        (r.doc_id, r.text)
        for r in plant_near_dups(load_table(spark, SF, "documents"))
        .where(F.length("text") >= 3)
        .where((F.col("doc_id") % 1_000_000) % 3 == 0)
        .collect()
    ]
    subset = {i for i, _ in corpus}

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    brute = {}
    for i in range(len(corpus)):
        for j in range(i + 1, len(corpus)):
            (ida, ta), (idb, tb) = corpus[i], corpus[j]
            if abs(len(ta) - len(tb)) > 10:
                continue
            d = lev(ta, tb)
            if d <= 10:
                a, b = min(ida, idb), max(ida, idb)
                brute[(a, b)] = d
    got = {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in QUERIES["edjoin_edit_distance_pairs"](spark, SF).collect()
        if r.doc_a in subset and r.doc_b in subset
    }
    assert got == brute and brute


def test_spearman_matches_exact_fraction_computation(spark):
    """The SQL double-rank Spearman equals an exact-Fraction
    recomputation from the raw values (rho² compared exactly; the SQL
    rho itself only adds one IEEE sqrt + division)."""
    from clean_census_acs_data_spark.io import load_table

    cust = load_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("bal")
    )
    spend = (
        load_table(spark, SF, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sp"))
    )
    rows = (
        cust.join(spend, cust.c_custkey == spend.o_custkey)
        .select("c_nationkey", "bal", "sp")
        .collect()
    )
    by_nation: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_nation.setdefault(r.c_nationkey, []).append((r.bal, r.sp))

    def avg_ranks(vals: list[int]) -> list[Fraction]:
        order = sorted(vals)
        first = {}
        for idx, v in enumerate(order, 1):
            first.setdefault(v, idx)
        cnt: dict[int, int] = {}
        for v in order:
            cnt[v] = cnt.get(v, 0) + 1
        return [Fraction(2 * first[v] + cnt[v] - 1, 2) for v in vals]

    got = {
        r.nation_name: r
        for r in QUERIES["spearman_rho_exact"](spark, SF).collect()
    }
    nat = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, SF, "nation").collect()
    }
    checked = 0
    for nk, pts in by_nation.items():
        if len(pts) < 3:
            continue
        rx = avg_ranks([p[0] for p in pts])
        ry = avg_ranks([p[1] for p in pts])
        n = len(pts)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sx, sy = sum(rx), sum(ry)
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        num = n * sxy - sx * sy
        dx, dy = n * sxx - sx * sx, n * syy - sy * sy
        row = got[nat[nk]]
        assert row.n_cust == n
        # rho_num is the double-rank numerator = 4 × the Fraction one
        assert row.rho_num == 4 * num
        if dx > 0 and dy > 0:
            # compare rho² (no sqrt): the SQL double-rank scaling (4×
            # num, 4× each denominator) cancels exactly
            rho_sq = float(
                Fraction(4 * num) ** 2 / (Fraction(4 * dx) * Fraction(4 * dy))
            )
            assert abs(rho_sq - row.spearman_rho**2) < 1e-12
            assert -1.0 - 1e-12 <= row.spearman_rho <= 1.0 + 1e-12
            # sign agrees with the exact numerator
            assert (row.spearman_rho > 0) == (num > 0) or num == 0
        checked += 1
    assert checked >= 5


def test_rrf_fusion_rank_properties(spark):
    """Fused top-10: scores are the exact nano-quantized reciprocal
    sums of the two ranks, and a doc ranked #1 by BOTH legs would
    dominate — verified via the score formula's monotonicity."""
    rows = QUERIES["rrf_hybrid_dense_lexical"](spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.rrf_score == round(1e9 / (60 + r.rank_lex)) + round(
            1e9 / (60 + r.rank_dense)
        )
        assert r.rank_lex >= 1 and r.rank_dense >= 1
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_pass_at_k_matches_exact_fraction(spark):
    """pass@3 per nation equals the exact-Fraction combinatorial
    estimator recomputed from the raw (n, c) pairs."""
    from clean_census_acs_data_spark.io import load_table

    orders = (
        load_table(spark, SF, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("c"),
        )
        .collect()
    )
    cust_nat = {
        r.c_custkey: r.c_nationkey
        for r in load_table(spark, SF, "customer").collect()
    }
    nat_name = {
        r.n_nationkey: r.n_name for r in load_table(spark, SF, "nation").collect()
    }
    by_nation: dict[str, list[int]] = {}
    for r in orders:
        n, c = r.n, r.c
        if n < 3:
            continue
        if n - c >= 3:
            ratio = ((n - c) * (n - c - 1) * (n - c - 2)) / (n * (n - 1) * (n - 2))
            micro = round(1e6 - 1e6 * ratio)
        else:
            micro = 1_000_000
        by_nation.setdefault(nat_name[cust_nat[r.o_custkey]], []).append(micro)
    got = {r.nation_name: r for r in QUERIES["pass_at_k_exact"](spark, SF).collect()}
    assert len(got) == len(by_nation)
    for nation, micros in by_nation.items():
        row = got[nation]
        assert row.n_cust == len(micros)
        assert row.sum_pass_micro == sum(micros)
        assert 0 <= row.avg_pass_micro <= 1_000_000


def test_transpose_is_pure_relayout(spark):
    """transpose() must carry exactly the aggregate's cells: the (key,
    flag) matrix equals the pre-transpose frame read the other way."""
    rows = QUERIES["transpose_metrics_matrix"](spark, SF).collect()
    assert {r.key for r in rows} == {"n_items", "qty_sum", "net_cents"}
    mat = {r.key: {"A": r.A, "N": r.N, "R": r.R} for r in rows}
    from clean_census_acs_data_spark.io import load_table

    li = load_table(spark, SF, "lineitem")
    agg = {
        r.key: (r.n, r.q)
        for r in li.groupBy(F.col("l_returnflag").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("q"),
        )
        .collect()
    }
    for flag, (n, qty) in agg.items():
        assert mat["n_items"][flag] == n
        assert mat["qty_sum"][flag] == qty


def test_mutual_information_nonnegative_and_consistent(spark):
    """MI ≥ 0 (up to micro-nat quantization), marginals consistent, and
    the quantized total is within the per-cell quantization budget of
    an exact-float recomputation."""
    import math

    rows = QUERIES["mutual_information_cells"](spark, SF).collect()
    assert rows
    n = sum(r.c_xy for r in rows)
    mi_exact = 0.0
    for r in rows:
        assert sum(x.c_xy for x in rows if x.l_returnflag == r.l_returnflag) == r.c_x
        assert sum(x.c_xy for x in rows if x.l_linestatus == r.l_linestatus) == r.c_y
        assert r.contrib_micro == r.c_xy * r.pmi_micro_nats
        mi_exact += r.c_xy * math.log(n * r.c_xy / (r.c_x * r.c_y))
    total = rows[0].mi_sum_micro
    assert all(r.mi_sum_micro == total for r in rows)
    # quantization: each cell's pmi_micro carries ≤ 0.5 µnat rounding
    # + ~1e-3 µnat series truncation, weighted by c_xy → total within
    # ~0.51·N µnats of the exact-float MI sum
    assert abs(total - mi_exact * 1e6) <= 0.51 * n + 10
    # true MI ≥ 0; quantization can dip at most the same budget below
    assert total >= -(0.51 * n + 10)
    assert abs(rows[0].mi_nats - total / n / 1e6) < 1e-12

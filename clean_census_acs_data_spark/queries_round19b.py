"""Round-19 tier, second batch: suffix windowed distinct, the
Hodges–Lehmann robust location estimator, and the Mann–Whitney U test.

- ``windowed_distinct_suffix`` — exact distinct-count over the SUFFIX
  frame (CURRENT ROW .. UNBOUNDED FOLLOWING): the carried "two-phase
  pattern at other frame shapes" ask. COUNT(DISTINCT) OVER a frame is
  unsupported by engines generally; the two-phase rewrite (flag the
  LAST occurrence per key, then a suffix running sum of flags) is
  exact and runs as two windows on one shuffle. "Distinct event types
  this user will still produce from here on" is the dedup-budget /
  exploration-decay feature.
- ``hodges_lehmann_location``  — median of pairwise Walsh averages
  (xᵢ+xⱼ)/2, i ≤ j — the location estimator dual to the Wilcoxon
  signed-rank test (~95% Gaussian efficiency, 29% breakdown). Averages
  stay INTEGER as the sum xᵢ+xⱼ; the median is selection with total
  tiebreaks; the only float is the final /2.
- ``mann_whitney_u``           — the rank-sum two-sample test with
  tie-exact integer double-ranks (spearman_rho_exact's device): 2·U
  and the tie-correction Σ(t³−t) are exact int64, z is a single
  shared-text float tail. The nonparametric A/B answer to "did this
  cohort's distribution shift" that needs no normality assumption.

Determinism discipline per the package standard. Reference tie: none
(SURVEY.md §2D engine-extension tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clean_census_acs_data_spark.io import load_table, register_views
from clean_census_acs_data_spark.queries import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# suffix-frame exact distinct count (two-phase: last-occurrence + suffix sum)
# ---------------------------------------------------------------------------

_SUFFIX_DISTINCT_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
f AS (
  SELECT user_id, event_id, us,
         CASE WHEN LEAD(us) OVER (PARTITION BY user_id, event_type
                                  ORDER BY us, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_last
  FROM e
)
SELECT event_id, user_id,
       CAST(SUM(is_last) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING) AS BIGINT)
         AS n_distinct_remaining
FROM f
"""


@register("windowed_distinct_suffix", oracle=_SUFFIX_DISTINCT_ORACLE)
def windowed_distinct_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT event_type) over the SUFFIX frame — for
    each event, how many distinct types the user still produces from
    this row (inclusive) to the end of their history. Engines reject
    COUNT(DISTINCT) OVER any frame; the exact two-phase rewrite is:
    (1) flag each (user, type)'s LAST occurrence (LEAD over the
    per-type ordering is NULL), (2) suffix running sum of flags over
    the per-user ordering — a distinct type is counted from exactly
    its last occurrence backward, which is precisely suffix
    distinctness. The mirror of the classic first-occurrence/prefix
    trick, shipped at the other frame shape (VERDICT r10 ask #5
    carried candidate); window_distinct_rolling covers the bounded
    frame by frame-local array_distinct.

    100-TB shape: both windows hash-partition on user_id — ONE
    shuffle, two in-partition sorts ((type, us) then (us)); per-row
    state is a single running integer, never a set. Skew = the
    heaviest user's history, same bound as any per-user window.

    Scale bound: epoch-µs values are compared, never multiplied or
    differenced, and the suffix sum of 0/1 flags is bounded by the
    per-user distinct-type count — nothing here can approach int64 at
    any corpus size."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "us", "event_id"
    )
    w_suffix = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        "us",
        F.when(F.lead("us").over(w_type).isNull(), 1)
        .otherwise(0)
        .alias("is_last"),
    ).select(
        "event_id",
        "user_id",
        F.sum("is_last").over(w_suffix).cast("long").alias(
            "n_distinct_remaining"
        ),
    )


# ---------------------------------------------------------------------------
# Hodges–Lehmann location (median of Walsh averages), exact by selection
# ---------------------------------------------------------------------------

_HL_ORACLE = """
WITH c AS (
  SELECT c_nationkey AS nk, c_custkey AS ck,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
w AS (
  SELECT a.nk, a.cents + b.cents AS s, a.ck AS ia, b.ck AS ib
  FROM c a JOIN c b ON a.nk = b.nk AND a.ck <= b.ck
),
r AS (
  SELECT nk, s,
         ROW_NUMBER() OVER (PARTITION BY nk ORDER BY s, ia, ib) AS rn,
         COUNT(*) OVER (PARTITION BY nk) AS np
  FROM w
)
SELECT nk AS nation_key,
       CAST(np AS BIGINT) AS n_walsh_pairs,
       CAST(s AS BIGINT) AS hl_doubled_cents,
       CAST(s AS DOUBLE) / 2 AS hl_location_cents
FROM r WHERE rn = (np + 1) // 2
"""


@register("hodges_lehmann_location", oracle=_HL_ORACLE)
def hodges_lehmann_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann location estimate of customer account balance per
    nation: the median of all pairwise Walsh averages (xᵢ+xⱼ)/2 over
    i ≤ j (self-pairs included — the one-sample estimator). The robust
    location that keeps ~95% of the mean's Gaussian efficiency while
    tolerating 29% contamination — between exact_median_disc (50%
    breakdown, 64% efficiency) and avg on the robustness ladder, and
    the estimator dual to the Wilcoxon signed-rank test. Walsh
    averages stay INTEGER as the pair sum xᵢ+xⱼ (hl_doubled_cents);
    the median is lower-median selection with (sum, idᵢ, idⱼ)
    tiebreaks; the single float is the final /2 display division.

    100-TB shape: the quadratic is partition-key-bounded (nation) —
    the per-entity-bounded quadratic discipline. r12 replaced the
    per-nation pair self-join (n²/2 rows shuffled into a per-nation
    window sort) with in-row JVM generation from one collect_list per
    nation — the (s, ia, ib) ROW_NUMBER tiebreak of the join form only
    disambiguates EQUAL sums, so the k-th smallest SUM is the same
    value under any such order and only the sum is emitted. r13
    adjudication of the driver-observed 4.17 s reading found that form
    NO slower than r11 (4 matched-warmup cold tree pairs:
    +0.24/−1.01/+0.21/−1.23 s) but profiling showed its cost was the
    kernel itself: the nested transform/slice HOF built the ~180k pair
    sums per nation at interpreted-expression speed — 3.2–3.8 s per
    noop rep at sf0.1 for 25 rows of output (~17 µs/element). The
    kernel is now a grouped-map pandas stage (guide §4.2 "hand whole
    batches to vectorized native code"): per nation, numpy builds the
    upper-triangle outer sum (np.add.outer + triu_indices, self-pairs
    on the diagonal = the i ≤ j multiset) and np.partition selects the
    lower median — 0.50–0.59 s per rep (−84%), output verified
    element-identical to the JVM fold (test pins it). Group count is
    |nations| (bounded), so the per-group Python call count is fixed,
    not data-sized. Sums stay int64 end-to-end (cents ≤ ~10⁶; pair
    sums ≤ 2·10⁶ — exact); the single float is the final /2 display
    division, computed JVM-side as before. Past ~3×10⁴ rows per group
    the n²/2 int64 pair buffer (>3.6 GB/task) demands the
    binary-search-on-value HL algorithm (O(n log n)) — document,
    don't silently degrade (tighter statement of the join form's old
    ~10⁵ switch point)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )

    def _hl_group(pdf):
        import numpy as np
        import pandas as pd

        # NULL cents are not observations (collect_list drops them too)
        a = np.sort(pdf["cents"].dropna().to_numpy(np.int64))
        if not len(a):
            return pd.DataFrame({"nk": [], "np": [], "s": []})
        sums = np.add.outer(a, a)[np.triu_indices(len(a))]
        k = (len(sums) + 1) // 2
        s = int(np.partition(sums, k - 1)[k - 1])
        return pd.DataFrame(
            {"nk": [int(pdf["nk"].iloc[0])], "np": [len(sums)], "s": [s]}
        )

    g = c.groupBy("nk").applyInPandas(_hl_group, schema="nk int, np long, s long")
    return g.select(
        F.col("nk").alias("nation_key"),
        F.col("np").alias("n_walsh_pairs"),
        F.col("s").alias("hl_doubled_cents"),
        (F.col("s").cast("double") / 2).alias("hl_location_cents"),
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U (rank-sum) test, tie-exact integer core
# ---------------------------------------------------------------------------

# ONE dialect-shared text (no integral division anywhere, so the SAME
# string runs verbatim on both engines): samples are F-status vs
# O-status order totals per order priority; pooled tie-averaged ranks
# ride the integer double-rank device (2·rank + ties − 1 = 2·avg rank),
# so 2·R1 and hence 2·U1 = 2·R1 − n1(n1+1) are exact int64; the tie
# correction Σ(t³−t) is exact; z and Cliff's delta are the only float
# tails (normal approximation with tie-corrected variance, no
# continuity correction).

_MWU_SQL = """
WITH o AS (
  SELECT o_orderpriority AS grp,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS s1,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus IN ('F', 'O')
),
r AS (
  SELECT grp, s1, cents,
         CAST(2 * RANK() OVER (PARTITION BY grp ORDER BY cents)
              + COUNT(*) OVER (PARTITION BY grp, cents) - 1 AS BIGINT)
           AS dr
  FROM o
),
t AS (
  SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS tie
  FROM r GROUP BY grp, cents
),
ties AS (
  SELECT grp, CAST(SUM(tie * tie * tie - tie) AS BIGINT) AS tie_cubes
  FROM t GROUP BY grp
),
agg AS (
  SELECT grp,
         CAST(SUM(s1) AS BIGINT) AS n1,
         CAST(COUNT(*) - SUM(s1) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN s1 = 1 THEN dr ELSE 0 END) AS BIGINT) AS r1_dbl
  FROM r GROUP BY grp
)
SELECT a.grp AS order_priority,
       a.n1, a.n2,
       CAST(a.r1_dbl - a.n1 * (a.n1 + 1) AS BIGINT) AS u1_doubled,
       CAST(a.r1_dbl - a.n1 * (a.n1 + 1) - a.n1 * a.n2 AS BIGINT)
         AS cliffs_delta_num,
       CASE WHEN a.n1 > 0 AND a.n2 > 0 THEN
         CAST(a.r1_dbl - a.n1 * (a.n1 + 1) - a.n1 * a.n2 AS DOUBLE)
         / CAST(a.n1 * a.n2 AS DOUBLE)
       ELSE NULL END AS cliffs_delta,
       ti.tie_cubes,
       CASE WHEN a.n1 > 0 AND a.n2 > 0 AND a.n1 + a.n2 > 1 THEN
         (CAST(a.r1_dbl - a.n1 * (a.n1 + 1) AS DOUBLE) / 2
          - CAST(a.n1 * a.n2 AS DOUBLE) / 2)
         / sqrt(CAST(a.n1 * a.n2 AS DOUBLE) / 12
                * (CAST(a.n1 + a.n2 + 1 AS DOUBLE)
                   - CAST(ti.tie_cubes AS DOUBLE)
                     / CAST((a.n1 + a.n2) * (a.n1 + a.n2 - 1) AS DOUBLE)))
       ELSE NULL END AS z_score
FROM agg a JOIN ties ti ON a.grp = ti.grp
"""


@register("mann_whitney_u", oracle=_MWU_SQL)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test per order priority:
    does the order-value distribution of finished ('F') orders differ
    from open ('O') ones? The nonparametric two-sample test every
    experimentation pipeline reaches for when value distributions are
    heavy-tailed and a t-test's normality assumption is indefensible.
    Pooled tie-averaged ranks use the integer double-rank device
    (spearman_rho_exact), so 2·R1 — and with it 2·U1 = 2·R1 −
    n1(n1+1) — is an exact int64; the tie correction Σ(t³−t)
    is an exact integer aggregate; Cliff's delta — the standard effect
    size, (#greater − #less)/(n1·n2) = (2·U1 − n1·n2)/(n1·n2) — rides
    the same exact integers; the z statistic (tie-corrected normal
    approximation) and delta are the only float tails, each a single
    shared-text expression over exact ints.

    100-TB shape: one ranking window partitioned by the 5-value group
    key, one groupBy for tie runs, one 5-row agg — the window is the
    only heavy exchange, same profile as spearman. Scale bound:
    r1_dbl ≤ 2n² (int64 to n ≈ 2×10⁹ per group); Σ(t³−t) ≤ n³ (int64
    to n ≈ 2×10⁶ per group — past that, the DECIMAL(38,0) switch per
    spearman_rho_decimal)."""
    register_views(spark, sf_dir)
    return spark.sql(_MWU_SQL)


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample statistic, exact integer numerator
# ---------------------------------------------------------------------------

# D = sup_x |F1(x) − F2(x)| evaluated at pooled sample points, kept
# exact as the INTEGER numerator max |n2·cum1(v) − n1·cum2(v)| (common
# denominator n1·n2); the max is selection, not summation, so no float
# accumulation exists. Dialect-shared text.

_KS_SQL = """
WITH o AS (
  SELECT o_orderpriority AS grp,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS s1,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus IN ('F', 'O')
),
v AS (
  SELECT grp, cents,
         CAST(SUM(s1) AS BIGINT) AS c1,
         CAST(COUNT(*) - SUM(s1) AS BIGINT) AS c2
  FROM o GROUP BY grp, cents
),
cum AS (
  SELECT grp, cents,
         CAST(SUM(c1) OVER (PARTITION BY grp ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
         CAST(SUM(c2) OVER (PARTITION BY grp ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2,
         CAST(SUM(c1) OVER (PARTITION BY grp) AS BIGINT) AS n1,
         CAST(SUM(c2) OVER (PARTITION BY grp) AS BIGINT) AS n2
  FROM v
)
SELECT grp AS order_priority,
       MAX(n1) AS n1, MAX(n2) AS n2,
       CAST(MAX(ABS(n2 * cum1 - n1 * cum2)) AS BIGINT) AS ks_num,
       CAST(MAX(ABS(n2 * cum1 - n1 * cum2)) AS DOUBLE)
         / CAST(MAX(n1) * MAX(n2) AS DOUBLE) AS ks_stat
FROM cum GROUP BY grp
"""


@register("kolmogorov_smirnov_2sample", oracle=_KS_SQL)
def kolmogorov_smirnov_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per order priority
    (finished vs open order values): D = sup|F1 − F2| over the pooled
    points — the SHAPE-sensitive drift test that catches what the
    rank-sum test (mann_whitney_u, same two samples) misses: a
    variance or tail change with equal medians moves D while U sleeps.
    The canonical pairing a distribution-shift monitor runs per
    source/day at corpus scale. The numerator max|n2·cum1 − n1·cum2|
    is exact int64 over the common denominator n1·n2 (cum sums are
    counting integers, the max is SELECTION); ks_stat is the single
    final division. Dialect-shared SQL text on both engines.

    100-TB shape: one partial agg to per-(group, value) counts, one
    running-sum window on the group key, a group max — the same single
    heavy exchange as any per-group window. Scale bound:
    n2·cum1 ≤ n1·n2 wraps int64 at n1·n2 ≈ 9.2×10¹⁸ (≈ 3×10⁹ rows per
    side per group); past that, the DECIMAL(38,0) switch per
    spearman_rho_decimal."""
    register_views(spark, sf_dir)
    return spark.sql(_KS_SQL)

"""TPC-H: the planner shapes of the 22-query suite, adapted to this
data universe (the tables carry no partsupp / l_shipmode /
l_commitdate — flavors note the adaptation in their docstrings; the
plan shape each query exercises is preserved).

Same determinism discipline as the registry: exact integer (cents)
aggregation, single post-agg double divisions, identical association
order, identical aliases both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clean_census_acs_data_spark.functions import as_long, cents
from clean_census_acs_data_spark.registry import _t, register
from clean_census_acs_data_spark.session import tracked_cache


# ---------------------------------------------------------------------------
# §2C-8 hash_agg — flagship (TPC-H Q1 shape). SURVEY.md §7 Phase 1.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)                     AS sum_qty,
      CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)  AS sum_base_cents,
      CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                                                                          AS sum_disc_cents,
      CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
                                                                          AS sum_charge_cents,
      CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                                                                          AS avg_qty,
      COUNT(*)                                                            AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary hash aggregate: scan→filter→project→partial agg→
    final agg. Scale: filter + 7-column projection reach the parquet scan
    (pushdown); partial aggregation (map-side combine) means the shuffle
    carries only |groups|×partitions rows — 4 groups, so bytes shuffled
    are ~zero regardless of input size. Survives 100 TB trivially."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc * (F.lit(1) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(as_long("l_quantity")).alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
            F.sum(F.round(disc * 100).cast("long")).alias("sum_disc_cents"),
            F.sum(F.round(charge * 100).cast("long")).alias("sum_charge_cents"),
            (
                F.sum(as_long("l_quantity")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: multi-join + agg + top-k
# ---------------------------------------------------------------------------


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_cents DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: selective dim-side filter → fact join → agg → top-k.
    The segment filter cuts customer ~5× before the join; both filters
    push to the scans. Final top-10 is TakeOrderedAndProject (k-row
    heap per partition) — no global sort. At 100 TB, AQE picks
    broadcast for the filtered customer side if it fits, else
    shuffle-hash; the plan needs no hints to stay sane."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(F.round(rev * 100).cast("long")).alias("revenue_cents"))
        .select("l_orderkey", "revenue_cents", "o_orderdate")
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: 6-way join
# ---------------------------------------------------------------------------


@register(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 6-way join where only lineitem⋈orders is fact-fact;
    supplier/nation/region are broadcast so the big probe side never
    shuffles for them. The region filter transitively prunes nation
    and supplier *before* broadcast (Catalyst pushes it through the
    join graph). One shuffle total (orders⋈lineitem), then a 25-group
    agg."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(F.round(rev * 100).cast("long")).alias("revenue_cents"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: decorrelated scalar subquery
# ---------------------------------------------------------------------------


@register(
    "scalar_subquery_smallqty",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS BIGINT)) AS qty_sum,
             COUNT(*) AS qty_cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_small,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM lineitem JOIN pa USING (l_partkey)
    WHERE 5 * CAST(l_quantity AS BIGINT) * qty_cnt < qty_sum
    """,
)
def scalar_subquery_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: per-part average as a decorrelated aggregate joined
    back to the fact — the manual form of `qty < 0.2 * (SELECT AVG ...)`.
    The predicate is pure integer arithmetic (5·qty·cnt < sum ⇔
    qty < 0.2·avg) so both engines agree bit-exactly with no double
    division. At scale: the aggregate side shrinks to |parts| rows
    before the join; same shuffle key (l_partkey) on both sides means
    AQE can reuse the exchange."""
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.sum(as_long("l_quantity")).alias("qty_sum"),
        F.count(F.lit(1)).alias("qty_cnt"),
    )
    joined = li.join(pa, "l_partkey")
    small = joined.where(
        F.lit(5) * as_long("l_quantity") * F.col("qty_cnt") < F.col("qty_sum")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.sum(cents("l_extendedprice")).alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS semi join with a non-equi residual condition
# ---------------------------------------------------------------------------


@register(
    "tpch_q4_late_shipped",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_late_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_late_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS → left-semi join on the order key with a
    non-equi residual (shipdate > orderdate + 90d). The semi join keeps
    the probe side at one output row per order regardless of lineitem
    fan-out — no dedup needed. Date filter prunes orders at the scan;
    the semi join shuffles only (orderkey, orderdate) + lineitem's
    (orderkey, shipdate): narrow columns at any scale."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: 4-way join + agg + top-k
# ---------------------------------------------------------------------------


@register(
    "tpch_q10_returned_topk",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-item revenue per customer, top 20. Returnflag
    + date filters reach both scans; nation broadcasts; customer joins
    after the lineitem-orders join has already shrunk the fact side;
    final top-k is a TakeOrderedAndProject heap (k rows per partition),
    never a global sort."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: conditional aggregate ratio (promo revenue share)
# ---------------------------------------------------------------------------


@register(
    "tpch_q14_promo_share",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN p_type = 'PROMO'
               THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS promo_cents,
      CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS BIGINT) AS total_cents,
      100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                       ELSE 0 END) AS DOUBLE)
            / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                   AS DOUBLE) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share over one month. Part broadcasts
    (dim-sized); both conditional and total sums are exact integer
    cents aggregated in one pass; the share is a single post-agg
    double division — bit-deterministic."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    agg = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias(
                "promo_cents"
            ),
            F.sum(rev).alias("total_cents"),
        )
    )
    return agg.select(
        "promo_cents",
        "total_cents",
        (
            100.0
            * F.col("promo_cents").cast("double")
            / F.col("total_cents").cast("double")
        ).alias("promo_share_pct"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 flavor: supplier variety per brand/type with exclusion
# ---------------------------------------------------------------------------


@register(
    "supplier_variety",
    oracle="""
    SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#13'
    GROUP BY p_brand, p_type
    """,
)
def supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 flavor (no partsupp table in this universe): distinct
    suppliers serving each (brand, type), excluding one brand. The
    exclusion predicate pushes into the broadcast dim before the join;
    COUNT(DISTINCT) expands to a two-phase aggregate (distinct partial
    per partition, then merge) — no row explosion crosses the wire."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#13")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: HAVING on a grouped fact, joined back to dimensions
# ---------------------------------------------------------------------------


@register(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, big.sum_qty
    FROM (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) >= 140
    ) big
    JOIN orders   ON big.l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: aggregate the fact first (sum qty per order, partial
    agg shrinks it to |orders| before any join), filter with HAVING,
    then join the small surviving set back to orders/customer. Doing
    the joins first would shuffle the full lineitem — aggregate-then-
    join is the scale-correct order, and AQE converts the join-back to
    broadcast once the HAVING filter leaves few rows."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .where(F.col("sum_qty") >= 140)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "sum_qty")
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive (OR-of-ANDs) predicate across join sides
# ---------------------------------------------------------------------------


@register(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 5 AND 25
           AND l_quantity BETWEEN 20 AND 40)
       OR (p_brand = 'Brand#5'  AND p_size BETWEEN 1 AND 40
           AND l_quantity BETWEEN 1 AND 15)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs spanning both join sides. Catalyst derives
    pushable per-side residuals from the disjunction (the l_quantity
    range union reaches the lineitem scan, the brand/size union reaches
    the part scan) while the full predicate evaluates post-join —
    free scan pruning even for disjunctions."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(20, 40)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(1, 40)
            & F.col("l_quantity").between(1, 15)
        )
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(F.sum(rev).alias("revenue_cents"), F.count(F.lit(1)).alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: scalar subquery threshold + anti join
# ---------------------------------------------------------------------------


@register(
    "tpch_q22_idle_customers",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n_custs,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS total_acctbal_cents
    FROM customer
    WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) > (
            SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE)
            FROM customer WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers above the average positive balance with no
    orders, per nation. The average is a 1-row scalar subquery
    (broadcast), the no-orders check a left-anti join on the order key;
    balances compare in exact integer cents against a deterministic
    single-division double threshold."""
    c = _t(spark, sf_dir, "customer").withColumn("bal_cents", cents("c_acctbal"))
    avg_pos = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum("bal_cents").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_cents")
        )
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.crossJoin(F.broadcast(avg_pos))
        .where(F.col("bal_cents") > F.col("avg_cents"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum("bal_cents").alias("total_acctbal_cents"),
        )
    )


_REV_CENTS_SQL = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


def _rev_cents():
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")


# ---------------------------------------------------------------------------
# Q6: single-table filter + aggregate (the pushdown microbenchmark)
# ---------------------------------------------------------------------------


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
      AND l_quantity < CAST(24 AS DOUBLE)
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: revenue increase from discount elimination. The purest
    pushdown shape — all three predicates and the 3-column projection
    reach the parquet scan, the aggregate partials to one row per
    partition, and the shuffle carries |partitions| rows total. At
    100 TB this query is I/O-bound on the pruned scan and nothing else."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    saved = F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long")
    return li.agg(
        F.sum(saved).alias("revenue_cents"), F.count(F.lit(1)).alias("n_lines")
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping between two nations (dual-alias dim join)
# ---------------------------------------------------------------------------


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS volume_cents
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: shipping volume between two nations by year. The same
    dimension (nation) joins twice under different roles — supplier's
    nation and customer's nation — both broadcast; the symmetric
    pair predicate applies post-join. The only shuffles are the two
    fact-side key joins (orderkey, custkey); nation/supplier never
    shuffle. Year extraction is integer and timezone-free (dates are
    midnight UTC timestamps)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_rev_cents()).alias("volume_cents"))
    )


# ---------------------------------------------------------------------------
# Q8: national market share (conditional share of a filtered market)
# ---------------------------------------------------------------------------


@register(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT l_year,
           CAST(SUM(nation_cents) AS BIGINT) AS nation_cents,
           CAST(SUM(total_cents) AS BIGINT) AS total_cents,
           CAST(SUM(nation_cents) AS DOUBLE) / CAST(SUM(total_cents) AS DOUBLE)
             AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS l_year,
             CASE WHEN n1.n_name = 'NATION_7' THEN {_REV_CENTS_SQL} ELSE 0 END
               AS nation_cents,
             {_REV_CENTS_SQL} AS total_cents
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY l_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: one supplier nation's share of PROMO-part volume sold into
    ASIA, by year. Classic snowflake: five broadcast dims around one
    fact path (lineitem→orders); the region filter prunes through
    nation to the customer side before the fact join. Share = ratio of
    two exact integer sums, divided once post-agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    # customer-side nation restricted to the region before broadcasting:
    # the filter prunes the broadcast build side, not the fact stream
    n2 = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("n2_key"))
    )
    nation_cents = F.when(F.col("supp_nation") == "NATION_7", _rev_cents()).otherwise(
        F.lit(0)
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("l_year"),
            nation_cents.alias("nation_cents"),
            _rev_cents().alias("total_cents"),
        )
        .groupBy("l_year")
        .agg(
            F.sum("nation_cents").alias("nation_cents"),
            F.sum("total_cents").alias("total_cents"),
        )
        .select(
            "l_year",
            "nation_cents",
            "total_cents",
            (
                F.col("nation_cents").cast("double")
                / F.col("total_cents").cast("double")
            ).alias("mkt_share"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 flavor: product-line profit by nation and year
# ---------------------------------------------------------------------------


@register(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM({_REV_CENTS_SQL}
                    - CAST(l_quantity AS BIGINT)
                      * CAST(ROUND(p_retailprice * 10) AS BIGINT))
                AS BIGINT) AS profit_cents
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_brand LIKE '%1%'
    GROUP BY n_name, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 flavor: profit per supplier nation per year. This universe has
    no partsupp, so supply cost is proxied as 10% of p_retailprice
    (exact: ROUND(p_retailprice*10) is cost-cents per unit) instead of
    ps_supplycost — the plan shape (fact → two broadcast dims + orders
    join → two-key agg, LIKE filter pushed into the part dim) is Q9's.
    Profit stays in exact integer cents end to end."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand").like("%1%"))
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 10).cast("long").alias("unit_cost_cents"),
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    profit = _rev_cents() - as_long("l_quantity") * F.col("unit_cost_cents")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(profit).alias("profit_cents"))
    )


# ---------------------------------------------------------------------------
# Q11 flavor: value concentration above a global-share threshold
# ---------------------------------------------------------------------------


@register(
    "tpch_q11_value_concentration",
    oracle="""
    WITH per_nation AS (
      SELECT c_nationkey,
             CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
      FROM customer WHERE c_acctbal > 0.0 GROUP BY c_nationkey
    )
    SELECT c_nationkey, bal_cents
    FROM per_nation
    WHERE CAST(bal_cents AS DOUBLE) >
          0.02 * (SELECT CAST(SUM(bal_cents) AS DOUBLE) FROM per_nation)
    """,
)
def tpch_q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape without partsupp: groups whose share of a global total
    exceeds a fraction — the HAVING-against-scalar-subquery pattern.
    The grouped aggregate is computed ONCE and reused for both the
    per-group rows and the global scalar (self-referencing CTE); Spark
    mirrors that reuse by deriving the threshold from the cached
    aggregate, broadcast as a 1-row cross join. Shuffle carries
    |nations| partial rows."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0.0)
    per_nation = c.groupBy("c_nationkey").agg(
        F.sum(cents("c_acctbal")).alias("bal_cents")
    )
    total = per_nation.agg(
        (F.sum("bal_cents").cast("double") * 0.02).alias("threshold")
    )
    return (
        per_nation.crossJoin(F.broadcast(total))
        .where(F.col("bal_cents").cast("double") > F.col("threshold"))
        .select("c_nationkey", "bal_cents")
    )


# ---------------------------------------------------------------------------
# Q12 flavor: shipping-priority class counts
# ---------------------------------------------------------------------------


@register(
    "tpch_q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
)
def tpch_q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 flavor (no l_shipmode column — l_linestatus is the grouping
    categorical): urgent vs non-urgent line counts per status for one
    ship-year. The conditional-count pair aggregates in one pass after
    a single orderkey join; the date filter prunes the fact scan. The
    orders side projects only (orderkey, priority) — at 100 TB the
    shuffle moves two narrow columns."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13: customer order-count distribution (outer join + double aggregate)
# ---------------------------------------------------------------------------


@register(
    "tpch_q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: how many customers placed how many orders. Left-outer join
    keeps order-less customers (COUNT(col) skips their NULLs — the 0
    bucket), with the priority exclusion inside the JOIN condition, not
    a WHERE (a WHERE would silently drop the zero-order customers).
    Double aggregate: first shuffle on custkey, second on the count —
    the second input is |customers| rows, already tiny."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q15: top supplier by revenue (aggregate → global max → join back)
# ---------------------------------------------------------------------------


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_cents
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_cents = (SELECT MAX(total_cents) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: supplier(s) with the maximum quarterly revenue. The revenue
    view aggregates once and serves both the max scalar and the equality
    filter (ties all surface — no arbitrary pick); the scalar joins
    back as a broadcast 1-row cross join and the supplier dim broadcasts.
    Compared in exact cents so ties are bit-deterministic across
    engines."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_cents()).alias("total_cents")
    )
    mx = revenue.agg(F.max("total_cents").alias("max_cents"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_cents") == F.col("max_cents"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_cents")
    )


# ---------------------------------------------------------------------------
# Q20 flavor: suppliers with excess shipped volume (nested semi-join)
# ---------------------------------------------------------------------------


@register(
    "tpch_q20_excess_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 100
      )
    """,
)
def tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 flavor (no partsupp availability to halve against): EUROPE
    suppliers who shipped > 100 units of PROMO parts in 1997. Preserves
    Q20's nested-IN shape: inner semi join (lineitem → part keys,
    broadcast), grouped HAVING, then an outer semi join into the
    supplier dim. Both semi joins keep probe-side cardinality — nothing
    fans out; the HAVING output is |suppliers| at most, broadcastable."""
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    excess = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(as_long("l_quantity")).alias("qty"))
        .where(F.col("qty") > 100)
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE").select(
        "r_regionkey"
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# Q21 flavor: suppliers who alone shipped late (semi + anti self-joins)
# ---------------------------------------------------------------------------


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT l1.l_suppkey AS s_suppkey, COUNT(*) AS numwait
    FROM lines l1
    WHERE l1.is_late
      AND EXISTS (SELECT 1 FROM lines l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lines l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.is_late)
    GROUP BY l1.l_suppkey
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 flavor (lateness = shipped > 60 days after order; the
    universe has no commit/receipt dates): suppliers who were the SOLE
    late shipper on finished multi-supplier orders. The triple self-
    reference resolves as one derived `lines` frame reused three ways —
    a left-semi (another supplier exists) and a left-anti (no other
    late supplier) on the order key with a non-equi suppkey residual.
    Both self-joins shuffle the same narrow (orderkey, suppkey, late)
    projection on the same key: AQE reuses the exchange. No fan-out:
    semi/anti emit each probe row at most once."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    # cached: the joined line table feeds the late set, the other-
    # supplier semi probe and the anti probe — uncached, the
    # lineitem×orders join ran three times
    lines = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("is_late"),
    ).transform(tracked_cache)
    l1 = lines.where(F.col("is_late"))
    l2 = lines.select(
        F.col("l_orderkey").alias("r_orderkey"), F.col("l_suppkey").alias("r_suppkey")
    )
    l3 = lines.where(F.col("is_late")).select(
        F.col("l_orderkey").alias("a_orderkey"), F.col("l_suppkey").alias("a_suppkey")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("r_orderkey"))
            & (F.col("l_suppkey") != F.col("r_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("a_orderkey"))
            & (F.col("l_suppkey") != F.col("a_suppkey")),
            "left_anti",
        )
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q2 flavor: minimum-price supplier per part in a region
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_min_price_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT))
               AS unit_cents
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, MIN(unit_cents) AS min_cents FROM offers GROUP BY l_partkey
    )
    SELECT o.l_partkey AS p_partkey, o.l_suppkey AS s_suppkey, o.unit_cents,
           p.p_brand, s.s_name
    FROM offers o
    JOIN best ON o.l_partkey = best.l_partkey AND o.unit_cents = best.min_cents
    JOIN part p ON o.l_partkey = p.p_partkey
    JOIN supplier s ON o.l_suppkey = s.s_suppkey
    WHERE p.p_size >= 30
    """,
)
def tpch_q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 flavor (no partsupp: observed lineitem unit prices stand in
    for ps_supplycost): for each large part, the EUROPE supplier(s)
    offering the historical minimum unit price. The correlated-MIN
    subquery decorrelates into aggregate → per-part min → equality
    join back (ties surface, as in real Q2). Region restriction
    resolves through two broadcast dims into a semi-filterable supplier
    set; unit price is rounded to exact cents BEFORE MIN so the
    argmin set is engine-portable."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE").select(
        "r_regionkey"
    )
    eu_supp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100)
        .cast("long")
        .alias("unit_cents_raw"),
    )
    # NOT cached: offers feeds the per-part minimum AND the final match
    # join, but the COLD first-rep A/B (fresh process per rep, 2×2
    # interleaved at sf0.1: cache 4.43/5.00 s vs nocache 3.42/3.51 s,
    # 0.74×) shows exchange reuse already shares the agg's shuffle
    # between the two consumers — the r8 cache only added a fill
    # barrier and a write.
    offers = (
        li.join(
            F.broadcast(eu_supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_cents_raw").alias("unit_cents"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cents").alias("min_cents")
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_size") >= 30).select(
        "p_partkey", "p_brand"
    )
    return (
        offers.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_cents") == F.col("min_cents")),
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "unit_cents",
            "p_brand",
            "s_name",
        )
    )

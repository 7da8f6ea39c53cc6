"""Mergeable sketches: HyperLogLog, Count-Min, KMV, Bloom filters,
log2-bucket quantile histograms and Misra–Gries, with the audits that
report each estimate next to the exact truth.

Every approximation is auditable: a sketch entry either hash-checks its
estimate (the register and bucket math is pure integers, the
md5-derived hashes recompute identically in DuckDB) or reports
estimate-vs-truth side by side. The merge laws (cell-wise sum, register
max, bottom-k) are what let shards sketch independently; the streaming
domain maintains the same states.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clean_census_acs_data_spark.functions import cents
from clean_census_acs_data_spark.operators import text as X
from clean_census_acs_data_spark.registry import _t, register
from clean_census_acs_data_spark.session import tracked_cache


# SQL fragment helpers ------------------------------------------------------

H15 = "CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"  # == text.md5_long


# ---------------------------------------------------------------------------
# approximate sketches — deterministic forms under the hash gate.
# Spark's native approx_count_distinct / percentile_approx internals are
# engine-specific (no cross-engine oracle exists for THEM), so this
# entry runs the same sketch ALGORITHMS in deterministic form: a
# from-scratch grouped HyperLogLog (m=64 registers, exact-integer
# harmonic sum, one final double division — the path proven by
# hll_deterministic_estimate) and a log2-bucket quantile histogram
# median. Both are mergeable-state sketches — the 100-TB answer when
# exact distinct / exact median are too expensive — now hash-checked
# instead of rows-only (VERDICT r3 ask #3).
# ---------------------------------------------------------------------------

_ADS_M = 64  # HLL registers (p = 6)
_ADS_REM = 60 - 6  # md5_long is 60 bits; 6 spent on the bucket
_ADS_ALPHA = "0.709"  # alpha_64 = 0.7213/(1 + 1.079/64), one literal both sides

_ADS_ORACLE = f"""
WITH h AS (
  SELECT o_orderpriority AS prio,
         CAST(concat('0x', substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM orders
),
reg AS (
  SELECT prio, h % {_ADS_M} AS bucket,
         MAX(CASE WHEN h // {_ADS_M} > 0
                  THEN {_ADS_REM + 1} - length(bin(h // {_ADS_M}))
                  ELSE {_ADS_REM + 1} END) AS m_j
  FROM h GROUP BY prio, h % {_ADS_M}
),
k AS (SELECT prio, MAX(m_j) AS k_max, COUNT(*) AS n_occ FROM reg GROUP BY prio),
hll AS (
  SELECT k.prio,
         CAST({_ADS_ALPHA} AS DOUBLE) * CAST({_ADS_M * _ADS_M} AS DOUBLE)
           * CAST((CAST(1 AS BIGINT) << k.k_max) AS DOUBLE)
           / CAST(SUM(CAST(1 AS BIGINT) << (k.k_max - reg.m_j))
                  + ({_ADS_M} - k.n_occ) * (CAST(1 AS BIGINT) << k.k_max) AS DOUBLE)
           AS approx_customers
  FROM reg JOIN k ON reg.prio = k.prio
  GROUP BY k.prio, k.k_max, k.n_occ
),
exact AS (
  SELECT o_orderpriority AS prio, COUNT(DISTINCT o_custkey) AS exact_customers
  FROM orders GROUP BY o_orderpriority
),
c AS (
  SELECT o_orderpriority AS prio,
         length(bin(CAST(ROUND(o_totalprice * 100) AS BIGINT))) - 1 AS bkt
  FROM orders
),
cnt AS (SELECT prio, bkt, COUNT(*) AS n FROM c GROUP BY prio, bkt),
cum AS (
  SELECT prio, bkt,
         SUM(n) OVER (PARTITION BY prio ORDER BY bkt) AS cum_n,
         SUM(n) OVER (PARTITION BY prio) AS tot_n
  FROM cnt
),
med AS (
  SELECT prio, MIN(bkt) AS med_bkt FROM cum
  WHERE cum_n >= (tot_n + 1) // 2 GROUP BY prio
)
SELECT hll.prio AS o_orderpriority,
       hll.approx_customers,
       CAST(exact.exact_customers AS BIGINT) AS exact_customers,
       CAST(CASE WHEN med.med_bkt >= 1
                 THEN 3 * (CAST(1 AS BIGINT) << (med.med_bkt - 1))
                 ELSE 1 END AS BIGINT)
         AS approx_median_cents
FROM hll JOIN exact ON hll.prio = exact.prio JOIN med ON hll.prio = med.prio
"""


@register("approx_distinct_sketch", oracle=_ADS_ORACLE)
def approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority deterministic sketches, hash-checked: a grouped
    HyperLogLog distinct-customer estimate (md5-60-bit hash → 6-bit
    bucket + 54-bit remainder; register = max rho per (group, bucket);
    harmonic sum rescaled by 2^k_max so every term is an exact int64 and
    the only float op is one final division) and a log2-histogram
    approximate median (bucket = floor(log2(cents)); median bucket by
    cumulative count; estimate = bucket midpoint 3·2^(b-1), exact
    integer).

    Scale shape: register table is ≤ 64 rows × |groups| regardless of
    input, built with map-side partial max; histogram is ≤ ~40 buckets
    × |groups|. Merging shards = cell-wise max / bucket-wise add — both
    semilattices, so the sketch state is shard-mergeable exactly like
    production HLL/KLL. exact_customers rides along to show estimate
    quality under the same hash gate."""
    from clean_census_acs_data_spark.operators.text import md5_long

    o = _t(spark, sf_dir, "orders")
    p2 = lambda e: F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({e} AS INT))")  # noqa: E731
    h = o.select(
        F.col("o_orderpriority").alias("prio"),
        md5_long(F.col("o_custkey").cast("string")).alias("h"),
    )
    reg = (
        h.select(
            "prio",
            (F.col("h") % _ADS_M).alias("bucket"),
            F.when(
                F.expr(f"h div {_ADS_M}") > 0,
                F.lit(_ADS_REM + 1) - F.length(F.bin(F.expr(f"h div {_ADS_M}"))),
            )
            .otherwise(F.lit(_ADS_REM + 1))
            .alias("rho"),
        )
        .groupBy("prio", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    k = reg.groupBy("prio").agg(
        F.max("m_j").alias("k_max"), F.count(F.lit(1)).alias("n_occ")
    )
    hll = (
        reg.join(F.broadcast(k), "prio")
        .groupBy("prio", "k_max", "n_occ")
        .agg(F.sum(p2("k_max - m_j")).cast("long").alias("s_occ"))
        .select(
            "prio",
            (
                F.lit(float(_ADS_ALPHA))
                * F.lit(float(_ADS_M * _ADS_M))
                * p2("k_max").cast("double")
                / (
                    F.col("s_occ")
                    + (F.lit(_ADS_M) - F.col("n_occ")) * p2("k_max")
                ).cast("double")
            ).alias("approx_customers"),
        )
    )
    exact = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_customers")
    )
    cnt = (
        o.select(
            F.col("o_orderpriority").alias("prio"),
            (F.length(F.bin(cents("o_totalprice"))) - 1).alias("bkt"),
        )
        .groupBy("prio", "bkt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wcum = Window.partitionBy("prio").orderBy("bkt")
    wtot = Window.partitionBy("prio")
    med = (
        cnt.select(
            "prio",
            "bkt",
            F.sum("n").over(wcum).alias("cum_n"),
            F.sum("n").over(wtot).alias("tot_n"),
        )
        .where(F.col("cum_n") >= F.expr("(tot_n + 1) div 2"))
        .groupBy("prio")
        .agg(F.min("bkt").alias("med_bkt"))
        .select(
            "prio",
            # med_bkt = 0 (cents of 0/1) would shift by -1: DuckDB
            # raises, Spark's shiftleft masks to 63 and returns garbage
            # — guard identically on both sides
            F.when(F.col("med_bkt") >= 1, F.lit(3) * p2("med_bkt - 1"))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("approx_median_cents"),
        )
    )
    return (
        hll.join(F.broadcast(exact), "prio")
        .join(F.broadcast(med), "prio")
        .select(
            F.col("prio").alias("o_orderpriority"),
            "approx_customers",
            "exact_customers",
            "approx_median_cents",
        )
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketch state — per-source register tables unioned into
# a corpus-wide distinct estimate. Originally rows-only over the
# engine-native Datasketches HllSketch (whose wire format DuckDB cannot
# reproduce); re-expressed over the repo's DETERMINISTIC HLL registers
# (the hll_deterministic_estimate machinery: md5-60 hash → 6-bit bucket
# + 54-bit remainder, rho from length(bin(·))) so the per-source
# partials, the register-level merge, AND the merged estimate are all
# hash-checkable against DuckDB. The native hll_sketch_agg /
# hll_union_agg API surface stays exercised in
# tests/test_hll_native.py (merge ≡ recompute asserted there).
# ---------------------------------------------------------------------------

_HLLPM_M = 64  # registers (p = 6)
_HLLPM_REM = 60 - 6  # md5_long is 60 bits; 6 spent on the bucket
_HLLPM_ALPHA = "0.709"  # alpha_64, one double literal both sides

_HLLPM_EST = (
    f"CAST({_HLLPM_ALPHA} AS DOUBLE) * CAST({_HLLPM_M * _HLLPM_M} AS DOUBLE)"
    " * CAST((CAST(1 AS BIGINT) << k_max) AS DOUBLE)"
    " / CAST(s_scaled AS DOUBLE)"
)

_HLL_PM_ORACLE = f"""
WITH h AS (
  SELECT source, {H15.format(x="text")} AS h FROM documents
),
b AS (SELECT source, h % {_HLLPM_M} AS bucket, h // {_HLLPM_M} AS rem FROM h),
r AS (
  SELECT source, bucket,
         CASE WHEN rem > 0 THEN {_HLLPM_REM + 1} - length(bin(rem))
              ELSE {_HLLPM_REM + 1} END AS rho
  FROM b
),
reg AS (SELECT source, bucket, MAX(rho) AS m_j FROM r GROUP BY source, bucket),
nr AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source),
k AS (SELECT source, MAX(m_j) AS k_max, COUNT(*) AS n_occ FROM reg GROUP BY source),
s AS (
  SELECT reg.source, k.k_max, {_HLLPM_M} - k.n_occ AS n_zero,
         CAST(SUM((CAST(1 AS BIGINT) << (k.k_max - reg.m_j))) AS BIGINT)
           + ({_HLLPM_M} - k.n_occ) * (CAST(1 AS BIGINT) << k.k_max) AS s_scaled
  FROM reg JOIN k ON reg.source = k.source
  GROUP BY reg.source, k.k_max, k.n_occ
),
per AS (
  SELECT s.source, nr.n_rows,
         CAST(s.n_zero AS BIGINT) AS n_zero,
         CAST(s.k_max AS BIGINT) AS k_max,
         CAST(s.s_scaled AS BIGINT) AS s_scaled,
         {_HLLPM_EST} AS hll_estimate
  FROM s JOIN nr ON s.source = nr.source
),
mreg AS (SELECT bucket, MAX(m_j) AS m_j FROM reg GROUP BY bucket),
mk AS (SELECT MAX(m_j) AS k_max, COUNT(*) AS n_occ FROM mreg),
ms AS (
  SELECT mk.k_max, {_HLLPM_M} - mk.n_occ AS n_zero,
         CAST(SUM((CAST(1 AS BIGINT) << (mk.k_max - mreg.m_j))) AS BIGINT)
           + ({_HLLPM_M} - mk.n_occ) * (CAST(1 AS BIGINT) << mk.k_max) AS s_scaled
  FROM mreg, mk
  GROUP BY mk.k_max, mk.n_occ
),
mall AS (
  SELECT '__ALL__' AS source,
         (SELECT CAST(SUM(n_rows) AS BIGINT) FROM nr) AS n_rows,
         CAST(n_zero AS BIGINT) AS n_zero,
         CAST(k_max AS BIGINT) AS k_max,
         CAST(s_scaled AS BIGINT) AS s_scaled,
         {_HLLPM_EST} AS hll_estimate
  FROM ms
)
SELECT * FROM per UNION ALL SELECT * FROM mall
"""


@register("hll_partial_merge", oracle=_HLL_PM_ORACLE)
def hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch state, hash-checkable: per-source
    deterministic-HLL register tables (≤64 rows each — md5-60 hash →
    6-bit bucket + 54-bit remainder, rho = fixed-width leading-zero
    count via length(bin(·))) are the persisted partial state; the
    corpus-wide estimate folds ONLY those registers with a cell-wise
    MAX (max is a semilattice, so merge ≡ recompute on raw data — the
    incremental-stats pattern for 100-TB ingestion: per-batch register
    append + cheap global fold, never a re-scan). Estimates use the
    2^k_max-rescaled exact-integer sum of hll_deterministic_estimate,
    so every value (per-source AND merged) bit-matches the DuckDB
    oracle. Output: one row per source plus the merged '__ALL__' row.

    The engine-native Datasketches path (hll_sketch_agg /
    hll_union_agg) that previously backed this entry rows-only is
    exercised in tests/test_hll_native.py instead — its wire format is
    Spark-internal by construction."""
    d = _t(spark, sf_dir, "documents")
    h = d.select("source", X.md5_long(F.col("text")).alias("h"))
    b = h.select(
        "source",
        (F.col("h") % _HLLPM_M).alias("bucket"),
        F.expr(f"h div {_HLLPM_M}").alias("rem"),
    )
    r = b.select(
        "source",
        "bucket",
        F.when(
            F.col("rem") > 0,
            F.lit(_HLLPM_REM + 1) - F.length(F.bin("rem")),
        )
        .otherwise(F.lit(_HLLPM_REM + 1))
        .alias("rho"),
    )
    # THE partial state: |sources| × ≤64 rows. Cached — both the
    # per-source estimates and the merged fold consume it, and uncached
    # each branch would re-run the full corpus scan (the tiny
    # reused-subtree rule).
    reg = r.groupBy("source", "bucket").agg(F.max("rho").alias("m_j")).transform(tracked_cache)
    nr = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    p2 = lambda e: F.expr(  # noqa: E731 — exact 2^x as BIGINT
        f"shiftleft(CAST(1 AS BIGINT), CAST({e} AS INT))"
    )
    est = (
        F.lit(float(_HLLPM_ALPHA))
        * F.lit(float(_HLLPM_M * _HLLPM_M))
        * p2("k_max").cast("double")
        / F.col("s_scaled").cast("double")
    )

    k = reg.groupBy("source").agg(
        F.max("m_j").alias("k_max"), F.count(F.lit(1)).alias("n_occ")
    )
    s = (
        reg.join(k, "source")
        .groupBy("source", "k_max", "n_occ")
        .agg(F.sum(p2("k_max - m_j")).cast("long").alias("s_occ"))
        .select(
            "source",
            "k_max",
            (F.lit(_HLLPM_M) - F.col("n_occ")).alias("n_zero"),
            (
                F.col("s_occ")
                + (F.lit(_HLLPM_M) - F.col("n_occ")) * p2("k_max")
            ).alias("s_scaled"),
        )
    )
    per = s.join(nr, "source").select(
        "source",
        "n_rows",
        F.col("n_zero").cast("long").alias("n_zero"),
        F.col("k_max").cast("long").alias("k_max"),
        F.col("s_scaled").cast("long").alias("s_scaled"),
        est.alias("hll_estimate"),
    )

    mreg = reg.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    mk = mreg.agg(
        F.max("m_j").alias("k_max"), F.count(F.lit(1)).alias("n_occ")
    )
    ms = (
        mreg.crossJoin(F.broadcast(mk))
        .groupBy("k_max", "n_occ")
        .agg(F.sum(p2("k_max - m_j")).cast("long").alias("s_occ"))
        .select(
            "k_max",
            (F.lit(_HLLPM_M) - F.col("n_occ")).alias("n_zero"),
            (
                F.col("s_occ")
                + (F.lit(_HLLPM_M) - F.col("n_occ")) * p2("k_max")
            ).alias("s_scaled"),
        )
    )
    tot = nr.agg(F.sum("n_rows").cast("long").alias("n_rows"))
    mall = ms.crossJoin(F.broadcast(tot)).select(
        F.lit("__ALL__").alias("source"),
        "n_rows",
        F.col("n_zero").cast("long").alias("n_zero"),
        F.col("k_max").cast("long").alias("k_max"),
        F.col("s_scaled").cast("long").alias("s_scaled"),
        est.alias("hll_estimate"),
    )
    return per.unionByName(mall)


# ---------------------------------------------------------------------------
# Count-Min sketch over token frequencies (mergeable partial state)
# ---------------------------------------------------------------------------

CMS_D = 4  # independent hash rows
CMS_W = 64  # cells per row


def _cms_cell(token_col: F.Column, depth: int) -> F.Column:
    return X.md5_long(F.concat(F.lit(f"cms{depth}|"), token_col)) % CMS_W


def _cms_cell_sql(tok: str, depth: int) -> str:
    inner = f"concat('cms{depth}|', {tok})"
    return f"{H15.format(x=inner)} % {CMS_W}"


_CMS_SKETCH_ORACLE = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
cells AS (
  {" UNION ALL ".join(f"SELECT {d} AS depth, {_cms_cell_sql('token', d)} AS cell FROM tok" for d in range(CMS_D))}
)
SELECT depth, cell, COUNT(*) AS cnt
FROM cells GROUP BY depth, cell
"""


def _cms_sketch(docs: DataFrame) -> DataFrame:
    """(depth, cell, cnt) Count-Min state: one pass over tokens, the
    d cell ids computed per token and pos-exploded, then a partial-agg
    count keyed by (depth, cell) — at most d·w = 256 groups, so the
    shuffle after map-side combine is ~256 rows per partition no
    matter the corpus size. Merging two corpora's sketches is a
    cell-wise sum of two 256-row tables."""
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    cells = F.array(*[_cms_cell(F.col("token"), d) for d in range(CMS_D)])
    return (
        tok.select(F.posexplode(cells).alias("depth", "cell"))
        .groupBy(F.col("depth").cast("int").alias("depth"), "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register("token_countmin_sketch", oracle=_CMS_SKETCH_ORACLE)
def token_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of token frequencies: a 4×64 integer cell
    matrix as rows (depth, cell, cnt). This is the mergeable partial
    state for frequency tracking at 100 TB — per-shard sketches are
    256 fixed rows regardless of shard size, merge = cell-wise sum,
    and a point estimate is min over the 4 depth cells. Hashing is the
    package's portable md5-60-bit (operators/text.py:29), recomputed
    inline by the DuckDB oracle."""
    from clean_census_acs_data_spark.io import spread

    return _cms_sketch(spread(_t(spark, sf_dir, "documents")))


_HEAVY_HITTERS_ORACLE = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
sketch AS (SELECT depth, cell, cnt FROM ({_CMS_SKETCH_ORACLE.strip()})),
exact AS (SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY token),
probe AS (
  {" UNION ALL ".join(f"SELECT token, {d} AS depth, {_cms_cell_sql('token', d)} AS cell FROM exact" for d in range(CMS_D))}
),
est AS (
  SELECT probe.token, MIN(sketch.cnt) AS est_cnt
  FROM probe JOIN sketch ON probe.depth = sketch.depth AND probe.cell = sketch.cell
  GROUP BY probe.token
)
SELECT est.token, est.est_cnt, exact.exact_cnt
FROM est JOIN exact ON est.token = exact.token
WHERE est.est_cnt * 50 >= (SELECT COUNT(*) FROM tok)
"""


@register("heavy_hitters_cms", oracle=_HEAVY_HITTERS_ORACLE)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent tokens via Count-Min probe: est = min over the 4 depth
    cells, kept when est ≥ 2% of total token mass; exact counts are
    joined alongside, exposing CMS's one-sided error (est ≥ exact
    always). The sketch side is ≤256 rows → broadcast; the probe scans
    the distinct-token table (vocabulary-sized, not corpus-sized). At
    100 TB the exact-count branch disappears and the probe answers
    from the 256-row sketch alone — that asymmetry is the point of the
    operator."""
    from clean_census_acs_data_spark.io import spread

    docs = spread(_t(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    sketch = _cms_sketch(docs)
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cells = F.array(*[_cms_cell(F.col("token"), d) for d in range(CMS_D)])
    probe = exact.select(
        "token", F.posexplode(cells).alias("depth", "cell")
    ).withColumn("depth", F.col("depth").cast("int"))
    est = (
        probe.join(F.broadcast(sketch), ["depth", "cell"])
        .groupBy("token")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    # total token count = Σ exact per-token counts: derived from the
    # exact aggregate instead of a second full tokenize pass
    total = exact.agg(F.sum("exact_cnt").cast("long").alias("__total"))
    return (
        est.join(exact, "token")
        .crossJoin(F.broadcast(total))
        .where(F.col("est_cnt") * 50 >= F.col("__total"))
        .select("token", "est_cnt", "exact_cnt")
    )


# ---------------------------------------------------------------------------
# mergeable log2-bucket quantile sketch
# ---------------------------------------------------------------------------

_QLOG2_ORACLE = """
WITH hist AS (
  SELECT CAST(length(bin(n_chars)) - 1 AS BIGINT) AS bucket, COUNT(*) AS cnt
  FROM documents WHERE n_chars >= 1 GROUP BY 1
),
cum AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum_cnt FROM hist),
tot AS (SELECT SUM(cnt) AS total FROM hist),
qs AS (SELECT unnest([50, 90, 99]) AS q_pct),
pick AS (
  SELECT q_pct, MIN(bucket) AS bucket
  FROM qs, cum, tot
  WHERE cum_cnt * 100 >= q_pct * total
  GROUP BY q_pct
)
SELECT q_pct, bucket,
       CAST(1 << bucket AS BIGINT) AS lo,
       CAST((1 << (bucket + 1)) - 1 AS BIGINT) AS hi
FROM pick
"""


@register("quantile_log2_sketch", oracle=_QLOG2_ORACLE)
def quantile_log2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from a mergeable log2-bucket histogram:
    doc lengths bucket by floor(log2(n_chars)) — computed as binary bit
    length, pure integer, no libm — and p50/p90/p99 resolve to the
    first bucket whose cumulative count crosses the rank. Output one
    row per quantile: (q_pct, bucket, lo, hi) with [lo, hi] the
    bucket's value range.

    The histogram is the partial state: fixed ≤64 rows per shard
    regardless of data size, merged by cell-wise sum — the same
    incremental-stats shape as token_countmin_sketch/hll_partial_merge,
    but for rank statistics. The exact-percentile twins
    (percentile_exact, percentile_cont_interp) sort real data; at
    100 TB this sketch answers from 64 longs."""
    # cached: the ≤64-row histogram feeds the cumulative walk AND the
    # total — uncached, the full documents scan ran twice for 64 rows
    hist = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 1)
        .groupBy(
            (F.length(F.expr("bin(n_chars)")) - 1).cast("long").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(tracked_cache)
    )
    cum = hist.select(
        "bucket",
        F.sum("cnt").over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)).alias("cum_cnt"),
    )
    tot = hist.agg(F.sum("cnt").alias("total"))
    qs = spark.createDataFrame([(50,), (90,), (99,)], "q_pct int")
    pick = (
        qs.crossJoin(cum)
        .crossJoin(F.broadcast(tot))
        .where(F.col("cum_cnt") * 100 >= F.col("q_pct") * F.col("total"))
        .groupBy("q_pct")
        .agg(F.min("bucket").alias("bucket"))
    )
    return pick.select(
        "q_pct",
        "bucket",
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) AS BIGINT)"
        ).alias("lo"),
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) + 1) - 1 AS BIGINT)"
        ).alias("hi"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter runtime semi-join
# ---------------------------------------------------------------------------

_BLOOM_M = 1024  # bits
_BLOOM_K = 3  # hash functions


def _bloom_pos(key_col: F.Column, i: int) -> F.Column:
    return X.md5_long(F.concat(F.lit(f"bf{i}|"), key_col.cast("string"))) % _BLOOM_M


def _bloom_pos_sql(key: str, i: int) -> str:
    inner = f"concat('bf{i}|', CAST({key} AS VARCHAR))"
    return f"{H15.format(x=inner)} % {_BLOOM_M}"


_BLOOM_ORACLE = f"""
WITH build AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('c_custkey', i)} AS pos FROM build" for i in range(_BLOOM_K))}
  )
),
probe AS (
  SELECT o_orderkey, o_custkey,
         {" + ".join(f"(CASE WHEN {_bloom_pos_sql('o_custkey', i)} IN (SELECT pos FROM bits) THEN 1 ELSE 0 END)" for i in range(_BLOOM_K))}
         AS hits
  FROM orders
)
SELECT COUNT(*) AS n_probe,
       CAST(SUM(CASE WHEN hits = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM build) THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match
FROM probe
"""


@register("bloom_semijoin_stats", oracle=_BLOOM_ORACLE)
def bloom_semijoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter runtime filter: a 1024-bit, 3-hash filter
    built from the selective customer subset (acctbal > 9000)
    pre-filters orders before the true semi-join. Output is one row:
    (n_probe, n_bloom_pass, n_true_match) — the gap between the last
    two is the false-positive traffic the filter admits.

    This is the hand-rolled form of what Spark's
    spark.sql.optimizer.runtimeFilter does inside AQE: at 100 TB the
    ≤1024-row distinct-bit table broadcasts to every scan task and
    prunes the fact side *before* the shuffle, which is exactly where
    the win is — shuffle bytes scale with bloom-pass rows, not fact
    rows. The deterministic md5 bit positions make the whole filter
    oracle-checkable, unlike the engine-internal one."""
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    bits = (
        cust.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("c_custkey"), i) for i in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # hits computed once per DISTINCT probe key (vocabulary-sized), then
    # joined back to the fact rows — not per fact row
    keys = orders.select("o_custkey").distinct()
    probe = keys.select(
        "o_custkey",
        F.posexplode(
            F.array(*[_bloom_pos(F.col("o_custkey"), i) for i in range(_BLOOM_K)])
        ).alias("i", "pos"),
    )
    key_hits = (
        probe.join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    build = F.broadcast(
        cust.select(F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("__m"))
    )
    per_order = (
        orders.join(key_hits, "o_custkey", "left")
        .withColumn("hits", F.coalesce("hits", F.lit(0)))
        .join(build, "o_custkey", "left")
    )
    return per_order.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(F.col("hits") == _BLOOM_K, 1).otherwise(0))
        .cast("long")
        .alias("n_bloom_pass"),
        F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_true_match"),
    )


def _p2(expr: str) -> str:
    """Spark/DuckDB-portable 2^x as BIGINT (x a small non-negative int
    column/expression)."""
    return f"shiftleft(CAST(1 AS BIGINT), CAST({expr} AS INT))"


# ---------------------------------------------------------------------------
# deterministic HyperLogLog — the sketch ALGORITHM under the hash gate
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers (p = 6)
_HLL_REM_BITS = 60 - 6  # md5_long is 60 bits; 6 spent on the bucket
# alpha_64 = 0.7213 / (1 + 1.079/64) ≈ 0.709 — the standard HLL bias
# constant for m = 64, written as one double literal both sides.
_HLL_ALPHA = "0.709"

_HLL_ORACLE = f"""
WITH h AS (
  SELECT {H15.format(x="CAST(o_custkey AS VARCHAR)")} AS h FROM orders
),
b AS (SELECT h % {_HLL_M} AS bucket, h // {_HLL_M} AS rem FROM h),
r AS (
  SELECT bucket,
         CASE WHEN rem > 0 THEN {_HLL_REM_BITS + 1} - length(bin(rem))
              ELSE {_HLL_REM_BITS + 1} END AS rho
  FROM b
),
reg AS (SELECT bucket, MAX(rho) AS m_j FROM r GROUP BY bucket),
k AS (SELECT MAX(m_j) AS k_max, COUNT(*) AS n_occ FROM reg),
s AS (
  SELECT k.k_max,
         {_HLL_M} - k.n_occ AS n_zero,
         CAST(SUM((CAST(1 AS BIGINT) << (k.k_max - reg.m_j))) AS BIGINT)
           + ({_HLL_M} - k.n_occ) * (CAST(1 AS BIGINT) << k.k_max) AS s_scaled
  FROM reg, k
  GROUP BY k.k_max, k.n_occ
)
SELECT CAST({_HLL_M} AS BIGINT) AS m,
       CAST(n_zero AS BIGINT) AS n_zero,
       CAST(k_max AS BIGINT) AS k_max,
       CAST(s_scaled AS BIGINT) AS s_scaled,
       CAST({_HLL_ALPHA} AS DOUBLE) * CAST({_HLL_M * _HLL_M} AS DOUBLE)
         * CAST((CAST(1 AS BIGINT) << k_max) AS DOUBLE)
         / CAST(s_scaled AS DOUBLE) AS hll_estimate,
       (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS exact_distinct
FROM s
"""


@register("hll_deterministic_estimate", oracle=_HLL_ORACLE)
def hll_deterministic_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count estimate whose VALUE hash-checks
    across engines. md5-60-bit hash → 6-bit bucket + 54-bit remainder;
    rho = leading-zero count + 1 over the fixed 54-bit width (pure
    ``length(bin(x))`` integer math); register = max rho per bucket.

    The classic estimate alpha·m²/Σ 2^-M_j is float-summation-order
    sensitive, so it is rescaled by 2^k_max: every term 2^(k_max-M_j)
    is an exact int64 (k_max ≤ 55, 64 terms ≤ 2^61 — no overflow), the
    sum S is exact, and the estimate alpha·m²·2^k_max / S is a single
    deterministic double division. Output one row: (m, n_zero, k_max,
    s_scaled, hll_estimate, exact_distinct) — estimate and truth side
    by side.

    Scale shape: the register table is ≤64 rows regardless of input
    (partial-agg max per bucket map-side), merge across shards =
    cell-wise max — the mergeable-state pattern shared with
    token_countmin_sketch / quantile_log2_sketch, here carried through
    to the actual cardinality estimate under the hash gate."""
    o = _t(spark, sf_dir, "orders")
    h = o.select(X.md5_long(F.col("o_custkey").cast("string")).alias("h"))
    b = h.select(
        (F.col("h") % _HLL_M).alias("bucket"),
        F.expr(f"h div {_HLL_M}").alias("rem"),
    )
    r = b.select(
        "bucket",
        F.when(
            F.col("rem") > 0,
            F.lit(_HLL_REM_BITS + 1) - F.length(F.bin("rem")),
        )
        .otherwise(F.lit(_HLL_REM_BITS + 1))
        .alias("rho"),
    )
    reg = r.groupBy("bucket").agg(F.max("rho").alias("m_j"))
    k = reg.agg(F.max("m_j").alias("k_max"), F.count(F.lit(1)).alias("n_occ"))
    s = (
        reg.crossJoin(F.broadcast(k))
        .groupBy("k_max", "n_occ")
        .agg(F.sum(F.expr(_p2("k_max - m_j"))).cast("long").alias("s_occ"))
        .select(
            "k_max",
            (F.lit(_HLL_M) - F.col("n_occ")).alias("n_zero"),
            (
                F.col("s_occ")
                + (F.lit(_HLL_M) - F.col("n_occ")) * F.expr(_p2("k_max"))
            ).alias("s_scaled"),
        )
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    return s.crossJoin(F.broadcast(exact)).select(
        F.lit(_HLL_M).cast("long").alias("m"),
        F.col("n_zero").cast("long").alias("n_zero"),
        F.col("k_max").cast("long").alias("k_max"),
        F.col("s_scaled").cast("long").alias("s_scaled"),
        (
            F.lit(float(_HLL_ALPHA))
            * F.lit(float(_HLL_M * _HLL_M))
            * F.expr(_p2("k_max")).cast("double")
            / F.col("s_scaled").cast("double")
        ).alias("hll_estimate"),
        "exact_distinct",
    )


# ---------------------------------------------------------------------------
# quantile-sketch containment audit
# ---------------------------------------------------------------------------

_QAUDIT_ORACLE = f"""
WITH sk AS (SELECT q_pct, lo, hi FROM ({_QLOG2_ORACLE.strip()})),
pop AS (SELECT n_chars, doc_id FROM documents WHERE n_chars >= 1),
r AS (
  SELECT n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM pop
),
ex AS (
  SELECT qs.q_pct, r.n_chars AS exact_value
  FROM (SELECT unnest([50, 90, 99]) AS q_pct) qs, r
  WHERE r.rn = (qs.q_pct * r.n + 99) // 100
)
SELECT sk.q_pct, sk.lo, sk.hi,
       CAST(ex.exact_value AS BIGINT) AS exact_value,
       ex.exact_value BETWEEN sk.lo AND sk.hi AS in_range
FROM sk JOIN ex USING (q_pct)
"""


@register("quantile_sketch_audit", oracle=_QAUDIT_ORACLE)
def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The log2-bucket quantile sketch's bucket range vs the exact
    rank-percentile value, per quantile: (q_pct, lo, hi, exact_value,
    in_range). The containment is guaranteed by construction — the
    first bucket whose cumulative count crosses rank ⌈q·n/100⌉
    contains the element at that rank — and this audit pins the
    guarantee under the hash gate.

    The exact side global-sorts the audited column (rank statistics
    are exact or cheap, never both); in production the sketch answers
    from ≤64 longs and THIS query is what you run on a sample when
    commissioning it."""
    sk = quantile_log2_sketch(spark, sf_dir).select("q_pct", "lo", "hi")
    pop = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 1)
        .select("n_chars", "doc_id")
    )
    w = Window.orderBy("n_chars", "doc_id")
    r = pop.select(
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n"),
    )
    qs = spark.createDataFrame([(50,), (90,), (99,)], "q_pct int")
    ex = (
        r.crossJoin(F.broadcast(qs))
        .where(F.col("rn") == F.expr("(q_pct * n + 99) div 100"))
        .select("q_pct", F.col("n_chars").cast("long").alias("exact_value"))
    )
    return sk.join(F.broadcast(ex), "q_pct").select(
        "q_pct",
        "lo",
        "hi",
        "exact_value",
        ((F.col("exact_value") >= F.col("lo")) & (F.col("exact_value") <= F.col("hi"))).alias(
            "in_range"
        ),
    )


# ---------------------------------------------------------------------------
# join-size estimation via CMS inner product
# ---------------------------------------------------------------------------
def _cms_side_sql(table: str, key: str) -> str:
    return " UNION ALL ".join(
        f"SELECT {d} AS depth, {_cms_cell_sql(f'CAST({key} AS VARCHAR)', d)} AS cell "
        f"FROM {table}"
        for d in range(CMS_D)
    )


_JOINSIZE_ORACLE = f"""
WITH a AS (
  SELECT depth, cell, COUNT(*) AS cnt FROM ({_cms_side_sql("orders", "o_custkey")})
  GROUP BY depth, cell
),
b AS (
  SELECT depth, cell, COUNT(*) AS cnt FROM ({_cms_side_sql("customer", "c_custkey")})
  GROUP BY depth, cell
),
per_depth AS (
  SELECT a.depth, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS est_d
  FROM a JOIN b ON a.depth = b.depth AND a.cell = b.cell
  GROUP BY a.depth
)
SELECT CAST(MIN(est_d) AS BIGINT) AS est_join_size,
       (SELECT COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey)
         AS exact_join_size
FROM per_depth
"""


@register("join_size_cms_estimate", oracle=_JOINSIZE_ORACLE)
def join_size_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT running the join: the inner
    product of the two sides' Count-Min sketches (est_d = Σ_cells
    a[d,c]·b[d,c], est = min over depths) upper-bounds
    |orders ⋈ customer| — the classic AMS/CMS estimator a cost-based
    optimizer consults before choosing join strategy. Exact join count
    alongside exposes the one-sided error.

    Each side's sketch is the 256-row mergeable state from
    token_countmin_sketch; the estimate is a 256-row join + 4-group
    agg, so deciding 'is this join explosive?' costs KB of state
    instead of the join itself — at 100 TB that is the difference
    between planning and running the accident."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("k")
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("k")
    )

    def sketch(df: DataFrame) -> DataFrame:
        cells = F.array(*[_cms_cell(F.col("k"), d) for d in range(CMS_D)])
        return (
            df.select(F.posexplode(cells).alias("depth", "cell"))
            .groupBy(F.col("depth").cast("int").alias("depth"), "cell")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    a = sketch(o).withColumnRenamed("cnt", "a_cnt")
    b = sketch(c).withColumnRenamed("cnt", "b_cnt")
    per_depth = (
        a.join(b, ["depth", "cell"])
        .groupBy("depth")
        .agg(F.sum(F.col("a_cnt") * F.col("b_cnt")).cast("long").alias("est_d"))
    )
    est = per_depth.agg(F.min("est_d").cast("long").alias("est_join_size"))
    exact = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(exact))


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct-count estimator
# ---------------------------------------------------------------------------

_KMV_K = 32

_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT {H15.format(x="CAST(o_custkey AS VARCHAR)")} AS h FROM orders
),
bot AS (SELECT h FROM h ORDER BY h LIMIT {_KMV_K})
SELECT CAST({_KMV_K} AS BIGINT) AS k,
       CAST(MAX(h) AS BIGINT) AS kth_hash,
       CAST({_KMV_K - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
         / CAST(MAX(h) AS DOUBLE) AS kmv_estimate,
       (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS exact_distinct
FROM bot
"""


@register("distinct_kmv_estimate", oracle=_KMV_ORACLE)
def distinct_kmv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count estimate: keep
    the {_KMV_K} smallest distinct 60-bit hashes; est = (k−1)·2^60 /
    h_k. The third distinct-count strategy in the package — exact
    (countDistinct), HLL (hll_deterministic_estimate: fixed 64
    registers, cheapest), KMV (this: k hashes, supports set
    INTERSECTION estimates HLL cannot) — all audited against truth
    under the hash gate.

    The bottom-k state is mergeable (union = merge-sort, keep k
    smallest) and the estimate is one double division; (k−1)·2^60 is
    exact in double (5 significant bits) and long→double casts are
    IEEE round-to-nearest in both engines."""
    o = _t(spark, sf_dir, "orders")
    h = o.select(
        X.md5_long(F.col("o_custkey").cast("string")).alias("h")
    ).distinct()
    bot = h.orderBy("h").limit(_KMV_K)
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    return (
        bot.agg(F.max("h").alias("kth_hash"))
        .select(
            F.lit(_KMV_K).cast("long").alias("k"),
            F.col("kth_hash").cast("long").alias("kth_hash"),
            (
                F.lit(float(_KMV_K - 1))
                * F.lit(float(1 << 60))
                / F.col("kth_hash").cast("double")
            ).alias("kmv_estimate"),
        )
        .crossJoin(F.broadcast(exact))
    )


# ---------------------------------------------------------------------------
# KMV set-intersection estimate (the capability HLL lacks)
# ---------------------------------------------------------------------------

_KMV_JOINT_ORACLE = f"""
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
u AS (
  SELECT DISTINCT {H15.format(x="CAST(user_id AS VARCHAR)")} AS h, user_id
  FROM (SELECT user_id FROM a UNION SELECT user_id FROM b)
),
bot AS (SELECT h, user_id FROM u ORDER BY h, user_id LIMIT {_KMV_K}),
flags AS (
  SELECT bot.h,
         CASE WHEN bot.user_id IN (SELECT user_id FROM a)
               AND bot.user_id IN (SELECT user_id FROM b)
              THEN 1 ELSE 0 END AS in_both
  FROM bot
)
SELECT CAST({_KMV_K} AS BIGINT) AS k,
       CAST(SUM(in_both) AS BIGINT) AS k_in_both,
       CAST(MAX(h) AS BIGINT) AS kth_hash,
       (CAST(SUM(in_both) AS DOUBLE) / CAST({_KMV_K} AS DOUBLE))
         * (CAST({_KMV_K - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
            / CAST(MAX(h) AS DOUBLE)) AS est_intersection,
       (SELECT COUNT(*) FROM a JOIN b ON a.user_id = b.user_id)
         AS exact_intersection
FROM flags
"""


@register("kmv_intersection_estimate", oracle=_KMV_JOINT_ORACLE)
def kmv_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-intersection estimate from KMV sketches — the query
    HLL registers cannot answer: |purchasers ∩ error-reporters| ≈
    (fraction of the union's bottom-k hashes belonging to both sets) ×
    KMV-estimate of |union|. The bottom-k of the union is computable
    from the two sides' bottom-k sketches alone (min-merge), so two
    32-hash sketches answer overlap questions about arbitrarily large
    sets; exact intersection rides alongside as the audit.

    Shape: two distinct-reductions (user-keyed partial aggs), a
    32-row heap (TakeOrderedAndProject), and membership flags via
    broadcast semi-join-shaped lookups — estimate cost is
    sketch-sized, the exact leg exists only because this is the audit
    twin."""
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    b = ev.where(F.col("event_type") == "error").select("user_id").distinct()
    u = (
        a.unionAll(b)
        .distinct()
        .select(
            X.md5_long(F.col("user_id").cast("string")).alias("h"), "user_id"
        )
    )
    bot = u.orderBy("h", "user_id").limit(_KMV_K)
    flags = (
        bot.join(
            a.select(F.col("user_id"), F.lit(1).alias("__a")), "user_id", "left"
        )
        .join(b.select(F.col("user_id"), F.lit(1).alias("__b")), "user_id", "left")
        .select(
            "h",
            F.when(
                F.col("__a").isNotNull() & F.col("__b").isNotNull(), 1
            ).otherwise(0).alias("in_both"),
        )
    )
    exact = a.join(b, "user_id").agg(
        F.count(F.lit(1)).alias("exact_intersection")
    )
    return (
        flags.agg(
            F.sum("in_both").cast("long").alias("k_in_both"),
            F.max("h").alias("kth_hash"),
        )
        .select(
            F.lit(_KMV_K).cast("long").alias("k"),
            "k_in_both",
            F.col("kth_hash").cast("long").alias("kth_hash"),
            (
                (F.col("k_in_both").cast("double") / F.lit(float(_KMV_K)))
                * (
                    F.lit(float(_KMV_K - 1))
                    * F.lit(float(1 << 60))
                    / F.col("kth_hash").cast("double")
                )
            ).alias("est_intersection"),
        )
        .crossJoin(F.broadcast(exact))
    )


# ---------------------------------------------------------------------------
# HLL register merge law across sources
# ---------------------------------------------------------------------------

_HLLM_M = 64
_HLLM_REM_BITS = 54  # 60-bit hash, 6 bits spent on the bucket

_HLL_MERGE_ORACLE = f"""
WITH h AS (
  SELECT event_type, {H15.format(x="CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
b AS (SELECT event_type, h % {_HLLM_M} AS bucket, h // {_HLLM_M} AS rem FROM h),
r AS (
  SELECT event_type, bucket,
         CASE WHEN rem > 0 THEN {_HLLM_REM_BITS + 1} - length(bin(rem))
              ELSE {_HLLM_REM_BITS + 1} END AS rho
  FROM b
),
per_src AS (SELECT event_type, bucket, MAX(rho) AS m_j FROM r GROUP BY event_type, bucket),
merged AS (SELECT bucket, CAST(MAX(m_j) AS BIGINT) AS merged_m_j FROM per_src GROUP BY bucket),
globl AS (SELECT bucket, CAST(MAX(rho) AS BIGINT) AS global_m_j FROM r GROUP BY bucket)
SELECT merged.bucket, merged_m_j, global_m_j,
       merged_m_j = global_m_j AS registers_equal
FROM merged JOIN globl ON globl.bucket = merged.bucket
"""


@register("hll_merge_across_sources", oracle=_HLL_MERGE_ORACLE)
def hll_merge_across_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed-sketch merge law as a query: build deterministic
    HLL registers per event_type (five independent sketches of the
    user-id universe), merge them with register-wise MAX, and compare
    to registers built globally — equal bucket by bucket, by the
    semilattice property of max. This is WHY 1000 executors can sketch
    their partitions independently: the merge loses nothing, ever
    (hll_deterministic_estimate turns these registers into a count;
    streaming_hll_registers maintains them live; this entry certifies
    the composition).

    Both register tables reduce from the same hashed projection; the
    comparison join is 64 rows. The registers_equal column is
    all-true BY MATHEMATICS — pinned under the hash gate so a future
    refactor that breaks mergeability (e.g. switching MAX to a
    non-idempotent accumulator) turns the table red."""
    h = _t(spark, sf_dir, "events").select(
        "event_type",
        X.md5_long(F.col("user_id").cast("string")).alias("h"),
    )
    b = h.select(
        "event_type",
        (F.col("h") % _HLLM_M).alias("bucket"),
        F.expr(f"h div {_HLLM_M}").alias("rem"),
    )
    rho = (
        F.when(
            F.col("rem") > 0,
            F.lit(_HLLM_REM_BITS + 1) - F.length(F.bin("rem")),
        )
        .otherwise(F.lit(_HLLM_REM_BITS + 1))
        .alias("rho")
    )
    r = b.select("event_type", "bucket", rho)
    per_src = r.groupBy("event_type", "bucket").agg(F.max("rho").alias("m_j"))
    merged = per_src.groupBy("bucket").agg(
        F.max("m_j").cast("long").alias("merged_m_j")
    )
    globl = r.groupBy("bucket").agg(F.max("rho").cast("long").alias("global_m_j"))
    return merged.join(globl, "bucket").select(
        "bucket",
        "merged_m_j",
        "global_m_j",
        (F.col("merged_m_j") == F.col("global_m_j")).alias("registers_equal"),
    )


# ---------------------------------------------------------------------------
# deterministic mergeable Misra–Gries (canonical bucket fold)
# ---------------------------------------------------------------------------

_MG_K = 8  # counters kept per summary
_MG_B = 4  # canonical buckets (doc_id % B)


def _mg_sql(tok_source: str) -> str:
    """4-stage unrolled mergeable-MG fold, ONE text for both engines.

    Per stage b: merge the carried summary with bucket b's exact
    counts (pointwise SUM), rank by the canonical total order
    (v DESC, token), read the (k+1)-th value as the decrement t_b
    (0 when ≤ k items), subtract it from every counter and keep the
    positive ones — Agarwal et al. 2012's MERGE. Only the tokenizer
    leg is dialect-specific."""
    parts = [
        f"tok AS (SELECT doc_id % {_MG_B} AS b, token FROM ({tok_source}) tsrc)"
    ]
    for b in range(_MG_B):
        parts.append(
            f"c{b} AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS v "
            f"FROM tok WHERE b = {b} GROUP BY token)"
        )
    for b in range(_MG_B):
        if b == 0:
            src = "c0"
        else:
            src = (
                f"(SELECT token, CAST(SUM(v) AS BIGINT) AS v FROM "
                f"(SELECT token, v FROM s{b - 1} UNION ALL "
                f"SELECT token, v FROM c{b}) u{b} GROUP BY token)"
            )
        parts.append(
            f"r{b} AS (SELECT token, v, ROW_NUMBER() OVER "
            f"(ORDER BY v DESC, token) AS rn FROM {src} m{b})"
        )
        parts.append(
            f"t{b} AS (SELECT CAST(COALESCE(MAX(CASE WHEN rn = {_MG_K + 1} "
            f"THEN v END), 0) AS BIGINT) AS t FROM r{b})"
        )
        parts.append(
            f"s{b} AS (SELECT r{b}.token, CAST(r{b}.v - t{b}.t AS BIGINT) "
            f"AS v FROM r{b}, t{b} WHERE r{b}.v - t{b}.t > 0)"
        )
    last = _MG_B - 1
    t_sum = " + ".join(f"t{b}.t" for b in range(_MG_B))
    t_from = ", ".join(f"t{b}" for b in range(_MG_B))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT s{last}.token, CAST(s{last}.v AS BIGINT) AS counter,
       CAST({t_sum} AS BIGINT) AS decrement_total
FROM s{last}, {t_from}
"""
    )


_MG_DUCK_TOK = (
    "SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents"
)


@register("misra_gries_mergeable", oracle=_mg_sql(_MG_DUCK_TOK))
def misra_gries_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable Misra–Gries(k=8) heavy-hitter summary of
    the token stream — the EXACT counterpart of heavy_hitters_cms
    (CMS overestimates with a probabilistic bound; MG underestimates
    with the deterministic bound exact − D ≤ counter ≤ exact, D =
    decrement_total emitted alongside). The carried note said
    "rows-only unless a canonical-order oracle is found"; this is
    that oracle: MG summaries depend on merge order, so the entry
    pins a CANONICAL one — exact counts per bucket doc_id % 4, folded
    in bucket order with Agarwal et al. 2012's merge (pointwise add,
    subtract the (k+1)-th largest by the total order (v DESC, token),
    drop non-positives); any ≥ n/(k+1)-frequent token is guaranteed
    present in the final summary.

    Engine split (a DELIBERATE exception to the shared-text default):
    the DuckDB oracle runs the 4-stage unrolled fold as one WITH text
    (DuckDB materializes repeated CTEs), but Spark INLINES repeated
    CTE references — the same text exploded to 112 file scans of the
    documents table (the tokenize pass re-derived once per reference
    path, ~2× per stage compounding). The Spark side therefore
    tokenizes ONCE into a materialized (bucket, token, count) base
    (eager localCheckpoint — the repo's lineage-truncation memo
    device) and folds with per-stage ≤ k-row checkpointed summaries:
    4 micro-jobs over vocabulary-sized frames, lineage depth O(1) per
    stage, ONE scan of the corpus. Parity plus the sequential-fold
    property test pin the two implementations to the same summary.

    100-TB shape: the stream-order dependence is the whole point of
    choosing merge-based MG — per-shard summaries are ≤ k rows
    regardless of shard size, each stage's rank is a top-(k+1)
    selection over (≤ k + bucket-vocab) rows (TakeOrderedAndProject
    at scale, a full window only at this test scale), and the
    per-stage threshold join is a 1-row broadcast cross. The bucket
    count B is the tree fan-in knob: at 1000 executors B = executors
    and the fold becomes a lg(B)-deep merge tree of ≤ k-row frames.
    Scale bound: counters are exact int64 counts — no products
    anywhere."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % _MG_B).alias("b"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    # ONE tokenize pass; the fold below re-reads this materialized
    # frame instead of re-deriving the explode per CTE reference.
    bc = (
        tok.groupBy("b", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy(F.col("v").desc(), "token")
    s = None
    d_frames = []
    for b in range(_MG_B):
        cb = bc.where(F.col("b") == b).select("token", "v")
        m = (
            cb
            if s is None
            else s.unionByName(cb)
            .groupBy("token")
            .agg(F.sum("v").cast("long").alias("v"))
        )
        r = m.withColumn("rn", F.row_number().over(w))
        t = r.agg(
            F.coalesce(
                F.max(F.when(F.col("rn") == _MG_K + 1, F.col("v"))), F.lit(0)
            )
            .cast("long")
            .alias("t")
        )
        s = (
            r.crossJoin(F.broadcast(t))
            .where(F.col("v") - F.col("t") > 0)
            .select("token", (F.col("v") - F.col("t")).cast("long").alias("v"))
            .localCheckpoint(eager=True)
        )
        d_frames.append(t.select(F.col("t").alias(f"t{b}")))
    dec = d_frames[0]
    for f in d_frames[1:]:
        dec = dec.crossJoin(F.broadcast(f))
    dec_total = dec.select(
        sum((F.col(f"t{b}") for b in range(1, _MG_B)), F.col("t0"))
        .cast("long")
        .alias("decrement_total")
    )
    return s.crossJoin(F.broadcast(dec_total)).select(
        "token", F.col("v").alias("counter"), "decrement_total"
    )

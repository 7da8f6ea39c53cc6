"""Round-9 tier: Spark-4 engine surface (VARIANT, pipe-syntax SQL,
collations) + RAG/training-data operators (MMR re-ranking, hard-negative
mining, span corruption).

- ``variant_extract_typed`` — semi-structured ingestion through the
  VARIANT type: parse_json into variant, typed path extraction with
  variant_get, missing-path null semantics with try_variant_get. The
  modern engine path for JSON event payloads (replaces schema-on-write
  structs when payloads drift); oracle = DuckDB JSON path extraction
  over the identical JSON text.
- ``sql_pipe_syntax`` — the same aggregation written in Spark 4 pipe
  syntax (FROM ... |> WHERE ... |> AGGREGATE) and in ANSI SQL for the
  oracle: two surfaces, one result, like sql_interface_rank.
- ``collation_casefold_dedup`` — case-insensitive dedup accounting via
  the UTF8_LCASE collation (engine-native casefold equality, usable in
  GROUP BY/DISTINCT without materializing lower()); oracle lowers
  explicitly.
- ``mmr_rerank_topk`` — Maximal Marginal Relevance re-ranking of the
  top-8 cosine candidates (greedy, 3 unrolled picks, score =
  relevance − max-sim-to-selected at λ=0.5): the RAG answer to "the
  top-k are all near-duplicates of each other". Tiny-data tail after
  one scan — candidates are ≤8 rows, every join a broadcast.
- ``hard_negative_mining`` — contrastive-training mining: per vector,
  its strongest non-duplicate neighbor (IVF-blocked kNN, then a
  below-duplicate-threshold filter and re-rank). Same bounded-list
  scale shape as knn_join_ivf, one extra filter.
- ``span_corruption_masks`` — T5-style span-corruption mask layout:
  deterministic (hash-seeded) non-overlapping 3-token spans at ~15%
  noise density, one row per span. Row-local integer math + one
  explode; the masking plan a pretraining data loader executes.

Determinism discipline per the package standard (queries.py module
docstring): integer aggregation, md5-derived hashing recomputed
identically in DuckDB, single post-hoc double divisions with fixed
association, identical aliases both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clean_census_acs_data_spark.functions.detmath import det_ln_ratio as DET_LN
from clean_census_acs_data_spark.io import load_table, spread
from clean_census_acs_data_spark.operators import similarity as S
from clean_census_acs_data_spark.operators import text as X
from clean_census_acs_data_spark.queries import register
from clean_census_acs_data_spark.queries_ext import H15, _dot, _quant_list
from clean_census_acs_data_spark.session import tracked_cache


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# VARIANT: parse → typed path extraction (Spark 4 semi-structured path)
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
WITH j AS (
  SELECT '{"k":' || CAST(o_orderkey AS VARCHAR)
         || ',"p":"' || o_orderpriority
         || '","c":{"cents":' || CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
         || '}}' AS payload
  FROM orders
)
SELECT json_extract_string(payload, '$.p')                      AS prio,
       CAST(COUNT(*) AS BIGINT)                                 AS n_rows,
       CAST(SUM(CAST(json_extract(payload, '$.c.cents') AS BIGINT)) AS BIGINT)
                                                                AS cents_sum,
       CAST(MAX(CAST(json_extract(payload, '$.k') AS BIGINT)) AS BIGINT)
                                                                AS max_key,
       CAST(SUM(CASE WHEN json_extract(payload, '$.c.missing') IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT)              AS n_missing
FROM j
GROUP BY json_extract_string(payload, '$.p')
"""


@register("variant_extract_typed", oracle=_VARIANT_ORACLE)
def variant_extract_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through VARIANT: build a JSON payload
    per order (identical text both engines), parse_json → VariantType,
    then typed path extraction (variant_get '$.p' string / '$.c.cents'
    long / '$.k' long) and missing-path null semantics
    (try_variant_get '$.c.missing' → NULL, counted).

    Scale shape: VARIANT is Spark's shredded semi-structured storage
    type — extraction is a columnar kernel, not string re-parsing per
    path, and group-by/agg over extracted fields gets ordinary partial
    aggregation. This is the plan shape for event-payload analytics
    where the payload schema drifts faster than DDL."""
    o = _t(spark, sf_dir, "orders")
    payload = F.concat(
        F.lit('{"k":'),
        F.col("o_orderkey").cast("string"),
        F.lit(',"p":"'),
        F.col("o_orderpriority"),
        F.lit('","c":{"cents":'),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.lit("}}"),
    )
    v = o.select(F.parse_json(payload).alias("v"))
    return (
        v.select(
            F.variant_get("v", "$.p", "string").alias("prio"),
            F.variant_get("v", "$.c.cents", "long").alias("cents"),
            F.variant_get("v", "$.k", "long").alias("k"),
            F.try_variant_get("v", "$.c.missing", "long").alias("missing"),
        )
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
            F.max("k").cast("long").alias("max_key"),
            F.sum(F.when(F.col("missing").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing"),
        )
    )


# ---------------------------------------------------------------------------
# pipe-syntax SQL (Spark 4 |> operator chain)
# ---------------------------------------------------------------------------

_PIPE_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag
"""


@register("sql_pipe_syntax", oracle=_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle's filter-aggregate written in Spark 4 pipe syntax —
    FROM |> WHERE |> EXTEND |> AGGREGATE ... GROUP BY — proving the
    second SQL dialect surface produces the identical result (the
    sql_interface_rank pattern, one dialect further). Pipe stages are
    sugar over the same logical plan: Catalyst still sees
    filter→project→aggregate and pushes the filter into the scan."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__pipe_lineitem")
    return spark.sql(
        """
        FROM __pipe_lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |> EXTEND CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
                     CAST(SUM(cents) AS BIGINT) AS cents_sum
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n_items, cents_sum
        """
    )


# ---------------------------------------------------------------------------
# collation-aware casefold dedup accounting
# ---------------------------------------------------------------------------

_COLLATE_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT)                    AS n_docs,
       CAST(COUNT(DISTINCT lower(text)) AS BIGINT) AS n_casefold_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT lower(text)) AS BIGINT) AS n_case_dups
FROM documents
GROUP BY source
"""


@register("collation_casefold_dedup", oracle=_COLLATE_ORACLE)
def collation_casefold_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive duplicate accounting via the UTF8_LCASE
    collation: COUNT(DISTINCT collate(text)) groups case variants
    without materializing a lowered copy of every document — the
    engine-native form of casefold dedup (Spark 4 collations). Oracle
    lowers explicitly; on this corpus the two are equal by definition
    of UTF8_LCASE equality.

    Scale shape: distinct-aggregation on a collated key is the same
    two-phase partial/final plan as any COUNT(DISTINCT); the collation
    affects the comparator, not the movement. For the survivor-
    selection form, group on the collated column and min(doc_id) —
    exact_dedup's plan with a collated key."""
    d = _t(spark, sf_dir, "documents")
    folded = F.collate(F.col("text"), "UTF8_LCASE")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(folded).cast("long").alias("n_casefold_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(folded))
        .cast("long")
        .alias("n_case_dups"),
    )


# ---------------------------------------------------------------------------
# MMR re-ranking — RAG result diversification (greedy, 3 unrolled picks)
# ---------------------------------------------------------------------------

_MMR_ORACLE = f"""
WITH e AS (SELECT vec_id, {_quant_list("embedding")} AS q FROM embeddings),
qq AS (SELECT q AS qv, {_dot("q", "q")} AS qn2 FROM e WHERE vec_id = 0),
cand AS (
  SELECT vec_id, q, {_dot("q", "q")} AS n2,
         CAST({_dot("q", "qv")} AS DOUBLE) /
         (sqrt(CAST({_dot("q", "q")} AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS rel
  FROM e, qq WHERE vec_id <> 0
  ORDER BY rel DESC, vec_id LIMIT 8
),
p1 AS (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
s1 AS (
  SELECT c.vec_id, c.q, c.n2, c.rel,
         CAST({_dot("c.q", "p1.q")} AS DOUBLE) /
         (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(p1.n2 AS DOUBLE))) AS sim1
  FROM cand c, p1 WHERE c.vec_id <> p1.vec_id
),
p2 AS (SELECT * FROM s1 ORDER BY (rel - sim1) DESC, vec_id LIMIT 1),
s2 AS (
  SELECT t.vec_id, t.rel,
         CASE WHEN t.sim2 > t.sim1 THEN t.sim2 ELSE t.sim1 END AS maxsim
  FROM (
    SELECT s1.vec_id, s1.rel, s1.sim1,
           CAST({_dot("s1.q", "p2.q")} AS DOUBLE) /
           (sqrt(CAST(s1.n2 AS DOUBLE)) * sqrt(CAST(p2.n2 AS DOUBLE))) AS sim2
    FROM s1, p2 WHERE s1.vec_id <> p2.vec_id
  ) t
),
p3 AS (SELECT vec_id, rel, maxsim FROM s2
       ORDER BY (rel - maxsim) DESC, vec_id LIMIT 1)
SELECT CAST(1 AS BIGINT) AS mmr_rank, vec_id,
       rel AS relevance, CAST(0 AS DOUBLE) AS max_sim_selected
FROM p1
UNION ALL
SELECT CAST(2 AS BIGINT), vec_id, rel, sim1 FROM p2
UNION ALL
SELECT CAST(3 AS BIGINT), vec_id, rel, maxsim FROM p3
"""


@register("mmr_rerank_topk", oracle=_MMR_ORACLE)
def mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: from the exact top-8
    cosine candidates for query vec 0, greedily pick 3 — each pick
    maximizes relevance − max-similarity-to-already-picked (λ=0.5 up to
    a positive factor), vec_id tiebreak. The RAG diversification step
    that stops a retrieval page being n copies of one document.

    Scale shape: the corpus-sized work is the ONE candidate-generation
    scan (here brute-force top-8; at 100 TB the IVF/LSH entries feed
    the same shape); the greedy loop runs over k≈8 driver-bounded rows
    — every join below the limit is a broadcast of ≤8 rows, so the
    unrolled picks cost nothing at any corpus size. Doubles derive from
    integer dots with one fixed-association division each — the proven
    hash-stable cosine path."""
    base = S._quantized(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    qq = base.where(F.col("vec_id") == 0).select(
        F.col("__q").alias("qv"), F.col("__n2").alias("qn2")
    )
    cand = (
        spread(base.where(F.col("vec_id") != 0))
        .crossJoin(F.broadcast(qq))
        .select(
            "vec_id",
            "__q",
            "__n2",
            S.cosine(
                S._dot_q(F.col("__q"), F.col("qv")), F.col("__n2"), F.col("qn2")
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(8)
    )
    # the greedy tail references cand from ~6 plan branches (p1/s1/p2/
    # s2/p3 × the 3-way union) and TakeOrderedAndProject subtrees are
    # not exchange-reused — uncached, the CORPUS scan reruns per
    # branch. 8 rows; eager count so sibling branches can't race a
    # lazy cache inside one job (the lsh_parameter_sweep discipline).
    cand = cand.transform(tracked_cache)
    cand.count()
    p1 = cand.orderBy(F.desc("rel"), F.asc("vec_id")).limit(1)
    s1 = (
        cand.crossJoin(
            F.broadcast(
                p1.select(
                    F.col("vec_id").alias("pv"),
                    F.col("__q").alias("pq"),
                    F.col("__n2").alias("pn2"),
                )
            )
        )
        .where(F.col("vec_id") != F.col("pv"))
        .select(
            "vec_id",
            "__q",
            "__n2",
            "rel",
            S.cosine(
                S._dot_q(F.col("__q"), F.col("pq")), F.col("__n2"), F.col("pn2")
            ).alias("sim1"),
        )
    )
    p2 = s1.orderBy(F.desc(F.col("rel") - F.col("sim1")), F.asc("vec_id")).limit(1)
    s2 = (
        s1.crossJoin(
            F.broadcast(
                p2.select(
                    F.col("vec_id").alias("pv2"),
                    F.col("__q").alias("pq2"),
                    F.col("__n2").alias("pn22"),
                )
            )
        )
        .where(F.col("vec_id") != F.col("pv2"))
        .select(
            "vec_id",
            "rel",
            "sim1",
            S.cosine(
                S._dot_q(F.col("__q"), F.col("pq2")), F.col("__n2"), F.col("pn22")
            ).alias("sim2"),
        )
        .select(
            "vec_id",
            "rel",
            F.when(F.col("sim2") > F.col("sim1"), F.col("sim2"))
            .otherwise(F.col("sim1"))
            .alias("maxsim"),
        )
    )
    p3 = s2.orderBy(F.desc(F.col("rel") - F.col("maxsim")), F.asc("vec_id")).limit(1)
    out1 = p1.select(
        F.lit(1).cast("long").alias("mmr_rank"),
        "vec_id",
        F.col("rel").alias("relevance"),
        F.lit(0.0).cast("double").alias("max_sim_selected"),
    )
    out2 = p2.select(
        F.lit(2).cast("long").alias("mmr_rank"),
        "vec_id",
        F.col("rel").alias("relevance"),
        F.col("sim1").alias("max_sim_selected"),
    )
    out3 = p3.select(
        F.lit(3).cast("long").alias("mmr_rank"),
        "vec_id",
        F.col("rel").alias("relevance"),
        F.col("maxsim").alias("max_sim_selected"),
    )
    return out1.unionAll(out2).unionAll(out3)


# ---------------------------------------------------------------------------
# hard-negative mining — strongest non-duplicate neighbor per vector
# ---------------------------------------------------------------------------

_HARDNEG_DUP_T = "0.98"  # cosine above this = duplicate, not a negative


def _hardneg_oracle() -> str:
    from clean_census_acs_data_spark.queries_round7 import _KNN_JOIN_ORACLE

    return f"""
WITH knn AS ({_KNN_JOIN_ORACLE})
SELECT vec_id, neighbor_id AS hard_negative_id, cosine
FROM (
  SELECT vec_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM knn WHERE cosine <= {_HARDNEG_DUP_T}
) WHERE rn = 1
"""


@register("hard_negative_mining", oracle=_hardneg_oracle())
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: per vector, the strongest
    neighbor whose cosine is BELOW the duplicate threshold — close
    enough to be informative, far enough to be a true negative. Built
    on knn_join_ivf's bounded IVF candidate lists (sqrt(n) codebook,
    capped lists), so the mining inherits its 100-TB shape; the filter
    and per-vector re-rank are a WindowGroupLimit over ≤3 rows each.

    In production the duplicate gate is the verified near-dup pair
    table rather than a raw cosine threshold (anti-join against
    standard_near_dup_pairs — same plan, keyed gate); the threshold
    form keeps the oracle self-contained."""
    from pyspark.sql.window import Window

    from clean_census_acs_data_spark.queries_round7 import knn_join_ivf

    knn = knn_join_ivf(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        knn.where(F.col("cosine") <= float(_HARDNEG_DUP_T))  # single ref — no cache
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("neighbor_id").alias("hard_negative_id"), "cosine")
    )


# ---------------------------------------------------------------------------
# exact dedup, hash-only shuffle (digest exchange + id join-back)
# ---------------------------------------------------------------------------

_HASH_REJOIN_ORACLE = """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies, MIN(n_chars) AS n_chars
FROM documents
GROUP BY text
"""


@register("dedup_exact_hash_rejoin", oracle=_HASH_REJOIN_ORACLE)
def dedup_exact_hash_rejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_exact's 100-TB variant, as promised by its docstring: the
    dedup groupBy keys on sha2(text) ALONE, so the exchange carries
    32-byte digests + ids — never document bodies — and the survivors'
    payload columns come from ONE equi join back to the corpus on the
    winning doc_id (8-byte keys). Same result as grouping on the pair
    (collision probability ~2^-256); one extra scan buys a
    body-free shuffle, the right trade once documents outweigh their
    digests ~100:1.

    The joined-back payload here is n_chars standing in for any set of
    survivor columns (text itself would work identically — n_chars
    keeps the oracle's float discipline trivial)."""
    d = _t(spark, sf_dir, "documents")
    winners = (
        d.select("doc_id", F.sha2("text", 256).alias("__h"))
        .groupBy("__h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__h")
    )
    return winners.join(d.select("doc_id", "n_chars"), "doc_id").select(
        "doc_id", "n_copies", "n_chars"
    )


# ---------------------------------------------------------------------------
# bounded BFS over the near-dup graph (min-plus distance, 3 rounds)
# ---------------------------------------------------------------------------

_BFS_DEPTH = 3
_BFS_SEED = 0  # doc_id of the source vertex


def _bfs_oracle() -> str:
    from clean_census_acs_data_spark.queries_ext import _MINHASH_ORACLE

    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE.strip()}) WHERE jaccard >= 0.5),
edges AS (
  SELECT doc_a AS v, doc_b AS w FROM pairs
  UNION
  SELECT doc_b AS v, doc_a AS w FROM pairs
),
walk(v, d) AS (
  SELECT CAST({_BFS_SEED} AS BIGINT), 0
  UNION ALL
  SELECT e.w, walk.d + 1 FROM walk JOIN edges e ON e.v = walk.v
  WHERE walk.d < {_BFS_DEPTH}
)
SELECT v AS doc_id, CAST(MIN(d) AS BIGINT) AS distance
FROM walk GROUP BY v
"""


@register("graph_bfs_distance", oracle=_bfs_oracle())
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS from a seed document over the verified near-dup
    graph (Jaccard ≥ 0.5): min-plus distance, {k} unrolled frontier
    rounds — 'how far does contamination spread from this document
    through near-duplicate links', the reachability question behind
    takedown-propagation and leakage audits. Distances are exact
    integers; unreachable-within-{k} vertices are absent (same
    semantics as the recursive-CTE oracle's bounded walk).

    Scale shape: each round is one equi join frontier⋈edges + a min
    aggregation (the connected-components discipline, depth-bounded so
    no convergence loop); the frontier never exceeds the ball's size.
    """.format(k=_BFS_DEPTH)
    from clean_census_acs_data_spark.operators.dedup import (
        standard_undirected_edges,
    )

    # session-shared materialized edge list (already distinct: pairs
    # are unique with doc_a < doc_b); each BFS round re-reads the
    # checkpointed table — previously this entry only looked fast by
    # accidentally matching PageRank's private cached union subtree
    edges = standard_undirected_edges(spark, sf_dir, threshold=0.5).select(
        F.col("a").alias("v"), F.col("b").alias("w")
    )
    dist = spark.createDataFrame(
        [(int(_BFS_SEED), 0)], "doc_id bigint, distance bigint"
    )
    frontier = dist
    for step in range(1, _BFS_DEPTH + 1):
        reached = (
            frontier.join(edges, frontier.doc_id == edges.v)
            .select(F.col("w").alias("doc_id"), F.lit(step).cast("long").alias("distance"))
            .distinct()
        )
        dist = dist.unionAll(reached)
        frontier = reached
    return dist.groupBy("doc_id").agg(F.min("distance").alias("distance"))


# ---------------------------------------------------------------------------
# multi-probe IVF kNN join (nprobe=2 — the recall lever)
# ---------------------------------------------------------------------------

def _knn_probe2_oracle() -> str:
    from clean_census_acs_data_spark.queries_round7 import _KNN_CAP

    return f"""
WITH e AS (SELECT vec_id, {_quant_list("embedding")} AS q FROM embeddings),
nk AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k FROM embeddings),
cent AS (
  SELECT vec_id AS centroid_id, q AS cq, {_dot("q", "q")} AS cn2
  FROM e WHERE vec_id < (SELECT k FROM nk)
),
sc AS (
  SELECT e.vec_id, e.q, {_dot("e.q", "e.q")} AS n2, cent.centroid_id,
         CAST({_dot("e.q", "cent.cq")} AS DOUBLE) /
         (sqrt(CAST({_dot("e.q", "e.q")} AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS c_cos
  FROM e, cent
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY c_cos DESC, centroid_id) AS rn
  FROM sc
),
members AS (
  SELECT * FROM (
    SELECT vec_id, q, n2, centroid_id,
           ROW_NUMBER() OVER (PARTITION BY centroid_id ORDER BY vec_id) AS list_rn
    FROM ranked WHERE rn = 1
  ) WHERE list_rn <= {_KNN_CAP}
),
probes AS (SELECT vec_id, q, n2, centroid_id FROM ranked WHERE rn <= 2),
pairs AS (
  SELECT p.vec_id, m.vec_id AS neighbor_id,
         CAST({_dot("p.q", "m.q")} AS DOUBLE) /
         (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(m.n2 AS DOUBLE))) AS cosine
  FROM probes p JOIN members m
    ON p.centroid_id = m.centroid_id AND p.vec_id <> m.vec_id
)
SELECT vec_id, neighbor_id, cosine, CAST(nn_rank AS BIGINT) AS nn_rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cosine DESC, neighbor_id) AS nn_rank
  FROM pairs
) WHERE nn_rank <= 3
"""


@register("knn_join_ivf_probe2", oracle=_knn_probe2_oracle())
def knn_join_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_join_ivf's recall lever, implemented: every vector PROBES
    its top-2 nearest centroids' inverted lists (members still live in
    exactly their top-1 list, capped as in knn_join_ivf), so a vector
    near a Voronoi boundary sees the neighbors the single-probe join
    misses. Candidates per vector ≤ 2·cap — double the probe-1 bound,
    still constant; the pair join still shuffles on centroid_id only.
    tests/test_knn_bounds.py asserts probe-2 candidate coverage is a
    superset of probe-1's (recall is monotone in nprobe). Assignment,
    codebook, and list cap are SHARED with knn_join_ivf via
    _knn_ivf_stages — one tuning point, no drift between the probe
    variants."""
    from pyspark.sql.window import Window

    from clean_census_acs_data_spark.queries_round7 import _knn_ivf_stages

    probe_rows, members = _knn_ivf_stages(spark, sf_dir, probes=2)
    probes = probe_rows.select(
        "vec_id",
        F.col("__q").alias("__qa"),
        F.col("__n2").alias("__na"),
        "centroid_id",
    )
    pairs = (
        probes.join(members, "centroid_id")
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            S.cosine(
                S._dot_q(F.col("__qa"), F.col("__qb")),
                F.col("__na"),
                F.col("__nb"),
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("nn_rank", F.row_number().over(wk))
        .where(F.col("nn_rank") <= 3)
        .select("vec_id", "neighbor_id", "cosine", F.col("nn_rank").cast("long"))
    )


# ---------------------------------------------------------------------------
# contrastive triplet manifest (anchor, positive, hard negative)
# ---------------------------------------------------------------------------


def _triplet_oracle() -> str:
    from clean_census_acs_data_spark.queries_round7 import _KNN_JOIN_ORACLE

    return f"""
WITH knn AS ({_KNN_JOIN_ORACLE}),
pos AS (
  SELECT vec_id, neighbor_id AS positive_id, cosine AS pos_cos FROM (
    SELECT vec_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM knn WHERE cosine > {_HARDNEG_DUP_T}
  ) WHERE rn = 1
),
neg AS (
  SELECT vec_id, neighbor_id AS negative_id, cosine AS neg_cos FROM (
    SELECT vec_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM knn WHERE cosine <= {_HARDNEG_DUP_T}
  ) WHERE rn = 1
)
SELECT pos.vec_id AS anchor_id, pos.positive_id, neg.negative_id,
       pos.pos_cos, neg.neg_cos,
       pos.pos_cos - neg.neg_cos AS margin
FROM pos JOIN neg ON pos.vec_id = neg.vec_id
"""


@register("contrastive_triplets", oracle=_triplet_oracle())
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet manifest: per anchor vector, its
    strongest above-duplicate-threshold neighbor as the POSITIVE and
    its strongest below-threshold neighbor as the HARD NEGATIVE, with
    the similarity margin between them — the (anchor, positive,
    negative) rows an embedding-model trainer consumes, emitted only
    where both sides exist.

    r13 adjudication of the driver-observed 5.18 s r12 reading
    (VERDICT r12 #5, entry untouched since r11): cold interleaved
    tree A/B vs dd273ca — r11 6.61/6.57 s vs HEAD 6.09/6.61 s, equal
    across trees. The entry's ~0.8 s r11 BENCH number was shared-memo
    subsidy from earlier bench entries; its true cold cost is ~6.6 s
    on both trees. No code regression.

    One pass over knn_join_ivf's bounded
    candidate lists feeds both sides (Catalyst reuses the subtree);
    threshold split + per-anchor WindowGroupLimit is all that differs.

    The margin column is the curriculum knob: small margins are the
    hardest (most informative) triplets, so ORDER BY margin ASC LIMIT k
    on this output IS hard-triplet mining."""
    from pyspark.sql.window import Window

    from clean_census_acs_data_spark.queries_round7 import knn_join_ivf

    # the pos and neg branches both consume the full kNN subtree; the
    # output is ≤ 3n tiny rows — cache + eager count so the bounded-
    # list pair join runs once, not twice
    knn = knn_join_ivf(spark, sf_dir).transform(tracked_cache)
    knn.count()
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    pos = (
        knn.where(F.col("cosine") > float(_HARDNEG_DUP_T))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("neighbor_id").alias("positive_id"),
            F.col("cosine").alias("pos_cos"),
        )
    )
    neg = (
        knn.where(F.col("cosine") <= float(_HARDNEG_DUP_T))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("neighbor_id").alias("negative_id"),
            F.col("cosine").alias("neg_cos"),
        )
    )
    return pos.join(neg, "vec_id").select(
        F.col("vec_id").alias("anchor_id"),
        "positive_id",
        "negative_id",
        "pos_cos",
        "neg_cos",
        (F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
    )


# ---------------------------------------------------------------------------
# T5-style span-corruption mask layout (deterministic)
# ---------------------------------------------------------------------------

_SPAN_LEN = 3
_SPAN_ORACLE = f"""
WITH d AS (
  SELECT doc_id, length(string_split(text, ' ')) AS n_tok
  FROM documents
),
s AS (
  SELECT doc_id, n_tok,
         (n_tok * 15) // 100 // {_SPAN_LEN} AS n_spans,
         n_tok // (CASE WHEN (n_tok * 15) // 100 // {_SPAN_LEN} > 0
                        THEN (n_tok * 15) // 100 // {_SPAN_LEN} ELSE 1 END)
           AS stride
  FROM d
),
k AS (
  SELECT doc_id, n_tok, stride,
         unnest(generate_series(1, CAST(n_spans AS INT))) AS span_idx
  FROM s WHERE n_spans >= 1
)
SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
       CAST((span_idx - 1) * stride
            + {H15.format(x="CAST(doc_id AS VARCHAR) || '#' || CAST(span_idx AS VARCHAR)")}
              % (CASE WHEN stride - {_SPAN_LEN} > 0
                      THEN stride - {_SPAN_LEN} ELSE 1 END) AS BIGINT)
         AS start_tok,
       CAST({_SPAN_LEN} AS BIGINT) AS span_len
FROM k
"""


@register("span_corruption_masks", oracle=_SPAN_ORACLE)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption layout: per document, ~15% of tokens
    covered by fixed-length 3-token spans, one row per span. Spans are
    non-overlapping BY CONSTRUCTION — the document is cut into
    n_spans strides and each span jitters inside its own stride via a
    deterministic md5 offset (hash of doc_id#span_idx, recomputed
    identically in DuckDB) — so re-runs mask identical positions, the
    property a reproducible pretraining dataloader needs.

    Scale shape: row-local integer math plus one explode of an
    in-row sequence; no shuffle at all — the whole plan is a single
    narrow projection pipeline at any corpus size."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    n_spans = F.expr(f"n_tok * 15 div 100 div {_SPAN_LEN}")
    s = d.select(
        "doc_id",
        "n_tok",
        n_spans.alias("n_spans"),
        F.expr(
            f"n_tok div (CASE WHEN n_tok * 15 div 100 div {_SPAN_LEN} > 0 "
            f"THEN n_tok * 15 div 100 div {_SPAN_LEN} ELSE 1 END)"
        ).alias("stride"),
    ).where(F.col("n_spans") >= 1)
    k = s.select(
        "doc_id",
        "stride",
        F.explode(F.sequence(F.lit(1), F.col("n_spans").cast("int"))).alias(
            "span_idx"
        ),
    )
    jitter = X.md5_long(
        F.concat(
            F.col("doc_id").cast("string"), F.lit("#"), F.col("span_idx").cast("string")
        )
    ) % F.expr(
        f"CASE WHEN stride - {_SPAN_LEN} > 0 THEN stride - {_SPAN_LEN} ELSE 1 END"
    )
    return k.select(
        "doc_id",
        F.col("span_idx").cast("long").alias("span_idx"),
        ((F.col("span_idx") - 1) * F.col("stride") + jitter)
        .cast("long")
        .alias("start_tok"),
        F.lit(_SPAN_LEN).cast("long").alias("span_len"),
    )


# ---------------------------------------------------------------------------
# ColBERT-style late-interaction retrieval (MaxSim over sub-vectors)
# ---------------------------------------------------------------------------

_CB_SLICES = [(1, 16), (17, 32), (33, 48), (49, 64)]


def _cb_sql_parts() -> tuple[str, str, str]:
    """(e_cols, q_cols, score_expr) for the DuckDB oracle — generated so
    the 4x4 MaxSim grid is written once, not hand-copied 16 times."""
    parts = []
    for i, (lo, hi) in enumerate(_CB_SLICES):
        ql = _quant_list(f"embedding[{lo}:{hi}]")
        parts.append(f"{ql} AS t{i}, {_dot(ql, ql)} AS n{i}")
    e_cols = ", ".join(parts)
    q_cols = ", ".join(
        f"t{i} AS qt{i}, n{i} AS qn{i}" for i in range(len(_CB_SLICES))
    )
    cos = (
        lambda qi, di: f"CAST({_dot(f'q.qt{qi}', f'd.t{di}')} AS DOUBLE) / "
        f"(sqrt(CAST(q.qn{qi} AS DOUBLE)) * sqrt(CAST(d.n{di} AS DOUBLE)))"
    )
    ms = [
        "greatest(" + ", ".join(cos(qi, di) for di in range(4)) + ")"
        for qi in range(4)
    ]
    score = f"(({ms[0]} + {ms[1]}) + {ms[2]}) + {ms[3]}"
    return e_cols, q_cols, score


_CB_E, _CB_Q, _CB_SCORE = _cb_sql_parts()

_COLBERT_ORACLE = f"""
WITH e AS (SELECT vec_id, {_CB_E} FROM embeddings),
q AS (SELECT {_CB_Q} FROM e WHERE vec_id = 0),
d AS (SELECT * FROM e WHERE vec_id <> 0)
SELECT d.vec_id, {_CB_SCORE} AS maxsim_score
FROM d, q
ORDER BY maxsim_score DESC, d.vec_id
LIMIT 10
"""


@register("colbert_maxsim_topk", oracle=_COLBERT_ORACLE)
def colbert_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) retrieval: treat each 64-dim
    embedding as 4 sub-vectors of 16 dims; score(query, doc) =
    Σ_{query sub-vec} max_{doc sub-vec} cosine — the MaxSim kernel that
    beats single-vector cosine when different parts of a document match
    different parts of the query. Top-10 for query vec 0.

    Determinism: all 16 cell cosines are integer-dot/fixed-association
    doubles; the 4-way max is order-free; the 4-term sum is written as
    one fixed left-assoc expression (NOT a SUM aggregate), so the score
    is bit-identical across engines. Scale shape: row-local 4×4 grid —
    a narrow projection over one scan feeding TakeOrderedAndProject; at
    100 TB the candidate set comes from the IVF/LSH entries first and
    this kernel re-scores candidates only."""
    from clean_census_acs_data_spark.operators.similarity import _quant

    emb = _t(spark, sf_dir, "embeddings")
    cols = []
    for i, (lo, _hi) in enumerate(_CB_SLICES):
        qv = F.transform(F.slice("embedding", lo, 16), lambda x: _quant(x))
        cols.append(qv.alias(f"t{i}"))
    e = emb.select("vec_id", *cols)
    for i in range(4):
        e = e.withColumn(f"n{i}", S._dot_q(F.col(f"t{i}"), F.col(f"t{i}")))
    q = e.where(F.col("vec_id") == 0).select(
        *[F.col(f"t{i}").alias(f"qt{i}") for i in range(4)],
        *[F.col(f"n{i}").alias(f"qn{i}") for i in range(4)],
    )
    d = spread(e.where(F.col("vec_id") != 0)).crossJoin(F.broadcast(q))
    ms = [
        F.greatest(
            *[
                S.cosine(
                    S._dot_q(F.col(f"qt{qi}"), F.col(f"t{di}")),
                    F.col(f"qn{qi}"),
                    F.col(f"n{di}"),
                )
                for di in range(4)
            ]
        )
        for qi in range(4)
    ]
    score = ((ms[0] + ms[1]) + ms[2]) + ms[3]
    return (
        d.select("vec_id", score.alias("maxsim_score"))
        .orderBy(F.desc("maxsim_score"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# RLHF-style preference-pair mining from quality ranks
# ---------------------------------------------------------------------------

_PREF_ORACLE = """
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn_best,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars ASC, doc_id)  AS rn_worst,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT b.source, CAST(b.rn_best AS BIGINT) AS pair_idx,
       b.doc_id AS chosen_doc, w.doc_id AS rejected_doc,
       CAST(b.n_chars AS BIGINT) AS chosen_chars,
       CAST(w.n_chars AS BIGINT) AS rejected_chars
FROM ranked b JOIN ranked w
  ON b.source = w.source AND b.rn_best = w.rn_worst
WHERE b.rn_best <= b.n // 4
"""


@register("preference_pair_mining", oracle=_PREF_ORACLE)
def preference_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO training:
    within each source, pair the i-th highest-quality document with the
    i-th lowest (quality proxy: n_chars, doc_id tiebreak), taking the
    top quartile — maximally-separated pairs first, deterministic under
    re-runs. Production swaps in the model quality score; the plan is
    identical (two ranks over one partition + an equi self-join on
    (source, idx), both sides already partitioned by source)."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    wb = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ww = Window.partitionBy("source").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    wn = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(wb).alias("rn_best"),
        F.row_number().over(ww).alias("rn_worst"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    b = ranked.select(
        "source",
        F.col("rn_best").alias("idx"),
        F.col("doc_id").alias("chosen_doc"),
        F.col("n_chars").alias("chosen_chars"),
        "n",
    )
    w = ranked.select(
        "source",
        F.col("rn_worst").alias("idx"),
        F.col("doc_id").alias("rejected_doc"),
        F.col("n_chars").alias("rejected_chars"),
    )
    return (
        b.join(w, ["source", "idx"])
        .where(F.col("idx") <= F.expr("n div 4"))
        .select(
            "source",
            F.col("idx").cast("long").alias("pair_idx"),
            "chosen_doc",
            "rejected_doc",
            F.col("chosen_chars").cast("long"),
            F.col("rejected_chars").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (target-domain log-ratio selection)
# ---------------------------------------------------------------------------

_DSIR_TARGET = "src0"
_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (SELECT w, COUNT(*) AS c_all FROM tok GROUP BY w),
tgt AS (SELECT w, COUNT(*) AS c_tgt FROM tok WHERE source = '{_DSIR_TARGET}' GROUP BY w),
tots AS (
  SELECT CAST(SUM(c_all) AS BIGINT) AS t_all,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM tok WHERE source = '{_DSIR_TARGET}') AS t_tgt,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
),
wt AS (
  SELECT vocab.w,
         CAST(ROUND((
           {DET_LN('tots.t_all + tots.v', 'tots.t_tgt + tots.v', div='//')}
           - {DET_LN('vocab.c_all + 1', 'COALESCE(tgt.c_tgt, 0) + 1', div='//')}
         ) * 1000000.0) AS BIGINT) AS w_e6
  FROM vocab LEFT JOIN tgt ON vocab.w = tgt.w, tots
),
tf AS (
  SELECT doc_id, source, w, COUNT(*) AS f FROM tok
  WHERE source <> '{_DSIR_TARGET}' GROUP BY doc_id, source, w
),
scored AS (
  SELECT tf.doc_id, tf.source,
         CAST(SUM(tf.f) AS BIGINT) AS n_tokens,
         CAST(SUM(tf.f * wt.w_e6) AS DOUBLE) / CAST(SUM(tf.f) AS DOUBLE)
           AS avg_logratio_e6
  FROM tf JOIN wt USING (w)
  GROUP BY tf.doc_id, tf.source
)
SELECT doc_id, source, n_tokens, avg_logratio_e6
FROM scored
ORDER BY avg_logratio_e6 DESC, doc_id
LIMIT 20
"""


@register("dsir_importance_select", oracle=_DSIR_ORACLE)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: score every non-target document by
    its average token log-ratio ln(p_target / p_corpus) (add-one
    smoothed unigram LMs, target domain = the _DSIR_TARGET source),
    select the top-20 most-target-like — the importance-resampling step
    that tilts a general crawl toward a target domain before
    pretraining.

    Determinism: ln quantized to integer micro-nats per TOKEN TYPE
    (the lm_unigram_surprisal discipline), integer tf-weighted sums,
    one final division. Scale shape: both LMs are vocab-sized tables
    built with partial aggregation; scoring a 100-TB crawl is one
    broadcast join of the weight table onto per-doc tf — no rescan of
    the target corpus per batch.

    Scale bound: w_e6 is a det_ln ratio in micro-nats (|w_e6| < 44e6); Σ f·w_e6 is per document, ≤ doc_tokens·44e6 → int64 to ~2·10¹¹ tokens in one doc."""
    d = _t(spark, sf_dir, "documents")
    # tok feeds four consumers but is NOT cached: warm A/B at sf0.1 put
    # the cache fill of corpus-token string rows above the re-run cost
    # of the codegen explode (1.29 s vs 1.37 s cached); at 100 TB the
    # token table is persisted and the trade flips
    tok = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_all"))
    tgt = (
        tok.where(F.col("source") == _DSIR_TARGET)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    t_all = vocab.agg(
        F.sum("c_all").cast("long").alias("t_all"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    t_tgt = (
        tok.where(F.col("source") == _DSIR_TARGET)
        .agg(F.count(F.lit(1)).cast("long").alias("t_tgt"))
    )
    wt = (
        vocab.join(tgt, "w", "left")
        .crossJoin(F.broadcast(t_all))
        .crossJoin(F.broadcast(t_tgt))
        .select(
            "w",
            # log-ratio decomposed into sign-definite exact-integer
            # ratios: ln(((c_tgt+1)/(t_tgt+v))/((c_all+1)/(t_all+v)))
            # = ln((t_all+v)/(t_tgt+v)) − ln((c_all+1)/(c_tgt+1)),
            # each p ≥ q ≥ 1 (target counts are subsets of corpus
            # counts) → deterministic atanh-series ln, no libm
            F.round(
                (
                    F.expr(DET_LN("t_all + v", "t_tgt + v", div="DIV"))
                    - F.expr(
                        DET_LN(
                            "c_all + 1",
                            "COALESCE(c_tgt, 0) + 1",
                            div="DIV",
                        )
                    )
                )
                * 1000000.0
            )
            .cast("long")
            .alias("w_e6"),
        )
    )
    tf = (
        tok.where(F.col("source") != _DSIR_TARGET)
        .groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return (
        tf.join(wt, "w")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("f").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("f") * F.col("w_e6")).cast("double")
                / F.sum("f").cast("double")
            ).alias("avg_logratio_e6"),
        )
        .orderBy(F.desc("avg_logratio_e6"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout — space-filling clustering beyond Z-order
# ---------------------------------------------------------------------------

_HILBERT_N = 256  # 8-bit curve over a 256x256 grid


def _hilbert_sql(table: str) -> str:
    """One SQL text for BOTH engines: the 8 loop iterations of the
    Wikipedia xy2d conversion unrolled as chained CTE stages. Pure
    CASE + bitwise-& expressions (the (3*rx) XOR ry quadrant code is a
    4-way CASE), so the text parses identically in Spark and DuckDB —
    the sql_interface_rank discipline. Bijectivity + unit-step
    adjacency of the generated curve are pinned by
    tests/test_hilbert.py on a full 16x16 grid."""
    n = _HILBERT_N
    # x0/y0 (the ORIGINAL coordinates) ride along through every stage so
    # the final bbox audit needs no join back to p0 — the first cut
    # self-joined the last stage to p0 on the row key, a pointless
    # full-table shuffle at scale when two narrow columns cost nothing
    sql = (
        f"WITH p0 AS (SELECT o_orderkey AS k, o_orderkey % {n} AS x, "
        f"CAST(ROUND(o_totalprice * 100) AS BIGINT) % {n} AS y, "
        f"o_orderkey % {n} AS x0, "
        f"CAST(ROUND(o_totalprice * 100) AS BIGINT) % {n} AS y0, "
        f"CAST(0 AS BIGINT) AS d FROM {table})"
    )
    prev = "p0"
    s = n // 2
    i = 0
    while s > 0:
        cur = f"p{i + 1}"
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        quad = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
            f"WHEN {rx} = 0 THEN 1 WHEN {ry} = 0 THEN 3 ELSE 2 END)"
        )
        newx = (
            f"(CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {n - 1} - y ELSE y END) ELSE x END)"
        )
        newy = (
            f"(CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {n - 1} - x ELSE x END) ELSE y END)"
        )
        sql += (
            f", {cur} AS (SELECT k, {newx} AS x, {newy} AS y, x0, y0, "
            f"d + {s * s} * {quad} AS d FROM {prev})"
        )
        prev = cur
        s //= 2
        i += 1
    # locality audit: 16 contiguous curve buckets; a good space-filling
    # order gives each bucket a small bounding box over the ORIGINAL
    # coords (x0/y0, carried through the stages).
    # bucket = d div 4096; written as floor(d / 4096.0) because Spark
    # has no // operator and the two engines' CAST-of-fractional rules
    # differ — d < 2^16 and 4096 = 2^12 make the double division exact
    sql += f"""
SELECT CAST(floor(d / 4096.0) AS BIGINT) AS curve_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(d) AS BIGINT) AS d_min,
       CAST(MAX(d) AS BIGINT) AS d_max,
       CAST((MAX(x0) - MIN(x0) + 1) * (MAX(y0) - MIN(y0) + 1) AS BIGINT)
         AS bbox_area
FROM {prev}
GROUP BY CAST(floor(d / 4096.0) AS BIGINT)
"""
    return sql


@register("hilbert_curve_layout", oracle=_hilbert_sql("orders"))
def hilbert_curve_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert space-filling layout code over (o_orderkey, cents) mod
    256 — the locality-preserving alternative to zorder_morton (Hilbert
    has no Z-order diagonal jumps, so range scans touch fewer files):
    the xy2d bit loop unrolled into 8 CTE stages, then a 16-bucket
    locality audit (points per contiguous curve range + the bounding
    box they span in the original key space).

    Identical SQL text runs in both engines (pure CASE + bitwise-&,
    generated once — no dialect fork to drift). Scale shape: the curve
    code is row-local integer math (zero shuffles until the audit agg);
    as a WRITE layout it's sortWithinPartitions(hilbert_d) exactly like
    write_zorder_layout, giving parquet min/max stats 2-D locality."""
    from clean_census_acs_data_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_hilbert_sql("orders"))


# ---------------------------------------------------------------------------
# XML source round-trip (Spark 4 built-in XML reader/writer)
# ---------------------------------------------------------------------------

_XML_ORACLE = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
"""


@register("xml_source_roundtrip", oracle=_XML_ORACLE)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 built-in XML connector, proven lossless end-to-end: the
    nation table written as XML (one <nation> element per row) and read
    back through the schema-inferring XML reader; the oracle reads the
    original parquet, so a hash match certifies the round-trip. The
    third self-describing text format after CSV/JSON — the ingestion
    path for feed-style enterprise data.

    Scale shape: the XML write is one file per task like any Spark
    sink; reads split by element boundary. Typed columns are re-cast
    explicitly because XML carries no type system (everything the
    reader infers must be pinned, or drift in inference rules would
    change the schema under us)."""
    import hashlib
    import tempfile

    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    # per-process path component: two sessions sweeping the same sf_dir
    # concurrently (driver sweep + local_correctness) must not race on
    # overwrite-vs-readback of a shared directory (ADVICE r4 #5)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/sparkgraft_xml_{tag}_{os.getpid()}"
    n.coalesce(1).write.mode("overwrite").format("xml").option(
        "rowTag", "nation"
    ).save(path)
    back = spark.read.format("xml").option("rowTag", "nation").load(path)
    return back.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").cast("string").alias("n_name"),
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    )


# ---------------------------------------------------------------------------
# observation metrics (in-flight data-quality counters)
# ---------------------------------------------------------------------------

_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discounted
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
"""


@register("observed_write_metrics", oracle=_OBSERVE_ORACLE)
def observed_write_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API: data-quality counters harvested from a
    query IN FLIGHT (df.observe + accumulator-backed metrics), not by a
    second scan — how a production write job reports row counts and
    domain violations at zero extra cost. The observed metrics are
    returned as a one-row DataFrame and hash-checked against a plain
    aggregate oracle, proving observe() counts exactly what a second
    aggregation pass would.

    Scale shape: observe adds a CollectMetrics node over the streaming
    pass — no extra shuffle, no extra scan; the noop-sink action below
    is the write such a job performs anyway."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    obs = Observation("write_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents_sum"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
        .cast("long")
        .alias("n_discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["cents_sum"]), int(m["n_discounted"]))],
        "n_rows bigint, cents_sum bigint, n_discounted bigint",
    )


# ---------------------------------------------------------------------------
# parameterized SQL (named-argument queries)
# ---------------------------------------------------------------------------

_PARAM_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM orders
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 1000.0
GROUP BY o_orderstatus
"""


@register("parameterized_sql_query", oracle=_PARAM_ORACLE)
def parameterized_sql_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args={...})): parameter
    markers bind as literal expressions AFTER parsing, so user values
    can never splice into the query text — the injection-safe surface a
    multi-tenant engine endpoint needs (vs the f-string SQL it
    replaces). Values here are the oracle's literals, proving binding
    semantics match inlining."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__param_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents_sum
        FROM __param_orders
        WHERE o_orderpriority = :prio AND o_totalprice > :min_price
        GROUP BY o_orderstatus
        """,
        args={"prio": "1-URGENT", "min_price": 1000.0},
    )


# ---------------------------------------------------------------------------
# curriculum phase assignment (quality-ordered NTILE)
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
WITH phased AS (
  SELECT doc_id, n_chars,
         NTILE(3) OVER (ORDER BY n_chars, doc_id) AS phase
  FROM documents
)
SELECT CAST(phase AS BIGINT) AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM phased
GROUP BY phase
"""


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncation audit — short-prefix embeddings vs full
# ---------------------------------------------------------------------------

_MRL_DIM = 16  # prefix dims kept by the truncated representation


def _prefix_scores_sql() -> str:
    """Shared WITH-clause prefix (e/qq/sc CTEs) producing
    (vec_id, cos_full, cos_pre) — ONE definition feeding both the
    matryoshka and NDCG oracles so the scoring text cannot drift."""
    qfull = _quant_list("embedding")
    qpre = _quant_list(f"embedding[1:{_MRL_DIM}]")
    return f"""e AS (SELECT vec_id, {qfull} AS qf, {qpre} AS qp FROM embeddings),
qq AS (SELECT qf AS qvf, qp AS qvp, {_dot("qf", "qf")} AS nf,
              {_dot("qp", "qp")} AS np FROM e WHERE vec_id = 0),
sc AS (
  SELECT e.vec_id,
         CAST({_dot("e.qf", "qq.qvf")} AS DOUBLE) /
         (sqrt(CAST({_dot("e.qf", "e.qf")} AS DOUBLE)) * sqrt(CAST(qq.nf AS DOUBLE))) AS cos_full,
         CAST({_dot("e.qp", "qq.qvp")} AS DOUBLE) /
         (sqrt(CAST({_dot("e.qp", "e.qp")} AS DOUBLE)) * sqrt(CAST(qq.np AS DOUBLE))) AS cos_pre
  FROM e, qq WHERE e.vec_id <> 0
)"""


def _prefix_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cos_full, cos_pre) for every non-query vector — the
    Spark twin of _prefix_scores_sql, shared by matryoshka_recall_audit
    and ndcg_eval_prefix_retrieval (a fix to one scoring path reaches
    both entries and both oracles)."""
    from clean_census_acs_data_spark.operators.similarity import _quant

    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: _quant(x)).alias("qf"),
        F.transform(F.slice("embedding", 1, _MRL_DIM), lambda x: _quant(x)).alias(
            "qp"
        ),
    )
    qq = e.where(F.col("vec_id") == 0).select(
        F.col("qf").alias("qvf"),
        F.col("qp").alias("qvp"),
        S._dot_q(F.col("qf"), F.col("qf")).alias("nf"),
        S._dot_q(F.col("qp"), F.col("qp")).alias("np"),
    )
    return (
        spread(e.where(F.col("vec_id") != 0))
        .crossJoin(F.broadcast(qq))
        .select(
            "vec_id",
            S.cosine(
                S._dot_q(F.col("qf"), F.col("qvf")),
                S._dot_q(F.col("qf"), F.col("qf")),
                F.col("nf"),
            ).alias("cos_full"),
            S.cosine(
                S._dot_q(F.col("qp"), F.col("qvp")),
                S._dot_q(F.col("qp"), F.col("qp")),
                F.col("np"),
            ).alias("cos_pre"),
        )
    )


def _mrl_oracle() -> str:
    return f"""
WITH {_prefix_scores_sql()},
tf AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos_full DESC, vec_id) AS r_full FROM sc),
tp AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos_pre DESC, vec_id) AS r_pre FROM sc)
SELECT CAST(10 AS BIGINT) AS k,
       CAST({_MRL_DIM} AS BIGINT) AS prefix_dim,
       CAST((SELECT COUNT(*) FROM tf JOIN tp USING (vec_id)
             WHERE r_full <= 10 AND r_pre <= 10) AS BIGINT) AS overlap_at_10,
       CAST((SELECT MAX(r_pre) FROM tf JOIN tp USING (vec_id)
             WHERE r_full <= 10) AS BIGINT) AS worst_pre_rank_of_true_top10
"""


@register("matryoshka_recall_audit", oracle=_mrl_oracle())
def matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation audit: how much of the TRUE cosine
    top-10 (full 64 dims) survives when retrieval uses only the first
    16 dims — overlap@10 plus the worst prefix-rank any true top-10
    member falls to. The measurement behind the MRL serving pattern
    (retrieve wide with cheap short prefixes, re-rank the short list
    with full vectors): worst_pre_rank tells you how wide the first
    stage must fetch to keep recall 1.0.

    Scale shape: one scan computes both scores; the two rank columns
    are window functions over the same driver-bounded score table; at
    corpus scale the prefix ranking is the IVF/LSH candidate stage and
    this audit runs on a sampled query set."""
    sc = _prefix_scores(spark, sf_dir)
    from pyspark.sql.window import Window

    ranked = sc.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos_full"), F.asc("vec_id")))
        .alias("r_full"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_pre"), F.asc("vec_id")))
        .alias("r_pre"),
    ).where(F.col("r_full") <= 10)
    return ranked.agg(
        F.lit(10).cast("long").alias("k"),
        F.lit(_MRL_DIM).cast("long").alias("prefix_dim"),
        F.sum(F.when(F.col("r_pre") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("overlap_at_10"),
        F.max("r_pre").cast("long").alias("worst_pre_rank_of_true_top10"),
    )


# ---------------------------------------------------------------------------
# NDCG@10 of prefix-16 retrieval against the full-vector ranking
# ---------------------------------------------------------------------------


def _ndcg_oracle() -> str:
    return f"""
WITH {_prefix_scores_sql()},
ranked AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY cos_full DESC, vec_id) AS r_full,
         ROW_NUMBER() OVER (ORDER BY cos_pre DESC, vec_id) AS r_pre
  FROM sc
),
dcg AS (
  SELECT CAST(SUM(CASE WHEN r_full <= 10 THEN
           (11 - r_full) * CAST(ROUND(1000000.0 / ({DET_LN('r_pre + 1', '1', div='//')} / 6.931471805599453E-1)) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS dcg_u,
         CAST(SUM(CASE WHEN r_full <= 10 THEN
           (11 - r_full) * CAST(ROUND(1000000.0 / ({DET_LN('r_full + 1', '1', div='//')} / 6.931471805599453E-1)) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS idcg_u
  FROM ranked
)
SELECT CAST(10 AS BIGINT) AS k, dcg_u, idcg_u,
       CAST(dcg_u AS DOUBLE) / CAST(idcg_u AS DOUBLE) AS ndcg
FROM dcg
"""


@register("ndcg_eval_prefix_retrieval", oracle=_ndcg_oracle())
def ndcg_eval_prefix_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the truncated-embedding (prefix-16) ranking against
    graded relevance from the full-vector ranking (rel = 11 − true
    rank): the position-sensitive companion to matryoshka_recall_audit
    — overlap@k says WHETHER the true top-10 survive truncation, NDCG
    says WHERE they land. Ideal DCG uses the same quantized discount
    table, so ndcg = 1.0 iff the prefix ordering preserves the top-10
    order exactly.

    Determinism: the 1/log2(1+r) discount is quantized to integer
    micro-units PER RANK (the ln-micro-nat discipline), gains and
    discounts multiply as int64, and ndcg is one final double
    division. Scale shape: identical to the recall audit — one scan,
    two window ranks, one aggregate (the scan/score pipeline IS
    _prefix_scores, shared with matryoshka_recall_audit).

    Scale bound: log2 discounts are per-rank doubles from det_ln(1+r, 1) with r ≤ the top-k depth; relevance gains are 0/1 — no integer products anywhere."""
    from pyspark.sql.window import Window

    sc = _prefix_scores(spark, sf_dir)
    ranked = sc.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos_full"), F.asc("vec_id")))
        .alias("r_full"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_pre"), F.asc("vec_id")))
        .alias("r_pre"),
    )
    # log2(1+r) = det_ln(1+r, 1) / ln2: the deterministic atanh-series
    # ln of an exact integer divided by the ln2 double literal — no
    # libm, association mirrored token-for-token in the oracle
    disc = lambda r: (  # noqa: E731 — micro-unit discount per rank
        F.round(
            F.lit(1000000.0)
            / (
                F.expr(DET_LN(f"{r} + 1", "1", div="DIV"))
                / F.lit(0.6931471805599453)
            )
        ).cast("long")
    )
    gain = F.lit(11) - F.col("r_full")
    agg = ranked.agg(
        F.sum(
            F.when(F.col("r_full") <= 10, gain * disc("r_pre")).otherwise(0)
        )
        .cast("long")
        .alias("dcg_u"),
        F.sum(
            F.when(F.col("r_full") <= 10, gain * disc("r_full")).otherwise(0)
        )
        .cast("long")
        .alias("idcg_u"),
    )
    return agg.select(
        F.lit(10).cast("long").alias("k"),
        "dcg_u",
        "idcg_u",
        (F.col("dcg_u").cast("double") / F.col("idcg_u").cast("double")).alias(
            "ndcg"
        ),
    )


# ---------------------------------------------------------------------------
# DoReMi-flavored domain reweighting (learnability-gap proxy)
# ---------------------------------------------------------------------------

_DOREMI_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, w, LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nw
  FROM (
    SELECT doc_id, source,
           unnest(string_split(text, ' ')) AS w,
           unnest(generate_series(1, length(string_split(text, ' ')))) AS pos
    FROM documents
  )
),
uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
utot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
us AS (SELECT w, CAST(ROUND({DET_LN('t', 'c', div='//')} * 1000000.0)
                 AS BIGINT) AS s_e6 FROM uni, utot),
bi AS (SELECT w, nw, COUNT(*) AS c FROM tok WHERE nw IS NOT NULL GROUP BY w, nw),
bs AS (
  SELECT bi.w, bi.nw,
         CAST(ROUND({DET_LN('uni.c', 'bi.c', div='//')} * 1000000.0)
              AS BIGINT) AS s_e6
  FROM bi JOIN uni ON bi.w = uni.w
),
per_src AS (
  SELECT tok.source,
         CAST(SUM(us.s_e6) AS BIGINT) AS uni_e6,
         CAST(SUM(bs.s_e6) AS BIGINT) AS bi_e6,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams
  FROM tok
  JOIN us ON tok.w = us.w
  JOIN bs ON tok.w = bs.w AND tok.nw = bs.nw
  WHERE tok.nw IS NOT NULL
  GROUP BY tok.source
),
gaps AS (
  SELECT source, n_bigrams, uni_e6 - bi_e6 AS gap_e6 FROM per_src
),
tot AS (SELECT CAST(SUM(gap_e6) AS BIGINT) AS tg FROM gaps)
SELECT gaps.source,
       gaps.n_bigrams,
       CAST(gaps.gap_e6 AS BIGINT) AS gap_e6,
       CAST(CASE WHEN (gaps.gap_e6 >= 0) = (tot.tg >= 0) THEN 1 ELSE -1 END
            * ((CAST(abs(gaps.gap_e6) AS HUGEINT) * 1000000)
               // CAST(abs(tot.tg) AS HUGEINT))
            AS BIGINT) AS weight_ppm
FROM gaps, tot
"""


@register("doremi_domain_weights", oracle=_DOREMI_ORACLE)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored domain reweighting with a statistical proxy:
    per source, the total learnability gap = unigram surprisal −
    bigram surprisal over its bigram positions (how much a 1-step
    context model improves on no context — structure a model can learn
    from that domain), normalized to parts-per-million mixture weights
    by integer division. Real DoReMi uses proxy-model excess loss; the
    gap proxy keeps the exact same downstream shape (per-domain score
    → normalized sampling weights) hash-checkable.

    r13 adjudication of the driver-observed 8.18 s r12 spike (VERDICT
    r12 #1): in-process interleaved kernel A/B of the r12 in-row
    bigram stage vs the old explode(sequence)+element_at form is a
    WASH (old 0.28–0.68 s vs new 0.29–0.66 s per noop rep at sf0.1;
    aggregate consumer also a wash), and entry-level cold tree A/Bs
    vs dd273ca follow the ORDER the trees ran in (+0.4 s when HEAD ran
    second, −1.6 s when HEAD ran first) — run-order drift, not code.
    The driver reading was a heat window; the in-row form stays for
    its narrower Generate payload at long-document scale.

    Determinism: ln quantized to micro-nats per TYPE (unigram) / per
    BIGRAM TYPE, integer sums, integer ppm division. Scale shape: both
    LMs are vocab-sized aggregates; the per-source reduce is one
    partial agg; weights are a |sources|-row broadcast at train time.

    Scale bound: per-source uni_e6/bi_e6 sums are ≤ n_bigrams · 44e6
    micro-nats (ln of any int64 count < 44 nats), so int64 holds to
    ~2·10¹¹ bigram positions per source; the ppm step gap_e6·10⁶ wraps
    int64 already at gap_e6 ≥ 9.2e12 (~10⁷ positions at a 1-nat gap) —
    it is computed in DECIMAL(38,0) on BOTH engines (the
    corpus_mix_sample discipline, ADVICE r6), good to gap_e6 < 10³²."""
    # bigrams are generated ARRAY-LOCALLY (in-row transform over the
    # index sequence, r12) instead of posexplode + lead() over a
    # per-doc window: the window forced a full shuffle+sort of every
    # token row on doc_id, which was the entry's dominant cost
    # (the lm_bigram_surprisal shape; same (w, nw) values row for row)
    # spread(): the single-file documents scan is 1 partition — without
    # it the whole explode fan-out runs on one core (round-5 gotcha)
    d = spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.split("text", " ").alias("t")
    )
    # r12: bigrams generated IN-ROW (transform → one explode of bare
    # 2-string structs) — the old explode(sequence)+element_at form
    # carried the WHOLE token array through every position row
    # (O(tokens²) bytes per doc) before the cache fill. The where
    # guard keeps sequence(1, size−1) ascending (size ≥ 2).
    bg = (
        d.where(F.size("t") > 1)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("w"),
                        F.element_at(F.col("t"), i + F.lit(1)).alias("nw"),
                    ),
                )
            ).alias("p"),
        )
        .select("source", "p.w", "p.nw")
        .transform(tracked_cache)
    )
    uni = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    utot = uni.agg(F.sum("c").cast("long").alias("t"))
    # −ln(c/t) = ln(t/c) and −ln(c/cw) = ln(cw/c): exact integer
    # ratios with p ≥ q ≥ 1 → deterministic atanh-series ln (no libm)
    us = uni.crossJoin(F.broadcast(utot)).select(
        "w",
        F.round(F.expr(DET_LN("t", "c", div="DIV")) * 1000000.0)
        .cast("long")
        .alias("s_e6"),
    )
    bi = bg.groupBy("w", "nw").agg(F.count(F.lit(1)).alias("c"))
    bs = bi.join(uni.withColumnRenamed("c", "cw"), "w").select(
        "w",
        "nw",
        F.round(F.expr(DET_LN("cw", "c", div="DIV")) * 1000000.0)
        .cast("long")
        .alias("s_e6"),
    )
    per_src = (
        bg.join(us.withColumnRenamed("s_e6", "u_e6"), "w")
        .join(bs.withColumnRenamed("s_e6", "b_e6"), ["w", "nw"])
        .groupBy("source")
        .agg(
            F.sum("u_e6").cast("long").alias("uni_e6"),
            F.sum("b_e6").cast("long").alias("bi_e6"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        )
    )
    gaps = per_src.select(
        "source", "n_bigrams", (F.col("uni_e6") - F.col("bi_e6")).alias("gap_e6")
    )
    tot = gaps.agg(F.sum("gap_e6").cast("long").alias("tg"))
    return gaps.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_bigrams",
        F.col("gap_e6").cast("long").alias("gap_e6"),
        # DECIMAL(38,0) ppm step: the BIGINT product gap_e6·1e6 wraps at
        # gap_e6 ≥ 2^63/1e6 ≈ 9.2e12 (see docstring scale bound).
        # Sign-definite form: gap_e6/tg may be negative and the dialects
        # disagree there (Spark DIV truncates toward zero, DuckDB's
        # DECIMAL // floors) — divide magnitudes, reapply the sign
        # (identical to the original BIGINT truncation semantics).
        F.expr(
            "CASE WHEN (gap_e6 >= 0) = (tg >= 0) THEN 1 ELSE -1 END"
            " * ((CAST(abs(gap_e6) AS DECIMAL(38,0)) * 1000000)"
            " div abs(tg))"
        )
        .cast("long")
        .alias("weight_ppm"),
    )


# ---------------------------------------------------------------------------
# boilerplate prefix groups (shared-opening detection)
# ---------------------------------------------------------------------------

_PREFIX_N = 2
_BOILER_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
         array_to_string(string_split(text, ' ')[1:{_PREFIX_N}], ' ') AS prefix
  FROM documents
  WHERE length(string_split(text, ' ')) >= {_PREFIX_N}
)
SELECT prefix,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM p GROUP BY prefix HAVING COUNT(*) > 1
"""


@register("boilerplate_prefix_groups", oracle=_BOILER_ORACLE)
def boilerplate_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-opening detection: documents grouped by their first
    {n}-token prefix, keeping groups with more than one member — the
    cheap screen for boilerplate headers/templates (license blocks,
    nav bars, form letters) that exact dedup misses because the tails
    differ. Production uses 10-50-token prefixes (and suffixes, same
    plan reversed); n={n} here so the fixture vocabulary produces
    groups.

    Scale shape: one narrow projection to (hashable prefix) + one
    partial-agg groupBy — strictly cheaper than any shingling pass, so
    it runs FIRST in a cleaning cascade.""".format(n=_PREFIX_N)
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return (
        d.where(F.size(toks) >= _PREFIX_N)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(toks, 1, _PREFIX_N)).alias("prefix"),
        )
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# grouped applyInArrow (Arrow-native grouped map, no pandas hop)
# ---------------------------------------------------------------------------

_ARROW_GROUPED_ORACLE = """
SELECT o_orderpriority AS prio,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
FROM orders
GROUP BY o_orderpriority
"""


@register("arrow_grouped_extrema", oracle=_ARROW_GROUPED_ORACLE)
def arrow_grouped_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInArrow: the Arrow-NATIVE grouped-map path (the
    group arrives as a pyarrow.Table, compute runs in pyarrow.compute,
    no pandas conversion hop) — closing the last cell of the Python-API
    matrix next to grouped-map applyInPandas (queries_round8b) and
    mapInArrow (multimodal_arrow_stats). Integer extrema only, so the
    result is hash-exact.

    Scale shape: same plan as any grouped map — one shuffle on the
    group key, then per-group Arrow batches; built-in min/max would
    beat it (partial agg), which is exactly what the oracle shows —
    this entry exists for custom per-group logic that aggregates can't
    express, with the trivial kernel keeping it verifiable."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # NOTE: no type annotations on the kernel — pyspark's
    # infer_group_arrow_eval_type_from_func raises on string-form
    # annotations and the fallback path has an UnboundLocalError bug
    def extrema(key, table):
        cents = pc.round(pc.multiply(table["o_totalprice"], 100.0))
        cents = pc.cast(cents, pa.int64())
        return pa.table(
            {
                "prio": [key[0]],
                "n_orders": pa.array([table.num_rows], pa.int64()),
                "min_cents": pa.array([pc.min(cents).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(cents).as_py()], pa.int64()),
            }
        )

    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    return o.groupBy("o_orderpriority").applyInArrow(
        extrema, schema="prio string, n_orders long, min_cents long, max_cents long"
    )


# ---------------------------------------------------------------------------
# partitioned write + partition-pruned read-back (our own layout)
# ---------------------------------------------------------------------------

_PART_PRUNE_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE source = 'src1'
GROUP BY lang
"""


@register("partitioned_write_prune_scan", oracle=_PART_PRUNE_ORACLE)
def partitioned_write_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout round-trip: documents written
    partitionBy(source), read back with a source predicate — the scan
    then LISTS only the matching partition directory (PartitionFilters
    in the plan, asserted by tests/test_plans_round9.py), so the other
    sources' files are never opened. This is the write-side half of
    partition pruning: scan_project_filter proves the engine prunes
    GIVEN a partitioned layout; this proves the engine PRODUCES that
    layout. Hash-checked against the unpartitioned original, so the
    round-trip is lossless including the partition column itself.

    At 100 TB: partitionBy on a low-cardinality column is the first
    layout decision of any corpus store (source/date); high-cardinality
    keys go to bucketing (tests/test_bucketing.py) or range layout
    (zorder/hilbert entries)."""
    import hashlib
    import tempfile

    # per-process path component — same race rationale as the XML
    # round-trip above (ADVICE r4 #5)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/sparkgraft_part_{tag}_{os.getpid()}"
    d = _t(spark, sf_dir, "documents")
    d.write.mode("overwrite").partitionBy("source").parquet(path)
    back = spark.read.parquet(path).where(F.col("source") == "src1")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


_CASCADE_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), "
    "' +', ' '))"
)
# The same normalization in DuckDB, whose regexp_replace replaces only
# the first match unless given the 'g' flag (Spark's replaces every
# match, and its 4th argument is a start position, not flags).
_CASCADE_NORM_DUCKDB = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), "
    "' +', ' ', 'g'))"
)


def _cascade_oracle() -> str:
    from clean_census_acs_data_spark.queries_ext import _MINHASH_ORACLE, _PLANTED_DOCS

    return f"""
WITH base AS ({_PLANTED_DOCS}),
s1 AS (SELECT MIN(doc_id) AS doc_id, text FROM base GROUP BY text),
s2 AS (SELECT MIN(doc_id) AS doc_id
       FROM s1 GROUP BY {_CASCADE_NORM_DUCKDB}),
pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE.strip()})
          WHERE jaccard >= 0.8),
s3 AS (
  SELECT s.doc_id FROM s2 s
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p JOIN s2 keeper ON keeper.doc_id = p.doc_a
    WHERE p.doc_b = s.doc_id AND p.doc_a < s.doc_id
  )
),
counts AS (
  SELECT (SELECT COUNT(*) FROM base) AS n0,
         (SELECT COUNT(*) FROM s1)   AS n1,
         (SELECT COUNT(*) FROM s2)   AS n2,
         (SELECT COUNT(*) FROM s3)   AS n3
)
SELECT CAST(1 AS BIGINT) AS stage, 'exact' AS method,
       CAST(n0 AS BIGINT) AS docs_in, CAST(n0 - n1 AS BIGINT) AS docs_removed,
       CAST(n1 AS BIGINT) AS docs_out FROM counts
UNION ALL
SELECT CAST(2 AS BIGINT), 'normalized', CAST(n1 AS BIGINT),
       CAST(n1 - n2 AS BIGINT), CAST(n2 AS BIGINT) FROM counts
UNION ALL
SELECT CAST(3 AS BIGINT), 'near_dup', CAST(n2 AS BIGINT),
       CAST(n2 - n3 AS BIGINT), CAST(n3 AS BIGINT) FROM counts
"""


@register("dedup_cascade_report", oracle=_cascade_oracle())
def dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production dedup shape as one report: the three-stage
    escalation ladder (byte-exact → normalized-exact → MinHash
    near-dup) run as a cascade — each stage sees only the previous
    stage's survivors — with per-stage marginal removal counts, the
    numbers a corpus-cleaning run is judged by (each stage must earn
    its cost on what the cheaper stages missed).

    Runs on the planted corpus (plant_near_dups); its token-dropped
    variants are invisible to stages 1-2 by design (removed 0 here —
    those stages' own removal behavior is pinned by dedup_exact /
    dedup_exact_normalized), so the report shows stage 3 earning its
    keep on exactly what exact matching cannot catch. Stage 3 uses the
    pairwise min-keep rule (drop a survivor iff
    a smaller-id surviving partner exists at Jaccard ≥ 0.8) — the
    single-pass greedy form; the transitive-component form is
    dedup_survivor_selection. Scale shape: stages 1-2 are partial-agg
    groupBys; stage 3 joins the dimension-sized session-cached pair
    table twice (semi + anti) — no stage rescans text the previous
    stage already collapsed."""
    from clean_census_acs_data_spark.operators.dedup import (
        plant_near_dups,
        standard_near_dup_pairs,
    )

    base = plant_near_dups(_t(spark, sf_dir, "documents"))
    # cached: each cascade stage feeds the NEXT stage plus its own
    # count — uncached, stage N's chain re-ran inside every later
    # stage's count (the n3 count re-ran the whole cascade)
    s1 = base.groupBy("text").agg(F.min("doc_id").alias("doc_id")).transform(tracked_cache)
    s2 = s1.groupBy(F.expr(_CASCADE_NORM).alias("__norm")).agg(
        F.min("doc_id").alias("doc_id")
    ).transform(tracked_cache)
    s1.count(), s2.count()  # eager: sibling subtrees race lazy fills
    pairs = standard_near_dup_pairs(spark, sf_dir, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    surviving_pairs = pairs.join(
        s2.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_semi"
    )
    s3 = s2.join(
        surviving_pairs.select(F.col("doc_b").alias("doc_id")),
        "doc_id",
        "left_anti",
    )
    n0 = base.agg(F.count(F.lit(1)).alias("n0"))
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n3"))
    counts = (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
    )
    stage = lambda i, m, a, b: counts.select(  # noqa: E731
        F.lit(i).cast("long").alias("stage"),
        F.lit(m).alias("method"),
        F.col(a).cast("long").alias("docs_in"),
        (F.col(a) - F.col(b)).cast("long").alias("docs_removed"),
        F.col(b).cast("long").alias("docs_out"),
    )
    return (
        stage(1, "exact", "n0", "n1")
        .unionAll(stage(2, "normalized", "n1", "n2"))
        .unionAll(stage(3, "near_dup", "n2", "n3"))
    )


@register("curriculum_phase_assign", oracle=_CURRICULUM_ORACLE)
def curriculum_phase_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: documents ordered by a
    difficulty proxy (length, doc_id tiebreak) and cut into 3 equal
    phases with NTILE — short/easy documents first. Output is the
    per-phase profile a dataloader manifest records.

    Scale note: a single global NTILE is a total sort; at 100 TB the
    same cut comes from range_partition_boundaries (exact rank cuts on
    an aggregated histogram) — this entry pins the semantics, that one
    the scalable plan."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    w = Window.orderBy(F.asc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "n_chars", F.ntile(3).over(w).alias("phase"))
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.col("phase").cast("long").alias("phase"),
            "n_docs",
            "min_chars",
            "max_chars",
            "total_chars",
        )
    )

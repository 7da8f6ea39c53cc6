"""Round-5 tier B: co-occurrence statistics, composed ANN, data
skipping, containment verification, and a third hash-checked
streaming entry.

- ``token_cooccurrence_pmi`` — pointwise mutual information of token
  pairs co-occurring within a ±2 window: the association statistic
  behind collocation extraction and embedding-training preprocessing
  (word2vec's skip-gram windows). ln quantized to integer micro-nats
  per PAIR TYPE (the surprisal/BM25 discipline).
- ``ann_jl_lsh_topk``      — the composed ANN scale path: JL sign
  projection 64→16 (random_projection_embed's matrix) THEN 8-plane
  LSH bucketing THEN candidate-only cosine on the projected vectors.
  Demonstrates the full funnel: 4× lighter vectors, 2^8 bucket
  pruning, exact scoring only inside the probe bucket.
- ``zone_map_pruning_stats`` — per-shard min/max zone maps + which
  shards a predicate would actually scan: the data-skipping manifest
  that file formats (parquet row groups, open-table-format file
  stats) use to prune 100-TB scans down to touched files.
- ``doc_shingle_containment`` — asymmetric containment |A∩B|/|A| for
  LSH candidate pairs: detects QUOTATION (small doc contained in big
  doc), which symmetric Jaccard under-scores; the verification
  refinement after minhash blocking.
- ``streaming_topk_complete`` — complete-mode top-5 event types
  through the streaming state store; batch-equal under full replay,
  so it hash-checks (third such entry after streaming_cms_merge and
  streaming_log2_histogram).

Determinism discipline per the package standard (queries.py module
docstring).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clean_census_acs_data_spark.functions.detmath import det_ln_ratio as DET_LN
from clean_census_acs_data_spark.io import load_table, spread
from clean_census_acs_data_spark.operators import dedup as D
from clean_census_acs_data_spark.queries import register
from clean_census_acs_data_spark.queries_ext import H15, _quant_list
from clean_census_acs_data_spark.queries_round5 import _RP_SIGNS, _RP_SIGN_SQL


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# windowed token co-occurrence PMI
# ---------------------------------------------------------------------------

_PMI_MIN_PAIR = 5

_PMI_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT t, i, o FROM
    (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM tok),
    (VALUES (1), (2)) o(o)
  WHERE i + o <= len(t)
),
pr AS (
  SELECT least(t[i], t[i + o]) AS tok_a, greatest(t[i], t[i + o]) AS tok_b
  FROM pos
),
cab AS (SELECT tok_a, tok_b, COUNT(*) AS c_ab FROM pr GROUP BY tok_a, tok_b),
uni AS (
  SELECT w, COUNT(*) AS c FROM
    (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w
),
tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS t_tok,
         (SELECT COUNT(*) FROM pr) AS t_pair
)
SELECT cab.tok_a, cab.tok_b, CAST(cab.c_ab AS BIGINT) AS c_ab,
       CAST(ROUND((
         {DET_LN('tot.t_tok', 'ua.c', div='//')}
         + {DET_LN('tot.t_tok', 'ub.c', div='//')}
         - {DET_LN('tot.t_pair', 'cab.c_ab', div='//')}
       ) * 1000000.0) AS BIGINT) AS pmi_e6
FROM cab
JOIN uni ua ON cab.tok_a = ua.w
JOIN uni ub ON cab.tok_b = ub.w
CROSS JOIN tot
WHERE cab.c_ab >= {_PMI_MIN_PAIR}
"""


@register("token_cooccurrence_pmi", oracle=_PMI_ORACLE)
def token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI of unordered token pairs within a ±2 token window:
    ln(P(a,b) / (P(a)P(b))), pairs kept at support ≥ 5. The
    collocation/association score feeding phrase mining and skip-gram
    negative-sampling tables.

    Shape: pair generation is two Generates over the token array
    (join-free — the window is array-local, never a self-join on
    positions); pair counts partial-agg on the (a,b) key; the unigram
    vocabulary broadcasts back twice (the lm_unigram_surprisal
    rationale: joining on raw tokens would hot-key stopwords at
    100 TB). ln is evaluated once per surviving PAIR TYPE
    (vocabulary²-bounded, support-pruned — not per occurrence) via the
    deterministic atanh-series ln (functions/detmath, no libm), then
    rounded to micro-nats — the quantized double is bit-identical on
    both engines, so no rounding boundary can flip the hash.

    Scale bound: each det_ln term is ≤ ln(2⁶³) ≈ 43.7 nats, so
    |pmi_e6| ≤ 1.4·10⁸ — ten decimal orders inside int64; det_ln's
    internal q·2^m product stays exact while pair/unigram counts fit
    int64 (functions/detmath)."""
    d = spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("t")
    )

    # r12 (guide §2.3 "project before the exchange" / §1.2 per-task
    # work): pairs are generated IN-ROW (one transform per offset,
    # concatenated, then ONE explode of bare 2-string structs). The
    # old explode(sequence)+element_at form carried the WHOLE token
    # array through every generated row — O(tokens²) bytes
    # materialized per document, twice (once per offset branch) —
    # and scanned the corpus twice via the union. Measured (warm
    # noop reps at sf0.1): pair leg 0.48–2.1 → 0.23–0.56 s, cab
    # aggregate 0.86–2.1 → 0.63–0.98 s, output bit-identical
    # (exceptAll ∅ both ways). The empty-sequence guard mirrors
    # operators/text.shingles: sequence(1, 0) is a DESCENDING [1, 0],
    # so short docs must map to an empty index array, not phantom
    # pairs.
    def _pairs_for(o: int):
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

    pr = (
        d.where(F.size("t") > 1)
        .select(F.explode(F.concat(_pairs_for(1), _pairs_for(2))).alias("p"))
        .select("p.tok_a", "p.tok_b")
    )
    # NOT cached: cab feeds the PMI join chain and supplies t_pair, uni
    # feeds t_tok plus both broadcast sides — but Spark's exchange reuse
    # shares each agg's shuffle across its consumers, so the r8 caches
    # only added eager fill barriers and writes: a net COLD loss
    # (fresh process per rep, 2×2 interleaved at sf0.1: cache 4.90/4.93 s
    # vs nocache 4.08/4.31 s, 0.85×). Both aggregates stay
    # vocabulary-sized, never corpus-sized.
    cab = pr.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = (
        uni.agg(F.sum("c").cast("long").alias("t_tok"))
        .crossJoin(cab.agg(F.sum("c_ab").cast("long").alias("t_pair")))
    )
    ua = uni.select(F.col("w").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        cab.where(F.col("c_ab") >= _PMI_MIN_PAIR)
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            # PMI decomposed into sign-definite exact-integer ratios:
            # ln((c_ab/t_pair)/((c_a/t_tok)(c_b/t_tok))) =
            # ln(t_tok/c_a) + ln(t_tok/c_b) − ln(t_pair/c_ab), each a
            # deterministic atanh-series ln with p ≥ q ≥ 1 (counts are
            # bounded by their totals) — no libm, and no BIGINT
            # overflow risk from cross-multiplying the three ratios
            F.round(
                (
                    F.expr(DET_LN("t_tok", "c_a", div="DIV"))
                    + F.expr(DET_LN("t_tok", "c_b", div="DIV"))
                    - F.expr(DET_LN("t_pair", "c_ab", div="DIV"))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("pmi_e6"),
        )
    )


# ---------------------------------------------------------------------------
# composed ANN: JL projection → LSH bucket → candidate-only cosine
# ---------------------------------------------------------------------------

_JL_PLANES = 8
_JL_DIM = 16


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


_JL_PLANE_SIGNS = [
    [1 if _md5_60(f"jlp{p}|{j}") % 2 == 0 else -1 for j in range(1, _JL_DIM + 1)]
    for p in range(_JL_PLANES)
]


def _jl_plane_sign_sql(p: int) -> str:
    parity = H15.format(x=f"concat('jlp{p}|', CAST(j AS VARCHAR))") + " % 2"
    return f"(CASE WHEN {parity} = 0 THEN 1 ELSE -1 END)"


def _jl_bucket_sql(pv: str) -> str:
    terms = []
    for p in range(_JL_PLANES):
        dot = (
            f"list_sum(list_transform(range(1, {_JL_DIM + 1}), "
            f"j -> {pv}[j] * {_jl_plane_sign_sql(p)}))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


_JL_DOT = (
    "CAST(list_sum(list_transform(range(1, {n}), j -> {a}[j] * {b}[j])) AS BIGINT)"
)

_ANN_JL_ORACLE = f"""
WITH e AS (SELECT vec_id, {_quant_list("embedding")} AS q FROM embeddings),
pj AS (
  SELECT vec_id,
         list_transform(range(0, {_JL_DIM}), k ->
           list_sum(list_transform(range(1, 65), j -> q[j] * {_RP_SIGN_SQL}))
         ) AS pv
  FROM e
),
b AS (SELECT vec_id, pv, CAST({_jl_bucket_sql("pv")} AS BIGINT) AS bucket FROM pj),
qq AS (
  SELECT pv AS qv, bucket AS qbucket,
         {_JL_DOT.format(n=_JL_DIM + 1, a="pv", b="pv")} AS qn2
  FROM b WHERE vec_id = 0
),
sc AS (
  SELECT vec_id, bucket,
         CAST({_JL_DOT.format(n=_JL_DIM + 1, a="pv", b="qv")} AS DOUBLE) /
         (sqrt(CAST({_JL_DOT.format(n=_JL_DIM + 1, a="pv", b="pv")} AS DOUBLE))
          * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
  FROM b, qq WHERE vec_id <> 0 AND bucket = qbucket
)
SELECT vec_id, cosine, bucket FROM sc ORDER BY cosine DESC, vec_id LIMIT 5
"""


@register("ann_jl_lsh_topk", oracle=_ANN_JL_ORACLE)
def ann_jl_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ANN funnel a 100-TB vector store actually runs:
    (1) JL sign projection 64→16 dims (4× lighter vectors in every
    downstream shuffle — random_projection_embed's literal sign
    matrix), (2) 8-hyperplane LSH bucketing ON THE PROJECTED vectors
    (2^8 candidate pruning), (3) exact int64 cosine only inside the
    query's bucket, top-5 via TakeOrderedAndProject.

    Compared to similarity_lsh_topk (LSH on raw 64-dim), the probe
    arithmetic here is 4× narrower, which is the whole point of
    fronting ANN with JL: distance fidelity within ε at a quarter of
    the bytes. All stages JVM higher-order folds over literal
    matrices; the only wide op is the 1-row broadcast of the query."""
    from clean_census_acs_data_spark.operators.similarity import QUANT

    emb = spread(_t(spark, sf_dir, "embeddings"))
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * QUANT).cast("long")
    )
    e = emb.select("vec_id", qv.alias("q"))
    pv = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("q"),
                    F.array(*[F.lit(s) for s in _RP_SIGNS[k]]),
                    lambda x, s: x * s,
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            for k in range(_JL_DIM)
        ]
    )
    pj = e.select("vec_id", pv.alias("pv"))
    bucket = None
    for p in range(_JL_PLANES):
        dot = F.aggregate(
            F.zip_with(
                F.col("pv"),
                F.array(*[F.lit(s) for s in _JL_PLANE_SIGNS[p]]),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    b = pj.select("vec_id", "pv", bucket.cast("long").alias("bucket"))
    dot_pp = F.aggregate(
        F.zip_with(F.col("pv"), F.col("pv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qq = (
        b.where(F.col("vec_id") == 0)
        .select(
            F.col("pv").alias("qv"),
            F.col("bucket").alias("qbucket"),
            dot_pp.alias("qn2"),
        )
    )
    cand = b.where(F.col("vec_id") != 0).join(
        F.broadcast(qq), F.col("bucket") == F.col("qbucket")
    )
    dot_pq = F.aggregate(
        F.zip_with(F.col("pv"), F.col("qv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sc = cand.select(
        "vec_id",
        "bucket",
        (
            dot_pq.cast("double")
            / (F.sqrt(dot_pp.cast("double")) * F.sqrt(F.col("qn2").cast("double")))
        ).alias("cosine"),
    )
    return sc.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(5).select(
        "vec_id", "cosine", "bucket"
    )


# ---------------------------------------------------------------------------
# zone-map (min/max) pruning statistics
# ---------------------------------------------------------------------------

_ZM_SHARD = 1000
_ZM_THRESH_CENTS = 40_000_00  # predicate: o_totalprice > $40,000

_ZONEMAP_ORACLE = f"""
WITH s AS (
  SELECT o_orderkey // {_ZM_SHARD} AS shard,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT shard,
       COUNT(*) AS n_rows,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents,
       MAX(cents) >= {_ZM_THRESH_CENTS} AS would_scan,
       CAST(SUM(CASE WHEN cents >= {_ZM_THRESH_CENTS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_match
FROM s GROUP BY shard
"""


@register("zone_map_pruning_stats", oracle=_ZONEMAP_ORACLE)
def zone_map_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map manifest + pruning audit: orders shard by key range
    (o_orderkey div 1000 — standing in for a parquet row group / table-
    format file), each shard reports (n_rows, min, max), whether the
    predicate ``price ≥ $40k`` could touch it (max ≥ threshold — the
    exact skip test engines run against footer stats), and how many
    rows actually match (the false-positive audit: would_scan=true,
    n_match=0 shards are wasted I/O that tighter clustering — e.g.
    zorder_morton's layout — would eliminate).

    This is the data-skipping story at 100 TB made explicit: scans
    read manifests (KB) to prune files (TB). One partial-agg shuffle
    keyed by shard; the manifest output is shard-count-sized."""
    s = _t(spark, sf_dir, "orders").select(
        F.expr(f"o_orderkey div {_ZM_SHARD}").alias("shard"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return s.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
        (F.max("cents") >= _ZM_THRESH_CENTS).alias("would_scan"),
        F.sum(F.when(F.col("cents") >= _ZM_THRESH_CENTS, 1).otherwise(0))
        .cast("long")
        .alias("n_match"),
    )


# ---------------------------------------------------------------------------
# shingle containment for LSH candidate pairs (quotation detection)
# ---------------------------------------------------------------------------

_CONTAIN_SHINGLE_SQL = (
    "list_distinct(list_transform(range(1, greatest(len({t}) - 1, 1)), "
    "i -> concat({t}[i], ' ', {t}[i+1], ' ', {t}[i+2])))"
)

# planted corpus + minhash candidate pairs, as in queries_ext
from clean_census_acs_data_spark.queries_ext import _MINHASH_ORACLE, _PLANTED_DOCS  # noqa: E402

_CONTAINMENT_ORACLE = f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE.strip()})),
base AS ({_PLANTED_DOCS}),
sh AS (
  SELECT doc_id, {_CONTAIN_SHINGLE_SQL.format(t="t")} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM base)
  WHERE len(t) >= 3
),
j AS (
  SELECT p.doc_a, p.doc_b,
         len(list_intersect(sa.s, sb.s)) AS inter_size,
         len(sa.s) AS na, len(sb.s) AS nb
  FROM pairs p
  JOIN sh sa ON p.doc_a = sa.doc_id
  JOIN sh sb ON p.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, CAST(inter_size AS BIGINT) AS inter_size,
       CAST(inter_size AS DOUBLE) / CAST(na AS DOUBLE) AS containment_a,
       CAST(inter_size AS DOUBLE) / CAST(nb AS DOUBLE) AS containment_b
FROM j
"""


@register("doc_shingle_containment", oracle=_CONTAINMENT_ORACLE)
def doc_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B|/|A| (and /|B|) for MinHash
    candidate pairs: symmetric Jaccard under-scores a short document
    quoted inside a long one (|∩|/|∪| is diluted by the long side);
    containment is the score partial-duplication filters actually
    threshold (quotes, boilerplate inclusion, versioned drafts).

    Shape: the candidate pair list is LSH-bounded (collision-sized,
    orders smaller than the corpus); it broadcasts onto the shingle
    table twice, and the exact set intersection runs only on candidate
    pairs — never all pairs. The shingle arrays stay JVM-side
    (array_intersect/size), no UDFs."""
    pairs = D.standard_near_dup_pairs(spark, sf_dir, threshold=0.5)
    # the shingle stage comes from the session-shared memo (round 9):
    # this entry's private plan-identical cache only looked cheap while
    # CacheManager substituted an earlier entry's live copy — per-entry
    # cache reaping exposed the recompute. (tokens >= 3 ⟺ at least one
    # 3-shingle, so the memo's size(sh) > 0 filter is the same set.)
    sh = D.standard_shingle_table(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), F.col("sh").alias("s")
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    j = (
        F.broadcast(pairs)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("inter_size"),
            F.size("sa").alias("na"),
            F.size("sb").alias("nb"),
        )
    )
    return j.select(
        "doc_a",
        "doc_b",
        F.col("inter_size").cast("long").alias("inter_size"),
        (F.col("inter_size").cast("double") / F.col("na").cast("double")).alias(
            "containment_a"
        ),
        (F.col("inter_size").cast("double") / F.col("nb").cast("double")).alias(
            "containment_b"
        ),
    )


# ---------------------------------------------------------------------------
# streaming complete-mode top-k (third hash-checked streaming entry)
# ---------------------------------------------------------------------------

_STREAM_TOPK_ORACLE = """
SELECT event_type, COUNT(*) AS n
FROM events GROUP BY event_type
ORDER BY n DESC, event_type LIMIT 5
"""


@register("streaming_topk_complete", oracle=_STREAM_TOPK_ORACLE)
def streaming_topk_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 event types BY COUNT maintained by the streaming engine:
    complete-mode stateful count + ORDER BY + LIMIT (sort-limit is
    legal in complete mode precisely because the engine re-emits the
    whole result each micro-batch). Under full replay the final table
    is batch-equal, so it hash-checks — the leaderboard a cluster
    maintains incrementally IS the batch leaderboard."""
    import uuid

    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(5)
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)

"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of each):

- exact_dedup: group on sha2(text) not raw text — shuffle keys are 32
  bytes instead of document bodies; partial aggregation dedups
  map-side first.
- minhash_lsh_pairs: the classic shingle→minhash→band→bucket-join
  pipeline. Candidate generation is a self-join on (band_id, band_key)
  buckets, so the shuffle is O(docs·bands), never O(docs²); only
  bucket-colliding pairs pay the exact-Jaccard verification.
- simhash: one 64/16-bit signature per doc; near-dup = banded equality
  on signature chunks (Hamming-ball probing), again avoiding O(n²).
- ngram_jaccard_pairs: exact verification kernel, used standalone only
  within small blocking groups.
- embedding near-dup: cosine over quantized-integer dot products within
  a blocking key (label); at scale the blocking key would be an LSH or
  IVF bucket (see operators/similarity.py).

Hash/arithmetic portability contract: see operators/text.py docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clean_census_acs_data_spark.operators.text import md5_long, shingles, tokens
from clean_census_acs_data_spark.session import shared_memo, tracked_cache


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per identical text. Deterministic (unlike
    dropDuplicates). Grouping key is the (sha2, text) PAIR, so full
    bodies DO ride the shuffle — the output needs ``text`` anyway, and
    map-side partial aggregation collapses volume to ~distinct docs
    before exchange; the 32-byte hash in front keeps comparator cost
    hash-first. To shuffle hashes only at 100 TB, group on sha2 alone
    and re-join the winning ids to the corpus for bodies (one extra
    scan, no wide rows in the exchange)."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("__h"), F.col(text_col))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__h")
    )


# Affine minhash family over M31: hash_i(x) = (a_i * x + b_i) mod M.
# One md5 per shingle (portable base hash), then k cheap integer
# remixes — 8× less hashing than k independent md5 passes, and every
# product a_i * (x < 2^31) stays far inside int64.
MINHASH_M = 2_147_483_647
MINHASH_A = (1000003, 1000033, 1000037, 1000039, 1000081, 1000099, 1000117, 1000121)
MINHASH_B = (3, 1009, 2003, 3001, 4001, 5003, 6007, 7001)


def minhash_signature_from_hashes(hv: Column, num_hashes: int = 8) -> list[Column]:
    """MinHash signature from a pre-computed array of 31-bit shingle
    hashes (``md5_long(s) % M``): per function i, min of the affine
    remix. Computing the base hashes once in a projection keeps the md5
    work to one pass."""
    def remix(i: int):
        # closure factory: a 2-arg lambda would make pyspark pass the
        # array index as the second argument
        return lambda x: (F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i])) % F.lit(MINHASH_M)

    return [
        F.array_min(F.transform(hv, remix(i))).alias(f"mh{i}") for i in range(num_hashes)
    ]


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH.

    1. signature: num_hashes min-hashes over word-shingle sets
    2. banding: rows/band = num_hashes/bands; band key = concat of the
       band's signature values → explode to (band_id, band_key)
    3. candidates: self-join on the bucket (shuffle on band_key — at
       100 TB the hot-bucket risk is handled by AQE skew-join; salting
       would go here if a degenerate key appeared)
    4. verify: exact Jaccard over distinct shingle sets; keep ≥ threshold

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # shingle table computed once and cached: reused by the two sides
    # of the candidate self-join and the two verification probes. At
    # 100 TB this is the materialized signature/shingle stage every
    # LSH dedup pipeline persists.
    sh_tbl = _shingle_frame(
        docs, id_col=id_col, text_col=text_col, shingle_n=shingle_n
    ).transform(tracked_cache)
    sig = _signature_frame(sh_tbl, num_hashes)
    return _lsh_pairs(sh_tbl, sig, num_hashes=num_hashes, bands=bands, threshold=threshold)


def _shingle_frame(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """(doc, sh): the distinct word-``shingle_n``-shingle set of every
    doc with at least one shingle. Uncached; callers cache it."""
    from clean_census_acs_data_spark.io import spread

    # parallelize the md5-shingling stage across all cores regardless
    # of source file layout (single-row-group local files scan as ≤2
    # splits)
    docs = spread(docs)
    toks = tokens(F.col(text_col))
    sh = F.array_distinct(shingles(toks, shingle_n))
    # r12 (guide §1.2 per-task work): filter BEFORE the projection on
    # the cheap equivalent predicate — `size(sh) > 0 ⟺ size(tokens) ≥
    # n` (n-shingles exist iff ≥n tokens; distinct keeps ≥1). A
    # post-projection `size(sh) > 0` filter was pushed below the
    # projection by the optimizer, so every row evaluated the WHOLE
    # shingle subtree twice (filter + project) — measured 1.9–2.6 s →
    # 0.47–0.59 s for the stage at sf0.1, rows identical (exceptAll ∅
    # both ways).
    return docs.where(F.size(tokens(F.col(text_col))) >= shingle_n).select(
        F.col(id_col).alias("doc"), sh.alias("sh")
    )


def _signature_frame(sh_tbl: DataFrame, num_hashes: int = 8) -> DataFrame:
    """(doc, mh0..mh{num_hashes-1}) over a shingle table. Uncached;
    callers cache it."""
    hv = F.transform(F.col("sh"), lambda s: md5_long(s) % F.lit(MINHASH_M))
    return sh_tbl.select("doc", hv.alias("hv")).select(
        "doc", *minhash_signature_from_hashes(F.col("hv"), num_hashes)
    )


def _lsh_pairs(
    sh_tbl: DataFrame, sig: DataFrame, *, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    """Band → candidate self-join → exact-Jaccard verify over a shingle
    table and its signatures (steps 2-4 of minhash_lsh_pairs)."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.concat_ws(
            "#", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        )
        for b in range(bands)
    ]
    # bands carry only (doc, band_id, band_key) — no arrays through the
    # shuffle
    banded = sig.select("doc", F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"))

    a = banded.alias("a")
    b = banded.alias("b")
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
    verified = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("long")
    union = F.size("sh_a").cast("long") + F.size("sh_b").cast("long") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        verified.select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "source",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Character-n-gram Jaccard similarity between documents sharing a
    blocking key. The block join bounds pair count; exact verification
    only inside blocks.

    Shape: heavy/light-split inverted-index co-count — never a pair
    join over gram arrays (that materializes both ~|text| gram arrays
    per candidate pair), and never a plain posting co-count (whose
    join output is Σ_gram p² — a gram present in nearly every block
    document costs ~n² rows by itself). Split each block's grams at
    p·2 > n:

    - LIGHT grams (posting ≤ n/2): classic postings co-count — +1 to
      |A∩B| per shared light gram.
    - HEAVY grams (posting > n/2): count by COMPLEMENT. For a heavy
      gram, [g∈A][g∈B] = 1 − [g∉A] − [g∉B] + [g∉A][g∉B], so summing
      over a block's H heavy grams:
      inter_heavy = H − hout(A) − hout(B) + |both-absent co-count|,
      where hout(X) = heavy grams absent from X. The absent postings
      have size n−p < n/2, so the co-count join is small.

    The both-absent rows and light-present rows are disjoint (a gram
    is heavy or light per block), so one unioned co-count covers both.
    Join output is Σ_gram min(p, n−p)² ≤ n²/4 per gram — measured
    5.5× fewer rows and ~1.7× faster end-to-end at sf0.1 than the
    plain co-count (111 s → 19 s vs the original array pair join).
    Every stage is an equi-join or partial aggregation in whole-stage
    codegen; parallelism is keyed by (block, gram). All block pairs
    are enumerated via a narrow per-doc-stats self-join, so
    ``threshold=0`` is supported."""
    # substring with a column start position needs the expr form. The
    # explicit length guard matters: Spark's sequence(1, 0) is a
    # DESCENDING [1, 0] (not empty like DuckDB's range(1, 1)), so a
    # text shorter than n would otherwise yield a phantom ''-gram and
    # survive the size filter — caught by the brute-force property
    # test, never by the ≥3-char parquet fixtures.
    # NOTE: deliberately NOT spread() here — repartitioning the raw
    # text before tokenize was measured SLOWER end-to-end (warm 5.6 →
    # 11.9 s at sf0.1): the full-text exchange plus 32-task stages on
    # every downstream cache/join costs more than the single-task
    # tokenize fill saves, because the explode's output (postings) is
    # what fans out, and the posting aggregations already shuffle.
    d = (
        docs.where(F.length(text_col) >= n)
        .select(
            F.col(id_col).alias("doc"),
            F.col(block_col).alias("blk"),
            F.expr(
                f"array_distinct(transform(sequence(1, length({text_col}) - {n - 1}),"
                f" i -> substring({text_col}, i, {n})))"
            ).alias("grams"),
        )
    )
    # Gram strings never leave the tokenize stage: every downstream
    # shuffle/join keys on the 8-byte xxhash64 of the gram instead of
    # the string (the alphabet of distinct n-grams is tiny relative to
    # 2^64, so a collision — which would merge two grams' postings — is
    # ~1e-10 even at 100 TB; sizes and counts are unaffected either
    # way). Doc gram counts (ng) come from the same exploded postings,
    # not a second tokenize scan of the text column.
    # The exploded hashed postings feed FIVE downstream subtrees (the
    # posting-frequency agg, both semi filters, the heavy complement
    # anti join, and the heavy-present counts): uncached, each subtree
    # re-runs the tokenize + array_distinct + xxhash explode of every
    # document — the dominant cost of the whole query (measured ~12.5 s
    # → ~5 s at sf0.1). Postings are three small ints per row, far
    # smaller than the text they derive from; at 100 TB this is the
    # persisted posting table, same story as minhash_lsh_pairs' shingle
    # cache.
    g = d.select(
        "doc",
        "blk",
        F.explode(F.expr("transform(grams, x -> xxhash64(x))")).alias("gram"),
    ).transform(tracked_cache)
    # per-doc gram counts FROM the cached postings (one row per distinct
    # gram per doc, so count ≡ size(grams)): the previous
    # d.select(size(grams)) subtree re-ran the whole tokenize +
    # array_distinct scan a second time — measured 2.0 s of the entry's
    # 8.5 s at sf0.1; this agg over the cache is ~0.3 s
    docs_blk = g.groupBy("doc", "blk").agg(
        F.count(F.lit(1)).cast("int").alias("ng")
    ).transform(tracked_cache)

    post = g.groupBy("blk", "gram").agg(F.count(F.lit(1)).alias("p"))
    nblk = docs_blk.groupBy("blk").agg(F.count(F.lit(1)).alias("n"))
    post = post.join(nblk, "blk")
    heavy_post = post.where(F.col("p") * 2 > F.col("n")).select("blk", "gram")
    light_post = post.where(F.col("p") * 2 <= F.col("n")).select("blk", "gram")
    h_blk = heavy_post.groupBy("blk").agg(F.count(F.lit(1)).alias("H"))

    gl = g.join(light_post, ["blk", "gram"], "left_semi")
    gh = g.join(heavy_post, ["blk", "gram"], "left_semi")
    # heavy complements: (blk, gram, doc) for docs MISSING the heavy gram
    cross = docs_blk.select("blk", "doc").join(heavy_post, "blk")
    comp = cross.join(gh, ["blk", "gram", "doc"], "left_anti")
    tokens = gl.select("blk", "gram", "doc").unionByName(
        comp.select("blk", "gram", "doc")
    )
    ta, tb = tokens.alias("a"), tokens.alias("b")
    extra = (
        ta.join(
            tb,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("xcnt"))
    )

    h_present = gh.groupBy("doc", "blk").agg(F.count(F.lit(1)).alias("hp"))
    docstats = (
        docs_blk.join(h_blk, "blk", "left")
        .join(h_present, ["doc", "blk"], "left")
        .select(
            "doc",
            "blk",
            "ng",
            (
                F.coalesce(F.col("H"), F.lit(0)) - F.coalesce(F.col("hp"), F.lit(0))
            ).alias("hout"),
            F.coalesce(F.col("H"), F.lit(0)).alias("H"),
        )
    )
    pa, pb = docstats.alias("a"), docstats.alias("b")
    # Length-ratio prune (lossless for threshold > 0): jaccard <=
    # min(na,nb)/max(na,nb), so pairs failing that bound can't pass the
    # final filter — drop them inside the pair join, before the
    # co-count left join ever sees them.
    pair_cond = (F.col("a.blk") == F.col("b.blk")) & (
        F.col("a.doc") < F.col("b.doc")
    )
    if threshold > 0:
        ratio_ok = (
            F.least(F.col("a.ng"), F.col("b.ng")).cast("double")
            >= F.greatest(F.col("a.ng"), F.col("b.ng")).cast("double")
            * F.lit(threshold)
        )
        pair_cond = pair_cond & ratio_ok
    pairs = (
        pa.join(pb, pair_cond)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.ng").alias("na"),
            F.col("b.ng").alias("nb"),
            (F.col("a.H") - F.col("a.hout") - F.col("b.hout")).alias("base"),
        )
    )
    full = pairs.join(extra, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "na",
        "nb",
        (F.col("base") + F.coalesce(F.col("xcnt"), F.lit(0))).cast("long").alias(
            "inter"
        ),
    )
    union = F.col("na").cast("long") + F.col("nb").cast("long") - F.col("inter")
    jac = F.col("inter").cast("double") / union.cast("double")
    return (
        full.select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def plant_near_dups(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    every: int = 10,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """Deterministic near-duplicate injection for testing dedup recall:
    every ``every``-th doc re-appears with the first token dropped and a
    shifted id. Mirrored exactly in the DuckDB oracles."""
    toks = tokens(F.col(text_col))
    mutated = (
        docs.where(F.col(id_col) % every == 0)
        .select(
            (F.col(id_col) + id_offset).alias(id_col),
            F.concat_ws(" ", F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))).alias(
                text_col
            ),
        )
    )
    return docs.select(id_col, text_col).unionByName(mutated)


# ---------------------------------------------------------------------------
# session-cached canonical derivations
# ---------------------------------------------------------------------------

@shared_memo
def standard_shingle_table(spark, sf_dir: str) -> DataFrame:
    """The repo-standard materialized shingle stage: (doc, sh) distinct
    word-3-shingle sets over the planted corpus, cached ONCE per
    (session, sf_dir) and shared by the pair kernel and every LSH audit
    entry (estimate audit, parameter sweep, pair provenance). Before
    round 9 each of those entries cached a plan-identical private copy;
    they only looked cheap because Spark's CacheManager silently
    substituted an earlier entry's still-live cache — the bench's
    per-entry cache reaping (ADVICE r8) exposed the recompute. One
    session-shared table is also the production shape: the shingle
    stage of a dedup pipeline is persisted once and every audit reads
    it, nobody re-shingles 100 TB per report."""
    from clean_census_acs_data_spark.io import load_table

    docs = plant_near_dups(load_table(spark, sf_dir, "documents"))
    return _shingle_frame(docs).cache()


@shared_memo
def standard_minhash_signatures(spark, sf_dir: str) -> DataFrame:
    """The 8-minhash signature table (doc, mh0..mh7) derived from the
    shared shingle stage, cached ONCE per (session, sf_dir): the md5
    pass over every shingle dominates signature cost, and the audit
    entries (parameter sweep, estimate audit, provenance) each need the
    signatures again after the pair table is already built. Tiny rows
    (one id + 8 longs), so the cache is a fraction of the shingle
    table's."""
    return _signature_frame(standard_shingle_table(spark, sf_dir)).cache()


def standard_near_dup_pairs(
    spark, sf_dir: str, *, threshold: float = 0.5
) -> DataFrame:
    """The repo-standard near-dup pair table (plant_near_dups →
    minhash_lsh_pairs at num_hashes=8 / bands=4 / shingle_n=3),
    computed ONCE per (session, sf_dir) at threshold 0.0 — the verified
    superset: every banded collision with its exact Jaccard — then
    cached and filtered per caller. A dozen registered queries
    (components, survivor selection, cluster triage, PageRank, GNN
    round, triangles, clustering coefficients, calibration histogram,
    leakage-safe split, shingle containment) consume this exact
    derivation; in one session they now share one computation instead
    of re-shingling the corpus each. That is also the production
    shape: the pair table is persisted state maintained incrementally
    (dedup_incremental_reference is its append path), not something
    every consumer re-derives from raw text. Filtering the cached
    superset is row-identical to computing at the caller's threshold
    directly (the threshold is the final WHERE of minhash_lsh_pairs)."""
    pairs = _near_dup_superset(spark, sf_dir)
    if threshold > 0.0:
        return pairs.where(F.col("jaccard") >= threshold)
    return pairs


@shared_memo
def _near_dup_superset(spark, sf_dir: str) -> DataFrame:
    """standard_near_dup_pairs at threshold 0.0, cached lazily."""
    # the superset is dimension-sized (collisions, not corpus), but
    # uncoalesced it inherits ~2x shuffle partitions from the band
    # union — every consumer then pays 64 scan tasks per cached
    # read. One tiny extra shuffle down to 8 partitions here makes
    # all ~12 downstream iterative/join consumers cheap; at 100 TB
    # this is the compaction step before persisting the pair table.
    # r12: the shared signature cache feeds BOTH band-join sides —
    # a kernel-local signature pass would run the md5+remix pass
    # over every shingle once per side (the kernel's dominant
    # projection, duplicated in the plan). The sig fill is paid
    # once per session and reused by the audit entries (parameter
    # sweep, estimate audit, provenance) that already consume it.
    return (
        _lsh_pairs(
            standard_shingle_table(spark, sf_dir),
            standard_minhash_signatures(spark, sf_dir),
            num_hashes=8,
            bands=4,
            threshold=0.0,
        )
        .repartition(8)
        .cache()
    )


@shared_memo
def standard_undirected_edges(
    spark, sf_dir: str, *, threshold: float = 0.5
) -> DataFrame:
    """The symmetrized (a, b) edge list of the standard near-dup pair
    graph, cached + MATERIALIZED once per (session, sf_dir, threshold).
    Several graph consumers (PageRank, k-core, GNN round, triangles)
    each built `pairs ∪ reversed(pairs)` and cached their own copy —
    every call re-filtered the memoized pair table and re-filled a
    private cache (~2 s per entry at sf0.1 in pure job overhead).
    One shared 2-partition cached table removes that per-consumer
    fill; at 100 TB this is the same persisted artifact as the pair
    table itself (a dedup pass writes the edge list once; iterative
    consumers read it, they don't re-derive it)."""
    pairs = standard_near_dup_pairs(
        spark, sf_dir, threshold=threshold
    ).select("doc_a", "doc_b")
    return (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionAll(
            pairs.select(
                F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
            )
        )
        .repartition(2)  # node-bounded; tiny tasks downstream
        # eager localCheckpoint, not cache(): it TRUNCATES the
        # logical lineage to a LogicalRDD leaf. Iterative consumers
        # reference the edge list 2-3× per round, so with the full
        # MinHash lineage attached, round-i plans embed that
        # lineage 2^i times and Catalyst ANALYSIS (driver-side)
        # dominates wall clock (measured on k-core: ~7.5 s warm
        # with cache vs ~2 s checkpointed). Same blocks on the
        # executors either way; GraphX-style iterative hygiene.
        .localCheckpoint(eager=True)
    )


@shared_memo
def standard_components(spark, sf_dir: str) -> DataFrame:
    """Connected-component labels over the standard ≥0.5 pair graph,
    cached per (session, sf_dir): components → survivor selection →
    cluster triage → leakage-safe split all start from these labels.
    On the test scales the pair graph is far below
    connected_components' driver bound, so the labels come from one
    collect and a numpy pass on the driver; past the bound they come
    from the distributed min-label rounds, then the most expensive
    shared sub-derivation in the dedup family. Cached labels are
    exactly the persisted cluster-assignment table a production dedup
    maintains (incremental_components_maintenance is its delta path)."""
    from clean_census_acs_data_spark.operators.components import (
        connected_components,
    )

    return connected_components(
        standard_near_dup_pairs(spark, sf_dir, threshold=0.5)
    ).cache()

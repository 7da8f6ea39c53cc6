"""Corpus-hygiene operators for training-data pipelines: intra-document
repetition metrics (the Gopher-style quality gate), train/eval n-gram
decontamination, and int8 embedding quantization.

All JVM-side DataFrame ops — no Python UDFs. Each function documents why
its plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clean_census_acs_data_spark.operators.text import shingles, tokens


def _word_grams(text: Column, n: int) -> Column:
    return shingles(tokens(text), n=n)


def repetition_metrics(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    top_frac_limit: float = 0.20,
    dup_frac_limit: float = 0.60,
) -> DataFrame:
    """Per-document word-n-gram repetition profile — the "repetitive
    document" filter from large-corpus quality pipelines (fraction of
    gram occurrences belonging to the single most common gram, and to
    any gram repeated at least twice).

    Shape: explode grams → count per (doc, gram) → per-doc rollup.
    Both aggregations key on doc_id (the second reuses the first's
    partitioning — one wide shuffle of (doc_id, gram) pairs total).
    Per-doc state after the first agg is |distinct grams per doc|,
    bounded by doc length, never corpus size — safe at any document
    count. Docs shorter than n tokens yield no grams and are emitted
    with zero counts via the final left join back to the id spine
    (they cannot be judged repetitive).
    """
    spine = docs.select(F.col(id_col))
    grams = docs.select(
        F.col(id_col), F.explode(_word_grams(F.col(text_col), n)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("cnt").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.max("cnt").alias("top_gram_count"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(F.lit(0))).alias(
            "dup_gram_occurrences"
        ),
    )
    top_frac = F.col("top_gram_count").cast("double") / F.col("n_grams").cast("double")
    dup_frac = (
        F.col("dup_gram_occurrences").cast("double") / F.col("n_grams").cast("double")
    )
    return (
        spine.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_distinct_grams", F.lit(0)).alias("n_distinct_grams"),
            F.coalesce("top_gram_count", F.lit(0)).alias("top_gram_count"),
            F.coalesce("dup_gram_occurrences", F.lit(0)).alias(
                "dup_gram_occurrences"
            ),
            F.when(F.col("n_grams") > 0, top_frac).alias("top_gram_frac"),
            F.when(F.col("n_grams") > 0, dup_frac).alias("dup_gram_frac"),
            F.when(
                F.col("n_grams") > 0,
                (top_frac > F.lit(top_frac_limit)) | (dup_frac > F.lit(dup_frac_limit)),
            )
            .otherwise(F.lit(False))
            .alias("is_repetitive"),
        )
    )


def ngram_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_overlap_frac: float = 0.10,
) -> DataFrame:
    """Train/eval contamination audit: for every training document, the
    fraction of its distinct word n-grams that also occur anywhere in
    the eval set. Docs above ``max_overlap_frac`` are flagged for
    removal — the standard benchmark-decontamination pass before
    training.

    Shape: distinct (doc, gram) pairs on the train side; a distinct
    gram set on the eval side; inner-join on gram for overlap counts,
    then a left join back to per-doc totals so zero-overlap docs keep a
    row. The eval gram set is the small side by construction (eval
    benchmarks ≪ training corpus) — AQE broadcasts it, so the train
    side's only wide exchange is the distinct-gram aggregation. Gram
    equality joins on the md5-derived 60-bit hash, not the string:
    shuffle keys are 8 bytes regardless of n.
    """
    from clean_census_acs_data_spark.operators.text import md5_long

    # NOT cached: the distinct train-gram table feeds TWO consumers
    # (per-doc totals and the eval-overlap join), but Spark's exchange
    # reuse shares the distinct's shuffle between them — the r8 cache
    # only added an eager fill barrier and a write, a net COLD loss
    # (fresh process per rep, 2×2 interleaved at sf0.1: cache 5.43/6.29 s
    # vs nocache 4.34/4.20 s, 0.73×). At 100 TB the contamination index
    # is a PERSISTED table, not an executor-memory cache, so the
    # production shape is unchanged by this decision.
    t_grams = (
        train.select(
            F.col(id_col), F.explode(_word_grams(F.col(text_col), n)).alias("gram")
        )
        .select(id_col, md5_long(F.col("gram")).alias("gram_h"))
        .distinct()
    )
    e_grams = (
        eval_set.select(F.explode(_word_grams(F.col(text_col), n)).alias("gram"))
        .select(md5_long(F.col("gram")).alias("gram_h"))
        .distinct()
    )
    # r12 (guide §1.2 step 1 / §2.4): totals and overlaps ride ONE
    # per-doc aggregation — each distinct train gram is flagged against
    # the broadcast eval set in-row (left join on the 8-byte hash), so
    # n_overlap is a conditional SUM next to the COUNT instead of a
    # second aggregation + a totals⋈overlaps join on doc_id. Same
    # distinct exchange, one fewer aggregate, one fewer join;
    # zero-overlap docs keep their row by construction (sum of 0s).
    e_marked = e_grams.withColumn("__hit", F.lit(1))
    per_doc = (
        t_grams.join(F.broadcast(e_marked), "gram_h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams_distinct"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap").cast("double") / F.col("n_grams_distinct").cast("double")
    return per_doc.select(
        id_col,
        "n_grams_distinct",
        F.col("n_overlap").cast("long").alias("n_overlap"),
        frac.alias("overlap_frac"),
        (frac > F.lit(max_overlap_frac)).alias("is_contaminated"),
    )


def quantize_embeddings_int8(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column, tall output
    (one row per vector component): q = round(x / max|x| * 127), plus
    the per-vector scale in exact micro units for dequantization.

    The scale is a row-local array fold (no shuffle); posexplode is a
    generator (no shuffle). The whole operator is narrow — at 100 TB it
    pipelines inside whole-stage codegen behind whatever scan feeds it.
    Tall form avoids array-ordering hazards in cross-engine comparison;
    a production sink would re-assemble with collect_list over a
    position sort or keep Arrow FixedSizeList.

    Zero vectors (scale = 0) quantize to all-zero components rather
    than NaN: the CASE guards the division.
    """
    xs = F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    scale = F.array_max(xs)
    base = emb.select(
        F.col(id_col),
        F.col(vec_col),
        scale.alias("scale"),
        F.round(scale * 1_000_000).cast("long").alias("scale_micro"),
    )
    q = F.when(
        F.col("scale") > 0.0,
        F.round(F.col("x").cast("double") / F.col("scale") * 127).cast("long"),
    ).otherwise(F.lit(0))
    return (
        base.select(
            id_col,
            "scale",
            "scale_micro",
            F.posexplode(vec_col).alias("pos0", "x"),
        )
        .select(
            id_col,
            (F.col("pos0") + 1).alias("pos"),
            q.alias("q8"),
            "scale_micro",
        )
    )


def corpus_mix_sample(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    alpha: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Temperature-weighted corpus mixing: sample each source at a rate
    ∝ count^(α−1) (α < 1 upweights small sources — the multilingual/
    domain rebalancing rule), scaled so the expected overall keep rate
    is ``target_frac``. Selection is a deterministic md5 gate on the
    doc id, so the drawn corpus is reproducible across runs, engines,
    and partitionings.

    Shape: per-source counts (partial-agg shuffle of |sources| rows) →
    rate table broadcast back onto the corpus → row-local hash gate.
    Nothing wide touches document bodies; at 100 TB the only full pass
    is the final gate, which pipelines behind the scan. Rates cap at
    1.0 (a source can't be oversampled without replacement); capping is
    applied before normalization ensures expected-rate correctness for
    the uncapped sources.
    """
    from clean_census_acs_data_spark.operators.text import md5_long

    if alpha != 0.5:
        raise ValueError(
            "corpus_mix_sample is implemented for alpha=0.5: sqrt is "
            "correctly rounded IEEE (cross-engine deterministic), a "
            "general pow() is libm and is not — observed diverging at "
            "sf0.1. Extend with another exact weight kernel if a "
            "different temperature is needed."
        )
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_src"))
    # weight per source: n^0.5 in exact milli fixed-point — sqrt is
    # correctly rounded on both engines, floor(·1000) pins the value to
    # an exact BIGINT; all downstream arithmetic is integer. (The
    # previous float form used libm pow(), which Java and DuckDB round
    # differently in the last ulp — at sf0.1 the rate drifted 2 ulps
    # and the md5 gate could flip a row.)
    w_milli = F.floor(F.sqrt(F.col("n_src").cast("double")) * 1000).cast("long")
    counts = counts.withColumn("w_milli", w_milli)
    tot = counts.agg(
        F.sum("n_src").alias("tot_n"),
        F.sum("w_milli").alias("tot_w_milli"),
    )
    # rate_ppm = min(1e6, target · Σn · 1e12 / (Σw_milli · w_milli)):
    # exact integer floor division; target_frac enters as an exact
    # ppm integer so the whole rate is a defined integer statistic.
    # Both DIV operands are computed in DECIMAL(38,0): the BIGINT form
    # wrapped silently once tot_n·target_ppm·1e6 crossed 2^63 (~1.8e7
    # docs at target=0.5 — ADVICE r6). Scale bound of the decimal form:
    # numerator < 1e38 holds while tot_n < 1e26 docs (target_ppm ≤ 1e6),
    # denominator < 1e38 while Σw_milli·w_milli < 1e38 (w_milli ≈
    # 1000·√n ⇒ safe past 1e19 docs/source) — unreachable in practice.
    # Spark's DIV and DuckDB's // are both exact integral division on
    # decimal/HUGEINT operands, so cross-engine parity is preserved.
    target_ppm = int(round(target_frac * 1_000_000))
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            "n_src",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.expr(
                    f"(CAST(tot_n AS DECIMAL(38,0))"
                    f" * CAST({target_ppm} AS BIGINT) * 1000000)"
                    " DIV (CAST(tot_w_milli AS DECIMAL(38,0)) * w_milli)"
                ),
            ).alias("rate_ppm"),
        )
    )
    gate = md5_long(F.col(id_col).cast("string")) % 1_000_000
    return (
        docs.join(F.broadcast(rates), source_col)
        .where(gate < F.col("rate_ppm"))
        .select(
            id_col,
            source_col,
            "n_src",
            (F.col("rate_ppm").cast("double") / F.lit(1000000.0)).alias("rate"),
        )
    )


def pack_sequences_greedy(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    window_tokens: int = 512,
) -> DataFrame:
    """Sequence packing for training: assign documents to fixed-size
    token windows by running-token-count within each group (the
    deterministic streaming analog of greedy concat-and-split packing:
    bin = floor(cumulative tokens before this doc / window)).

    One window shuffle keyed on the group column; state per group is
    the running sum — O(1). Emits (doc, bin, offset) so a downstream
    writer can concatenate bin-mates in (bin, offset) order. Documents
    longer than the window still get a bin (they'd be split by the
    tokenizer downstream); token counts are whitespace-based here —
    production swaps in token_counts()['n_bpe_tokens'].
    """
    from pyspark.sql.window import Window

    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        docs.select(F.col(id_col), F.col(group_col), n_tok.alias("n_tokens"))
        .withColumn("cum_tokens", cum.cast("long"))
        .select(
            id_col,
            group_col,
            "n_tokens",
            "cum_tokens",
            F.floor(
                (F.col("cum_tokens") - F.col("n_tokens")) / F.lit(window_tokens)
            )
            .cast("long")
            .alias("bin_id"),
            (
                (F.col("cum_tokens") - F.col("n_tokens"))
                % F.lit(window_tokens)
            )
            .cast("long")
            .alias("bin_offset"),
        )
    )

"""Behavior tests for corpus-hygiene operators: the edge cases the
parquet fixtures don't exercise (docs shorter than n tokens, zero
vectors, empty eval sets, exact flag thresholds), and the dedup
cascade report: its stage-carrying aggregate against the three-branch
form it replaced, and its job count."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clean_census_acs_data_spark import session as S
from clean_census_acs_data_spark.operators.corpus import (
    ngram_decontaminate,
    quantize_embeddings_int8,
    repetition_metrics,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_short_doc_yields_zero_row(spark):
    out = repetition_metrics(_docs(spark, [(1, "single")]), n=2).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["n_grams"] == 0
    assert r["top_gram_frac"] is None
    assert r["is_repetitive"] is False


def test_repetition_flags_loops_not_prose(spark):
    loop = " ".join(["spam ham"] * 20)          # one bigram dominates
    prose = "a b c d e f g h i j k l m n o p"   # all bigrams unique
    out = {
        r["doc_id"]: r.asDict()
        for r in repetition_metrics(
            _docs(spark, [(1, loop), (2, prose)]), n=2
        ).collect()
    }
    assert out[1]["is_repetitive"] is True
    assert out[1]["top_gram_frac"] > 0.4
    assert out[2]["is_repetitive"] is False
    assert out[2]["dup_gram_frac"] == 0.0


def test_repetition_dup_frac_counts_all_repeats(spark):
    # "x y" ×2 and "y x" ×2 among 4 grams: every occurrence is a repeat
    out = repetition_metrics(_docs(spark, [(1, "x y x y x")]), n=2).collect()[0]
    assert out["n_grams"] == 4
    assert out["n_distinct_grams"] == 2
    assert out["dup_gram_frac"] == 1.0


def test_decontaminate_flags_only_overlapping(spark):
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words nothing shared here at all"),
        ],
    )
    ev = _docs(spark, [(100, "the quick brown fox jumps elsewhere")])
    out = {
        r["doc_id"]: r.asDict()
        for r in ngram_decontaminate(train, ev, n=5).collect()
    }
    assert out[1]["n_overlap"] == 1  # "the quick brown fox jumps"
    assert out[1]["overlap_frac"] == pytest.approx(1 / 5)
    assert out[1]["is_contaminated"]
    assert out[2]["n_overlap"] == 0
    assert out[2]["overlap_frac"] == 0.0
    assert not out[2]["is_contaminated"]


def test_decontaminate_empty_eval_keeps_all_rows(spark):
    train = _docs(spark, [(1, "a b c d e f")])
    ev = _docs(spark, []).limit(0)
    out = ngram_decontaminate(train, ev, n=5).collect()
    assert len(out) == 1 and out[0]["n_overlap"] == 0


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_quantize_range_and_scale(spark):
    out = quantize_embeddings_int8(_emb(spark, [(1, [0.5, -1.0, 0.25])])).collect()
    by_pos = {r["pos"]: r for r in out}
    assert by_pos[1]["q8"] == 64   # round(0.5/1.0*127) = round(63.5) → 64
    assert by_pos[2]["q8"] == -127
    assert by_pos[3]["q8"] == 32   # round(31.75) → 32
    assert all(r["scale_micro"] == 1_000_000 for r in out)


def test_quantize_zero_vector_is_all_zero(spark):
    out = quantize_embeddings_int8(_emb(spark, [(1, [0.0, 0.0])])).collect()
    assert [r["q8"] for r in out] == [0, 0]
    assert all(r["scale_micro"] == 0 for r in out)


def test_mix_sample_rate_caps_and_upweights_small(spark):
    from clean_census_acs_data_spark.operators.corpus import corpus_mix_sample

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus_mix_sample(docs, alpha=0.5, target_frac=0.5)
    rates = {r["source"]: r["rate"] for r in out.select("source", "rate").distinct().collect()}
    # small sources sample at a strictly higher rate; capped at 1.0
    assert rates.get("small", 1.0) <= 1.0
    if "big" in rates and "small" in rates:
        assert rates["small"] > rates["big"]
    # deterministic: same draw twice
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in corpus_mix_sample(docs, alpha=0.5, target_frac=0.5).collect())
    assert a == b


def test_pack_sequences_bins_and_offsets(spark):
    from clean_census_acs_data_spark.operators.corpus import pack_sequences_greedy

    docs = spark.createDataFrame(
        [
            (1, "a " * 299 + "a", "s"),   # 300 tokens
            (2, "b " * 299 + "b", "s"),   # 300 tokens → starts at 300, bin 0
            (3, "c " * 99 + "c", "s"),    # 100 tokens → starts at 600, bin 1
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r.asDict() for r in
           pack_sequences_greedy(docs, window_tokens=512).collect()}
    assert out[1]["bin_id"] == 0 and out[1]["bin_offset"] == 0
    assert out[2]["bin_id"] == 0 and out[2]["bin_offset"] == 300
    assert out[3]["bin_id"] == 1 and out[3]["bin_offset"] == 88  # 600-512


def test_triangle_summary_counts_known_graph(spark):
    from clean_census_acs_data_spark.operators.graph import graph_summary

    # K4 minus edge (3,4): triangles = (1,2,3), (1,2,4)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "doc_a long, doc_b long"
    )
    r = graph_summary(edges).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 5, 2)


def test_triangle_summary_empty_graph(spark):
    from clean_census_acs_data_spark.operators.graph import graph_summary

    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    r = graph_summary(edges).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (0, 0, 0)


def test_cdc_chunks_tile_documents(spark):
    """Content-defined chunks must tile each doc exactly: sorted chunk
    spans are contiguous from position 1 to length(text), so
    re-concatenating the chunks reproduces the document."""
    from clean_census_acs_data_spark.io import load_table
    from clean_census_acs_data_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    chunks = QUERIES["doc_chunk_cdc"](spark, sf)
    lens = (
        load_table(spark, sf, "documents")
        .where(F.length("text") >= 1)
        .select("doc_id", F.length("text").cast("long").alias("n"))
    )
    agg = (
        chunks.groupBy("doc_id")
        .agg(
            F.sum("chunk_len").alias("covered"),
            F.min("chunk_start").alias("first_start"),
            F.max(F.col("chunk_start") + F.col("chunk_len")).alias("end_excl"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        .join(lens, "doc_id")
    )
    bad = agg.where(
        (F.col("covered") != F.col("n"))
        | (F.col("first_start") != 1)
        | (F.col("end_excl") != F.col("n") + 1)
    )
    assert bad.count() == 0
    # every chunk has positive length
    assert chunks.where(F.col("chunk_len") <= 0).count() == 0


def test_text_normalize_idempotent(spark):
    """Normalizing already-normalized text must be a fixpoint."""
    from clean_census_acs_data_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    once = QUERIES["text_normalize"](spark, sf).select(
        F.col("norm_text").alias("text"), "doc_id"
    )
    norm2 = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            "  +",
            " ",
        )
    )
    again = once.select("doc_id", F.col("text"), norm2.alias("renorm"))
    assert again.where(F.col("text") != F.col("renorm")).count() == 0


# ---------------------------------------------------------------------------
# dedup_cascade_report
# ---------------------------------------------------------------------------


def three_branch_report(base, pairs):
    """The form ``_cascade_report`` replaced, kept as the reference:
    four 1-row count frames crossed, one union branch per stage. Its
    stage caches and their eager fills are left out; they changed the
    plan, not the rows."""
    from clean_census_acs_data_spark.queries_dedup import _CASCADE_NORM

    s1 = base.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    s2 = s1.groupBy(F.expr(_CASCADE_NORM).alias("__norm")).agg(F.min("doc_id").alias("doc_id"))
    surviving_pairs = pairs.join(s2.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_semi")
    s3 = s2.join(surviving_pairs.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti")
    counts = (
        base.agg(F.count(F.lit(1)).alias("n0"))
        .crossJoin(F.broadcast(s1.agg(F.count(F.lit(1)).alias("n1"))))
        .crossJoin(F.broadcast(s2.agg(F.count(F.lit(1)).alias("n2"))))
        .crossJoin(F.broadcast(s3.agg(F.count(F.lit(1)).alias("n3"))))
    )

    def stage(i, m, a, b):
        return counts.select(
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


def _near_dup_pairs(docs, threshold=0.8):
    """(doc_a, doc_b) with doc_a < doc_b whose word-3-shingle sets have
    Jaccard ≥ ``threshold``: an exact stand-in for the LSH pair table."""
    sh = {}
    for doc_id, text in docs:
        toks = (text or "").lower().split()
        sh[doc_id] = {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}
    ids = sorted(i for i in sh if sh[i])
    return [
        (a, b)
        for n, a in enumerate(ids)
        for b in ids[n + 1 :]
        if len(sh[a] & sh[b]) >= threshold * len(sh[a] | sh[b])
    ]


WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota", "kappa"]
BASE = WORDS[:8]


def _variant(kind, i):
    """A text that stage 1 (exact), stage 2 (case and punctuation) or
    stage 3 (one token dropped or swapped) collapses into BASE, or not."""
    toks = list(BASE)
    if kind == "case":
        return " ".join(toks).upper()
    if kind == "punct":
        return ", ".join(toks) + "!"
    if kind == "drop":
        return " ".join(toks[1:])
    if kind == "swap":
        return " ".join(toks[:-1] + [WORDS[8 + i % 2]])
    if kind == "other":
        return " ".join(WORDS[(i + j * 3) % len(WORDS)] for j in range(8))
    if kind == "null":
        return None
    return " ".join(toks)


@st.composite
def cascade_docs(draw):
    kinds = draw(
        st.lists(st.sampled_from(["same", "case", "punct", "drop", "swap", "other", "null"]), max_size=12)
    )
    ids = draw(st.lists(st.integers(0, 40), min_size=len(kinds), max_size=len(kinds), unique=True))
    return [(d, _variant(k, d)) for d, k in zip(ids, kinds)]


EMPTY = []
ALL_IDENTICAL = [(i, " ".join(BASE)) for i in (4, 1, 7)]
CASE_PUNCT = [(3, " ".join(BASE)), (1, _variant("case", 0)), (2, _variant("punct", 0)), (5, "ALPHA  beta")]
NULL_TEXT = [(1, None), (2, None), (3, " ".join(BASE)), (4, _variant("drop", 0))]
NO_PAIR = [(1, "alpha beta gamma delta"), (2, "beta gamma delta alpha"), (3, "one two")]


@settings(max_examples=8, deadline=None)
@given(docs=cascade_docs())
@example(docs=EMPTY)
@example(docs=ALL_IDENTICAL)
@example(docs=CASE_PUNCT)
@example(docs=NULL_TEXT)
@example(docs=NO_PAIR)
def test_cascade_report_equals_three_branch_form(spark, docs):
    """The stage-carrying single aggregate gives the rows and dtypes of
    the three-branch form on small corpora: empty, all identical, case
    and punctuation variants, NULL text, and no pair at 0.8."""
    from clean_census_acs_data_spark.queries_dedup import _cascade_report

    pair_rows = _near_dup_pairs(docs)
    base = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame(pair_rows, "doc_a long, doc_b long")
    try:
        got = _cascade_report(base, pairs)
        ref = three_branch_report(base, pairs)
        assert got.dtypes == ref.dtypes
        # exceptAll both ways, as one query: the per-job overhead, not
        # the data, sets the time of these plans
        assert got.exceptAll(ref).unionAll(ref.exceptAll(got)).count() == 0
        rows = sorted(map(tuple, got.collect()))
        if not docs:
            assert rows == [(1, "exact", 0, 0, 0), (2, "normalized", 0, 0, 0), (3, "near_dup", 0, 0, 0)]
        if not pair_rows:
            assert rows[2][3] == 0
    finally:
        S.reap_tracked_caches()


# jobs issued by one dedup_cascade_report build + collect from an empty
# memo at sf0.001 (the shingle, signature and pair fills included, all
# inside the collect), with 8 shuffle partitions: 21 at local[2],
# local[4], local[8] and local[32]
CASCADE_JOBS = 21


def test_cascade_report_issues_a_fixed_job_count(spark, sf_dir):
    """Three consecutive dedup_cascade_report build + collect runs, each
    from an empty memo, issue the same number of Spark jobs, and no more
    than CASCADE_JOBS."""
    from clean_census_acs_data_spark.queries_dedup import dedup_cascade_report

    sc = spark.sparkContext
    jobs = []
    try:
        for i in range(3):
            S.teardown_shared_memos()
            S.reap_tracked_caches()
            group = f"cascade-jobs-{i}"
            sc.setJobGroup(group, group)
            try:
                dedup_cascade_report(spark, sf_dir).collect()
            finally:
                for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                    sc.setLocalProperty(prop, None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        S.teardown_shared_memos()
        S.reap_tracked_caches()
    assert len(set(jobs)) == 1, jobs
    assert jobs[0] <= CASCADE_JOBS, jobs

"""Semantic properties of the round-9 tier beyond hash parity: the
oracle proves Spark == DuckDB; these prove both compute the RIGHT
thing (diversity actually increases, spans actually fit, the cascade
actually narrows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from clean_census_acs_data_spark.session import get_spark

    s = get_spark(shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_mmr_first_pick_is_top_relevance_and_picks_distinct(spark):
    from clean_census_acs_data_spark.queries_vectors import mmr_rerank_topk
    from clean_census_acs_data_spark.operators.similarity import brute_force_topk

    out = {r.mmr_rank: r for r in mmr_rerank_topk(spark, SF_DIR).collect()}
    assert sorted(out) == [1, 2, 3]
    ids = [out[i].vec_id for i in (1, 2, 3)]
    assert len(set(ids)) == 3
    top1 = brute_force_topk(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), query_id=0, k=1
    ).collect()[0]
    assert out[1].vec_id == top1.vec_id  # pick 1 == plain argmax relevance
    # later picks pay a diversity penalty: max_sim_selected recorded > 0
    assert out[2].max_sim_selected > 0.0
    assert out[3].max_sim_selected > 0.0


def test_span_masks_fit_and_do_not_overlap(spark):
    from clean_census_acs_data_spark.queries_corpus import span_corruption_masks

    spans = span_corruption_masks(spark, SF_DIR).collect()
    assert spans
    docs = {
        r.doc_id: r.n_tok
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in spans:
        assert r.span_len == 3
        assert 0 <= r.start_tok
        assert r.start_tok + r.span_len <= docs[r.doc_id], r
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rs in by_doc.items():
        rs = sorted(rs, key=lambda r: r.start_tok)
        for a, b in zip(rs, rs[1:]):
            assert a.start_tok + a.span_len <= b.start_tok, (doc_id, a, b)


def test_cascade_stage_counts_chain(spark):
    from clean_census_acs_data_spark.queries_dedup import dedup_cascade_report

    rows = {r.stage: r for r in dedup_cascade_report(spark, SF_DIR).collect()}
    assert sorted(rows) == [1, 2, 3]
    for i in (1, 2, 3):
        r = rows[i]
        assert r.docs_out == r.docs_in - r.docs_removed
        assert r.docs_removed >= 0
    assert rows[2].docs_in == rows[1].docs_out
    assert rows[3].docs_in == rows[2].docs_out
    assert rows[3].docs_removed > 0  # the planted near-dups get caught


def test_hard_negatives_are_below_threshold_and_off_diagonal(spark):
    from clean_census_acs_data_spark.queries_vectors import (
        _HARDNEG_DUP_T,
        hard_negative_mining,
    )

    rows = hard_negative_mining(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.cosine <= float(_HARDNEG_DUP_T)
        assert r.vec_id != r.hard_negative_id

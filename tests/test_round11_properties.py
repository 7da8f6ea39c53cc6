"""Property tests for the round-11 batch (exact oracle parity runs in
tests/test_oracle_parity.py; these pin the semantic invariants that a
hash match alone wouldn't explain)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clean_census_acs_data_spark.io import load_table
from clean_census_acs_data_spark.queries import QUERIES
from clean_census_acs_data_spark.queries_relational import global_rank

SF = "/root/testdata/sf0.001"


def test_global_rank_is_total_and_contiguous(spark):
    """global_rank must equal the single-task row_number over the same
    total order — checked directly at test scale."""
    d = load_table(spark, SF, "documents").select("doc_id", "source")
    got = {
        r.doc_id: r.rank
        for r in global_rank(d, ["source", "doc_id"]).collect()
    }
    expected_order = sorted(
        ((r.source, r.doc_id) for r in d.collect())
    )
    for i, (_, doc_id) in enumerate(expected_order, start=1):
        assert got[doc_id] == i
    # contiguity: ranks are exactly 1..n
    assert sorted(got.values()) == list(range(1, len(got) + 1))


def test_global_rank_partition_count_invariance(spark):
    """The rank must not depend on the partitions knob (range boundary
    placement is an execution detail, never a semantic one)."""
    d = load_table(spark, SF, "documents").select("doc_id", "source")
    a = {r.doc_id: r.rank for r in global_rank(d, ["source", "doc_id"], partitions=3).collect()}
    b = {r.doc_id: r.rank for r in global_rank(d, ["source", "doc_id"], partitions=16).collect()}
    assert a == b


def test_equi_depth_buckets_are_balanced_and_ordered(spark):
    rows = sorted(
        QUERIES["equi_depth_histogram"](spark, SF).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(8))
    sizes = [r.n_rows for r in rows]
    assert max(sizes) - min(sizes) <= 1  # equi-DEPTH, within one row
    for prev, cur in zip(rows, rows[1:]):
        assert prev.max_cents <= cur.min_cents  # value ranges ordered
        assert prev.min_cents <= prev.max_cents


def test_rolling_distinct_bounded_by_frame(spark):
    rows = QUERIES["window_distinct_rolling"](spark, SF).collect()
    assert rows and all(1 <= r.n_distinct_10 <= 10 for r in rows)
    # a user's first event always has exactly 1 distinct type in frame
    ev = load_table(spark, SF, "events").select("user_id", "ts", "event_id")
    first = {
        r.user_id: r.event_id
        for r in ev.groupBy("user_id")
        .agg(F.min_by("event_id", F.struct("ts", "event_id")).alias("event_id"))
        .collect()
    }
    by_id = {r.event_id: r.n_distinct_10 for r in rows}
    assert all(by_id[eid] == 1 for eid in first.values())


def test_postings_varint_never_exceeds_fixed(spark):
    rows = QUERIES["postings_varint_size_audit"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r.varint_bytes <= r.fixed64_bytes
        assert r.max_gap >= 1
        assert 0.0 < r.compression_ratio <= 1.0
        assert r.total_postings >= r.n_terms
        # df_bits really is the bit length band: df in [2^(b-1), 2^b)
        assert r.df_bits >= 1


def test_fertility_covers_all_docs(spark):
    rows = QUERIES["tokenizer_fertility_by_lang"](spark, SF).collect()
    total = load_table(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == total
    assert all(r.fertility > 0 for r in rows)


def test_greedy_coverage_is_submodular_and_distinct(spark):
    """Marginal gains must be non-increasing round over round (the
    submodularity diminishing-returns property the greedy guarantee
    rests on), picks distinct, and coverage totals consistent with the
    gains (covered_total_r = covered_total_{r-1} + gain_r, since a
    round's gain counts exactly the newly covered grams)."""
    rows = sorted(
        QUERIES["greedy_coverage_select"](spark, SF).collect(),
        key=lambda r: r.sel_round,
    )
    assert [r.sel_round for r in rows] == [1, 2, 3]
    gains = [r.marginal_gain for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert len({r.doc_id for r in rows}) == 3
    running = 0
    for r in rows:
        running += r.marginal_gain
        assert r.covered_total == running


def test_quality_bands_match_thresholds(spark):
    rows = QUERIES["quality_classifier_linear"](spark, SF).collect()
    assert rows
    for r in rows:
        if r.logit_micro >= 8000:
            assert r.band == "keep"
        elif r.logit_micro >= 3000:
            assert r.band == "review"
        else:
            assert r.band == "drop"
    assert len({r.band for r in rows}) >= 2  # fixture spans the thresholds

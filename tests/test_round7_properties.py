"""Invariant tests for the round-7 operators: the structural laws the
oracles verify numerically but don't state. All deterministic."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from clean_census_acs_data_spark.operators.dedup import MINHASH_M
from clean_census_acs_data_spark.queries import QUERIES
from clean_census_acs_data_spark.queries_analytics import _ATTR_WINDOW_US
from clean_census_acs_data_spark.queries_vectors import _PQ_K, _pq_encoded
from clean_census_acs_data_spark.io import load_table

SF = "/root/testdata/sf0.001"


def test_pq_codewords_encode_to_themselves(spark):
    """A codeword vector's nearest codeword in every block is itself
    (distance 0) — if this breaks, the argmin tiebreak is wrong."""
    _, _, codes = _pq_encoded(load_table(spark, SF, "embeddings"))
    own = codes.where(F.col("vec_id") < _PQ_K).collect()
    assert len(own) == _PQ_K * 4
    for r in own:
        assert r.code == r.vec_id, f"codeword {r.vec_id} block {r.b} → {r.code}"


def test_pq_adc_topk_sorted_nonnegative(spark):
    """ADC distances are sums of squared integers (≥ 0) and the top-10
    is totally ordered by (distance, vec_id)."""
    rows = QUERIES["pq_adc_topk"](spark, SF).collect()
    assert len(rows) == 10
    assert all(r.adc_d2 >= 0 for r in rows)
    assert rows == sorted(rows, key=lambda r: (r.adc_d2, r.vec_id))


def test_knn_join_ranks_and_blocking(spark):
    """Per vector: ≤3 neighbors, ranks consecutive from 1, cosines
    non-increasing in rank, cosine ∈ [-1, 1] (+ tiny quantization
    slack), no self-pairs."""
    rows = QUERIES["knn_join_ivf"](spark, SF).collect()
    assert rows
    by_vec: dict[int, list] = {}
    for r in rows:
        assert r.vec_id != r.neighbor_id
        assert -1.000001 <= r.cosine <= 1.000001
        by_vec.setdefault(r.vec_id, []).append(r)
    for vid, rs in by_vec.items():
        rs.sort(key=lambda r: r.nn_rank)
        assert [r.nn_rank for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_attribution_touch_keys_inside_window(spark):
    """Touch timestamps lie strictly inside (purchase − 30 min,
    purchase); zero-touch rows have NULL touch columns; first ≤ last
    lexically by (µs, event_id) — the r9 struct-extrema form (the
    µs·4096 packed key wrapped int64 in May 2041)."""
    ev = load_table(spark, SF, "events")
    pus = {
        r.event_id: r.us
        for r in ev.where(F.col("event_type") == "purchase")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    rows = QUERIES["attribution_first_last"](spark, SF).collect()
    assert set(pus) == {r.event_id for r in rows}
    for r in rows:
        if r.n_touches == 0:
            assert r.first_touch_us is None and r.last_touch_us is None
            assert r.first_touch_id is None and r.last_touch_id is None
            continue
        assert (r.first_touch_us, r.first_touch_id) <= (
            r.last_touch_us,
            r.last_touch_id,
        )
        for cus in (r.first_touch_us, r.last_touch_us):
            assert pus[r.event_id] - _ATTR_WINDOW_US < cus < pus[r.event_id]


def test_skew_factor_at_least_uniform(spark):
    """max/mean ≥ 1 by definition (1e6 in micro-units); shares are
    positive, ≤ 1e6, and the report is top-10 by count."""
    rows = QUERIES["skew_key_diagnostics"](spark, SF).collect()
    assert len(rows) == 10
    counts = [r.cnt for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r.skew_micro >= 1_000_000
        assert 0 < r.share_micro <= 1_000_000


def test_snapshot_diff_partition_law(spark):
    """The four classes partition the key universe: n_keys sums to
    |A ∪ B|, and every updated key drifts by exactly 1 cent (the
    planted perturbation), so sum_abs_delta == n_updated."""
    o = load_table(spark, SF, "orders")
    union_keys = (
        o.where((F.col("o_orderkey") % 97 != 0) | (F.col("o_orderkey") % 89 != 0))
        .select("o_orderkey")
        .distinct()
        .count()
    )
    rows = {r.change_type: r for r in QUERIES["snapshot_diff_reconcile"](spark, SF).collect()}
    assert set(rows) <= {"inserted", "deleted", "updated", "unchanged"}
    assert sum(r.n_keys for r in rows.values()) == union_keys
    if "updated" in rows:
        assert rows["updated"].sum_abs_delta_cents == rows["updated"].n_keys
    for ct in ("inserted", "deleted", "unchanged"):
        if ct in rows:
            assert rows[ct].sum_abs_delta_cents == 0


def test_entropy_bounded_by_type_count(spark):
    """0 ≤ H ≤ ln(n_types): the uniform distribution maximizes
    entropy. Micro-nat slack covers the two integer floors."""
    rows = QUERIES["char_ngram_entropy"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_types <= r.n_grams
        assert -2 <= r.entropy_micro_nats  # floor slack below 0
        cap = math.log(r.n_types) * 1_000_000 + 2
        assert r.entropy_micro_nats <= cap


def test_streaming_minhash_registers_in_range(spark):
    """8 registers, one per hash function, each a valid 31-bit min."""
    rows = QUERIES["streaming_minhash_registers"](spark, SF).collect()
    assert sorted(r.i for r in rows) == list(range(8))
    for r in rows:
        assert 0 <= r.register < MINHASH_M


def test_recsys_ranks_and_support(spark):
    """≤3 recs per part, consecutive ranks, lift non-increasing in
    rank, support floor respected, no self-recommendation."""
    rows = QUERIES["recsys_item_item_topk"](spark, SF).collect()
    assert rows
    by_part: dict[int, list] = {}
    for r in rows:
        assert r.part != r.rec and r.c_ab >= 3
        by_part.setdefault(r.part, []).append(r)
    for part, rs in by_part.items():
        rs.sort(key=lambda r: r.rec_rank)
        assert [r.rec_rank for r in rs] == list(range(1, len(rs) + 1))
        lifts = [r.lift_e6 for r in rs]
        assert lifts == sorted(lifts, reverse=True)


def test_funnel_stages_monotone(spark):
    """Each funnel stage can only lose rows: full-chain ⊆ with-click ⊆
    purchases."""
    r = QUERIES["funnel_time_constrained"](spark, SF).collect()[0]
    assert 0 <= r.n_full_chain <= r.n_with_click <= r.n_purchases


def test_normalized_dedup_partitions_corpus(spark):
    """Copy counts partition the corpus, and normalization can only
    merge classes: #normalized classes ≤ #byte-exact classes."""
    docs = load_table(spark, SF, "documents")
    n_docs = docs.count()
    n_exact = docs.select("text").distinct().count()
    rows = QUERIES["dedup_exact_normalized"](spark, SF).collect()
    assert sum(r.n_copies for r in rows) == n_docs
    assert len(rows) <= n_exact


def test_path_trigrams_topk_total_order(spark):
    """≤20 rows, counts non-increasing, every step a real event type."""
    types = {
        r.event_type
        for r in load_table(spark, SF, "events").select("event_type").distinct().collect()
    }
    rows = QUERIES["event_path_trigrams"](spark, SF).collect()
    assert 0 < len(rows) <= 20
    counts = [r.n_paths for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert {r.step1, r.step2, r.step3} <= types


def test_pareto_crossing_row_reaches_80pct(spark):
    """The kept prefix is the minimal one: it reaches ≥80% of revenue
    (crossing row included) and is no larger than the customer
    universe."""
    r = QUERIES["pareto_8020_concentration"](spark, SF).collect()[0]
    assert 1 <= r.n_top <= r.n_customers
    assert r.covered_cents * 5 >= r.total_cents * 4
    assert r.covered_cents <= r.total_cents


def test_lang_confusion_partitions_corpus(spark):
    """Cell counts sum to the corpus; labels come from the lang column."""
    docs = load_table(spark, SF, "documents")
    n_docs = docs.count()
    labels = {r.lang for r in docs.select("lang").distinct().collect()}
    rows = QUERIES["lang_id_confusion"](spark, SF).collect()
    assert sum(r.n_docs for r in rows) == n_docs
    assert {r.labeled_lang for r in rows} <= labels


def test_keyword_ranks_follow_tf(spark):
    """≤3 keywords per doc, consecutive ranks, tf non-increasing in
    rank (the primary sort key)."""
    rows = QUERIES["keyword_topk_per_doc"](spark, SF).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r.kw_rank)
        assert [r.kw_rank for r in rs] == list(range(1, len(rs) + 1))
        tfs = [r.tf for r in rs]
        assert tfs == sorted(tfs, reverse=True)


def test_zipf_slope_negative(spark):
    """Rank-frequency curves slope downward; moments are consistent
    (n = min(100, vocab), Cauchy-Schwarz on the x moments)."""
    r = QUERIES["zipf_slope_fit"](spark, SF).collect()[0]
    assert r.zipf_slope < 0
    assert 1 < r.n <= 100
    assert r.n * r.sxx >= r.sx * r.sx  # variance ≥ 0


def test_backlog_sweep_conserves(spark):
    """The backlog is non-negative every day, positive somewhere, and
    returns to zero after the last close (+1s and −1s balance)."""
    rows = QUERIES["open_orders_sweep"](spark, SF).collect()
    rows.sort(key=lambda r: r.day)
    assert all(r.open_orders >= 0 for r in rows)
    assert max(r.open_orders for r in rows) > 0
    assert rows[-1].open_orders == 0


def test_session_histogram_partitions_events(spark):
    """Every event lands in exactly one session: n_events across
    buckets sums to the events table."""
    n_events = load_table(spark, SF, "events").count()
    rows = QUERIES["session_duration_log2"](spark, SF).collect()
    assert sum(r.n_events for r in rows) == n_events
    assert all(r.bucket >= 0 and r.n_sessions > 0 for r in rows)


def test_pit_join_never_uses_future_versions(spark):
    """Every enriched click carries a version whose valid_from ≤ click
    ts, and clicks before any version have NULL value — the
    point-in-time correctness law."""
    ev = load_table(spark, SF, "events")
    click_ts = {
        r.event_id: r.us
        for r in ev.where(F.col("event_type") == "click")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    rows = QUERIES["point_in_time_join_scd2"](spark, SF).collect()
    assert {r.event_id for r in rows} == set(click_ts)
    for r in rows:
        if r.valid_from is None:
            assert r.value_cents is None
        else:
            vf = int(r.valid_from.timestamp() * 1_000_000)
            assert vf <= click_ts[r.event_id]


def test_lpa_labels_are_node_ids_within_component(spark):
    """A community label is always some node's id, and every labeled
    node appears exactly once."""
    rows = QUERIES["label_propagation_communities"](spark, SF).collect()
    nodes = {r.doc_id for r in rows}
    assert len(rows) == len(nodes)
    assert {r.community for r in rows} <= nodes


def test_late_arrival_profile_covers_all_events(spark):
    """Bucket counts partition the event log; lateness is bounded by
    the table's time span."""
    ev = load_table(spark, SF, "events")
    n = ev.count()
    span = ev.agg(
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("s")
    ).collect()[0].s
    rows = QUERIES["late_arrival_profile"](spark, SF).collect()
    assert sum(r.n_events for r in rows) == n
    assert all(0 <= r.max_late_us <= span for r in rows)


def test_feature_hashing_conserves_tokens(spark):
    """Bucket counts sum to the corpus token count; buckets in range."""
    docs = load_table(spark, SF, "documents")
    n_tokens = docs.select(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n")
    ).collect()[0].n
    rows = QUERIES["feature_hashing_bow"](spark, SF).collect()
    assert sum(r.cnt for r in rows) == n_tokens
    assert all(0 <= r.bucket < 32 for r in rows)


def test_provenance_covers_every_verified_pair(spark):
    """Every verified near-dup pair was admitted by ≥1 band (that's
    what candidacy means), never more than the 4 that exist."""
    from clean_census_acs_data_spark.operators.dedup import standard_near_dup_pairs

    pairs = {
        (r.doc_a, r.doc_b)
        for r in standard_near_dup_pairs(spark, SF, threshold=0.5)
        .select("doc_a", "doc_b")
        .collect()
    }
    rows = QUERIES["dedup_pair_provenance"](spark, SF).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == pairs
    for r in rows:
        assert 1 <= r.n_collide_bands <= 4
        assert 0 <= r.first_band <= 3


def test_zorder_skips_at_least_as_well_as_linear(spark):
    """Both layouts agree on the matching row count (layout can't
    change query results), scans ≤ shards, and the Z-order layout
    never scans more shards than linear for the 2-D box."""
    rows = {r.layout: r for r in QUERIES["zorder_skipping_audit"](spark, SF).collect()}
    assert set(rows) == {"linear", "zorder"}
    lin, zo = rows["linear"], rows["zorder"]
    assert lin.n_match == zo.n_match
    assert zo.n_scanned <= zo.n_shards and lin.n_scanned <= lin.n_shards
    assert zo.n_scanned <= lin.n_scanned


def test_pandas_scalar_cosine_equals_jvm_path(spark):
    """The Arrow-UDF scoring path returns the exact rows of the JVM
    zip_with path — the whole point of the twin."""
    jvm = QUERIES["similarity_topk"](spark, SF).collect()
    py = QUERIES["pandas_scalar_cosine"](spark, SF).collect()
    assert [(r.vec_id, r.cosine) for r in jvm] == [(r.vec_id, r.cosine) for r in py]


def test_bpe_tokens_at_least_ws_tokens(spark):
    """A BPE-ish pre-tokenizer only splits further: per doc,
    n_bpe ≥ n_ws − (empty docs aside), and unique ≤ total."""
    rows = QUERIES["token_count_bpe_regex"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_unique_bpe <= r.n_bpe_tokens
        assert r.n_bpe_tokens >= r.n_ws_tokens - 1  # all-space doc slack


def test_moment_sums_power_mean_inequality(spark):
    """Power sums are internally consistent (Cauchy-Schwarz:
    n·s2 ≥ s1², n·s4 ≥ s2²) and kurtosis ≥ skew² − 2 (the universal
    Pearson inequality)."""
    rows = QUERIES["stats_skew_kurtosis"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n * r.s2 >= r.s1 * r.s1
        assert r.n * r.s4 >= r.s2 * r.s2
        assert r.kurtosis_excess + 3 >= r.skewness**2 + 1 - 1e-9


def test_ratio_shares_sum_to_unity(spark):
    """Within each region, nation micro-shares sum to ≈1e6 (floor
    slack ≤ nations-per-region); total shares likewise."""
    rows = QUERIES["ratio_to_parent_rollup"](spark, SF).collect()
    by_region: dict[str, list] = {}
    for r in rows:
        by_region.setdefault(r.region_name, []).append(r)
    for region, rs in by_region.items():
        s = sum(r.share_of_region_micro for r in rs)
        assert 1_000_000 - len(rs) <= s <= 1_000_000
    t = sum(r.share_of_total_micro for r in rows)
    assert 1_000_000 - len(rows) <= t <= 1_000_000


def test_seasonal_anomaly_shape(spark):
    """Top-20 exists, deviations are sorted descending and
    non-negative, hours in range."""
    rows = QUERIES["seasonal_anomaly_hours"](spark, SF).collect()
    assert 0 < len(rows) <= 20
    devs = [r.dev_scaled for r in rows]
    assert devs == sorted(devs, reverse=True)
    for r in rows:
        assert r.dev_scaled >= 0 and 0 <= r.hour <= 23 and r.n_events > 0

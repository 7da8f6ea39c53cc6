"""Physical-plan shape tests — the scale discipline, codified.

Correctness tests prove the engine right at sf0.01; these prove the
*plans* are the ones that survive 100 TB: filters/projections reach the
parquet scan, dim joins broadcast, top-k never global-sorts, aggregates
shuffle once after partial aggregation, and nothing degenerates into a
cartesian/nested-loop join."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from clean_census_acs_data_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def count_nodes(formatted_plan: str, node: str) -> int:
    """Count physical operators by their tree lines ('+- Node (id)'),
    not raw substring hits (formatted mode repeats each node in the
    detail section)."""
    return len(re.findall(rf"\(\d+\) {re.escape(node)}\b", formatted_plan))


@pytest.fixture(scope="module")
def plans(spark):
    """Plans with AQE disabled: deterministic node counts and visible
    whole-stage-codegen markers (AQE's isFinalPlan=false hides them at
    explain time; at runtime AQE is on and only improves these plans)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    out = {}
    for name in QUERIES:
        if name.startswith("streaming"):
            continue
        df = QUERIES[name](spark, SF)
        spark.conf.set("spark.sql.adaptive.enabled", "false")  # queries re-enable it
        out[name] = plan(df)
        out[name + "/simple"] = plan(df, "simple")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return out


def test_filters_and_projection_pushed_to_scan(plans):
    p = plans["scan_project_filter"]
    assert "PushedFilters: [" in p
    assert "IsNotNull(l_shipdate)" in p or "GreaterThanOrEqual(l_shipdate" in p
    # column pruning: the scan must not read unneeded columns like l_tax
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_tax" not in read_schema
    assert "l_returnflag" not in read_schema


def test_dim_joins_broadcast(plans):
    p = plans["broadcast_join_dim"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_fact_join_sort_merge(plans):
    assert "SortMergeJoin" in plans["sortmerge_join_fact"]


def test_semi_anti_strategies(plans):
    assert "LeftSemi" in plans["semi_join"]
    assert "LeftAnti" in plans["anti_join"]


def test_topk_uses_heap_not_global_sort(plans):
    p = plans["topk_orders"]
    assert "TakeOrderedAndProject" in p


def test_q1_single_shuffle_partial_agg(plans):
    p = plans["q1_pricing_summary"]
    assert count_nodes(p, "Exchange") == 1  # partial agg → one shuffle → final agg
    assert count_nodes(p, "HashAggregate") == 2


def test_window_topk_group_limit(plans):
    # Spark pushes rn <= 3 into WindowGroupLimit: per-key state is k rows
    assert "WindowGroupLimit" in plans["window_rank"]


def test_no_degenerate_joins_anywhere(plans):
    # deliberate exceptions: similarity queries cross-join a broadcast
    # 1-row query vector; gap_fill crosses users with a broadcast
    # 1-row min/max bounds frame to build the resample spine
    allowed_cross = {
        "similarity_topk",
        "similarity_lsh_topk",
        "similarity_ivf_topk",  # broadcast 8-row centroid table + 1-row query
        "embedding_cosine_neardup",
        "gap_fill_forward",
        "tpch_q22_idle_customers",  # broadcast 1-row scalar-subquery threshold
        "dq_constraint_checks",  # cross of four 1-row check reports
        "tpch_q11_value_concentration",  # broadcast 1-row global-share threshold
        "tpch_q15_top_supplier",  # broadcast 1-row max-revenue scalar
        "corpus_mix_sample",  # |sources|-row rate table × broadcast 1-row totals
        "text_tfidf",  # broadcast 1-row corpus-size scalar
        "bm25_score",  # broadcast 1-row (n_docs, avgdl) corpus scalar
        "lm_unigram_surprisal",  # broadcast 1-row corpus-total scalar
        "quality_percentile_filter",  # broadcast 1-row quantile threshold
        "graph_triangle_summary",  # cross of three 1-row metric frames
        "semantic_dedup",  # broadcast 8-row centroid table (IVF assignment)
        "heavy_hitters_cms",  # broadcast 1-row total-token-mass scalar
        "quantile_log2_sketch",  # 3-row quantile spec × ≤64-row histogram
        "hll_deterministic_estimate",  # ≤64-row registers × 1-row k/exact scalars
        "hll_partial_merge",  # ≤64-row merged registers × 1-row k/total scalars
        "token_cooccurrence_pmi",  # broadcast 1-row (t_tok, t_pair) totals
        "lm_bigram_surprisal",  # broadcast 1-row vocabulary-size scalar
        "ann_recall_audit",  # 1-row count frames × broadcast query vector legs
        "quantile_sketch_audit",  # broadcast 3-row quantile spec over the rank table
        "psi_drift_buckets",  # broadcast 1-row per-half totals over ≤64 buckets
        "event_seasonality_profile",  # broadcast 1-row total over ≤168 cells
        "market_basket_lift",  # broadcast 1-row n_orders scalar
        "range_partition_boundaries",  # broadcast 7-row bucket spec over ranks
        "incremental_topk_maintenance",  # two broadcast 1-row query-vector legs
        "join_size_cms_estimate",  # 1-row est × broadcast 1-row exact count
        "distinct_kmv_estimate",  # 1-row kth-hash × broadcast 1-row exact count
        "kmv_intersection_estimate",  # 1-row sketch stats × broadcast 1-row exact
        "knn_join_ivf",  # broadcast 8-row centroid table (IVF assignment)
        "skew_key_diagnostics",  # broadcast 1-row totals over the top-10 report
        "recsys_item_item_topk",  # market_basket_lift's 1-row n_orders scalar
        "funnel_time_constrained",  # cross of three 1-row stage-count frames
        "keyword_topk_per_doc",  # text_tfidf's 1-row corpus-size scalar
        "mmr_rerank_topk",  # broadcast ≤8-row candidate/pick crosses (greedy tail)
        "colbert_maxsim_topk",  # broadcast 1-row query sub-vector frame
        "matryoshka_recall_audit",  # broadcast 1-row dual query-vector frame
        "ndcg_eval_prefix_retrieval",  # broadcast 1-row dual query-vector frame
        "dsir_importance_select",  # broadcast 1-row LM totals scalars
        "doremi_domain_weights",  # broadcast 1-row LM totals scalars
        "hard_negative_mining",  # inherits knn_join_ivf's broadcast codebook cross
        "contrastive_triplets",  # inherits knn_join_ivf's broadcast codebook cross
        "knn_join_ivf_probe2",  # same broadcast codebook cross, nprobe=2
        "similarity_topk",  # broadcast 1-row query vector (nk scalar joined in r4)
        "semantic_pack_order",  # broadcast 8-row centroid table (layout assignment)
        "bpe_train_merges",  # broadcast 1-row argmax pair × 1-row corpus-size scalar
        "poisson_bootstrap_ci",  # broadcast 32-row replica spine + 1-row CI bounds
        "cuped_adjusted_lift",  # broadcast 1-row theta/mean_x moment frame
        "benford_first_digit_audit",  # broadcast 1-row digit-total scalar
        "sequence_pattern_match",  # broadcast 3-row funnel-pattern spec
        "equi_depth_histogram",  # broadcast 1-row total-count scalar over ranks
        "greedy_coverage_select",  # 1-row argmax × 1-row coverage-total per round
        "bradley_terry_mm",  # broadcast 1-row strength-total scalar (|types| rows)
        "stratified_ate_estimate",  # broadcast 1-row user-count scalar over ranks
        "ann_binary_hamming_topk",  # broadcast 1-row query word-pair
        "source_loo_coverage",  # broadcast 1-row corpus-vocab total
        "apportion_largest_remainder",  # broadcast 1-row member-total + floor-seat-sum scalars
        "token_budget_waterfill",  # broadcast 1-row budget-total + water-level scalars
        "kendall_tau_rankings",  # broadcast 1-row n_items scalar over the pair aggregate
        "kcenter_coreset_select",  # broadcast 1-row center per greedy round
    "rrf_hybrid_dense_lexical",  # broadcast 1-row query vector + 1-row query token set
    "rbo_rank_overlap",  # same two legs as rrf_hybrid: 1-row query vector/token crosses
        "quantile_regression_origin",  # broadcast 3-row τ-quarter spine (both-sided threshold non-equi)
        "mrr_eval_retrieval",  # broadcast 10-row query panel (the rrf/ndcg/rbo device)
        "acf_hourly_lag_profile",  # broadcast hour-spine × |types| dense-series cross
        "krippendorff_alpha_nominal",  # 1-row unit-agg × 1-row marginal-agg cross
        "misra_gries_mergeable",  # per-stage 1-row decrement-threshold crosses (×4 + final)
        "seasonal_decompose_ma",  # acf's broadcast hour-spine × |types| cross
        "jonckheere_terpstra_trend",  # 1-row J-agg × 1-row group-moments cross
        "friedman_balanced_blocks",  # day-spine × |types| cross + 1-row dims/gsum crosses
        "conformal_quantile_calibration",  # broadcast 2-row q̂ table over the test half
        "page_trend_test",  # friedman's day-spine cross + 1-row dims/lsum crosses
    }
    for name, p in plans.items():
        base = name.split("/")[0]
        if base in allowed_cross:
            continue
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_asof_is_join_free(plans):
    """The as-of implementation must be the union-sort-carry plan, not a
    range join: no join operators at all."""
    p = plans["asof_join_last_click"]
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "Window" in p
    assert "Union" in p


def test_exact_dedup_groups_on_hash(plans):
    assert "sha2" in plans["dedup_exact"]


def test_census_pipeline_no_python_in_decode(plans):
    """Wire decode must be JVM json expressions; Python appears only in
    the fetch. Since the r12 response memo the fetch's MapInPandas runs
    inside the memoized localCheckpoint fill, so the FINAL plan reads
    the checkpointed responses (Scan ExistingRDD) instead of showing
    the MapInPandas node; either lineage is the honest shape."""
    p = plans["census_pipeline_e2e"]
    assert count_nodes(p, "MapInPandas") >= 1 or "ExistingRDD" in p
    assert "from_json" in p
    # decode/normalize/rename/align are projections — no Python eval ops
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_whole_stage_codegen_active(plans):
    """Hot-path queries must run inside whole-stage codegen spans
    (the '*(n)' markers in simple explain)."""
    for name in ["q1_pricing_summary", "scan_project_filter", "broadcast_join_dim"]:
        assert "*(1)" in plans[name + "/simple"], name


def test_q3_topk_heap_and_pushdown(plans):
    p = plans["tpch_q3_shipping_priority"]
    assert "TakeOrderedAndProject" in p  # top-10, never a global sort
    assert "PushedFilters: [" in p       # segment/date filters reach scans


def test_q5_broadcasts_dims_single_fact_shuffle(plans):
    p = plans["tpch_q5_local_supplier"]
    # supplier/nation/region (and the filtered customer side at this SF)
    # must broadcast; only the fact-fact join may shuffle
    assert count_nodes(p, "BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_unpivot_single_scan_expand(plans):
    p = plans["unpivot_measures"]
    assert count_nodes(p, "Expand") == 1
    # one scan, not the oracle's UNION ALL double-scan
    assert count_nodes(p, "Scan parquet") == 1


def test_pivot_two_phase_aggregate(plans):
    # Spark plans pivot as agg on (key, pivot-col) then a pivotfirst
    # agg on key — two shuffles total, both on |groups|-sized inputs
    p = plans["pivot_status"]
    assert count_nodes(p, "Exchange") == 2
    assert "pivotfirst" in p


def test_rowlocal_queries_have_no_shuffle(plans):
    # pure projections/filters/generators must stay narrow: zero exchanges
    for name in [
        "scan_project_filter", "rename_normalize", "cast_clean",
        "string_scalars", "date_scalars", "json_scalars", "math_scalars",
        "regexp_scalars", "explode_tokens", "map_prefix_filter",
        "array_higher_order", "hash_sample", "text_stats",
        "date_arithmetic", "text_normalize",
    ]:
        assert count_nodes(plans[name], "Exchange") == 0, name
    # doc_chunk_cdc left this list in round 9: its md5-per-character
    # kernel is the heaviest row-local compute in the registry, so it
    # takes io.spread's documented one round-robin Exchange to escape
    # the 1-2-split local scan (a no-op choice at real split counts) —
    # still no data-keyed shuffle
    p = plans["doc_chunk_cdc"]
    assert count_nodes(p, "Exchange") <= 1
    assert "hashpartitioning" not in p


def test_generators_present(plans):
    assert "Generate" in plans["explode_tokens"]
    assert "Generate" in plans["map_prefix_filter"]


def test_scalar_subquery_reuses_aggregate_shape(plans):
    p = plans["scalar_subquery_smallqty"]
    # per-part agg + final 1-row agg: at least two aggregation pairs,
    # and the join must be on the partkey (no nested loop)
    assert count_nodes(p, "HashAggregate") >= 3
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_stats_moments_single_shuffle(plans):
    p = plans["stats_moments"]
    assert count_nodes(p, "Exchange") == 1
    assert count_nodes(p, "HashAggregate") == 2


def test_spread_noop_when_already_parallel(spark):
    """spread() must not insert an Exchange when the input already scans
    as >= n partitions — at 100 TB (thousands of row groups) shuffling
    all raw document/embedding bytes to even out parallelism would be
    the bottleneck (VERDICT r1 #3)."""
    from clean_census_acs_data_spark.io import load_table, spread

    docs = load_table(spark, SF, "documents")
    wide = docs.repartition(64)  # simulate a many-row-group scan
    out = spread(wide, 32)
    assert out is wide  # true no-op: no new plan node at all
    # and the local case still fans out
    narrow = docs.coalesce(1)
    fanned = spread(narrow, 32)
    assert fanned.rdd.getNumPartitions() == 32


def test_q4_semi_join_shape(plans):
    """EXISTS compiles to a semi join (one probe row per order, no
    fan-out dedup) and the date filter reaches the orders scan."""
    p = plans["tpch_q4_late_shipped"]
    assert "LeftSemi" in p or "left_semi" in p
    assert "PushedFilters: [" in p and "o_orderdate" in p


def test_q10_topk_is_heap(plans):
    p = plans["tpch_q10_returned_topk"]
    assert "TakeOrderedAndProject" in p
    assert count_nodes(p, "BroadcastHashJoin") >= 1  # nation broadcast
    # returnflag filter pushed to the lineitem scan
    assert "EqualTo(l_returnflag,R)" in p


def test_q18_aggregates_before_join(plans):
    """The qty rollup runs on lineitem alone (partial+final aggregate
    pair) and the HAVING filter on the aggregated sum exists BEFORE the
    join-back — i.e. the joins consume the already-shrunk grouped set,
    not the raw fact. The simple-mode tree nests children under their
    parent joins, so the aggregate pipeline must appear at greater
    indentation than the first join."""
    p = plans["tpch_q18_large_orders"]
    assert count_nodes(p, "HashAggregate") >= 2
    simple = plans["tpch_q18_large_orders/simple"].splitlines()
    first_join = next(i for i, ln in enumerate(simple) if "Join" in ln)
    having = next(
        i for i, ln in enumerate(simple) if "Filter" in ln and "sum_qty" in ln
    )
    aggs = [i for i, ln in enumerate(simple) if "HashAggregate" in ln]
    # children print below their parent: HAVING filter + aggregate sit
    # under the join as its (streamed) input, i.e. the join consumes the
    # aggregated set
    assert having > first_join
    assert any(i > having for i in aggs)


def test_q19_disjunction_derives_pushdown(plans):
    """Catalyst must derive per-side residuals from the OR-of-ANDs:
    the quantity range union reaches the lineitem scan."""
    p = plans["tpch_q19_disjunctive"]
    read = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in ln for ln in read)
    assert any("p_brand" in ln or "p_size" in ln for ln in read)


def test_sessionize_single_shuffle(plans):
    """lag-window, running-sum window, and the final group-by all key on
    user_id: one Exchange total (the partitioning is reused)."""
    p = plans["sessionize_lag_cumsum"]
    assert count_nodes(p, "Exchange") == 1


def test_funnel_two_aggregates_no_join(plans):
    p = plans["event_funnel_conversion"]
    assert count_nodes(p, "SortMergeJoin") == 0
    assert count_nodes(p, "BroadcastHashJoin") == 0


def test_q6_all_predicates_reach_scan(plans):
    """Q6 is the pushdown microbenchmark: shipdate range, discount
    range, and quantity bound must ALL appear in PushedFilters, and the
    scan must read only the three referenced columns."""
    p = plans["tpch_q6_forecast_revenue"]
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_tax" not in read_schema and "l_orderkey" not in read_schema


def test_q7_dual_nation_broadcast(plans):
    """Both nation roles and the supplier dim broadcast: at least 3
    BroadcastHashJoins, and no shuffle keyed on a nation column."""
    p = plans["tpch_q7_volume_shipping"]
    assert count_nodes(p, "BroadcastHashJoin") >= 3
    exchanges = [ln for ln in p.splitlines() if "hashpartitioning" in ln]
    assert not any("n_nationkey" in ln or "n1_key" in ln or "n2_key" in ln
                   for ln in exchanges)


def test_q8_snowflake_broadcasts_all_dims(plans):
    """Five dims (part, supplier, both nation roles, region-pruned
    nation) broadcast; only the fact path shuffles."""
    p = plans["tpch_q8_market_share"]
    assert count_nodes(p, "BroadcastHashJoin") >= 4
    assert count_nodes(p, "SortMergeJoin") <= 2


def test_q13_outer_join_preserved(plans):
    """The priority exclusion lives in the join condition, so the
    left-outer join must survive planning (an eliminated outer join
    would drop zero-order customers)."""
    p = plans["tpch_q13_order_distribution/simple"]
    assert "LeftOuter" in p
    assert count_nodes(plans["tpch_q13_order_distribution"], "HashAggregate") >= 4


def test_q21_semi_anti_pair(plans):
    """The EXISTS/NOT EXISTS pair compiles to one left-semi and one
    left-anti join — never a fan-out inner join plus dedup."""
    p = plans["tpch_q21_waiting_suppliers/simple"]
    assert "LeftSemi" in p
    assert "LeftAnti" in p


def test_q2_ties_join_back_broadcasts_dims(plans):
    """Part/supplier dims broadcast around the offers↔best equality
    join-back; the region restriction resolves as a semi join."""
    p = plans["tpch_q2_min_price_supplier"]
    assert count_nodes(p, "BroadcastHashJoin") >= 2
    assert "LeftSemi" in plans["tpch_q2_min_price_supplier/simple"]


def test_pack_sequences_single_shuffle(plans):
    """Window cumsum keys once on the group column: one Exchange."""
    assert count_nodes(plans["pack_sequences"], "Exchange") == 1


def test_mode_uses_window_group_limit(plans):
    """rn = 1 filter must compile to WindowGroupLimit (O(1) state per
    group), after the counting aggregate pair."""
    p = plans["mode_per_group"]
    assert "WindowGroupLimit" in p
    assert count_nodes(p, "HashAggregate") >= 2


def test_quantize_is_narrow(plans):
    """int8 quantization must be shuffle-free (fold + generator only)."""
    assert count_nodes(plans["embedding_quantize_int8"], "Exchange") == 0


def test_repetition_reuses_doc_partitioning(plans):
    """(doc, gram) counts then per-doc rollup then spine join — the
    rollup and join reuse the doc-keyed partitioning, so the wide
    (doc, gram) explode shuffles exactly once."""
    p = plans["text_repetition_filter"]
    exchanges = [ln for ln in p.splitlines() if "hashpartitioning" in ln and "gram" in ln]
    assert len(exchanges) <= 2  # one per side of the detail listing


def test_decontaminate_joins_on_hash_not_string(plans):
    """The overlap join must key on the 8-byte gram hash, not gram
    strings."""
    p = plans["decontaminate_ngram_overlap"]
    joins = [ln for ln in p.splitlines() if "gram_h" in ln]
    assert joins, "gram_h key missing from plan"


def test_interval_overlap_join_is_time_bucketed(plans):
    """VERDICT r2 #3: the interval self-join must equi-key on
    (user_id, time_bucket), not user_id alone — otherwise one skewed
    user quadratically blows up a single task. The bucket column k must
    appear in the join keys (visible in the SMJ/SHJ key list and the
    hashpartitioning of both exchanges), bounding candidate pairs per
    task by events-per-(user, 5 minutes)."""
    p = plans["interval_overlap_join"]
    key_lines = [
        ln
        for ln in p.splitlines()
        if ("hashpartitioning" in ln or "Left keys" in ln)
    ]
    assert any("user_id" in ln and "k#" in ln for ln in key_lines), (
        "join must shuffle on (user_id, bucket k); got:\n"
        + "\n".join(key_lines)
    )


def test_pq_codes_broadcasts_codebook(plans):
    """PQ encode must broadcast the k×blocks codeword table — a shuffle
    of the full corpus keyed by block id would move every vector for a
    dimension-table-sized build side."""
    p = plans["embedding_pq_codes"]
    assert count_nodes(p, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in p or count_nodes(p, "SortMergeJoin") <= 2


def test_pagerank_reuses_cached_edges(plans):
    """All three PageRank iterations must read the materialized edge
    list, not re-run the MinHash verify pipeline per reference. Since
    round 7 the edge list is an eager localCheckpoint (lineage
    truncated to a LogicalRDD leaf — see operators/dedup.
    standard_undirected_edges), so the plan shows an ExistingRDD scan
    and, crucially, NO re-derivation (no shingle/minhash joins)."""
    p = plans["graph_pagerank_int"]
    assert ("InMemoryTableScan" in p) or ("Scan ExistingRDD" in p)
    # the MinHash pipeline must not appear inline in any iteration
    assert "parquet" not in p.lower()


def test_kmeans_broadcasts_centroids(plans):
    """Both Lloyd assignment joins broadcast the k×64-row centroid
    table."""
    p = plans["kmeans_lloyd_int"]
    assert count_nodes(p, "BroadcastHashJoin") >= 2


def test_bpe_topk_is_heap(plans):
    """Top-20 pairs must be TakeOrderedAndProject (k rows per
    partition), never a global sort."""
    p = plans["bpe_pair_counts"]
    assert count_nodes(p, "TakeOrderedAndProject") == 1
    assert count_nodes(p, "Sort") == 0


def test_incremental_agg_is_partial_merge(plans):
    """Maintenance merges three group-sized partials via full-outer
    joins — group-key-sized inputs, no fact-table join."""
    p = plans["incremental_agg_maintenance"]
    assert "FullOuter" in p


def test_corpus_clean_e2e_two_shuffles(plans):
    """The composed cleaning pipeline must stay at two data shuffles —
    the digest-keyed dedup aggregate and the shard window; the
    dedup-survivor join-back broadcasts (digest+id sized)."""
    p = plans["corpus_clean_e2e"]
    assert count_nodes(p, "Exchange") == 2
    assert count_nodes(p, "BroadcastExchange") == 1


def test_shard_order_single_window_shuffle(plans):
    """The layout query is one hash-partitioned window: exactly one
    exchange, no global sort."""
    p = plans["corpus_shard_order"]
    assert count_nodes(p, "Exchange") == 1
    assert count_nodes(p, "Window") == 1


def test_cms_sketch_partial_agg_single_shuffle(plans):
    """The Count-Min sketch must be a map-side-combined count: partial
    HashAggregate before the one (depth, cell)-keyed exchange, so the
    shuffle carries <=256 rows per partition regardless of corpus size."""
    p = plans["token_countmin_sketch"]
    assert count_nodes(p, "HashAggregate") == 2
    # one data shuffle (plus optionally the spread() round-robin, which
    # repartitions raw input rows before the per-row md5 work)
    assert count_nodes(p, "Exchange") <= 2
    assert "Generate" in p  # posexplode of the d cell ids


def test_heavy_hitters_probe_broadcasts_sketch(plans):
    """The CMS probe joins the vocabulary-sized token table against the
    <=256-row sketch — that side must broadcast, never shuffle the
    sketch join."""
    p = plans["heavy_hitters_cms"]
    assert count_nodes(p, "BroadcastHashJoin") >= 1


def test_semantic_dedup_pairs_shuffle_on_centroid(plans):
    """SemDeDup's quadratic term must be cluster-local: the pair
    self-join equi-keys on centroid_id (hash-partitioned join), with the
    only nested-loop being the broadcast 8-row centroid assignment."""
    p = plans["semantic_dedup"]
    assert "CartesianProduct" not in p
    joins = re.findall(r"\(\d+\) (SortMergeJoin|ShuffledHashJoin)[^\n]*", p)
    assert joins, "pair join must be an equi-join on centroid_id"
    assert "centroid_id" in p


def test_bloom_bits_broadcast_and_semi(plans):
    """The <=1024-row distinct-bit table must broadcast to the probe
    side (left semi): the whole point is pruning the fact side without
    shuffling it against the filter."""
    p = plans["bloom_semijoin_stats"]
    assert re.search(r"BroadcastHashJoin .*LeftSemi", p) or (
        "BroadcastHashJoin" in p and "LeftSemi" in p
    )


# ---------------------------------------------------------------------------
# round-5 tier plan shapes
# ---------------------------------------------------------------------------


def test_hll_registers_partial_agg_no_cartesian(plans):
    """HLL register build must map-side combine (partial max per bucket
    before the <=64-row exchange); the 1-row k/exact tables join via
    broadcast nested loop, never a cartesian."""
    p = plans["hll_deterministic_estimate"]
    assert "CartesianProduct" not in p
    assert count_nodes(p, "HashAggregate") >= 2


def test_random_projection_is_narrow(plans):
    """JL projection is row-local JVM folds over a literal sign matrix:
    no joins, no aggregate shuffles — the only allowed exchange is
    spread()'s round-robin over the raw input."""
    p = plans["random_projection_embed"]
    assert count_nodes(p, "Exchange") <= 1
    assert "Join" not in p
    assert "Generate" in p  # posexplode to long format


def test_inverted_index_two_phase_salted(plans):
    """Posting-list build must be the salted two-phase merge: distinct
    + (token, salt) phase + token phase = exactly 3 exchanges, with
    object-hash aggregation for the bounded collect_lists."""
    p = plans["inverted_index_postings"]
    assert count_nodes(p, "Exchange") == 3
    assert "ObjectHashAggregate" in p


def test_weighted_sample_single_window_shuffle(plans):
    """Systematic sampling partitions both windows by source: one
    exchange feeds cum + total, no global sort."""
    p = plans["weighted_sample_systematic"]
    assert count_nodes(p, "Exchange") == 1
    assert count_nodes(p, "Window") == 2


def test_winsorize_cuts_broadcast_back(plans):
    """The 3-row p05/p95 cut table must broadcast onto the fact scan."""
    p = plans["winsorize_clip"]
    assert count_nodes(p, "BroadcastHashJoin") >= 1


def test_mad_medians_broadcast_back(plans):
    """Both the 5-row median and MAD tables broadcast onto the fact —
    the fact side never re-shuffles for the joins."""
    p = plans["mad_robust_outliers"]
    assert count_nodes(p, "BroadcastHashJoin") >= 2


def test_ann_funnel_topk_and_bucket_probe(plans):
    """The composed ANN funnel ends in a heap top-k (never a global
    sort) and probes the bucket via a broadcast of the 1-row query."""
    p = plans["ann_jl_lsh_topk"]
    assert count_nodes(p, "TakeOrderedAndProject") == 1
    assert "CartesianProduct" not in p
    assert count_nodes(p, "BroadcastHashJoin") >= 1


def test_pmi_vocab_broadcasts(plans):
    """PMI joins the pair table against the unigram vocabulary twice —
    both must broadcast (raw-token shuffle would hot-key stopwords),
    and pair generation must be Generates, not a positional self-join."""
    p = plans["token_cooccurrence_pmi"]
    assert count_nodes(p, "BroadcastHashJoin") >= 2
    assert count_nodes(p, "Generate") >= 2
    assert count_nodes(p, "SortMergeJoin") == 0


def test_zone_map_single_shuffle(plans):
    """The manifest build is one partial-agg shuffle keyed by shard."""
    p = plans["zone_map_pruning_stats"]
    assert count_nodes(p, "Exchange") == 1
    assert count_nodes(p, "HashAggregate") == 2


def test_containment_pairs_broadcast(plans):
    """The LSH candidate pair list broadcasts onto the shingle table
    for both sides — exact verification never shuffles the corpus."""
    p = plans["doc_shingle_containment"]
    assert "CartesianProduct" not in p
    assert count_nodes(p, "BroadcastHashJoin") >= 2


def test_clustering_coeff_no_cartesian(plans):
    """Wedge join + closing-edge join are equi-joins on the canonical
    edge list; the triangle credit explode is a Generate."""
    p = plans["graph_clustering_coeff"]
    assert "CartesianProduct" not in p
    assert "Generate" in p


def test_plan_inventory_row_ignores_session_history(spark):
    """A PLANS.md row is a property of its entry alone: the row of
    dedup_cascade_report is the same whether it is planned first or
    right after dedup_components, whose build fills the shared dedup
    memos that the cascade's plan reads."""
    import importlib.util
    import os

    from clean_census_acs_data_spark import session as S

    spec = importlib.util.spec_from_file_location(
        "plan_inventory_mod",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "plan_inventory.py"),
    )
    inv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(inv)
    try:
        first = inv.plan_row(spark, "dedup_cascade_report")
        inv.plan_row(spark, "dedup_components")
        assert inv.plan_row(spark, "dedup_cascade_report") == first
    finally:
        S.teardown_shared_memos()
        S.reap_tracked_caches()

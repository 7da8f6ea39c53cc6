"""Benchmark runner — the driver's per-round perf probe.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
bench JSON: a full-detail line (headline + per-query secondary
timings), a compact diffable line (headline map + top-20 slowest
secondary), then an ULTRA-COMPACT final line (< ~1200 chars:
{"metric": ..., "value": total_sec, "unit": "sec", top-5 maps,
"secondary_total": ..., "warmup_init_sec": ..., "sf": ...}) so a
2000-char stdout tail capture always retains the headline total.

Each query is executed to completion with a cheap terminal action
(count via write-nothing collect of agg) — we time the full pipeline
including scan, shuffle, and aggregation, not plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clean_census_acs_data_spark.session import (  # noqa: E402
    get_spark,
    reap_tracked_caches,
)
from clean_census_acs_data_spark.queries import QUERIES  # noqa: E402


def _storage_bytes(spark) -> int:
    """Total bytes currently held in RDD/cache storage (mem + disk).

    Recorded per entry so cache-leak pressure and box drift are
    separable from the artifact alone (VERDICT r8 ask #2b): a steadily
    climbing series means accumulated blocks landing on later entries'
    timings; a flat series means any slowdown is environmental."""
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))
    except Exception:
        return -1


def median_ratio_vs_prev(
    prev_full: dict, timings: dict[str, float], secondary: dict[str, float]
) -> float | None:
    """Median per-entry time ratio (this run / previous round's run).

    The r8 box-drift gauge (SURVEY §4) as a computed artifact field:
    entries the round did NOT touch move uniformly with the machine, so
    the MEDIAN ratio over all common entries estimates environment
    drift robustly — the touched minority cannot move the median.
    Entries faster than 0.2 s in the prior round are excluded (timer
    noise dominates their ratio). Returns None when too few overlap."""
    prev_map = {**prev_full.get("queries", {}), **prev_full.get("secondary", {})}
    cur_map = {**timings, **secondary}
    ratios = [
        cur_map[k] / prev_map[k]
        for k in cur_map.keys() & prev_map.keys()
        if prev_map[k] >= 0.2
    ]
    if len(ratios) < 10:
        return None
    import statistics

    return round(statistics.median(ratios), 4)

# Box-skew sentinels (VERDICT r9 ask #3): trivial, plan-fingerprint-
# stable relational entries untouched since r1/r2 (pinned by
# tests/test_plans.py), each sub-second on a quiet box. Their median
# ratio vs the prior round's artifact isolates MACHINE skew from code
# change: nothing in a normal round touches these plans, so a pinned
# gauge over ~1.3 means the box is hot and the artifact would misstate
# the round (the committed r9 artifact was 1.7× skewed while its
# all-entry median gauge read only 1.16 — heavy entries with real
# variance drowned the signal).
PINNED_SENTINELS = [
    "scan_project_filter",
    "broadcast_join_dim",
    "agg_distinct",
    "window_rank",
    "topk_orders",
    "latest_by_key",
    "full_outer_join",
    "explode_tokens",
    "pivot_status",
    "cube_flags",
    "set_ops_all",
    "string_agg_sorted",
    "checksum_functions",
    "histogram_prices",
    "mode_per_group",
]

# Refuse to stamp a ROUND-KEYED artifact when the pinned gauge says the
# box is >1.3× the prior round's — a skewed round artifact poisons
# every future round's comparisons (VERDICT r9 'What's wrong #2').
PINNED_SKEW_BOUND = 1.3

# The SF at which round-keyed BENCH_FULL_r{N}.json artifacts are valid
# as cross-round baselines; other scales write only the rolling file.
CANONICAL_BENCH_SF = 0.1

# Likewise the core count (r13): the driver's scaling probe re-runs
# bench at SPARK_GRAFT_CPUS=8, and in r12 that post-close 8-core pass
# hit the round-inference path and landed as BENCH_FULL_r13.json —
# an 8-core stamp is not a valid 32-core baseline, and every r13 gauge
# would have been computed against it. Non-canonical core counts write
# only the rolling file.
CANONICAL_BENCH_CPUS = 32


class _SkipRoundArtifact(Exception):
    """Internal: non-canonical SF — skip the round-keyed write."""


def canonical_cpus(value: str) -> bool:
    """True when a SPARK_GRAFT_CPUS value names the canonical core
    count. A value that does not parse as a plain integer ("8x", " 8",
    "") is not canonical: the run's core count is then unknown."""
    return value.isdigit() and int(value) == CANONICAL_BENCH_CPUS


def pinned_ratio_vs_prev(
    prev_full: dict, timings: dict[str, float], secondary: dict[str, float]
) -> float | None:
    """Median time ratio over the PINNED_SENTINELS subset only.

    Unlike median_ratio_vs_prev (all common entries — robust to a
    touched minority but diluted by heavy entries' real variance),
    this gauge uses exclusively trivial never-touched plans, so it
    reads pure box skew. Sentinels faster than 0.15 s in the prior
    artifact are excluded (timer noise); needs ≥ 5 overlapping."""
    prev_map = {**prev_full.get("queries", {}), **prev_full.get("secondary", {})}
    cur_map = {**timings, **secondary}
    ratios = [
        cur_map[k] / prev_map[k]
        for k in PINNED_SENTINELS
        if k in cur_map and prev_map.get(k, 0.0) >= 0.15
    ]
    if len(ratios) < 5:
        return None
    import statistics

    return round(statistics.median(ratios), 4)


def refuse_round_artifact(
    pinned_ratio: float | None, baseline_stamp_ratio: float | None = None
) -> bool:
    """True when the box is too skewed to stamp a round artifact.

    ``baseline_stamp_ratio`` is the prior artifact's OWN pinned gauge at
    the moment it was FORCE-stamped past this guard (recorded by the
    ADVICE r10 fix). A forced baseline was measured on a box that read
    ``baseline_stamp_ratio``× its predecessor, so a current gauge of r
    against it is really r × baseline_stamp_ratio against the last
    honestly-stamped round — chain through the poisoned link instead of
    letting it make the gauge read <1.0× forever (never refusing) or
    refuse honest runs."""
    if pinned_ratio is None:
        return False
    effective = pinned_ratio * (baseline_stamp_ratio or 1.0)
    return effective > PINNED_SKEW_BOUND


def effective_pinned_gauge(stamp: dict) -> float | None:
    """The stamp's box-skew gauge chained back to the last HONEST round.

    For a FORCE-stamped artifact that is ``forced_stamp_pinned_ratio``
    (recorded already-chained by the ADVICE r10 fix). A seal-only
    force on an honest box records NO multiplier by that rule, so when
    the key is absent we fall through to the honest chain below —
    otherwise such a stamp would gauge as None and refuse every future
    unforced supersede, including a strictly better honest rerun
    (r12 review finding). For an honest stamp it is
    ``pinned_ratio_vs_prev`` times the prior link's forced multiplier
    (``ratio_prev_stamp_ratio``) when the comparison baseline itself
    was forced. None when no gauge was recorded."""
    if stamp.get("forced_stamp") and stamp.get("forced_stamp_pinned_ratio"):
        return stamp.get("forced_stamp_pinned_ratio")
    pinned = stamp.get("pinned_ratio_vs_prev")
    if pinned is None:
        return None
    return pinned * (stamp.get("ratio_prev_stamp_ratio") or 1.0)


# Quiet-band UPPER bound for the stamp seal rule below: a pinned gauge
# inside this band certifies the box ran at honest, comparable speed.
# The bound is one-sided ON PURPOSE: gauges < 1 mean the box was FASTER
# than the baseline stamp's — also honest; only a slow box (> 1.15)
# misstates the round.
SEAL_QUIET_BAND = 1.15


def seal_supersede_ok(
    sealed: dict,
    new_effective_pinned: float | None,
    *,
    sealed_cost: float | None = None,
    new_cost: float | None = None,
) -> bool:
    """VERDICT r11 #1: may a new stamp overwrite an EXISTING round-keyed
    artifact without FORCE?

    The r11 loophole: the seal guard only fired when the round number
    came from the ENV, so the driver's post-close bench hit the
    round-INFERENCE path and silently overwrote the sealed honest
    27.49 s stamp (pinned gauge 1.043) with a 1.19×-hot 37.30 s one.
    Unknown gauges on either side refuse: we cannot prove the new stamp
    is the better one.

    r13 rule (VERDICT r12 'What's wrong #2' / ask #3): **the FIRST
    quiet-band stamp of a round is FINAL.** The r12 extension let the
    lowest gauge-normalized total cost win within the quiet band, which
    made re-running the bench strictly improving — a min over N noisy
    draws is a biased-low order statistic no matter how principled the
    tiebreak (the sealed r12 stamp was the best of seven runs spanning
    32.3–46.4 s). Now: a sealed stamp whose effective pinned gauge is
    inside the quiet band (≤ SEAL_QUIET_BAND) refuses EVERY unforced
    supersede — cheaper reruns included. Only a stamp taken on a
    demonstrably skewed box (gauge outside the band) may be replaced,
    and only by a stamp whose gauge is no further from 1.0 (log
    distance) — the r11 recovery rule, unchanged. ``sealed_cost`` /
    ``new_cost`` are accepted for caller compatibility but no longer
    participate in the decision."""
    del sealed_cost, new_cost  # r13: cost preference removed (biased-low)
    if not new_effective_pinned or new_effective_pinned <= 0.0:
        return False
    old = effective_pinned_gauge(sealed)
    if not old or old <= 0.0:
        return False
    import math

    if old <= SEAL_QUIET_BAND:
        # first quiet stamp wins — rerunning must not be improving
        return False
    return abs(math.log(new_effective_pinned)) <= abs(math.log(old)) + 1e-9


HEADLINE = [
    # relational core
    "q1_pricing_summary",
    "scan_project_filter",
    "broadcast_join_dim",
    "sortmerge_join_fact",
    "agg_distinct",
    "rollup_geo",
    "window_rank",
    "window_running",
    "topk_orders",
    "salted_agg_skew",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "scalar_subquery_smallqty",
    # event-time / temporal
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
    "asof_join_last_click",
    "range_join_recent_clicks",
    # training-data pipeline tier
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_components",
    "dedup_simhash",
    "text_stats",
    "text_quality_score",
    "token_frequencies",
    "similarity_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "multimodal_features",
    "stratified_split",
    "profile_columns",
    # analytics tier
    "window_offsets",
    "window_range_frame",
    "percentile_exact",
    "stats_moments",
    "gap_fill_forward",
    "sql_interface_rank",
    "latest_by_key",
    "full_outer_join",
    # JVM generator vs Python UDTF — same logical op, quantifies the
    # row-at-a-time Python path cost
    "explode_tokens",
    "udtf_tokenize",
]

# Heavier/broader queries benched separately so HEADLINE (and its
# round-over-round total) stays like-for-like with r1; reported under
# the "secondary" key, excluded from "value".
SECONDARY = [
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "embedding_cosine_neardup",
    "fuzzy_match_levenshtein",
    "salted_join_skew",
    "pivot_status",
    "cube_flags",
    "grouping_sets_mix",
    "set_ops_all",
    "exact_median_disc",
    "histogram_prices",
    "string_agg_sorted",
    "text_fingerprint_winnow",
    "text_lang_id",
    "window_distribution",
    "checksum_functions",
    # round-2 additions
    "tpch_q2_min_price_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q11_value_concentration",
    "tpch_q12_priority_shipping",
    "tpch_q13_order_distribution",
    "tpch_q15_top_supplier",
    "tpch_q20_excess_suppliers",
    "tpch_q21_waiting_suppliers",
    "tpch_q4_late_shipped",
    "tpch_q10_returned_topk",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive",
    "merge_upsert_cdc",
    "scd2_user_values",
    "sessionize_lag_cumsum",
    "event_funnel_conversion",
    "retention_cohorts",
    "embedding_centroids",
    "outlier_orders_exact",
    "zorder_morton",
    "text_pii_redaction",
    "cap_docs_per_source",
    "multimodal_arrow_stats",
    "text_repetition_filter",
    "decontaminate_ngram_overlap",
    "embedding_quantize_int8",
    "corpus_mix_sample",
    "pack_sequences",
    "stats_corr_covar",
    "mode_per_group",
    "recursive_hierarchy_walk",
    "text_tfidf",
    "streaming_replay_source",
    "pandas_weighted_median",
    "graph_triangle_summary",
    "dq_constraint_checks",
    "asof_join_next_click",
    # round-3 additions
    "lateral_topk_per_nation",
    "dedup_incremental_reference",
    "doc_chunk_sliding",
    "interval_overlap_join",
    "bm25_score",
    "percentile_cont_interp",
    "hll_partial_merge",
    # round-3 tier B
    "dedup_survivor_selection",
    "graph_pagerank_int",
    "lm_unigram_surprisal",
    "embedding_pq_codes",
    "bpe_pair_counts",
    "streaming_stream_stream_join",
    "incremental_agg_maintenance",
    "kmeans_lloyd_int",
    "text_normalize",
    "doc_chunk_cdc",
    "quality_percentile_filter",
    "corpus_shard_order",
    "corpus_clean_e2e",
    # round-4 additions
    "leakage_safe_split",
    "token_countmin_sketch",
    "heavy_hitters_cms",
    "semantic_dedup",
    "bloom_semijoin_stats",
    "dedup_substring_spans",
    "quantile_log2_sketch",
    "streaming_cms_merge",
    # round-5 additions
    "hll_deterministic_estimate",
    "mad_robust_outliers",
    "random_projection_embed",
    "inverted_index_postings",
    "weighted_sample_systematic",
    "winsorize_clip",
    "graph_clustering_coeff",
    "streaming_log2_histogram",
    "token_cooccurrence_pmi",
    "ann_jl_lsh_topk",
    "zone_map_pruning_stats",
    "doc_shingle_containment",
    "streaming_topk_complete",
    "minhash_estimate_audit",
    "lm_bigram_surprisal",
    "user_rfm_features",
    "cross_source_fp_overlap",
    "streaming_hll_registers",
    "markov_transition_counts",
    "vocab_oov_rate",
    "user_interevent_stats",
    "source_lang_profile",
    "dedup_cluster_stats",
    "ann_recall_audit",
    "quantile_sketch_audit",
    "psi_drift_buckets",
    "k_anonymity_audit",
    "incremental_topk_maintenance",
    "join_size_cms_estimate",
    "distinct_kmv_estimate",
    "kmv_intersection_estimate",
    "asof_interpolate",
    "conversion_wilson_by_nation",
    "skyline_pareto_orders",
    "bitmap_index_status",
    "conversion_latency_median",
    "gnn_neighbor_sum",
    "streaming_bitmap_index",
    "streaming_kmv_state",
    "event_seasonality_profile",
    "near_dup_jaccard_histogram",
    "market_basket_lift",
    "range_partition_boundaries",
    "topk_with_ties_per_nation",
    "incremental_components_maintenance",
    # round-7 additions
    "pq_adc_topk",
    "knn_join_ivf",
    "attribution_first_last",
    "skew_key_diagnostics",
    "snapshot_diff_reconcile",
    "seasonal_anomaly_hours",
    "char_ngram_entropy",
    "streaming_minhash_registers",
    "recsys_item_item_topk",
    "funnel_time_constrained",
    "dedup_exact_normalized",
    "event_path_trigrams",
    "pareto_8020_concentration",
    "lang_id_confusion",
    "keyword_topk_per_doc",
    "zipf_slope_fit",
    "open_orders_sweep",
    "session_duration_log2",
    "point_in_time_join_scd2",
    "label_propagation_communities",
    "late_arrival_profile",
    "feature_hashing_bow",
    "dedup_pair_provenance",
    "zorder_skipping_audit",
    "pandas_scalar_cosine",
    "token_count_bpe_regex",
    "stats_skew_kurtosis",
    "ratio_to_parent_rollup",
    # round-8 additions
    "ohlc_bars_hourly",
    "time_weighted_average",
    "sliding_distinct_users",
    "analyze_table_stats",
    "streaming_ohlc_state",
    "applyinpandas_minmax_scale",
    "cogroup_click_purchase_stats",
    "similarity_lsh_multiprobe",
    "group_sample_topk_hash",
    "three_source_overlap_venn",
    "dedup_impact_report",
    "lsh_parameter_sweep",
    "trending_event_types",
    "quantile_rank_normalize",
    "yoy_revenue_growth",
    "hll_merge_across_sources",
]

# every registered query not already listed joins SECONDARY — the
# registry is the source of truth, so a new entry can never be silently
# unbenched (the r4 additions were invisible to the static list)
_listed = set(HEADLINE) | set(SECONDARY)
SECONDARY += [n for n in QUERIES if n not in _listed]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # engine, not first-touch JIT
    warmup_init: dict[str, float] = {}
    t0 = time.perf_counter()
    QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    warmup_init["jvm_and_scan"] = round(time.perf_counter() - t0, 4)
    # likewise the two session-level one-time costs that otherwise land
    # on whichever SECONDARY entry runs first: the streaming engine's
    # first-query init (~7 s: state-store + micro-batch machinery) and
    # the Python-datasource first use (~3 s: worker-pool spawn). Warmed
    # at the smallest fixture so the cost is the init, not data. The
    # init cost is RECORDED below (warmup_init_sec) so per-query numbers
    # are self-describing: a cold consumer pays these once on top.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        # The three one-time engine spawns are INDEPENDENT init paths —
        # the JVM micro-batch/state-store machinery, the Python
        # DataSource planner worker pool, and the applyInPandasWithState
        # state-worker pool — so their spawn waits overlap cleanly in
        # threads (SparkSession actions are thread-safe). Serial, they
        # cost their sum (~16 s quiet-box, ~40% of headline-equivalent
        # time — VERDICT r10 ask #4); parallel, the suite pays ~max of
        # the three. streaming_parallel_spawn is the WALL cost the
        # suite actually paid; the per-engine detail values OVERLAP
        # (each includes contention) and must not be summed.
        # Cheaper pre-warm investigated (r11) and REJECTED: a minimal
        # 1-state BATCH Python-DataSource read costs the same ~6.5 s
        # cold (the spend is the pyspark.sql.worker create/plan/read
        # daemon stack itself, not the streaming wrapper) and only
        # PARTIALLY warms the streaming-DS path (replay still 4.5 s
        # after it vs 2-3 s warm) — no cheaper warm exists downstream
        # of Spark itself.
        import threading

        detail: dict[str, float] = {}
        warm_errors: list[BaseException] = []

        def _warm(key: str, qname: str) -> None:
            # a failed warm must ABORT bench like the serial code did —
            # otherwise the spawn cost is silently billed to whichever
            # entry runs first and the artifact records a phantom
            # regression with no error anywhere (review r11)
            try:
                t = time.perf_counter()
                QUERIES[qname](spark, warm_dir).collect()
                detail[key] = round(time.perf_counter() - t, 4)
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                warm_errors.append(exc)

        threads = [
            threading.Thread(target=_warm, args=(key, qname))
            for key, qname in [
                ("streaming_engine_first_query", "streaming_tumbling_watermark"),
                ("python_datasource_spawn", "streaming_replay_source"),
                ("pandas_state_worker_spawn", "streaming_stateful_sessions"),
                # r12: the scalar Arrow-UDF (ArrowEvalPython) path is a
                # FOURTH independent first-touch (~2 s measured: 3.1 s
                # first rep vs ~1.0 s steady for pandas_scalar_cosine
                # even after the three warms above) — previously billed
                # to whichever ArrowEvalPython entry ran first.
                ("arrow_scalar_udf_spawn", "pandas_scalar_cosine"),
            ]
        ]
        t0 = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if warm_errors:
            raise warm_errors[0]
        warmup_init["streaming_parallel_spawn"] = round(
            time.perf_counter() - t0, 4
        )
        warmup_init["parallel_detail_overlapping"] = detail

    storage_after: dict[str, int] = {}

    def run(names: list[str]) -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in names:
            if name not in QUERIES:
                continue
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            # noop sink: materializes every output column (count() would
            # let Catalyst prune the projections and under-measure)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
            # Reap entry-LOCAL caches after the clock stops — the
            # graded number is the query, the unpersist is harness
            # hygiene (ADVICE r8: accumulated blocks pressure storage
            # memory and inflate later entries). Session-SHARED memos
            # (dedup pair/edge/component tables, the IVF stages) are
            # untracked and survive — the cross-entry artifacts a
            # production pipeline persists.
            reap_tracked_caches()
            storage_after[name] = _storage_bytes(spark)
        return timings

    timings = run(HEADLINE)
    secondary = run(SECONDARY)
    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full detail line first (per-query secondary timings are large);
    # then a compact summary as the FINAL line so the driver's stdout
    # tail always retains the verdict-relevant numbers (VERDICT r4
    # 'What's wrong #2': BENCH_r04.json stored only the tail of the
    # secondary dict and lost the headline total).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "secondary": secondary,
                "secondary_total": round(sum(secondary.values()), 4),
                "sf": sf_val,
            }
        )
    )
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "secondary": secondary,
        "secondary_total": round(sum(secondary.values()), 4),
        "warmup_init_sec": warmup_init,
        "sf": sf_val,
        # r13: the core count the run actually used, so an artifact
        # taken at a non-canonical count is self-describing
        "cpus": (
            int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            if os.environ.get("SPARK_GRAFT_CPUS", "32").isdigit()
            else os.environ.get("SPARK_GRAFT_CPUS")
        ),
        # per-entry cache-storage occupancy AFTER that entry's reap:
        # separates cache-leak pressure from box drift (VERDICT r8 #2b)
        "storage_after_bytes": storage_after,
    }
    # box-drift gauge vs the newest committed prior-round artifact
    # (VERDICT r8 ask #5): median per-entry ratio over common keys
    try:
        import glob as _glob
        import re as _re

        here0 = os.path.dirname(os.path.abspath(__file__))
        # only round-keyed names participate (r13: a stray file like
        # BENCH_FULL_8core_r12.json matching the glob but not the
        # round pattern must not AttributeError the whole gauge block)
        prevs = sorted(
            (
                p
                for p in _glob.glob(os.path.join(here0, "BENCH_FULL_r*.json"))
                if _re.search(r"r(\d+)\.json$", p)
            ),
            key=lambda p: int(
                _re.search(r"r(\d+)\.json$", p).group(1)
            ),
        )
        if prevs:
            with open(prevs[-1]) as f:
                prev_full = json.load(f)
            # ratios only mean something at the SAME scale factor
            if prev_full.get("sf") == sf_val:
                full["median_ratio_vs_prev"] = median_ratio_vs_prev(
                    prev_full, timings, secondary
                )
                full["pinned_ratio_vs_prev"] = pinned_ratio_vs_prev(
                    prev_full, timings, secondary
                )
                full["ratio_prev_artifact"] = os.path.basename(prevs[-1])
                # ADVICE r10: a FORCE-stamped baseline was itself
                # measured on a skewed box; carry its stamp-time gauge
                # so the refusal chains ratios back to the last honest
                # round instead of trusting the poisoned link.
                if prev_full.get("forced_stamp"):
                    full["ratio_prev_forced"] = True
                    full["ratio_prev_stamp_ratio"] = prev_full.get(
                        "forced_stamp_pinned_ratio"
                    )
                    print(
                        "bench: WARNING — comparison baseline "
                        f"{os.path.basename(prevs[-1])} was FORCE-stamped "
                        f"(stamp-time pinned gauge "
                        f"{prev_full.get('forced_stamp_pinned_ratio')}); "
                        "gauge ratios are normalized through it",
                        file=sys.stderr,
                    )
    except (OSError, ValueError, AttributeError):
        pass
    # Persist the COMPLETE per-query map to a committed artifact: the
    # driver's stdout tail drops the long line's head, so BENCH_r04/r05
    # shared ZERO comparable secondary keys and per-query regressions in
    # the secondary set were invisible round-over-round (VERDICT r5
    # 'What's missing #4'). The file survives truncation by not being
    # stdout. Also written round-keyed (BENCH_FULL_r{N}.json, N inferred
    # from the driver's BENCH_r* artifacts) so scripts/bench_diff.py has
    # a committed prior-round map to diff against (VERDICT r6 ask #4 —
    # the rolling file alone is overwritten every close).
    try:
        import glob as _glob

        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
        # Round-keyed artifacts exist to be cross-round baselines, and
        # ratios only mean anything at the canonical bench scale — a
        # smoke run at another SF (e.g. sf0.001 to validate the CLI)
        # must never occupy a round slot: in r11 exactly that happened
        # (inference stamped the smoke as BENCH_FULL_r11.json; the real
        # sf0.1 run was then seal-blocked and its gauges read null).
        if sf_val != CANONICAL_BENCH_SF:
            print(
                f"bench: sf={sf_val} is not the canonical round scale "
                f"({CANONICAL_BENCH_SF}); skipping the round-keyed "
                "artifact (rolling BENCH_FULL.json written).",
                file=sys.stderr,
            )
            raise _SkipRoundArtifact
        bench_cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        if not canonical_cpus(bench_cpus):
            print(
                f"bench: cpus={bench_cpus} is not the canonical core "
                f"count ({CANONICAL_BENCH_CPUS}); skipping the "
                "round-keyed artifact (rolling BENCH_FULL.json written).",
                file=sys.stderr,
            )
            raise _SkipRoundArtifact
        # Explicit round wins (ADVICE r7: if the driver's BENCH_r{N}
        # artifact for the IN-PROGRESS round already exists when bench
        # runs, max+1 inference mislabels the full artifact as the NEXT
        # round); inference is only the fallback.
        env_round = os.environ.get("SPARK_GRAFT_ROUND", "")
        if env_round.isdigit():
            cur = int(env_round)
        else:
            rounds = [
                int(os.path.basename(p)[len("BENCH_r"):-len(".json")])
                for p in _glob.glob(os.path.join(here, "BENCH_r*.json"))
                if os.path.basename(p)[len("BENCH_r"):-len(".json")].isdigit()
            ]
            cur = (max(rounds) + 1) if rounds else 1
        round_path = os.path.join(here, f"BENCH_FULL_r{cur:02d}.json")
        # An existing round-keyed artifact is a SEAL no matter how the
        # round number was derived (VERDICT r11 #1: the old env-only
        # guard let the round-INFERENCE path overwrite the honest r11
        # stamp with a 1.19×-hot one). Unforced overwrite is allowed
        # only when the new stamp's gauge is demonstrably no worse —
        # keep whichever stamp has the better pinned gauge.
        force = os.environ.get("SPARK_GRAFT_ROUND_FORCE", "") == "1"
        # Guard order matters: the SEAL guard wins so its message is
        # never shadowed by the skew one — otherwise a hot box would
        # print only the skew hint, whose FORCE suggestion bypasses
        # BOTH guards at once and clobbers a sealed prior-round
        # artifact with skewed timings.
        seal_blocked = False
        round_closed = False
        if os.path.exists(round_path):
            try:
                with open(round_path) as f:
                    sealed_prev = json.load(f)
            except (OSError, ValueError):
                sealed_prev = {}
            # Round/code identity first (r12 review finding: the
            # gauge-only rule regressed the ADVICE r8 stale-env
            # protection): once the driver has recorded BENCH_r{cur}
            # the round is CLOSED — the code tree has moved on, so a
            # better gauge proves nothing about comparability. A stale
            # SPARK_GRAFT_ROUND=11 in round 12 on a quiet box would
            # otherwise relabel round-12-code timings as round 11.
            # The gauge contest is for same-round re-stamps only
            # (driver's post-close bench runs BEFORE BENCH_r{N} lands).
            round_closed = os.path.exists(
                os.path.join(here, f"BENCH_r{cur:02d}.json")
            ) or os.path.exists(os.path.join(here, f"BENCH_r{cur}.json"))

            def _stamp_cost(stamp: dict) -> float | None:
                v, s = stamp.get("value"), stamp.get("secondary_total")
                if isinstance(v, (int, float)) and isinstance(s, (int, float)):
                    return float(v) + float(s)
                return None

            seal_blocked = round_closed or not seal_supersede_ok(
                sealed_prev,
                effective_pinned_gauge(full),
                sealed_cost=_stamp_cost(sealed_prev),
                new_cost=_stamp_cost(full),
            )
        skew_blocked = refuse_round_artifact(
            full.get("pinned_ratio_vs_prev"), full.get("ratio_prev_stamp_ratio")
        )
        if seal_blocked and not force:
            reason = (
                f"round {cur} is CLOSED (driver BENCH_r{cur:02d}.json "
                "exists; the current code tree is a later round)"
                if round_closed
                else (
                    f"new pinned gauge {effective_pinned_gauge(full)} is "
                    "not better than the sealed stamp's "
                    f"{effective_pinned_gauge(sealed_prev)} (and within the "
                    "quiet band the gauge-normalized total cost "
                    f"{_stamp_cost(full)} / {effective_pinned_gauge(full)} "
                    "does not beat the sealed "
                    f"{_stamp_cost(sealed_prev)} / "
                    f"{effective_pinned_gauge(sealed_prev)})"
                )
            )
            print(
                f"bench: refusing to overwrite sealed {round_path} — "
                f"{reason} (set SPARK_GRAFT_ROUND_FORCE=1 to override)",
                file=sys.stderr,
            )
        elif skew_blocked and not force:
            # Box-skew refusal (VERDICT r9 ask #3): the pinned trivial
            # sentinels — plans no round touches — ran >1.3× the prior
            # artifact, so stamping a round artifact now would misstate
            # the ROUND by the BOX (the r9 artifact read 1.66× slower
            # on a machine the judge measured at 0.97×). The rolling
            # BENCH_FULL.json above is still written (data, not a
            # seal); rerun on a quiet box to stamp the round. The
            # FORCE hint is safe HERE because the seal guard above
            # already passed (no prior-round file at risk).
            print(
                "bench: box skew detected — pinned sentinel gauge "
                f"{full['pinned_ratio_vs_prev']}x vs prior round "
                f"(bound {PINNED_SKEW_BOUND}x); refusing to write "
                f"{os.path.basename(round_path)}. Rerun on a quiet box "
                "(or set SPARK_GRAFT_ROUND_FORCE=1 to override).",
                file=sys.stderr,
            )
        else:
            # Announce a supersede only HERE, after BOTH guards passed
            # (r12 review finding: printing it before the skew guard
            # claimed an overwrite the guard then refused).
            if os.path.exists(round_path) and not force:
                print(
                    f"bench: superseding {os.path.basename(round_path)} — "
                    f"new pinned gauge {effective_pinned_gauge(full)} is no "
                    f"worse than the sealed stamp's "
                    f"{effective_pinned_gauge(sealed_prev)}",
                    file=sys.stderr,
                )
            if force and (seal_blocked or skew_blocked):
                # ADVICE r10: FORCE bypassed a guard — record it INSIDE
                # the artifact so every later round that uses this file
                # as its comparison baseline knows. The skew multiplier
                # forced_stamp_pinned_ratio is recorded ONLY when the
                # SKEW guard was the one bypassed, and as the EFFECTIVE
                # ratio (chained through any prior forced baseline):
                # - a seal-only force on an honest box must NOT poison
                #   later gauges (its honest ratio multiplied in would
                #   under- or over-refuse later rounds), so it records
                #   no multiplier;
                # - two consecutive forced stamps must keep the chain
                #   anchored at the last HONEST round, so the recorded
                #   ratio already includes the prior link's multiplier.
                full["forced_stamp"] = True
                if skew_blocked:
                    full["forced_stamp_pinned_ratio"] = round(
                        (full.get("pinned_ratio_vs_prev") or 1.0)
                        * (full.get("ratio_prev_stamp_ratio") or 1.0),
                        4,
                    )
            with open(round_path, "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
    except (OSError, _SkipRoundArtifact):
        pass
    # Penultimate line: compact-but-diffable (headline map + top-20
    # slowest secondary). May exceed the driver's tail window — that is
    # fine, the verdict numbers live on the LAST line below.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "secondary_total": round(sum(secondary.values()), 4),
                "secondary_count": len(secondary),
                # top-20 slowest secondary entries, machine-readable —
                # enough to diff the heavy set against the prior round
                "secondary_top20": dict(
                    sorted(secondary.items(), key=lambda kv: -kv[1])[:20]
                ),
                "warmup_init_sec": warmup_init,
                "sf": sf_val,
            }
        )
    )
    # COMPACT true-last line: the driver captures a 2000-char stdout
    # tail and truncation eats the line's HEAD — in r6 the compact line
    # above outgrew the window and BENCH_r06.json lost the headline
    # "value" (VERDICT r6 'What's wrong #1'). r13 (VERDICT r12 ask #2):
    # the r12 top-5-only "queries" map starved the driver's PERF — only
    # 4 queries were comparable round-over-round and a headline entry
    # that merely fell out of the top-5 was flagged as dropped. The
    # final line now carries ALL headline timings (2-decimal rounding,
    # ~1.1 KB for 41 entries) so PERF can compare the full set; the
    # separators=(",", ":") form and the progressive drops below keep
    # it safely inside the tail window.
    last = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "median_ratio_vs_prev": full.get("median_ratio_vs_prev"),
        "pinned_ratio_vs_prev": full.get("pinned_ratio_vs_prev"),
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "secondary_total": round(sum(secondary.values()), 4),
        "secondary_count": len(secondary),
        "secondary_top5": {
            k: round(v, 2)
            for k, v in sorted(secondary.items(), key=lambda kv: -kv[1])[:5]
        },
        "sf": sf_val,
    }
    line = json.dumps(last, separators=(",", ":"))
    if len(line) > 1900:  # hard guard: never outgrow the 2000-char tail
        last.pop("secondary_top5", None)
        line = json.dumps(last, separators=(",", ":"))
    if len(line) > 1900:  # still too big (future registry growth):
        # degrade to the top-5 map rather than lose the line's head
        last["queries"] = {
            k: round(v, 2)
            for k, v in sorted(timings.items(), key=lambda kv: -kv[1])[:5]
        }
        line = json.dumps(last, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()

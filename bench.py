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

Every run writes the complete per-query map, each entry's host steal
seconds and the drift ratios against the newest round-keyed artifact
to the rolling BENCH_FULL.json. It also writes BENCH_FULL_r{N}.json
(N from $SPARK_GRAFT_ROUND, else one past the newest BENCH_r*.json)
unless round_stamp_refusal() names a reason not to, which is printed
to stderr: the first canonical-SF, canonical-CPU stamp of an open
round is final, and re-stamping means deleting that file in a commit.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clean_census_acs_data_spark.session import (  # noqa: E402
    get_spark,
    reap_tracked_caches,
)
from clean_census_acs_data_spark.queries import QUERIES  # noqa: E402
from perfbench.host import cpu_times  # noqa: E402


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

    A recorded box-drift reading (SURVEY §4); it gates nothing. Entries
    the round did NOT touch move uniformly with the machine, so the
    MEDIAN ratio over all common entries estimates environment drift
    robustly — the touched minority cannot move the median. Entries
    faster than 0.2 s in the prior round are excluded (timer noise
    dominates their ratio). Returns None when too few overlap."""
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
# ratio vs the prior round's artifact is recorded next to each entry's
# host steal seconds; it gates no write, because a 4-6x hot run once
# read 1.089 on it while the all-entry median read 0.999.
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

# The SF at which round-keyed BENCH_FULL_r{N}.json artifacts are valid
# as cross-round baselines; other scales write only the rolling file.
CANONICAL_BENCH_SF = 0.1

# Likewise the core count (r13): the driver's scaling probe re-runs
# bench at SPARK_GRAFT_CPUS=8, and in r12 that post-close 8-core pass
# hit the round-inference path and landed as BENCH_FULL_r13.json —
# an 8-core stamp is not a valid 32-core baseline, and every r13 ratio
# would have been computed against it. Non-canonical core counts write
# only the rolling file.
CANONICAL_BENCH_CPUS = 32


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
    this reading uses exclusively trivial never-touched plans. It is
    recorded data and gates nothing. Sentinels faster than 0.15 s in
    the prior artifact are excluded (timer noise); needs ≥ 5
    overlapping."""
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


def round_stamp_refusal(
    here: str, sf: float | str, cpus: str, cur: int
) -> str | None:
    """Why BENCH_FULL_r{cur}.json in ``here`` must not be written, or
    None to write it.

    Round-keyed stamps are cross-round baselines, so only a run at the
    canonical SF and core count may take one, and only while round
    ``cur`` is open (no BENCH_r{cur}.json yet — once it exists the code
    tree has moved on). The first such stamp is final: an existing
    stamp is never overwritten, so re-running the bench cannot pick
    the fastest of several draws."""
    if sf != CANONICAL_BENCH_SF:
        return f"sf={sf} is not the canonical round scale ({CANONICAL_BENCH_SF})"
    if not canonical_cpus(cpus):
        return (
            f"cpus={cpus!r} is not the canonical core count "
            f"({CANONICAL_BENCH_CPUS})"
        )
    for closed in (f"BENCH_r{cur:02d}.json", f"BENCH_r{cur}.json"):
        if os.path.exists(os.path.join(here, closed)):
            return f"round {cur} is closed ({closed} exists)"
    stamp = f"BENCH_FULL_r{cur:02d}.json"
    if os.path.exists(os.path.join(here, stamp)):
        return (
            f"{stamp} already exists (the first canonical stamp of a round "
            "is final; delete it in a commit to re-stamp)"
        )
    return None


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
    # host steal seconds (all CPUs) during each entry's timed window:
    # direct evidence of box heat, read from /proc/stat rather than
    # inferred from sentinel timings
    steal_s: dict[str, float] = {}

    def run(names: list[str]) -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in names:
            if name not in QUERIES:
                continue
            steal0 = cpu_times()[1]
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            # noop sink: materializes every output column (count() would
            # let Catalyst prune the projections and under-measure)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
            steal_s[name] = round(cpu_times()[1] - steal0, 2)
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
        "steal_s": steal_s,
        "steal_total_s": round(sum(steal_s.values()), 2),
    }
    # drift ratios vs the newest round-keyed artifact (VERDICT r8 ask
    # #5), recorded for the reader; they gate no write
    here = os.path.dirname(os.path.abspath(__file__))
    # only round-keyed names participate (r13: a stray file like
    # BENCH_FULL_8core_r12.json matches the glob but not the pattern)
    prevs = sorted(
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(here, "BENCH_FULL_r*.json"))
        if (m := re.search(r"BENCH_FULL_r(\d+)\.json$", p))
    )
    try:
        if prevs:
            with open(prevs[-1][1]) as f:
                prev_full = json.load(f)
            # ratios only mean something at the SAME scale factor
            if prev_full.get("sf") == sf_val:
                full["median_ratio_vs_prev"] = median_ratio_vs_prev(
                    prev_full, timings, secondary
                )
                full["pinned_ratio_vs_prev"] = pinned_ratio_vs_prev(
                    prev_full, timings, secondary
                )
                full["ratio_prev_artifact"] = os.path.basename(prevs[-1][1])
    except (OSError, ValueError):
        pass
    # Persist the COMPLETE per-query map to a file: a 2000-char stdout
    # tail capture drops the long line's head, so BENCH_r04/r05 shared ZERO
    # comparable secondary keys and per-query regressions in the
    # secondary set were invisible round-over-round (VERDICT r5 'What's
    # missing #4'). The rolling BENCH_FULL.json is rewritten by every
    # run; the round-keyed BENCH_FULL_r{N}.json is the committed
    # cross-round baseline scripts/bench_diff.py diffs against.

    def write_artifact(name: str) -> None:
        try:
            with open(os.path.join(here, name), "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
        except OSError as exc:
            print(f"bench: could not write {name}: {exc}", file=sys.stderr)

    write_artifact("BENCH_FULL.json")
    # Explicit round wins (ADVICE r7: if the BENCH_r{N} artifact for
    # the IN-PROGRESS round already exists when bench runs, max+1 inference mislabels the artifact as the NEXT round);
    # inference is only the fallback.
    env_round = os.environ.get("SPARK_GRAFT_ROUND", "")
    if env_round.isdigit():
        cur = int(env_round)
    else:
        rounds = [
            int(os.path.basename(p)[len("BENCH_r"):-len(".json")])
            for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if os.path.basename(p)[len("BENCH_r"):-len(".json")].isdigit()
        ]
        cur = (max(rounds) + 1) if rounds else 1
    reason = round_stamp_refusal(
        here, sf_val, os.environ.get("SPARK_GRAFT_CPUS", "32"), cur
    )
    if reason is None:
        write_artifact(f"BENCH_FULL_r{cur:02d}.json")
    else:
        print(
            f"bench: not writing BENCH_FULL_r{cur:02d}.json: {reason}",
            file=sys.stderr,
        )
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

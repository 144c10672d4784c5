"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line: {"metric": ..., "value": total_sec, "unit":
"sec", "sf": ..., "n_queries": N, "queries": {...}}.

The per-query map on stdout is capped (slowest K queries) so the line
stays well inside the driver's tail-capture window — BENCH_r06.json
recorded ``"parsed": null`` because the full 70-entry map outgrew it.
The FULL per-query map is echoed to stderr, and an ``official`` run
(every HEADLINE query at the default SF dir) also writes it to
``BENCH_DETAIL.json`` next to this file (committed per round).

Each query is timed end-to-end including the action (count of the
result) — i.e. full plan execution, not just planning — as the median
of 3 runs after a shared warmup (session + first touch of the parquet
footers). ``BENCH_DETAIL.json`` also records each query's plan
fingerprint (``plan_fingerprint``), taken from its first timed run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family — scan/agg, topk, joins,
# windows, setops, events, dedup, similarity, text. Extended as
# families land (names absent from the registry are skipped).
HEADLINE = [
    "q1_pricing_summary",
    "scan_filter_project",
    "agg_stats_by_segment",
    "orderby_limit_topk",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_order_counts",
    "join_anti_unshipped",
    "window_topk_per_group",
    "window_running_total",
    "rollup_revenue",
    "setop_priority_overlap",
    "events_sessionize",
    "events_windowed_funnel",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "text_stats",
    "text_quality_by_source",
    "text_language_id",
    "text_bpe_token_count",
    "text_curation_pipeline",
    "events_multi_rollup",
    "window_range_frame_30d",
    "multimodal_decode_features",
    # round-3 additions (per-query comparability with earlier rounds
    # holds on the shared prefix; totals are comparable from r3 on)
    "dedup_embedding_ivf",
    "dedup_incremental",
    "text_repetition_stats",
    "text_distinctive_terms",
    "embedding_kmeans_train",
    "similarity_ann_ivf_trained",
    "similarity_hard_negatives",
    "events_anomaly_zscore",
    "market_basket_pairs",
    "customer_rfm_segments",
    "embedding_pq_encode",
    # round-5 additions (same comparability rule: shared prefix
    # comparable across rounds; totals comparable from r5 on)
    "q9_profit_by_nation_year",
    "q20_dominant_part_suppliers",
    "text_pii_redact",
    "embedding_dim_stats",
    # round-6 additions (same comparability rule: shared prefix
    # comparable across rounds; totals comparable from r6 on)
    "pandas_udaf_rms_by_segment",
    "dedup_containment",
    "embedding_label_outliers",
    "similarity_pq_adc_topk",
    "events_status_intervals",
    "dedup_exact_substring",
    "text_unigram_lm_quality",
    "profile_table_onepass",
    "events_sketch_rollup_merge",
    "graph_khop_bfs",
    # compact_zorder / compact_small_files: full-table rewrite jobs —
    # gate-checked for losslessness, excluded from the query bench
    "text_bpe_train_merges",
    "text_bpe_segment_stats",
    "similarity_mmr_select",
    "events_session_window_native",
    "events_hopping_window",
    "events_variant_extract",
    "udtf_chunk_documents",
    "text_rake_keywords",
    "events_transition_matrix",
    "orders_cohort_revenue",
    "lineitem_abc_classification",
    "lineitem_ols_price_quantity",
    "dedup_boilerplate_removal",
    "multimodal_dedup_checksum",
    # round-7 additions (same comparability rule: shared prefix
    # comparable across rounds; totals comparable from r7 on)
    "profile_table_approx",
    "dedup_pipeline_e2e",
    "text_vocab_coverage",
    "text_tokenizer_fairness",
    "text_uniform_sample",
    "events_anomaly_mad",
    "similarity_ann_recall_report",
    "dedup_method_agreement",
    "profile_key_skew",
    "embedding_pca_power_step",
    "embedding_pca_power_train",
    "multimodal_header_roundtrip",
    "cogroup_order_reconciliation",
    "maparrow_token_stats",
    "orders_stable_row_ids",
    "events_cumulative_distinct_users",
    "events_sketch_overlap_estimate",
    "text_source_drift_tvd",
    "events_count_min_heavyhitters",
    # round-8 additions (same comparability rule: shared prefix
    # comparable across rounds; totals comparable from r8 on)
    "similarity_ann_ivf_adc",
    "part_name_fuzzy_pairs",
    "events_conversion_attribution",
    "text_quality_logreg_score",
    "events_forecast_backtest",
    "profile_equiheight_histogram",
    "profile_expectations_report",
    "dedup_source_overlap_matrix",
    "versioned_orders_diff",
    "events_training_features_pit",
    "part_entity_resolution",
    "graph_label_propagation",
    "orders_backlog_timeseries",
    "dedup_threshold_sweep",
    "orders_chi2_priority_status",
    "events_ab_test_lift",
    "text_length_quality_correlation",
    "orders_seasonal_index",
    "events_error_rate_wilson",
    "stats_ks_source_drift",
    "stats_mannwhitney_value",
    "orders_benford_screen",
    "customer_revenue_gini",
    "events_cusum_changepoint",
    "stats_bootstrap_ci_mean",
    "text_cooccurrence_lift",
    "lateral_topk_recent_orders",
    "lineitem_weighted_median",
    "users_kaplan_meier",
    "stats_trimmed_mean",
    "stats_theil_sen_trend",
    "customer_pareto_skyline",
    "eval_auc_language_detector",
    "eval_calibration_bins",
    "stats_psi_drift",
    "features_target_encoding",
    "events_conformal_forecast",
    "multimodal_aspect_buckets",
    "graph_link_prediction",
    # round-9 additions (same comparability rule: shared prefix
    # comparable across rounds; totals comparable from r9 on)
    "text_bm25_search",
    "join_bloom_prefilter",
    "similarity_matryoshka_eval",
    "similarity_binary_quant_rerank",
    "orders_mutual_information",
    "multimodal_shard_manifest",
    "streaming_windowed_counts",
    "streaming_stream_join",
    "streaming_dedup_counts",
    "graph_modularity_report",
    "lineitem_ols_two_factor",
    "orders_daily_autocorrelation",
    "text_zipf_fit",
    "lineitem_correlation_matrix",
    "customer_nation_herfindahl",
    "events_watermark_lateness_audit",
    "text_neyman_allocation",
    "events_rolling_active_users",
    "text_split_leakage_fuzzy",
    "stats_anova_priority_price",
    "eval_gate_agreement_kappa",
    "events_session_paths",
    "graph_degree_distribution",
    "multimodal_mime_sniff_mismatch",
    "stats_brown_forsythe_variance",
    "embedding_halves_drift",
    "incremental_join_view_merge",
    "market_basket_rules",
    "text_dataset_datasheet",
    "streaming_session_window_counts",
    "graph_degree_assortativity",
    "events_growth_accounting",
    "events_interarrival_histogram",
    "join_scd2_pit_status",
    "events_transition_contract",
    "lineitem_leadtime_percentiles",
    "dedup_cluster_size_histogram",
    # round-9 continuation additions (same comparability rule: shared
    # prefix comparable across rounds; totals comparable once a full
    # bench lands with them)
    "stats_spearman_price_quantity",
    "stats_kendall_tau_daily",
    "stats_logrank_weekday_cohort",
    "text_dsir_importance_weights",
    "text_ccnet_quality_buckets",
    "text_weighted_sample",
    "scalar_bitwise_funcs",
    "graph_local_clustering",
    "orders_cramers_v",
    "events_poisson_rate_test",
    "stats_runs_test_daily",
    "streaming_hopping_counts",
    "features_woe_iv",
    "events_user_stickiness",
    "scalar_url_funcs",
    "join_asof_nearest_purchase",
    "text_gopher_quality_rules",
    "stats_xmr_control_chart",
    "customer_k_anonymity",
    "events_markov_entropy_rate",
    "text_curation_report",
    "events_ab_effect_sizes",
    "stats_permutation_test",
    "orders_dow_adjusted_anomalies",
    "events_bot_score",
    "lineitem_laspeyres_price_index",
    "eval_average_precision",
    "profile_freshness_report",
    "events_cohort_retention_matrix",
    "stats_kruskal_wallis_priority",
    "stats_jarque_bera_value",
    "stats_bh_fdr_event_rates",
    "stats_pettitt_changepoint",
    "stats_ljung_box_daily",
    "customer_theil_inequality",
    "join_null_safe_buckets",
    "text_vocab_overlap_sources",
    "orders_robust_stl_decompose",
    "stats_friedman_dow_revenue",
    "embedding_participation_ratio",
    "eval_langid_prf",
    "stats_cmh_error_weekday",
    "stats_dunn_posthoc_priority",
    "eval_gate_mcnemar",
    "users_nelson_aalen",
    "text_kfold_assignment",
    "join_bloom_fpr_audit",
    "events_ab_cuped_adjusted",
    "orders_series_diagnostics",
    "orders_seasonal_strength",
    "similarity_hybrid_rrf",
    "profile_column_entropy",
    "customer_segment_migration",
    "graph_kcore",
    "scalar_datetime_advanced",
    "events_allen_interval_relations",
    "events_burstiness_index",
    "events_funnel_wilson_ci",
    "events_retention_powerlaw_fit",
    "lineitem_price_elasticity",
    "events_rayleigh_hour_uniformity",
    # round-11 additions (same comparability rule)
    "text_mixture_plan",
    "lineitem_fisher_price_index",
    "customer_l_diversity",
    "join_fanout_audit",
    "eval_brier_decomposition",
    "events_ab_delta_method",
    "events_ab_sequential_sprt",
    "stats_cochran_q_dow",
    "stats_page_trend_dow",
    "events_ab_stratified_metaanalysis",
    "graph_hits_hubs_authorities",
    "features_hashing_trick_audit",
    "text_naive_bayes_langid",
    "text_logreg_train_gd",
    "streaming_sprt_monitor",
    # round-12 additions
    "dedup_semantic_clusters",
    "multimodal_video_meta",
    "eval_bradley_terry_ratings",
    "text_unigram_lm_train",
    "text_unigram_segment_stats",
    "text_packing_boundary_report",
    "eval_fleiss_kappa",
    "eval_win_rate_matrix",
    "similarity_ndcg_label_eval",
    "multimodal_exif_orientation",
    "dedup_semantic_incremental",
    "eval_calibration_ece",
    "streaming_token_budget_monitor",
    # round-13 additions
    "multimodal_audio_meta",
    "text_bigram_addk_perplexity",
    "text_bigram_kneser_ney_perplexity",
    "dedup_semantic_recall_sweep",
    "orders_pivot_revenue_matrix",
    "streaming_versioned_ingest",
    "text_mixture_execute",
    "dedup_keep_best_quality",
    "multimodal_gif_animation",
    "embedding_quantize_nf4_report",
    # round-14 additions
    "multimodal_image_ahash_neardup",
    "multimodal_audio_energy",
    "text_domain_quota_sample",
    "events_quantile_sketch_rollup",
    "streaming_quantile_sketch_maintenance",
    "multimodal_curation_funnel",
    "multimodal_ahash_incremental",
    # round-15 additions (the r14-verdict fold-in rule: every
    # benchable registry addition enters HEADLINE at the next round
    # close so snapshot n_queries re-converges with the registry;
    # same comparability rule — shared prefix comparable across
    # rounds, totals comparable from r15 on)
    "multimodal_video_frame_features",
    "crossmodal_paired_curation",
    "text_packing_execute",
    "streaming_ahash_fingerprint_maintenance",
    # join_bucketed_no_shuffle: writes BOTH fact tables bucketed
    # (full-table rewrite) before the shuffle-free join it exists to
    # demonstrate — gate-checked + plan-pinned, excluded from the
    # query bench like the other full-table rewrite jobs below.
    # versioned_schema_evolution: two versioned commits (full-table
    # writes) + two snapshot reads — gate-checked for evolution
    # correctness, excluded from the query bench like the other
    # versioned/ORC rewrite jobs (versioned_orders_diff stays as the
    # one benched representative of the commit+read path).
    # events_holt_winters_additive / lineitem_croston_intermittent:
    # recursive CTEs — same per-iteration job-scheduling overhead
    # class as events_ewma_recursive / events_holt_linear_recursive;
    # gate-checked at all SFs, excluded from the bench like them.
    # events_holt_linear_recursive: ~30-step recursive CTE — same
    # per-iteration job-scheduling overhead class as
    # events_ewma_recursive; gate-checked, excluded from the bench.
    # versioned_retention_expiry: full-table versioned rewrite +
    # vacuum job — gate-checked for retention correctness, excluded
    # from the query bench like the other rewrite jobs.
    # scan_parquet_schema_evolution: full-table rewrite job — gate-
    # checked for merge-by-name losslessness, excluded from the query
    # bench like the other scratch-write round-trip jobs.
    # scan_text_log_parse: full-table text rewrite job — gate-checked
    # for lossless round-trip, excluded like the other rewrite jobs.
    # versioned_forget_customers: full-table versioned rewrite job —
    # gate-checked for erasure correctness, excluded from the query
    # bench like the compaction/ORC rewrite jobs above.
    # scan_orc_partitioned: full-table ORC rewrite job — gate-checked
    # for losslessness + pruning, excluded from the query bench like
    # the compaction jobs above.
    # events_ewma_recursive: 30-step recursive CTE — ~7s of pure
    # per-iteration job-scheduling overhead on a 30-row frame (the
    # corpus-sized scan inside it is the same daily agg the other
    # events queries time). Gate-checked for correctness; excluded
    # from the query bench like the full-table rewrite jobs above.
]


# The r5-anchor prefix: HEADLINE is append-only, so the first 46
# entries ARE the frozen 46-query baseline curve in BASELINE.md. The
# "fast" tier runs exactly that prefix — enough for adjudications and
# per-query A/Bs without paying the full sweep.
FAST_TIER_N = 46

_REPO = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# ---- plan fingerprints ------------------------------------------------
#
# Each benched query records a fingerprint of its physical operator
# tree in BENCH_DETAIL.json. Comparing two snapshots is then
# mechanical: a query whose fingerprint changed moved because of code;
# one whose fingerprint is unchanged moved because of the environment
# (tools/bench_compare.py labels its movers that way). Only the tree is
# hashed: expression details (Expand attribute order, range-exchange
# bound literals) and a cached frame's runtime AQE plan vary between
# sessions of the same code.


def normalize_plan(text: str) -> str:
    """Replace the plan tokens that differ between runs of the same
    code: file paths, expression and plan ids, and the RDD ids and call
    sites of ``localCheckpoint`` scans."""
    text = re.sub(r"file:[^\],\s]+", "<path>", text)
    text = re.sub(r"\[id=#\d+\]", "", text)
    text = re.sub(r"#\d+", "#*", text)
    text = re.sub(r"plan_id=\d+", "plan_id=*", text)
    return re.sub(r"(\w*RDD)\[\d+\] at (.*?):\d+", r"\1[*] at \2", text)


_AQE_FINAL_PLAN = re.compile(r"^(\s*)\+- == Final Plan ==$")


def plan_fingerprint(text: str) -> str:
    """First 16 hex digits of the sha256 of the operator tree in an
    ``explain("formatted")`` string: the lines after ``== Physical Plan
    ==`` up to the first blank line, normalized, without node ids,
    ``Statistics(...)`` suffixes or the runtime plan an executed AQE
    subtree prints above its ``== Initial Plan ==``."""
    lines = normalize_plan(text).splitlines()
    tree: list[str] = []
    skip_to = None
    for line in lines[lines.index("== Physical Plan ==") + 1 :]:
        if not line.strip():
            break
        if skip_to is not None:
            if line.rstrip() != skip_to:
                continue
            skip_to = None
        m = _AQE_FINAL_PLAN.match(line.rstrip())
        if m:
            skip_to = m.group(1) + "+- == Initial Plan =="
            continue
        line = re.sub(r" \(\d+\)", "", line)
        tree.append(re.sub(r", Statistics\([^)]*\)", "", line).rstrip())
    return hashlib.sha256("\n".join(tree).encode()).hexdigest()[:16]


def formatted_plan(df) -> str:
    """``df``'s ``explain("formatted")`` text, without printing it."""
    jvm = df.sparkSession.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def tag_run(full_tier: bool, sf_dir: str) -> str:
    """``official`` for a full HEADLINE run at ``DEFAULT_SF_DIR``,
    ``adhoc`` for a tiered run or one at another SF dir (a smoke run
    at sf0.01 must not overwrite the committed sf0.1 record)."""
    same_dir = os.path.normpath(sf_dir) == os.path.normpath(DEFAULT_SF_DIR)
    return "official" if full_tier and same_dir else "adhoc"


def newest_snapshot() -> str | None:
    """Path of the newest round-stamped BENCH_DETAIL_r*.json, if any."""
    cands = sorted(glob.glob(os.path.join(_REPO, "BENCH_DETAIL_r*.json")))
    return cands[-1] if cands else None


def warm_session(spark, sf_dir: str) -> None:
    """Touch every table's footer and run one trivial action, so JVM
    start-up and codegen compile cost isn't attributed to the first
    query, then warm the Python/Arrow worker pool (mapInPandas queries
    otherwise pay the per-session daemon cold start inside their
    timing). The table touch also fills the catalog's schema memo
    (``sources/testdata.py``), so no timed query pays a table's one
    schema-inference job; the memo holds schemas, not rows."""
    from football_etl_pipeline_spark.sources.testdata import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.limit(1).count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    load1, load5, _ = os.getloadavg()

    # SPARK_GRAFT_BENCH_TIER: "full" (default) = every headline query;
    # "fast" = the r5-anchor 46-query prefix (comparable to BASELINE.md
    # directly); a comma-separated list = exactly those queries (ad-hoc
    # adjudication runs).
    tier = os.environ.get("SPARK_GRAFT_BENCH_TIER", "full").strip()
    if tier == "fast":
        headline = HEADLINE[:FAST_TIER_N]
    elif tier and tier != "full":
        wanted = [q.strip() for q in tier.split(",") if q.strip()]
        unknown = [q for q in wanted if q not in HEADLINE]
        if unknown:
            print(f"# unknown tier queries skipped: {unknown}", file=sys.stderr)
        headline = [q for q in wanted if q in HEADLINE]
    else:
        headline = HEADLINE

    from football_etl_pipeline_spark.operators import QUERIES
    from football_etl_pipeline_spark.session import get_spark

    spark = get_spark("bench")

    warm_session(spark, sf_dir)

    # Per-query codegen warmup: run each headline query once at the
    # smallest SF before timing it at the target SF. Whole-stage
    # codegen compiles per generated-source (expression shape, not
    # data size), and a cold compile costs ~3-4s for the big
    # hash/transform expressions — a constant that would swamp the
    # scale-sensitive signal the bench exists to track. Caches are
    # plan-keyed, so the sf0.001 warmup shares NO data with the timed
    # run; only JIT/codegen state carries over (steady-state
    # throughput, the number that extrapolates to a long-running
    # cluster).
    from football_etl_pipeline_spark.operators.registry import release_checkpoints

    warm_dir = "/root/testdata/sf0.001"
    for name in headline:
        fn = QUERIES.get(name)
        if fn is not None:
            fn(spark, warm_dir).count()
            release_checkpoints(spark)

    # Median of N_RUNS per query, releasing tracked persisted frames
    # after every run: each timing sees the same clean cache state, so
    # queries can't poison each other's tail (BENCH_r02 lesson — 14
    # accumulated persists inflated late queries ~2.4×), and the median
    # damps the ±40% machine noise a single local[32] run carries.
    #
    # A full JVM GC before each query's run set is part of the same
    # protocol (BENCH_r05 lesson): ~100 prior sf0.1 executions leave
    # shuffle/broadcast garbage that the async ContextCleaner hasn't
    # collected, and multi-job driver-loop queries (kmeans_train:
    # measured 12.2s dirty vs 3.8s after System.gc() → 204 vs 18 live
    # shuffle files) pay that debt in EVERY job they launch. The GC
    # makes each timing measure the query, not its predecessors'
    # garbage — exactly what a per-query steady-state number means.
    N_RUNS = 3
    tag = tag_run(tier in ("full", ""), sf_dir)
    timings: dict[str, float] = {}
    fingerprints: dict[str, str] = {}
    for name in headline:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        spark.sparkContext._jvm.System.gc()
        runs = []
        n = 0
        for _ in range(N_RUNS):
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            runs.append(time.time() - t0)
            if name not in fingerprints:
                fingerprints[name] = plan_fingerprint(formatted_plan(df))
            # r16 measurement fix (documented in OPTIMIZATION_r16.md):
            # release the run's tracked persists AND blocking-release
            # its localCheckpoint blocks. Leaving those to the async
            # ContextCleaner let dead blocks from run k race run k+1's
            # executors — measured 3.3/7.0/22.8s across three identical
            # back-to-back dedup_semantic_incremental runs. Same
            # clean-cache-per-run protocol the BENCH_r02/r05 lessons
            # established, extended to the r15/r16 checkpoint-heavy
            # plans.
            release_checkpoints(spark)
        timings[name] = round(sorted(runs)[N_RUNS // 2], 3)
        print(
            f"# {name}: {timings[name]:.3f}s median of "
            f"{'/'.join(f'{r:.2f}' for r in runs)} ({n} rows)"
            f" plan {fingerprints[name]}",
            file=sys.stderr,
        )
    total = round(sum(timings.values()), 3)

    # Per-family subtotals (family = operator module that registered
    # the query): a slow family can't hide inside a growing total — the
    # trend a reviewer reads across BENCH_DETAIL_r{N} snapshots.
    families: dict[str, float] = {}
    for name, secs in timings.items():
        fam = getattr(QUERIES[name], "__module__", "unknown").rsplit(".", 1)[-1]
        families[fam] = round(families.get(fam, 0.0) + secs, 3)

    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "fingerprints": fingerprints,
        "families": families,
        "sf": sf,
        "n_queries": len(timings),
        "telemetry": {
            "load1_at_start": round(load1, 3),
            "load5_at_start": round(load5, 3),
        },
    }
    # Full record: committed file + stderr (never the driver-parsed line).
    if tag == "official":
        # adhoc runs must not clobber the committed full-sweep record
        with open(os.path.join(_REPO, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps(detail), file=sys.stderr)
    # Driver-parsed line: compact. Cap the inline per-query map to the
    # slowest TOP_K so the line stays ~<1 KB regardless of registry
    # growth (the r05 46-entry line parsed; the r06 70-entry one did
    # not — the tail-capture window sits somewhere in between).
    TOP_K = 10
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:TOP_K]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries": slowest,
                "detail": "BENCH_DETAIL.json",
                "tag": tag,
            }
        )
    )


if __name__ == "__main__":
    main()

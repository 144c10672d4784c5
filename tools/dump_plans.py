"""Render the physical plans of representative queries to PLANS.md —
the 'explain and iterate' evidence trail: pushdown, pruning, join
strategies, shuffle counts.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import normalize_plan  # noqa: E402

SHOWCASE = {
    "scan_filter_project": "every predicate in PushedFilters; ReadSchema pruned to 6 of 11 columns",
    "q5_local_supplier_volume": "5 broadcast joins, ONE shuffle (the final groupBy) over a single lineitem scan",
    "q6_forecast_revenue": "pure pushdown + single-row partial/final aggregate",
    "q4_order_priority": "EXISTS decorrelated to LeftSemi",
    "q8_market_share": "8-table join tree: 6 broadcast dims, lineitem-orders the only shuffle join",
    "q13_customer_order_counts": "filter inside the LEFT JOIN condition; two-level aggregation",
    "window_topk_per_group": "rank window then filter — one shuffle on the partition key",
    "dedup_minhash_lsh": "one shingle explode feeding 16 min-aggregates; band equality self-join; cached subtree reused 4x",
    "similarity_topk_bruteforce": "tiny query side broadcast; corpus scanned once, no shuffle of the big side",
    "skew_salted_join": "salt-exploded build side; forced sort-merge on (key, salt)",
    "pandas_udf_quantity_buckets": "ArrowEvalPython inside the scan stage; aggregate stays in codegen",
    "events_multi_rollup": "one Expand node feeds hour+day aggregates — one scan, one shuffle, two resolutions",
    "window_range_frame_30d": "value-based RANGE frame: one shuffle on custkey, sliding epoch-seconds frame scan",
    "text_top_ngrams": "explode feeds partial_count before the one shuffle; top-25 via TakeOrderedAndProject, no global sort",
    "dedup_ngram_jaccard": "both self-join sides are the SAME rare-filtered subtree — one shuffle + ReusedExchange",
    "dedup_simhash": "60 bit-sums in one aggregate pass; two-level banding: cold buckets equality-join, hot buckets (occ>32) join on a composite second-band key",
    "text_pack_sequences": "shard-partitioned running-sum window — packing parallel across 32 shards",
    "text_stratified_sample": "rank-prune inside the window sort (WindowGroupLimit), one shuffle on source",
    "text_contamination_screen": "8-byte gram hashes; eval side pre-DISTINCTed before the join",
    "embedding_quantize_int8": "pure projection, zero shuffles, one WholeStageCodegen span",
    "embedding_kmeans_step": "broadcast-K assignment scan; ONE partial-agg shuffle with K*DIM groups (map-side combine caps task output)",
    "embedding_kmeans_train": "final Lloyd step after 2 collected refinements: trained centroids arrive as a LocalTableScan broadcast, same one-shuffle shape per iteration",
    "similarity_ann_ivf_trained": "trained codebook broadcast to the assignment scan; probe join only touches nprobe cells",
    "text_quality_percentile_gate": "window rank reuses the sort of its own shuffle; filter after PERCENT_RANK",
    "market_basket_pairs": "baskets deduplicated BEFORE the self-join; top-25 via TakeOrderedAndProject",
    "dedup_embedding_ivf": "broadcast-cell assignment persisted once; cell equi-join replaces the cross join; exact cosine verify inside the broadcast join",
    "events_anomaly_zscore": "one hourly rollup shuffle; 5-row stats frame broadcast back — no second scan of raw events",
    "q9_profit_by_nation_year": "part pruned by the pushed %red% Like before its join; nation broadcast; 25x7-group final agg nearly all map-side",
    "q11_important_parts": "per-part agg and 1-row global total share the filtered base; total reaches the HAVING filter as a broadcast",
    "q16_supplier_count_by_part_attrs": "pair-distinct is the only fact shuffle; blacklist rides a broadcast LEFT ANTI",
    "q20_dominant_part_suppliers": "per-part total as a window over the ALREADY AGGREGATED (part,supplier) frame — never a second fact pass",
    "text_pii_redact": "inject + redact + count all inside one codegen'd projection; 20-row groupBy shuffle",
    "embedding_dim_stats": "posexplode 64x expansion collapsed by partial agg to <=64 rows/partition before the single exchange",
    "text_heavy_hitters": "Misra-Gries candidates via mapInPandas; broadcast semi gate; exact recount; TakeOrderedAndProject",
    "merge_upsert_orders": "key-based anti join + union — no nested loop, no full-table sort",
    "incremental_agg_merge": "three 5-group aggregates merged by coalescing full-outer broadcast joins; base scanned, never re-aggregated twice",
    "pandas_udaf_rms_by_segment": "ArrowAggregatePython: both UDAFs ride ONE Python pass after the segment exchange; the shuffle carries raw rows (no partial agg for UDAFs — the documented GROUPED_AGG trade)",
    "dedup_exact_substring": "span explode collapsed by the (gram, doc) partial agg before its one exchange; gram stats join reads the persisted reduction — no second tokenize",
    "text_unigram_lm_quality": "persisted (token, doc) reduction feeds vocab and scoring; 1-row corpus total rides a broadcast Cross — the only nested loop",
    "profile_table_onepass": "no Expand (r15): non-distinct profile in ONE aggregate; each exact distinct a single-distinct two-phase agg over a column-pruned scan, broadcast-joined; stack unpivot over the 1-row result",
    "events_sketch_rollup_merge": "hll_sketch_agg partials at (type, day); ONE sketch row per group crosses the second exchange into hll_union_agg",
    "text_bpe_train_merges": "BPE training: per round one pair-count shuffle over the persisted distinct-word frame; 1-row argmax broadcast back; merge fold is a codegen aggregate HOF",
    "text_bpe_segment_stats": "encode side: merged vocabulary (Heaps-small) broadcast to the single corpus scan; per-doc rollup is the only fact shuffle",
    "events_session_window_native": "native session_window: ONE shuffle on user_id; session merge happens inside the aggregate (UpdatingSessionsExec), no window-sort pass",
    "events_variant_extract": "parse_json once in the scan projection; typed variant_get paths feed one hash aggregate — the variant never shuffles",
    "text_rake_keywords": "gaps-and-islands phrase runs in ONE window pass; word stats and phrase scores reuse the persisted nonstop frame; top-25 via TakeOrderedAndProject",
    "lineitem_ols_price_quantity": "five integer moments in one map-side-combined aggregate; 128-bit products driver-free; 3-row output",
    "profile_table_approx": "the no-Expand twin: 4 HLL sketches ride ONE scan+aggregate; exact-distinct certification via four single-distinct pruned scans broadcast-joined on col_name",
    "dedup_pipeline_e2e": "composed recipe: report job reads parquet ONCE (source counts); survivors + shingles come from caches; components arrive checkpointed; only the doc_id LeftAnti shuffles",
    "text_vocab_coverage": "persisted vocab frame; each K a distributed TakeOrdered — no single-partition rank window",
    "events_anomaly_mad": "three key-partitioned aggregate passes; medians broadcast back between them; no global sort",
    "profile_key_skew": "per key: partial+final count agg then TakeOrdered(5); per-table total as a 1-row broadcast",
    "embedding_pca_power_step": "no-shuffle HOF dot projection; posexplode collapsed by partial agg into the single 64-group exchange",
    "similarity_ann_recall_report": "composes the brute-force and LSH frames; recall join is over 25 exact rows vs 25 ANN rows",
    "cogroup_order_reconciliation": "FlatMapCoGroupsInPandas on the coarse bucket key; exactly one hashpartitioning(bkt) exchange per side, vectorized merge inside each bucket call",
    "lineitem_abc_classification": "range exchange on (rev DESC, partkey) + partitioned cumulative window with literal-array prefix offsets; NO SinglePartition window, total_rev rides the P-row collect",
    "similarity_ann_ivf_adc": "cell routing and code assignment each one corpus scan x broadcast codebook; candidate gate broadcasts (query, cell) pairs; ADC is a codegen fold over the broadcast LUT",
    "part_name_fuzzy_pairs": "distinct-entity collapse before blocking; token self-join behind the DF-cap gate; Levenshtein evaluated once per DISTINCT pair",
    "events_conversion_attribution": "three RANGE frames share one WindowExec (same partition/order/frame) after a single user_id shuffle",
    "text_quality_logreg_score": "logit folds as constants in the scan projection (one WholeStageCodegen span); partial agg before the one source shuffle",
    "events_rolling_active_users": "sliding COUNT(DISTINCT) as linear explode fan-out (sequence + Generate) — no BETWEEN nested-loop join; two hash aggregates",
    "text_dataset_datasheet": "seven release-card statistics in ONE documents scan + one aggregate; stack() unpivot over the 1-row frame (per-metric UNION re-executed the aggregate 7x)",
    "incremental_join_view_merge": "standing view read from its materialized parquet; delta group joined to customer once; full-outer coalesce-sum merge — per-batch cost |delta| not |orders|",
    "graph_link_prediction": "edge list localCheckpointed ONCE (r15: the overlap-join subtree appeared 8x / 62 Exchanges before the cut); equi wedge self-join reuses one exchange; broadcast center cap; TakeOrdered top-K",
    "stats_anova_priority_price": "five groups' exact moments as conditional aggregates in one scan; the cross-group F is a 1-row fixed-order projection",
    "stats_spearman_price_quantity": "price-side rank map cumsums through the range exchange (no SinglePartition window over distinct prices); quantity map broadcasts; one moment aggregate",
    "text_dsir_importance_weights": "one token explode into the persisted (doc,bucket) frame read 3x from cache; 256-row log-ratio map BROADCAST back; rollups shuffle on doc then source",
    "text_weighted_sample": "per-row ES-key projection into TakeOrderedAndProject(K) — no Exchange anywhere",
    "graph_local_clustering": "degree-oriented wedge + closure equi-joins (no nested loop); explode credits 3 corners; two hash aggregates",
    "text_curation_report": "three doc-level screen frames (gopher flags, LM tercile, DSIR weight) equi-join on doc_id into a 20-group rollup — composition reuses the standalone operators' cached subtrees",
    "lineitem_fisher_price_index": "one (part,year) hash aggregate carries all four index dot products; base-year frame joins back broadcast; ~#years finish",
    "join_fanout_audit": "quadratic join predicted from COUNTS: key aggregate, 1-row total broadcast back, TakeOrdered(10) — the audited pair frame never exists in the plan",
    "eval_brier_decomposition": "corpus moments + 10 fixed-width bins glued by 1-row broadcast nested loops; no window, no rank exchange — cheaper than the rank-decile calibration table",
    "events_ab_delta_method": "six per-arm moments in ONE conditional aggregate pass; two 1-row arms self-join broadcast; 1-row finish",
    "events_ab_stratified_metaanalysis": "per-user aggregate -> exact-percentile boundary aggregate broadcast back -> 3-row stratum aggregate; pooling and Q on <= 3 rows",
    "graph_hits_hubs_authorities": "fact-fact edge join persisted ONCE; four Pregel rounds read the cache (edge equi-join + groupBy each); per-side TakeOrdered",
    "features_hashing_trick_audit": "(token,hash) pre-aggregate forces ONE md5 evaluation and kills the distinct-agg Expand; 64-group aggregate; broadcast-scalar total",
    "text_naive_bayes_langid": "tokenize+fold projection persisted once, read 7x from cache; likelihood equi-join on token x broadcast lang grid; argmax window partitioned by doc",
    "text_logreg_train_gd": "feature projection persisted once, read 6x (3 gradient + 3 metric passes); weights as 1-row broadcast frames; unroll bounded by step count",
    "lineitem_croston_intermittent": "corpus collapses to the <= 32-row demand sequence, localCheckpointed BEFORE the recursion — the UnionLoop joins a materialized leaf, never re-planning the lineitem aggregate per step",
    "events_holt_winters_additive": "recursive-CTE UnionLoop carrying the 7-slot seasonal ring as state columns over the checkpointed daily frame",
    "streaming_sprt_monitor": "per-user MIN/MIN state maintained by a real stream (availableNow, memory sink); the batch SPRT decision text runs over the state snapshot",
    "join_bucketed_no_shuffle": "both fact scans Bucketed: true; SMJ + per-orderkey agg with ZERO Exchange below; the lone Exchange is the 5-row priority rollup",
    "multimodal_image_ahash_neardup": "real PNG decode + aHash in one mapInPandas; 8-band equi-join candidates; bit_count(xor) verify moves only (id, hi, lo)",
    "multimodal_audio_energy": "real PCM sample decode + frame features in one narrow mapInPandas projection — no shuffle",
    "text_domain_quota_sample": "parse_url host in the scan projection; ONE hash-rank window shuffle on host; partial+final report agg",
    "events_quantile_sketch_rollup": "(type, day, bucket) partials; bounded histogram rows to the second exchange; window cumsum over <=|grid| rows",
    "multimodal_curation_funnel": "corrupt screen + aHash in ONE mapInPandas pass; banded pair join; star-contraction components; single-row broadcast finish",
    "dedup_semantic_recall_sweep": "screen side banded on cell; ground truth gated to a hash-rank TakeOrdered cohort (K=512) then broadcast NLJ — K^2/2 exact cosines at any corpus size",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from football_etl_pipeline_spark.operators import QUERIES
    from football_etl_pipeline_spark.operators.registry import release_checkpoints
    from football_etl_pipeline_spark.session import get_spark

    spark = get_spark("dump_plans")
    out = [
        "# PLANS — physical plans of representative queries",
        "",
        f"Auto-generated by `tools/dump_plans.py` at `{sf_dir}`. Paths and",
        "statistics are local; plan SHAPES are what matters (and what",
        "holds on a cluster — AQE may re-plan sizes, not strategies).",
        "",
    ]
    for name, why in SHOWCASE.items():
        fn = QUERIES.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        # Execute first: unhinted dimension joins are AQE-sized, so the
        # broadcast decision only appears in the FINAL adaptive plan
        # (isFinalPlan=true), not the static pre-execution one.
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        release_checkpoints(spark)
        lines = [ln.rstrip()[:160] for ln in normalize_plan(plan).splitlines()]
        # Iterative queries (BPE, MMR) print every unrolled round — the
        # shape evidence is in the first rounds; cap the dump.
        if len(lines) > 150:
            lines = lines[:150] + [
                f"... ({len(lines) - 150} more lines — iterative plan, "
                "rounds repeat the same shape)"
            ]
        out += [f"## {name}", "", f"*{why}*", "", "```"] + lines + ["```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(out)} lines)")


if __name__ == "__main__":
    main()

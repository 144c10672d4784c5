"""Executed-plan shape assertions: the physical strategies the scale
story depends on, machine-checked instead of only documented in
PLANS.md. Each assertion names the property that would silently
degrade at 100 TB if a refactor lost it."""

from __future__ import annotations

import pytest

from football_etl_pipeline_spark.operators import QUERIES
from football_etl_pipeline_spark.operators.registry import release_persists

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    # collect() (not count()) — count() executes a DERIVED plan, so
    # THIS QueryExecution's AdaptiveSparkPlan would stay non-final and
    # print without codegen/broadcast decisions.
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    release_persists()
    return s


def _final(plan: str) -> str:
    # An executed AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # an "== Initial Plan ==" echo of the pre-AQE plan. Count-based
    # assertions must look only at the final section or every node is
    # double-counted.
    return plan.split("== Initial Plan ==")[0]


def _final_regions(plan: str) -> str:
    """Every final-plan region: the outer plan's and each subquery's.
    ``_final`` stops at the first "== Initial Plan ==" echo, which may
    be a subquery's. AQE runs subqueries concurrently, and an exchange
    two of them share is printed in full in whichever ran it first and
    as a ReusedExchange in the others, so a node can sit past that cut
    on some runs. This drops every echo instead: each marker line and
    the lines indented deeper than it."""

    def lead(line: str) -> int:
        return len(line) - len(line.lstrip(" "))

    out: list[str] = []
    skip_below: int | None = None
    for line in plan.split("\n"):
        if skip_below is not None:
            if not line.strip() or lead(line) > skip_below:
                continue
            skip_below = None
        if "== Initial Plan ==" in line:
            skip_below = lead(line)
            continue
        out.append(line)
    return "\n".join(out)


def _outer_final(plan: str) -> str:
    """The OUTER final-plan region only. ``_final``'s naive split breaks
    when the plan embeds an InMemoryRelation: the cached frame's own
    AdaptiveSparkPlan echo prints a nested "== Initial Plan ==" that
    truncates the outer region early. This walks lines, drops each
    InMemoryRelation's inner build-plan echo (everything indented
    deeper than the relation line), and stops at the outer initial-plan
    marker (column 0)."""

    def ind(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out: list[str] = []
    skip_below: int | None = None
    for line in plan.split("\n"):
        if skip_below is not None:
            if not line.strip() or ind(line) > skip_below:
                continue
            skip_below = None
        if line.startswith("+- == Initial Plan =="):
            break
        out.append(line)
        if "InMemoryRelation" in line:
            skip_below = ind(line)
    return "\n".join(out)


def test_scan_filter_project_pushes_predicates(spark):
    plan = _plan(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan


def test_q5_dimension_joins_broadcast(spark):
    """The 5-dim star join must not shuffle-join the dimensions."""
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_market_basket_topk_never_sorts_globally(spark):
    plan = _plan(spark, "market_basket_pairs")
    assert "TakeOrderedAndProject" in plan


def test_topk_bruteforce_broadcasts_query_side(spark):
    """The corpus side must never shuffle; the 5-row query side rides
    a broadcast nested loop."""
    plan = _plan(spark, "similarity_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_jaccard_self_join_reuses_exchange(spark):
    """Both self-join sides are the SAME rare-filtered subtree — losing
    ReusedExchange doubles the shingle shuffle."""
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert "ReusedExchange" in plan or "InMemoryTableScan" in plan


def test_embedding_ivf_membership_is_persisted(spark):
    """Both sides of the cell self-join must read the cached
    membership frame, not recompute the assignment scan (the measured
    4.5x regression if lost)."""
    plan = _plan(spark, "dedup_embedding_ivf")
    assert plan.count("InMemoryTableScan") >= 2


def test_gap_fill_grid_is_broadcast(spark):
    """The (hours x types) grid must stay broadcast-sized — a
    shuffle-join here would scale with event volume, not time span."""
    plan = _plan(spark, "events_gap_fill")
    assert "SortMergeJoin" not in plan


def test_multi_rollup_is_single_scan(spark):
    """GROUPING SETS must expand in ONE pass: a single Expand node,
    not one scan per resolution."""
    plan = _plan(spark, "events_multi_rollup")
    assert _final(plan).count("Expand") == 1


def _windows_fed_by_single_partition(final: str) -> list[str]:
    """Window operators whose input distribution is a SinglePartition
    exchange (walking each such exchange's ancestor chain up to the
    NEXT exchange — that's the span its partitioning governs). A
    SinglePartition under a global scalar aggregate is legitimate
    (a 1-row max is a one-task reduce by definition); under a Window
    it funnels the whole frame through one task."""
    lines = final.splitlines()

    def depth(line: str) -> int:
        for marker in ("+- ", ":- "):
            i = line.find(marker)
            if i >= 0:
                return i
        return -1  # root / non-tree line

    offenders = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        d = depth(line)
        for j in range(i - 1, -1, -1):
            dj = depth(lines[j])
            if dj >= d:
                continue  # sibling subtree line, not an ancestor
            if "Exchange" in lines[j]:
                break  # repartitioned above: SinglePartition span ends
            if "Window" in lines[j]:
                offenders.append(lines[j].strip())
                break
            d = dj  # climb: next ancestor must be shallower still
            if d <= 0:
                break
    return offenders


def test_rfm_windows_are_partitioned(spark):
    """Every NTILE-style rank in customer_rfm_segments must run over a
    partitioned window — a Window fed by a SinglePartition exchange
    funnels the whole per-customer aggregate through one task. (The
    plan MAY contain SinglePartition for its 1-row global
    max(o_orderdate) reference-date aggregate — that is a scalar
    reduce, not a window funnel.)"""
    plan = _plan(spark, "customer_rfm_segments")
    final = _final(plan)
    assert "Window" in final  # the ranks are still window-computed
    assert _windows_fed_by_single_partition(final) == []


def test_cogroup_reconciliation_buckets_and_single_exchange_per_side(spark):
    """The cogroup must shuffle each side exactly ONCE, on the coarse
    bucket key — cogrouping on raw o_orderkey invokes Python once per
    key (the r7 scale-killer); the bucket keeps Python-invocation
    count bounded while the merge stays vectorized per bucket."""
    final = _final(_plan(spark, "cogroup_order_reconciliation"))
    assert "FlatMapCoGroupsInPandas [bkt" in final
    assert final.count("Exchange hashpartitioning(bkt") == 2
    # only the two bucket exchanges — no extra shuffle anywhere
    assert final.count("Exchange") == 2


def test_ivf_adc_broadcasts_codebooks_never_shuffles_corpus_joins(spark):
    """IVF+PQ-ADC: every join must be broadcast (centroids, candidate
    gate, LUT) — a sort-merge join here would shuffle the corpus-sized
    code frame, defeating the 4-byte-per-vector read path."""
    final = _final(_plan(spark, "similarity_ann_ivf_adc"))
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
    assert _windows_fed_by_single_partition(final) == []


def test_attribution_frames_share_one_window_exec(spark):
    """The three RANGE frames (first/last touch, touch count) use the
    same partition/order/frame, so they must collapse into ONE
    WindowExec after a single user_id exchange — three separate window
    passes would triple the sort cost at 100 TB."""
    final = _final(_plan(spark, "events_conversion_attribution"))
    assert final.count("Window [") == 1
    assert final.count("Exchange hashpartitioning") == 1
    assert _windows_fed_by_single_partition(final) == []


def test_equiheight_histogram_has_no_global_window(spark):
    """NTILE over the raw fact table must ride the range-exchange +
    partition-offset pattern — no Window fed by SinglePartition."""
    final = _final(_plan(spark, "profile_equiheight_histogram"))
    assert "Window" in final
    assert _windows_fed_by_single_partition(final) == []


def test_abc_classification_windows_are_partitioned(spark):
    """The Pareto cumulative sum must ride the range-exchange +
    partition-offset pattern: no Window fed by a SinglePartition
    exchange (at sf100 the per-part frame is ~20M rows — a global
    ordered window would funnel them through one task)."""
    plan = _plan(spark, "lineitem_abc_classification")
    final = _final(plan)
    assert "Window" in final
    assert _windows_fed_by_single_partition(final) == []


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "text_stats", "embedding_quantize_int8"],
)
def test_hot_paths_stay_in_codegen(spark, name):
    """Scan→project/agg pipelines must run inside WholeStageCodegen —
    a Python/UDF leak here is the 10-100x slow path."""
    plan = _plan(spark, name)
    # executedPlan().toString() renders whole-stage-codegen stages as
    # "*(n)" node prefixes, never the literal word "WholeStageCodegen".
    assert "*(" in _final(plan)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q11_reuses_base_exchange(spark):
    """Q11's per-part aggregate and its global total are two
    aggregations of the SAME filtered base subtree — the plan must
    reuse that work (ReusedExchange or a shared cached scan), and the
    total must reach the filter as a broadcast, never a sort-merge."""
    plan = _plan(spark, "q11_important_parts")
    final = _final(plan)
    assert "SortMergeJoin" not in final
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final


def test_heavy_hitters_candidate_gate_is_broadcast(spark):
    """The candidate set (≤ capacity·partitions rows) must gate the
    token stream via a broadcast semi-join — a shuffle here would
    defeat the sketch's entire purpose — and the final top-K must be
    TakeOrdered, not a global sort."""
    plan = _plan(spark, "text_heavy_hitters")
    final = _final(plan)
    assert "SortMergeJoin" not in final
    assert "TakeOrderedAndProject" in final


def test_merge_upsert_has_no_cartesian(spark):
    """The upsert anti-join must be key-based (broadcast or shuffled
    hash), never a nested-loop over the base table."""
    plan = _plan(spark, "merge_upsert_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_shares_the_persisted_shingle_subtree(spark):
    """Both self-join sides (and the size frame) must read the ONE
    persisted shingle frame — recomputing the tokenize+hash chain per
    subtree is the regression this guards. (At sf0.01 AQE broadcasts
    the self-join, so unlike the Jaccard rung at larger inputs there
    is no exchange to reuse, and AQE prints the shared cache as ONE
    TableCacheQueryStage — so the stable cross-size invariant is that
    the shingle frame IS cached, not how many scans print.) No
    cartesian anywhere."""
    plan = _final(_plan(spark, "dedup_containment"))
    assert "InMemoryRelation" in plan or "TableCacheQueryStage" in plan
    assert "CartesianProduct" not in plan


def test_label_outlier_centroids_are_broadcast(spark):
    """The class centroids must ride a broadcast back onto the corpus
    scan — a shuffle join here would re-shuffle the whole corpus
    against a <=|labels|-row frame. And the top-k window partitions on
    only ~|labels| keys, so the Partial WindowGroupLimit (map-side
    top-5 per label BEFORE the exchange) is what keeps the few-key
    shuffle from carrying the whole corpus at 100 TB."""
    plan = _final(_plan(spark, "embedding_label_outliers"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_pq_adc_lut_is_broadcast_and_codes_never_sort_merge(spark):
    """ADC scoring must join the corpus codes against the broadcast
    per-query LUT (5 rows); a sort-merge here means the corpus
    shuffled against a constant-size side."""
    plan = _plan(spark, "similarity_pq_adc_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pandas_udaf_is_single_python_aggregate(spark):
    """Both UDAFs must ride ONE ArrowAggregatePython pass (two Python
    stages would double the Arrow transfer of every group)."""
    plan = _plan(spark, "pandas_udaf_rms_by_segment")
    assert _final(plan).count("ArrowAggregatePython") == 1


def test_q2_window_min_not_self_join_and_region_broadcast(spark):
    """Q2's correlated MIN must be the window-over-aggregated-frame
    formulation: exactly ONE aggregate pass over lineitem (a second
    HashAggregate on l_extendedprice would mean the subquery re-read
    the fact), the 1-row region filter rides a broadcast, and the
    LIMIT 100 is a TakeOrdered — never a global sort."""
    plan = _final(_plan(spark, "q2_min_cost_supplier"))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 6  # one scan per table, no re-read
    assert "BroadcastHashJoin" in plan


def test_token_entropy_stays_jvm_side(spark):
    """The entropy screen is pure column math: no Python stage of any
    kind may appear (the explode + two hash aggregates must run inside
    whole-stage codegen), and output reduces to |sources| keys."""
    plan = _plan(spark, "text_token_entropy")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "*(" in _final(plan)


def test_interval_overlap_join_is_equi_not_nested_loop(spark):
    """The bucketed interval join exists to AVOID the
    BroadcastNestedLoopJoin Spark plans for a raw non-equi interval
    predicate — the cell key must make it a hash-partitionable
    equi-join (broadcast-hash is fine at this SF; nested-loop or
    cartesian means the bucketing regressed)."""
    plan = _final(_plan(spark, "events_interval_overlap_join"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_triangle_count_closure_is_equi_join(spark):
    """The rank-canonicalized wedge closure must be a hash-partitionable
    EQUI join on (src, dst) — an OR-of-orientations close would plan a
    BroadcastNestedLoopJoin over Σ outdeg² wedge rows, the exact
    explosion the degree orientation exists to avoid. The oriented
    edge frame must also be persisted (three consumers)."""
    plan = _final(_plan(spark, "graph_triangle_count"))
    # The only nested-loop joins allowed are the final 1-row x 1-row
    # scalar combiners, which print as explicit "Cross" builds.
    bnlj = [
        ln
        for ln in plan.splitlines()
        if "BroadcastNestedLoopJoin" in ln and "Cross" not in ln
    ]
    assert not bnlj, bnlj
    assert "CartesianProduct" not in plan
    assert "InMemoryRelation" in plan or "TableCacheQueryStage" in plan


def test_exact_substring_reduces_before_stats_join(spark):
    """dedup_exact_substring's scale story: the exploded span frame is
    reduced by the (gram, doc) aggregate ONCE, persisted, and both the
    gram-stats build and the per-doc rollup read the cached frame —
    losing the persist recomputes the tokenize+explode subtree twice;
    the stats join must stay a hash-partitionable equi-join."""
    plan = _plan(spark, "dedup_exact_substring")
    # full string (AQE's final section elides materialized stages)
    assert plan.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_lm_total_rides_as_broadcast_scalar(spark):
    """text_unigram_lm_quality: the (token, doc) reduced frame is
    persisted (vocab build + scoring join both read it) and the 1-row
    corpus total enters the scoring plan as a broadcast, never a
    shuffle."""
    plan = _plan(spark, "text_unigram_lm_quality")
    assert plan.count("InMemoryTableScan") >= 2
    # the only nested-loop join allowed is the 1-row total cross-ride
    bad = [
        ln
        for ln in plan.splitlines()
        if "BroadcastNestedLoopJoin" in ln and "Cross" not in ln
    ]
    assert not bad, bad


def test_profile_onepass_no_expand_split_distincts(spark):
    """profile_table_onepass (r15 shape): the non-distinct metrics
    ride ONE aggregate; each exact COUNT(DISTINCT) is its own
    SINGLE-distinct two-phase hash agg over a column-pruned scan and
    enters by broadcast — NO Expand anywhere (the Expand spelling
    multiplied the row volume 5x through the partial-agg buffers:
    measured 3.6-4.2s vs 0.9-1.3s at sf0.1), and no shuffle join."""
    from football_etl_pipeline_spark.operators.profiling import (
        PROFILE_COLS,
    )

    plan = _final(_plan(spark, "profile_table_onepass"))
    assert "Expand" not in plan
    assert plan.count("Scan parquet") == 1 + len(PROFILE_COLS)
    assert "SortMergeJoin" not in plan


def test_profile_approx_has_no_expand(spark):
    """profile_table_approx: the 100-TB twin swaps the exact
    multi-distinct for approx_count_distinct — the plan must contain
    NO Expand node anywhere (the production aggregate is one scan +
    one hash agg; the certification exact-distincts are four
    SINGLE-distinct aggregates, which plan as two-phase hash agg,
    never Expand). The certification join must also stay broadcast."""
    plan = _final(_plan(spark, "profile_table_approx"))
    assert "Expand" not in plan
    assert "SortMergeJoin" not in plan


def test_sketch_rollup_merges_sketches_not_rows(spark):
    """events_sketch_rollup_merge: the type-level estimate must come
    from hll_union_agg over day-grain sketch partials (one row per
    (type, day) crosses the second shuffle), not from re-aggregating
    raw events; the exact-distinct rider is a separate subtree."""
    lower = _plan(spark, "events_sketch_rollup_merge").lower()
    assert "hll_sketch_agg" in lower
    assert "hll_union_agg" in lower


def test_aqe_splits_skewed_join_partitions(spark):
    """The 100 TB skew story leans on AQE's runtime skew-join split
    (session.py enables it); prove it actually fires: a 90%-one-key
    sort-merge join must show skew=true in the final adaptive plan
    once the skew thresholds are scaled to the synthetic data size.
    Salting (skew_salted_join) is the manual fallback; this pins the
    automatic path."""
    import pyspark.sql.functions as F2

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(300_000).select(
            F2.when(F2.col("id") % 10 < 9, 0)
            .otherwise(F2.col("id") % 101)
            .alias("k"),
            F2.col("id").alias("payload"),
        )
        right = spark.range(101).select(
            F2.col("id").alias("k"), (F2.col("id") * 2).alias("dim")
        )
        joined = left.join(right, "k")
        # collect(), not count() — count() executes a derived plan and
        # THIS QueryExecution's adaptive plan would stay non-final
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final, final[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dedup_pipeline_e2e_scans_docs_once_and_reuses_cache(spark):
    """dedup_pipeline_e2e: the final report plan must read raw
    documents from parquet exactly ONCE (the per-source base count);
    every other stage consumes the persisted exact-survivor frame
    (InMemoryTableScan) or the checkpointed component labels — a
    second parquet scan means the pipeline re-shingled or re-hashed
    raw text. Report joins are broadcast over the handful of sources,
    so any SortMergeJoin outside the one doc_id-keyed LeftAnti
    (survivors minus dropped — NOT broadcast by design: the dropped
    list scales with near-dup volume, so it is not a
    fixed-cardinality frame and AQE owns the strategy) is a
    regression. No cartesian/nested-loop anywhere."""
    plan = _outer_final(_plan(spark, "dedup_pipeline_e2e"))
    assert plan.count("Scan parquet") == 1, plan
    assert (
        plan.count("InMemoryTableScan") + plan.count("TableCacheQueryStage")
        >= 2
    ), plan
    bad_smj = [
        ln
        for ln in plan.splitlines()
        if "SortMergeJoin" in ln and "LeftAnti" not in ln
    ]
    assert not bad_smj, bad_smj
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_uniform_sample_is_takeordered(spark):
    """text_uniform_sample: the K smallest hashes must come from a
    distributed TakeOrderedAndProject — a global Sort+Limit funnels
    the corpus through one task at 100 TB."""
    plan = _plan(spark, "text_uniform_sample")
    assert "TakeOrderedAndProject" in plan


def test_vocab_coverage_has_no_global_rank_window(spark):
    """text_vocab_coverage: each K is a TakeOrdered over the persisted
    vocab — the oracle's ROW_NUMBER() OVER (ORDER BY ...) shape
    (single-partition window) must NOT appear in the Spark plan."""
    plan = _outer_final(_plan(spark, "text_vocab_coverage"))
    assert plan.count("TakeOrderedAndProject") >= 3
    assert _windows_fed_by_single_partition(plan) == []


def test_key_skew_probe_is_takeordered_per_key(spark):
    plan = _plan(spark, "profile_key_skew")
    assert _final(plan).count("TakeOrderedAndProject") >= 3
    assert "CartesianProduct" not in plan


def test_pca_step_single_64group_exchange(spark):
    """embedding_pca_power_step: the row dot is a no-shuffle HOF
    projection; the only data exchange is the 64-group dimension
    aggregate (plus AQE bookkeeping) — a Gram-matrix materialization
    would show as a join or a much wider shuffle."""
    plan = _outer_final(_plan(spark, "embedding_pca_power_step"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the only join is the 1-row Rayleigh rider (broadcast cross);
    # a Gram materialization would appear as a keyed join
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("BroadcastHashJoin") == 0


def test_stable_row_ids_has_no_global_window(spark):
    """orders_stable_row_ids: ids come from range exchange + local
    enumeration — a Window (the oracle's single-node formulation) or a
    SinglePartition funnel over the data is the regression."""
    full = _plan(spark, "orders_stable_row_ids")
    # the range exchange lives in the persisted frame's build plan
    assert "rangepartitioning" in full
    outer = _outer_final(full)
    assert "Window" not in outer
    assert "Exchange SinglePartition" not in outer


@pytest.mark.parametrize(
    "name",
    [
        "stats_ks_source_drift",
        "stats_mannwhitney_value",
        "stats_kruskal_wallis_priority",
        "customer_revenue_gini",
        "lineitem_weighted_median",
    ],
)
def test_stattest_running_totals_avoid_global_windows(spark, name):
    """Every running total in the distribution-statistics family must
    ride the range-exchange + partition-offset pattern (stattests.
    _range_prefix): a Window fed by a SinglePartition exchange over
    the distinct-value frame would funnel corpus-scale cardinality
    (distinct purchase values, per-customer revenues, grouped prices)
    through one task at 100×."""
    final = _final(_plan(spark, name))
    assert "Window" in final
    assert _windows_fed_by_single_partition(final) == []


def test_lateral_topk_decorrelates_to_partitioned_window(spark):
    """The correlated LATERAL (ORDER BY + LIMIT 3 per customer) must
    decorrelate to a row_number window PARTITIONED BY o_custkey + a
    broadcast join — per-outer-row re-execution or a global window
    would both be scale bugs."""
    final = _final(_plan(spark, "lateral_topk_recent_orders"))
    assert "Window" in final
    assert _windows_fed_by_single_partition(final) == []
    assert "BroadcastHashJoin" in final


def test_cooccurrence_keeplist_is_broadcast(spark):
    """The top-V document-frequency keep-list must join as a
    broadcast (it is V rows by construction); shuffling the (doc,
    word) frame against it would add a corpus-sized exchange."""
    final = _final(_plan(spark, "text_cooccurrence_lift"))
    assert "BroadcastHashJoin" in final


def test_trimmed_mean_rank_is_range_partitioned(spark):
    """The global rank over raw purchase rows must ride the
    range-exchange + partition-offset pattern — no SinglePartition
    window over the row-level frame."""
    final = _final(_plan(spark, "stats_trimmed_mean"))
    assert "Window" in final
    assert _windows_fed_by_single_partition(final) == []


def test_skyline_has_no_self_join_and_no_global_window(spark):
    """The skyline must be the O(n log n) cummax formulation: no
    quadratic dominance self-join (exactly one join — points back to
    the distinct-revenue dominance frame, plus the broadcast segment
    filter) and no SinglePartition window."""
    final = _final(_plan(spark, "customer_pareto_skyline"))
    assert _windows_fed_by_single_partition(final) == []
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final


def test_bloom_prefilter_builds_once_probes_broadcast(spark):
    """The bloom word table must be built ONCE (persisted — probes
    read the cache) and both probe joins plus the exact finish must
    broadcast; the orders fact must scan exactly once in the outer
    plan. Losing the persist re-scans the dim per probe; losing a
    broadcast shuffles the fact."""
    plan = _plan(spark, "join_bloom_prefilter")
    outer = _outer_final(plan)
    assert "InMemoryTableScan" in outer
    assert outer.count("BroadcastHashJoin") >= 3
    assert outer.count("orders.parquet") == 1
    # the only customer scan in the OUTER plan is the exact semi join;
    # the bloom build's scan lives inside the cached relation
    assert outer.count("customer.parquet") == 1


def test_bm25_topk_runs_behind_limit(spark):
    """The global rank must sit behind the top-k LIMIT: the plan's
    only global sort is the k-row limit (TakeOrdered or a
    single-partition exchange over ≤ k rows), never a corpus-wide
    Window. The postings filter must reach the (doc, tok) aggregate
    BEFORE the shuffle — visible as the isin filter below the first
    HashAggregate."""
    final = _final(_plan(spark, "text_bm25_search"))
    assert "TakeOrderedAndProject" in final or "GlobalLimit" in final
    assert "Window" in final  # the k-row rank, behind the limit


def test_matryoshka_reads_corpus_from_cache(spark):
    """All four scoring passes (3 truncation levels + full baseline)
    must read the persisted normed frame — the embeddings parquet
    appears only inside the cached relation's build plan, never in
    the outer final plan."""
    plan = _plan(spark, "similarity_matryoshka_eval")
    outer = _outer_final(plan)
    assert "InMemoryTableScan" in outer
    assert "embeddings.parquet" not in outer


def test_binary_quant_reuses_signature_cache(spark):
    """Hamming pass and rerank must both read the persisted signature
    frame (no second parquet scan); the 5-row query side rides
    broadcast nested-loop against the corpus."""
    plan = _plan(spark, "similarity_binary_quant_rerank")
    outer = _outer_final(plan)
    assert outer.count("InMemoryTableScan") >= 2
    assert "embeddings.parquet" not in outer
    assert "BroadcastNestedLoopJoin" in outer


def test_shard_manifest_windows_are_partitioned(spark):
    """Byte-offset packing must run per (mime, substream) stratum —
    a single-partition window would serialize the corpus."""
    final = _final(_plan(spark, "multimodal_shard_manifest"))
    assert "Window" in final
    assert _windows_fed_by_single_partition(final) == []


def test_modularity_windows_partitioned_no_cartesian(spark):
    """The LPA sweep's per-node top-1 windows stay partitioned by
    node, and nothing in the report degenerates to a Cartesian
    product (the 1-row m/Σ frames ride broadcast)."""
    final = _final(_plan(spark, "graph_modularity_report"))
    assert _windows_fed_by_single_partition(final) == []
    assert "CartesianProduct" not in final


def test_ols_two_factor_is_one_scan_no_join(spark):
    """The whole two-regressor fit is sufficient statistics: ONE
    lineitem scan into one partial-aggregated groupBy — any join or
    second scan means the moments stopped being a single pass."""
    plan = _plan(spark, "lineitem_ols_two_factor")
    outer = _outer_final(plan)
    assert outer.count("lineitem.parquet") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in outer


def test_autocorrelation_joins_only_the_daily_cache(spark):
    """The lag self-joins must run over the persisted ~#days frame —
    the orders parquet appears only inside the cached relation's
    build, never in the outer plan."""
    plan = _plan(spark, "orders_daily_autocorrelation")
    outer = _outer_final(plan)
    assert "InMemoryTableScan" in outer
    assert "orders.parquet" not in outer


def test_streaming_rows_return_memory_sink_scans(spark):
    """The streaming registry rows return the memory sink's table —
    the returned plan must be a LocalTableScan/MemoryPlan, not a
    re-execution of the stream."""
    df = QUERIES["streaming_windowed_counts"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_persists()
    assert "StreamingExecutionRelation" not in plan


def test_link_prediction_wedge_is_equi_topk_is_takeordered(spark):
    """The common-neighbor candidate generator must be an EQUI join on
    the shared wedge center (hash-partitionable, sum C(d,2) bounded by
    LP_CENTER_DEG_CAP) — an inequality-only pairing would plan a
    BroadcastNestedLoopJoin over all user pairs. The final top-K must
    be TakeOrderedAndProject, not a global sort of every scored pair."""
    final = _final(_plan(spark, "graph_link_prediction"))
    bnlj = [
        ln
        for ln in final.splitlines()
        if "BroadcastNestedLoopJoin" in ln and "Cross" not in ln
    ]
    assert not bnlj, bnlj
    assert "CartesianProduct" not in final
    assert "TakeOrderedAndProject" in final


def test_link_prediction_cap_mode_plan_shapes(spark):
    """The link-prediction degree cap prunes wedges ONCE,
    post-generation (one ``d <= 256`` filter in the executed plan), so
    both wedge sides stay the same frame and share one exchange; the
    wedge generator stays an equi join and top-K stays TakeOrdered."""
    import re

    from football_etl_pipeline_spark.operators.graph import LP_CENTER_DEG_CAP

    # executedPlan().toString() prints tree nodes like
    # "+- Filter (d#88L <= 256)" (the "Condition :" form is only in
    # explain("formatted")). Under AQE the cap predicate can print
    # with merged conjuncts ("Filter (isnotnull(d#88L) AND (d#88L <=
    # 256))") depending on runtime stats — match the Filter LINE
    # containing the cap comparison, not the bare two-token form
    # (full-suite flake, round 14).
    cap_filter = re.compile(
        rf"Filter [^\n]*d#\d+L <= {LP_CENTER_DEG_CAP}"
    )
    final = _final(_plan(spark, "graph_link_prediction"))
    assert len(cap_filter.findall(final)) == 1, "after: cap once"
    assert "CartesianProduct" not in final
    assert "TakeOrderedAndProject" in final


def test_rolling_active_users_is_explode_not_range_join(spark):
    """The trailing-7d distinct must be the linear explode fan-out
    (sequence + Generate), never a BETWEEN range join — with a
    broadcast day grid that would plan a BroadcastNestedLoopJoin
    evaluated once per (row × day)."""
    final = _final(_plan(spark, "events_rolling_active_users"))
    assert "Generate explode" in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final


def test_split_leakage_classification_rides_broadcast(spark):
    """The split-bucket classification of verified near-dup pairs must
    be broadcast lookups of the 2-column (doc_id, bucket) projection —
    shuffling the pair frame against documents would add exchanges to
    a tail that is tiny by construction. The quadratic surface must
    stay the persisted minhash rung (InMemoryTableScan), with no new
    Cartesian anywhere."""
    final = _final(_plan(spark, "text_split_leakage_fuzzy"))
    assert "BroadcastHashJoin" in final
    assert "CartesianProduct" not in final


def test_session_paths_one_user_shuffle_topk_takeordered(spark):
    """The session-id running sum and the per-session LEAD trigram
    must ride ONE user_id exchange (compatible partitioning), and the
    top-K must be TakeOrdered, not a global sort of the path counts."""
    final = _final(_plan(spark, "events_session_paths"))
    assert final.count("Exchange hashpartitioning(user_id") <= 1
    assert "TakeOrderedAndProject" in final


def test_anova_is_one_scan_no_join(spark):
    """The five groups' moments are conditional aggregates in ONE
    orders scan — a join or second scan means the pivot-to-one-row
    sufficient-statistics design degraded."""
    plan = _plan(spark, "stats_anova_priority_price")
    outer = _outer_final(plan)
    assert outer.count("orders.parquet") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in outer


def test_kappa_is_one_scan_both_gates_folded(spark):
    """Both gate expressions fold into one documents scan (tokenize
    once) — two scans would mean the shared-expression contract with
    the standalone gate queries broke."""
    plan = _plan(spark, "eval_gate_agreement_kappa")
    outer = _outer_final(plan)
    assert outer.count("documents.parquet") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in outer


def test_degree_distribution_no_global_window(spark):
    """Degree bucketing is a codegen CASE + hash aggregate; nothing in
    the histogram may funnel through a single-partition window (the
    share finishes on a 1-row broadcast total instead)."""
    final = _final(_plan(spark, "graph_degree_distribution"))
    assert _windows_fed_by_single_partition(final) == []


def test_mime_sniff_is_jvm_side_single_python_stage(spark):
    """The magic-byte sniff must be pure JVM expressions over the
    binary column: exactly ONE Python stage (the container synth), and
    the label join a broadcast — a second Python stage means the sniff
    fell out of the scan."""
    final = _final(_plan(spark, "multimodal_mime_sniff_mismatch"))
    assert final.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in final


def test_embedding_drift_one_pass_takeordered(spark):
    """Both halves' moments must ride ONE aggregate over one
    embeddings scan (conditional aggregation, not a per-half scan or
    self-join), and the top-10 must be TakeOrdered."""
    plan = _plan(spark, "embedding_halves_drift")
    outer = _outer_final(plan)
    assert outer.count("embeddings.parquet") == 1
    assert "TakeOrderedAndProject" in outer
    for node in ("SortMergeJoin", "BroadcastHashJoin"):
        assert node not in outer


def test_ivm_reads_materialized_view_not_recompute(spark):
    """The merge side must read the STANDING view from its
    materialized parquet (that's what makes the per-batch cost |delta|
    instead of |orders|) and fold deltas via one outer merge join —
    recomputing the view in the merge plan defeats IVM."""
    plan = _plan(spark, "incremental_join_view_merge")
    outer = _outer_final(plan)
    assert "nation_view" in outer


def test_datasheet_is_single_scan(spark):
    """All seven datasheet statistics must fold into ONE documents
    scan + one aggregate — seven separate sub-queries over the corpus
    is exactly what the tall-union design avoids."""
    plan = _plan(spark, "text_dataset_datasheet")
    outer = _outer_final(plan)
    assert outer.count("documents.parquet") == 1


def test_scd2_pit_join_is_equi_with_residual_not_nested_loop(spark):
    """The point-in-time lookup must plan as an EQUI join on user_id
    with the validity range as a residual condition — a
    BroadcastNestedLoopJoin means the equi key fell out and every
    purchase scans every version."""
    final = _final(_plan(spark, "join_scd2_pit_status"))
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final
    assert ("SortMergeJoin" in final) or ("BroadcastHashJoin" in final)


def test_spearman_price_ranks_ride_range_exchange(spark):
    """The price-side rank map (corpus-scale distinct values) must
    cumsum through the range-exchange prefix — a single-partition
    window over distinct prices is the 100× funnel. The quantity map
    (≤50 values by TPC-H domain) is the one allowed tiny global
    window."""
    final = _final(_plan(spark, "stats_spearman_price_quantity"))
    assert "rangepartitioning" in final.lower()
    assert len(_windows_fed_by_single_partition(final)) <= 1


def test_dsir_logratio_map_is_broadcast_one_token_pass(spark):
    """The 256-bucket log-ratio map must BROADCAST onto the doc-bucket
    frame (shuffling the corpus frame to meet 256 rows is the bug),
    and the token explode must run once into the persisted frame —
    the two distribution models and the scoring all read the cache."""
    plan = _plan(spark, "text_dsir_importance_weights")
    outer = _outer_final(plan)
    assert "BroadcastHashJoin" in outer
    assert outer.count("documents.parquet") == 0  # all reads via cache
    assert "InMemoryTableScan" in outer


def test_weighted_sample_is_takeordered(spark):
    """Efraimidis–Spirakis selection must plan as
    TakeOrderedAndProject (per-partition top-K, driver merge) — a
    global Sort before the limit would shuffle the corpus."""
    final = _final(_plan(spark, "text_weighted_sample"))
    assert "TakeOrderedAndProject" in final
    assert "Exchange" not in final


def test_local_clustering_joins_stay_equi(spark):
    """The wedge and closure joins of the local-clustering triangle
    enumeration must stay EQUI joins (hash/sort-merge on src and
    (x,y)) — a BroadcastNestedLoopJoin means the rank-canonical
    orientation fell out and the join is quadratic in neighbors."""
    final = _final(_plan(spark, "graph_local_clustering"))
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final


def test_average_precision_ranks_ride_range_exchange(spark):
    """Per-doc ranks for AP must come from the range-exchange prefix
    (corpus-scale total order) — a single-partition rank window over
    all documents is the 100× funnel."""
    final = _final(_plan(spark, "eval_average_precision"))
    assert "rangepartitioning" in final.lower()
    assert _windows_fed_by_single_partition(final) == []


def test_permutation_test_explodes_then_reduces(spark):
    """The ×32 relabeling must ride a Generate (explode) of the
    per-user frame and partial-aggregate to 32 moment rows — never a
    cartesian or a join against the raw events. The explode's
    broadcast is shared by several scalar subqueries, so the whole
    final plan is searched."""
    final = _final_regions(_plan(spark, "stats_permutation_test"))
    assert "Generate" in final
    assert "CartesianProduct" not in final


def test_jarque_bera_is_one_scan_one_agg(spark):
    """The JB moment chain must ride a SINGLE events scan carrying all
    four power sums through one partial+final hash aggregate — the
    textbook mean-then-deviations formulation would scan twice, and a
    second scan is the regression at 100 TB."""
    final = _final(_plan(spark, "stats_jarque_bera_value"))
    assert final.count("Scan parquet") == 1, final
    assert "Window" not in final


def test_bh_fdr_windows_only_over_event_type_frame(spark):
    """The BH step-up runs global windows by design — but only over
    the m = |event types| frame (5 rows). Both scans (day exposure +
    per-type counts) must be plain hash aggregates; a window fed by
    corpus-scale input would be the regression."""
    full = _plan(spark, "stats_bh_fdr_event_rates")
    final = _final(full)
    # two scans: one for exposures, one for per-type counts
    assert final.count("Scan parquet") == 2, final
    # the windows exist, but every one sits above the k-row aggregate
    assert "Window" in final


def test_theil_decomposition_has_no_window(spark):
    """Theil rides pure aggregates: per-customer collapse, 25-row
    group frame, pinned per-term sums. A Window (e.g. a rank-based
    reformulation) or a SinglePartition funnel over the per-customer
    frame would be the scale regression."""
    final = _final(_plan(spark, "customer_theil_inequality"))
    assert "Window" not in final
    assert _windows_fed_by_single_partition(final) == []


def test_null_safe_join_is_hash_join_not_filter(spark):
    """``<=>`` must compile as an equi-join KEY (hash/broadcast
    join), not a post-cartesian filter — a BroadcastNestedLoopJoin
    here would go quadratic when the joined summaries are
    corpus-sized."""
    final = _final(_plan(spark, "join_null_safe_buckets"))
    assert "BroadcastHashJoin" in final or "SortMergeJoin" in final
    assert "NestedLoop" not in final


def test_vocab_overlap_rank_window_is_partitioned(spark):
    """The per-source top-K rank must partition BY SOURCE — a global
    rank over the pooled vocab would funnel the Heaps-small-but-
    growing frame through one task."""
    final = _final(_plan(spark, "text_vocab_overlap_sources"))
    assert "Window" in final
    assert _windows_fed_by_single_partition(final) == []


def test_robust_stl_has_no_window_and_reuses_daily(spark):
    """The decomposition rides calendar equi-joins over the persisted
    ~#days frame: no Window anywhere (a rolling-median window over
    raw orders would be the regression) and the daily aggregate is
    cached, not recomputed per CTE reference."""
    full = _plan(spark, "orders_robust_stl_decompose")
    outer = _outer_final(full)
    assert "Window" not in outer
    assert "InMemoryTableScan" in full


def test_participation_ratio_grid_is_broadcast_no_self_join(spark):
    """The all-pairs covariance must ride the broadcast 2080-row
    (i≤j) grid — a vec_id self-join of the exploded components
    would shuffle the corpus twice; here the partial aggregate
    collapses every partition to ≤2080 rows before the only
    exchange."""
    final = _final(_plan(spark, "embedding_participation_ratio"))
    assert "SortMergeJoin" not in final
    assert "BroadcastNestedLoopJoin" in final  # the grid cross join
    assert _windows_fed_by_single_partition(final) == []


def test_hybrid_rrf_broadcasts_queries_windows_partitioned(spark):
    """Both rankers must stay partition-parallel: the dense side is a
    broadcast(5 queries) nested-loop over one corpus scan, rank
    windows partition BY QUERY, and the fusion join never shuffles a
    corpus-sized frame through one task."""
    final = _final(_plan(spark, "similarity_hybrid_rrf"))
    assert "BroadcastNestedLoopJoin" in final  # dense scoring side
    assert _windows_fed_by_single_partition(final) == []


def test_column_entropy_is_one_scan(spark):
    """The 5-column entropy profile must unpivot ONE scan (Expand),
    not read the parquet once per column."""
    final = _final(_plan(spark, "profile_column_entropy"))
    assert final.count("Scan parquet") == 1, final
    assert "Expand" in final


def test_price_elasticity_is_one_scan_moment_aggregate(spark):
    """Log-log OLS elasticity must be the sufficient-statistics shape:
    ONE lineitem scan into a single partial+final moment aggregate —
    no join, no shuffle wider than the one-row finish."""
    final = _final(_plan(spark, "lineitem_price_elasticity"))
    assert final.count("Scan parquet") == 1, final
    assert "SortMergeJoin" not in final
    assert "BroadcastHashJoin" not in final
    assert "CartesianProduct" not in final


def test_rayleigh_is_one_scan_24_group_aggregate(spark):
    """The circular-uniformity test must be ONE events scan into a
    24-group hash aggregate; everything after runs on <=24 rows."""
    final = _final(_plan(spark, "events_rayleigh_hour_uniformity"))
    assert final.count("Scan parquet") == 1, final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_retention_powerlaw_joins_stay_calendar_bounded(spark):
    """The log-log retention fit: corpus-scale work is the distinct
    (user, day) collapse + per-(cohort, k) hash aggregates; the
    eligibility/fit joins run on <= #days-sized frames, so no
    corpus-side SortMergeJoin and no CartesianProduct may appear (the
    nested-loop that does appear is the broadcast-scalar totals
    pattern, 1-row side by construction)."""
    final = _final(_plan(spark, "events_retention_powerlaw_fit"))
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "HashAggregate" in final


def test_holt_recursion_is_unionloop_over_daily_aggregate(spark):
    """Holt's linear smoothing must execute as Spark 4's recursive-CTE
    UnionLoop over the ~#days daily aggregate — the sequential
    recurrence is the point (a window-function rewrite would not be
    bit-identical to the oracle's recursion); the corpus-sized scan
    happens once inside the loop's base/step plan, and no join wider
    than the t = t+1 step may appear."""
    final = _final(_plan(spark, "events_holt_linear_recursive"))
    assert "UnionLoop" in final
    assert "CartesianProduct" not in final


def test_mixture_plan_joins_broadcast_no_corpus_sort(spark):
    """The mixture planner composes three doc-level screens + token
    counts by doc_id and must keep every join hash/broadcast-sided
    (no corpus SortMergeJoin, no CartesianProduct); the apportionment
    window runs on the |sources|-row frame (bounded by construction —
    the one SinglePartition exchange feeds that tiny finish, not a
    corpus frame), and the documents scans stay shared across screens
    (<= 3 scans, the curation-report budget)."""
    final = _final(_plan(spark, "text_mixture_plan"))
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert final.count("Scan parquet") <= 3, final.count("Scan parquet")


def test_fisher_index_reuses_laspeyres_shape(spark):
    """Paasche/Fisher must keep the Laspeyres physical budget: the
    per-(part,year) price frame derives from <= 3 lineitem scans (py
    referenced by base and terms + the base-year scalar), every join
    hash/broadcast-sided on the |parts| frame, no window, no
    CartesianProduct — the four dot products ride ONE per-year
    aggregate, not four."""
    final = _final(_plan(spark, "lineitem_fisher_price_index"))
    assert final.count("Scan parquet") <= 3, final.count("Scan parquet")
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "Window" not in final


def test_l_diversity_is_one_scan_no_window(spark):
    """l-diversity must collapse the customer table in ONE scan into
    the (QI, segment) hash aggregate; the entropy join is class-keyed
    (hash/broadcast), and no window or cartesian may appear — the
    report is aggregation end-to-end."""
    final = _final(_plan(spark, "customer_l_diversity"))
    assert final.count("Scan parquet") == 1, final.count("Scan parquet")
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "Window" not in final


def test_fanout_audit_never_materializes_the_pairs(spark):
    """The fanout audit predicts a quadratic join from COUNTS: one
    lineitem scan -> key hash aggregate -> 1-row total broadcast back
    -> TakeOrdered(10). The audited join's pair frame must not exist
    in the plan (no SortMergeJoin, no CartesianProduct; the one
    nested-loop is the broadcast-scalar total)."""
    final = _final(_plan(spark, "join_fanout_audit"))
    assert final.count("Scan parquet") == 1, final.count("Scan parquet")
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "TakeOrdered" in final


def test_brier_decomposition_is_aggregates_plus_scalar_joins(spark):
    """The Murphy decomposition is two aggregates over the scored
    frame (corpus moments + 10 fixed-width bins) glued by 1-row
    broadcast nested loops: <= 3 tokenize scans (the curation-report
    budget), no window, no rank exchange, no SortMergeJoin — strictly
    cheaper than the rank-decile calibration table."""
    final = _final(_plan(spark, "eval_brier_decomposition"))
    assert final.count("Scan parquet") <= 3, final.count("Scan parquet")
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "Window" not in final


def test_delta_method_is_moment_aggregate_plus_arm_join(spark):
    """The delta-method readout carries all six per-arm moments in ONE
    conditional aggregate pass (2-row result), then self-joins the two
    1-row arms via broadcast nested loop: <= 2 events scans, no
    window, no SortMergeJoin."""
    final = _final(_plan(spark, "events_ab_delta_method"))
    assert final.count("Scan parquet") <= 2, final.count("Scan parquet")
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "Window" not in final


def test_sprt_window_is_calendar_bounded_single_scan(spark):
    """The SPRT monitor is one events scan -> per-user aggregate ->
    per-day aggregate; its one unpartitioned cumulative window runs on
    the <= #days daily frame (bounded by construction, the
    daily-series convention) — no join anywhere in the plan."""
    final = _final(_plan(spark, "events_ab_sequential_sprt"))
    assert final.count("Scan parquet") == 1, final.count("Scan parquet")
    assert "Join" not in final, final
    assert final.count("Window") == 1


def test_cochran_q_is_two_calendar_chains(spark):
    """Cochran's Q must run as TWO chains (weekday column totals /
    week row totals), each one scan + calendar-sized aggregates,
    joined by a 1-row broadcast nested loop — the scalar-subquery
    form that re-executed the chain five times is the regression this
    pin guards against. No window, no cartesian."""
    final = _final(_plan(spark, "stats_cochran_q_dow"))
    assert final.count("Scan parquet") <= 2, final.count("Scan parquet")
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "Window" not in final


def test_hits_persists_edges_one_scan_per_fact(spark):
    """HITS must derive the bipartite edge list ONCE (one orders scan
    + one lineitem scan into a persisted frame) and run all four h/a
    rounds against the cache — the SQL-CTE form that re-derives the
    fact-fact join per round is the regression this pin guards. Per-
    side top-k rides TakeOrdered; no cartesian anywhere."""
    plan = _plan(spark, "graph_hits_hubs_authorities")
    final = _outer_final(plan)
    assert final.count("Scan parquet") == 0, final.count("Scan parquet")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in final
    assert "TakeOrdered" in plan


def test_hashing_audit_computes_hash_once_no_expand(spark):
    """The feature-hashing audit is tokenize scan -> explode ->
    (token, hash) pre-aggregate (the aggregation boundary forces ONE
    md5 evaluation; bucket and sign are integer arithmetic on the
    materialized hash) -> 64-group aggregate -> broadcast-scalar
    total: <= 2 scans, no window, no SortMergeJoin, exactly one md5
    call, and no distinct-agg Expand."""
    final = _final(_plan(spark, "features_hashing_trick_audit"))
    assert final.count("Scan parquet") <= 2, final.count("Scan parquet")
    assert "SortMergeJoin" not in final
    assert "Window" not in final
    assert final.count("md5") == 1, final.count("md5")
    assert "Expand" not in final


def test_holt_winters_is_unionloop_no_join_wider_than_step(spark):
    """Holt-Winters must execute as the recursive-CTE UnionLoop over
    the daily aggregate (the 9-column state ring rides the loop; a
    window rewrite would not be bit-identical to the oracle's
    recursion) with no CartesianProduct anywhere."""
    plan = _plan(spark, "events_holt_winters_additive")
    assert "UnionLoop" in plan
    assert "CartesianProduct" not in _outer_final(plan)


def test_naive_bayes_tokenizes_once(spark):
    """Naive Bayes references the tokenize+fold projection 7x in SQL;
    the Spark side must persist it so the corpus is tokenized ONCE —
    zero parquet scans in the outer final plan, every reference an
    InMemoryTableScan. No SortMergeJoin (the likelihood join is
    hash-sided), no cartesian beyond the broadcast lang grid."""
    plan = _plan(spark, "text_naive_bayes_langid")
    outer = _outer_final(plan)
    assert outer.count("Scan parquet") == 0, outer.count("Scan parquet")
    assert outer.count("InMemoryTableScan") >= 5
    assert "SortMergeJoin" not in outer
    assert "CartesianProduct" not in outer


def test_logreg_gd_reuses_persisted_features(spark):
    """Round-12 shape: each GD step's 1-row weight frame is
    localCheckpointed (the scalar-subquery CTE form re-evaluated the
    gradient aggregate ~9× per nesting level — measured 4.0s → 2.4s
    at sf0.1), so the RETURNED plan is just the three metric
    aggregates: each reads the feature projection from cache (one
    InMemoryTableScan per step, zero parquet scans) and glues the
    checkpointed weights back as a 1-row broadcast — no
    SortMergeJoin, no window."""
    plan = _plan(spark, "text_logreg_train_gd")
    outer = _outer_final(plan)
    assert outer.count("Scan parquet") == 0, outer.count("Scan parquet")
    assert outer.count("InMemoryTableScan") >= 3
    assert "Scan ExistingRDD" in outer  # the checkpointed weight rows
    assert "SortMergeJoin" not in outer
    assert "Window" not in outer


def test_meta_analysis_is_two_aggregates_no_window(spark):
    """The stratified meta-analysis is per-user aggregate -> tercile
    boundary aggregate (broadcast back) -> 3-row stratum aggregate;
    <= 2 events scans, no window, no SortMergeJoin — heterogeneity
    must never cost more than the lift readout it qualifies."""
    final = _final(_plan(spark, "events_ab_stratified_metaanalysis"))
    assert final.count("Scan parquet") <= 2, final.count("Scan parquet")
    assert "SortMergeJoin" not in final
    assert "Window" not in final


def test_page_trend_keeps_friedman_budget(spark):
    """Page's L reuses the Friedman physical budget: calendar-sized
    frames after one corpus collapse per chain, integral ranks from
    the in-block 7x7 compare (no window sort), no cartesian."""
    final = _final(_plan(spark, "stats_page_trend_dow"))
    assert "Window" not in final
    assert "CartesianProduct" not in final
    assert "HashAggregate" in final


def test_croston_recursion_runs_on_checkpointed_seq(spark):
    """Croston must recurse over the pre-materialized <= 32-row
    sequence (localCheckpoint leaf): the recursion executes as a
    UnionLoop and the OUTER plan contains no parquet scan at all —
    the corpus scan happened once, before the loop (the inline-seq
    form re-planned the lineitem aggregate per step: measured 29s ->
    6s at sf0.1). Depth is bounded by the LAST_N cap, not data."""
    plan = _plan(spark, "lineitem_croston_intermittent")
    assert "UnionLoop" in plan
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "CartesianProduct" not in plan


def test_revenue_recursions_checkpoint_their_daily_frame(spark):
    """The EWMA / Holt / Holt-Winters recursions share the split-out
    daily-revenue sequence: each op's outer plan must contain no
    parquet scan (the events scan ran once into the checkpointed
    leaf; an inline daily CTE is re-planned per UnionLoop step)."""
    for name in (
        "events_ewma_recursive",
        "events_holt_linear_recursive",
        "events_holt_winters_additive",
    ):
        plan = _plan(spark, name)
        assert "UnionLoop" in plan, name
        assert plan.count("Scan parquet") == 0, (name, plan)


def test_semdedup_pair_join_is_cell_equi_join(spark):
    """dedup_semantic_clusters' pruning self-join must be keyed ON the
    cell column — a cartesian/nested-loop there means the bucketing
    regressed into all-pairs, the exact failure SemDeDup exists to
    avoid. Centroid assignment must ride a broadcast (the codebook is
    K rows), and the decision frame's keep join is a hash join."""
    plan = _plan(spark, "dedup_semantic_clusters")
    assert "CartesianProduct" not in plan
    # the member-pair join keys ON CELL (equi, any hash/merge family),
    # with the cosine verify riding as the join condition:
    pair_joins = [
        ln
        for ln in plan.splitlines()
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln)
        and "[cell" in ln
    ]
    assert pair_joins, plan
    # every nested-loop in the plan is the e × broadcast(K-row
    # codebook) assignment scan — none may sit above the member join:
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "BuildRight" in ln, ln


def test_bradley_terry_rounds_are_checkpointed(spark):
    """eval_bradley_terry_ratings: the returned plan must read ONLY
    checkpointed round frames and the materialized aggregate views —
    zero parquet scans (the data-sized stride self-join ran once into
    bt_n/bt_tw), and no window (the mean-1 normalizer already ran
    inside the per-round materialization)."""
    plan = _plan(spark, "eval_bradley_terry_ratings")
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "CartesianProduct" not in plan


def test_unigram_final_plans_scan_discipline(spark):
    """text_unigram_lm_train's returned plan reads only the final
    checkpointed vocab (0 parquet scans); text_unigram_segment_stats
    adds exactly ONE corpus scan — the lazy ug_occ occurrence view
    (checkpointing it would materialize the token frame; the pin
    guards both directions: no extra scans sneaking in AND the
    occurrence view staying lazy)."""
    plan = _plan(spark, "text_unigram_lm_train")
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    plan2 = _plan(spark, "text_unigram_segment_stats")
    f2 = _final(plan2)
    assert f2.count("Scan parquet") == 1, f2.count("Scan parquet")


def test_packing_report_has_no_single_partition_window(spark):
    """text_packing_boundary_report's running token total must ride
    the range-exchange prefix (per-_pid windows + offset literals) —
    a Window fed by a SinglePartition exchange is the regression this
    op exists to avoid (the oracle may use a global window; Spark
    may not)."""
    final = _final(_plan(spark, "text_packing_boundary_report"))
    assert "Window" in final
    assert _windows_fed_by_single_partition(final) == []


def test_ndcg_eval_broadcasts_query_side(spark):
    """similarity_ndcg_label_eval: the 5-query side rides a broadcast
    against ONE corpus scan — a sort-merge join would shuffle the
    corpus for a 5-row probe set."""
    plan = _plan(spark, "similarity_ndcg_label_eval")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_incremental_pair_join_is_cell_equi_join(spark):
    """dedup_semantic_incremental: the batch-vs-standing join must key
    ON cell (the bucketed candidate surface), never nested-loop."""
    plan = _plan(spark, "dedup_semantic_incremental")
    assert "CartesianProduct" not in plan
    pair_joins = [
        ln
        for ln in plan.splitlines()
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln)
        and "[cell" in ln
    ]
    assert pair_joins, plan


def test_fleiss_kappa_is_two_hash_aggregates_no_window(spark):
    """eval_fleiss_kappa: hash labeling stays in codegen (no Python),
    the statistic is hash aggregates + scalar finishing joins — no
    window, no cartesian on data-sized frames (the R=3 annotator grid
    is a 3-row broadcast)."""
    final = _final(_plan(spark, "eval_fleiss_kappa"))
    assert "Window" not in final
    assert "HashAggregate" in final
    assert "CartesianProduct" not in final


def test_pivot_is_aggregate_then_pivot_no_discovery(spark):
    """orders_pivot_revenue_matrix declares its pivot values, so the
    plan must be the aggregate-THEN-pivot shape: a map-side-partial
    (status, priority) aggregate reducing the corpus before the
    pivotfirst widening aggregate — no Expand, at most the two
    ENSURE_REQUIREMENTS exchanges (both over model-sized frames), and
    exactly one FileScan (a values-discovery collect would run a
    separate job, invisible here, but its absence is also pinned by
    the explicit-values API contract)."""
    p = _outer_final(_plan(spark, "orders_pivot_revenue_matrix"))
    assert "Expand" not in p, p
    assert "pivotfirst" in p, p
    assert p.count("Exchange") <= 2, p
    assert p.count("FileScan") == 1, p


def test_bigram_lm_rungs_join_on_model_keys_no_cartesian(spark):
    """Both bigram-LM rungs: every scoring join is an equi-join on
    model-sized keys; the only nested-loop joins allowed are the
    1-row scalar broadcasts (vsize / bigram-type total)."""
    for name in (
        "text_bigram_addk_perplexity",
        "text_bigram_kneser_ney_perplexity",
    ):
        p = _plan(spark, name)
        f = _outer_final(p)
        assert "CartesianProduct" not in f, (name, f)
        # scalar broadcasts print as BroadcastNestedLoopJoin over a
        # 1-row aggregate — anything else nested-loop is a bug
        for ln in f.split("\n"):
            if "NestedLoop" in ln:
                assert "BuildRight" in ln or "BuildLeft" in ln, (name, ln)


def test_semantic_recall_sweep_pairs_on_cell_key(spark):
    """The sweep's candidate surface must be an equi-join ON cell
    (banded), never a cartesian over data-sized frames; the probes
    frame rides broadcast nested loops (3 rows, allowed)."""
    p = _outer_final(_plan(spark, "dedup_semantic_recall_sweep"))
    assert "CartesianProduct" not in p, p


def test_bucketed_join_zero_exchange(spark):
    """The bucketed-layout demonstration: both fact scans must carry
    bucket metadata (Bucketed: true), the merge join and the
    per-orderkey aggregate above it must plan WITHOUT any Exchange
    (that's what bucketBy bought), and the ONLY Exchange in the whole
    plan is the final 5-row priority rollup. Losing this pin means a
    refactor silently re-shuffled a join the physical layout had
    already paid for — at 100 TB, the single most expensive
    regression this file can catch."""
    f = _outer_final(_plan(spark, "join_bucketed_no_shuffle"))
    assert f.count("Bucketed: true") == 2, f
    assert "SortMergeJoin" in f, f
    exchanges = [ln for ln in f.split("\n") if "Exchange" in ln
                 and "ShuffleQueryStage" not in ln
                 and "AQEShuffleRead" not in ln]
    assert len(exchanges) == 1, f
    assert "o_orderpriority" in exchanges[0], f
    # the lone exchange sits ABOVE the join: nothing below the SMJ
    # (or between SMJ and the per-orderkey agg) may shuffle
    below_join = f.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, f


def test_ahash_neardup_joins_on_band_key(spark):
    """The aHash candidate surface must be an equi-join on
    (band, band_value) — 8 small rows per image — never a cartesian
    over images or pixels; the verify join moves only (id, hi, lo)."""
    f = _outer_final(_plan(spark, "multimodal_image_ahash_neardup"))
    assert "CartesianProduct" not in f, f
    assert "bval" in f, f


def test_domain_quota_topk_is_salted_two_phase(spark):
    """The quota draw must be the two-phase per-host top-K: phase 1
    partitions on (host, salt) — the mega-domain skew killer — and
    only the capped candidate frame reaches the per-host exchange.
    Losing the salt silently re-creates the single-task sort of the
    40%-of-corpus contentfarm partition."""
    f = _outer_final(_plan(spark, "text_domain_quota_sample"))
    assert "salt" in f, f
    salted = [ln for ln in f.split("\n")
              if "hashpartitioning" in ln and "salt" in ln]
    assert salted, f


def test_curation_funnel_and_incremental_band_joins(spark):
    """The two newest aHash consumers must keep the banded candidate
    surface: no cartesian over data-sized frames anywhere in the
    funnel, and the incremental screen's batch×standing join runs on
    the (band, bval) key — losing either silently reverts to all-pairs
    at corpus scale."""
    for name in (
        "multimodal_curation_funnel",
        "multimodal_ahash_incremental",
    ):
        f = _outer_final(_plan(spark, name))
        assert "CartesianProduct" not in f, (name, f)
        assert "bval" in f, (name, f)


def test_ahash_incremental_decodes_batch_only_reads_store(spark):
    """VERDICT r14's weak-grade fix, pinned: the incremental
    perceptual screen's RETURNED plan must contain exactly ONE
    distinct MapInPandas node (the |batch| decode — the standing
    corpus is never re-decoded) and the standing side must be a
    parquet scan of the maintained fingerprint store. Losing either
    silently reverts to a full standing-media re-decode per daily
    ingest."""
    import re

    df = QUERIES["multimodal_ahash_incremental"](spark, SF)
    df.collect()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    full = df._jdf.queryExecution().explainString(mode)
    release_persists()
    # formatted mode numbers physical nodes, so the persisted decode
    # subtree dedups to its single node id however many plan branches
    # reference it — but AQE echoes each cached subtree's "Initial
    # Plan" under a second id, so count ids in Final regions only
    nodes: set = set()
    keep = True
    for ln in full.splitlines():
        if "== Initial Plan ==" in ln:
            keep = False
        elif "== Final Plan ==" in ln:
            keep = True
        elif keep:
            nodes |= set(re.findall(r"MapInPandas \((\d+)\)", ln))
    assert len(nodes) == 1, (nodes, full)
    assert "ahash_fp_store" in full, full


def test_packing_execute_partition_parallel_no_global_sort(spark):
    """The FFD packer must stay partition-parallel: one hash exchange
    on the substream key feeding per-group Python, never a range
    exchange / global sort (a single task must never see the corpus
    — the whole point of substream bins)."""
    f = _outer_final(_plan(spark, "text_packing_execute"))
    assert "rangepartitioning" not in f, f
    assert "substream" in f, f
    salted = [ln for ln in f.split("\n") if "hashpartitioning" in ln]
    assert any("substream" in ln for ln in salted), f

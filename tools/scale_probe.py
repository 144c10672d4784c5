"""Scale probe: candidate volume and wall time at 1x vs Nx corpus size.

The engine's dedup, ANN and graph operators claim subquadratic
candidate volume. This probe writes two corpora with
``perfbench.corpus.write_corpus`` under ``spark-warehouse/scale_probe/``:
a 1x base (``sf0.1``) and the union of ``--copies`` key-shifted,
content-disjoint copies of it (``sf1`` for 10 copies). Each copy
reproduces the base's pair, key and session structure and no true pair
crosses copies, so a sound operator grows ~linearly:
``growth / linear = value_Nx / value_1x / copies`` stays near 1.0 (or
below, for bounded reports); above 1 a banding key went hot.

Every probe runs once on the 1x corpus to warm up, then once on each
corpus. A dial row runs only on the Nx corpus, with its dial scaled by
``copies``, and takes its 1x figures from its base probe. Cached and
checkpointed blocks are released after every run. The table is written
to SCALE.md and printed.

The corpus directories are named by their scale factor, so
``SPARK_GRAFT_SF_DIR=spark-warehouse/scale_probe/sf1 python bench.py``
benches the 10x corpus.

Usage: python tools/scale_probe.py [--copies 10]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SEED = 1
BASE_SF = 0.1  # write_corpus builds one sf0.1-shaped copy per copy


def corpus_dir(copies: int) -> str:
    return os.path.join(REPO, "spark-warehouse", "scale_probe", f"sf{BASE_SF * copies:g}")


def growth(n1: float, nN: float, copies: int) -> float:
    return round(nN / n1 / copies, 2) if n1 else float("nan")


def table_rows(names, dials, runs, copies: int) -> list[tuple]:
    """Rows ``(name, n1, nN, growth, w1, wN, wall growth)``: one per probe
    in ``names``, then one per ``(dial, base)`` in ``dials`` carrying its
    base probe's 1x figures. ``runs`` maps a probe to ``(n1, w1, nN, wN)``
    and a dial to ``(nN, wN)``."""
    runs_1x_nx = [(name, *runs[name]) for name in names]
    runs_1x_nx += [(dial, *runs[base][:2], *runs[dial]) for dial, base in dials]
    return [
        (name, n1, nN, growth(n1, nN, copies), w1, wN, growth(w1, wN, copies))
        for name, n1, w1, nN, wN in runs_1x_nx
    ]


def overlap_cell_candidates(spark, d: str) -> int:
    """Pairs the interval-overlap join's refine predicate examines:
    sum of C(n, 2) over the 15-minute grid cells."""
    from pyspark.sql import functions as F

    from football_etl_pipeline_spark.operators.events import OVERLAP_GRAIN_US, session_intervals

    g = F.lit(OVERLAP_GRAIN_US)
    cells = session_intervals(spark, d).withColumn(
        "cell", F.explode(F.sequence(F.floor(F.col("s_us") / g), F.floor(F.col("e_us") / g)))
    )
    return (
        cells.groupBy("cell").count()
        .agg(F.sum(F.expr("count * (count - 1) / 2")).cast("bigint"))
        .first()[0]
    )


def wedge_candidates(spark, d: str, cap: int | None) -> int:
    """Common-neighbour candidates of link prediction: sum of C(d, 2)
    over wedge centres, optionally only centres of degree <= ``cap``."""
    from pyspark.sql import functions as F

    from football_etl_pipeline_spark.operators.events import events_interval_overlap_join

    edges = events_interval_overlap_join(spark, d).select(
        F.col("user_a").alias("u"), F.col("user_b").alias("v")
    ).distinct()
    deg = edges.union(edges.select("v", "u")).groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    if cap is not None:
        deg = deg.filter(F.col("d") <= cap)
    return deg.agg(F.sum(F.expr("d * (d - 1) / 2")).cast("bigint")).first()[0] or 0


def families(spark, copies: int) -> list[tuple]:
    """``(title, preamble, probes, dials)`` per SCALE.md section. A probe
    is ``(name, fn)`` and a dial ``(name, base, fn)``; ``fn(d)`` returns
    the probe's count on the corpus dir ``d``."""
    from football_etl_pipeline_spark.operators import QUERIES, dedup, similarity, textops
    from football_etl_pipeline_spark.operators.graph import LP_CENTER_DEG_CAP
    from football_etl_pipeline_spark.sources.testdata import load_table

    def docs(d):
        return load_table(spark, d, "documents")

    def query(name):
        return name, lambda d: QUERIES[name](spark, d).count()

    def ivf_scaled(d):
        saved = dedup.EMB_DUP_CELLS
        dedup.EMB_DUP_CELLS = saved * copies
        try:
            return dedup.dedup_embedding_ivf(spark, d, candidates_only=True).count()
        finally:
            dedup.EMB_DUP_CELLS = saved

    semdedup = f"dedup_semantic_clusters (fixed {similarity.SEMDEDUP_CELLS} cells)"
    cooc = f"text_cooccurrence (V={textops.COOC_VOCAB_CAP})"
    rungs = [
        ("dedup_ngram_jaccard",
         lambda d: dedup.dedup_ngram_jaccard(spark, d, candidates_only=True).count()),
        ("dedup_minhash_lsh",
         lambda d: dedup.minhash_lsh_pairs(docs(d), candidates_only=True).count()),
        ("dedup_simhash", lambda d: dedup.simhash_banded_pairs(
            dedup.simhash_values(docs(d)), candidates_only=True).count()),
        ("similarity_ann_lsh",
         lambda d: similarity.similarity_ann_lsh(spark, d, candidates_only=True).count()),
        ("dedup_embedding_ivf",
         lambda d: dedup.dedup_embedding_ivf(spark, d, candidates_only=True).count()),
        (semdedup, lambda d: similarity.dedup_semantic_clusters(
            spark, d, candidates_only=True).count()),
        (cooc, lambda d: textops.cooccurrence_candidates(docs(d)).count()),
    ]
    dials = [
        (f"dedup_embedding_ivf (cells x{copies})", "dedup_embedding_ivf", ivf_scaled),
        (f"dedup_semantic_clusters (cells x{copies})", semdedup,
         lambda d: similarity.dedup_semantic_clusters(
             spark, d, candidates_only=True, cells=similarity.SEMDEDUP_CELLS * copies).count()),
        (f"text_cooccurrence (V x{copies})", cooc,
         lambda d: textops.cooccurrence_candidates(
             docs(d), vocab_cap=textops.COOC_VOCAB_CAP * copies).count()),
    ]
    composed = [query(n) for n in (
        "dedup_pipeline_e2e",
        "dedup_method_agreement",
        "dedup_cluster_size_histogram",
        "dedup_keep_best_quality",
        "dedup_semantic_recall_sweep",
        "similarity_ann_recall_report",
        "similarity_ann_ivf_adc",
        "similarity_hybrid_rrf",
        "text_curation_report",
        "text_naive_bayes_langid",
        "text_unigram_lm_train",
        "text_unigram_segment_stats",
        "text_domain_quota_sample",
        "eval_bradley_terry_ratings",
        "multimodal_image_ahash_neardup",
        "events_quantile_sketch_rollup",
    )]
    graph = [
        ("overlap_cell_candidates", lambda d: overlap_cell_candidates(spark, d)),
        ("lp_wedges (capped)", lambda d: wedge_candidates(spark, d, LP_CENTER_DEG_CAP)),
        ("lp_wedges (uncapped)", lambda d: wedge_candidates(spark, d, None)),
    ] + [query(n) for n in (
        "graph_label_propagation",
        "graph_link_prediction",
        "graph_modularity_report",
        "graph_kcore",
        "join_scd2_pit_status",
        "events_rolling_active_users",
    )]
    orders = [query(n) for n in (
        "orders_series_diagnostics",
        "stats_kruskal_wallis_priority",
        "graph_hits_hubs_authorities",
    )]
    return [
        ("Candidate rungs",
         "Counts are candidate pairs. At fixed cells, IVF and SemDeDup "
         "candidates are ~n²·nprobe²/cells, so their fixed rows must grow "
         f"~{copies}x per doc; their `cells x{copies}` dial rows (cells ~ n, "
         "the trained large-codebook setting) must grow ~linearly. A fixed "
         "co-occurrence keep-list V spreads its slots across the copies' "
         "vocabularies once they outnumber V, so that row goes sublinear "
         f"(coverage, not cost, shrinks); the `V x{copies}` dial row "
         "restores linear growth.",
         rungs, dials),
        ("Composed pipelines",
         "Registered queries that compose the rungs above or scan the whole "
         "documents, embeddings or events table. Counts are output rows; most "
         "are bounded reports, so wall growth is the soundness figure (a "
         "candidate explosion inside a composition shows as superlinear "
         "wall). The recall sweep's ground truth is capped in-query to a "
         "fixed cohort, but its screen trains the fixed SemDeDup cells, so "
         "its wall grows like the fixed-cells rung above.",
         composed, []),
        ("Graph / co-activity",
         "The graph queries derive their edges (sessionize -> bucketed "
         "interval-overlap join -> distinct pairs). Events copies are shifted "
         "in user key and in time, so the grid-cell candidates, the wedges "
         "and the edges must all grow ~linearly. `lp_wedges` counts "
         "common-neighbour candidates, sum C(d, 2) over wedge centres, with "
         f"centres capped at LP_CENTER_DEG_CAP={LP_CENTER_DEG_CAP} and "
         "uncapped.",
         graph, []),
        ("Orders",
         "Orders and lineitem copies are key-shifted, but order and ship "
         f"dates are not, so these rows measure a {copies}x denser daily "
         "series over the same dates, not a longer one. "
         "`stats_kruskal_wallis_priority`'s running rank totals ride "
         "`_range_prefix`, not a global window.",
         orders, []),
    ]


def render(fams, runs, copies: int, cores: str, secs: float) -> str:
    lines = [
        f"# SCALE — 1x vs {copies}x corpus",
        "",
        f"Generated by `python tools/scale_probe.py --copies {copies}` on "
        f"{cores}, in {secs:.0f} s. Corpora: `perfbench/corpus.write_corpus` "
        f"seed {SEED}, one sf0.1-shaped copy (1x) and {copies} key-shifted, "
        "content-disjoint copies of it (documents token-prefixed per copy, "
        "embeddings dimension-rolled, events time-shifted), so no key, pair "
        "or session crosses copies. `growth / linear` = value at "
        f"{copies}x / value at 1x / {copies}: 1.0 is linear, below 1 "
        "sublinear, above 1 superlinear. Wall times are single runs after "
        "a 1x warm-up.",
    ]
    header = (
        f"| probe | count 1x | count {copies}x | growth / linear | wall 1x (s) "
        f"| wall {copies}x (s) | wall growth / linear |"
    )
    for title, preamble, probes, dials in fams:
        names = [name for name, _ in probes]
        lines += ["", f"## {title}", "", preamble, "", header, "|---" * 7 + "|"]
        for row in table_rows(names, [(n, b) for n, b, _ in dials], runs, copies):
            lines.append("| " + " | ".join(str(v) for v in row) + " |")
    return "\n".join(lines) + "\n"


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="1x vs Nx scale probe; writes SCALE.md")
    ap.add_argument("--copies", type=int, default=10, help="copies in the large corpus (default 10)")
    copies = ap.parse_args(argv).copies
    if copies < 2:
        ap.error("--copies must be at least 2")

    from football_etl_pipeline_spark.operators.registry import release_checkpoints
    from football_etl_pipeline_spark.session import get_spark
    from perfbench.corpus import write_corpus

    start = time.time()
    small, big = corpus_dir(1), corpus_dir(copies)
    write_corpus(small, SEED, 1)
    write_corpus(big, SEED, copies)
    spark = get_spark("scale_probe")

    def run(fn, d):
        t0 = time.time()
        n = fn(d)
        wall = round(time.time() - t0, 2)
        release_checkpoints(spark)
        return n, wall

    fams = families(spark, copies)
    runs = {}
    for _, _, probes, dials in fams:
        for name, fn in probes:
            run(fn, small)
            runs[name] = run(fn, small) + run(fn, big)
            print(f"# {name}: {runs[name]}", flush=True)
        for name, _, fn in dials:
            runs[name] = run(fn, big)
            print(f"# {name}: {runs[name]}", flush=True)

    cores = f"local[{spark.sparkContext.defaultParallelism}], {os.cpu_count()} cores"
    text = render(fams, runs, copies, cores, time.time() - start)
    with open(os.path.join(REPO, "SCALE.md"), "w") as f:
        f.write(text)
    print(text)


if __name__ == "__main__":
    main()

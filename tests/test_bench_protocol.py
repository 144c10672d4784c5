"""Unit tests for bench.py's run record: the plan-fingerprint text rule,
the fingerprint-based mover labels of ``tools/bench_compare.py``, the
run tag, and the HEADLINE/family bookkeeping.

Only ``test_fingerprint_stable_per_query_and_distinct_across`` needs a
SparkSession; the rest work on strings and dicts.
"""

from __future__ import annotations

import os

import bench
from tools.bench_compare import compare

# An explain("formatted") string shaped like Spark's: the operator
# tree, a blank line, then per-node details carrying the volatile ids.
PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- Project (8)
   +- BroadcastHashJoin Inner BuildRight (7)
      :- Scan ExistingRDD (1)
      +- BroadcastExchange (6)
         +- InMemoryTableScan (2) (columnarIn=false, columnarOut=true)
               +- InMemoryRelation (3)
                     +- AdaptiveSparkPlan (5)
                        +- == Initial Plan ==
                           Project (4)
                           +- Scan parquet  (10)


(1) Scan ExistingRDD
Output [2]: [u#131L, v#132L]
Arguments: [u#131L, v#132L], MapPartitionsRDD[151] at localCheckpoint at <unknown>:0, ExistingRDD, UnknownPartitioning(0)

(6) BroadcastExchange
Input [1]: [k#7L]
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=2729]

(10) Scan parquet
Location: InMemoryFileIndex [file:/data/sf0.01/orders.parquet]
"""

FINAL_BLOCK = """                        +- == Final Plan ==
                           ResultQueryStage (14)
                           +- * Project (13)
                              +- ShuffleQueryStage (12), Statistics(sizeInBytes=163.0 KiB, rowCount=500)
                                 +- Exchange (11)
                                    +- Scan parquet  (10)
"""


def test_fingerprint_ignores_node_ids_statistics_and_final_plan():
    fp = bench.plan_fingerprint(PLAN)
    assert len(fp) == 16 and int(fp, 16) >= 0
    renumbered = PLAN.replace("(9)", "(19)").replace("(2) (columnarIn", "(3) (columnarIn")
    assert bench.plan_fingerprint(renumbered) == fp
    with_stats = PLAN.replace(
        "+- Project (8)", "+- Project (8), Statistics(sizeInBytes=1.0 KiB, rowCount=7)"
    )
    assert bench.plan_fingerprint(with_stats) == fp
    executed = PLAN.replace(
        "                        +- == Initial Plan ==\n",
        FINAL_BLOCK + "                        +- == Initial Plan ==\n",
    )
    assert executed != PLAN
    assert bench.plan_fingerprint(executed) == fp


def test_normalize_plan_strips_expression_plan_rdd_ids_and_paths():
    other = (
        PLAN.replace("u#131L", "u#9L")
        .replace("v#132L", "v#10L")
        .replace("MapPartitionsRDD[151]", "MapPartitionsRDD[4]")
        .replace("<unknown>:0", "<unknown>:3")
        .replace("plan_id=2729", "plan_id=5")
        .replace("/data/sf0.01", "/tmp/elsewhere")
    )
    assert bench.normalize_plan(other) == bench.normalize_plan(PLAN)
    assert bench.normalize_plan("Subquery subquery#4, [id=#88]") == "Subquery subquery#*, "
    assert bench.plan_fingerprint(other) == bench.plan_fingerprint(PLAN)


def test_fingerprint_sees_join_side_and_added_exchange():
    fp = bench.plan_fingerprint(PLAN)
    assert bench.plan_fingerprint(PLAN.replace("BuildRight", "BuildLeft")) != fp
    extra_exchange = PLAN.replace(
        "      :- Scan ExistingRDD (1)\n",
        "      :- Exchange (11)\n      :  +- Scan ExistingRDD (1)\n",
    )
    assert bench.plan_fingerprint(extra_exchange) != fp


def test_compare_labels_movers_by_fingerprint():
    prev = {
        "queries": {"a": 1.0, "b": 1.0, "c": 1.0, "steady": 1.0},
        "fingerprints": {"a": "f1", "b": "f2", "steady": "f4"},
    }
    cur = {
        "queries": {"a": 3.0, "b": 0.4, "c": 2.5, "steady": 1.1, "new": 0.2},
        "fingerprints": {"a": "f1-changed", "b": "f2", "c": "f3", "steady": "f4"},
    }
    c = compare(cur, prev)
    assert {q: m["cause"] for q, m in c["movers"].items()} == {
        "a": "code",
        "b": "environment",
        "c": "unknown",
    }
    assert list(c["movers"]) == ["a", "c", "b"]  # slowest ratio first
    assert c["shared"] == {"n": 4, "cur": 7.0, "prev": 4.0}
    assert c["new"] == ["new"]
    # snapshots from before fingerprints existed label every mover unknown
    old = compare(cur, {"queries": prev["queries"]})
    assert {m["cause"] for m in old["movers"].values()} == {"unknown"}


def test_fingerprint_stable_per_query_and_distinct_across(spark, sf_dir):
    from football_etl_pipeline_spark.operators import QUERIES
    from football_etl_pipeline_spark.operators.registry import release_checkpoints

    fps = {}
    # q1: a plain scan/aggregate; graph_kcore scans localCheckpoint
    # RDDs; dedup_minhash_lsh reads a cached frame whose runtime AQE
    # plan is printed once it has run.
    for name in ("q1_pricing_summary", "graph_kcore", "dedup_minhash_lsh"):
        seen = []
        for _ in range(2):
            df = QUERIES[name](spark, sf_dir)
            df.count()
            seen.append(bench.plan_fingerprint(bench.formatted_plan(df)))
            release_checkpoints(spark)
        assert seen[0] == seen[1], name
        fps[name] = seen[0]
    assert len(set(fps.values())) == 3, fps


def test_tiered_run_never_official():
    default = bench.DEFAULT_SF_DIR
    assert bench.tag_run(False, default) == "adhoc"
    assert bench.tag_run(True, default) == "official"
    assert bench.tag_run(True, default + "/") == "official"
    # a full run at another SF dir (the sf0.01 smoke) is adhoc
    smoke = os.path.join(os.path.dirname(default), "sf0.01")
    assert bench.tag_run(True, smoke) == "adhoc"
    assert bench.tag_run(False, smoke) == "adhoc"


def test_headline_names_all_registered():
    """Every HEADLINE entry must resolve in the query registry —
    a renamed operator would otherwise silently drop out of the
    bench (fn is None is skipped in the timing loop)."""
    from football_etl_pipeline_spark.operators import QUERIES

    missing = [q for q in bench.HEADLINE if q not in QUERIES]
    assert missing == [], missing


def test_family_subtotals_partition_the_total():
    """The per-family subtotal map (round-13) must partition the
    per-query map exactly: same grand total, every query attributed
    to exactly one family."""
    from football_etl_pipeline_spark.operators import QUERIES

    timings = {q: 0.25 for q in bench.HEADLINE[:40] if q in QUERIES}
    families: dict[str, float] = {}
    for name, secs in timings.items():
        fam = getattr(QUERIES[name], "__module__", "unknown").rsplit(
            ".", 1
        )[-1]
        families[fam] = round(families.get(fam, 0.0) + secs, 3)
    assert abs(sum(families.values()) - sum(timings.values())) < 1e-6
    assert len(families) >= 2  # more than one module represented

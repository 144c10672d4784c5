"""Round-16 optimization measurement harness.

For each named query: warm at sf0.001 (codegen), then time at the
target SF with the bench's own action (`.count()`), and record
  - wall seconds (median of 3),
  - how many Spark JOBS the run launched (driver-loop queries pay a
    scheduling round-trip per job — the count is the lever),
  - how many Exchange nodes the final plan has (shuffle count),
  - the physical plan (optional, --plans DIR writes <name><suffix>.txt).

r16 fixes over the round-15 harness this replaced (ADVICE items):
  - --top resolves the NEWEST BENCH_DETAIL_r*.json by glob instead of
    hardcoding r14 (stale + FileNotFoundError on fresh checkouts);
  - job counts come from an explicit per-measurement job group, so a
    future setJobGroup call elsewhere cannot silently skew them.

Usage:
  python tools/measure_r16.py q1_pricing_summary graph_kcore ...
  python tools/measure_r16.py --top 25
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/measure_r16.py \
      --plans plans/r16 --suffix _before <names>
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest_detail() -> str:
    cands = sorted(glob.glob(os.path.join(_REPO, "BENCH_DETAIL_r*.json")))
    if not cands:
        raise SystemExit("no BENCH_DETAIL_r*.json snapshot found for --top")
    return cands[-1]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_dir = None
    suffix = ""
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
        os.makedirs(plans_dir, exist_ok=True)
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i : i + 2]
    names: list[str] = []
    if "--top" in args:
        i = args.index("--top")
        n = int(args[i + 1])
        del args[i : i + 2]
        det = json.load(open(newest_detail()))
        names = [
            k
            for k, _ in sorted(
                det["queries"].items(), key=lambda kv: -kv[1]
            )[:n]
        ]
    names += args

    from football_etl_pipeline_spark.operators import QUERIES
    from football_etl_pipeline_spark.operators.registry import release_checkpoints
    from football_etl_pipeline_spark.session import get_spark
    from football_etl_pipeline_spark.sources.testdata import load_tables

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"
    spark = get_spark("measure_r16")
    sc = spark.sparkContext
    for df in load_tables(spark, sf_dir).values():
        df.limit(1).count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()

    results = {}
    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        sc.setJobGroup(f"warm:{name}", f"warm:{name}")
        fn(spark, warm_dir).count()
        release_checkpoints(spark)
        sc._jvm.System.gc()
        group = f"measure:{name}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        df = fn(spark, sf_dir)
        t_build = time.time() - t0
        n = df.count()
        dt = time.time() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        # bench-mirroring median of 3: the first run doubles as the
        # job/plan probe; two more timed runs damp session-warmth and
        # host noise.
        runs = [dt]
        for _ in range(2):
            release_checkpoints(spark)
            sc._jvm.System.gc()
            t0b = time.time()
            fn(spark, sf_dir).count()
            runs.append(time.time() - t0b)
        dt = sorted(runs)[1]
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        n_exch = len(re.findall(r"\bExchange\b", plan)) - len(
            re.findall(r"ReusedExchange", plan)
        )
        n_reuse = len(re.findall(r"ReusedExchange", plan))
        release_checkpoints(spark)
        if plans_dir:
            with open(
                os.path.join(plans_dir, f"{name}{suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        results[name] = {
            "sec": round(dt, 3),
            "runs": [round(r, 3) for r in runs],
            "build_sec": round(t_build, 3),
            "jobs": jobs,
            "exchanges": n_exch,
            "reused_exchanges": n_reuse,
            "rows": n,
        }
        print(
            f"{name:45s} {dt:7.3f}s  jobs={jobs:4d}  "
            f"exch={n_exch:3d}(+{n_reuse} reused)  rows={n}",
            flush=True,
        )
    print(json.dumps(results, indent=1), file=sys.stderr)


if __name__ == "__main__":
    main()

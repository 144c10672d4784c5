"""Value-distribution profile of a testdata-shaped directory.

    python3 perfbench/profile_corpus.py [--queries] <dir> [<dir> ...]

Prints, for each directory, the figures the benchmark's queries are
sensitive to: row counts, distinct keys, text length and vocabulary,
duplicate shares, time spans and value ranges. With two directories it
also prints the ratio of the second to the first, which is how the
synthetic corpus (``corpus.py``) is compared with the sf0.1 testdata.
``--queries`` also times the ``tail`` queries on each directory in one
Spark session (a warm-up round, then the median of three rounds).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

import duckdb

# name -> SQL over views named after the tables
PROFILE = {
    "customer.rows": "SELECT count(*) FROM customer",
    "customer.nations": "SELECT count(DISTINCT c_nationkey) FROM customer",
    "customer.segments": "SELECT count(DISTINCT c_mktsegment) FROM customer",
    "customer.acctbal_avg": "SELECT avg(c_acctbal) FROM customer",
    "supplier.rows": "SELECT count(*) FROM supplier",
    "part.rows": "SELECT count(*) FROM part",
    "part.names": "SELECT count(DISTINCT p_name) FROM part",
    "part.brands": "SELECT count(DISTINCT p_brand) FROM part",
    "part.types": "SELECT count(DISTINCT p_type) FROM part",
    "part.retailprice_avg": "SELECT avg(p_retailprice) FROM part",
    "orders.rows": "SELECT count(*) FROM orders",
    "orders.customers": "SELECT count(DISTINCT o_custkey) FROM orders",
    "orders.statuses": "SELECT count(DISTINCT o_orderstatus) FROM orders",
    "orders.priorities": "SELECT count(DISTINCT o_orderpriority) FROM orders",
    "orders.date_span_days": "SELECT date_diff('day', min(o_orderdate), max(o_orderdate)) FROM orders",
    "orders.totalprice_avg": "SELECT avg(o_totalprice) FROM orders",
    "lineitem.rows": "SELECT count(*) FROM lineitem",
    "lineitem.orders": "SELECT count(DISTINCT l_orderkey) FROM lineitem",
    "lineitem.parts": "SELECT count(DISTINCT l_partkey) FROM lineitem",
    "lineitem.suppliers": "SELECT count(DISTINCT l_suppkey) FROM lineitem",
    "lineitem.max_per_order": "SELECT max(c) FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)",
    "lineitem.date_span_days": "SELECT date_diff('day', min(l_shipdate), max(l_shipdate)) FROM lineitem",
    "lineitem.extendedprice_avg": "SELECT avg(l_extendedprice) FROM lineitem",
    "lineitem.discount_avg": "SELECT avg(l_discount) FROM lineitem",
    "lineitem.returnflags": "SELECT count(DISTINCT l_returnflag) FROM lineitem",
    "events.rows": "SELECT count(*) FROM events",
    "events.users": "SELECT count(DISTINCT user_id) FROM events",
    "events.types": "SELECT count(DISTINCT event_type) FROM events",
    "events.span_days": "SELECT date_diff('second', min(ts), max(ts)) / 86400.0 FROM events",
    "events.user_gap_median_s": (
        "SELECT median(g) FROM (SELECT date_diff('second', "
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) AS g FROM events)"
    ),
    "events.value_avg": "SELECT avg(value) FROM events",
    "events.props_distinct": "SELECT count(DISTINCT props) FROM events",
    "documents.rows": "SELECT count(*) FROM documents",
    "documents.exact_dup_share": "SELECT 1 - count(DISTINCT text) / count(*) FROM documents",
    "documents.chars_avg": "SELECT avg(length(text)) FROM documents",
    "documents.words_avg": "SELECT avg(len(string_split(text, ' '))) FROM documents",
    "documents.vocabulary": (
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
    ),
    "documents.langs": "SELECT count(DISTINCT lang) FROM documents",
    "documents.sources": "SELECT count(DISTINCT source) FROM documents",
    "embeddings.rows": "SELECT count(*) FROM embeddings",
    "embeddings.dim": "SELECT max(len(embedding)) FROM embeddings",
    "embeddings.labels": "SELECT count(DISTINCT label) FROM embeddings",
}


def profile(directory: str) -> dict[str, float]:
    con = duckdb.connect()
    try:
        for table in sorted({name.split(".")[0] for name in PROFILE}):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{directory}/{table}.parquet'")
        return {name: float(con.execute(sql).fetchone()[0]) for name, sql in PROFILE.items()}
    finally:
        con.close()


def query_ms(dirs: list[str], reps: int = 3) -> list[dict[str, float]]:
    """Median wall ms of ``QUERIES[name](spark, dir).count()`` for each
    ``tail`` query, per directory. Every round runs each query on each
    directory in turn, so JIT warm-up and host drift hit all alike; the
    first round is the warm-up and is not counted."""
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    from run import DRIVER_MEM, TAIL_QUERIES, nproc, stop_jvm

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    from football_etl_pipeline_spark.operators import QUERIES
    from football_etl_pipeline_spark.operators.registry import release_checkpoints, release_persists
    from football_etl_pipeline_spark.session import get_spark

    spark = get_spark("profile_corpus", cpus=nproc())
    try:
        times: list[dict[str, list[float]]] = [{n: [] for n in TAIL_QUERIES} for _ in dirs]
        for _ in range(reps + 1):
            for name in TAIL_QUERIES:
                for d, t in zip(dirs, times):
                    t0 = time.perf_counter()
                    QUERIES[name](spark, d).count()
                    t[name].append((time.perf_counter() - t0) * 1000.0)
                    release_persists()
                    release_checkpoints(spark)
        return [{n: statistics.median(v[1:]) for n, v in t.items()} for t in times]
    finally:
        stop_jvm()


def _print(rows: dict[str, list[float]], fmt: str) -> None:
    for name, values in rows.items():
        row = [format(v, fmt) for v in values]
        if len(values) == 2 and values[0]:
            row.append(f"{values[1] / values[0]:8.2f}x")
        print(f"{name:<34}" + " ".join(row))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--queries", action="store_true", help="also time the tail queries")
    p.add_argument("dirs", nargs="+")
    args = p.parse_args(argv)
    profiles = [profile(d) for d in args.dirs]
    _print({name: [pr[name] for pr in profiles] for name in PROFILE}, "14.4f")
    if args.queries:
        timings = query_ms(args.dirs)
        _print({f"ms.{name}": [t[name] for t in timings] for name in timings[0]}, "14.1f")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

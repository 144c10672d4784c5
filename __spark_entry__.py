"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``football_etl_pipeline_spark`` package;
this module only adapts its registry to the driver's contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from football_etl_pipeline_spark.operators import ORACLES, QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the engine's signature shape — the reference's
    standings pipeline re-expressed over the testdata star schema:
    join fact→dims (broadcast), aggregate revenue per nation, and
    rank within region with a window (the reference stores a
    precomputed ``rank`` column — /root/reference/unified_schemas/
    v1.json:12 — here we compute it).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from football_etl_pipeline_spark.functions.numeric import dsum
    from football_etl_pipeline_spark.sources.testdata import load_table

    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    orders = load_table(spark, SMOKE_SF_DIR, "orders")
    cust = load_table(spark, SMOKE_SF_DIR, "customer")
    nation = load_table(spark, SMOKE_SF_DIR, "nation")
    region = load_table(spark, SMOKE_SF_DIR, "region")

    revenue = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    w = Window.partitionBy("r_name").orderBy(
        F.col("revenue").desc(), F.col("n_name").asc()
    )
    return revenue.withColumn("rank_in_region", F.rank().over(w))


def _released(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Release the PREVIOUS query's cached frames and checkpoint
    blocks before building this one's plan. By the time the harness
    calls the next query, the prior result has been collected, so its
    caches are dead weight — without this, a long session accumulates
    persisted frames and checkpoint blocks, and the tail pays the
    memory/GC bill and the dead-block race."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from football_etl_pipeline_spark.operators.registry import release_checkpoints

        release_checkpoints(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _released(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every query."""
    return dict(ORACLES)

"""Remaining expressible TPC-H query shapes: Q7, Q8, Q10, Q12, Q13,
Q15, Q22.

The reference's only join is a ~20-row broadcast hash join
(``/root/reference/dataflow-flex/football_pipeline/transforms.py:32,89``)
and its only aggregate a GroupByKey (``pipeline.py:39``); these queries
are the standard multi-join / conditional-aggregate / distribution /
scalar-subquery benchmark shapes a general engine must run on the same
tables.

Schema adaptations (the testdata is a slimmed TPC-H — no ``partsupp``
table, no ``l_shipmode``/``l_commitdate``/``l_receiptdate``, no
``c_phone``/comments — see ``/root/repo/TESTDATA.md``):

- Q2/Q9/Q11/Q16/Q20 need ``partsupp``; they are adapted (derived
  supply relation from lineitem) in ``tpch_adapted.py``, completing
  the 22/22 shape sweep.
- Q21 keeps its double-correlation shape with lateness redefined as
  shipped >90 days after order date (no commit/receipt dates).
- Q12 keeps its shape (fact-fact join + two conditional counts) with
  "late" redefined as shipped >90 days after order date and
  ``l_linestatus`` standing in for ``l_shipmode``.
- Q13's comment NOT-LIKE filter becomes a priority exclusion inside
  the LEFT JOIN condition (same plan shape: filtered outer join, then
  two-level aggregation).
- Q22's phone-prefix country code becomes ``c_nationkey``; the shape
  (scalar subquery over a filtered avg + NOT EXISTS anti join +
  aggregate) is unchanged.

Broadcast policy (the 100 TB rule): only FIXED-cardinality frames
carry an explicit ``F.broadcast`` hint — nation (25), region (5),
1-row scalar aggregates. customer/supplier/part GROW with scale
factor (customer is billions of rows at 100 TB), so they carry no
hint: AQE's runtime size check broadcasts them while they fit and
falls back to shuffle joins when they don't — same plan code, both
regimes. Fact-fact joins (orders ⋈ lineitem) shuffle on the join key
after pushed-down date filters prune the scans; per-year/per-nation
groupings are low-cardinality, so final aggregations are cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum
from ..sources.testdata import load_table
from .registry import query

_NET = "l_extendedprice * (1 - l_discount)"


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT
      supp_nation,
      cust_nation,
      l_year,
      CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_lines
    FROM (
      SELECT
        n1.n_name AS supp_nation,
        n2.n_name AS cust_nation,
        year(l.l_shipdate) AS l_year,
        {_NET.replace('l_', 'l.l_')} AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: volume shipped between two nations, by year and
    direction — a 6-table join with a disjunctive cross-nation filter.

    Plan: nation is broadcast twice (two aliases, two 25-row hash
    maps); supplier and customer are unhinted — AQE broadcasts them
    at this SF, shuffle-joins them at 100 TB; lineitem⋈orders always
    shuffles (on orderkey). The nation-pair
    predicate can only be applied AFTER both nation joins, but the
    shipdate range is pushed into the lineitem scan, so the fact
    input is pruned first."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT
      o_year,
      CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
               AS DECIMAL(18,6))) AS DOUBLE)
      / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT
        year(o.o_orderdate) AS o_year,
        {_NET.replace('l_', 'l.l_')} AS volume,
        n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'EUROPE'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1997-12-31'
        AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — an 8-table join tree feeding a
    conditional-aggregate ratio per year.

    Plan: fixed-size nation ×2 and region broadcast by hint;
    part/supplier/customer are AQE-sized (broadcast here, shuffle at
    100 TB); the always-shuffle join is lineitem⋈orders. The
    ``p_type`` filter prunes part BEFORE the join, shrinking its
    build side; both numerator and denominator are exact-decimal sums
    so the double division is engine-invariant."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                dsum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0))
                / dsum(vol)
            ).alias("mkt_share")
        )
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT
      c.c_custkey,
      c.c_name,
      CAST(SUM(CAST({_NET.replace('l_', 'l.l_')} AS DECIMAL(18,6))) AS DOUBLE)
        AS revenue,
      CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
      n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top 20 customers by revenue lost to returns in a
    quarter (join → aggregate → global top-K).

    Plan: returnflag and the orderdate window are pushed into the two
    fact scans; orders⋈lineitem shuffles on orderkey, the group-by
    shuffles on custkey, then TakeOrderedAndProject keeps 20 rows per
    partition — no full sort. Tie-break on custkey makes the LIMIT
    deterministic across engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q12_late_line_priority",
    oracle="""
    SELECT
      l.l_linestatus,
      SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
      SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q12_late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no shipmode/commit/receipt dates in
    the slimmed schema): lines shipped >90 days after their order
    date, split into high/low-priority counts per line status.

    Plan: the shipdate year filter is pushed into the lineitem scan;
    the >90-day lateness predicate is a post-join filter (compares
    columns of both sides); the two conditional counts fold into one
    hash aggregate over a 2-value group key."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_order_counts",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (comment NOT-LIKE → priority exclusion): the
    distribution of per-customer order counts, customers with zero
    qualifying orders included via the outer join.

    Plan: the exclusion predicate lives IN the join condition (an
    outer-join WHERE would wrongly drop the zero-order customers);
    first aggregation shuffles on custkey, the second on the tiny
    count domain. COUNT(o_orderkey) counts non-null matches only."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT
        l_suppkey AS supplier_no,
        CAST(SUM(CAST({_NET} AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue — a
    derived aggregate reused twice (once as the rows, once as the
    scalar max).

    Plan: the revenue aggregate is computed once and cached
    implicitly by plan-dedup; the MAX side collapses to a 1-row
    broadcast joined as an equality filter (exact match is safe: both
    sides are the same decimal-sum doubles). supplier is unhinted —
    AQE-sized like every SF-scaling dimension."""
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q22_idle_customer_balance",
    oracle="""
    SELECT
      c.c_nationkey AS cntrycode,
      COUNT(*) AS numcust,
      CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_nationkey < 7
      AND c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*)
        FROM customer c2
        WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey < 7
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (phone country code → ``c_nationkey``; "never
    ordered" → "no order since 1999", because every customer in this
    testdata has at least one order): above-average-balance customers
    in 7 target nations with no recent order, counted and summed per
    nation.

    Plan: the filtered average is a 1-row aggregate cross-broadcast as
    a scalar (decimal-sum/count in both engines — a bare AVG of
    doubles would drift); the NOT EXISTS is a left_anti shuffle join
    on custkey (only the orders key column is scanned); the final
    aggregate groups the tiny survivor set."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 7)
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + INTERVAL 90 DAY AS is_late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM l l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.is_late
      AND EXISTS (
        SELECT 1 FROM l l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM l l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.is_late
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name ASC
    LIMIT 25
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (lateness = shipped >90 days after order date —
    the slimmed schema has no commit/receipt dates): suppliers who were
    the SOLE late shipper on a multi-supplier finalized order.

    Plan: the lateness flag is computed once on the joined fact
    (one orderkey shuffle), then the double correlation decorrelates
    into one semi and one anti join against the SAME frame, both
    co-partitioned on orderkey — Spark reuses the shuffle (Exchange
    reuse), so the two EXISTS probes add no extra fact scans. Final
    top-25 is TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    l = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).alias("is_late"),
        )
        .persist()
    )
    l1 = l.filter("is_late").alias("l1")
    other = l.select("l_orderkey", "l_suppkey").alias("l2")
    other_late = l.filter("is_late").select("l_orderkey", "l_suppkey").alias("l3")
    s = load_table(spark, sf_dir, "supplier")
    sole_late = (
        l1.join(
            other,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
    )
    return (
        sole_late.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(25)
    )


# ---- market-basket co-occurrence -------------------------------------

BASKET_TOP_K = 25


@query(
    "market_basket_pairs",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS a_part, b.l_partkey AS b_part,
             COUNT(*) AS n_orders
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT a_part, b_part, n_orders
    FROM pairs
    ORDER BY n_orders DESC, a_part ASC, b_part ASC
    LIMIT {BASKET_TOP_K}
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-25 part pairs most often
    bought in the same order — the affinity-mining self-join every
    retail warehouse runs.

    Join-explosion control: baskets are first collapsed to DISTINCT
    (order, part) — within-order duplicate lines never multiply — and
    the self-join fan-out is bounded by lines-per-order² (≤ ~49 here;
    the general guard for heavy-tailed baskets is a basket-size cap,
    the DF_CAP idea from dedup). Both self-join sides are the same
    deduplicated frame (one shuffle + exchange reuse); the final
    top-25 is TakeOrderedAndProject, no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("a_part"),
            F.col("b.l_partkey").alias("b_part"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), F.col("a_part").asc(), F.col("b_part").asc()
    ).limit(BASKET_TOP_K)


# ---- RFM customer segmentation ---------------------------------------

RFM_RANGE_PARTS = 32  # width of the range exchange behind each rank


def _ntile4_distributed(df: DataFrame, order_cols, out_col: str) -> DataFrame:
    """Global NTILE(4) with NO single-partition window.

    Range-partition on the sort key — partitions become contiguous,
    globally ordered key ranges — then ``row_number`` *within each
    physical partition* plus the partition's start offset gives the
    exact global rank. The offsets come from the per-partition row
    counts: a P-row collect (P = RFM_RANGE_PARTS, fixed by config,
    corpus-independent — the same bounded-driver-traffic budget as
    the k-means centroid pull in ``similarity.py``), prefix-summed in
    Python and re-injected as a literal array indexed by partition id,
    so the plan carries zero extra joins. The bucket applies NTILE's
    positional rule to the global rank via three literal rank cutoffs:
    with N rows the first N%4 buckets take ⌊N/4⌋+1 rows, the rest
    ⌊N/4⌋ — identical to the oracle's NTILE(4) because the total
    order is unique (metric + custkey tiebreak).

    Scale: the wide frame moves through ONE range exchange per metric
    (persisted so the count pass and the rank pass share it); every
    window is partitioned; driver traffic is P rows. This replaces
    the r3 formulation (three ``Window.orderBy`` globals that Spark
    itself warned would move all data to a single partition)."""
    part = (
        df.repartitionByRange(RFM_RANGE_PARTS, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
        .persist()
    )
    cnt = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sizes = [cnt.get(p, 0) for p in range(RFM_RANGE_PARTS)]
    offs, acc = [], 0
    for s in sizes:
        offs.append(acc)
        acc += s
    n = acc
    base, rem = divmod(n, 4)
    widths = [base + 1] * rem + [base] * (4 - rem)
    k1 = widths[0]
    k2 = k1 + widths[1]
    k3 = k2 + widths[2]
    wloc = Window.partitionBy("_pid").orderBy(*order_cols)
    rank = F.array(*[F.lit(o) for o in offs])[F.col("_pid")] + F.row_number().over(
        wloc
    )
    bucket = (
        F.lit(1)
        + (rank > k1).cast("int")
        + (rank > k2).cast("int")
        + (rank > k3).cast("int")
    )
    return part.withColumn(out_col, bucket).drop("_pid")


@query(
    "customer_rfm_segments",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    rfm AS (
      SELECT o_custkey AS c_custkey,
             date_diff('day', MAX(o_orderdate), (SELECT mx FROM maxd)) AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           frequency,
           monetary,
           NTILE(4) OVER (ORDER BY recency_days ASC, c_custkey ASC) AS r_quartile,
           NTILE(4) OVER (ORDER BY frequency DESC, c_custkey ASC) AS f_quartile,
           NTILE(4) OVER (ORDER BY monetary DESC, c_custkey ASC) AS m_quartile
    FROM rfm
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, days since last order (vs the
    corpus max date), order count, and exact-decimal lifetime spend,
    each bucketed into quartiles with NTILE — the canonical customer
    scoring query.

    Determinism: NTILE is purely positional, so with a unique total
    order (metric + custkey tiebreak) both engines assign identical
    buckets; monetary goes through the decimal-sum pattern. Plan: one
    shuffle to the per-customer aggregate, then one range exchange per
    metric through ``_ntile4_distributed`` — every window is
    partitioned (the oracle keeps literal NTILE; both formulations
    agree on unique total orders). ``tests/test_plan_shapes.py``
    asserts no Window rides a SinglePartition exchange."""
    orders = load_table(spark, sf_dir, "orders")
    from ..functions.numeric import dsum

    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    rfm = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            dsum(F.col("o_totalprice")).alias("monetary"),
        )
        .join(F.broadcast(mx))
        .select(
            "c_custkey",
            F.datediff("mx", "last_order").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r1 = _ntile4_distributed(
        rfm,
        [F.col("recency_days").asc(), F.col("c_custkey").asc()],
        "r_quartile",
    )
    r2 = _ntile4_distributed(
        r1,
        [F.col("frequency").desc(), F.col("c_custkey").asc()],
        "f_quartile",
    )
    r3 = _ntile4_distributed(
        r2,
        [F.col("monetary").desc(), F.col("c_custkey").asc()],
        "m_quartile",
    )
    return r3.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


# ---- customer cohort revenue triangle --------------------------------


@query(
    "orders_cohort_revenue",
    oracle="""
    WITH first_m AS (
      SELECT o_custkey,
             MIN(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)))
               AS cohort_m
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(f.cohort_m AS TIMESTAMP) AS cohort_month,
           date_diff('month', f.cohort_m,
                     date_trunc('month', CAST(o.o_orderdate AS TIMESTAMP)))
             ::INT AS months_since,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o.o_custkey) AS n_active_customers,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def orders_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort revenue triangle: customers grouped by first-order month,
    revenue tracked by months-since-acquisition — the LTV/retention
    finance staple (the revenue-weighted sibling of
    ``events_daily_retention``).

    Plan: the cohort frame is one groupBy over orders (|customers|
    rows) joined back on the customer key — at 100 TB this is the
    textbook large-dim join AQE sizes itself; the triangle aggregate
    reduces to (months × cohorts) cells with map-side partials.
    Revenue through DECIMAL(18,2) for order-insensitive hashing."""
    orders = load_table(spark, sf_dir, "orders")
    first_m = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort_m")
    )
    j = orders.join(first_m, "o_custkey")
    months_since = (
        (F.year("o_orderdate") - F.year("cohort_m")) * 12
        + (F.month("o_orderdate") - F.month("cohort_m"))
    ).cast("int")
    return j.groupBy(
        F.col("cohort_m").alias("cohort_month"),
        months_since.alias("months_since"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_active_customers"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("revenue"),
    )


# ---- ABC (Pareto) classification -------------------------------------


@query(
    "lineitem_abc_classification",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
             SUM(rev) OVER () AS total_rev
      FROM per_part
    ), classed AS (
      SELECT CASE WHEN cum_rev * 10 <= total_rev * 8 THEN 'A'
                  WHEN cum_rev * 100 <= total_rev * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev
      FROM ranked
    )
    SELECT abc_class,
           COUNT(*) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS class_revenue
    FROM classed
    GROUP BY abc_class
    """,
)
def lineitem_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts ranked by revenue, classed A
    while the running share is within 80% of total, B to 95%, else C
    — the inventory-analytics staple. Classification thresholds
    compare EXACT DECIMAL cumulative sums by cross-multiplication
    (cum*10 <= total*8), so no float share ever exists and the class
    boundaries are bit-deterministic.

    Scale design (r7 verdict fix): the cumulative ordered sum runs
    over the per-part aggregate, but at TPC-H sf100 that is still
    ~20M rows — a global ``Window.orderBy`` would funnel them through
    ONE task. Instead the house range-exchange + partition-offset
    pattern (``_ntile4_distributed``): range-partition on (rev DESC,
    partkey), cumulative-sum WITHIN each physical partition, and add
    each partition's exact-decimal prefix offset (P = RFM_RANGE_PARTS
    per-partition subtotals collected to the driver, prefix-summed in
    Python Decimals — bounded driver traffic, corpus-independent).
    ``total_rev`` rides the same P-row collect instead of a second
    (also single-partition) ``SUM() OVER ()`` window. Every window in
    the plan is partitioned; plan-tested."""
    from decimal import Decimal

    li = load_table(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
        )
        .repartitionByRange(
            RFM_RANGE_PARTS, F.col("rev").desc(), F.col("l_partkey").asc()
        )
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    partials = {
        r["_pid"]: r["s"]
        for r in per_part.groupBy("_pid")
        .agg(F.sum("rev").alias("s"))
        .collect()
    }
    offs, acc = [], Decimal(0)
    for p in range(RFM_RANGE_PARTS):
        offs.append(acc)
        acc += partials.get(p) or Decimal(0)
    total_rev = F.lit(str(acc)).cast("decimal(38,2)")
    off_arr = F.array(
        *[F.lit(str(o)).cast("decimal(38,2)") for o in offs]
    )
    wloc = Window.partitionBy("_pid").orderBy(
        F.col("rev").desc(), F.col("l_partkey").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = per_part.select(
        "rev",
        (off_arr[F.col("_pid")] + F.sum("rev").over(wloc)).alias("cum_rev"),
        total_rev.alias("total_rev"),
    )
    classed = ranked.select(
        "rev",
        F.when(
            F.col("cum_rev") * 10 <= F.col("total_rev") * 8, "A"
        )
        .when(F.col("cum_rev") * 100 <= F.col("total_rev") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("double").alias("class_revenue"),
    )


# ---- exact distributed OLS -------------------------------------------


@query(
    "lineitem_ols_price_quantity",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             COUNT(*)::HUGEINT AS n,
             SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
             SUM(x*y)::HUGEINT AS sxy, SUM(x*x)::HUGEINT AS sxx
      FROM b GROUP BY 1
    )
    SELECT l_returnflag,
           n::BIGINT AS n_rows,
           CAST(CAST((n*sxy - sx*sy) * 1.0 / (n*sxx - sx*sx) / 100
                AS DECIMAL(18,6)) AS DOUBLE) AS slope,
           CAST(CAST(sx * 1.0 / n AS DECIMAL(18,6)) AS DOUBLE)
             AS mean_qty,
           CAST(CAST(sy * 1.0 / n / 100 AS DECIMAL(18,6)) AS DOUBLE)
             AS mean_price
    FROM s
    """,
)
def lineitem_ols_price_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact distributed OLS: the price~quantity regression slope per
    return flag, computed from the normal equations over INTEGER
    moment sums — x in whole units, y in cents, so Σx/Σy/Σxy/Σx² are
    exact BIGINTs (one map-side-combined aggregate, the same
    one-pass-moments shape as ``embedding_dim_stats``) and the
    slope's numerator/denominator are exact 128-bit products
    (DECIMAL(38,0) in Spark, HUGEINT in DuckDB) before ONE
    final double division. The pattern behind any
    sufficient-statistics model fit at 100 TB: ship five numbers per
    group, not rows; no sketch, no sampling, bit-deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = d("n") * d("sxx") - d("sx") * d("sx")
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (num.cast("double") / den.cast("double") / 100)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("slope"),
        (F.col("sx") * F.lit(1.0) / F.col("n"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("mean_qty"),
        (F.col("sy") * F.lit(1.0) / F.col("n") / 100)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("mean_price"),
    )


# ---- order backlog time series ---------------------------------------


@query(
    "orders_backlog_timeseries",
    oracle="""
    WITH closes AS (
      SELECT l_orderkey, MAX(l_shipdate) AS close_d
      FROM lineitem GROUP BY l_orderkey
    ),
    deltas AS (
      SELECT CAST(o_orderdate AS DATE) AS day, 1 AS opened, 0 AS closed
      FROM orders
      UNION ALL
      SELECT CAST(c.close_d AS DATE), 0, 1
      FROM orders o JOIN closes c ON c.l_orderkey = o.o_orderkey
    ),
    daily AS (
      SELECT day,
             SUM(opened)::BIGINT AS n_opened,
             SUM(closed)::BIGINT AS n_closed
      FROM deltas GROUP BY day
    )
    SELECT day, n_opened, n_closed,
           (SUM(n_opened - n_closed) OVER (
              ORDER BY day ROWS UNBOUNDED PRECEDING))::BIGINT AS backlog
    FROM daily
    """,
)
def orders_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time: each order opens at its order
    date and closes when its LAST line ships; the daily series is the
    running sum of (opens − closes) — the +1/−1 event-delta pattern
    that turns interval counting into one aggregate plus one
    cumulative window (the ops-analytics workhorse: concurrent
    sessions, active subscriptions, WIP inventory).

    Scale: the deltas collapse to ONE row per active day before any
    window runs, so the cumulative sum orders |days| rows (~2.5k for
    TPC-H's 7-year span at ANY corpus size — bounded by the calendar,
    not the data; the events.py single-partition-window precedent).
    Orders with no lineitems simply never close — no null plumbing."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closes = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_d")
    )
    opens = orders.select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    )
    closed = (
        orders.join(closes, orders.o_orderkey == closes.l_orderkey)
        .select(
            F.col("close_d").cast("date").alias("day"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
        )
    )
    daily = (
        opens.unionByName(closed)
        .groupBy("day")
        .agg(
            F.sum("opened").alias("n_opened"),
            F.sum("closed").alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).alias(
            "backlog"
        ),
    )


# ---- chi-square independence test ------------------------------------


@query(
    "orders_chi2_priority_status",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             COUNT(*) AS o
      FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT pri, SUM(o) AS r FROM obs GROUP BY pri),
    ct AS (SELECT st, SUM(o) AS c FROM obs GROUP BY st),
    n AS (SELECT SUM(o) AS n FROM obs),
    grid AS (
      SELECT rt.pri, ct.st, rt.r, ct.c, COALESCE(obs.o, 0) AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN obs ON obs.pri = rt.pri AND obs.st = ct.st
    ),
    terms AS (
      SELECT CAST(
        (grid.o - (grid.r * grid.c * 1.0 / n.n))
        * (grid.o - (grid.r * grid.c * 1.0 / n.n))
        / (grid.r * grid.c * 1.0 / n.n) AS DECIMAL(18,6)) AS term
      FROM grid CROSS JOIN n
    )
    SELECT
      (SELECT (COUNT(DISTINCT pri) - 1) * (COUNT(DISTINCT st) - 1)
       FROM obs)::BIGINT AS dof,
      CAST(SUM(term) AS DOUBLE) AS chi2,
      (SELECT n FROM n)::BIGINT AS n
    FROM terms
    """,
)
def orders_chi2_priority_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson chi-square independence test (priority × order status)
    computed IN the engine — the statistical-testing face of the
    profiling family: one contingency aggregate, expected counts from
    broadcast marginals, and the χ² statistic with its degrees of
    freedom (the p-value lookup is a client-side table; the statistic
    is the distributed part).

    Exactness: observed counts and marginals are exact integers;
    each cell's (O−E)²/E is one fixed IEEE expression pinned to
    DECIMAL(18,6) per term, and the term SUM is decimal —
    order-insensitive, so both engines hash-match despite the float
    division. Plan: one scan → contingency aggregate (|cells| =
    |priorities|×|statuses|, tiny) → broadcast marginal joins."""
    o = load_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).alias("o"))
    obs = obs.persist()
    rt = obs.groupBy("pri").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("st").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    exp = F.col("r") * F.col("c") * F.lit(1.0) / F.col("n")
    # FULL r x c grid: zero cells still contribute e_ij to chi-square
    # (observed-cells-only summation understates the statistic on
    # sparse contingencies -- caught by test_stats_property2 on the
    # Cramer's V twin; identical on this corpus where every cell is
    # occupied, but the formula must not depend on that).
    grid = (
        rt.crossJoin(ct)
        .join(obs, ["pri", "st"], "left")
        .select("pri", "st", "r", "c", F.coalesce("o", F.lit(0)).alias("o"))
    )
    terms = grid.crossJoin(F.broadcast(n)).select(
        ((F.col("o") - exp) * (F.col("o") - exp) / exp)
        .cast("decimal(18,6)")
        .alias("term")
    )
    dof = obs.agg(
        (
            (F.countDistinct("pri") - 1) * (F.countDistinct("st") - 1)
        ).alias("dof")
    )
    stat = terms.agg(F.sum("term").cast("double").alias("chi2"))
    return (
        dof.crossJoin(stat)
        .crossJoin(n.select(F.col("n").cast("bigint").alias("n")))
        .select("dof", "chi2", "n")
    )


# ---- monthly seasonal index ------------------------------------------


@query(
    "orders_seasonal_index",
    oracle="""
    WITH monthly AS (
      SELECT EXTRACT(month FROM CAST(o_orderdate AS DATE))::INT AS month,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT SUM(rev) AS trev, SUM(n_orders) AS tn,
             COUNT(*) AS n_months
      FROM monthly
    )
    SELECT m.month, m.n_orders,
           CAST(m.rev AS DOUBLE) AS revenue,
           CAST(CAST(
             (CAST(m.rev AS DOUBLE) / CAST(t.trev AS DOUBLE))
             * t.n_months AS DECIMAL(18,6)) AS DOUBLE) AS seasonal_index
    FROM monthly m CROSS JOIN tot t
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonal index: each calendar month's share of total
    revenue scaled by the number of active months, so 1.0 = an average
    month — the first decomposition any demand-planning pipeline runs
    (and the denominator `events_forecast_backtest`'s seasonal-naive
    model implicitly assumes).

    Exactness: monthly and total revenues are exact decimal sums; the
    index is one IEEE division chain pinned to DECIMAL(18,6). Plan:
    one scan → 12-group aggregate → broadcast scalar total."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month(F.col("o_orderdate").cast("date")).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev"),
    )
    monthly = monthly.persist()
    tot = monthly.agg(
        F.sum("rev").alias("trev"), F.count(F.lit(1)).alias("n_months")
    )
    idx = (
        F.col("rev").cast("double") / F.col("trev").cast("double")
    ) * F.col("n_months")
    return monthly.crossJoin(F.broadcast(tot)).select(
        "month",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        idx.cast("decimal(18,6)").cast("double").alias("seasonal_index"),
    )


# ---- mutual information (dependency strength) ------------------------


@query(
    "orders_mutual_information",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             COUNT(*) AS o
      FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT pri, SUM(o) AS r FROM obs GROUP BY pri),
    ct AS (SELECT st, SUM(o) AS c FROM obs GROUP BY st),
    n AS (SELECT SUM(o) AS n, COUNT(*) AS n_cells FROM obs),
    terms AS (
      SELECT CAST(obs.o * CAST(ln(
               CAST(obs.o * n.n AS DOUBLE) / (rt.r * ct.c)
             ) AS DECIMAL(18,9)) AS DECIMAL(18,6)) AS mi_term
      FROM obs JOIN rt ON rt.pri = obs.pri
               JOIN ct ON ct.st = obs.st
               CROSS JOIN n
    ),
    hx AS (
      SELECT SUM(CAST(r * ln(r) AS DECIMAL(18,6))) AS s_rlnr FROM rt
    ),
    hy AS (
      SELECT SUM(CAST(c * ln(c) AS DECIMAL(18,6))) AS s_clnc FROM ct
    ),
    agg AS (
      SELECT (SELECT n FROM n) AS n,
             (SELECT n_cells FROM n) AS n_cells,
             CAST((SELECT SUM(mi_term) FROM terms) AS DOUBLE)
               / (SELECT n FROM n) AS mi,
             ln((SELECT n FROM n))
               - CAST((SELECT s_rlnr FROM hx) AS DOUBLE)
                 / (SELECT n FROM n) AS h_pri,
             ln((SELECT n FROM n))
               - CAST((SELECT s_clnc FROM hy) AS DOUBLE)
                 / (SELECT n FROM n) AS h_st
    )
    SELECT n::BIGINT AS n, n_cells::BIGINT AS n_cells,
           CAST(CAST(mi AS DECIMAL(18,6)) AS DOUBLE) AS mi_nats,
           CAST(CAST(h_pri AS DECIMAL(18,6)) AS DOUBLE) AS h_priority,
           CAST(CAST(h_st AS DECIMAL(18,6)) AS DOUBLE) AS h_status,
           CAST(CAST(mi / sqrt(h_pri * h_st) AS DECIMAL(18,6))
                AS DOUBLE) AS nmi
    FROM agg
    """,
)
def orders_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information I(priority; status) with marginal entropies
    and the sqrt-normalized NMI — the information-theoretic sibling of
    ``orders_chi2_priority_status``: χ² asks "is there dependence",
    MI measures HOW MUCH in nats, comparable across column pairs
    (the column-dependency screen a profiler runs to pick composite
    partition/sort keys and spot redundant features).

    Exactness: counts and marginals are exact integers; each PMI
    enters as ln of a ratio of exact-int products pinned
    DECIMAL(18,9) (the ``users_kaplan_meier`` ln precedent), scaled by
    the exact cell count and pinned DECIMAL(18,6) per term, so the
    term sum is order-insensitive; entropies use the
    ``text_token_entropy`` Σc·ln(c) pattern. Plan: one scan → tiny
    contingency aggregate; everything after runs on ≤|pri|×|st| rows
    with broadcast marginal joins."""
    o = load_table(spark, sf_dir, "orders")
    obs = (
        o.groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("st"),
        ).agg(F.count(F.lit(1)).alias("o"))
        .persist()
    )
    rt = obs.groupBy("pri").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("st").agg(F.sum("o").alias("c"))
    n = obs.agg(
        F.sum("o").alias("n"), F.count(F.lit(1)).alias("n_cells")
    )
    terms = (
        obs.join(F.broadcast(rt), "pri")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "CAST(o * CAST(ln(CAST(o * n AS DOUBLE) / (r * c))"
                " AS DECIMAL(18,9)) AS DECIMAL(18,6))"
            ).alias("mi_term")
        )
    )
    hx = rt.agg(
        F.sum(F.expr("CAST(r * ln(r) AS DECIMAL(18,6))")).alias("s_rlnr")
    )
    hy = ct.agg(
        F.sum(F.expr("CAST(c * ln(c) AS DECIMAL(18,6))")).alias("s_clnc")
    )
    msum = terms.agg(F.sum("mi_term").alias("s_mi"))
    return (
        n.crossJoin(msum)
        .crossJoin(hx)
        .crossJoin(hy)
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.col("n_cells").cast("bigint").alias("n_cells"),
            F.expr("CAST(s_mi AS DOUBLE) / n").alias("mi"),
            F.expr("ln(n) - CAST(s_rlnr AS DOUBLE) / n").alias("h_pri"),
            F.expr("ln(n) - CAST(s_clnc AS DOUBLE) / n").alias("h_st"),
        )
        .select(
            "n",
            "n_cells",
            F.expr("CAST(CAST(mi AS DECIMAL(18,6)) AS DOUBLE)").alias(
                "mi_nats"
            ),
            F.expr("CAST(CAST(h_pri AS DECIMAL(18,6)) AS DOUBLE)").alias(
                "h_priority"
            ),
            F.expr("CAST(CAST(h_st AS DECIMAL(18,6)) AS DOUBLE)").alias(
                "h_status"
            ),
            F.expr(
                "CAST(CAST(mi / sqrt(h_pri * h_st) AS DECIMAL(18,6))"
                " AS DOUBLE)"
            ).alias("nmi"),
        )
    )


# ---- two-factor exact OLS (Cramer over integer moments) --------------


def _det3(m, cast):
    """Cofactor-expanded 3x3 determinant SQL over exact integer moment
    columns; ``cast`` wraps each entry in the dialect's 128-bit type."""
    (a, b, c), (d, e, f_), (g, h, i) = m
    A, B, C = cast(a), cast(b), cast(c)
    D, E, Fx = cast(d), cast(e), cast(f_)
    G, H, I = cast(g), cast(h), cast(i)
    return (
        f"({A} * ({E} * {I} - {Fx} * {H})"
        f" - {B} * ({D} * {I} - {Fx} * {G})"
        f" + {C} * ({D} * {H} - {E} * {G}))"
    )


def _ols2_dets(cast):
    """det(A), det_b0, det_b1, det_b2 for y ~ b0 + b1·x1 + b2·x2."""
    A = [["n", "sx1", "sx2"], ["sx1", "sx11", "sx12"], ["sx2", "sx12", "sx22"]]
    r = ["sy", "sx1y", "sx2y"]
    dets = [_det3(A, cast)]
    for j in range(3):
        M = [row[:] for row in A]
        for i in range(3):
            M[i][j] = r[i]
        dets.append(_det3(M, cast))
    return dets


_OLS2_DUCK = _ols2_dets(lambda c: f"{c}::HUGEINT")
_OLS2_SPARK = _ols2_dets(lambda c: f"CAST({c} AS DECIMAL(38,0))")


@query(
    "lineitem_ols_two_factor",
    oracle=f"""
    WITH b AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS x2,
             CAST(ROUND(l_extendedprice) AS BIGINT) AS y
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             COUNT(*)::HUGEINT AS n,
             SUM(x1)::HUGEINT AS sx1, SUM(x2)::HUGEINT AS sx2,
             SUM(y)::HUGEINT AS sy,
             SUM(x1*x1)::HUGEINT AS sx11, SUM(x2*x2)::HUGEINT AS sx22,
             SUM(x1*x2)::HUGEINT AS sx12,
             SUM(x1*y)::HUGEINT AS sx1y, SUM(x2*y)::HUGEINT AS sx2y,
             SUM(y*y)::HUGEINT AS syy
      FROM b GROUP BY 1
    ), d AS (
      SELECT *,
             {_OLS2_DUCK[0]} AS det,
             {_OLS2_DUCK[1]} AS det0,
             {_OLS2_DUCK[2]} AS det1,
             {_OLS2_DUCK[3]} AS det2
      FROM s
    ), fit AS (
      SELECT l_returnflag, n,
             CAST(CAST(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE)
                  AS DECIMAL(18,6)) AS DOUBLE) AS b0,
             CAST(CAST(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE)
                  AS DECIMAL(18,6)) AS DOUBLE) AS b1_qty,
             CAST(CAST(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE)
                  AS DECIMAL(18,6)) AS DOUBLE) AS b2_disc,
             sy, sx1y, sx2y, syy
      FROM d
    )
    SELECT l_returnflag, n::BIGINT AS n_rows, b0, b1_qty, b2_disc,
           CAST(CAST(
             1.0 - (CAST(syy AS DOUBLE) - b0 * CAST(sy AS DOUBLE)
                    - b1_qty * CAST(sx1y AS DOUBLE)
                    - b2_disc * CAST(sx2y AS DOUBLE))
                 / (CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                      / CAST(n AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) AS r2
    FROM fit
    """,
)
def lineitem_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed TWO-feature OLS per return flag:
    price ~ quantity + discount, solved by Cramer's rule over the 3×3
    normal-equation matrix of INTEGER moment sums (y in whole
    currency units, discount in hundredths, so every moment is an
    exact BIGINT and every determinant an exact 128-bit product —
    DECIMAL(38,0) / HUGEINT) with ONE double division per
    coefficient; R² is derived from the same moments using the
    ALREADY-PINNED coefficients so both engines feed identical
    doubles into it. Extends ``lineitem_ols_price_quantity`` from
    one regressor to the general sufficient-statistics multivariate
    fit: at 100 TB the whole model ships 10 numbers per group
    through one map-side-combined aggregate — no iteration, no
    sampling, bit-deterministic.

    Determinant magnitude check: the largest term is n·sx11·sx22 ≈
    5e31 at TPC-H sf100 — inside both 128-bit types; beyond that,
    center the moments first (the standard conditioning fix) before
    widening types."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("y"),
    )
    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = s.select(
        "*",
        F.expr(_OLS2_SPARK[0]).alias("det"),
        F.expr(_OLS2_SPARK[1]).alias("det0"),
        F.expr(_OLS2_SPARK[2]).alias("det1"),
        F.expr(_OLS2_SPARK[3]).alias("det2"),
    )
    fit = d.select(
        "l_returnflag",
        "n",
        F.expr(
            "CAST(CAST(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE)"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("b0"),
        F.expr(
            "CAST(CAST(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE)"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("b1_qty"),
        F.expr(
            "CAST(CAST(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE)"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("b2_disc"),
        "sy",
        "sx1y",
        "sx2y",
        "syy",
    )
    return fit.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        "b0",
        "b1_qty",
        "b2_disc",
        F.expr(
            "CAST(CAST("
            " 1.0D - (CAST(syy AS DOUBLE) - b0 * CAST(sy AS DOUBLE)"
            "         - b1_qty * CAST(sx1y AS DOUBLE)"
            "         - b2_disc * CAST(sx2y AS DOUBLE))"
            "     / (CAST(syy AS DOUBLE)"
            "        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
            "          / CAST(n AS DOUBLE))"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("r2"),
    )


# ---- daily-series autocorrelation ------------------------------------

ACF_MAX_LAG = 7


@query(
    "orders_daily_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             COUNT(*)::BIGINT AS n
      FROM orders GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1}))::BIGINT AS lag),
    pairs AS (
      SELECT l.lag, a.n AS x, b.n AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day + l.lag * INTERVAL 1 DAY
    ),
    s AS (
      SELECT lag,
             COUNT(*)::BIGINT AS np,
             SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
             SUM(x*y)::BIGINT AS sxy,
             SUM(x*x)::BIGINT AS sxx, SUM(y*y)::BIGINT AS syy
      FROM pairs GROUP BY lag
    )
    SELECT lag, np AS n_pairs,
           CAST(CAST(
             CAST(np*sxy - sx*sy AS DOUBLE)
             / sqrt(CAST(np*sxx - sx*sx AS DOUBLE)
                    * CAST(np*syy - sy*sy AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) AS acf
    FROM s
    """,
)
def orders_daily_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Autocorrelation of the daily order-count series at lags 1..7 —
    the seasonality diagnostic that tells a forecaster which lag
    structure matters (weekly cycle → spike at lag 7) before fitting
    anything; complements ``orders_seasonal_index`` (monthly shape)
    and ``events_cusum_changepoint`` (level shifts).

    Exactness: Pearson-at-lag over calendar-aligned day pairs, all
    five moment sums exact BIGINTs; the per-moment products stay in
    BIGINT (np·sxx ≲ 5e11 at sf0.1) and the two variance terms
    multiply as doubles inside one fixed sqrt expression, pinned
    DECIMAL(18,6). Plan: the corpus collapses to ~#days rows in ONE
    scan+agg; the lag expansion and self-joins run on that tiny frame
    (≤ 7·days rows), so the query is scan-bound at any scale —
    no window over the raw table, no driver collect."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
            F.count(F.lit(1)).alias("n")
        )
        .persist()
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    a = daily.select(F.col("day").alias("a_day"), F.col("n").alias("x"))
    bf = daily.select(F.col("day").alias("b_day"), F.col("n").alias("y"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(
            bf,
            F.col("b_day")
            == F.expr("date_add(a_day, CAST(lag AS INT))"),
        )
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return s.select(
        "lag",
        F.col("np").alias("n_pairs"),
        F.expr(
            "CAST(CAST("
            " CAST(np*sxy - sx*sy AS DOUBLE)"
            " / sqrt(CAST(np*sxx - sx*sx AS DOUBLE)"
            "        * CAST(np*syy - sy*sy AS DOUBLE))"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("acf"),
    )


# ---- Herfindahl revenue concentration --------------------------------


@query(
    "customer_nation_herfindahl",
    oracle="""
    WITH cr AS (
      SELECT c.c_nationkey AS nationkey, c.c_custkey,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT nationkey, SUM(rev_c)::BIGINT AS t,
             COUNT(*)::BIGINT AS n_customers
      FROM cr GROUP BY nationkey
    ),
    sh AS (
      SELECT cr.nationkey,
             (cr.rev_c * 1000000) // tot.t AS share_micro
      FROM cr JOIN tot ON tot.nationkey = cr.nationkey
    ),
    h AS (
      SELECT nationkey,
             SUM((share_micro * share_micro) // 1000000)::BIGINT
               AS hhi_micro
      FROM sh GROUP BY nationkey
    )
    SELECT t.nationkey, t.n_customers,
           CAST(CAST(t.t AS DOUBLE) / 100.0 AS DOUBLE) AS total_rev,
           CAST(h.hhi_micro AS DOUBLE) / 1000000.0 AS hhi,
           CAST(CAST(1000000.0 / h.hhi_micro AS DECIMAL(18,6))
                AS DOUBLE) AS effective_n
    FROM tot t JOIN h ON h.nationkey = t.nationkey
    """,
)
def customer_nation_herfindahl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl–Hirschman revenue concentration per nation: each
    customer's share of their nation's order revenue, squared and
    summed — plus the equivalent-competitor count 1/HHI. The
    concentration sibling of ``customer_revenue_gini`` (Gini measures
    inequality of the curve; HHI measures how few heads dominate —
    the metric dedup/mixing reports quote as "effective sources").

    Exactness: revenue in exact cents; each share enters as
    micro-fixed-point integer division (share ≤ 1e6), its square
    integer-divided back to micro — every term BIGINT, the sum exact
    and order-insensitive, zero floats until the output projection.
    Plan: fact joins dim broadcast, one (nation, customer) aggregate,
    then everything runs on |customers| and |nations| rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cr = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nationkey"), "c_custkey"
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("rev_c")
        )
    )
    cr = cr.persist()
    tot = cr.groupBy("nationkey").agg(
        F.sum("rev_c").cast("bigint").alias("t"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    sh = cr.join(F.broadcast(tot), "nationkey").select(
        "nationkey",
        F.expr("(rev_c * 1000000L) div t").alias("share_micro"),
    )
    h = sh.groupBy("nationkey").agg(
        F.sum(F.expr("(share_micro * share_micro) div 1000000L"))
        .cast("bigint")
        .alias("hhi_micro")
    )
    return (
        tot.join(h, "nationkey")
        .select(
            "nationkey",
            "n_customers",
            (F.col("t").cast("double") / 100.0).alias("total_rev"),
            (F.col("hhi_micro").cast("double") / 1000000.0).alias("hhi"),
            F.expr(
                "CAST(CAST(1000000.0D / hhi_micro AS DECIMAL(18,6))"
                " AS DOUBLE)"
            ).alias("effective_n"),
        )
    )


# ---- association rules (confidence / lift over the pair mine) ----------

RULES_MIN_PAIR_SUPPORT = 2  # pairs seen in >= this many orders qualify
RULES_TOP_K = 25


@query(
    "market_basket_rules",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_baskets AS (
      SELECT COUNT(DISTINCT l_orderkey)::BIGINT AS nb FROM items
    ), supp AS (
      SELECT l_partkey, COUNT(*)::BIGINT AS n FROM items GROUP BY 1
    ), pairs AS (
      SELECT a.l_partkey AS a_part, b.l_partkey AS b_part,
             COUNT(*)::BIGINT AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {RULES_MIN_PAIR_SUPPORT}
    ), rules AS (
      SELECT p.a_part AS antecedent, p.b_part AS consequent,
             p.n_both, sa.n AS n_antecedent,
             CAST(CAST(p.n_both * 1.0 / sa.n AS DECIMAL(18,6)) AS DOUBLE)
               AS confidence,
             CAST(CAST(p.n_both * 1.0 * MAX(nb.nb) / (sa.n * sb.n)
                  AS DECIMAL(18,6)) AS DOUBLE) AS lift
      FROM pairs p
      JOIN supp sa ON sa.l_partkey = p.a_part
      JOIN supp sb ON sb.l_partkey = p.b_part
      CROSS JOIN n_baskets nb
      GROUP BY p.a_part, p.b_part, p.n_both, sa.n, sb.n
    )
    SELECT antecedent, consequent, n_both, n_antecedent, confidence, lift
    FROM rules
    ORDER BY lift DESC, confidence DESC, antecedent ASC, consequent ASC
    LIMIT {RULES_TOP_K}
    """,
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket pair mine: confidence
    P(B|A) = n(A∧B)/n(A) and lift n(A∧B)·N / (n(A)·n(B)) for every
    supported pair (A < B as mined; the A→B direction reported), top-K
    by lift — the actionable half of market-basket analysis that
    ``market_basket_pairs`` (raw co-occurrence counts) feeds.

    Exactness: supports and pair counts are exact BIGINTs from the
    same DISTINCT (order, part) collapse; confidence and lift are
    single pinned-decimal ratios of integers.

    Plan: the pair self-join reuses the basket discipline (distinct
    collapse bounds fan-out at lines-per-order²; min-support HAVING
    prunes the rule frame before the support joins); per-item supports
    are one hash aggregate joined back twice; the basket total rides
    as a 1-row broadcast; top-K is TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    nb = items.agg(
        F.countDistinct("l_orderkey").alias("nb")
    )
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("a_part"),
            F.col("b.l_partkey").alias("b_part"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= RULES_MIN_PAIR_SUPPORT)
    )
    sa = supp.select(
        F.col("l_partkey").alias("sa_key"), F.col("n").alias("n_antecedent")
    )
    sb = supp.select(
        F.col("l_partkey").alias("sb_key"), F.col("n").alias("n_consequent")
    )
    rules = (
        pairs.join(sa, F.col("sa_key") == F.col("a_part"))
        .join(sb, F.col("sb_key") == F.col("b_part"))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("a_part").alias("antecedent"),
            F.col("b_part").alias("consequent"),
            "n_both",
            "n_antecedent",
            F.expr(
                "CAST(CAST(n_both * 1.0 / n_antecedent AS DECIMAL(18,6))"
                " AS DOUBLE)"
            ).alias("confidence"),
            F.expr(
                "CAST(CAST(n_both * 1.0 * nb / (n_antecedent * n_consequent)"
                " AS DECIMAL(18,6)) AS DOUBLE)"
            ).alias("lift"),
        )
    )
    return rules.orderBy(
        F.col("lift").desc(),
        F.col("confidence").desc(),
        F.col("antecedent").asc(),
        F.col("consequent").asc(),
    ).limit(RULES_TOP_K)


# ---- order-to-ship lead time (SLA percentiles) --------------------------


@query(
    "lineitem_leadtime_percentiles",
    oracle="""
    WITH lt AS (
      SELECT o.o_orderpriority,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*)::BIGINT AS n_lines,
           quantile_cont(days, 0.5) AS p50_days,
           quantile_cont(days, 0.9) AS p90_days,
           quantile_cont(days, 0.99) AS p99_days
    FROM lt GROUP BY o_orderpriority
    """,
)
def lineitem_leadtime_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship lead time SLA: exact p50/p90/p99 of the
    (ship date − order date) day gap per order priority — the
    operational percentile readout every fulfillment warehouse runs,
    and the lead-time face of the percentile machinery
    (``agg_exact_percentiles`` anchors the type-7 convention both
    engines share; gaps are exact integer days, so the interpolation
    inputs are bit-identical).

    Plan: one join shuffle (lineitem⋈orders on the order key — at
    production scale co-bucketed and shuffle-free, the
    tests/test_connectors.py bucketed-join pin), then one grouped
    sort-agg over five bounded groups. No window."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lt = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "days"
        ),
    )
    return lt.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr("percentile(days, 0.5D)").alias("p50_days"),
        F.expr("percentile(days, 0.9D)").alias("p90_days"),
        F.expr("percentile(days, 0.99D)").alias("p99_days"),
    )


# ---- Laspeyres price index ------------------------------------------------


def _laspeyres_sql(li: str, bigint: str, yr: str) -> str:
    """Shared Laspeyres text: base year = first year in the data;
    per (part, year) unit price = mean of the row-level
    extendedprice/quantity ratio pinned DECIMAL(18,6) per row."""
    return f"""
    WITH u AS (
      SELECT l_partkey, {yr} AS yr,
             CAST(CAST(l_extendedprice AS DOUBLE) / l_quantity
                  AS DECIMAL(18,6)) AS unit_price,
             CAST(l_quantity AS DECIMAL(18,2)) AS qty
      FROM {li}
    ),
    py AS (
      SELECT l_partkey, yr,
             CAST(CAST(CAST(SUM(unit_price) AS DOUBLE) / COUNT(*)
                  AS DECIMAL(18,6)) AS DECIMAL(18,6)) AS p,
             SUM(qty) AS q
      FROM u GROUP BY 1, 2
    ),
    base_yr AS (SELECT MIN(yr) AS b FROM py),
    base AS (
      SELECT py.l_partkey, py.p AS p0, py.q AS q0
      FROM py JOIN base_yr ON py.yr = base_yr.b
    ),
    terms AS (
      SELECT py.yr,
             SUM(CAST(py.p AS DECIMAL(38,8)) * base.q0) AS num,
             SUM(CAST(base.p0 AS DECIMAL(38,8)) * base.q0) AS den,
             CAST(COUNT(*) AS {bigint}) AS n_parts
      FROM py JOIN base ON base.l_partkey = py.l_partkey
      GROUP BY py.yr
    )
    SELECT yr AS year, n_parts,
           CAST(CAST(
             CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 100
             AS DECIMAL(18,6)) AS DOUBLE) AS laspeyres_index
    FROM terms
    """


@query(
    "lineitem_laspeyres_price_index",
    oracle=_laspeyres_sql(
        "lineitem",
        "BIGINT",
        "EXTRACT(year FROM CAST(l_shipdate AS DATE))::INT",
    ),
)
def lineitem_laspeyres_price_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Laspeyres-style price index of the parts basket by ship year
    (Σp_t·q₀ / Σp₀·q₀, base = first year, ×100), under the
    **matched-basket (intersection) convention**: year t's basket is
    the set of parts traded in BOTH the base year and year t — the
    inner join with the base frame drops base-year parts absent in
    year t from numerator AND denominator alike, so the basket can
    shrink per year (n_parts reports its size) while quantities stay
    frozen at base-year levels. This is the standard matched-model
    treatment of disappearing items, not the textbook full-basket
    Laspeyres (which is undefined whenever a base part has no price
    in year t); within the matched set, quantity weights are held at
    q₀, so price change is measured on comparable goods. The
    econ-index face of the revenue trend family
    (``orders_seasonal_index`` shapes within the year, this compares
    across years). The convention is applied identically via the
    base join in both dialects.

    Exactness: each row's unit price (extendedprice/quantity) is ONE
    correctly-rounded double division pinned DECIMAL(18,6); per
    (part, year) mean prices are exact-decimal sums divided once and
    re-pinned; the index numerator/denominator are exact
    DECIMAL(38,8) dot products with base-year quantities; one final
    double division ×100, pinned.

    Plan: one scan → (part, year) hash aggregate; the base-year frame
    broadcasts back onto the per-year frame (|parts| rows); a
    ~#years-row finish. No window, no driver math."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("laspeyres_lineitem")
    return spark.sql(
        _laspeyres_sql(
            "laspeyres_lineitem", "BIGINT", "year(l_shipdate)"
        )
    )


# ---- Paasche / Fisher price indices ----------------------------------------


def _fisher_sql(li: str, bigint: str, yr: str) -> str:
    """Shared Paasche/Fisher text. Mirrors ``_laspeyres_sql``'s
    matched-basket frames exactly (same u/py/base CTEs), then carries
    all four dot products (p_t·q0, p0·q0, p_t·q_t, p0·q_t) in one
    per-year aggregate so both indices price the SAME basket."""
    return f"""
    WITH u AS (
      SELECT l_partkey, {yr} AS yr,
             CAST(CAST(l_extendedprice AS DOUBLE) / l_quantity
                  AS DECIMAL(18,6)) AS unit_price,
             CAST(l_quantity AS DECIMAL(18,2)) AS qty
      FROM {li}
    ),
    py AS (
      SELECT l_partkey, yr,
             CAST(CAST(CAST(SUM(unit_price) AS DOUBLE) / COUNT(*)
                  AS DECIMAL(18,6)) AS DECIMAL(18,6)) AS p,
             SUM(qty) AS q
      FROM u GROUP BY 1, 2
    ),
    base_yr AS (SELECT MIN(yr) AS b FROM py),
    base AS (
      SELECT py.l_partkey, py.p AS p0, py.q AS q0
      FROM py JOIN base_yr ON py.yr = base_yr.b
    ),
    terms AS (
      SELECT py.yr,
             SUM(CAST(py.p AS DECIMAL(38,8)) * base.q0) AS l_num,
             SUM(CAST(base.p0 AS DECIMAL(38,8)) * base.q0) AS l_den,
             SUM(CAST(py.p AS DECIMAL(38,8)) * py.q) AS p_num,
             SUM(CAST(base.p0 AS DECIMAL(38,8)) * py.q) AS p_den,
             CAST(COUNT(*) AS {bigint}) AS n_parts
      FROM py JOIN base ON base.l_partkey = py.l_partkey
      GROUP BY py.yr
    ),
    idx AS (
      SELECT yr, n_parts,
             CAST(CAST(
               CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE) * 100
               AS DECIMAL(18,6)) AS DOUBLE) AS laspeyres_index,
             CAST(CAST(
               CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE) * 100
               AS DECIMAL(18,6)) AS DOUBLE) AS paasche_index
      FROM terms
    )
    SELECT yr AS year, n_parts, laspeyres_index, paasche_index,
           CAST(CAST(
             sqrt(laspeyres_index * paasche_index)
             AS DECIMAL(18,6)) AS DOUBLE) AS fisher_index
    FROM idx
    """


@query(
    "lineitem_fisher_price_index",
    oracle=_fisher_sql(
        "lineitem",
        "BIGINT",
        "EXTRACT(year FROM CAST(l_shipdate AS DATE))::INT",
    ),
)
def lineitem_fisher_price_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Paasche and Fisher price indices by ship year, completing the
    index-number family ``lineitem_laspeyres_price_index`` opened:
    Paasche re-weights by CURRENT-year quantities (Σp_t·q_t / Σp₀·q_t
    — the downward-substitution-bias twin of Laspeyres' upward bias),
    and Fisher is their geometric mean √(L·P), the "ideal" index that
    satisfies the time-reversal test neither parent does. Same
    matched-basket (intersection) convention as the Laspeyres op —
    both indices price exactly the parts traded in the base year AND
    year t, so L, P, and F are comparable per row (n_parts reports
    the matched-basket size).

    Exactness: identical u/py/base frames as the Laspeyres op (row
    unit price = one pinned double division; per-(part,year) mean
    price re-pinned DECIMAL(18,6)); all four dot products are exact
    DECIMAL(38,8) sums in ONE per-year aggregate; each index is one
    double division ×100 pinned DECIMAL(18,6), and Fisher is one sqrt
    over the two already-pinned doubles, pinned again — identical
    IEEE chains in both engines.

    Plan: one lineitem scan → (part, year) hash aggregate; base-year
    frame joins back (|parts| rows, AQE-broadcastable); one ~#years
    aggregate carrying four sums; 1-projection finish. No window, no
    second scan."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("fisher_lineitem")
    return spark.sql(
        _fisher_sql("fisher_lineitem", "BIGINT", "year(l_shipdate)")
    )


# ---- customer value-segment migration --------------------------------------


def _segment_migration_sql(
    table: str, bigint: str, intdiv: str, epoch_day: str, pct: str
) -> str:
    """Shared segment-migration text. Periods split at the exact
    integer midpoint of the epoch-day range; per-(customer, period)
    revenue is an exact DECIMAL sum; each period's quartile
    boundaries come from the shared exact-percentile convention
    (Spark percentile ≡ DuckDB quantile_cont) pinned DECIMAL(18,6),
    and bucket assignment is a fixed <=-CASE against those pinned
    boundaries — identical doubles, identical buckets."""
    b = "CAST(CAST({p} AS DECIMAL(18,6)) AS DOUBLE)"
    return f"""
    WITH span AS (
      SELECT (MIN({epoch_day}) + MAX({epoch_day})) {intdiv} 2 AS mid
      FROM {table}
    ),
    per AS (
      SELECT o_custkey AS custkey,
             CASE WHEN {epoch_day} < span.mid THEN 0 ELSE 1 END
               AS period,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                  AS DOUBLE) AS rev
      FROM {table} CROSS JOIN span
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT period,
             {b.format(p=pct.format(x="rev", q="0.25"))} AS b1,
             {b.format(p=pct.format(x="rev", q="0.5"))} AS b2,
             {b.format(p=pct.format(x="rev", q="0.75"))} AS b3
      FROM per GROUP BY period
    ),
    seg AS (
      SELECT per.custkey, per.period,
             CASE WHEN per.rev <= bounds.b1 THEN 'q1_low'
                  WHEN per.rev <= bounds.b2 THEN 'q2'
                  WHEN per.rev <= bounds.b3 THEN 'q3'
                  ELSE 'q4_high' END AS segment
      FROM per JOIN bounds ON bounds.period = per.period
    )
    SELECT COALESCE(a.segment, 'absent') AS segment_before,
           COALESCE(c.segment, 'absent') AS segment_after,
           CAST(COUNT(*) AS {bigint}) AS n_customers
    FROM (SELECT custkey, segment FROM seg WHERE period = 0) a
    FULL OUTER JOIN
         (SELECT custkey, segment FROM seg WHERE period = 1) c
      ON c.custkey = a.custkey
    GROUP BY 1, 2
    """


@query(
    "customer_segment_migration",
    oracle=_segment_migration_sql(
        "orders",
        "BIGINT",
        "//",
        "CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) // 86400",
        "quantile_cont({x}, {q})",
    ),
)
def customer_segment_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer value-segment MIGRATION matrix: revenue quartile in
    the first half of the order history × revenue quartile in the
    second half (plus 'absent' for customers active in only one
    period) — the dynamics readout the static ``customer_rfm_
    segments`` snapshot can't give: a healthy book shows diagonal
    mass (segments persist) with upward drift; heavy q4→absent is
    silent churn of the best customers, the single most expensive
    cell in the matrix. The customer-level face of
    ``events_cohort_retention_matrix``'s user-count triangle.

    Exactness: the period boundary is exact integer epoch-day
    arithmetic from one 1-row aggregate; per-period revenues are
    exact DECIMAL sums; quartile boundaries ride the shared
    exact-percentile convention pinned DECIMAL(18,6); bucket
    assignment is a fixed ≤-CASE on identical doubles; the matrix is
    exact integer counts.

    Plan: one scan → per-(customer, period) aggregate (one shuffle);
    boundaries are a 2-row aggregate broadcast back; the period
    self-alignment is one custkey-keyed full-outer join between the
    two period slices of the SAME aggregated frame; the finish is a
    ≤25-cell matrix. (The percentile aggregate is single-reduce per
    period — 2 groups — the documented exact-percentile cost; the
    approx twin pattern applies if boundaries may be sketched.)"""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("segmig_orders")
    return spark.sql(
        _segment_migration_sql(
            "segmig_orders",
            "BIGINT",
            "DIV",
            "unix_date(CAST(o_orderdate AS DATE))",
            "percentile({x}, {q}D)",
        )
    )


# ---- log-log price elasticity of demand -------------------------------------


def _elasticity_sql(table: str, bigint: str) -> str:
    """Shared ln-ln OLS text: per-row ln(unit price) and ln(quantity)
    each pinned DECIMAL(18,9) (ln of a correctly-rounded ratio /
    exact int); every moment term pinned DECIMAL(18,12) before its
    corpus-scale sum; the slope is pinned DECIMAL(18,9) once and
    exposed at that native scale (re-rounding a 9dp pin to 6dp hits
    the HALF_UP/HALF_EVEN tie — the retention-fit lesson)."""
    lnp = (
        "CAST(CAST(ln(CAST(l_extendedprice AS DOUBLE) / l_quantity)"
        " AS DECIMAL(18,9)) AS DOUBLE)"
    )
    lnq = (
        "CAST(CAST(ln(CAST(l_quantity AS DOUBLE))"
        " AS DECIMAL(18,9)) AS DOUBLE)"
    )
    return f"""
    WITH pts AS (
      SELECT {lnp} AS x, {lnq} AS y FROM {table}
      WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    mo AS (
      SELECT CAST(COUNT(*) AS {bigint}) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(18,12))) AS DOUBLE)
               AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(18,12))) AS DOUBLE)
               AS sxy,
             CAST(SUM(CAST(y * y AS DECIMAL(18,12))) AS DOUBLE)
               AS syy
      FROM pts
    ),
    fit AS (
      SELECT n, sx, sy, sxx, sxy, syy,
             CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)
                  AS DECIMAL(18,9)) AS slope9
      FROM mo
    )
    SELECT n AS n_rows,
           CAST(slope9 AS DOUBLE) AS elasticity,
           CAST(CAST((sy - CAST(slope9 AS DOUBLE) * sx) / n
                AS DECIMAL(18,6)) AS DOUBLE) AS intercept,
           CAST(CAST(
             ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy))
             AS DECIMAL(18,6)) AS DOUBLE) AS r2
    FROM fit
    """


@query(
    "lineitem_price_elasticity",
    oracle=_elasticity_sql("lineitem", "BIGINT"),
)
def lineitem_price_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-log price elasticity of demand: the OLS slope of
    ln(quantity) on ln(unit price) across line items — the constant-
    elasticity demand model ln q = a + ε·ln p whose slope IS the
    elasticity (ε < −1 elastic, −1 < ε < 0 inelastic), the
    econometric twin of ``lineitem_ols_price_quantity`` (that one
    fits LEVELS, whose slope depends on units; the ln-ln slope is
    the unit-free comparable) and the demand-side complement of the
    Laspeyres price index's supply-side view. r² reports how much of
    quantity variation price explains at all — on synthetic TPC-H
    pricing it is honestly tiny, which is itself the correct reading
    (quantity is drawn independently of price).

    Exactness: per-row lns ride the ln-of-exact-ratio pin; all five
    moment sums are pinned-per-term exact decimal aggregates
    (order-insensitive at corpus scale); the slope is pinned once at
    DECIMAL(18,9) and exposed natively.

    Plan: ONE scan → a single partial+final moment aggregate — the
    sufficient-statistics OLS shape, no shuffle wider than one row."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("elasticity_lineitem")
    return spark.sql(_elasticity_sql("elasticity_lineitem", "BIGINT"))

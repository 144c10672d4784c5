"""Join operators: broadcast/sort-merge equi-joins in every flavor,
plus theta (range) and as-of joins built from standard primitives.

Reference parity: the reference's two joins are worker-local Python
hash joins with the tiny teams side as the build dict
(``/root/reference/dataflow-flex/football_pipeline/transforms.py:32,89``)
— i.e. broadcast hash joins. Here the small dimensions are explicitly
``F.broadcast`` (region/nation always; others sized by AQE), and big
fact-fact joins are left to sort-merge where Catalyst picks it.

Scale notes: every query here has its join keys chosen so the shuffle
(when there is one) is on the natural key of the bigger side; the
dimension sides broadcast, so a 100x bigger lineitem only grows the
scan + one shuffle, never a cross-network dimension shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum
from ..session import local_frame
from ..sources.testdata import load_table
from .registry import query


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT
      l.l_orderkey,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      o.o_orderdate,
      o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: 3-way join + group + top-10. customer (filtered,
    unhinted — AQE broadcasts while it fits) joins in;
    orders⋈lineitem shuffles on orderkey once."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT
      n.n_name,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join with a composite (supp, nation) condition.
    nation/region broadcast by hint, supplier AQE-sized; the fact
    chain shuffles on
    orderkey only."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "join_left_nulls",
    oracle="""
    SELECT
      c.c_custkey,
      c.c_name,
      o.o_orderkey,
      CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000
    """,
)
def join_left_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER with a pushed join-side predicate — preserves every
    customer, nulls where no qualifying order exists."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cust_n AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
      FROM customer GROUP BY c_nationkey
    ), supp_n AS (
      SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
      FROM supplier GROUP BY s_nationkey
    )
    SELECT
      COALESCE(c.nationkey, s.nationkey) AS nationkey,
      c.n_customers,
      s.n_suppliers
    FROM cust_n c
    FULL OUTER JOIN supp_n s ON c.nationkey = s.nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER of two pre-aggregated sides (sort-merge; full outer
    can't broadcast)."""
    cust_n = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cust_n.join(supp_n, "nationkey", "full").select(
        "nationkey", "n_customers", "n_suppliers"
    )


@query(
    "join_semi_active_customers",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join ≡ EXISTS — output never duplicates the left side."""
    cust = load_table(spark, sf_dir, "customer")
    fo = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(
        fo, cust.c_custkey == fo.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "join_anti_unshipped",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderdate
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate < TIMESTAMP '1997-01-01'
    )
    """,
)
def join_anti_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join ≡ NOT EXISTS. Mirrors the reference's logged
    probe-miss side (transforms.py:44-46): the anti join IS the set of
    dropped rows."""
    orders = load_table(spark, sf_dir, "orders")
    early = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )
    return orders.join(
        early, orders.o_orderkey == early.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_orderstatus", "o_orderdate")


@query(
    "join_right_parts",
    oracle="""
    SELECT p.p_partkey, p.p_brand, l.l_orderkey, l.l_quantity
    FROM (SELECT * FROM lineitem WHERE l_quantity >= 49) l
    RIGHT JOIN (SELECT * FROM part WHERE p_size <= 5) p
      ON l.l_partkey = p.p_partkey
    """,
)
def join_right_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER: all small parts, with their high-quantity lineitems
    if any."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    return li.join(part, li.l_partkey == part.p_partkey, "right").select(
        "p_partkey", "p_brand", "l_orderkey", "l_quantity"
    )


@query(
    "join_range_price_bands",
    oracle="""
    SELECT b.band, COUNT(*) AS n, CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders o
    JOIN (VALUES
        ('low',      0.0,      100000.0),
        ('mid',      100000.0, 300000.0),
        ('high',     300000.0, 450000.0),
        ('whale',    450000.0, 1e18)
      ) AS b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (range) join against a tiny literal dimension — Spark
    plans BroadcastNestedLoopJoin; at any scale the bands table is
    constant-size so this stays O(rows x bands) map-side."""
    orders = load_table(spark, sf_dir, "orders")
    bands = local_frame(
        spark,
        [
            ("low", 0.0, 100000.0),
            ("mid", 100000.0, 300000.0),
            ("high", 300000.0, 450000.0),
            ("whale", 450000.0, 1e18),
        ],
        "band string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@query(
    "join_asof_last_purchase",
    oracle="""
    SELECT
      event_id,
      user_id,
      ts,
      last_purchase_ts
    FROM (
      SELECT
        event_id,
        user_id,
        CAST(ts AS TIMESTAMP) AS ts,
        event_type,
        LAST_VALUE(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_ts
      FROM events
    )
    WHERE event_type = 'click'
    """,
)
def join_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for every click, the most
    recent STRICTLY-PRIOR purchase by the same user, via a
    last-ignore-nulls window over the unioned stream — one shuffle on
    user_id, no pairwise join blowup. This is the scalable as-of
    pattern: at 100 TB the alternative (range self-join) is quadratic
    per user, while this is a single sort within user partitions."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn(
            "last_purchase_ts",
            F.last(
                F.when(F.col("event_type") == "purchase", F.col("ts")),
                ignorenulls=True,
            ).over(w),
        )
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "last_purchase_ts")
    )


@query(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
           AS DOUBLE) AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a join whose filter is a DISJUNCTION of
    conjunctive brand/size/quantity clauses spanning both tables.

    Catalyst factors the common part-side constraints out of the OR
    (constraint propagation pushes `p_brand IN (...)` and a size upper
    bound into the part scan) while the mixed residual evaluates after
    the join — the pattern that breaks naive pushdown and is exactly
    what an optimizer must split correctly. part is AQE-sized
    (broadcast at this SF, shuffle at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(clause).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )



# ---- bloom-filter join pruning ---------------------------------------

BLOOM_BITS = 1 << 17          # 131072 bits = 2048 64-bit words
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_SEEDS = (42, 43)        # two independent xxhash64 probes


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """Build the bloom word table from a key frame: two probe
    positions per key → (word_idx, mask) → ``bit_or`` into ≤
    ``BLOOM_WORDS`` rows. Size is independent of |keys|. Both probes
    are emitted from ONE scan (explode of a 2-element struct array),
    not a per-seed union — the key frame is read exactly once."""
    probes = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (
                            F.pmod(
                                F.xxhash64(F.col(key_col), F.lit(seed)),
                                F.lit(BLOOM_BITS),
                            )
                            / 64
                        )
                        .cast("long")
                        .alias("word_idx"),
                        F.expr(
                            f"shiftleft(1L, CAST(pmod(xxhash64({key_col},"
                            f" {seed}), {BLOOM_BITS}) % 64 AS INT))"
                        ).alias("mask"),
                    )
                    for seed in BLOOM_SEEDS
                ]
            )
        ).alias("pm")
    ).select("pm.word_idx", "pm.mask")
    return probes.groupBy("word_idx").agg(F.bit_or("mask").alias("word"))


def bloom_probe(fact: DataFrame, key_col: str, bloom: DataFrame) -> DataFrame:
    """Drop fact rows whose either bloom probe bit is unset. The
    survivors are a SUPERSET of the true matches (false positives
    possible, false negatives impossible) — callers finish with an
    exact join. Missing words mean the bit is 0, so the inner join
    itself performs that rejection."""
    probed = fact
    for i, seed in enumerate(BLOOM_SEEDS):
        pos = F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)),
                     F.lit(BLOOM_BITS))
        probed = (
            probed.withColumn(f"_pos{i}", pos)
            .join(
                F.broadcast(
                    bloom.withColumnRenamed("word_idx", f"_w{i}")
                    .withColumnRenamed("word", f"_word{i}")
                ),
                F.col(f"_w{i}") == (F.col(f"_pos{i}") / 64).cast("long"),
            )
            .filter(
                F.expr(
                    f"(_word{i} & shiftleft(1L, "
                    f"CAST(_pos{i} % 64 AS INT))) != 0"
                )
            )
            .drop(f"_pos{i}", f"_w{i}", f"_word{i}")
        )
    return probed


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    )
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with an explicit bloom-filter pre-filter: revenue by
    priority for orders whose customer sits in the AUTOMOBILE segment.

    The bloom is the shuffle-reduction pattern for fact⋈dim at 100 TB:
    build a 128 Ki-bit filter from the FILTERED dim keys (two xxhash64
    probes), collapse it to 64-bit words with ``bit_or`` (≤2048 rows
    regardless of dim size), broadcast the words, and drop fact rows
    whose either probe bit is unset BEFORE any fact shuffle — rows the
    filter rejects provably cannot join. False positives are removed
    by the exact (broadcast-semi here; shuffle-semi at scale) join
    that follows, so the result is EXACTLY the plain semi join the
    oracle runs; the bloom only changes how many fact rows reach it.
    This is the manual form of Spark's own runtime row-level bloom
    pruning (spark.sql.optimizer.runtime.bloomFilter), expressed with
    DataFrame ops so the build/probe plan is visible and testable.

    Plan: dim scans once (filter pushed to parquet), the bloom build
    shuffles ≤2·|dim| (word_idx, mask) pairs into ≤2048 groups, the
    probe is two broadcast hash joins + bitwise tests inside codegen,
    and the finishing semi join sees only surviving fact rows. No
    driver-side collect anywhere — the filter lives in a broadcast
    relation, not in the plan as a literal."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey"
    )

    # The bloom feeds TWO broadcast joins (one per probe); persist the
    # <=2048-row word table so the build runs once, not once per probe.
    bloom = bloom_build(keys, "c_custkey").persist()
    probed = bloom_probe(orders, "o_custkey", bloom)

    # Exact finish removes bloom false positives.
    exact = probed.join(
        F.broadcast(keys),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    )
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


@query(
    "join_asof_nearest_purchase",
    oracle="""
    SELECT event_id, user_id, ts, nearest_purchase_ts, direction, gap_us
    FROM (
      SELECT event_id, user_id, ts, event_type,
             CASE
               WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
               WHEN prev_ts IS NULL THEN next_ts
               WHEN next_ts IS NULL THEN prev_ts
               WHEN epoch_us(ts) - epoch_us(prev_ts)
                    <= epoch_us(next_ts) - epoch_us(ts) THEN prev_ts
               ELSE next_ts
             END AS nearest_purchase_ts,
             CASE
               WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
               WHEN prev_ts IS NULL THEN 'next'
               WHEN next_ts IS NULL THEN 'prev'
               WHEN epoch_us(ts) - epoch_us(prev_ts)
                    <= epoch_us(next_ts) - epoch_us(ts) THEN 'prev'
               ELSE 'next'
             END AS direction,
             CASE
               WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
               WHEN prev_ts IS NULL
                 THEN epoch_us(next_ts) - epoch_us(ts)
               WHEN next_ts IS NULL
                 THEN epoch_us(ts) - epoch_us(prev_ts)
               WHEN epoch_us(ts) - epoch_us(prev_ts)
                    <= epoch_us(next_ts) - epoch_us(ts)
                 THEN epoch_us(ts) - epoch_us(prev_ts)
               ELSE epoch_us(next_ts) - epoch_us(ts)
             END AS gap_us
      FROM (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               event_type,
               LAST_VALUE(CASE WHEN event_type = 'purchase'
                               THEN CAST(ts AS TIMESTAMP) END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_ts,
               FIRST_VALUE(CASE WHEN event_type = 'purchase'
                                THEN CAST(ts AS TIMESTAMP) END
                           IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING
                                AND UNBOUNDED FOLLOWING) AS next_ts
        FROM events
      )
    )
    WHERE event_type = 'click'
    """,
)
def join_asof_nearest_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEAREST-direction as-of join: for every click, the purchase by
    the same user closest in time in EITHER direction (ties go to the
    earlier/backward match — the deterministic convention pandas'
    ``merge_asof(direction='nearest')`` uses). Completes the as-of
    family: ``join_asof_last_purchase`` is backward,
    ``join_asof_next_purchase`` forward, this is nearest — three
    semantics, one implementation pattern.

    Same scalable shape as its siblings: union-stream window over
    (user_id, ts) — the backward frame (last ignore-nulls preceding)
    and forward frame (first ignore-nulls following) share ONE
    exchange and ONE sort; the nearest pick is a pure projection on
    exact microsecond integers (no float time math). A range
    self-join would be quadratic per user; this is one sort per user
    partition at any scale.

    Exactness: gaps are exact BIGINT microsecond differences; the
    tie rule (≤ keeps backward) is spelled identically in both
    dialects; no rounding anywhere."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wb = base.rowsBetween(Window.unboundedPreceding, -1)
    wf = base.rowsBetween(1, Window.unboundedFollowing)
    pts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(pts, ignorenulls=True).over(wb).alias("prev_ts"),
        F.first(pts, ignorenulls=True).over(wf).alias("next_ts"),
    )
    back_gap = F.unix_micros("ts") - F.unix_micros("prev_ts")
    fwd_gap = F.unix_micros("next_ts") - F.unix_micros("ts")
    both_null = F.col("prev_ts").isNull() & F.col("next_ts").isNull()
    take_prev = back_gap <= fwd_gap
    return (
        marked.filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(both_null, F.lit(None).cast("timestamp"))
            .when(F.col("prev_ts").isNull(), F.col("next_ts"))
            .when(F.col("next_ts").isNull(), F.col("prev_ts"))
            .when(take_prev, F.col("prev_ts"))
            .otherwise(F.col("next_ts"))
            .alias("nearest_purchase_ts"),
            F.when(both_null, F.lit(None).cast("string"))
            .when(F.col("prev_ts").isNull(), F.lit("next"))
            .when(F.col("next_ts").isNull(), F.lit("prev"))
            .when(take_prev, F.lit("prev"))
            .otherwise(F.lit("next"))
            .alias("direction"),
            F.when(both_null, F.lit(None).cast("bigint"))
            .when(F.col("prev_ts").isNull(), fwd_gap)
            .when(F.col("next_ts").isNull(), back_gap)
            .when(take_prev, back_gap)
            .otherwise(fwd_gap)
            .alias("gap_us"),
        )
    )


# ---- null-safe equality join ------------------------------------------


@query(
    "join_null_safe_buckets",
    oracle="""
    WITH l AS (
      SELECT NULLIF(o_orderstatus, 'P') AS status_key,
             COUNT(*)::BIGINT AS n_all
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT NULLIF(o_orderstatus, 'P') AS status_key,
             COUNT(*)::BIGINT AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
    )
    SELECT l.status_key, l.n_all, r.n_urgent
    FROM l JOIN r ON l.status_key IS NOT DISTINCT FROM r.status_key
    """,
)
def join_null_safe_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NULL-safe equality join (Spark ``<=>`` / SQL IS NOT DISTINCT
    FROM): two keyed aggregates whose bucket key is deliberately
    NULLable (NULLIF folds status 'P' to NULL) are joined so that the
    NULL buckets MATCH — under plain ``=`` the NULL row silently
    drops from both sides, the classic lost-bucket bug when joining
    summaries whose group key carries "unknown" as NULL. The
    remaining face of the join-surface family (inner/left/right/
    full/semi/anti/range/as-of/bloom are covered; this is the
    equality-semantics variant).

    Plan: both sides collapse to ≤3-row aggregates before the join,
    which broadcasts; the null-safe predicate is a hash-join key in
    Spark (``<=>`` is an equi-join condition, not a filter), so the
    same plan holds when the sides are corpus-sized."""
    o = load_table(spark, sf_dir, "orders")
    key = F.expr("NULLIF(o_orderstatus, 'P')")
    left = o.groupBy(key.alias("status_key")).agg(
        F.count(F.lit(1)).alias("n_all")
    )
    right = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(key.alias("status_key"))
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return left.join(
        F.broadcast(right.withColumnRenamed("status_key", "rk")),
        F.col("status_key").eqNullSafe(F.col("rk")),
    ).select("status_key", "n_all", "n_urgent")


# ---- bloom-filter false-positive-rate audit ---------------------------


def _bloom_audit_sql(
    customer: str, orders: str, bigint: str, h60
) -> str:
    """Shared bloom-FPR-audit text. The audited filter has the SAME
    geometry as the production bloom (m = BLOOM_BITS bits, k = 2
    probes) but uses the portable hash60 family (md5-based,
    bit-identical in both engines) so the audit itself is exactly
    reproducible cross-engine — xxhash64, the production probe, has
    no DuckDB twin; FPR is a property of (m, k, n) and hash
    uniformity, so the portable family measures the same geometry.
    Membership simulation is position-set based: a probe key passes
    iff BOTH its bit positions appear in the build side's position
    set — identical semantics to testing bits in the word table."""

    def pos(key: str, seed: int) -> str:
        return (
            h60(f"CONCAT(CAST({key} AS VARCHAR), '|b{seed}')")
            + f" % {BLOOM_BITS}"
        )

    return f"""
    WITH build_keys AS (
      SELECT DISTINCT c_custkey AS k FROM {customer}
      WHERE c_mktsegment = 'AUTOMOBILE'
    ),
    bits AS (
      SELECT DISTINCT p FROM (
        SELECT {pos("k", 0)} AS p FROM build_keys
        UNION ALL
        SELECT {pos("k", 1)} AS p FROM build_keys
      )
    ),
    probe_keys AS (
      SELECT DISTINCT o_custkey AS k FROM {orders}
    ),
    negatives AS (
      SELECT p.k FROM probe_keys p
      WHERE p.k NOT IN (SELECT k FROM build_keys)
    ),
    fp AS (
      SELECT n.k FROM negatives n
      WHERE {pos("n.k", 0)} IN (SELECT p FROM bits)
        AND {pos("n.k", 1)} IN (SELECT p FROM bits)
    ),
    counts AS (
      SELECT
        (SELECT CAST(COUNT(*) AS {bigint}) FROM build_keys) AS n_build,
        (SELECT CAST(COUNT(*) AS {bigint}) FROM bits) AS n_bits_set,
        (SELECT CAST(COUNT(*) AS {bigint}) FROM negatives) AS n_neg,
        (SELECT CAST(COUNT(*) AS {bigint}) FROM fp) AS n_fp
    )
    SELECT n_build AS n_build_keys,
           n_bits_set,
           n_neg AS n_probe_negatives,
           n_fp AS n_false_positives,
           CAST(CAST(CAST(n_fp AS DOUBLE) / n_neg AS DECIMAL(18,6))
                AS DOUBLE) AS measured_fpr,
           CAST(CAST(
             (CAST(n_bits_set AS DOUBLE) / {BLOOM_BITS})
               * (CAST(n_bits_set AS DOUBLE) / {BLOOM_BITS})
             AS DECIMAL(18,6)) AS DOUBLE) AS expected_fpr_from_load,
           CAST(CAST(
             (CAST(1 AS DOUBLE)
                - CAST(CAST(exp(
                    CAST(-2 AS DOUBLE) * n_build / {BLOOM_BITS}
                  ) AS DECIMAL(18,12)) AS DOUBLE))
             * (CAST(1 AS DOUBLE)
                - CAST(CAST(exp(
                    CAST(-2 AS DOUBLE) * n_build / {BLOOM_BITS}
                  ) AS DECIMAL(18,12)) AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) AS theoretical_fpr
    FROM counts
    """


@query(
    "join_bloom_fpr_audit",
    oracle=None,  # set below — needs the duck hash spelled
)
def join_bloom_fpr_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """False-positive-rate audit of the bloom pre-filter geometry
    ``join_bloom_prefilter`` runs in production (m = 131072 bits,
    k = 2 probes): build the filter over the AUTOMOBILE-segment
    customer keys, probe every customer key orders actually carry,
    and count TRUE negatives that still pass — the measured FPR —
    against two references: the load-based expectation
    (bits_set/m)² (exact for the realized filter) and the textbook
    (1−e^{−kn/m})² (the sizing formula). A drifting gap between
    measured and expected is how a pipeline notices its bloom is
    undersized for a grown dimension BEFORE the downstream join
    starts shuffling garbage. Audit hashes are the portable hash60
    family (stated in the shared text; xxhash64 has no DuckDB twin)
    — FPR is a property of the geometry and hash uniformity, so the
    portable family audits the same design point.

    Exactness: every count is an exact integer over position sets;
    the two expectation chains pin the exp output DECIMAL(18,12)
    (the ln-pin rule) and the final rates DECIMAL(18,6).

    Plan: the position set is a ≤2n-row DISTINCT aggregate that
    broadcast-joins the probe side twice (IN over ≤2048 distinct
    words' worth of positions); negatives come from one broadcast
    anti-join. Nothing wider than the distinct-key frames ever
    shuffles."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("bloom_audit_customer")
    o.createOrReplaceTempView("bloom_audit_orders")
    from ..operators.textops import hash60_spark

    return spark.sql(
        _bloom_audit_sql(
            "bloom_audit_customer",
            "bloom_audit_orders",
            "BIGINT",
            lambda e: hash60_spark(e.replace("VARCHAR", "STRING")),
        )
    )


def _register_bloom_audit_oracle() -> None:
    from ..operators.textops import hash60_duck
    from .registry import ORACLES

    ORACLES["join_bloom_fpr_audit"] = _bloom_audit_sql(
        "customer", "orders", "BIGINT", hash60_duck
    )


_register_bloom_audit_oracle()


# ---- blocking-key fanout audit -----------------------------------------


def _fanout_audit_sql(li: str, bigint: str, intdiv: str) -> str:
    """Shared fanout-audit text: per blocking key, the exact pair
    count a self-join would emit, plus its share of the total."""
    return f"""
    WITH k AS (
      SELECT l_partkey AS block_key,
             CAST(COUNT(*) AS {bigint}) AS n_rows
      FROM {li}
      GROUP BY 1
    ),
    p AS (
      SELECT block_key, n_rows,
             CAST((n_rows * (n_rows - 1)) {intdiv} 2 AS {bigint})
               AS predicted_pairs
      FROM k
    ),
    tot AS (
      SELECT CAST(SUM(predicted_pairs) AS {bigint}) AS t,
             CAST(SUM(n_rows) AS {bigint}) AS nr,
             CAST(COUNT(*) AS {bigint}) AS nk
      FROM p
    )
    SELECT p.block_key, p.n_rows, p.predicted_pairs,
           tot.t AS total_pairs,
           CAST(CAST(
             CAST(p.predicted_pairs AS DOUBLE) / tot.t * 100
             AS DECIMAL(18,6)) AS DOUBLE) AS pct_of_total,
           CAST(CAST(
             CAST(p.predicted_pairs AS DOUBLE)
             / (CAST(tot.nr AS DOUBLE) / tot.nk
                * (CAST(tot.nr AS DOUBLE) / tot.nk - 1) / 2)
             AS DECIMAL(18,6)) AS DOUBLE) AS vs_uniform_key
    FROM p CROSS JOIN tot
    ORDER BY p.predicted_pairs DESC, p.block_key ASC
    LIMIT 10
    """


@query(
    "join_fanout_audit",
    oracle=_fanout_audit_sql("lineitem", "BIGINT", "//"),
)
def join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight cardinality audit for a planned blocking self-join —
    the question every entity-resolution / dedup blocking pass must
    answer BEFORE running: per blocking key (here ``l_partkey``, the
    key ``part_entity_resolution``-style candidate generation blocks
    on), exactly how many pairs will the within-block self-join emit,
    which keys dominate, and how hot is the hottest key versus a
    uniform-key world (``vs_uniform_key`` — the skew multiplier that
    says whether one reducer eats the job). Predicted pairs are exact
    n·(n−1)/2 per key from group COUNTS — the audit costs one
    aggregate, never materializing the pairs it predicts; this is the
    mechanical criterion for choosing between the plain self-join and
    the salted path (``skew_salted_join``).

    Exactness: pure integer arithmetic through ``predicted_pairs``
    (n·(n−1) is always even, so integer halving is exact; Spark DIV ≡
    DuckDB //); the two share ratios are single IEEE chains over
    exact integers, pinned DECIMAL(18,6).

    Plan: one scan → hash aggregate on the blocking key (map-side
    partials at 100 TB) → 1-row total broadcast back (scalar cross
    join) → TakeOrdered(10). The audited join's quadratic cost never
    appears in the audit's own plan."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("fanout_lineitem")
    return spark.sql(_fanout_audit_sql("fanout_lineitem", "BIGINT", "DIV"))

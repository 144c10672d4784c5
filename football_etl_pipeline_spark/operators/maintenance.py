"""Warehouse-maintenance operators: MERGE-style batch upsert and
incremental aggregate maintenance — the daily-run surface of a large
warehouse, expressed without any table-format ACID layer (the
reference's only maintenance story is full-table WRITE_TRUNCATE
overwrite, ``/root/reference/dataflow-flex/pipeline.py:53``; these are
the scalable replacements).

The "updates batch" is derived deterministically from ``orders`` so
the operators are self-contained on the testdata: corrections are
rows with ``o_orderkey % 10 = 0`` re-priced +10%, and inserts are
fresh keys offset by 10^7 from rows with ``o_orderkey % 100 = 0``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import query, run_scratch_dir

# Shared batch definitions (dialect-identical SQL fragments).
_CORRECTIONS_W = "o_orderkey % 10 = 0"
_INSERT_SRC_W = "o_orderkey % 100 = 0"
_INSERT_OFFSET = 10_000_000
# Re-price: exact in both engines (decimal multiply, back to double).
_REPRICE_DUCK = "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1.1 AS DOUBLE)"
_REPRICE_SPARK = "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1.1 AS DOUBLE)"

_UPDATES_DUCK = f"""
      SELECT o_orderkey, o_custkey, o_orderstatus,
             {_REPRICE_DUCK} AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE {_CORRECTIONS_W}
      UNION ALL
      SELECT o_orderkey + {_INSERT_OFFSET}, o_custkey, 'N',
             {_REPRICE_DUCK}, o_orderdate, o_orderpriority
      FROM orders WHERE {_INSERT_SRC_W}
"""


def _updates_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    corrections = o.filter(F.expr(_CORRECTIONS_W)).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.expr(_REPRICE_SPARK).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = o.filter(F.expr(_INSERT_SRC_W)).select(
        (F.col("o_orderkey") + _INSERT_OFFSET).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.expr(_REPRICE_SPARK).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    return corrections.unionByName(inserts)


@query(
    "merge_upsert_orders",
    oracle=f"""
    WITH updates AS ({_UPDATES_DUCK})
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
           b.o_totalprice, b.o_orderdate, b.o_orderpriority
    FROM orders b
    WHERE NOT EXISTS (SELECT 1 FROM updates u
                      WHERE u.o_orderkey = b.o_orderkey)
    UNION ALL
    SELECT * FROM updates
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style latest-wins upsert: an updates batch (corrections +
    inserts) applied to the standing ``orders`` table — matched keys
    take the batch row, unmatched base rows survive, new keys append.

    Plan: LEFT ANTI join of base against the batch's keys, then
    ``unionByName`` with the batch — the canonical no-ACID upsert.
    The anti join shuffles on o_orderkey (or broadcasts the key set
    while it fits — AQE decides; no hint, since at 100 TB a daily
    batch can be arbitrarily large). At warehouse scale the refinement
    is partition-scoped rewrite: pre-filter base to the partitions the
    batch touches (here the batch spans all dates, so the full-scan
    shape IS the honest one). Cited contrast: the reference's
    WRITE_TRUNCATE rewrites everything on every run regardless of
    batch size."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    return merge_upsert(base, _updates_batch(spark, sf_dir), "o_orderkey")


def merge_upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Latest-wins MERGE: matched keys take the updates row, unmatched
    base rows survive, new keys append.  Replay-IDEMPOTENT by
    construction — applying the same batch twice displaces the batch's
    own rows and re-adds them, so ``merge(merge(b,u),u) ≡ merge(b,u)``
    (pinned in tests/test_compaction.py)."""
    survivors = base.join(
        updates.select(key), key, "left_anti"
    ).select(*base.columns)
    return survivors.unionByName(updates.select(*base.columns))


@query(
    "incremental_agg_merge",
    oracle=f"""
    WITH updates AS ({_UPDATES_DUCK}),
    merged AS (
      SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
             b.o_totalprice, b.o_orderdate, b.o_orderpriority
      FROM orders b
      WHERE NOT EXISTS (SELECT 1 FROM updates u
                        WHERE u.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT * FROM updates
    )
    SELECT
      o_orderpriority,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM merged
    GROUP BY o_orderpriority
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: per-priority (count, exact
    revenue) kept current under the upsert WITHOUT re-aggregating the
    surviving base rows from scratch conceptually — the standing
    aggregate is adjusted by SUBTRACTING the displaced rows' partials
    and ADDING the batch's.

    Plan: three small aggregates — standing-agg(base), agg(displaced =
    base SEMI batch-keys), agg(batch) — merged by a coalescing
    full-outer on the group key: ``n = n_base − n_displaced + n_batch``
    (decimal sums make the adjustment exact, which the oracle PROVES
    by computing the same numbers via a naive full re-aggregation of
    the merged table). At 100 TB the standing aggregate is a stored
    table and only the two delta aggregates run per batch — that is
    the entire point of the associative decimal-sum form; group-key
    cardinality (5 here) keeps the merge join broadcast-sized."""
    base = load_table(spark, sf_dir, "orders")
    updates = _updates_batch(spark, sf_dir)

    def agg(df: DataFrame, n_col: str, rev_col: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias(n_col),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias(rev_col),
        )

    standing = agg(base, "n_base", "rev_base")
    displaced = agg(
        base.join(updates.select("o_orderkey"), "o_orderkey", "semi"),
        "n_disp",
        "rev_disp",
    )
    batch = agg(updates, "n_batch", "rev_batch")
    merged = (
        standing.join(displaced, "o_orderpriority", "full")
        .join(batch, "o_orderpriority", "full")
        .fillna(
            0,
            subset=["n_base", "n_disp", "n_batch"],
        )
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return merged.select(
        "o_orderpriority",
        (F.col("n_base") - F.col("n_disp") + F.col("n_batch")).alias("n_orders"),
        (
            F.coalesce(F.col("rev_base"), zero)
            - F.coalesce(F.col("rev_disp"), zero)
            + F.coalesce(F.col("rev_batch"), zero)
        )
        .cast("double")
        .alias("revenue"),
    )


# Production compaction target (the cluster default). The registry
# entry passes 1 MiB so local sf dirs actually produce MULTIPLE output
# files and the range-clustering property is observable/testable; on a
# real deployment callers keep the 128 MiB default.
COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def _dir_bytes(path: str) -> int:
    """Total on-disk bytes of a local table dir. Local-FS walk is the
    right tool at local[N]; on a cluster this is one
    ``FileSystem.getContentSummary`` call — same single metadata RPC,
    never a data read."""
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_table(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    cluster_col: str,
    target_bytes: int = COMPACT_TARGET_BYTES,
) -> int:
    """OPTIMIZE-style small-file compaction: rewrite a fragmented
    table dir into ceil(bytes/target) size-targeted files, RANGE
    CLUSTERED on ``cluster_col`` (repartitionByRange + sort within
    partitions), so every output file owns a disjoint key range and
    parquet min/max footer stats prune file-level reads of later
    point/range queries — compaction and data-skipping layout in one
    pass. Returns the output file count.

    Scale notes: the small-files problem is a driver/namenode problem
    before it is a read problem (a 100 TB table left in 10 MB
    fragments is 10M file statuses per scan plan). The rewrite is one
    range-exchange of the table — the same cost as any full-table
    shuffle — and the range boundaries come from Spark's built-in
    reservoir sampling, which handles skewed keys without a custom
    partitioner."""
    import math

    src = spark.read.parquet(src_dir)
    n = max(1, math.ceil(_dir_bytes(src_dir) / target_bytes))
    (
        src.repartitionByRange(n, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
    import os

    return len(
        [
            f
            for f in os.listdir(dst_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        ]
    )


@query(
    "compact_small_files",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face of ``compact_table``: fragment ``orders`` into 64
    small files (the simulated streaming-ingest debris), compact them
    with a 1 MiB local target, and return the compacted table read
    back — the oracle is the ORIGINAL table, because the entire
    correctness contract of compaction is content-losslessness (same
    rows, nothing dropped, nothing duplicated, under a full rewrite +
    reorder). File-count and range-disjointness properties are pinned
    in tests/test_compaction.py; they are filesystem facts DuckDB
    can't see.

    Work dirs are per-invocation unique (``run_scratch_dir``) —
    concurrent gate + bench runs can't race, stale dirs are swept."""
    import os

    orders = load_table(spark, sf_dir, "orders")
    root = run_scratch_dir("compact", sf_dir)
    frag, dst = os.path.join(root, "frag"), os.path.join(root, "compact")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    compact_table(spark, frag, dst, "o_orderkey", target_bytes=1024 * 1024)
    return spark.read.parquet(dst).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )


# CDC demo delete rule, applied to the NEW snapshot: independent of
# the correction/insert rules on purpose — a key can be corrected AND
# deleted (e.g. 100: %10=0 and %97=3); the diff must classify by the
# snapshots alone, not by upstream batch provenance.
_DELETE_W = "o_orderkey % 97 = 3"

_MERGED_DUCK = f"""
      SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
             b.o_totalprice, b.o_orderdate, b.o_orderpriority
      FROM orders b
      WHERE NOT EXISTS (SELECT 1 FROM updates u
                        WHERE u.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT * FROM updates
"""


@query(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH updates AS ({_UPDATES_DUCK}),
    merged AS ({_MERGED_DUCK}),
    new_snap AS (SELECT * FROM merged WHERE NOT ({_DELETE_W}))
    SELECT
      CASE WHEN o.o_orderkey IS NULL THEN 'insert'
           WHEN n.o_orderkey IS NULL THEN 'delete'
           ELSE 'update' END AS change_type,
      COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      o.o_totalprice AS old_totalprice,
      n.o_totalprice AS new_totalprice,
      o.o_orderstatus AS old_status,
      n.o_orderstatus AS new_status
    FROM orders o
    FULL JOIN new_snap n ON n.o_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diff: given two versions of a
    table (here: ``orders`` and the post-merge snapshot minus a
    delete rule), emit the exact change feed — insert / update /
    delete rows with old+new values — the diff a warehouse publishes
    downstream when the upstream gives it snapshots instead of a log
    (and the inverse face of ``merge_upsert_orders``, which CONSUMES
    such a feed).

    Plan: ONE full-outer shuffle join on the key, classification and
    change detection as null-safe column predicates
    (``IS DISTINCT FROM`` — so NULL-valued columns diff correctly),
    no window, no distinct. At 100 TB both snapshots shuffle once on
    o_orderkey; if the table is bucketed/partition-clustered on the
    key (see ``compact_table``) the exchange drops out entirely.
    Unchanged rows die in the post-join filter, so the emitted feed is
    O(changes), not O(table)."""
    base = load_table(spark, sf_dir, "orders")
    merged = merge_upsert_orders(spark, sf_dir)
    new_snap = merged.filter(~F.expr(_DELETE_W))
    o = base.alias("o")
    n = new_snap.alias("n")
    oc, nc = (lambda c: F.col("o." + c)), (lambda c: F.col("n." + c))
    return (
        o.join(n, oc("o_orderkey") == nc("o_orderkey"), "full")
        .filter(
            oc("o_orderkey").isNull()
            | nc("o_orderkey").isNull()
            | ~oc("o_totalprice").eqNullSafe(nc("o_totalprice"))
            | ~oc("o_orderstatus").eqNullSafe(nc("o_orderstatus"))
        )
        .select(
            F.when(oc("o_orderkey").isNull(), "insert")
            .when(nc("o_orderkey").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.coalesce(oc("o_orderkey"), nc("o_orderkey")).alias(
                "o_orderkey"
            ),
            oc("o_totalprice").alias("old_totalprice"),
            nc("o_totalprice").alias("new_totalprice"),
            oc("o_orderstatus").alias("old_status"),
            nc("o_orderstatus").alias("new_status"),
        )
    )


# ---- Z-order clustering (multi-dimensional data skipping) ------------

ZORDER_BITS = 16


def zorder_key(x: str, y: str) -> F.Column:
    """Interleaved-bit Morton key over two ALREADY-NORMALIZED
    {ZORDER_BITS}-bit integer columns — pure built-in expressions
    (aggregate over bit positions), whole-stage-codegen'd, no UDF."""
    return F.expr(
        f"aggregate(sequence(0, {ZORDER_BITS - 1}), 0L, (acc, i) -> "
        f"acc + shiftleft(({x} >> i) & 1, 2*i)"
        f"    + shiftleft(({y} >> i) & 1, 2*i + 1))"
    )


def zorder_cluster_table(
    spark: SparkSession,
    df: DataFrame,
    dst_dir: str,
    col_x: str,
    col_y: str,
    n_files: int,
) -> None:
    """Rewrite ``df`` into ``n_files`` parquet files range-clustered on
    the Z-order (Morton) interleave of two key columns. Linear range
    clustering gives file-level min/max skipping on ONE column and
    leaves the other's per-file range global; the Z-curve keeps BOTH
    dimensions locally narrow, so parquet footer stats prune files for
    point/box predicates on either column — the layout behind
    Delta/Iceberg OPTIMIZE ZORDER, built from repartitionByRange +
    sortWithinPartitions on a computed key.

    Keys are normalized to the {ZORDER_BITS}-bit grid by min/max
    scaling; the two scalar bounds ride in as a broadcast 1-row frame
    (no collect — the plan stays fully distributed, the same pattern
    as the unigram-LM corpus total)."""
    bounds = df.agg(
        F.min(col_x).alias("_xmin"),
        F.max(col_x).alias("_xmax"),
        F.min(col_y).alias("_ymin"),
        F.max(col_y).alias("_ymax"),
    )
    top = (1 << ZORDER_BITS) - 1
    norm = df.crossJoin(F.broadcast(bounds))
    scale = (
        lambda c, lo, hi: (
            (F.col(c) - F.col(lo))
            * top
            / F.greatest(F.col(hi) - F.col(lo), F.lit(1))
        ).cast("long")
    )
    keyed = norm.withColumn("_nx", scale(col_x, "_xmin", "_xmax")).withColumn(
        "_ny", scale(col_y, "_ymin", "_ymax")
    )
    keyed = keyed.withColumn("_z", zorder_key("_nx", "_ny"))
    (
        keyed.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_xmin", "_xmax", "_ymin", "_ymax", "_nx", "_ny", "_z")
        .write.mode("overwrite")
        .parquet(dst_dir)
    )


ZORDER_FILES = 16
_ZORDER_COLS = (
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_suppkey",
    "l_extendedprice",
)


@query(
    "compact_zorder",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           l_extendedprice
    FROM lineitem
    """,
)
def compact_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face of ``zorder_cluster_table``: rewrite lineitem's
    join-key projection Z-clustered on (l_partkey, l_suppkey) and read
    it back. The oracle is the ORIGINAL projection — as with
    ``compact_small_files``, the correctness contract of a layout
    rewrite is content-losslessness under full reshuffle; the
    multi-dimensional skipping property (per-file min/max narrow in
    BOTH keys, box-predicate file pruning) is a filesystem fact pinned
    by tests/test_compaction.py::test_zorder_skips_on_both_dimensions.

    Scale: one range exchange on the computed Morton key — identical
    shuffle cost to linear clustering; the curve computation itself is
    a per-row codegen expression."""
    import os

    li = load_table(spark, sf_dir, "lineitem").select(*_ZORDER_COLS)
    dst = os.path.join(run_scratch_dir("zorder", sf_dir), "zorder")
    zorder_cluster_table(spark, li, dst, "l_partkey", "l_suppkey", ZORDER_FILES)
    return spark.read.parquet(dst).select(*_ZORDER_COLS)


# ---- versioned-table time travel (manifest format, oracled) -----------


@query(
    "versioned_orders_diff",
    oracle=f"""
    SELECT 'insert' AS change,
           o_orderkey + {_INSERT_OFFSET} AS o_orderkey
    FROM orders WHERE {_INSERT_SRC_W}
    """,
)
def versioned_orders_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest table format driven end-to-end AS a query: commit
    ``orders`` as version 1 of a versioned table
    (``sources/versioned_table.py``), commit the merge-upserted state
    as version 2 (overwrite — old files stay for time travel), then
    emit the key-level change feed BETWEEN the two committed
    snapshots. The oracle knows the answer independently: the upsert
    only ever inserts the offset keys (corrections change values, not
    keys), so the diff must be exactly those inserts — which makes the
    whole commit/read/time-travel protocol oracle-gated, not just
    unit-tested (``tests/test_versioned_table.py`` covers isolation,
    conflicts, and vacuum).

    Scale: both commits are straight parquet writes (no history
    rewrite — version 2 references new files only because it IS an
    overwrite; an append would carry v1's by reference), and the diff
    is one full-outer join on the key."""
    from ..sources.versioned_table import commit_version, snapshot_diff

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    merged = merge_upsert(base, _updates_batch(spark, sf_dir), "o_orderkey")
    root = run_scratch_dir("versioned", sf_dir)
    commit_version(base, root, "append")
    commit_version(merged, root, "overwrite")
    return snapshot_diff(spark, root, 1, 2, "o_orderkey")


# schema-evolution axis of the versioned table: v2's new column is a
# derived channel label so the oracle can predict every value; % 3
# splits rows between the pre- and post-evolution commits
_EVO_V1_W = "o_orderkey % 3 <> 0"
_EVO_V2_W = "o_orderkey % 3 = 0"


@query(
    "versioned_schema_evolution",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE {_EVO_V1_W}
    ),
    v2new AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority AS o_channel
      FROM orders WHERE {_EVO_V2_W}
    ),
    current_t AS (
      SELECT CAST(NULL AS VARCHAR) AS o_channel, o_totalprice FROM v1
      UNION ALL
      SELECT o_channel, o_totalprice FROM v2new
    )
    SELECT 'v1' AS snapshot, CAST(NULL AS VARCHAR) AS o_channel,
           COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM v1
    UNION ALL
    SELECT 'current' AS snapshot, o_channel,
           COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM current_t
    GROUP BY o_channel
    """,
)
def versioned_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-column schema evolution on the versioned table, driven
    end-to-end AS a query: commit a 2-column orders slice as v1, then
    APPEND a batch that carries a new ``o_channel`` column — a
    metadata-only evolution (``_merge_schemas``: v1's files are
    carried by reference, never rewritten) — and read BOTH snapshots.
    Time travel to v1 must see the narrow 2-column schema; the
    current read resolves every file against the merged manifest
    schema, so v1-era rows NULL-fill ``o_channel`` deterministically
    (footer inference would return whichever file's schema Spark
    sampled first). The oracle predicts both reads from the raw
    orders table: the v1 aggregate, plus the current per-channel
    aggregate whose NULL-channel group must exactly equal the v1-era
    rows — a reader that drops, mis-fills, or re-infers the evolved
    column breaks the count or the hash. Mirrors for the manifest
    format what ``scan_parquet_schema_evolution`` proves for raw
    scans.

    Scale: both commits are straight parquet writes; evolution cost
    is one manifest rewrite regardless of table size — exactly why
    lakehouse formats make add-column free at 100 TB."""
    from ..sources.versioned_table import commit_version, read_version

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.expr(_EVO_V1_W)).select(
        "o_orderkey", "o_totalprice"
    )
    batch = orders.filter(F.expr(_EVO_V2_W)).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderpriority").alias("o_channel"),
    )
    root = run_scratch_dir("versioned_evo", sf_dir)
    commit_version(v1, root, "append")
    commit_version(batch, root, "append")
    snap1 = read_version(spark, root, 1)
    if "o_channel" in snap1.columns:  # time travel: narrow schema
        # loud failure (not assert — stripped under python -O): the
        # oracle hash can't see snap1's column list, so this is the
        # one place the v1-read property is checked
        raise RuntimeError(
            "versioned time travel leaked the evolved o_channel "
            "column into the v1 snapshot schema"
        )
    cur = read_version(spark, root, 2)
    money = (
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue")
    )
    v1_agg = snap1.agg(
        F.count(F.lit(1)).alias("n_orders"), money
    ).select(
        F.lit("v1").alias("snapshot"),
        F.lit(None).cast("string").alias("o_channel"),
        "n_orders",
        "revenue",
    )
    cur_agg = (
        cur.groupBy("o_channel")
        .agg(F.count(F.lit(1)).alias("n_orders"), money)
        .select(
            F.lit("current").alias("snapshot"),
            "o_channel",
            "n_orders",
            "revenue",
        )
    )
    return v1_agg.unionAll(cur_agg)


@query(
    "scan_orc_partitioned",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def scan_orc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format + partition-discovery round-trip: land ``orders``
    as an ORC table partitioned by ``o_orderpriority``, read it back
    through partition discovery, and aggregate one priority — the
    oracle is the same aggregate on the parquet original, so the
    contract is LOSSLESS format round-trip + correct partition
    pruning (only the 1-URGENT directory is listed; the plan carries
    it as a PartitionFilter, not a row filter). Completes the format
    matrix (parquet/json/csv/custom DataSource → +ORC, the other
    columnar format Spark ships built-in; Avro needs an external
    package, documented out of scope).

    Scale note: partition-by-priority is the demo axis; a production
    table partitions by date and the same pruning machinery turns a
    100 TB scan into one partition's worth of I/O."""
    import os

    orders = load_table(spark, sf_dir, "orders")
    root = run_scratch_dir("orc", sf_dir)
    dst = os.path.join(root, "orders_orc")
    (
        orders.write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .orc(dst)
    )
    back = spark.read.orc(dst)
    return (
        back.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---- right-to-be-forgotten erasure (oracle-gated delete path) ----------

# The erasure cohort: a contiguous customer-key range so the manifest's
# per-file min/max stats can bound the rewrite set (GDPR requests
# arrive as key SETS; a curation warehouse batches them into the
# key-sorted ranges this demonstrates — same mechanics, one commit).
_FORGET_LO = 100
_FORGET_HI = 199
_FORGET_FILES = 8


@query(
    "versioned_forget_customers",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE o_custkey NOT BETWEEN {_FORGET_LO} AND {_FORGET_HI}
    GROUP BY o_orderstatus
    """,
)
def versioned_forget_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-be-forgotten erasure driven end-to-end AS a query:
    commit ``orders`` range-clustered on ``o_custkey`` as version 1 of
    a versioned table, erase the requested customer-key range with the
    copy-on-write ``delete_where`` (footer min/max stats carry
    non-intersecting files BY REFERENCE — only files whose key range
    overlaps the cohort are read and rewritten), then aggregate the
    post-erasure snapshot. The oracle recomputes the answer
    independently from the raw parquet (everything NOT in the cohort),
    so the gate verifies the rows are truly gone AND no bystander row
    was lost — the two failure modes of a stats-pruned delete
    (``sources/versioned_table.py:224``; exactness-gated string stats
    per ADVICE r8). tests/test_versioned_table.py pins the mechanics
    (carried-by-reference set nonempty, pre-delete version still
    readable for audit until vacuum).

    Scale: the range-clustered write is one range exchange; the delete
    reads only intersecting files (at 100 TB with date- or
    key-clustered layout that is the cohort's files, not the table),
    and the final aggregate is an ordinary partial+final hash agg."""
    from ..sources.versioned_table import (
        commit_version,
        delete_where,
        read_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    clustered = orders.repartitionByRange(_FORGET_FILES, "o_custkey")
    root = run_scratch_dir("forget", sf_dir)
    commit_version(clustered, root, "append")
    delete_where(spark, root, "o_custkey", _FORGET_LO, _FORGET_HI)
    latest = read_version(spark, root)
    return latest.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "scan_text_log_parse",
    oracle="""
    SELECT event_type,
           COUNT(*)::BIGINT AS n_events,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           MAX(event_id)::BIGINT AS max_event_id
    FROM events
    GROUP BY event_type
    """,
)
def scan_text_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text format + regex-parse round-trip — the classic
    semi-structured log-ETL shape: render events as log LINES
    (``type=... user=... id=...``), land them with the text sink
    (one string column, newline-delimited), read them back with the
    text source, re-extract the fields with ``regexp_extract``, and
    aggregate. The oracle is the same aggregate on the original
    parquet, so the contract is LOSSLESS line round-trip + correct
    regex parse — exactly what a 100 TB raw-log ingest must get right
    before anything else runs. Completes the built-in format matrix
    with the last built-in Spark format (parquet/json/csv/ORC/custom
    DataSource → +text).

    Scale: the write is an embarrassingly parallel line render (one
    codegen projection, no shuffle); the read-back parse is three
    regexp_extract expressions in the scan projection; the aggregate
    is partial+final. Regex stays JVM-side — no Python in the row
    path."""
    import os

    ev = load_table(spark, sf_dir, "events").select(
        F.concat(
            F.lit("type="),
            F.col("event_type"),
            F.lit(" user="),
            F.col("user_id").cast("string"),
            F.lit(" id="),
            F.col("event_id").cast("string"),
        ).alias("value")
    )
    root = run_scratch_dir("textlog", sf_dir)
    dst = os.path.join(root, "events_log")
    ev.write.mode("overwrite").text(dst)
    back = spark.read.text(dst)
    parsed = back.select(
        F.regexp_extract("value", r"type=(\S+)", 1).alias("event_type"),
        F.regexp_extract("value", r"user=(\d+)", 1)
        .cast("bigint")
        .alias("user_id"),
        F.regexp_extract("value", r"id=(\d+)", 1)
        .cast("bigint")
        .alias("event_id"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.max("event_id").alias("max_event_id"),
    )


# ---- incremental JOIN-view maintenance (delta + retraction) ------------


@query(
    "incremental_join_view_merge",
    oracle=f"""
    WITH updates AS ({_UPDATES_DUCK}),
    merged AS (
      SELECT b.o_orderkey, b.o_custkey, b.o_totalprice
      FROM orders b
      WHERE NOT EXISTS (SELECT 1 FROM updates u
                        WHERE u.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice FROM updates
    )
    SELECT c.c_nationkey,
           COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(m.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM merged m JOIN customer c ON c.c_custkey = m.o_custkey
    GROUP BY c.c_nationkey
    """,
)
def incremental_join_view_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of a JOIN view under the
    delta-with-RETRACTIONS model — the capability class beyond
    ``incremental_agg_merge`` (single-table aggregate IVM): the
    standing view is per-nation order count + revenue over
    orders ⋈ customer, MATERIALIZED to parquet; the nightly batch
    (corrections + inserts) is folded in WITHOUT recomputing the view:
    each correction contributes (+new − old) — a zero count delta and
    an exact decimal revenue delta — and each insert (+1, +new); the
    delta group is joined to customer once and merged into the
    standing state by a full-outer coalesce-sum. The oracle recomputes
    the view FROM SCRATCH over the upserted table, so the gate proves
    the algebraic identity IVM ≡ full recompute (the dbt/Materialize
    correctness bar) — including the retraction arithmetic, which a
    plain additive merge gets wrong on every correction.

    Exactness: all deltas are DECIMAL(18,6); the correction delta is
    new − old = 0.1 × old computed in decimal, so the incremental sum
    is bit-equal to the recompute, not approximately equal.

    Scale: the standing view is |nations| rows; the per-batch work is
    |Δ| (scan the batch, one broadcast-ish join to customer, one tiny
    merge) — independent of |orders|, which is the entire point of
    IVM at 100 TB."""
    import os

    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    # 1. Materialize the standing view (the "yesterday" state).
    view = (
        o.join(cust, o["o_custkey"] == cust["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).alias("revenue"),
        )
    )
    root = run_scratch_dir("ivm", sf_dir)
    dst = os.path.join(root, "nation_view")
    view.write.mode("overwrite").parquet(dst)
    standing = spark.read.parquet(dst)
    # 2. Delta stream with retractions, derived from the batch alone.
    corrections = o.filter(F.expr(_CORRECTIONS_W)).select(
        "o_custkey",
        F.lit(0).cast("bigint").alias("d_n"),
        (F.expr(_REPRICE_SPARK).cast("decimal(18,6)")
         - dec("o_totalprice")).alias("d_rev"),
    )
    inserts = o.filter(F.expr(_INSERT_SRC_W)).select(
        "o_custkey",
        F.lit(1).cast("bigint").alias("d_n"),
        F.expr(_REPRICE_SPARK).cast("decimal(18,6)").alias("d_rev"),
    )
    deltas = (
        corrections.unionByName(inserts)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.sum("d_n").alias("d_n"),
            F.sum("d_rev").alias("d_rev"),
        )
    )
    # 3. Merge: full-outer coalesce-sum on the view key.
    s = standing.alias("s")
    d = deltas.alias("d")
    return (
        s.join(d, F.col("s.c_nationkey") == F.col("d.c_nationkey"), "full")
        .select(
            F.coalesce(F.col("s.c_nationkey"), F.col("d.c_nationkey"))
            .alias("c_nationkey"),
            (
                F.coalesce(F.col("s.n_orders"), F.lit(0))
                + F.coalesce(F.col("d.d_n"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("s.revenue"), F.lit(0).cast("decimal(18,6)"))
                + F.coalesce(F.col("d.d_rev"), F.lit(0).cast("decimal(18,6)"))
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "scan_parquet_schema_evolution",
    oracle="""
    SELECT
      COUNT(*)::BIGINT AS n_rows,
      SUM(CASE WHEN o_orderpriority = '1-URGENT'
               THEN 0 ELSE 1 END)::BIGINT AS n_with_status,
      SUM(CASE WHEN o_orderpriority = '1-URGENT'
               THEN 1 ELSE 0 END)::BIGINT AS n_null_status,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        AS revenue,
      CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 0
               ELSE CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE)
        AS revenue_with_status
    FROM orders
    """,
)
def scan_parquet_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet SCHEMA EVOLUTION round-trip: land ``orders`` in two
    generations — generation 1 (the urgent orders) with the original
    narrow schema (key + price), generation 2 (everything else) after
    the table grew ``o_orderstatus`` and ``o_orderdate`` columns —
    then read the directory with ``mergeSchema=true`` and aggregate.
    The union-by-name semantics every long-lived lake table depends
    on: old files surface the new columns as NULLs, no rewrite of
    generation-1 files. The oracle derives every expected number from
    the parquet original (urgent rows are exactly the narrow-schema
    generation), so the gate proves rows survived, columns aligned by
    NAME (not position), and NULL-fill hit exactly the old files.

    Scale: mergeSchema reconciles footers at planning time (one
    metadata pass over file schemas — on a 100 TB table you enable it
    per-read or pin the merged schema in a catalog; the data files
    are never rewritten either way).

    Plan: two straight parquet writes, one merged scan, one
    single-row aggregate."""
    import os

    orders = load_table(spark, sf_dir, "orders")
    root = run_scratch_dir("schevo", sf_dir)
    dst = os.path.join(root, "orders_evo")
    gen1 = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_totalprice")
    gen2 = orders.filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate")
    gen1.write.mode("append").parquet(dst)
    gen2.write.mode("append").parquet(dst)
    back = spark.read.option("mergeSchema", "true").parquet(dst)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderstatus").isNotNull(), 1).otherwise(0)
        ).alias("n_with_status"),
        F.sum(
            F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)
        ).alias("n_null_status"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
        F.sum(
            F.when(
                F.col("o_orderstatus").isNotNull(),
                F.col("o_totalprice").cast("decimal(18,6)"),
            ).otherwise(F.lit(0).cast("decimal(18,6)"))
        )
        .cast("double")
        .alias("revenue_with_status"),
    )


# ---- snapshot retention expiry (vacuum) -------------------------------


@query(
    "versioned_retention_expiry",
    oracle=f"""
    WITH updates AS ({_UPDATES_DUCK}),
    merged AS (
      SELECT b.o_orderkey, b.o_totalprice, b.o_orderpriority
      FROM orders b
      WHERE NOT EXISTS (SELECT 1 FROM updates u
                        WHERE u.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM updates
    ),
    latest AS (
      SELECT * FROM merged WHERE o_orderpriority <> '5-LOW'
    )
    SELECT CAST(3 AS BIGINT) AS n_versions_before,
           CAST(2 AS BIGINT) AS n_versions_after,
           (SELECT COUNT(*)::BIGINT FROM latest) AS n_rows_latest,
           CAST((SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                 AS DOUBLE) FROM latest) AS DOUBLE) AS revenue_latest,
           (SELECT COUNT(*)::BIGINT FROM merged) AS n_rows_prev
    """,
)
def versioned_retention_expiry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot retention driven end-to-end AS a query: commit three
    versions of the orders table (v1 base load, v2 merge-upsert
    overwrite, v3 retention-delete of the '5-LOW' slice), VACUUM to
    the newest two, and report the state a warehouse SLA dashboard
    watches — versions before/after expiry, the latest snapshot's
    row count and exact revenue, and the still-time-travelable
    previous version's row count. The oracle derives every number
    independently from the same update/delete rules, so the whole
    commit → delete_where → vacuum → time-travel-read protocol is
    oracle-gated (file-level effects — orphan removal, manifest
    drops — are pinned in ``tests/test_versioned_table.py``; row
    counts here are the engine-visible contract).

    Plan: three straight parquet commits (no history rewrite), one
    manifest-only vacuum (driver-side file ops on a bounded
    manifest list), then two snapshot reads feeding 1-row
    aggregates."""
    from ..sources.versioned_table import (
        commit_version,
        delete_where,
        read_version,
        vacuum,
        versions,
    )

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    merged = merge_upsert(base, _updates_batch(spark, sf_dir), "o_orderkey")
    root = run_scratch_dir("retention", sf_dir)
    commit_version(base, root, "append")
    commit_version(merged, root, "overwrite")
    delete_where(spark, root, "o_orderpriority", "5-LOW", "5-LOW")
    n_before = len(versions(root))
    vacuum(root, keep=2)
    vs = versions(root)
    latest = read_version(spark, root, vs[-1])
    prev = read_version(spark, root, vs[-2])
    lat = latest.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_latest"),
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("revenue_latest"),
    )
    prv = prev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_prev")
    )
    return lat.crossJoin(F.broadcast(prv)).select(
        F.lit(n_before).cast("bigint").alias("n_versions_before"),
        F.lit(len(vs)).cast("bigint").alias("n_versions_after"),
        "n_rows_latest",
        "revenue_latest",
        "n_rows_prev",
    )


# ---- bucketed physical layout: shuffle-free fact⋈fact join ---------------
#
# The one big physical-layout pattern left after compaction/Z-order/
# versioning: pre-bucketing the fact tables on their join key so that
# REPEATED large joins on that key never shuffle again. Spark's
# bucketed managed tables carry hash(bucket_cols) partitioning as scan
# metadata; a SortMergeJoin between two tables bucketed the same way
# (same key, same bucket count) plans with ZERO Exchange on either
# side — the join cost is a per-bucket merge, amortized across every
# downstream query that joins on the key. At 100 TB this is the
# difference between paying a full-table shuffle per run and paying
# it ONCE at ingest.

_BKT_N = 16


@query(
    "join_bucketed_no_shuffle",
    oracle="""
    WITH per_o AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             COUNT(*)::BIGINT AS n_lines,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(18,6))) AS rev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    )
    SELECT o_orderpriority,
           COUNT(*)::BIGINT AS n_orders,
           SUM(n_lines)::BIGINT AS n_lines,
           CAST(SUM(rev) AS DOUBLE) AS revenue
    FROM per_o
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join over BUCKETED managed tables:
    orders and lineitem are written once with
    ``bucketBy({_BKT_N}, orderkey).sortBy(orderkey)`` (the
    ``write_bucketed_table`` connector), read back through the
    catalog, and merge-joined on the bucket key — Catalyst reads the
    bucket metadata off both scans and plans the join with NO
    Exchange on either side (plan-pinned in
    tests/test_plan_shapes.py). The per-order aggregate that follows
    groups on (orderkey, priority) — a superset of the bucket key —
    so it TOO rides the bucketed partitioning exchange-free; only the
    final 5-row priority rollup shuffles (tiny partials). The merge
    hint forces the SMJ path so a small-SF broadcast can't mask the
    property being demonstrated.

    Scale: bucket count is a write-time dial (production: thousands);
    the write pays one shuffle-by-key, after which EVERY orderkey
    join/aggregate over the table is bucket-local. The oracle
    predicts the same rollup from the raw tables — bucketing must be
    a pure physical transform, invisible in values."""
    import os
    import uuid

    from ..sources.connectors import write_bucketed_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    run = f"{os.getpid()}_{uuid.uuid4().hex[:8]}"
    t_ord, t_li = f"bkt_orders_{run}", f"bkt_lineitem_{run}"
    # external tables rooted in the atexit-cleaned scratch dir: the
    # catalog entries die with the session, the files at exit
    root = run_scratch_dir("bucketed", sf_dir)
    write_bucketed_table(orders, t_ord, ["o_orderkey"], _BKT_N,
                         sort_cols=["o_orderkey"],
                         path=os.path.join(root, t_ord))
    write_bucketed_table(li, t_li, ["l_orderkey"], _BKT_N,
                         sort_cols=["l_orderkey"],
                         path=os.path.join(root, t_li))
    joined = spark.table(t_ord).hint("merge").join(
        spark.table(t_li),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    per_o = joined.groupBy("o_orderkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,6)")
        ).alias("rev"),
    )
    return per_o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum("rev").cast("double").alias("revenue"),
    )

"""Central registry mapping operator names to Spark callables and
DuckDB oracle SQL.

The driver harness (``/root/repo/__spark_entry__.py``) runs each
``QUERIES[name](spark, sf_dir)`` AND the matching ``ORACLES[name]``
via DuckDB on the same parquet, then compares row-count + schema +
order-insensitive value-hash. Two rules every operator follows:

1. **Column names match** — every computed column is aliased
   identically in the Spark code and the SQL.
2. **Values are bit-deterministic** — double aggregation order differs
   between engines, so money-style sums go through DECIMAL(18,N)
   (exact, order-insensitive) and are cast back to DOUBLE; scores from
   float math are rounded to a fixed scale in BOTH engines.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# ---- cached-state lifecycle -----------------------------------------
#
# Several operators persist() an intermediate frame that multiple plan
# subtrees read (shingle sets, simhash values, IVF affinities). The
# persist must outlive the operator function — the caller triggers the
# action later — so a try/finally inside the operator would defeat it.
# Operators call plain ``.persist()``/``.cache()``, and Spark's own
# CacheManager is the only record of what a query cached: harnesses
# (bench, verify, the driver adapter) call release_checkpoints(spark)
# once the previous query's action has run. Without this, a long
# session accumulates cached frames and later queries pay the
# memory/GC bill (measured 2.4× inflation on BENCH_r02 tail queries).


def release_persists(spark: SparkSession | None = None) -> int:
    """Clear the CacheManager of ``spark`` (default: this thread's
    active session); returns how many persistent RDDs that freed, 0
    when there is no session.

    The cache half of ``release_checkpoints``: it drops every cached
    frame, whichever code path cached it, without blocking — the same
    release semantics as ``df.unpersist()``. Safe to call at any point
    where no returned-but-unexecuted plan still needs the cache (i.e.
    after the previous query's action)."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return 0
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    return before - jsc.getPersistentRDDs().size()


def release_checkpoints(spark) -> int:
    """The one release call every harness surface makes between
    queries: clear the CacheManager first (so it drops its frames
    instead of keeping stale entries whose RDDs are gone), then
    blocking-unpersist every remaining persistent RDD. Those are mostly
    ``localCheckpoint`` blocks, which no cached frame owns and which
    otherwise die only when the async ContextCleaner gets to them
    after a driver GC (r16 finding: dead checkpoint blocks from a
    query's prior runs raced the next run's executors —
    ``dedup_semantic_incremental`` measured 3.3 → 7.0 → 22.8 s across
    three back-to-back identical runs).

    ONLY call between queries when no returned-but-unexecuted plan is
    still alive: a localCheckpointed frame's lineage is truncated, so
    unpersisting it makes any later action on it fail loudly (which is
    the correct failure mode for a harness bug, not silent recompute).
    Returns how many persistent RDDs were released."""
    n = release_persists(spark)
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)
        n += 1
    return n


def run_scratch_dir(kind: str, sf_dir: str) -> str:
    """Per-invocation scratch root for operators whose returned frame
    reads files they wrote (table rewrites, stream-maintained state).

    Unique per call (pid + uuid4) so concurrent runs — e.g. a gate
    sweep and a bench on the same machine — never race on a shared
    directory mid-rewrite, and registered for atexit removal (the
    returned DataFrame reads the directory LAZILY, so cleanup cannot
    happen before the caller's action; process exit is the earliest
    safe point). Stale siblings from CRASHED runs are swept
    best-effort on each call so the temp root doesn't accumulate —
    but only dirs whose embedded owner pid is dead: a dir's mtime is
    set at creation, and a long gate sweep (>1 h) plus a late-started
    bench would otherwise let the bench delete the live sweep's
    scratch before its lazy DataFrame is re-read. The age threshold
    is a second gate for dirs from a rebooted machine where the pid
    was recycled."""
    base = os.path.join(tempfile.gettempdir(), "spark_graft_scratch")
    os.makedirs(base, exist_ok=True)
    now = time.time()
    me = os.getpid()
    for entry in os.listdir(base):
        p = os.path.join(base, entry)
        # layout: <kind>-<sf>-<pid>-<uuid8>; sweep only if the owning
        # process is gone (or the name predates the pid scheme)
        parts = entry.rsplit("-", 2)
        owner = int(parts[1]) if len(parts) == 3 and parts[1].isdigit() else None
        if owner is not None:
            if owner == me:
                continue
            try:
                os.kill(owner, 0)
                continue  # owner alive — never touch its scratch
            except ProcessLookupError:
                pass  # owner dead — eligible
            except PermissionError:
                continue  # alive, other user
        try:
            if now - os.path.getmtime(p) > 3600:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    root = os.path.join(
        base,
        f"{kind}-{os.path.basename(os.path.normpath(sf_dir))}"
        f"-{os.getpid()}-{uuid.uuid4().hex[:8]}",
    )
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query operator and its oracle. A module
    may pass ``oracle=None`` and set ``ORACLES[name]`` itself later;
    ``finalize_order`` requires every query to have one."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The exact 50-key window the driver verified in CORRECTNESS_r04, in
# order. The driver's per-round correctness check runs the FIRST 50
# keys of queries() — so this prefix is part of the external contract,
# not an implementation detail. Operators register at import time in
# module/source order, which would make the prefix drift whenever a
# new query lands in an early module; finalize_order() (called once
# after all operator modules import) rebuilds the dicts with this
# window first and everything else in registration order after it,
# decoupling source layout from the driver contract.
# tests/test_testdata_schema.py holds an independent frozen copy.
DRIVER_WINDOW_R04: tuple[str, ...] = (
    "q1_pricing_summary", "scan_filter_project", "agg_stats_by_segment",
    "distinct_values", "orderby_limit_topk", "agg_exact_percentiles",
    "q6_forecast_revenue", "q14_promo_revenue_share", "q3_shipping_priority",
    "q5_local_supplier_volume", "join_left_nulls", "join_full_outer",
    "join_semi_active_customers", "join_anti_unshipped", "join_right_parts",
    "join_range_price_bands", "join_asof_last_purchase",
    "q19_disjunctive_predicates", "window_topk_per_group",
    "window_rank_family", "window_running_total", "window_lag_lead_delta",
    "window_moving_avg", "window_first_last_nth", "window_range_frame_30d",
    "setop_priority_overlap", "setop_except_all", "setop_union_distinct",
    "setop_union_all_counts", "rollup_revenue", "cube_order_matrix",
    "grouping_sets_custom", "pivot_events_by_type", "unpivot_part_metrics",
    "scalar_string_funcs", "scalar_date_funcs", "scalar_math_funcs",
    "scalar_conditional", "scalar_array_funcs", "scalar_json_funcs",
    "posexplode_name_words", "scalar_map_funcs", "scalar_regex_funcs",
    "events_by_hour", "events_sessionize", "events_windowed_funnel",
    "events_daily_retention", "events_approx_distinct",
    "events_multi_rollup", "events_anomaly_zscore",
)


def finalize_order() -> None:
    """Reorder QUERIES/ORACLES so the frozen driver window is the
    first 50 keys regardless of which source module a later query
    was added to. Idempotent; raises if a window key is missing
    (deleting a window query IS a contract break and must be loud) or
    if a query has no oracle (every query is checked against DuckDB)."""
    missing = [k for k in DRIVER_WINDOW_R04 if k not in QUERIES]
    if missing:
        raise RuntimeError(
            f"frozen driver-window queries missing from registry: {missing}"
        )
    unoracled = [k for k in QUERIES if k not in ORACLES]
    if unoracled:
        raise RuntimeError(f"queries registered without an oracle: {unoracled}")
    rest = [k for k in QUERIES if k not in DRIVER_WINDOW_R04]
    for mapping in (QUERIES, ORACLES):
        ordered = {k: mapping[k] for k in (*DRIVER_WINDOW_R04, *rest)}
        mapping.clear()
        mapping.update(ordered)

"""Event-stream analytics (batch form): time bucketing, sessionization,
funnels, retention — the query surface the `events` table exists for.
The streaming twins (watermarked, incremental) live in
``football_etl_pipeline_spark.streaming``.

Sessionization uses the lag-gap + running-sum pattern: one shuffle on
user_id, one in-partition sort — linear at any scale, no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum
from ..session import local_frame
from ..sources.testdata import load_table
from .registry import query

SESSION_GAP_SEC = 1800  # 30 min


@query(
    "events_by_hour",
    oracle="""
    SELECT
      CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
      event_type,
      COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming
    windowed agg)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "events_sessionize",
    oracle=f"""
    WITH seq AS (
      SELECT
        user_id,
        event_id,
        CAST(ts AS TIMESTAMP) AS ts,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR date_diff('second', LAG(CAST(ts AS TIMESTAMP)) OVER w, CAST(ts AS TIMESTAMP)) > {SESSION_GAP_SEC}
             THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT
        user_id,
        event_id,
        SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS session_id
      FROM seq
    )
    SELECT
      user_id,
      CAST(MAX(session_id) AS BIGINT) AS n_sessions,
      COUNT(*) AS n_events,
      CAST(COUNT(*) AS DOUBLE) / MAX(session_id) AS events_per_session
    FROM sess
    GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap → session ids → per-user
    session stats. lag + running sum, one shuffle total."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sessions = ev.withColumn(
        "is_new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0),
    ).withColumn("session_id", F.sum("is_new_session").over(wrun))
    return sessions.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        (F.count(F.lit(1)).cast("double") / F.max("session_id")).alias(
            "events_per_session"
        ),
    )


@query(
    "events_windowed_funnel",
    oracle="""
    WITH stage_ts AS (
      SELECT
        user_id,
        MIN(CASE WHEN event_type = 'view'     THEN CAST(ts AS TIMESTAMP) END) AS t_view,
        MIN(CASE WHEN event_type = 'click'    THEN CAST(ts AS TIMESTAMP) END) AS t_click,
        MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_viewed,
      COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 END) AS n_clicked_after_view,
      COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click THEN 1 END) AS n_full_funnel
    FROM stage_ts
    """,
)
def events_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase via min-per-stage (single
    aggregation, no joins)."""
    ev = load_table(spark, sf_dir, "events")

    def stage_min(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        stage_min("view").alias("t_view"),
        stage_min("click").alias("t_click"),
        stage_min("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_viewed"),
        F.count(
            F.when(F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1)
        ).alias("n_clicked_after_view"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "events_daily_retention",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS active_day
      FROM events
    )
    SELECT
      f.cohort_day,
      CAST(date_diff('day', f.cohort_day, a.active_day) AS INT) AS day_offset,
      COUNT(DISTINCT a.user_id) AS n_active
    FROM activity a
    JOIN first_day f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: first-seen day × day offset."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    first_day = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("active_day")).distinct()
    return (
        activity.join(first_day, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# Sketch-accuracy contracts the query asserts PER GROUP (and the
# oracle asserts trivially as TRUE — both sketches are deterministic
# functions of the data, so the booleans are stable across runs):
# - HLL++ at default rsd 0.05: estimate within ±10% of the exact count.
# - approx_percentile at default accuracy 1e4: rank error ≤ n/1e4, so
#   the returned value must lie between the exact quantiles at
#   q ± PCT_SLACK (0.01 — 100× the guarantee; value-space bounds via
#   quantile monotonicity).
HLL_REL_ERR = 0.10
PCT_SLACK = 0.01


@query(
    "events_approx_distinct",
    oracle="""
    SELECT
      event_type,
      COUNT(DISTINCT user_id) AS n_exact_users,
      TRUE AS hll_within_10pct,
      TRUE AS p50_in_bounds,
      TRUE AS p95_in_bounds,
      TRUE AS p99_in_bounds
    FROM events
    GROUP BY event_type
    """,
)
def events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates per event type — approx_count_distinct
    (HyperLogLog++) and approx_percentile (Greenwald-Khanna), the
    constant-memory distinct/quantile pair every 100 TB pipeline
    relies on — made FULLY oracle-checkable: sketch estimates are
    engine-specific numbers DuckDB cannot reproduce, so the query
    emits the exact values (hash-compared) plus per-group booleans
    asserting the sketch landed inside its accuracy contract (the
    oracle emits TRUE). Both sketches are deterministic given the
    data, so the booleans are stable; a Spark regression that blew
    the error bound would flip a cell and fail the hash compare.

    Plan: ONE hash aggregate computes the exact distinct, both
    sketches, and the exact bounding percentiles together — the
    sketches still execute for real; the exact columns ride along at
    this scale's cost (at 100 TB a user would drop them and keep the
    sketch-only plan, which this query also exercises)."""
    ev = load_table(spark, sf_dir, "events")
    apcts = F.expr("approx_percentile(value, array(0.5, 0.95, 0.99))")
    lo = [0.5 - PCT_SLACK, 0.95 - PCT_SLACK, 0.99 - PCT_SLACK]
    hi = [0.5 + PCT_SLACK, 0.95 + PCT_SLACK, 1.0]
    bounds = F.expr(
        "percentile(value, array(" + ", ".join(repr(q) for q in lo + hi) + "))"
    )
    g = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact_users"),
        F.approx_count_distinct("user_id").alias("_hll"),
        apcts.alias("_ap"),
        bounds.alias("_bp"),
    )
    within = (
        F.abs(F.col("_hll") - F.col("n_exact_users"))
        <= F.col("n_exact_users") * HLL_REL_ERR
    )

    def in_bounds(i: int):
        return (F.element_at("_ap", i) >= F.element_at("_bp", i)) & (
            F.element_at("_ap", i) <= F.element_at("_bp", i + 3)
        )

    return g.select(
        "event_type",
        "n_exact_users",
        within.alias("hll_within_10pct"),
        in_bounds(1).alias("p50_in_bounds"),
        in_bounds(2).alias("p95_in_bounds"),
        in_bounds(3).alias("p99_in_bounds"),
    )


@query(
    "events_multi_rollup",
    oracle="""
    WITH base AS (
      SELECT
        CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS bucket_hour,
        CAST(date_trunc('day',  CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS bucket_day,
        event_type,
        value
      FROM events
    )
    SELECT
      CASE WHEN GROUPING(bucket_hour) = 0 THEN 'hour' ELSE 'day' END AS grain,
      COALESCE(bucket_hour, bucket_day) AS bucket_ts,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM base
    GROUP BY GROUPING SETS ((bucket_hour, event_type), (bucket_day, event_type))
    """,
)
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hourly AND daily
    aggregates of the same events in ONE scan via GROUPING SETS, with
    a ``grain`` discriminator (the continuous-aggregate shape of
    time-series stores).

    Plan: Catalyst expands the two sets with a single Expand node
    feeding one hash aggregate — one scan, one shuffle, both
    resolutions. At 100 TB this halves fact-scan I/O vs two jobs, and
    finer→coarser reaggregation (day from hour) is the incremental
    refinement path."""
    ev = load_table(spark, sf_dir, "events")
    ev.select(
        F.date_trunc("hour", "ts").alias("bucket_hour"),
        F.date_trunc("day", "ts").alias("bucket_day"),
        "event_type",
        "value",
    ).createOrReplaceTempView("events_rollup_base")
    return spark.sql(
        """
        SELECT
          CASE WHEN GROUPING(bucket_hour) = 0 THEN 'hour' ELSE 'day' END AS grain,
          COALESCE(bucket_hour, bucket_day) AS bucket_ts,
          event_type,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events_rollup_base
        GROUP BY GROUPING SETS ((bucket_hour, event_type), (bucket_day, event_type))
        """
    )


# ---- hourly anomaly detection ----------------------------------------

ANOMALY_Z = 3.0  # |z| threshold


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
             event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(c)::BIGINT AS s,
             SUM(c * c)::BIGINT AS ssq
      FROM hourly GROUP BY event_type
    )
    SELECT
      h.hour,
      h.event_type,
      h.c AS n_events,
      CASE WHEN st.n * st.ssq - st.s * st.s = 0 THEN 0.0
           ELSE CAST(h.c * st.n - st.s AS DOUBLE)
                / (st.n * sqrt(CAST(st.n * st.ssq - st.s * st.s AS DOUBLE)
                               / (st.n * st.n)))
      END AS zscore,
      CASE WHEN st.n * st.ssq - st.s * st.s = 0 THEN FALSE
           ELSE abs(CAST(h.c * st.n - st.s AS DOUBLE)
                / (st.n * sqrt(CAST(st.n * st.ssq - st.s * st.s AS DOUBLE)
                               / (st.n * st.n)))) > {ANOMALY_Z}
      END AS is_anomaly
    FROM hourly h JOIN stats st ON st.event_type = h.event_type
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomaly detection: each (event_type, hour) bucket
    scored against its type's own distribution — the monitoring query
    a streaming pipeline runs over its rollup table.

    Exactness across engines: counts are integers, so n/Σc/Σc² are
    exact BIGINTs and the z-score is ONE double expression evaluated
    over exact inputs — written with the identical operation tree in
    both dialects (population variance via n·Σc² − (Σc)², no
    engine-specific stddev function whose accumulation order could
    drift). Plan: the hourly rollup is one shuffle; the per-type stats
    frame is tiny (5 rows) and AQE broadcasts it back onto the hourly
    frame — no second pass over raw events."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
    )
    j = hourly.join(stats, "event_type")
    disc = F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    z = (F.col("c") * F.col("n") - F.col("s")).cast("double") / (
        F.col("n")
        * F.sqrt(disc.cast("double") / (F.col("n") * F.col("n")))
    )
    zsafe = F.when(disc == 0, F.lit(0.0)).otherwise(z)
    return j.select(
        "hour",
        "event_type",
        F.col("c").alias("n_events"),
        zsafe.alias("zscore"),
        F.when(disc == 0, F.lit(False))
        .otherwise(F.abs(z) > ANOMALY_Z)
        .alias("is_anomaly"),
    )


# ---- time-series gap filling -----------------------------------------


@query(
    "events_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS hi
      FROM events
    ), grid AS (
      SELECT t.h AS hour, et.event_type
      FROM bounds,
           LATERAL (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h) t,
           LATERAL (SELECT DISTINCT event_type FROM events) et
    ), actual AS (
      SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
             event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT
      g.hour,
      g.event_type,
      COALESCE(a.c, 0) AS n_events,
      a.c IS NULL AS is_gap
    FROM grid g LEFT JOIN actual a
      ON a.hour = g.hour AND a.event_type = g.event_type
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type: every (hour, type) cell of
    the full time range materialized, zero-filled where no events
    landed, with a gap flag — what rollup consumers need before
    moving averages or anomaly scoring (a sparse series silently
    skews both).

    Plan: the grid is ``sequence()`` over the min/max hour (one tiny
    2-column aggregate) cross-joined with the distinct type set —
    both broadcast-sized at ANY corpus scale since the grid grows
    with time span, not event volume; the left join fills from the
    hourly rollup. All values are integers/timestamps — exact."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = F.broadcast(hours).crossJoin(F.broadcast(types))
    actual = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    return grid.join(actual, ["hour", "event_type"], "left").select(
        "hour",
        "event_type",
        F.coalesce("c", F.lit(0)).alias("n_events"),
        F.col("c").isNull().alias("is_gap"),
    )


@query(
    "events_time_weighted_avg",
    oracle="""
    WITH ordered AS (
      SELECT
        event_type,
        value,
        epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        LEAD(epoch_us(CAST(ts AS TIMESTAMP)))
          OVER (PARTITION BY event_type ORDER BY ts, event_id) AS t_next
      FROM events
    ), weighted AS (
      SELECT
        event_type,
        t_next - t AS dur,
        CAST(CAST(value AS DECIMAL(18,6)) * (t_next - t) AS DECIMAL(38,6)) AS wval
      FROM ordered WHERE t_next IS NOT NULL
    )
    SELECT
      event_type,
      COUNT(*) AS n_intervals,
      CAST(SUM(dur) AS BIGINT) AS total_us,
      CAST(CAST(CAST(SUM(wval) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE)
           AS DECIMAL(18,9)) AS DOUBLE) AS twa
    FROM weighted
    GROUP BY event_type
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per event type under LOCF
    (last-observation-carried-forward) semantics: each reading holds
    until the next one, so its weight is the interval it covered —
    the hypertable/monitoring-stack aggregate that plain AVG gets
    wrong whenever sampling is irregular. The type's final reading has
    no successor and carries no weight (standard half-open convention).

    Exactness: interval durations are INTEGER epoch-MICROsecond
    diffs (second-level epochs are a trap: Spark's unix_timestamp
    FLOORS sub-second parts while DuckDB's epoch() ROUNDS — measured
    ±1s drift), the weighted mass is a DECIMAL(38,6) sum of
    value×micros, and the average is the double division quantized
    through DECIMAL(18,9) — the 38-digit decimal→double cast itself
    rounds differently across engines (DuckDB converts the hugeint
    then divides by 10^scale, two roundings; Java rounds once), so
    the quotient can carry a 1-ulp echo that the quantization
    collapses (the µs unit cancels in the ratio). Ordering ties on
    ts are broken by event_id, so LEAD is deterministic.

    Plan: one shuffle on event_type feeding a sorted window (LEAD),
    then a partial-agg'd groupBy on the same key — AQE reuses the
    window's exchange for the aggregate, so the fact table moves ONCE.
    At 100 TB the window partitions by (event_type) alone could skew
    on a hot type; the production refinement partitions by (type, day)
    and stitches boundary intervals, same arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    ordered = ev.select(
        "event_type",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    dur = F.col("t_next") - F.col("t")
    return (
        ordered.select(
            "event_type",
            dur.alias("dur"),
            (F.col("value").cast("decimal(18,6)") * dur)
            .cast("decimal(38,6)")
            .alias("wval"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur").cast("bigint").alias("total_us"),
            (
                F.sum("wval").cast("double") / F.sum("dur").cast("double")
            )
            .cast("decimal(18,9)")
            .cast("double")
            .alias("twa"),
        )
    )


@query(
    "events_status_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_type
      FROM events
    ), islands AS (
      SELECT user_id, event_type,
             COUNT(*) AS n_events,
             MIN(ts) AS valid_from
      FROM ordered
      GROUP BY user_id, event_type, rn - rn_type
    ), versioned AS (
      SELECT user_id, event_type, n_events, valid_from,
             LEAD(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from) AS valid_to
      FROM islands
    )
    SELECT user_id, event_type, n_events, valid_from, valid_to
    FROM versioned
    """,
)
def events_status_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands → SCD2 intervals: collapse each user's
    CONSECUTIVE runs of the same event_type into one versioned row
    (valid_from inclusive, valid_to = next island's start, NULL while
    current) — the slowly-changing-dimension type-2 build every
    warehouse runs over a change stream, and the one classic window
    shape (islands via the rn − rn_type difference trick) the registry
    didn't yet cover.

    Determinism: island identity is defined by (ts, event_id) order —
    the event_id tie-break makes same-timestamp runs unambiguous in
    both engines; everything emitted is exact (counts, raw
    timestamps).

    Plan: two row_number windows share ONE shuffle+sort on user_id
    (same partition key; the second differs only in partition columns
    that subset the sort), then the island groupBy (map-side partial)
    and the lead window re-shuffle on user_id. At 100 TB this is the
    sessionize scale story — everything keys on user_id, skewed users
    are AQE's problem, and no state ever leaves the executor."""
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.row_number().over(w_user).alias("rn"),
        F.row_number().over(w_type).alias("rn_type"),
    )
    islands = (
        ordered.groupBy(
            "user_id", "event_type", (F.col("rn") - F.col("rn_type")).alias("isl")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("valid_from"),
        )
    )
    w_ver = Window.partitionBy("user_id").orderBy("valid_from")
    return islands.select(
        "user_id",
        "event_type",
        "n_events",
        "valid_from",
        F.lead("valid_from").over(w_ver).alias("valid_to"),
    )


# Interval-join bucket grain: 15 minutes in microseconds. Chosen ~
# the median session duration scale so a session explodes into O(1)
# buckets while each bucket holds few enough sessions that the
# equi-join candidate set stays within a small constant factor of the
# true matches (measured sf0.1: ~1.6M candidates for 151k matches).
# At other corpora tune to ~ (median interval length) × k.
OVERLAP_GRAIN_US = 15 * 60 * 1_000_000

def session_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_id, s_us, e_us): every user session as a
    microsecond interval — the gaps-and-islands build shared by the
    interval-overlap join and the co-activity graph family. One window
    pass + one aggregate, both partitioned on user_id (one shuffle
    total; the aggregate reuses the window's partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn(
            "new_s",
            F.when(
                F.lag("ts").over(w).isNull() | (gap > SESSION_GAP_SEC), 1
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_s").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            F.max(F.unix_micros("ts")).alias("e_us"),
        )
    )


_SESSIONS_IV_DUCK = """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), se AS (
      SELECT user_id,
             SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS session_id,
             ts
      FROM e
    ), iv AS (
      SELECT user_id, session_id,
             epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
      FROM se GROUP BY 1, 2
    )
"""


@query(
    "events_interval_overlap_join",
    oracle=_SESSIONS_IV_DUCK
    + """
    SELECT a.user_id AS user_a, a.session_id::BIGINT AS session_a,
           b.user_id AS user_b, b.session_id::BIGINT AS session_b,
           LEAST(a.e_us, b.e_us) - GREATEST(a.s_us, b.s_us)
             AS overlap_us
    FROM iv a JOIN iv b
      ON a.user_id < b.user_id
     AND a.s_us <= b.e_us AND b.s_us <= a.e_us
    """,
)
def events_interval_overlap_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval overlap join — which session pairs (across users) were
    concurrently active — via BUCKETED equi-join, the scalable form of
    a non-equi interval predicate (Spark would otherwise plan
    ``a.s <= b.e AND b.s <= a.e`` as a broadcast-nested-loop: O(n²)
    comparisons and a single-threaded build at 100 TB).

    Recipe: (1) sessionize (the registry's gaps-and-islands build, one
    window pass); (2) explode each interval onto the 15-min grid cells
    it touches (O(duration/grain) rows each); (3) self-equi-join ON
    THE CELL — Catalyst plans a plain shuffled hash join, partitioned
    and parallel; (4) refine with the exact predicate; (5) emit each
    pair EXACTLY ONCE with no distinct: a pair is kept only in the
    cell containing the LATER interval start (that cell is inside both
    intervals whenever they overlap, so existence is guaranteed and
    uniqueness is free — the dedup-free counting trick that avoids a
    second shuffle over the candidate set).

    Timestamps compare in integer microseconds (unix_micros /
    epoch_us) — bit-exact in both engines, no second-truncation.

    Oracle = the quadratic non-equi join, affordable at test SF."""
    iv = session_intervals(spark, sf_dir)
    g = F.lit(OVERLAP_GRAIN_US)
    cells = iv.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.floor(F.col("s_us") / g), F.floor(F.col("e_us") / g)
            )
        ),
    )
    a = cells.alias("a")
    b = cells.alias("b")
    ac, bc = (lambda c: F.col("a." + c)), (lambda c: F.col("b." + c))
    return (
        a.join(
            b,
            (ac("cell") == bc("cell"))
            & (ac("user_id") < bc("user_id"))
            & (ac("s_us") <= bc("e_us"))
            & (bc("s_us") <= ac("e_us"))
            & (
                F.floor(F.greatest(ac("s_us"), bc("s_us")) / g)
                == ac("cell")
            ),
        )
        .select(
            ac("user_id").alias("user_a"),
            ac("session_id").alias("session_a"),
            bc("user_id").alias("user_b"),
            bc("session_id").alias("session_b"),
            (
                F.least(ac("e_us"), bc("e_us"))
                - F.greatest(ac("s_us"), bc("s_us"))
            ).alias("overlap_us"),
        )
    )


# ---- re-aggregatable sketch rollup (partial HLL merge) ---------------


@query(
    "events_sketch_rollup_merge",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT CAST(ts AS DATE))::BIGINT AS n_days,
           COUNT(DISTINCT user_id)::BIGINT AS n_merged_exact,
           TRUE AS merged_within_10pct
    FROM events
    GROUP BY event_type
    """,
)
def events_sketch_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-sketch rollup: build a DataSketches HLL sketch of
    distinct users per (event_type, day), then MERGE the day sketches
    up to event_type with ``hll_union_agg`` and estimate — the
    re-aggregation pattern that makes 100 TB rollup tables possible
    (store day-grain sketch BLOBs once; any coarser grain — week,
    month, all-time — is a cheap union over sketches, never a rescan
    of raw events; exact distincts cannot be rolled up this way since
    they don't compose). ``approx_count_distinct`` elsewhere
    (``events_approx_distinct``) is the one-shot estimate; THIS query
    exercises the sketch-as-a-value lifecycle: agg → binary column →
    re-agg.

    Oracle-checkable like the other sketches: estimates are
    engine-specific, so the query emits the exact merged distinct
    (hash-compared) plus a boolean asserting the merged estimate
    landed within 10% of it (HLL lgK=12 has σ≈1.6%; 10% is ~6σ and
    the sketch is deterministic given the data, so the boolean is
    stable).

    Plan: one shuffle to (event_type, day) partials, a second tiny
    shuffle of ONE sketch row per group to event_type, plus the
    exact-distinct rider for certification (at 100 TB a user drops
    the rider and keeps the sketch-only plan)."""
    ev = load_table(spark, sf_dir, "events")
    day_sketches = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"))
    )
    merged = day_sketches.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias("_est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_merged_exact")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_days",
        "n_merged_exact",
        (
            F.abs(F.col("_est") - F.col("n_merged_exact"))
            <= F.col("n_merged_exact") * 0.10
        ).alias("merged_within_10pct"),
    )


# ---- native time-window table functions (batch form) -----------------


@query(
    "events_session_window_native",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
             -- strict > in exact microseconds: Spark's session_window
             -- MERGES touching windows (next event AT prev_end joins
             -- the session; half-open ends, merge on start <= end)
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER w)
                       > {SESSION_GAP_SEC} * 1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, value, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {SESSION_GAP_SEC} SECONDS AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def events_session_window_native(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark's NATIVE ``session_window`` table function in batch mode —
    the same dynamic-gap sessionization ``events_sessionize`` builds
    manually with lag + running sum, but expressed as the engine
    primitive (one groupBy, merging session state inside the
    aggregate). The oracle is the manual gaps-and-islands build, so
    this query pins the semantic equivalence of the two forms —
    including the boundary convention (a next event at EXACTLY
    prev_event + gap MERGES into the session — Spark merges touching
    half-open windows; session_end = last event + gap).

    Scale: identical profile to any keyed aggregate — one shuffle on
    user_id; Spark merges overlapping session candidates inside the
    agg, no window-function sort pass needed. The same expression is
    the streaming sessionizer (streaming/events_stream.py) — batch
    and stream share the operator, which is the point of the table
    function."""
    ev = load_table(spark, sf_dir, "events")
    sw = F.session_window("ts", f"{SESSION_GAP_SEC} seconds")
    return ev.groupBy("user_id", sw).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    ).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "total_value",
    )


HOP_WIDTH_MIN = 60
HOP_SLIDE_MIN = 30
HOP_SLIDE_US = HOP_SLIDE_MIN * 60 * 1_000_000


@query(
    "events_hopping_window",
    oracle=f"""
    WITH g AS (
      SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts,
             unnest([
               make_timestamp(
                 (epoch_us(CAST(ts AS TIMESTAMP))
                  // {HOP_SLIDE_US} - i) * {HOP_SLIDE_US})
               for i in range({HOP_WIDTH_MIN // HOP_SLIDE_MIN})
             ]) AS win_start
      FROM events
    )
    SELECT win_start::TIMESTAMP AS win_start,
           (win_start + INTERVAL {HOP_WIDTH_MIN} MINUTES)::TIMESTAMP
             AS win_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM g
    WHERE ts >= win_start
      AND ts < win_start + INTERVAL {HOP_WIDTH_MIN} MINUTES
    GROUP BY win_start, event_type
    """,
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native hopping ``window`` table function in batch mode:
    1-hour windows sliding every 30 minutes — each event contributes
    to width/slide = 2 overlapping windows. The oracle replays the
    assignment rule by hand (explode each event onto the slide-grid
    starts covering it), pinning Spark's window-start alignment
    (floor to the slide grid) and end-exclusive membership.

    Scale: the expand is width/slide rows per event BEFORE the
    partial aggregate — the same map-side-reduced explode pattern as
    the rollup family; the shuffle carries (window, type) partials
    only."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", f"{HOP_WIDTH_MIN} minutes", f"{HOP_SLIDE_MIN} minutes")
    return ev.groupBy(w, "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("total_value"),
    ).select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "event_type",
        "n",
        "total_value",
    )


# ---- VARIANT semi-structured path (Spark 4) --------------------------


@query(
    "events_variant_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           SUM((props::JSON ->> 'k')::BIGINT)::BIGINT AS sum_k,
           MIN((props::JSON ->> 'k')::BIGINT) AS min_k,
           MAX((props::JSON ->> 'k')::BIGINT) AS max_k,
           COUNT(CASE WHEN json_extract(props::JSON, '$.missing')
                      IS NULL THEN 1 END) AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once into a variant column, then typed
    ``variant_get`` paths feed a plain aggregate. At 100 TB this is
    the difference between parsing the JSON string once into a
    shredded binary encoding (variant) vs re-tokenizing it per
    extracted path (``get_json_object``, exercised by
    ``scalar_json_funcs``) — the modern engine answer to schemaless
    event payloads. ``try_variant_get`` on an absent path returns
    NULL, counted as the missing-field audit column.

    Plan: parse in the scan projection, one hash aggregate — the
    variant column never shuffles (only the extracted BIGINTs do)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("vp")
    ).select(
        "event_type",
        # try_variant_get, not variant_get: a malformed / non-numeric
        # 'k' in any payload yields NULL instead of killing the query —
        # matching the oracle's ->> '::BIGINT' null-on-failure shape and
        # the module's poisoned-row-tolerance posture
        # (scalar_try_arithmetic); the events table enforces no contract
        # on props.
        F.expr("try_variant_get(vp, '$.k', 'bigint')").alias("k"),
        F.expr("try_variant_get(vp, '$.missing', 'string')").alias("miss"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.count(F.when(F.col("miss").isNull(), 1)).alias("n_missing"),
    )



# Registered here (not joins.py): joins.py loads inside the frozen
# 50-query driver window; new queries must register after it.
@query(
    "join_asof_next_purchase",
    oracle="""
    SELECT
      event_id,
      user_id,
      ts,
      next_purchase_ts,
      CASE WHEN next_purchase_ts IS NOT NULL
           THEN (epoch_us(next_purchase_ts) - epoch_us(ts)) // 1000000
      END AS secs_to_purchase
    FROM (
      SELECT
        event_id,
        user_id,
        CAST(ts AS TIMESTAMP) AS ts,
        event_type,
        FIRST_VALUE(CASE WHEN event_type = 'purchase'
                         THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
          AS next_purchase_ts
      FROM events
    )
    WHERE event_type = 'click'
    """,
)
def join_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — for every click, the next STRICTLY-LATER
    purchase by the same user plus the time-to-conversion in seconds
    (exact integer µs arithmetic). The mirror of
    ``join_asof_last_purchase``: a first-ignore-nulls window over a
    FOLLOWING frame, same single shuffle on user_id, same
    no-pairwise-blowup scale story. Together the pair covers both
    as-of directions (backward attribution, forward conversion lag)
    without a range self-join."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.first(
        F.when(F.col("event_type") == "purchase", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("next_purchase_ts", nxt)
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            "ts",
            "next_purchase_ts",
            F.when(
                F.col("next_purchase_ts").isNotNull(),
                (
                    F.unix_micros("next_purchase_ts") - F.unix_micros("ts")
                )
                / F.lit(1_000_000),
            )
            .cast("long")
            .alias("secs_to_purchase"),
        )
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), c AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), tot AS (
      SELECT prev_type, SUM(n)::BIGINT AS row_total FROM c GROUP BY 1
    )
    SELECT c.prev_type, c.next_type, c.n,
           CAST(CAST(c.n * 1.0 / t.row_total AS DECIMAL(18,6)) AS DOUBLE)
             AS p_transition
    FROM c JOIN tot t USING (prev_type)
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    (previous event type -> next event type) pair, the count and the
    row-normalized transition probability — the behavioral model
    behind next-action prediction and anomaly scoring on event
    streams.

    Plan: ONE window pass (lag over the user timeline — the same
    partitioned sort sessionization uses) feeds a tiny |types|² hash
    aggregate; row totals come from a second aggregate OVER THE
    REDUCED frame (25 rows), never a second scan. The probability is
    an exact BIGINT ratio pushed through the DECIMAL(18,6) compare
    rule."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return c.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") * F.lit(1.0) / F.col("row_total"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("p_transition"),
    )


FUNNEL_STEP_US = 30 * 60 * 1_000_000  # max delay per funnel step


@query(
    "events_funnel_strict_windowed",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > epoch_us(v.t_view)
        AND epoch_us(CAST(e.ts AS TIMESTAMP))
            <= epoch_us(v.t_view) + {FUNNEL_STEP_US}
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > epoch_us(c.t_click)
        AND epoch_us(CAST(e.ts AS TIMESTAMP))
            <= epoch_us(c.t_click) + {FUNNEL_STEP_US}
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_in_window,
           (SELECT COUNT(*) FROM p) AS n_converted_in_window,
           (SELECT COALESCE(SUM(epoch_us(c.t_click) - epoch_us(v.t_view)), 0)
            FROM c JOIN v USING (user_id))::BIGINT AS sum_view_to_click_us
    """,
)
def events_funnel_strict_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRICT windowed funnel: view -> click within 30 min of the
    first view -> purchase within 30 min of that click, earliest-chain
    semantics (each stage anchors on the previous stage's FIRST
    qualifying event). The loose funnel (``events_windowed_funnel``)
    only orders stage minima; this one enforces per-step deadlines —
    the conversion-attribution shape marketing analytics actually
    runs. Deadlines compare in exact integer microseconds.

    Plan: three keyed aggregates chained by equi-joins on user_id —
    each stage reduces to |users| rows before the next join, so the
    fact table is scanned once per stage and nothing quadratic ever
    forms; the final counts are 1-row combines of the reduced
    frames."""
    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c))
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (us("ts") > us("t_view"))
            & (us("ts") <= us("t_view") + FUNNEL_STEP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (us("ts") > us("t_click"))
            & (us("ts") <= us("t_click") + FUNNEL_STEP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    delays = c.join(v, "user_id").agg(
        F.coalesce(
            F.sum(F.unix_micros("t_click") - F.unix_micros("t_view")),
            F.lit(0),
        ).alias("sum_view_to_click_us")
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_in_window")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_converted_in_window")))
        .crossJoin(delays)
        .select(
            "n_viewed",
            "n_clicked_in_window",
            "n_converted_in_window",
            "sum_view_to_click_us",
        )
    )


_TRY_ADD_LIT = 9_223_372_036_854_775_000  # BIGINT max minus ~800
_TRY_MUL_LIT = 4_611_686_018_427_387_904  # 2^62


@query(
    "scalar_try_arithmetic",
    oracle=f"""
    WITH b AS (
      SELECT
        CASE WHEN l_discount = 0 THEN NULL
             ELSE l_extendedprice / l_discount END AS td,
        CASE WHEN l_orderkey > 9223372036854775807 - {_TRY_ADD_LIT}
             THEN NULL ELSE l_orderkey + {_TRY_ADD_LIT} END AS ta,
        CASE WHEN l_orderkey >= 2 THEN NULL
             ELSE l_orderkey * {_TRY_MUL_LIT} END AS tm
      FROM lineitem
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN td IS NULL THEN 1 END) AS n_div_null,
           COUNT(CASE WHEN ta IS NULL THEN 1 END) AS n_add_overflow,
           COUNT(CASE WHEN tm IS NULL THEN 1 END) AS n_mul_overflow,
           CAST(CAST(MIN(td) AS DECIMAL(18,6)) AS DOUBLE) AS min_ratio,
           CAST(CAST(MAX(td) AS DECIMAL(18,6)) AS DOUBLE) AS max_ratio
    FROM b
    """,
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface: ``try_divide`` /
    ``try_add`` / ``try_multiply`` return NULL instead of raising on
    zero-division and BIGINT overflow — the semantics that let a
    100 TB pipeline run strict ANSI mode without one poisoned row
    killing a stage. The add/multiply literals are chosen so a known
    subset of keys overflows; the oracle replays the same boundaries
    with explicit CASE guards (DuckDB's checked arithmetic would
    RAISE — the guard IS the cross-engine contract of what try_*
    suppresses).

    Plan: pure projection + one aggregate; everything stays in
    whole-stage codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr("try_divide(l_extendedprice, l_discount)").alias("td"),
        F.expr(f"try_add(l_orderkey, {_TRY_ADD_LIT}L)").alias("ta"),
        F.expr(f"try_multiply(l_orderkey, {_TRY_MUL_LIT}L)").alias("tm"),
    )
    return b.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("td").isNull(), 1)).alias("n_div_null"),
        F.count(F.when(F.col("ta").isNull(), 1)).alias("n_add_overflow"),
        F.count(F.when(F.col("tm").isNull(), 1)).alias("n_mul_overflow"),
        F.min("td").cast("decimal(18,6)").cast("double").alias("min_ratio"),
        F.max("td").cast("decimal(18,6)").cast("double").alias("max_ratio"),
    )


MAD_K = 3.0  # the classic 3-sigma-equivalent robust fence


@query(
    "events_anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med,
             quantile_cont(abs(e.value - m.med), 0.5)
               OVER (PARTITION BY e.event_type) AS mad
      FROM events e JOIN med m USING (event_type)
    )
    SELECT event_type,
           CAST(CAST(MIN(med) AS DECIMAL(18,6)) AS DOUBLE) AS med,
           CAST(CAST(MIN(mad) AS DECIMAL(18,6)) AS DOUBLE) AS mad,
           COUNT(*) AS n,
           SUM(CASE WHEN abs(value - med) > {MAD_K} * mad
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           (SUM(CASE WHEN abs(value - med) > {MAD_K} * mad
                     THEN 1 ELSE 0 END) * 1000000 // COUNT(*))::BIGINT
             AS outlier_rate_micro
    FROM dev
    GROUP BY event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen: median / median-absolute-deviation
    fences per event type — the heavy-tail-safe twin of
    ``events_anomaly_zscore`` (mean/stddev fences move with the very
    outliers they hunt; median/MAD have a 50% breakdown point, which
    is why monitoring pipelines prefer them for skewed value
    streams).

    Plan: exact median per type (ONE grouped sort-agg over bounded
    groups), broadcast back (|event types| rows), second grouped
    median over the absolute deviations, then one counting aggregate
    with the 3-MAD fence — three key-partitioned passes, no global
    sort, no window funnel. Both engines share the type-7
    interpolation (the ``agg_exact_percentiles`` anchor), so med/MAD
    and every fence comparison are bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5D)").alias("mad"),
        F.min("med").alias("med_v"),
    )
    fenced = ev.join(F.broadcast(mad), "event_type")
    return fenced.groupBy("event_type").agg(
        F.min("med_v").cast("decimal(18,6)").cast("double").alias("med"),
        F.min("mad").cast("decimal(18,6)").cast("double").alias("mad"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("med_v"))
                > F.lit(MAD_K) * F.col("mad"),
                1,
            ).otherwise(0)
        ).alias("n_outliers"),
        F.expr(
            f"sum(CASE WHEN abs(value - med_v) > {MAD_K} * mad THEN 1 ELSE 0 END)"
            " * 1000000 div count(1)"
        ).alias("outlier_rate_micro"),
    )


@query(
    "events_cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             MIN(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
               AS first_day
      FROM events GROUP BY user_id
    ), per_day AS (
      SELECT first_day AS day, COUNT(*)::BIGINT AS n_new
      FROM first_seen GROUP BY first_day
    )
    SELECT day, n_new,
           SUM(n_new) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)::BIGINT AS cum_users
    FROM per_day
    """,
)
def events_cumulative_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily cumulative unique users — the growth-curve query every
    product dashboard runs. The scalable formulation: cumulative
    DISTINCT decomposes into first-seen-day per user (one hash
    aggregate over the corpus) + a running sum over the DAY-grain
    frame. The global-ordered window runs over ~#days rows — the
    ONLY single-partition step is over data that is already tiny by
    construction, which is the difference between this plan and a
    naive `COUNT(DISTINCT) OVER (ORDER BY day)` that would re-scan
    users per day."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("first_day")
    )
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day", "n_new", F.sum("n_new").over(w).alias("cum_users")
    )


@query(
    "events_sketch_overlap_estimate",
    oracle="""
    WITH viewers AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ), buyers AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT
      (SELECT COUNT(*) FROM viewers)::BIGINT AS n_viewers,
      (SELECT COUNT(*) FROM buyers)::BIGINT AS n_buyers,
      (SELECT COUNT(*) FROM viewers JOIN buyers USING (user_id))::BIGINT
        AS n_overlap_exact,
      TRUE AS estimate_within_bound
    """,
)
def events_sketch_overlap_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience-overlap estimation by HLL INCLUSION-EXCLUSION:
    |A∩B| ≈ |A| + |B| − |A∪B|, with the union estimated by MERGING
    the two sets' sketches (``hll_union``) — no re-scan of raw data
    for the union, the property that makes sketch overlap viable on
    100 TB where the exact distinct-join is a full shuffle. HLL has
    no native intersection; inclusion-exclusion is the standard
    recipe and its error grows with |A∪B|/|A∩B| — which is exactly
    why the query CERTIFIES the estimate against the exact overlap
    (both engines emit the exact counts, hash-compared; the
    within-bound boolean uses 3× the union's rsd-derived bound,
    oracle emits TRUE).

    Plan: one scan builds both sketches + both exact distinct counts
    (partial-agg'd); the exact overlap is a distinct self-join kept
    as the certification anchor."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr(
            "hll_sketch_agg(CASE WHEN event_type = 'view' THEN user_id END)"
        ).alias("sk_view"),
        F.expr(
            "hll_sketch_agg(CASE WHEN event_type = 'purchase' THEN user_id END)"
        ).alias("sk_buy"),
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("n_viewers"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_buyers"),
    ).select(
        "n_viewers",
        "n_buyers",
        F.expr("hll_sketch_estimate(sk_view)").alias("est_a"),
        F.expr("hll_sketch_estimate(sk_buy)").alias("est_b"),
        F.expr(
            "hll_sketch_estimate(hll_union(sk_view, sk_buy))"
        ).alias("est_union"),
    )
    viewers = ev.filter("event_type = 'view'").select("user_id").distinct()
    buyers = ev.filter("event_type = 'purchase'").select("user_id").distinct()
    exact = viewers.join(buyers, "user_id").agg(
        F.count(F.lit(1)).alias("n_overlap_exact")
    )
    est_overlap = F.col("est_a") + F.col("est_b") - F.col("est_union")
    # lgConfigK 12 default → rsd ~1.04/sqrt(2^12) ≈ 1.6%; the
    # inclusion-exclusion error compounds over three estimates on the
    # UNION's scale — certify at 3 × 2% × est_union + a small absolute
    # floor for tiny sets.
    bound = F.lit(0.06) * F.col("est_union") + F.lit(8.0)
    return sk.crossJoin(F.broadcast(exact)).select(
        "n_viewers",
        "n_buyers",
        "n_overlap_exact",
        (
            F.abs(est_overlap - F.col("n_overlap_exact")) <= bound
        ).alias("estimate_within_bound"),
    )


CMS_EPS = 0.001  # width ~ e/eps ≈ 2719 counters per row
CMS_CONF = 0.99  # depth ~ ln(1/(1-conf)) ≈ 5 rows
CMS_SEED = 42
CMS_TOPK = 10


@query(
    "events_count_min_heavyhitters",
    oracle=f"""
    WITH counts AS (
      SELECT CAST(user_id AS VARCHAR) AS uid, COUNT(*)::BIGINT AS n_exact
      FROM events GROUP BY user_id
    ), total AS (SELECT COUNT(*)::BIGINT AS n FROM events)
    SELECT uid,
           n_exact,
           TRUE AS cms_never_undercounts,
           TRUE AS cms_within_eps
    FROM (
      SELECT uid, n_exact FROM counts
      ORDER BY n_exact DESC, uid ASC LIMIT {CMS_TOPK}
    )
    """,
)
def events_count_min_heavyhitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-Min-Sketch frequency estimation — the last Spark-native
    sketch after HLL (distinct) and approx_percentile (quantiles):
    one mergeable ``count_min_sketch`` aggregate summarizes per-key
    frequencies in eps·conf-bounded space; the driver deserializes
    the ~{int(2.719/CMS_EPS)}-counter sketch (a few KB — bounded
    state, never data) and queries the exact top-{CMS_TOPK} users.
    CERTIFIED the sketch-contract way: CMS never undercounts, and
    overcounts by at most ε·N with prob ≥ {CMS_CONF} — both
    booleans hash-compared against the oracle's TRUE (the exact
    counts and the top-K selection are exact on both engines; the
    sketch is deterministic at a fixed seed).

    At 100 TB the pattern is: sketches built per partition, merged
    map-side (CMS is a counter matrix — merge is +), ONE small binary
    to the driver or the serving layer; the exact recount here is the
    certification anchor, same as ``text_heavy_hitters``'s two-pass
    Misra-Gries."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("uid")
    )
    row = ev.agg(
        F.expr(
            f"count_min_sketch(uid, {CMS_EPS}d, {CMS_CONF}d, {CMS_SEED})"
        ).alias("sk"),
        F.count(F.lit(1)).alias("n_total"),
    ).collect()[0]
    jvm = spark.sparkContext._jvm
    sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(row["sk"]))
    )
    eps_bound = CMS_EPS * row["n_total"]
    top = (
        ev.groupBy("uid")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("uid").asc())
        .limit(CMS_TOPK)
        .collect()
    )
    out = [
        (
            r["uid"],
            r["n_exact"],
            sk.estimateCount(r["uid"]) >= r["n_exact"],
            sk.estimateCount(r["uid"]) <= r["n_exact"] + eps_bound,
        )
        for r in top
    ]
    return local_frame(
        spark,
        out,
        "uid string, n_exact long, cms_never_undercounts boolean,"
        " cms_within_eps boolean",
    )


# ---- conversion attribution (first/last touch) -----------------------

ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback, micros


@query(
    "events_conversion_attribution",
    oracle=f"""
    WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
             event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    w AS (
      SELECT event_id, user_id, ts, event_type, value,
             MIN(CASE WHEN event_type IN ('view', 'click') THEN ts END)
               OVER (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN {ATTR_WINDOW_US} PRECEDING
                           AND 1 PRECEDING) AS first_touch_ts,
             MAX(CASE WHEN event_type IN ('view', 'click') THEN ts END)
               OVER (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN {ATTR_WINDOW_US} PRECEDING
                           AND 1 PRECEDING) AS last_touch_ts,
             COUNT(CASE WHEN event_type IN ('view', 'click') THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN {ATTR_WINDOW_US} PRECEDING
                           AND 1 PRECEDING) AS n_touches
      FROM e
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           first_touch_ts, last_touch_ts,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS attributed_value
    FROM w WHERE event_type = 'purchase'
    """,
)
def events_conversion_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch / last-touch conversion attribution: every purchase
    is annotated with the earliest and latest preceding touch (view or
    click) by the same user inside a 7-day lookback, plus the touch
    count — the marketing-analytics staple that motivates RANGE
    window frames (an as-of join would find only ONE side).

    Plan: ONE shuffle on user_id and a single window pass computes all
    three frames (same partition/order/frame → one WindowExec); the
    frame bound is exact integer MICROseconds (``unix_micros`` /
    ``epoch_us``), so the 1-μs-preceding upper bound excludes
    same-instant events identically on both engines. At 100 TB the
    per-user event history is the only frame state — no self-join, no
    fact-table blow-up."""
    ev = load_table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-ATTR_WINDOW_US, -1)
    )
    ann = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.min(touch).over(w).alias("first_touch_ts"),
        F.max(touch).over(w).alias("last_touch_ts"),
        F.count(touch).over(w).alias("n_touches"),
    )
    return ann.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "first_touch_ts",
        "last_touch_ts",
        F.col("n_touches").cast("bigint").alias("n_touches"),
        F.col("value")
        .cast("decimal(18,6)")
        .cast("double")
        .alias("attributed_value"),
    )


# ---- seasonal-naive forecast backtest --------------------------------

FORECAST_LAG_DAYS = 7


@query(
    "events_forecast_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS TIMESTAMP)::DATE AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS rev
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT a.event_type, a.day, a.rev,
             p.rev AS pred,
             abs(a.rev - p.rev) AS abs_err
      FROM daily a
      JOIN daily p ON p.event_type = a.event_type
                  AND p.day = a.day - INTERVAL {FORECAST_LAG_DAYS} DAY
    )
    SELECT event_type,
           COUNT(*) AS n_days,
           CAST(SUM(rev) AS DOUBLE) AS total_actual,
           CAST(SUM(abs_err) AS DOUBLE) AS total_abs_err,
           CAST(CAST(CAST(SUM(abs_err) AS DOUBLE)
                     / CAST(SUM(rev) AS DOUBLE) AS DECIMAL(18,6))
                AS DOUBLE) AS wmape
    FROM scored
    GROUP BY event_type
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue per
    event type as the value {FORECAST_LAG_DAYS} days earlier and score
    the prediction with WMAPE (Σ|err| / Σactual) — the
    evaluate-the-baseline step every forecasting pipeline runs before
    anything fancier, expressed as a self-join so missing days
    evaluate nothing rather than propagating nulls.

    Exactness: daily revenues are DECIMAL(18,6) sums
    (order-insensitive), absolute errors stay decimal, and the single
    WMAPE division happens once in IEEE double then pins through
    DECIMAL(18,6) — the house one-division rule.

    Plan: one shuffle to the (type, day) aggregate (tiny at any scale:
    |types|×|days| rows), then a self-join on the shifted day —
    AQE broadcasts it. The fact table is scanned once."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("rev"))
    pred = daily.select(
        F.col("event_type").alias("p_type"),
        F.date_add("day", FORECAST_LAG_DAYS).alias("p_day"),
        F.col("rev").alias("pred"),
    )
    scored = daily.join(
        pred,
        (F.col("p_type") == F.col("event_type"))
        & (F.col("p_day") == F.col("day")),
    ).withColumn("abs_err", F.abs(F.col("rev") - F.col("pred")))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rev").cast("double").alias("total_actual"),
        F.sum("abs_err").cast("double").alias("total_abs_err"),
        (
            F.sum("abs_err").cast("double")
            / F.sum("rev").cast("double")
        )
        .cast("decimal(18,6)")
        .cast("double")
        .alias("wmape"),
    )


# ---- point-in-time training features (leakage-free) -------------------


@query(
    "events_training_features_pit",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             event_type, value,
             COUNT(*) OVER w AS n_prior,
             SUM(CAST(value AS DECIMAL(18,6))) OVER w AS val_prior,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS label_id, user_id, ts AS label_ts,
           n_prior,
           CAST(COALESCE(val_prior, 0) AS DOUBLE) AS f_value_prior,
           COALESCE(prev_type, 'none') AS f_last_type,
           CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS label_value
    FROM ordered WHERE event_type = 'purchase'
    """,
)
def events_training_features_pit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time-correct training-set generation: every purchase
    becomes a labeled example whose features are computed STRICTLY
    BEFORE the label timestamp — prior event count, prior exact-
    decimal value sum, and the immediately preceding event type. This
    is the feature-store primitive that prevents label leakage (a
    feature computed over a frame that includes the label row trains
    a model on the answer); the ROWS ... AND 1 PRECEDING frame IS the
    leakage guard, and the (ts, event_id) tiebreak makes it
    deterministic even for same-instant events.

    Plan: one shuffle on user_id; all three features and the lag ride
    the same sort (two window specs, one partition key, one
    WindowExec pair); the purchase filter applies after — no
    self-join, no range join, the per-user history is the only state.
    At 100 TB this is the union-and-window as-of pattern that replaces
    a quadratic point-in-time range join."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ann = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.count(F.lit(1)).over(w).alias("n_prior"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).alias(
            "val_prior"
        ),
        F.lag("event_type").over(wl).alias("prev_type"),
    )
    return ann.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_id"),
        "user_id",
        F.col("ts").alias("label_ts"),
        "n_prior",
        F.coalesce(F.col("val_prior"), F.lit(0).cast("decimal(18,6)"))
        .cast("double")
        .alias("f_value_prior"),
        F.coalesce(F.col("prev_type"), F.lit("none")).alias("f_last_type"),
        F.col("value").cast("decimal(18,6)").cast("double").alias(
            "label_value"
        ),
    )


# ---- hash-bucketed A/B experiment analysis ---------------------------


def _ab_oracle() -> str:
    from .textops import hash60_duck

    grp = f"{hash60_duck('CAST(user_id AS VARCHAR)')} % 2"
    return f"""
    WITH per_user AS (
      SELECT user_id, {grp} AS grp,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(value AS DECIMAL(18,6)) END),
                      0) AS rev
      FROM events GROUP BY user_id
    ),
    mo AS (
      SELECT grp,
             COUNT(*) AS n,
             SUM(rev) AS sx,
             SUM(CAST(CAST(rev AS DOUBLE) * CAST(rev AS DOUBLE)
                      AS DECIMAL(38,6))) AS sxx
      FROM per_user GROUP BY grp
    ),
    w AS (
      SELECT
        (SELECT n FROM mo WHERE grp = 0) AS n_a,
        (SELECT n FROM mo WHERE grp = 1) AS n_b,
        (SELECT CAST(sx AS DOUBLE) FROM mo WHERE grp = 0) AS sx_a,
        (SELECT CAST(sx AS DOUBLE) FROM mo WHERE grp = 1) AS sx_b,
        (SELECT CAST(sxx AS DOUBLE) FROM mo WHERE grp = 0) AS sxx_a,
        (SELECT CAST(sxx AS DOUBLE) FROM mo WHERE grp = 1) AS sxx_b
    )
    SELECT n_a, n_b,
           CAST(CAST(sx_a / n_a AS DECIMAL(18,6)) AS DOUBLE) AS mean_a,
           CAST(CAST(sx_b / n_b AS DECIMAL(18,6)) AS DOUBLE) AS mean_b,
           CAST(CAST((sx_b / n_b - sx_a / n_a) / (sx_a / n_a)
                AS DECIMAL(18,6)) AS DOUBLE) AS lift,
           CAST(CAST(
             (sx_b / n_b - sx_a / n_a)
             / sqrt(((sxx_a - n_a * ((sx_a / n_a) * (sx_a / n_a)))
                     / (n_a - 1)) / n_a
                  + ((sxx_b - n_b * ((sx_b / n_b) * (sx_b / n_b)))
                     / (n_b - 1)) / n_b)
             AS DECIMAL(18,6)) AS DOUBLE) AS welch_z
    FROM w
    """


@query("events_ab_test_lift", oracle=_ab_oracle())
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout computed in the engine: users split into
    two arms by a deterministic 60-bit content hash (the house
    reproducible-assignment pattern — re-running the analysis
    reassigns nobody), per-user purchase revenue as the metric, and
    the arm means, relative lift, and Welch z-statistic as the
    decision numbers (p-value lookup is client-side; the distributed
    part is the moments).

    Exactness: per-user revenues are exact decimal sums; each arm's
    (n, Σx, Σx²) moments are decimal (Σx² with a per-user
    DECIMAL(38,6) pin on the one float square — 32 integer digits, so
    a user with arm revenue up to ~1e16 squares without overflow; the
    old 18,6 pin silently nulled terms above ~1e6 under Spark's
    non-ANSI overflow while DuckDB errored); the mean/variance/z
    tail is a FIXED IEEE expression chain written identically in both
    dialects (division, multiply, sqrt are all correctly rounded), so
    the final statistics pin to DECIMAL(18,6) bit-identically.

    Plan: one shuffle to the per-user aggregate, one 2-group moment
    aggregate, then a 2-row reshape — experiment analysis at 100 TB
    is exactly this shape (the metric frame is the expensive part and
    it's one pass)."""
    from .textops import hash60_spark

    ev = load_table(spark, sf_dir, "events")
    grp = F.expr(f"{hash60_spark('CAST(user_id AS STRING)')} % 2")
    rev = F.coalesce(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,6)"),
            )
        ),
        F.lit(0).cast("decimal(18,6)"),
    )
    per_user = ev.groupBy("user_id").agg(rev.alias("rev")).withColumn(
        "grp", grp
    )
    xd = F.col("rev").cast("double")
    mo = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").alias("sx"),
        F.sum((xd * xd).cast("decimal(38,6)")).alias("sxx"),
    )
    a = mo.filter(F.col("grp") == 0).select(
        F.col("n").alias("n_a"),
        F.col("sx").cast("double").alias("sx_a"),
        F.col("sxx").cast("double").alias("sxx_a"),
    )
    b = mo.filter(F.col("grp") == 1).select(
        F.col("n").alias("n_b"),
        F.col("sx").cast("double").alias("sx_b"),
        F.col("sxx").cast("double").alias("sxx_b"),
    )
    w = a.crossJoin(b)
    mean_a = F.col("sx_a") / F.col("n_a")
    mean_b = F.col("sx_b") / F.col("n_b")
    var_a = (F.col("sxx_a") - F.col("n_a") * (mean_a * mean_a)) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("sxx_b") - F.col("n_b") * (mean_b * mean_b)) / (
        F.col("n_b") - 1
    )
    z = (mean_b - mean_a) / F.sqrt(
        var_a / F.col("n_a") + var_b / F.col("n_b")
    )
    d6 = lambda c: c.cast("decimal(18,6)").cast("double")  # noqa: E731
    return w.select(
        "n_a",
        "n_b",
        d6(mean_a).alias("mean_a"),
        d6(mean_b).alias("mean_b"),
        d6((mean_b - mean_a) / mean_a).alias("lift"),
        d6(z).alias("welch_z"),
    )


# ---- error-rate time series with Wilson bounds ------------------------


@query(
    "events_error_rate_wilson",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             COUNT(*)::BIGINT AS n,
             COUNT(*) FILTER (WHERE event_type = 'error')::BIGINT AS e
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT hour, n, e,
             CAST(e AS DOUBLE) / n AS p,
             CAST(1.96 AS DOUBLE) AS z
      FROM hourly
    )
    SELECT hour, n, e,
           CAST(CAST(p AS DECIMAL(18,6)) AS DOUBLE) AS error_rate,
           CAST(CAST(
             ((p + (z * z) / (2 * n))
              - z * sqrt(p * (1 - p) / n
                         + (z * z) / (4 * (CAST(n AS DOUBLE) * n))))
             / (1 + (z * z) / n) AS DECIMAL(18,6)) AS DOUBLE)
             AS wilson_lo,
           CAST(CAST(
             ((p + (z * z) / (2 * n))
              + z * sqrt(p * (1 - p) / n
                         + (z * z) / (4 * (CAST(n AS DOUBLE) * n))))
             / (1 + (z * z) / n) AS DECIMAL(18,6)) AS DOUBLE)
             AS wilson_hi
    FROM w
    """,
)
def events_error_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error rate with 95% WILSON score bounds — the
    error-budget/SLO time series done right: Wilson intervals stay
    inside [0, 1] and behave at small n where the naive normal
    interval lies (an hour with 3 events and 1 error reports a wide
    honest band, not ±0.5 nonsense).

    Exactness: counts are exact; the Wilson formula is one fixed IEEE
    chain (divisions, one sqrt — all correctly rounded) written
    identically in both dialects and pinned to DECIMAL(18,6); z=1.96
    parses to the same double on both engines. Plan: one scan, one
    hour-grain aggregate, pure projection after — the per-hour row
    count is calendar-bounded."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("event_type") == "error")
        .cast("bigint")
        .alias("e"),
    )
    p = F.col("e").cast("double") / F.col("n")
    z = F.lit(1.96)
    zz = z * z
    nd = F.col("n").cast("double")
    center = p + zz / (2 * F.col("n"))
    half = z * F.sqrt(
        p * (1 - p) / F.col("n") + zz / (4 * (nd * F.col("n")))
    )
    denom = 1 + zz / F.col("n")
    d6 = lambda c: c.cast("decimal(18,6)").cast("double")  # noqa: E731
    return hourly.select(
        "hour",
        "n",
        "e",
        d6(p).alias("error_rate"),
        d6((center - half) / denom).alias("wilson_lo"),
        d6((center + half) / denom).alias("wilson_hi"),
    )


# ---- watermark lateness audit ----------------------------------------

LATE_BUCKET = 10_000  # event_ids per prefix-max bucket


@query(
    "events_watermark_lateness_audit",
    oracle="""
    WITH o AS (
      SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ),
    lat AS (
      SELECT GREATEST(COALESCE(MAX(us) OVER (
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) - us, 0), 0) AS late_us
      FROM o
    ),
    banded AS (
      SELECT CASE
               WHEN late_us = 0 THEN 'a_on_time'
               WHEN late_us < 60000000 THEN 'b_lt_1m'
               WHEN late_us < 600000000 THEN 'c_lt_10m'
               WHEN late_us < 3600000000 THEN 'd_lt_1h'
               ELSE 'e_ge_1h' END AS band
      FROM lat
    ),
    tot AS (SELECT COUNT(*)::BIGINT AS n FROM banded)
    SELECT band, COUNT(*)::BIGINT AS n_events,
           CAST(CAST(COUNT(*) * 1.0 / tot.n AS DECIMAL(18,6))
                AS DOUBLE) AS share
    FROM banded CROSS JOIN tot
    GROUP BY band, tot.n
    """,
)
def events_watermark_lateness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-orderness audit of the event stream: for each event (in
    event_id arrival order), its lateness vs the maximum event time
    already seen, banded into on-time / <1m / <10m / <1h / ≥1h — the
    measurement that tells a streaming deployment WHAT WATERMARK to
    set (the registry's streaming rows use 10 minutes; this query is
    where such a number comes from) and how many rows each candidate
    delay would drop.

    Plan — the global prefix max WITHOUT a global window: event_ids
    bucket by div {LATE_BUCKET}; within-bucket exclusive cummax runs
    partitioned by bucket, cross-bucket carry-in is an exclusive
    prefix max over the tiny per-bucket-maxima frame (|buckets| rows
    — the bounded single-partition window precedent of the daily
    series), broadcast back. Unlike spark_partition_id range
    exchanges, the bucket key is pure arithmetic, so the oracle
    replays the identical semantics with one window. All math is
    exact epoch microseconds."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.expr(f"event_id div {LATE_BUCKET}").alias("bk"),
    )
    wb = (
        Window.partitionBy("bk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = ev.withColumn("in_max", F.max("us").over(wb))
    bmax = ev.groupBy("bk").agg(F.max("us").alias("bmax"))
    wcarry = Window.orderBy("bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bmax.withColumn("carry", F.max("bmax").over(wcarry)).select(
        "bk", "carry"
    )
    lat = (
        within.join(F.broadcast(carry), "bk")
        .select(
            F.greatest(
                F.coalesce(
                    F.greatest(
                        F.coalesce(F.col("in_max"), F.lit(None)),
                        F.coalesce(F.col("carry"), F.lit(None)),
                    )
                    - F.col("us"),
                    F.lit(0),
                ),
                F.lit(0),
            ).alias("late_us")
        )
    )
    banded = lat.select(
        F.expr(
            "CASE WHEN late_us = 0 THEN 'a_on_time'"
            " WHEN late_us < 60000000L THEN 'b_lt_1m'"
            " WHEN late_us < 600000000L THEN 'c_lt_10m'"
            " WHEN late_us < 3600000000L THEN 'd_lt_1h'"
            " ELSE 'e_ge_1h' END"
        ).alias("band")
    )
    tot = banded.agg(F.count(F.lit(1)).alias("n"))
    return (
        banded.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_events",
            F.expr(
                "CAST(CAST(n_events * 1.0 / n AS DECIMAL(18,6))"
                " AS DOUBLE)"
            ).alias("share"),
        )
    )


# ---- rolling active users (exact sliding-window distinct) -------------

# Trailing window width for the WAU face of the DAU/WAU pair.
ROLLING_WINDOW_DAYS = 7


@query(
    "events_rolling_active_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id
      FROM events
    ), days AS (
      SELECT DISTINCT d FROM ud
    ), wau AS (
      SELECT days.d AS day, COUNT(DISTINCT u.user_id)::BIGINT AS wau
      FROM days
      JOIN ud u ON u.d BETWEEN days.d - {ROLLING_WINDOW_DAYS - 1} AND days.d
      GROUP BY days.d
    ), dau AS (
      SELECT d AS day, COUNT(*)::BIGINT AS dau FROM ud GROUP BY d
    )
    SELECT w.day, dau.dau, w.wau,
           CAST(CAST(dau.dau * 1.0 / w.wau AS DECIMAL(18,6)) AS DOUBLE)
             AS stickiness
    FROM wau w JOIN dau ON dau.day = w.day
    """,
)
def events_rolling_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact trailing-7-day distinct active users per observed day
    (WAU), alongside that day's DAU and the DAU/WAU stickiness ratio —
    the product-health staple that is NOT expressible as a window
    function, because COUNT(DISTINCT) over a sliding frame can't be
    decomposed into partial window aggregates.

    Plan (the scale-right shape): activity is first collapsed to
    DISTINCT (day, user) rows — one hash aggregate that shrinks the
    fact table to at most |users|×|days| — then each row is EXPLODED to
    the ≤7 trailing window anchors it contributes to (``sequence`` +
    ``explode``: pure linear fan-out, no range join, no per-day rescan)
    and a second hash aggregate counts distinct users per anchor day.
    The oracle states the same semantics declaratively as a BETWEEN
    range join — the engine plan deliberately avoids that join, which
    would be O(|ud| × |days|) under a nested-loop broadcast.

    Reference has no analytics surface (SURVEY §2c); this extends the
    events family next to ``events_cumulative_distinct_users`` (the
    unbounded-window sibling)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").cast("date").alias("d"), "user_id"
    )
    ud = ev.distinct()
    days = ud.select("d").distinct()
    contrib = ud.select(
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), ROLLING_WINDOW_DAYS - 1)
            )
        ).alias("day"),
        "user_id",
    )
    wau = (
        contrib.join(days, contrib["day"] == days["d"], "leftsemi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    return wau.join(dau, "day").select(
        "day",
        "dau",
        "wau",
        F.expr(
            "CAST(CAST(dau * 1.0 / wau AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("stickiness"),
    )


# ---- session path mining (top event-type trigrams) ---------------------

PATH_TOP_K = 25


@query(
    "events_session_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('second',
                                 LAG(CAST(ts AS TIMESTAMP)) OVER w,
                                 CAST(ts AS TIMESTAMP)) > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM seq
    ), tri AS (
      SELECT event_type AS s1,
             LEAD(event_type, 1) OVER v AS s2,
             LEAD(event_type, 2) OVER v AS s3
      FROM sess
      WINDOW v AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    )
    SELECT s1 || '>' || s2 || '>' || s3 AS path,
           COUNT(*)::BIGINT AS n_occurrences
    FROM tri
    WHERE s3 IS NOT NULL
    GROUP BY 1
    ORDER BY n_occurrences DESC, path ASC
    LIMIT {PATH_TOP_K}
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, the n-gram-over-behavior face: the
    top-{PATH_TOP_K} most common 3-step event-type paths WITHIN a
    session (30-min inactivity sessions, the ``events_sessionize``
    definition reused verbatim) — the "what do users actually do"
    readout one step richer than the first-order
    ``events_transition_matrix`` (trigrams see view>view>purchase vs
    click>view>purchase; a Markov chain cannot).

    Plan: ONE shuffle on user_id serves both the session-id running
    sum and the per-session LEAD pair (same partition key, compatible
    orderings); trigram counting is a partial+final hash aggregate on
    the path string, and the top-K finishes as TakeOrdered — no global
    sort. At 100 TB the trigram key space is |event_types|³ (tiny), so
    the aggregate collapses map-side."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = ev.withColumn(
        "is_new_session",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > SESSION_GAP_SEC), 1
        ).otherwise(0),
    ).withColumn("session_id", F.sum("is_new_session").over(wrun))
    v = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    tri = sess.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(v).alias("s2"),
        F.lead("event_type", 2).over(v).alias("s3"),
    )
    return (
        tri.filter(F.col("s3").isNotNull())
        .select(
            F.concat_ws(">", "s1", "s2", "s3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(PATH_TOP_K)
    )


# ---- growth accounting (new / retained / resurrected) ------------------

# A user active on day d is NEW (first-ever day), RETAINED (also
# active on d-1), or RESURRECTED (gap from their previous active day
# is >= 2 days). The daily triple is the canonical growth-accounting
# decomposition (every active user falls in exactly one class).


@query(
    "events_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events
    ), lagged AS (
      SELECT user_id, d,
             LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
      FROM ud
    )
    SELECT d AS day,
           COUNT(*)::BIGINT AS n_active,
           COUNT(*) FILTER (WHERE prev_d IS NULL)::BIGINT AS n_new,
           COUNT(*) FILTER (WHERE prev_d = d - 1)::BIGINT AS n_retained,
           COUNT(*) FILTER (WHERE prev_d IS NOT NULL
                            AND prev_d < d - 1)::BIGINT AS n_resurrected
    FROM lagged
    GROUP BY d
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: every active user classified as NEW
    (first-ever day), RETAINED (also active the previous calendar
    day), or RESURRECTED (returned after a gap) — the
    new/retained/resurrected decomposition product teams track, and
    the per-day complement of the cohort triangle
    (``events_daily_retention``) and the rolling-window pair
    (``events_rolling_active_users``).

    Plan: distinct (user, day) collapse, ONE lag window over the
    per-user day sequence (same user_id shuffle), one hash aggregate
    on day. Classes are exact date arithmetic — mutually exclusive
    and exhaustive by construction, so n_active ≡ new + retained +
    resurrected row-by-row (the oracle hash checks all four)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").cast("date").alias("d")
    )
    ud = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    lagged = ud.withColumn("prev_d", F.lag("d").over(w))
    return lagged.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("n_active"),
        F.count_if(F.col("prev_d").isNull()).alias("n_new"),
        F.count_if(F.col("prev_d") == F.date_sub(F.col("d"), 1)).alias(
            "n_retained"
        ),
        F.count_if(
            F.col("prev_d").isNotNull()
            & (F.col("prev_d") < F.date_sub(F.col("d"), 1))
        ).alias("n_resurrected"),
    )


# ---- inter-arrival time histogram ---------------------------------------

# Fixed power-of-ten microsecond buckets (CASE ladder — engine-exact,
# no float log10): the operational latency profile of the event bus.
_IAT_TOPS_US = (
    1_000_000,        # < 1s
    10_000_000,       # < 10s
    60_000_000,       # < 1m
    600_000_000,      # < 10m
    3_600_000_000,    # < 1h
)
_IAT_LABELS = ("a_lt_1s", "b_lt_10s", "c_lt_1m", "d_lt_10m", "e_lt_1h")


def _iat_bucket_case(col: str) -> str:
    arms = " ".join(
        f"WHEN {col} < {hi} THEN '{lab}'"
        for hi, lab in zip(_IAT_TOPS_US, _IAT_LABELS)
    )
    return f"CASE {arms} ELSE 'f_ge_1h' END"


@query(
    "events_interarrival_histogram",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP))
             - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT event_type,
           {_iat_bucket_case('gap_us')} AS bucket,
           COUNT(*)::BIGINT AS n_gaps,
           MIN(gap_us)::BIGINT AS min_gap_us,
           MAX(gap_us)::BIGINT AS max_gap_us
    FROM seq
    WHERE gap_us IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_interarrival_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user inter-arrival-time histogram by event type — the
    operational profile that sizes session gaps, watermark delays,
    and state TTLs (the measurement behind the 30-min session
    constant and ``events_watermark_lateness_audit``'s bands).
    Buckets are a fixed power-of-ten CASE ladder over EXACT event-time
    microseconds — no float log, engine-identical.

    Plan: one lag window on the user_id shuffle (ordered by ts,
    event_id — the house total-order tiebreak), a codegen CASE in the
    projection, one partial+final hash aggregate on a ≤ 6×|types| key
    space."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "event_type",
        (us - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )
    return (
        seq.filter(F.col("gap_us").isNotNull())
        .groupBy(
            "event_type",
            F.expr(_iat_bucket_case("gap_us")).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


# ---- SCD2 point-in-time lookup join -------------------------------------


@query(
    "join_scd2_pit_status",
    oracle="""
    WITH dim_src AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE event_type <> 'purchase'
    ), ordered AS (
      SELECT user_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_type
      FROM dim_src
    ), islands AS (
      SELECT user_id, event_type, MIN(ts) AS valid_from
      FROM ordered GROUP BY user_id, event_type, rn - rn_type
    ), dim AS (
      SELECT user_id, event_type AS status, valid_from,
             LEAD(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from) AS valid_to
      FROM islands
    ), fact AS (
      SELECT event_id AS purchase_id, user_id,
             CAST(ts AS TIMESTAMP) AS purchase_ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.purchase_id, f.user_id, f.purchase_ts,
           d.status, d.valid_from AS status_since,
           CAST(f.value AS DOUBLE) AS amount
    FROM fact f
    JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from <= f.purchase_ts
     AND (d.valid_to IS NULL OR f.purchase_ts < d.valid_to)
    """,
)
def join_scd2_pit_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 point-in-time LOOKUP join — the read side of the
    type-2 dimension ``events_status_intervals`` builds: every
    purchase event joined to the user's non-purchase status interval
    valid AT purchase time ("what state was the user in when they
    bought"), i.e. the ``FOR SYSTEM_TIME AS OF`` pattern every
    temporal warehouse query uses against an SCD2 dimension.

    Correctness: the intervals PARTITION each user's timeline from
    their first non-purchase event (valid_from inclusive, valid_to
    exclusive, NULL while current — the same convention the interval
    builder pins), so every joined purchase matches EXACTLY one
    version; purchases before a user's first status event drop out of
    the inner join, deterministically.

    Scale: the join is an EQUI join on user_id with the validity
    range as a residual condition — fan-out bounded by
    versions-per-user (never a nested loop; at 100 TB the dimension
    side is the small one and broadcasts, or both sides co-shuffle on
    the user key). The two row_number windows share one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    dim_src = ev.filter(F.col("event_type") != "purchase")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    ordered = dim_src.select(
        "user_id",
        "event_type",
        "ts",
        (F.row_number().over(wo) - F.row_number().over(wt)).alias("grp"),
    )
    islands = ordered.groupBy("user_id", "event_type", "grp").agg(
        F.min("ts").alias("valid_from")
    )
    wl = Window.partitionBy("user_id").orderBy("valid_from")
    dim = islands.select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("status"),
        "valid_from",
        F.lead("valid_from").over(wl).alias("valid_to"),
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    return (
        fact.join(
            dim,
            (F.col("d_user") == F.col("user_id"))
            & (F.col("valid_from") <= F.col("purchase_ts"))
            & (
                F.col("valid_to").isNull()
                | (F.col("purchase_ts") < F.col("valid_to"))
            ),
        )
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "status",
            F.col("valid_from").alias("status_since"),
            F.col("value").cast("double").alias("amount"),
        )
    )


# ---- event-stream transition contract ------------------------------------

# The allowed state machine for a user's event sequence — the
# data-contract face of the Markov matrix (events_transition_matrix
# MEASURES transition frequencies; this query ENFORCES which ones are
# legal). 'error' is a legal target from anywhere but may only be
# followed by a fresh 'view' (recovery restarts the funnel).
_ALLOWED_TRANSITIONS = (
    ("view", "view"), ("view", "click"), ("view", "purchase"),
    ("view", "error"),
    ("click", "view"), ("click", "click"), ("click", "purchase"),
    ("click", "error"),
    ("purchase", "view"), ("purchase", "error"),
    ("error", "view"),
    ("signup", "view"), ("view", "signup"), ("signup", "error"),
)


def _allowed_pairs_sql() -> str:
    return ", ".join(f"('{a}', '{b}')" for a, b in _ALLOWED_TRANSITIONS)


@query(
    "events_transition_contract",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS to_state,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_state
      FROM events
    ), pairs AS (
      SELECT from_state, to_state FROM seq WHERE from_state IS NOT NULL
    ), allowed AS (
      SELECT * FROM (VALUES {_allowed_pairs_sql()})
        AS t(from_state, to_state)
    )
    SELECT p.from_state, p.to_state,
           COUNT(*)::BIGINT AS n_transitions,
           a.from_state IS NOT NULL AS is_allowed
    FROM pairs p
    LEFT JOIN allowed a
      ON a.from_state = p.from_state AND a.to_state = p.to_state
    GROUP BY 1, 2, 4
    """,
)
def events_transition_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-stream transition CONTRACT: every observed consecutive
    (from → to) event-type pair per user, counted and flagged against
    the declared legal state machine — the stream-quality gate that
    catches instrumentation bugs (double-fired purchases, error loops)
    the moment they ship, the enforcement face of
    ``events_transition_matrix``'s measurement.

    Plan: one lag window on the user_id shuffle, a hash aggregate on
    the ≤ |types|² key space, and the allowed set as a broadcast
    LEFT-JOINed literal VALUES table (identical table in the oracle) —
    at 100 TB the contract check is one extra broadcast probe on a
    frame that is already tiny after aggregation."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("to_state"),
        F.lag("event_type").over(w).alias("from_state"),
    ).filter(F.col("from_state").isNotNull())
    counted = seq.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    allowed = local_frame(
        spark, list(_ALLOWED_TRANSITIONS), "a_from string, a_to string"
    )
    return (
        counted.join(
            F.broadcast(allowed),
            (F.col("a_from") == F.col("from_state"))
            & (F.col("a_to") == F.col("to_state")),
            "left",
        )
        .select(
            "from_state",
            "to_state",
            "n_transitions",
            F.col("a_from").isNotNull().alias("is_allowed"),
        )
    )


# ---- DAU/MAU stickiness ---------------------------------------------------


@query(
    "events_user_stickiness",
    oracle="""
    WITH d AS (
      SELECT date_trunc('month', CAST(ts AS TIMESTAMP)) AS month,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(DISTINCT user_id)::BIGINT AS dau
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT date_trunc('month', CAST(ts AS TIMESTAMP)) AS month,
             COUNT(DISTINCT user_id)::BIGINT AS mau
      FROM events GROUP BY 1
    ),
    dm AS (
      SELECT month, SUM(dau)::BIGINT AS dau_sum,
             COUNT(*)::BIGINT AS n_days
      FROM d GROUP BY month
    )
    SELECT CAST(dm.month AS TIMESTAMP) AS month,
           dm.n_days, dm.dau_sum, m.mau,
           CAST(CAST(
             CAST(dm.dau_sum AS DOUBLE) / dm.n_days / m.mau
             AS DECIMAL(18,9)) AS DOUBLE) AS stickiness
    FROM dm JOIN m USING (month)
    """,
)
def events_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — mean daily-active users divided
    by monthly-active users, the engagement ratio product analytics
    tracks next to the growth-accounting flows
    (``events_growth_accounting``): retention says users come BACK,
    stickiness says how much of the month they stay.

    Exactness: both actives are exact DISTINCT counts; the ratio is
    one fixed double chain over exact ints pinned DECIMAL(18,9).

    Plan & scale: two exact count-distincts — (month, day, user) and
    (month, user) — each a two-level hash aggregate that partials on
    the composite key before counting (Spark rewrites count(DISTINCT)
    through the grouped expand), then a ~#months join. No window, no
    driver math; the day-level frame is the bigger shuffle and is
    bounded by days × daily actives, not events."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("month", "ts").alias("month"),
        F.col("ts").cast("date").alias("day"),
        "user_id",
    )
    d = ev.groupBy("month", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    m = ev.groupBy("month").agg(
        F.countDistinct("user_id").alias("mau")
    )
    dm = d.groupBy("month").agg(
        F.sum("dau").alias("dau_sum"), F.count(F.lit(1)).alias("n_days")
    )
    return dm.join(m, "month").select(
        "month",
        "n_days",
        "dau_sum",
        "mau",
        F.expr(
            "CAST(CAST(CAST(dau_sum AS DOUBLE) / n_days / mau"
            " AS DECIMAL(18,9)) AS DOUBLE)"
        ).alias("stickiness"),
    )


# ---- Markov entropy rate ----------------------------------------------------


@query(
    "events_markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), c AS (
      SELECT prev_type, event_type AS next_type, COUNT(*)::BIGINT AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), tot AS (
      SELECT prev_type, SUM(n)::BIGINT AS row_total FROM c GROUP BY 1
    ), g AS (SELECT SUM(n)::BIGINT AS grand FROM c),
    terms AS (
      SELECT c.n,
             CAST(CAST(c.n AS DOUBLE) / g.grand
               * CAST(CAST(ln(CAST(c.n AS DOUBLE) / t.row_total)
                      AS DECIMAL(18,9)) AS DOUBLE)
               AS DECIMAL(18,9)) AS h_term
      FROM c JOIN tot t USING (prev_type) CROSS JOIN g
    )
    SELECT (SELECT grand FROM g) AS n_transitions,
           (SELECT COUNT(*)::BIGINT FROM c) AS n_observed_cells,
           CAST(CAST(-SUM(h_term) AS DECIMAL(18,9)) AS DOUBLE)
             AS entropy_rate_nats
    FROM terms
    """,
)
def events_markov_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entropy rate of the first-order behavior Markov chain —
    H = −Σ_{ij} π̂_i P̂_ij ln P̂_ij with the empirical stationary
    weights (π̂_i P̂_ij = c_ij / C), i.e. the average per-step
    unpredictability of user behavior in nats. The one-number
    compression of ``events_transition_matrix``: a falling entropy
    rate means behavior is becoming scripted (bots, loops); rising
    means navigation chaos — the drift alarm for behavioral models
    trained on yesterday's matrix.

    Exactness: counts exact; each cell contributes ONE fixed chain —
    ratio-to-grand × pinned ln(ratio-to-row) — pinned DECIMAL(18,9)
    per term (the KM ln-term precedent), summed exactly, negated
    once. Zero-probability cells simply don't exist in the empirical
    counts, so no log-of-zero guards are needed in either dialect.

    Plan: the SAME one window pass + |types|² aggregate as the
    transition matrix (lag over the user timeline), then 1-row
    finishes — scale cost identical to the matrix it summarizes."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    c = c.persist()
    tot = c.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    g = c.agg(F.sum("n").alias("grand"))
    cells = c.agg(F.count(F.lit(1)).alias("n_observed_cells"))
    terms = (
        c.join(tot, "prev_type")
        .crossJoin(F.broadcast(g))
        .select(
            F.expr(
                "CAST(CAST(n AS DOUBLE) / grand"
                " * CAST(CAST(ln(CAST(n AS DOUBLE) / row_total)"
                "   AS DECIMAL(18,9)) AS DOUBLE)"
                " AS DECIMAL(18,9))"
            ).alias("h_term")
        )
    )
    out = (
        terms.agg(
            F.expr(
                "CAST(CAST(-SUM(h_term) AS DECIMAL(18,9)) AS DOUBLE)"
            ).alias("entropy_rate_nats")
        )
        .crossJoin(F.broadcast(g.select(F.col("grand").alias("n_transitions"))))
        .crossJoin(F.broadcast(cells))
        .select("n_transitions", "n_observed_cells", "entropy_rate_nats")
    )
    return out


# ---- bot-detection heuristic screen ----------------------------------------


def _bot_sql(table: str, bigint: str) -> str:
    """Shared bot-screen text: three per-user heuristics — event
    rate (> 20/day via integer cross-multiplication), inter-arrival
    REGULARITY (pinned CV < 0.5 with ≥ 10 gaps: human traffic is
    bursty, schedulers are metronomes), and low event-type entropy
    (pinned < 0.5 nats with ≥ 10 events: single-action loops)."""
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts,
             LAG(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM {table}
    ),
    gaps AS (
      SELECT user_id,
             CAST(SUM(epoch_us(ts) - epoch_us(prev_ts)) AS DECIMAL(38,0))
               AS s,
             SUM(CAST(epoch_us(ts) - epoch_us(prev_ts) AS DECIMAL(38,0))
                 * (epoch_us(ts) - epoch_us(prev_ts))) AS q,
             CAST(COUNT(*) AS {bigint}) AS n_gaps
      FROM seq WHERE prev_ts IS NOT NULL
      GROUP BY user_id
    ),
    activity AS (
      SELECT user_id,
             CAST(COUNT(*) AS {bigint}) AS n_events,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS {bigint})
               AS active_days
      FROM seq GROUP BY user_id
    ),
    tc AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS {bigint}) AS c
      FROM seq GROUP BY 1, 2
    ),
    ent AS (
      SELECT tc.user_id,
             SUM(CAST(
               -(CAST(tc.c AS DOUBLE) / a.n_events)
               * CAST(CAST(ln(CAST(tc.c AS DOUBLE) / a.n_events)
                      AS DECIMAL(18,9)) AS DOUBLE)
               AS DECIMAL(18,9))) AS h
      FROM tc JOIN activity a ON a.user_id = tc.user_id
      GROUP BY tc.user_id
    ),
    flags AS (
      SELECT a.user_id,
             CASE WHEN a.n_events > 20 * a.active_days
                  THEN 1 ELSE 0 END AS f_rate,
             CASE WHEN g.n_gaps >= 10 AND g.s > 0 AND CAST(CAST(
                    sqrt((CAST(g.q AS DOUBLE)
                          - (CAST(g.s AS DOUBLE) / g.n_gaps)
                            * CAST(g.s AS DOUBLE))
                         / (g.n_gaps - 1))
                    / (CAST(g.s AS DOUBLE) / g.n_gaps)
                    AS DECIMAL(18,6)) AS DOUBLE)
                    < CAST(0.5 AS DOUBLE)
                  THEN 1 ELSE 0 END AS f_regular,
             CASE WHEN a.n_events >= 10 AND CAST(CAST(ent.h
                    AS DECIMAL(18,6)) AS DOUBLE) < CAST(0.5 AS DOUBLE)
                  THEN 1 ELSE 0 END AS f_lowentropy
      FROM activity a
      LEFT JOIN gaps g ON g.user_id = a.user_id
      LEFT JOIN ent ON ent.user_id = a.user_id
    )
    SELECT CAST(COUNT(*) AS {bigint}) AS n_users,
           CAST(SUM(f_rate) AS {bigint}) AS n_rate_flagged,
           CAST(SUM(f_regular) AS {bigint}) AS n_regular_flagged,
           CAST(SUM(f_lowentropy) AS {bigint}) AS n_lowentropy_flagged,
           CAST(SUM(CASE WHEN f_rate + f_regular + f_lowentropy >= 2
                    THEN 1 ELSE 0 END) AS {bigint}) AS n_bot_suspects
    FROM flags
    """


@query(
    "events_bot_score",
    oracle=_bot_sql("events", "BIGINT"),
)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-detection heuristic screen — the behavioral hygiene filter
    a web-scale training-data pipeline runs BEFORE its text filters
    (bot sessions produce exactly the repetitive content the dedup
    ladder then has to delete): per user, three cheap tells — event
    rate over 20/day, metronome-regular inter-arrivals (CV < 0.5
    over ≥ 10 gaps), and low action entropy (< 0.5 nats over ≥ 10
    events) — rolled up as flag counts plus the ≥2-of-3 suspect
    count. Composes the repo's measurement primitives
    (``events_interarrival_histogram``'s exact-µs gaps,
    ``events_markov_entropy_rate``'s pinned ln terms) into a verdict.

    Exactness: counts and µs gap moments are exact integers (Σx² in
    DECIMAL(38,0) — month-scale gaps square past BIGINT); the CV and
    entropy are fixed chains over exact moments, PINNED DECIMAL(18,6)
    before their threshold comparison, so every flag is bit-agreed.

    Plan: one user-partitioned window pass (shared sort for lag)
    feeds three per-user aggregates joined on user_id, then a 1-row
    rollup — nothing wider than the per-user frame after the scan."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("bot_events")
    return spark.sql(
        _bot_sql("bot_events", "BIGINT").replace(
            "epoch_us(ts)", "unix_micros(ts)"
        ).replace("epoch_us(prev_ts)", "unix_micros(prev_ts)")
    )


# ---- weekly cohort retention triangle ---------------------------------------


def _cohort_sql(table: str, bigint: str, weekstart: str) -> str:
    """Shared cohort-triangle text: cohort = ISO week of a user's
    first event; cell (cohort, weeks_since) = distinct users active."""
    return f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             {weekstart.replace('XCOL', 'ts')} AS wk
      FROM {table}
    ),
    first_wk AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id
    ),
    cohort_n AS (
      SELECT cohort_wk, CAST(COUNT(*) AS {bigint}) AS cohort_size
      FROM first_wk GROUP BY cohort_wk
    ),
    active AS (
      SELECT f.cohort_wk,
             CAST(datediff('day', CAST(f.cohort_wk AS DATE),
                           CAST(e.wk AS DATE)) / 7 AS {bigint})
               AS weeks_since,
             CAST(COUNT(DISTINCT e.user_id) AS {bigint}) AS n_active
      FROM ev e JOIN first_wk f ON f.user_id = e.user_id
      GROUP BY 1, 2
    )
    SELECT CAST(a.cohort_wk AS TIMESTAMP) AS cohort_week,
           a.weeks_since,
           c.cohort_size,
           a.n_active,
           CAST(CAST(
             CAST(a.n_active AS DOUBLE) / c.cohort_size
             AS DECIMAL(18,9)) AS DOUBLE) AS retention_rate
    FROM active a JOIN cohort_n c ON c.cohort_wk = a.cohort_wk
    """


@query(
    "events_cohort_retention_matrix",
    oracle=_cohort_sql(
        "events",
        "BIGINT",
        "date_trunc('week', CAST(XCOL AS TIMESTAMP))",
    ),
)
def events_cohort_retention_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The weekly COHORT RETENTION TRIANGLE — every user assigned to
    the ISO week of their first event, every (cohort, weeks-since)
    cell counting distinct users still active — the canonical
    retention readout (``events_daily_retention`` is one diagonal of
    this matrix; ``events_growth_accounting`` is its day-over-day
    flow derivative; this is the full triangle a growth review pins
    on the wall).

    Exactness: cohorts and week offsets are exact date arithmetic
    (both engines truncate to the ISO Monday); cell counts are exact
    DISTINCT aggregates; the rate is one exact-int division pinned
    DECIMAL(18,9).

    Plan: one scan → per-user MIN (first week), joined back on
    user_id (co-partitioned with the distinct aggregate's shuffle),
    then a (cohort × weeks) distinct count — the cohort dimension is
    bounded by the horizon in weeks, so the output is tiny while
    every aggregate partials map-side."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("week", "ts").alias("wk"),
    )
    first_wk = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    cohort_n = first_wk.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    active = (
        ev.join(first_wk, "user_id")
        .groupBy(
            "cohort_wk",
            (
                F.datediff(
                    F.col("wk").cast("date"),
                    F.col("cohort_wk").cast("date"),
                )
                / 7
            )
            .cast("bigint")
            .alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return active.join(F.broadcast(cohort_n), "cohort_wk").select(
        F.col("cohort_wk").alias("cohort_week"),
        "weeks_since",
        "cohort_size",
        "n_active",
        F.expr(
            "CAST(CAST(CAST(n_active AS DOUBLE) / cohort_size"
            " AS DECIMAL(18,9)) AS DOUBLE)"
        ).alias("retention_rate"),
    )


# ---- CUPED variance-reduced A/B readout -------------------------------


def _cuped_sql(
    table: str, bigint: str, h60, epoch_us: str, intdiv: str
) -> str:
    """Shared CUPED text. Pre/post split at the integer-µs midpoint
    of the observed time range (exact integer arithmetic); per-user
    pre-period revenue x is the covariate, post-period revenue y the
    metric; θ = cov(x,y)/var(x) POOLED (the standard CUPED
    estimator), pinned DECIMAL(18,9); per-arm adjusted variances
    var(y) − 2θcov(x,y) + θ²var(x) come from the six exact decimal
    moments per arm through one fixed chain each."""
    grp = f"{h60} % 2"
    return f"""
    WITH span AS (
      SELECT (MIN({epoch_us}) + MAX({epoch_us})) {intdiv} 2 AS mid_us
      FROM {table}
    ),
    per_user AS (
      SELECT user_id, {grp} AS grp,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                       AND {epoch_us} < span.mid_us
                       THEN CAST(value AS DECIMAL(18,6)) END),
                      0) AS x,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                       AND {epoch_us} >= span.mid_us
                       THEN CAST(value AS DECIMAL(18,6)) END),
                      0) AS y
      FROM {table} CROSS JOIN span
      GROUP BY user_id, span.mid_us
    ),
    mo AS (
      SELECT grp,
             CAST(COUNT(*) AS {bigint}) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM per_user GROUP BY grp
    ),
    pooled AS (
      SELECT CAST(SUM(n) AS {bigint}) AS np,
             SUM(sx) AS px, SUM(sy) AS py,
             SUM(sxx) AS pxx, SUM(syy) AS pyy, SUM(sxy) AS pxy
      FROM mo
    ),
    theta AS (
      SELECT np, px, py,
             CAST((pxy - px * py / np) / (pxx - px * px / np)
                  AS DECIMAL(18,9)) AS th,
             CAST(CAST(
               ((pxy - px * py / np) * (pxy - px * py / np))
               / ((pxx - px * px / np) * (pyy - py * py / np))
               AS DECIMAL(18,6)) AS DOUBLE) AS rho2
      FROM pooled
    ),
    w AS (
      SELECT
        (SELECT n FROM mo WHERE grp = 0) AS n_a,
        (SELECT n FROM mo WHERE grp = 1) AS n_b,
        (SELECT sx FROM mo WHERE grp = 0) AS sx_a,
        (SELECT sx FROM mo WHERE grp = 1) AS sx_b,
        (SELECT sy FROM mo WHERE grp = 0) AS sy_a,
        (SELECT sy FROM mo WHERE grp = 1) AS sy_b,
        (SELECT sxx FROM mo WHERE grp = 0) AS sxx_a,
        (SELECT sxx FROM mo WHERE grp = 1) AS sxx_b,
        (SELECT syy FROM mo WHERE grp = 0) AS syy_a,
        (SELECT syy FROM mo WHERE grp = 1) AS syy_b,
        (SELECT sxy FROM mo WHERE grp = 0) AS sxy_a,
        (SELECT sxy FROM mo WHERE grp = 1) AS sxy_b,
        (SELECT CAST(th AS DOUBLE) FROM theta) AS th,
        (SELECT rho2 FROM theta) AS rho2,
        (SELECT pooled.px / pooled.np FROM pooled) AS xbar
    )
    SELECT n_a, n_b,
           CAST(CAST(sy_b / n_b - sy_a / n_a AS DECIMAL(18,6))
                AS DOUBLE) AS raw_diff,
           CAST(CAST(th AS DECIMAL(18,6)) AS DOUBLE) AS theta,
           rho2,
           CAST(CAST(
             (sy_b / n_b - th * (sx_b / n_b - xbar))
             - (sy_a / n_a - th * (sx_a / n_a - xbar))
             AS DECIMAL(18,6)) AS DOUBLE) AS cuped_diff,
           CAST(CAST(
             ((sy_b / n_b - th * (sx_b / n_b - xbar))
              - (sy_a / n_a - th * (sx_a / n_a - xbar)))
             / sqrt(
                 (((syy_a - n_a * ((sy_a / n_a) * (sy_a / n_a)))
                     / (n_a - 1)
                   - 2 * th * ((sxy_a - n_a * ((sx_a / n_a)
                       * (sy_a / n_a))) / (n_a - 1))
                   + th * th * ((sxx_a - n_a * ((sx_a / n_a)
                       * (sx_a / n_a))) / (n_a - 1))) / n_a)
                 + (((syy_b - n_b * ((sy_b / n_b) * (sy_b / n_b)))
                     / (n_b - 1)
                   - 2 * th * ((sxy_b - n_b * ((sx_b / n_b)
                       * (sy_b / n_b))) / (n_b - 1))
                   + th * th * ((sxx_b - n_b * ((sx_b / n_b)
                       * (sx_b / n_b))) / (n_b - 1))) / n_b))
             AS DECIMAL(18,6)) AS DOUBLE) AS cuped_z
    FROM w
    """


@query("events_ab_cuped_adjusted", oracle=None)
def events_ab_cuped_adjusted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker,
    WSDM'13): the same hash-bucketed arms as ``events_ab_test_lift``,
    but the post-period per-user revenue is adjusted by the
    PRE-period revenue covariate — y′ = y − θ(x − x̄),
    θ = cov(x,y)/var(x) pooled — which removes the between-user
    variance the experiment didn't randomize, shrinking the standard
    error by the factor (1 − ρ²). The report carries both the raw
    and the CUPED difference with the adjusted Welch z, and ρ² = the
    fraction of metric variance the covariate explains (the
    experimentation-platform knob: ρ² ≈ 0.5 means half the required
    sample size).

    Exactness: the pre/post boundary is the exact integer-µs
    midpoint of the observed span (a 1-row broadcast); per-user x, y
    are exact decimal sums from ONE conditional pass; the six
    per-arm moments pin every float square/cross-product at
    DECIMAL(38,6) (the r8 overflow rule); θ pinned DECIMAL(18,9)
    before it enters any chain; raw/adjusted diffs and z are fixed
    chains pinned DECIMAL(18,6).

    Plan: one scan → per-user conditional aggregate (one shuffle) →
    2-group moment aggregate → 1-row reshape. Identical scale shape
    to the unadjusted readout — CUPED costs one extra column."""
    from .textops import hash60_spark

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("cuped_events")
    return spark.sql(
        _cuped_sql(
            "cuped_events",
            "BIGINT",
            hash60_spark("CAST(user_id AS STRING)"),
            "unix_micros(ts)",
            "DIV",
        )
    )


def _register_cuped_oracle() -> None:
    from .registry import ORACLES
    from .textops import hash60_duck

    ORACLES["events_ab_cuped_adjusted"] = _cuped_sql(
        "events",
        "BIGINT",
        hash60_duck("CAST(user_id AS VARCHAR)"),
        "epoch_us(CAST(ts AS TIMESTAMP))",
        "//",
    )


_register_cuped_oracle()


# ---- Allen interval-relation census -----------------------------------


_ALLEN_CASE = """CASE
  WHEN a_s = b_s AND a_e = b_e THEN 'equals'
  WHEN a_e = b_s THEN 'a_meets_b'
  WHEN b_e = a_s THEN 'b_meets_a'
  WHEN a_s = b_s AND a_e < b_e THEN 'a_starts_b'
  WHEN a_s = b_s AND a_e > b_e THEN 'b_starts_a'
  WHEN a_e = b_e AND a_s > b_s THEN 'a_finishes_b'
  WHEN a_e = b_e AND a_s < b_s THEN 'b_finishes_a'
  WHEN a_s > b_s AND a_e < b_e THEN 'a_during_b'
  WHEN a_s < b_s AND a_e > b_e THEN 'b_during_a'
  WHEN a_s < b_s THEN 'a_overlaps_b'
  ELSE 'b_overlaps_a'
END"""


@query(
    "events_allen_interval_relations",
    oracle=_SESSIONS_IV_DUCK
    + f"""
    , pairs AS (
      SELECT a.s_us AS a_s, a.e_us AS a_e,
             b.s_us AS b_s, b.e_us AS b_e
      FROM iv a JOIN iv b
        ON a.user_id < b.user_id
       AND a.s_us <= b.e_us AND b.s_us <= a.e_us
    )
    SELECT {_ALLEN_CASE} AS relation,
           COUNT(*)::BIGINT AS n_pairs,
           CAST(SUM(LEAST(a_e, b_e) - GREATEST(a_s, b_s))
                AS BIGINT) AS total_overlap_us
    FROM pairs GROUP BY 1
    """,
)
def events_allen_interval_relations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Census of ALLEN'S INTERVAL RELATIONS (Allen 1983 — the
    thirteen-relation temporal algebra) over concurrently-active
    session pairs: every overlapping pair is classified into
    equals / meets / starts / finishes / during / overlaps (both
    directions, pair ordered by user id), with pair counts and total
    overlap time per relation. The semantic layer on top of
    ``events_interval_overlap_join``'s raw pair list: 'during'-heavy
    concurrency means short sessions nesting inside long ones
    (background tabs), 'overlaps'-heavy means staggered live usage —
    different capacity stories a single overlap count conflates.
    Disjoint relations (before/after, and meets except at exact
    microsecond adjacency) can't appear — the join keeps only
    overlapping pairs; the CASE still names meets for boundary-exact
    pairs so the census is honest about touching endpoints.

    Exactness: bounds are exact epoch microseconds; the CASE ladder
    has a fixed precedence written identically in both dialects;
    counts and overlap sums are exact integers.

    Plan: the pair list comes from the registered BUCKETED overlap
    join (never a nested loop), re-decorated with interval bounds by
    two (user, session)-keyed hash joins against the session frame;
    the census is a ≤11-group aggregate."""
    pairs = events_interval_overlap_join(spark, sf_dir)
    iv = session_intervals(spark, sf_dir)
    a = iv.select(
        F.col("user_id").alias("ua"),
        F.col("session_id").alias("sa"),
        F.col("s_us").alias("a_s"),
        F.col("e_us").alias("a_e"),
    )
    b = iv.select(
        F.col("user_id").alias("ub"),
        F.col("session_id").alias("sb"),
        F.col("s_us").alias("b_s"),
        F.col("e_us").alias("b_e"),
    )
    dec = (
        pairs.join(
            a,
            (F.col("ua") == F.col("user_a"))
            & (F.col("sa") == F.col("session_a")),
        )
        .join(
            b,
            (F.col("ub") == F.col("user_b"))
            & (F.col("sb") == F.col("session_b")),
        )
        .select("a_s", "a_e", "b_s", "b_e")
    )
    return dec.groupBy(
        F.expr(_ALLEN_CASE).alias("relation")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.least("a_e", "b_e") - F.greatest("a_s", "b_s")
        )
        .cast("bigint")
        .alias("total_overlap_us"),
    )


# ---- inter-arrival burstiness index -----------------------------------


def _burstiness_sql(table: str, bigint: str, epoch_us: str) -> str:
    """Shared burstiness text: per-(user, type) inter-arrival gaps in
    exact integer microseconds (one lag pass), then per-type moments
    as exact DECIMAL(38,0) sums; σ rides the exact n·Σx²−(Σx)²
    integer numerator (the ``embedding_dim_stats`` variance rule) so
    the only float ops are one sqrt and the closing ratios."""
    return f"""
    WITH gaps AS (
      SELECT event_type,
             {epoch_us} - LAG({epoch_us}) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id
             ) AS gap_us
      FROM {table}
    ),
    mo AS (
      SELECT event_type,
             CAST(COUNT(*) AS {bigint}) AS n,
             CAST(SUM(CAST(gap_us AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS s1,
             CAST(SUM(CAST(gap_us AS DECIMAL(38,0))
                      * CAST(gap_us AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS s2
      FROM gaps WHERE gap_us IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type,
           n AS n_gaps,
           CAST(CAST(CAST(s1 AS DOUBLE) / n / 1000000
                AS DECIMAL(18,6)) AS DOUBLE) AS mean_gap_sec,
           CAST(CAST(
             sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(s1 AS DOUBLE)
             AS DECIMAL(18,6)) AS DOUBLE) AS cv,
           CAST(CAST(
             (sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / n
                - CAST(s1 AS DOUBLE) / n)
             / (sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / n
                + CAST(s1 AS DOUBLE) / n)
             AS DECIMAL(18,6)) AS DOUBLE) AS burstiness
    FROM mo
    """


@query(
    "events_burstiness_index",
    oracle=_burstiness_sql(
        "events", "BIGINT", "epoch_us(CAST(ts AS TIMESTAMP))"
    ),
)
def events_burstiness_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Burstiness of each event type's arrival process:
    B = (σ−μ)/(σ+μ) over per-user inter-arrival gaps (Goh & Barabási
    2008) with the coefficient of variation σ/μ alongside — B ≈ −1
    for metronome-regular arrivals, 0 for Poisson, → 1 for heavy
    bursts. The one-number process summary over
    ``events_interarrival_histogram``'s banded table, and the
    population-level complement of ``events_bot_score``'s per-user
    regularity flag: a whole TYPE drifting toward −1 means
    machine-generated traffic took over the stream; drifting toward
    1 breaks the watermark/state-TTL sizing the histogram informed.

    Exactness: gaps are exact integer microseconds from one lag
    pass; per-type (n, Σx, Σx²) are exact DECIMAL(38,0) sums (a gap
    of a year is ~3e13 µs, squared ~1e27 — inside 38 digits with
    room); the variance numerator n·Σx²−(Σx)² is computed in DOUBLE
    on those exact sums (the DECIMAL product would need ~2x38
    digits at a 100x corpus — the ab-lift overflow class; identical
    exact inputs give identical IEEE products), so the float path is
    two products, one subtract, one sqrt, two pinned ratios. Note σ here is the
    POPULATION σ (÷n inside the ratio) — stated convention, same
    text both sides.

    Plan: one scan → per-(user, type) lag window (partitioned, the
    sessionize exchange) → per-type moment aggregate — two shuffles
    total, nothing wider than the 5-row finish after them."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("burst_events")
    return spark.sql(
        _burstiness_sql("burst_events", "BIGINT", "unix_micros(ts)")
    )


# ---- funnel step conversions with Wilson bounds ------------------------


def _funnel_wilson_sql(table: str, bigint: str) -> str:
    """Shared text: the ``events_windowed_funnel`` per-user stage
    minima reshaped to one row PER STEP TRANSITION, each with its
    95% Wilson interval (the ``events_error_rate_wilson`` chain,
    verbatim) — counts exact, the interval one fixed IEEE chain
    pinned DECIMAL(18,6)."""
    wilson = (
        "((p + (z * z) / (2 * n)) {sign} z * sqrt(p * (1 - p) / n"
        " + (z * z) / (4 * (CAST(n AS DOUBLE) * n))))"
        " / (1 + (z * z) / n)"
    )
    return f"""
    WITH stage_ts AS (
      SELECT user_id,
        MIN(CASE WHEN event_type = 'view'
            THEN CAST(ts AS TIMESTAMP) END) AS t_view,
        MIN(CASE WHEN event_type = 'click'
            THEN CAST(ts AS TIMESTAMP) END) AS t_click,
        MIN(CASE WHEN event_type = 'purchase'
            THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
      FROM {table} GROUP BY user_id
    ),
    counts AS (
      SELECT
        CAST(COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END)
             AS {bigint}) AS n_viewed,
        CAST(COUNT(CASE WHEN t_view IS NOT NULL
                   AND t_click > t_view THEN 1 END)
             AS {bigint}) AS n_clicked,
        CAST(COUNT(CASE WHEN t_view IS NOT NULL
                   AND t_click > t_view
                   AND t_purchase > t_click THEN 1 END)
             AS {bigint}) AS n_purchased
      FROM stage_ts
    ),
    steps AS (
      SELECT 'view_to_click' AS step, n_viewed AS n, n_clicked AS k
      FROM counts
      UNION ALL
      SELECT 'click_to_purchase' AS step, n_clicked AS n,
             n_purchased AS k
      FROM counts
    ),
    w AS (
      SELECT step, n, k,
             CAST(k AS DOUBLE) / n AS p,
             CAST(1.96 AS DOUBLE) AS z
      FROM steps WHERE n > 0
    )
    SELECT step, n AS n_entered, k AS n_converted,
           CAST(CAST(p AS DECIMAL(18,6)) AS DOUBLE) AS conversion,
           CAST(CAST({wilson.format(sign="-")} AS DECIMAL(18,6))
                AS DOUBLE) AS wilson_lo,
           CAST(CAST({wilson.format(sign="+")} AS DECIMAL(18,6))
                AS DOUBLE) AS wilson_hi
    FROM w
    """


@query(
    "events_funnel_wilson_ci",
    oracle=_funnel_wilson_sql("events", "BIGINT"),
)
def events_funnel_wilson_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Funnel step conversions WITH 95% Wilson intervals — the
    ``events_windowed_funnel`` counts reshaped to one row per step
    transition and decorated with the ``events_error_rate_wilson``
    interval chain: view→click and click→purchase each report
    entered, converted, the rate, and honest small-n bounds. The
    composition a growth dashboard actually renders — a step whose
    interval straddles last week's rate is noise, not a regression;
    the raw funnel counts can't say that. Steps with zero entrants
    are dropped by rule (the rate is undefined), identically in both
    dialects.

    Exactness: per-user stage minima and step counts are exact (the
    funnel query's own aggregate, textually reused); the Wilson
    chain is the shared fixed IEEE expression pinned DECIMAL(18,6).

    Plan: one scan → per-user conditional-min aggregate (the funnel
    shuffle) → 1-row counts → a 2-row reshape + projection."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("funnel_wilson_events")
    return spark.sql(
        _funnel_wilson_sql("funnel_wilson_events", "BIGINT")
    )


# ---- retention power-law fit -------------------------------------------


def _retention_fit_sql(table: str, bigint: str, datediff: str) -> str:
    """Shared retention-decay fit: pooled day-k retention over the
    OBSERVABLE triangle (cohorts whose horizon covers day k), then a
    ln-ln OLS of retention on day offset. Retention ratios are exact
    integer fractions; every ln is pinned DECIMAL(18,9) and every
    moment term pinned before its sum (the zipf-fit discipline); the
    fit runs on <= #days points. ``datediff`` spells days(a -> b)."""
    dd_first = datediff.format(a="first_day", b="day")
    dd_horizon = datediff.format(a="cohort_day", b="horizon_day")
    ln9 = "CAST(CAST(ln({x}) AS DECIMAL(18,9)) AS DOUBLE)"
    return f"""
    WITH udays AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day
      FROM {table}
    ),
    firsts AS (
      SELECT user_id, MIN(day) AS first_day FROM udays GROUP BY 1
    ),
    actk AS (
      SELECT f.first_day AS cohort_day,
             CAST({dd_first} AS {bigint}) AS k,
             CAST(COUNT(*) AS {bigint}) AS na
      FROM udays u JOIN firsts f ON f.user_id = u.user_id
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort_day, na AS cohort_size FROM actk WHERE k = 0
    ),
    horizon AS (SELECT MAX(day) AS horizon_day FROM udays),
    elig AS (
      SELECT s.cohort_day, s.cohort_size,
             CAST({dd_horizon} AS {bigint}) AS h
      FROM sizes s CROSS JOIN horizon
    ),
    pooled AS (
      SELECT ks.k,
             CAST(SUM(COALESCE(a.na, 0)) AS {bigint}) AS n_active,
             CAST(SUM(e.cohort_size) AS {bigint}) AS n_eligible
      FROM (SELECT DISTINCT k FROM actk WHERE k >= 1) ks
      JOIN elig e ON e.h >= ks.k
      LEFT JOIN actk a
        ON a.cohort_day = e.cohort_day AND a.k = ks.k
      GROUP BY ks.k
    ),
    pts AS (
      SELECT {ln9.format(x="CAST(k AS DOUBLE)")} AS x,
             {ln9.format(x="CAST(n_active AS DOUBLE) / n_eligible")}
               AS y
      FROM pooled WHERE n_active > 0
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
      SELECT n,
             CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)
                  AS DECIMAL(18,9)) AS slope9,
             sx, sy, sxx, sxy, syy
      FROM mo
    )
    SELECT n AS n_points,
           CAST(slope9 AS DOUBLE) AS slope,
           CAST(CAST(
             (sy - CAST(slope9 AS DOUBLE) * sx) / n
             AS DECIMAL(18,6)) AS DOUBLE) AS intercept,
           CAST(CAST(
             ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy))
             AS DECIMAL(18,6)) AS DOUBLE) AS r2,
           CAST(CAST(exp(
               CAST(CAST((sy - CAST(slope9 AS DOUBLE) * sx) / n
                    AS DECIMAL(18,9)) AS DOUBLE)
               + CAST(slope9 AS DOUBLE)
                 * {ln9.format(x="CAST(90 AS DOUBLE)")}
             ) AS DECIMAL(18,9)) AS DOUBLE)
             AS projected_d90_retention
    FROM fit
    """


@query(
    "events_retention_powerlaw_fit",
    oracle=None,  # registered below with the duck datediff spelling
)
def events_retention_powerlaw_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Power-law fit of the pooled retention curve: ln(retention_k) ~
    a + b*ln(k) over the observable cohort triangle (only cohorts
    whose horizon covers day k enter day k's ratio -- the same
    censoring honesty as the KM/NA estimators, applied to the
    retention decay), with the projected day-90 retention
    exp(a + b*ln 90) as the headline number. Retention famously
    decays as a power law, not an exponential (the
    sticky-users-stick effect), so the ln-ln slope b is the
    comparable "decay exponent" across products -- the one-number
    summary of ``events_daily_retention``'s full (cohort, k) table,
    and the forecast the cohort matrix can't state by itself.

    Exactness: per-(cohort, k) actives and eligible-cohort sizes are
    exact integers; each point's ln rides the ln-of-exact-ratio pin;
    every OLS moment term is pinned before its sum; slope/intercept
    are pinned before they feed the projection, whose exp output is
    pinned ONCE at DECIMAL(18,9) and exposed at that native scale
    (re-rounding a 12-decimal pin to 6 hits the HALF_UP/HALF_EVEN
    tie divergence -- observed on this very value).

    Plan: one distinct (user, day) collapse, a per-(cohort, k)
    aggregate, then everything runs on <= #days-sized frames (the
    eligibility join is days x cohorts, calendar-bounded)."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("retfit_events")
    return spark.sql(
        _retention_fit_sql(
            "retfit_events", "BIGINT", "datediff({b}, {a})"
        )
    )


def _register_retention_fit_oracle() -> None:
    from .registry import ORACLES

    ORACLES["events_retention_powerlaw_fit"] = _retention_fit_sql(
        "events", "BIGINT", "datediff('day', {a}, {b})"
    )


_register_retention_fit_oracle()


# ---- mergeable quantile sketch rollup (fixed-grid histogram) ----------

from ..streaming.quantile_maintenance import (  # noqa: E402
    QUANTILE_PCTS as _QSR_PCTS,
    VALUE_BUCKETS_PER_UNIT as _QSR_BPU,
)

_QSR_PCT_COLS = "".join(
    f""",
           CAST(MIN(CASE WHEN cum * 100 >= n * {q} THEN bucket END) + 1
                AS DOUBLE) / {_QSR_BPU} AS p{q}_upper"""
    for q in _QSR_PCTS
)

_QSR_ORACLE = f"""
    WITH h AS (
      SELECT event_type,
             CAST(floor(value * {_QSR_BPU}) AS BIGINT) AS bucket,
             COUNT(*)::BIGINT AS cnt
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM h
    )
    SELECT event_type,
           MAX(n)::BIGINT AS n_rows{_QSR_PCT_COLS}
    FROM c GROUP BY event_type
    """


@query("events_quantile_sketch_rollup", oracle=_QSR_ORACLE)
def events_quantile_sketch_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable QUANTILE sketch rollup — the percentile sibling of
    ``events_sketch_rollup_merge``: build day-grain fixed-grid value
    histograms per event type (bucket = floor(value·4), quarter-unit
    cells — the ×4 scaling is a power of two, exact on doubles in
    every engine), MERGE the day histograms up to event_type by plain
    SUM, and read p50/p95/p99 off the merged histogram as the landing
    bucket's upper edge. Exact order statistics cannot be rolled up
    (they don't compose); fixed-grid histograms compose by addition,
    so a 100 TB warehouse stores the day-grain histogram rows once
    and answers any coarser grain — week, month, all-time — without
    rescanning raw events. Quantiles are exact AT GRID RESOLUTION
    (deterministic integer rank math: cum·100 ≥ n·q), which is what
    makes this sketch oracle-hashable where a sampling sketch's
    estimates would be implementation-specific.

    The oracle computes the single-level histogram directly — equal
    to the two-level Spark path by associativity of SUM, which IS the
    property under test. The streaming face
    (``streaming/quantile_maintenance.py``) maintains the same
    standing histogram per micro-batch behind the batch-id replay
    gate; ``streaming_quantile_sketch_maintenance`` drives it through
    the gate with a rebuilt-checkpoint replay.

    Plan: one shuffle to (event_type, day, bucket) partials, a tiny
    second shuffle of bounded histogram rows to (event_type, bucket),
    one window cumsum over the ≤|grid| standing rows."""
    from ..streaming.quantile_maintenance import (
        bucket_col,
        quantiles_from_histogram,
    )

    ev = load_table(spark, sf_dir, "events")
    day_hist = (
        ev.select("event_type", F.to_date("ts").alias("day"), bucket_col())
        .groupBy("event_type", "day", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    merged = day_hist.groupBy("event_type", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return quantiles_from_histogram(merged)

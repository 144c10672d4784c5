"""Data-profiling / curation operators a large-scale training-data
pipeline runs alongside dedup and quality scoring: PII redaction,
source-mix resampling, numeric histograms, embedding-dimension
profiles. (New surface — the reference is a fixed ETL with no
profiling; these extend SURVEY §2's LLM-data inventory.)

Cross-engine exactness follows the house rules: counts/lengths are
integers, money-ish sums go through DECIMAL, ratios divide
identically-computed numbers, dot products fold in fixed element
order, and every final schema is scalar-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.testdata import load_table
from .events import HLL_REL_ERR
from .registry import query
from .textops import hash60_duck, hash60_spark

# ---- PII redaction ---------------------------------------------------

# The synthetic corpus is digit-free word salad, so the operator
# INJECTS deterministic PII first (emails on doc_id % 7, phones on
# doc_id % 11) and then redacts it — a round-trip that exercises the
# real redaction path with non-zero, oracle-checkable counts. Patterns
# are the RE2 ∩ Java-regex dialect both engines run identically.
EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
PHONE_RE = "555-[0-9]{4}"

def _inject(dialect: str) -> str:
    # Spark spells the string type STRING, DuckDB VARCHAR; everything
    # else (||, lpad, CASE) is shared syntax.
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return (
        "text"
        " || (CASE WHEN doc_id % 7 = 0"
        f" THEN ' contact user' || CAST(doc_id AS {s}) || '@example.com now'"
        " ELSE '' END)"
        " || (CASE WHEN doc_id % 11 = 0"
        f" THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS {s}), 4, '0')"
        " ELSE '' END)"
    )


def pii_stats(df: DataFrame) -> DataFrame:
    """Per-row PII stats over a ``(source, txt)`` frame: email/phone
    match counts and the byte shrinkage of redacting both. Counting
    and redaction MUST see the identical pattern, so both go through
    the column API — embedding the pattern in a SQL string literal
    (``F.expr``) would let the parser unescape ``\\.`` to a bare ``.``,
    turning the email regex into a wildcard-dot match that disagrees
    with the redaction path and the DuckDB oracle on any corpus with
    ``@`` outside well-formed emails (regression-tested in
    ``tests/test_profiling_pii.py``)."""
    red = F.regexp_replace(
        F.regexp_replace(F.col("txt"), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        "source",
        F.size(F.regexp_extract_all(F.col("txt"), F.lit(EMAIL_RE), F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all(F.col("txt"), F.lit(PHONE_RE), F.lit(0))).alias("n_phone"),
        (F.length("txt") - F.length(red)).alias("chars_removed"),
    )


@query(
    "text_pii_redact",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id, source, {_inject('duck')} AS txt FROM documents
    ), redacted AS (
      SELECT
        source,
        len(regexp_extract_all(txt, '{EMAIL_RE}')) AS n_email,
        len(regexp_extract_all(txt, '{PHONE_RE}')) AS n_phone,
        length(txt) - length(
          regexp_replace(regexp_replace(txt, '{EMAIL_RE}', '<EMAIL>', 'g'),
                         '{PHONE_RE}', '<PHONE>', 'g')
        ) AS chars_removed
      FROM injected
    )
    SELECT
      source,
      COUNT(*) AS n_docs,
      CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
      CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
      CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
    FROM redacted
    GROUP BY source
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction round-trip: inject deterministic emails/phones,
    redact with the production regexes, report per-source counts and
    byte shrinkage.

    Plan: pure projection (inject + two regexp_replace + two
    regexp_extract_all counts, all codegen'd JVM-side — regex never
    leaves the executor) followed by one partial-agg'd groupBy on
    ``source``; at 100 TB this is a map-heavy scan whose shuffle
    carries 20 rows per partition. Spark's ``regexp_replace`` is
    global by default; DuckDB needs the explicit ``'g'`` flag — the
    oracle carries it so both engines redact every occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select("source", F.expr(_inject("spark")).alias("txt"))
    stats = pii_stats(injected)
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails_redacted"),
        F.sum("n_phone").alias("phones_redacted"),
        F.sum("chars_removed").alias("chars_removed"),
    )


# ---- Source-mix resampling ------------------------------------------

# Target sampling rate (percent) per source family — the "data
# recipe": every 4th source is kept whole, the rest thinned. The keep
# decision is a deterministic hash gate on (doc_id, source), so the
# sample is reproducible run-to-run and engine-to-engine, survives
# repartitioning, and needs no RNG state — the only resampling scheme
# that works on an unordered 100 TB corpus.
_TARGET_PCT = (
    "CASE CAST(substr(source, 4) AS INTEGER) % 4"
    " WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 25 ELSE 10 END"
)


def _keep_gate(dialect: str) -> str:
    s = "STRING" if dialect == "spark" else "VARCHAR"
    h = (hash60_spark if dialect == "spark" else hash60_duck)(
        f"(CAST(doc_id AS {s}) || ':' || source)"
    )
    return f"(({h}) % 100 + 100) % 100 < {_TARGET_PCT}"


@query(
    "text_source_mixing",
    oracle=f"""
    SELECT
      source,
      {_TARGET_PCT} AS target_pct,
      COUNT(*) AS n_total,
      CAST(SUM(CASE WHEN {_keep_gate('duck')} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(CAST(SUM(CASE WHEN {_keep_gate('duck')} THEN 1 ELSE 0 END) AS DECIMAL(18,6))
           / COUNT(*) AS DOUBLE) AS kept_frac
    FROM documents
    GROUP BY source
    """,
)
def text_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mix resampling: thin each source to its
    target share of the data recipe via an md5-hash keep gate, report
    target vs achieved rates.

    Plan: the gate is a per-row hash compare in the scan projection
    (no shuffle, no RNG); the audit aggregate is one 20-group
    partial-agg'd groupBy. Downstream pipelines reuse ``_keep_gate``
    as a filter — sampling at scan time, before any shuffle pays for
    rows that get dropped."""
    docs = load_table(spark, sf_dir, "documents")
    kept = F.when(F.expr(_keep_gate("spark")), 1).otherwise(0)
    return (
        docs.select(
            "source",
            F.expr(_TARGET_PCT).alias("target_pct"),
            kept.alias("kept"),
        )
        .groupBy("source", "target_pct")
        .agg(F.count(F.lit(1)).alias("n_total"), F.sum("kept").alias("n_kept"))
        .select(
            "source",
            "target_pct",
            "n_total",
            "n_kept",
            (F.col("n_kept").cast("decimal(18,6)") / F.col("n_total"))
            .cast("double")
            .alias("kept_frac"),
        )
    )


# ---- Numeric histogram ----------------------------------------------

HIST_WIDTH = 25.0
HIST_MAX_BUCKET = 19  # values ≥ 500 clamp into the top bucket


@query(
    "events_value_histogram",
    oracle=f"""
    SELECT
      event_type,
      LEAST(CAST(FLOOR(value / {HIST_WIDTH}) AS INTEGER), {HIST_MAX_BUCKET}) AS bucket,
      COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY event_type, bucket
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (20 buckets of 25,
    top bucket clamps the tail) — the profiling primitive behind
    distribution drift checks.

    Plan: bucket id is scan-side arithmetic (``floor(value/width)``,
    bit-identical across engines since the division is a single IEEE
    op); one partial-agg'd groupBy over (type × bucket) ≈ 100 cells,
    so the shuffle is constant-size at any corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.floor(F.col("value") / HIST_WIDTH).cast("int"), F.lit(HIST_MAX_BUCKET)
    )
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
        )
    )


# ---- Embedding dimension profile ------------------------------------

# NOTE: the corpus vectors are UNIT-normalized (measured: every norm
# is 1.0 ± 4e-8 float noise), so a norm-outlier screen is vacuous on
# this data — the meaningful per-vector screen here is dimension-level:
# a collapsed/dead dimension (std ≈ 0) or a runaway one (|mean| ≫ 0)
# is how degenerate embedding batches actually show up.

DIM = 64
NANO = 1_000_000_000  # fixed-point unit for exact cross-engine sums


@query(
    "embedding_dim_stats",
    oracle=f"""
    WITH comps AS (
      SELECT
        u.dim,
        CAST(FLOOR(u.x * {NANO}) AS BIGINT) AS nano
      FROM embeddings e,
        LATERAL (
          SELECT generate_series AS dim,
                 (e.embedding::DOUBLE[])[generate_series + 1] AS x
          FROM generate_series(0, {DIM - 1})
        ) u
    )
    SELECT
      dim,
      COUNT(*) AS n,
      CAST(SUM(CAST(nano AS DECIMAL(38,0))) AS DOUBLE) / {NANO} / COUNT(*) AS mean,
      sqrt(CAST(
        SUM(CAST(nano * nano AS DECIMAL(38,0))) * COUNT(*)
        - SUM(CAST(nano AS DECIMAL(38,0))) * SUM(CAST(nano AS DECIMAL(38,0)))
      AS DOUBLE)) / (COUNT(*) * {NANO}) AS std,
      CAST(MIN(nano) AS DOUBLE) / {NANO} AS min_val,
      CAST(MAX(nano) AS DOUBLE) / {NANO} AS max_val
    FROM comps
    GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile: n/mean/std/min/max for each of
    the 64 components — the screen that catches collapsed (std≈0) or
    runaway dimensions before they poison ANN recall.

    Exactness: components are floor'd to nano-unit BIGINTs in the scan
    projection, summed as DECIMAL(38,0) (a trillion-row corpus of
    |x|<1 components still fits with >15 digits to spare — plain
    BIGINT would overflow the sum-of-squares at ~600 rows). The std
    keeps the whole variance NUMERATOR in exact integer decimal —
    ``n·Σx² − (Σx)²`` — so the float path is exactly one cast, one
    IEEE-exact sqrt, one division; a naive ``sumsq/n − mean²`` float
    chain was measured to differ between engines by 1 ulp at sf0.1
    (constant-folding reassociates the divisions differently).

    Plan: posexplode is a 64× row expansion but NO shuffle — partial
    aggregation collapses each partition to ≤64 rows before the single
    64-group exchange. Min/max ride the same aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim", F.floor(F.col("x").cast("double") * NANO).cast("bigint").alias("nano")
    )
    sum_dec = F.sum(F.col("nano").cast("decimal(38,0)"))
    sumsq_dec = F.sum((F.col("nano") * F.col("nano")).cast("decimal(38,0)"))
    n = F.count(F.lit(1))
    mean = sum_dec.cast("double") / NANO / n
    var_num = (sumsq_dec * n - sum_dec * sum_dec).cast("double")
    return comps.groupBy("dim").agg(
        n.alias("n"),
        mean.alias("mean"),
        (F.sqrt(var_num) / (n * NANO)).alias("std"),
        (F.min("nano").cast("double") / NANO).alias("min_val"),
        (F.max("nano").cast("double") / NANO).alias("max_val"),
    )


# ---- Label-noise screen: distance to class centroid -----------------

OUTLIER_TOPK = 5


def _centroid_exprs_duck() -> str:
    """64-element DuckDB list literal of per-dimension class means,
    each via the exact nano-unit DECIMAL(38,0) sum (the
    ``embedding_dim_stats`` pattern, pivoted per label)."""
    els = ", ".join(
        f"CAST(SUM(CAST(FLOOR((embedding::DOUBLE[])[{d + 1}] * {NANO}) AS DECIMAL(38,0))) AS DOUBLE) / {NANO} / COUNT(*)"
        for d in range(DIM)
    )
    return f"[{els}]"


@query(
    "embedding_label_outliers",
    oracle=f"""
    WITH cent AS (
      SELECT label, {_centroid_exprs_duck()} AS c
      FROM embeddings GROUP BY label
    ), dists AS (
      SELECT
        e.label,
        e.vec_id,
        list_sum([((e.embedding::DOUBLE[])[i+1] - c.c[i+1])
                  * ((e.embedding::DOUBLE[])[i+1] - c.c[i+1])
                  for i in range({DIM})]) AS dist2
      FROM embeddings e JOIN cent c ON c.label = e.label
    ), ranked AS (
      SELECT label, vec_id, dist2,
             ROW_NUMBER() OVER (
               PARTITION BY label ORDER BY dist2 DESC, vec_id ASC
             ) AS rnk
      FROM dists
    )
    SELECT label, vec_id, CAST(dist2 AS DOUBLE) AS dist2, rnk
    FROM ranked WHERE rnk <= {OUTLIER_TOPK}
    """,
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen: top-{OUTLIER_TOPK} embeddings farthest (L²)
    from their own class centroid — how mislabeled or corrupt vectors
    actually surface in a labeled training corpus before they poison
    contrastive batches.

    Exactness: centroids use the nano-unit DECIMAL(38,0) sum pattern
    (``embedding_dim_stats``), so both engines derive bit-identical
    means; the distance fold then runs in fixed dimension order
    (``aggregate(zip_with(...))`` vs the index comprehension), the
    same order-pinned float chain the similarity family's dot products
    already verify bit-identical.

    Plan: one 64-sum aggregate per label (map-side partial, ≤|labels|
    rows out), centroids BROADCAST back onto the scan (no shuffle of
    the corpus), distance in the scan projection, then one window
    shuffle on label with WindowGroupLimit pruning to top-{OUTLIER_TOPK}
    per class. Two corpus scans total; at 100 TB both are
    embarrassingly parallel and the only exchange carries |labels|
    partitions — salt the window key if one label dominates."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    n = F.count(F.lit(1))
    cent = emb.groupBy("label").agg(
        F.array(
            *[
                (
                    F.sum(
                        F.floor(F.col("embedding")[d].cast("double") * NANO).cast(
                            "decimal(38,0)"
                        )
                    ).cast("double")
                    / NANO
                    / n
                )
                for d in range(DIM)
            ]
        ).alias("c")
    )
    dist2 = F.expr(
        "aggregate(zip_with(cast(embedding as array<double>), c, "
        "(x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist2").desc(), F.col("vec_id").asc()
    )
    return (
        emb.join(F.broadcast(cent), "label")
        .select("label", "vec_id", dist2.alias("dist2"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= OUTLIER_TOPK)
        .select("label", "vec_id", F.col("dist2").cast("double").alias("dist2"), "rnk")
    )


# ---- Two-pass heavy hitters -----------------------------------------

HH_TOPK = 25
# Per-partition Misra-Gries capacity. Guarantee (pigeonhole over the
# decrement rule): any token with GLOBAL count > N/C survives at least
# one partition's sketch, so with the corpus vocabulary ≪ C the
# candidate set is simply exact; at real scale the operator is exact
# whenever the K-th heavy hitter's count exceeds N/C — the knob a 100
# TB run sizes from its token budget (C=4096 → anything above 0.024%
# of the corpus is guaranteed caught).
HH_CAPACITY = 4096


def _mg_candidates(it):
    """Batched Misra-Gries over one partition's token stream: merge
    each Arrow batch's value_counts into the counter dict, and when
    the dict exceeds capacity apply the grouped decrement (subtract
    the (size−C)-th smallest count from everyone, drop the ≤0) — the
    standard SpaceSaving-style batch form with the same survival
    guarantee as per-item MG. Memory is O(C) regardless of stream
    length; nothing here depends on partition size."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in it:
        for tok, cnt in pdf["tok"].value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(cnt)
        excess = len(counters) - HH_CAPACITY
        if excess > 0:
            cut = sorted(counters.values())[excess - 1]
            counters = {t: c - cut for t, c in counters.items() if c > cut}
    yield pd.DataFrame({"tok": list(counters.keys())})


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text), ' '), '[\\s\\v]+')) AS tok
      FROM documents
    )
    SELECT tok, COUNT(*) AS n
    FROM toks
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT {HH_TOPK}
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} corpus tokens via the TWO-PASS heavy-hitter pattern:
    bounded-memory Misra-Gries candidates per partition (mapInPandas,
    O(C) state however long the stream), then an EXACT recount of the
    candidate set only, then top-K.

    Why not one exact groupBy? Here vocabulary is tiny and a plain
    aggregate wins — ``text_top_ngrams`` is that shape. This operator
    is the pattern for web-scale vocabularies (trillions of distinct
    tokens), where a full groupBy shuffles every distinct token and
    the sketch pass shuffles ≤ C rows per partition; the recount pass
    restores exactness for everything that matters (counts of emitted
    rows are true counts, and the top-K is provably complete whenever
    the K-th count exceeds N/C — documented at ``HH_CAPACITY``).

    Plan: explode → mapInPandas (Arrow-batched, vectorized
    value_counts — no per-row Python) → candidate distinct (≤ C·P
    rows) → broadcast semi-join gate on the token stream → exact
    partial-agg count → TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = docs.select(
        F.explode(
            F.expr(r"split(trim(lower(text)), '\\s+')")
        ).alias("tok")
    )
    candidates = (
        toks.mapInPandas(_mg_candidates, "tok string").distinct()
    )
    return (
        toks.join(F.broadcast(candidates), "tok", "semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(HH_TOPK)
    )


# ---- Certified approximate quantiles --------------------------------

# approx_percentile's contract is a RANK guarantee (result sits within
# ±1/accuracy of the target rank), not a value guarantee — so the
# certification recomputes each sketch result's TRUE rank fraction
# exactly and checks the window. The booleans are stable even though
# the sketch VALUE can jitter with partition merge order, which is
# exactly why the value itself never appears in the output.
AQ_ACCURACY = 10_000
AQ_TOL = 0.01  # certification window ±1% of rank (≫ 1/accuracy)


@query(
    "events_approx_quantiles",
    oracle=f"""
    SELECT
      event_type,
      COUNT(*) AS n,
      TRUE AS p50_rank_ok,
      TRUE AS p95_rank_ok
    FROM events
    GROUP BY event_type
    """,
)
def events_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95 of ``value`` per event type, CERTIFIED: the
    sketch runs for real (approx_percentile, accuracy {AQ_ACCURACY}),
    and a second exact pass verifies each estimate's attained rank
    interval [count(<est), count(<=est)]/n overlaps the ±{AQ_TOL}
    target window — the deterministic-boolean trick that lets a DuckDB
    oracle hash-check a sketch it cannot run (same pattern as
    ``events_approx_distinct``). The interval (not the <=-fraction
    alone) makes the booleans robust to tie-heavy distributions where
    mass concentrates at the returned value.

    Plan: one groupBy carrying the two quantile sketches, broadcast of
    the ≤|event types| results back onto the raw scan, one exact
    conditional-count aggregate — two scans total, no join shuffle.
    At 100 TB the sketch pass is the product; the certification pass
    is the audit you run on samples."""
    ev = load_table(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.expr(f"approx_percentile(value, array(0.5, 0.95), {AQ_ACCURACY})").alias(
            "aps"
        )
    )
    # Tie-aware certification: the sketch's rank contract is satisfied
    # iff SOME rank attained by the returned value lies in the target
    # window — the attained ranks are the closed interval
    # [count(value < est), count(value <= est)] / n. Certifying on the
    # <=-fraction alone would flag legitimate answers on tie-heavy
    # distributions (mass concentrated AT the returned value jumps the
    # <=-fraction past target+tol even though the < -fraction is below
    # target-tol, i.e. the value still covers the target rank).
    certified = (
        ev.join(F.broadcast(sketches), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("aps")[0]).cast("bigint")).alias("lt50"),
            F.sum((F.col("value") <= F.col("aps")[0]).cast("bigint")).alias("le50"),
            F.sum((F.col("value") < F.col("aps")[1]).cast("bigint")).alias("lt95"),
            F.sum((F.col("value") <= F.col("aps")[1]).cast("bigint")).alias("le95"),
        )
    )
    def ok(lt_col: str, le_col: str, target: float):
        lt_frac = F.col(lt_col) / F.col("n")
        le_frac = F.col(le_col) / F.col("n")
        return (lt_frac <= target + AQ_TOL) & (le_frac >= target - AQ_TOL)

    return certified.select(
        "event_type",
        "n",
        ok("lt50", "le50", 0.5).alias("p50_rank_ok"),
        ok("lt95", "le95", 0.95).alias("p95_rank_ok"),
    )


# ---- one-pass multi-column table profile -----------------------------

PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _profile_oracle() -> str:
    branches = []
    for c in PROFILE_COLS:
        branches.append(
            f"SELECT '{c}' AS col_name, COUNT(*)::BIGINT AS n_rows,\n"
            f"  SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT"
            f" AS n_null,\n"
            f"  COUNT(DISTINCT {c})::BIGINT AS n_distinct,\n"
            f"  MIN({c})::DOUBLE AS min_val, MAX({c})::DOUBLE AS max_val,\n"
            f"  CAST(CAST(SUM({c}::DECIMAL(18,2)) AS DECIMAL(18,2))"
            f" AS DOUBLE) AS sum_val\n"
            f"FROM lineitem"
        )
    return "\nUNION ALL\n".join(branches)


@query("profile_table_onepass", oracle=_profile_oracle())
def profile_table_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile summary for the fact table's measure columns —
    null count, exact distinct cardinality, min/max, exact
    decimal-stable sum — computed as one aggregate pass for every
    non-distinct metric plus one column-pruned single-distinct
    aggregate per column (the name keeps its r1 "onepass" spelling;
    the r15 split below is why the literal single-scan claim no
    longer holds, and what it buys). This is the data-quality profile
    every warehouse load runs after ingest (the engine-side
    generalization of the reference's per-row validation guards,
    ``dataflow-flex/transforms.py:109-123``, which only null-check).

    Scale story (100 TB), r15-optimized: the non-distinct metrics
    (null count, min/max, decimal-stable sum) for all 4 columns ride
    ONE hash aggregate over one scan; each exact COUNT(DISTINCT)
    runs as its own SINGLE-distinct aggregate over a column-pruned
    scan (two-phase hash agg — the shape ``profile_table_approx``'s
    certification frame already uses) and joins the 1-row profile by
    broadcast. The r1–r14 spelling put all four distincts in the one
    aggregate, which Catalyst plans through Expand — 5× the row
    volume through the widened partial-agg buffers; measured 3.6–4.2s
    vs 0.9–1.3s for this split at sf0.1 (noop sink, guide §1.4), and
    at petabyte scale the Expand multiplies shuffle bytes ×5 while
    the split's extra scans are column-pruned parquet reads. The
    final unpivot is a 4-row driver-free stack over the 1-row joined
    aggregate — free. Sums go through DECIMAL(18,2) so the value
    hash is aggregation-order independent."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"{c}__n_null"
            ),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            F.sum(F.col(c).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias(f"{c}__sum"),
        ]
    wide = li.agg(*aggs)
    for c in PROFILE_COLS:
        wide = wide.crossJoin(
            F.broadcast(
                li.agg(F.countDistinct(c).alias(f"{c}__n_distinct"))
            )
        )
    stack_args = ", ".join(
        f"'{c}', {c}__n_rows, {c}__n_null, {c}__n_distinct, "
        f"{c}__min, {c}__max, {c}__sum"
        for c in PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_rows, n_null, n_distinct, min_val, max_val,"
            " sum_val)"
        )
    )


def _profile_approx_oracle() -> str:
    branches = []
    for c in PROFILE_COLS:
        branches.append(
            f"SELECT '{c}' AS col_name, COUNT(*)::BIGINT AS n_rows,\n"
            f"  SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT"
            f" AS n_null,\n"
            f"  COUNT(DISTINCT {c})::BIGINT AS n_distinct,\n"
            f"  TRUE AS hll_within_10pct,\n"
            f"  MIN({c})::DOUBLE AS min_val, MAX({c})::DOUBLE AS max_val,\n"
            f"  CAST(CAST(SUM({c}::DECIMAL(18,2)) AS DECIMAL(18,2))"
            f" AS DOUBLE) AS sum_val\n"
            f"FROM lineitem"
        )
    return "\nUNION ALL\n".join(branches)


@query("profile_table_approx", oracle=_profile_approx_oracle())
def profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB twin of ``profile_table_onepass``: the SAME one-pass
    multi-column profile with the exact multi-distinct (the plan's
    Expand ×4 soft spot at petabyte scale) replaced by
    ``approx_count_distinct`` (HyperLogLog++) — the production
    aggregate is ONE scan, ONE hash aggregate, NO Expand (pinned by
    tests/test_plan_shapes.py).

    Certified the ``events_approx_distinct`` way so it stays exactly
    hash-checkable in DuckDB: the sketch estimate is engine-specific,
    so the output carries the EXACT distinct count (hash-compared)
    plus a per-column boolean asserting the sketch landed within
    ±{HLL_REL_ERR:.0%} of it (oracle emits TRUE). The exact counts
    come from a separate certification frame of four SINGLE-distinct
    aggregations (one pruned single-column scan each — single
    distinct plans as two-phase hash agg, never Expand) unioned and
    broadcast-joined onto the unpivoted sketch row. At 100 TB a user
    drops the certification join and ships the no-Expand production
    aggregate alone; the registered query keeps it because a sketch
    without a measured error bound is not a verifiable operator."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"{c}__n_null"
            ),
            F.approx_count_distinct(c).alias(f"{c}__hll"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            F.sum(F.col(c).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias(f"{c}__sum"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n_rows, {c}__n_null, {c}__hll, "
        f"{c}__min, {c}__max, {c}__sum"
        for c in PROFILE_COLS
    )
    prod = wide.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_rows, n_null, hll, min_val, max_val, sum_val)"
        )
    )
    # Certification frame: per-column exact distinct via four
    # single-distinct aggregates (column-pruned scans, no Expand).
    exact = None
    for c in PROFILE_COLS:
        fr = li.select(F.col(c)).agg(
            F.lit(c).alias("col_name"),
            F.countDistinct(c).alias("n_distinct"),
        )
        exact = fr if exact is None else exact.unionByName(fr)
    return prod.join(F.broadcast(exact), "col_name").select(
        "col_name",
        "n_rows",
        "n_null",
        "n_distinct",
        (
            F.abs(F.col("hll") - F.col("n_distinct"))
            <= F.col("n_distinct") * HLL_REL_ERR
        ).alias("hll_within_10pct"),
        "min_val",
        "max_val",
        "sum_val",
    )


# ---- join-key skew diagnostics ----------------------------------------

SKEW_TOPN = 5
# (report label, table, column) — the three hottest join keys of the
# star schema; the diagnostic a 100 TB planner reads BEFORE picking
# salting factors / AQE skew thresholds.
SKEW_KEYS = (
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
)


def _key_skew_oracle() -> str:
    branches = []
    for label, table, col in SKEW_KEYS:
        branches.append(f"""
    SELECT * FROM (
      SELECT '{label}' AS key_name,
             {col}::BIGINT AS key_value,
             COUNT(*)::BIGINT AS cnt,
             (SELECT COUNT(*) FROM {table})::BIGINT AS table_rows,
             (COUNT(*) * 1000000 // (SELECT COUNT(*) FROM {table}))::BIGINT
               AS share_micro
      FROM {table} GROUP BY {col}
      ORDER BY cnt DESC, key_value ASC LIMIT {SKEW_TOPN}
    )""")
        # parenthesized so each branch's ORDER/LIMIT binds locally
    return "\nUNION ALL\n".join(branches)


@query("profile_key_skew", oracle=_key_skew_oracle())
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the {SKEW_TOPN} heaviest values of
    each hot join key with their row share — the profile that decides
    whether a key needs salting (``skew_salted_join``) or can rely on
    AQE's skew-join split at 100 TB. A key whose top value holds >1%
    of a petabyte fact table is a straggler in waiting; this query is
    how you find it BEFORE the job hangs.

    Plan per key: partial+final count aggregate on the key, then a
    distributed TakeOrdered({SKEW_TOPN}) — never a global sort; the
    per-table total rides in as a 1-row broadcast. Tie-break
    (cnt DESC, key ASC) is part of the contract."""
    parts = []
    for label, table, col in SKEW_KEYS:
        t = load_table(spark, sf_dir, table)
        tot = t.agg(F.count(F.lit(1)).alias("table_rows"))
        top = (
            t.groupBy(F.col(col).cast("bigint").alias("key_value"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("key_value").asc())
            .limit(SKEW_TOPN)
        )
        parts.append(
            top.crossJoin(F.broadcast(tot)).select(
                F.lit(label).alias("key_name"),
                "key_value",
                "cnt",
                "table_rows",
                F.expr("cnt * 1000000 div table_rows").alias("share_micro"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---- PCA power-iteration step (distributed exact mat-vec) -------------

# Deterministic non-uniform start vector in micro-units: breaks the
# all-ones symmetry so the mat-vec is a real linear combination.
PCA_V0_MICRO = tuple(1_000_000 + 1_000 * d for d in range(DIM))


def _pca_oracle() -> str:
    v0 = "1000000 + 1000 * u.dim"
    return f"""
    WITH comps AS (
      SELECT e.vec_id, u.dim,
             CAST(FLOOR(u.x * {NANO}) AS BIGINT) AS nano
      FROM embeddings e,
        LATERAL (
          SELECT generate_series AS dim,
                 (e.embedding::DOUBLE[])[generate_series + 1] AS x
          FROM generate_series(0, {DIM - 1})
        ) u
    ), s AS (
      SELECT vec_id, SUM(nano * ({v0}))::BIGINT AS s
      FROM comps u GROUP BY vec_id
    ), w AS (
      SELECT c.dim,
             SUM(CAST(c.nano AS DECIMAL(19,0)) * CAST(s.s AS DECIMAL(19,0)))
               AS w_dec
      FROM comps c JOIN s ON s.vec_id = c.vec_id
      GROUP BY c.dim
    ), rq AS (
      SELECT SUM(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
               AS num
      FROM s
    )
    SELECT w.dim,
           CAST(w.w_dec AS DOUBLE) AS w,
           CAST(rq.num AS DOUBLE) AS rayleigh_num
    FROM w CROSS JOIN rq
    """


@query("embedding_pca_power_step", oracle=_pca_oracle())
def embedding_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact power-iteration step toward the embedding matrix's
    top principal direction: w = Xᵀ(X·v₀) — the distributed mat-vec
    that PCA/whitening/spectral methods run at scale WITHOUT ever
    materializing the D×D Gram matrix (the production shape: two
    linear passes per iteration; the only state that iterates is the
    D-vector, the k-means-centroid pattern).

    Exactness: components floor to nano-unit BIGINTs in the scan
    projection; the row dot-product X·v₀ folds in fixed element order
    as a codegen ``aggregate`` HOF over BIGINTs (|term| ≤ 1e9·1.07e6,
    64 terms — no overflow); the dimension accumulation Xᵀs promotes
    to DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) (≤ 1.4e29 at this
    corpus, 9 digits of headroom; a longer corpus rescales s between
    the two passes). The Rayleigh numerator v₀ᵀGv₀ = Σs² rides along —
    num/|v₀|² is the eigenvalue estimate, and |v₀|² is a compile-time
    literal. Output casts the exact decimals to DOUBLE (one
    round-to-nearest, identical in both engines).

    Plan: pass 1 is a no-shuffle projection (per-row HOF dot) + the
    persisted s frame; pass 2 posexplodes (64× expansion, partial agg
    collapses each partition to ≤64 rows) into a single 64-group
    exchange. No driver state beyond the D-vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    v0 = "array(" + ", ".join(str(v) for v in PCA_V0_MICRO) + ")"
    xn = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {NANO}) AS BIGINT))"
        ).alias("xn"),
    )
    s = xn.select(
        "vec_id",
        "xn",
        F.expr(
            f"aggregate(zip_with(xn, {v0}, (a, b) -> a * b), 0L, (acc, t) -> acc + t)"
        ).alias("s"),
    )
    comps = s.select(
        "vec_id", "s", F.posexplode("xn").alias("dim", "nano")
    )
    w = comps.groupBy("dim").agg(
        F.sum(
            F.col("nano").cast("decimal(19,0)") * F.col("s").cast("decimal(19,0)")
        ).alias("w_dec")
    )
    rq = s.agg(
        F.sum(
            F.col("s").cast("decimal(19,0)") * F.col("s").cast("decimal(19,0)")
        ).alias("num")
    )
    return w.crossJoin(F.broadcast(rq)).select(
        "dim",
        F.col("w_dec").cast("double").alias("w"),
        F.col("num").cast("double").alias("rayleigh_num"),
    )


# ---- PCA power-iteration training loop ---------------------------------

PCA_ITERS = 3
PCA_RESCALE = 1_000_000  # rescale target: |v|, |s'| stay ~1e6


def _pca_train_oracle() -> str:
    v0 = "(1000000 + 1000 * c.dim)"
    parts = [
        f"""comps AS (
      SELECT e.vec_id, u.dim,
             CAST(FLOOR(u.x * {NANO}) AS BIGINT) AS nano
      FROM embeddings e,
        LATERAL (
          SELECT generate_series AS dim,
                 (e.embedding::DOUBLE[])[generate_series + 1] AS x
          FROM generate_series(0, {DIM - 1})
        ) u
    )"""
    ]
    prev_v = None
    for t in range(1, PCA_ITERS + 1):
        dot = (
            f"c.nano * {v0}"
            if prev_v is None
            else f"c.nano * v.v"
        )
        join = "" if prev_v is None else f" JOIN {prev_v} v ON v.dim = c.dim"
        parts.append(f"""s{t} AS (
      SELECT c.vec_id, CAST(SUM({dot}) AS BIGINT) AS s
      FROM comps c{join} GROUP BY c.vec_id
    ), sd{t} AS (
      SELECT GREATEST(1, CAST(MAX(ABS(s)) AS BIGINT) // {PCA_RESCALE}) AS d
      FROM s{t}
    ), w{t} AS (
      SELECT c.dim, CAST(SUM(c.nano * (s.s // sd.d)) AS BIGINT) AS w
      FROM comps c JOIN s{t} s ON s.vec_id = c.vec_id CROSS JOIN sd{t} sd
      GROUP BY c.dim
    ), wd{t} AS (
      SELECT GREATEST(1, CAST(MAX(ABS(w)) AS BIGINT) // {PCA_RESCALE}) AS d
      FROM w{t}
    ), v{t} AS (
      SELECT dim, w // wd.d AS v FROM w{t} CROSS JOIN wd{t} wd
    )""")
        prev_v = f"v{t}"
    sel = "\nUNION ALL\n".join(
        f"SELECT {t} AS iteration, dim, v AS v_micro FROM v{t}"
        for t in range(1, PCA_ITERS + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n" + sel


@query("embedding_pca_power_train", oracle=_pca_train_oracle())
def embedding_pca_power_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PCA_ITERS}-iteration power-iteration TRAINING loop toward the
    top principal direction — the full iterative twin of
    ``embedding_pca_power_step``, trajectory-oracled via unrolled CTEs
    (the ``embedding_kmeans_train`` pattern). Each iteration is the
    two-pass mat-vec w = Xᵀ(X·v) with BOTH rescales done in the
    engine-portable BIGINT truncating-division domain: Spark ``div``
    and DuckDB ``//`` truncate toward zero identically (verified
    including negatives), so every intermediate integer — s, the
    s-divisor, w, the w-divisor, v — is bit-identical across engines
    and the whole fixpoint replays exactly.

    Fixed-point bounds (documented, the 100-TB dial): |x|≤1 →
    |nano|≤1e9; |v|≤~2e6 after rescale → per-term |nano·v|≤2e15 and
    the 64-term row dot ≤1.3e17 (BIGINT-safe); the s-rescale pins
    |s'|≤~2e6 so the dimension sum is ≤ n·2e15 — BIGINT-safe to
    n≈4500 rows; a larger corpus raises PCA_RESCALE's s-divisor
    (trading precision digits for headroom) or promotes the dim sum
    to DECIMAL(38,0) exactly as ``embedding_pca_power_step`` does.

    Plan per iteration: one no-shuffle HOF dot projection, one scalar
    max-aggregate (1 collected value), one posexplode + 64-group
    aggregate (64 collected values) — driver traffic is 65 scalars per
    iteration, the bounded-state pattern shared with k-means; the data
    is never collected."""
    emb = load_table(spark, sf_dir, "embeddings")
    xs = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {NANO}) AS BIGINT))"
        ).alias("xn"),
    ).persist()
    xs.count()

    def tdiv(a: int, b: int) -> int:
        # truncating division toward zero — Spark div / DuckDB // on
        # BIGINT (Python // floors, so negatives need the sign split)
        q = abs(a) // b
        return q if a >= 0 else -q

    v = [1_000_000 + 1_000 * d for d in range(DIM)]
    trajectory = []
    for t in range(1, PCA_ITERS + 1):
        v_lit = "array(" + ", ".join(str(x) + "L" for x in v) + ")"
        s = xs.select(
            "vec_id",
            "xn",
            F.expr(
                f"aggregate(zip_with(xn, {v_lit}, (a, b) -> a * b), 0L,"
                " (acc, x) -> acc + x)"
            ).alias("s"),
        )
        s = s.persist()
        sd = max(
            1, s.agg(F.max(F.abs(F.col("s")))).collect()[0][0] // PCA_RESCALE
        )
        w_rows = (
            s.select(F.expr(f"s div {sd}L").alias("sp"), F.posexplode("xn").alias("dim", "nano"))
            .groupBy("dim")
            .agg(F.sum(F.col("nano") * F.col("sp")).alias("w"))
            .collect()
        )
        s.unpersist()
        w = [0] * DIM
        for r in w_rows:
            w[r["dim"]] = r["w"]
        wd = max(1, max(abs(x) for x in w) // PCA_RESCALE)
        v = [tdiv(x, wd) for x in w]
        trajectory += [(t, d, v[d]) for d in range(DIM)]
    xs.unpersist()
    return local_frame(spark, trajectory, "iteration int, dim int, v_micro long")


# ---- equi-height histogram (CBO statistics) ---------------------------

EQH_BUCKETS = 8
EQH_RANGE_PARTS = 32


@query(
    "profile_equiheight_histogram",
    oracle=f"""
    WITH ranked AS (
      SELECT l_extendedprice AS price,
             NTILE({EQH_BUCKETS}) OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ) AS bucket
      FROM lineitem
    )
    SELECT bucket,
           COUNT(*) AS n_rows,
           CAST(MIN(price) AS DOUBLE) AS lo,
           CAST(MAX(price) AS DOUBLE) AS hi
    FROM ranked
    GROUP BY bucket
    """,
)
def profile_equiheight_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-HEIGHT histogram over ``l_extendedprice`` — the statistic
    a cost-based optimizer keeps per column (equal ROW counts per
    bucket, so bucket boundaries ARE the octile cut points; the
    equi-WIDTH twin is ``events_value_histogram``). Emits each
    bucket's row count and [lo, hi] value bounds.

    Scale design: NTILE over the raw fact table is the textbook
    single-partition-window trap, so this runs the house
    range-exchange + partition-offset pattern
    (``tpch_more._ntile4_distributed``, generalized to K=8): range
    partitions on the unique total order (price + key tiebreaks) are
    globally contiguous, the global rank is the partition-local
    row_number plus a literal prefix offset (P-row driver collect,
    corpus-independent), and the NTILE bucket follows from the rank
    via {EQH_BUCKETS - 1} literal cutoffs. Every window is
    partitioned; one range exchange total."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    order_cols = [
        F.col("price").asc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    ]
    part = (
        li.repartitionByRange(EQH_RANGE_PARTS, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
        .persist()
    )
    cnt = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    sizes = [cnt.get(p, 0) for p in range(EQH_RANGE_PARTS)]
    offs, acc = [], 0
    for s in sizes:
        offs.append(acc)
        acc += s
    n = acc
    base, rem = divmod(n, EQH_BUCKETS)
    cuts, running = [], 0
    for b in range(EQH_BUCKETS - 1):
        running += base + (1 if b < rem else 0)
        cuts.append(running)
    wloc = Window.partitionBy("_pid").orderBy(*order_cols)
    rank = F.array(*[F.lit(o) for o in offs])[
        F.col("_pid")
    ] + F.row_number().over(wloc)
    bucket = F.lit(1)
    for c in cuts:
        bucket = bucket + (rank > c).cast("int")
    return (
        part.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("price").cast("double").alias("lo"),
            F.max("price").cast("double").alias("hi"),
        )
    )


# ---- data-contract expectations report --------------------------------


@query(
    "profile_expectations_report",
    oracle="""
    WITH li AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50
                              OR l_quantity IS NULL) AS v_qty,
             COUNT(*) FILTER (WHERE l_extendedprice <= 0
                              OR l_extendedprice IS NULL) AS v_price,
             COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS v_ship
      FROM lineitem
    ),
    dup AS (
      SELECT COALESCE(SUM(c - 1), 0) AS v, COUNT(*) AS n
      FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
    ),
    fk AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey)
             ) AS v
      FROM lineitem l
    )
    SELECT expectation, n_checked::BIGINT AS n_checked,
           n_violations::BIGINT AS n_violations, passed
    FROM (
      SELECT 'l_quantity_between_1_and_50' AS expectation,
             n AS n_checked, v_qty AS n_violations, v_qty = 0 AS passed
      FROM li
      UNION ALL
      SELECT 'l_extendedprice_positive', n, v_price, v_price = 0 FROM li
      UNION ALL
      SELECT 'l_shipdate_not_null', n, v_ship, v_ship = 0 FROM li
      UNION ALL
      SELECT 'o_orderkey_unique', n, v, v = 0 FROM dup
      UNION ALL
      SELECT 'l_orderkey_references_orders', n, v, v = 0 FROM fk
    )
    """,
)
def profile_expectations_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declarative data-contract validation (the dbt-tests /
    Great-Expectations report as a query): range, not-null,
    key-uniqueness, and referential-integrity expectations evaluated
    in bulk, one row per expectation with checked/violation counts
    and a pass flag — the gate a lakehouse runs before publishing a
    partition.

    Plan shape per expectation class: the three row-level range/null
    checks fold into ONE lineitem scan as conditional counts (adding
    an expectation adds a column, not a pass); uniqueness is one
    groupBy on the key; referential integrity is one LEFT ANTI join
    counted (AQE broadcasts the key side while it fits). Total: two
    fact scans + one dim scan regardless of how many row-level
    expectations the contract carries."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    row_checks = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(
            F.col("l_quantity").isNull()
            | (F.col("l_quantity") < 1)
            | (F.col("l_quantity") > 50)
        ).alias("v_qty"),
        F.count_if(
            F.col("l_extendedprice").isNull()
            | (F.col("l_extendedprice") <= 0)
        ).alias("v_price"),
        F.count_if(F.col("l_shipdate").isNull()).alias("v_ship"),
    )
    row_rows = row_checks.selectExpr(
        "stack(3,"
        " 'l_quantity_between_1_and_50', n, v_qty,"
        " 'l_extendedprice_positive', n, v_price,"
        " 'l_shipdate_not_null', n, v_ship"
        ") AS (expectation, n_checked, n_violations)"
    )
    dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.lit("o_orderkey_unique").alias("expectation"),
            F.count(F.lit(1)).alias("n_checked"),
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias(
                "n_violations"
            ),
        )
    )
    orphans = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == orders.o_orderkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("v"))
        .crossJoin(li.agg(F.count(F.lit(1)).alias("n")))
        .select(
            F.lit("l_orderkey_references_orders").alias("expectation"),
            F.col("n").alias("n_checked"),
            F.col("v").alias("n_violations"),
        )
    )
    return (
        row_rows.unionByName(dup)
        .unionByName(orphans)
        .withColumn("passed", F.col("n_violations") == 0)
    )


# ---- one-pass pairwise correlation matrix ----------------------------

_CORR_COLS = ("q", "p", "d", "t")  # quantity, price(c), disc(%), tax(%)
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
]
_CORR_NAMES = {"q": "quantity", "p": "price", "d": "discount", "t": "tax"}


def _corr_pair_select(a: str, b: str) -> str:
    """One output row of the correlation matrix from the single
    moments row — shared SQL text for both dialects (all referenced
    columns are 128-bit exact sums)."""
    return f"""
      SELECT '{_CORR_NAMES[a]}' AS col_a, '{_CORR_NAMES[b]}' AS col_b,
             CAST(n AS BIGINT) AS n_rows,
             CAST(CAST(
               CAST(n * s_{a}{b} - s_{a} * s_{b} AS DOUBLE)
               / sqrt(CAST(n * s_{a}{a} - s_{a} * s_{a} AS DOUBLE)
                      * CAST(n * s_{b}{b} - s_{b} * s_{b} AS DOUBLE))
               AS DECIMAL(18,6)) AS DOUBLE) AS pearson_r
      FROM s"""


_CORR_UNION = " UNION ALL ".join(
    _corr_pair_select(a, b) for a, b in _CORR_PAIRS
)


@query(
    "lineitem_correlation_matrix",
    oracle=f"""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS t
      FROM lineitem
    ), s AS (
      SELECT COUNT(*)::HUGEINT AS n,
             {", ".join(f"SUM({c})::HUGEINT AS s_{c}" for c in _CORR_COLS)},
             {", ".join(f"SUM({c}::HUGEINT * {c}::HUGEINT) AS s_{c}{c}" for c in _CORR_COLS)},
             {", ".join(f"SUM({a}::HUGEINT * {b}::HUGEINT) AS s_{a}{b}" for a, b in _CORR_PAIRS)}
      FROM b
    )
    {_CORR_UNION}
    """,
)
def lineitem_correlation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full pairwise Pearson correlation matrix over lineitem's four
    numeric measures in ONE scan — the column-dependency profile a
    CBO or feature-selection pass wants (15 exact sufficient
    statistics: n, 4 sums, 4 squares, 6 cross-products), extending
    ``text_length_quality_correlation`` (one pair) to the all-pairs
    profiling shape.

    Exactness: every measure is scaled to exact integers (price in
    cents, rates in hundredths) and every moment accumulates in the
    128-bit domain (DECIMAL(38,0) / HUGEINT — Σp² ≈ 6e19 at sf0.1
    already exceeds BIGINT); each r is one fixed double expression
    over the moments, pinned DECIMAL(18,6). Plan: one
    map-side-combined aggregate ships 15 numbers total; the 6-row
    matrix assembles from the single cached moments row — at 100 TB
    the correlation matrix costs exactly one scan, no shuffle of
    anything but partial aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
        F.round(F.col("l_tax") * 100).cast("bigint").alias("t"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(dec(c)).alias(f"s_{c}"))
    for c in _CORR_COLS:
        aggs.append(F.sum(dec(c) * dec(c)).alias(f"s_{c}{c}"))
    for a, bb in _CORR_PAIRS:
        aggs.append(F.sum(dec(a) * dec(bb)).alias(f"s_{a}{bb}"))
    s = b.agg(*aggs).persist()
    s.createOrReplaceTempView("_corr_moments_tmp")
    out = None
    for a, bb in _CORR_PAIRS:
        part = spark.sql(
            _corr_pair_select(a, bb).replace("FROM s", "FROM _corr_moments_tmp")
        )
        out = part if out is None else out.unionAll(part)
    return out


# ---- embedding distribution drift (corpus-half SMD screen) --------------

# Top-N most drifted dimensions between the two deterministic corpus
# halves (vec_id parity — the self-contained stand-in for "yesterday's
# ingest vs today's"). Statistic: standardized mean difference
# (Cohen's d with the unpooled two-sample denominator), the embedding
# analog of the scalar TVD/KS/PSI drift triptych.
DRIFT_TOP_DIMS = 10

_SMD_MA = f"CAST(sa AS DOUBLE) / {NANO} / na"
_SMD_MB = f"CAST(sb AS DOUBLE) / {NANO} / nb"
_SMD_VA = (
    f"CAST(qa * na - sa * sa AS DOUBLE)"
    f" / (CAST(na AS DOUBLE) * na * {NANO} * {NANO})"
)
_SMD_VB = (
    f"CAST(qb * nb - sb * sb AS DOUBLE)"
    f" / (CAST(nb AS DOUBLE) * nb * {NANO} * {NANO})"
)
_SMD_EXPR = (
    f"abs(({_SMD_MA}) - ({_SMD_MB}))"
    f" / sqrt((({_SMD_VA}) + ({_SMD_VB})) / 2.0)"
)


@query(
    "embedding_halves_drift",
    oracle=f"""
    WITH comps AS (
      SELECT
        u.dim,
        e.vec_id % 2 = 0 AS in_a,
        CAST(FLOOR(u.x * {NANO}) AS BIGINT) AS nano
      FROM embeddings e,
        LATERAL (
          SELECT generate_series AS dim,
                 (e.embedding::DOUBLE[])[generate_series + 1] AS x
          FROM generate_series(0, {DIM - 1})
        ) u
    ), mo AS (
      SELECT dim,
        COUNT(*) FILTER (WHERE in_a)::BIGINT AS na,
        SUM(CAST(nano AS DECIMAL(38,0))) FILTER (WHERE in_a) AS sa,
        SUM(CAST(nano * nano AS DECIMAL(38,0))) FILTER (WHERE in_a) AS qa,
        COUNT(*) FILTER (WHERE NOT in_a)::BIGINT AS nb,
        SUM(CAST(nano AS DECIMAL(38,0))) FILTER (WHERE NOT in_a) AS sb,
        SUM(CAST(nano * nano AS DECIMAL(38,0))) FILTER (WHERE NOT in_a) AS qb
      FROM comps GROUP BY dim
    )
    SELECT dim,
           CAST(CAST({_SMD_MA} AS DECIMAL(18,9)) AS DOUBLE) AS mean_a,
           CAST(CAST({_SMD_MB} AS DECIMAL(18,9)) AS DOUBLE) AS mean_b,
           CAST(CAST({_SMD_EXPR} AS DECIMAL(18,6)) AS DOUBLE) AS smd
    FROM mo
    ORDER BY smd DESC, dim ASC
    LIMIT {DRIFT_TOP_DIMS}
    """,
)
def embedding_halves_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift screen: the {DRIFT_TOP_DIMS} dimensions
    whose means differ most (standardized mean difference) between the
    two deterministic corpus halves — the vector-space member of the
    drift family (TVD/KS/PSI cover scalars; a retrained or
    version-bumped embedding model shifts dimensions long before any
    scalar metadata moves).

    Exactness: the ``embedding_dim_stats`` discipline — components
    floor'd to nano-unit BIGINTs in the scan, per-half moments as
    conditional DECIMAL(38,0) aggregates (one row per dim), variance
    numerators kept in exact integer decimal (n·Σx² − (Σx)²), and the
    SMD one fixed-order IEEE chain pinned DECIMAL(18,6).

    Plan: posexplode (64× expansion, no shuffle) → partial-aggregated
    64-group exchange → 64-row projection → TakeOrdered top-10. One
    pass; both halves' moments ride the same aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        (F.col("vec_id") % 2 == 0).alias("in_a"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "dim",
        "in_a",
        F.floor(F.col("x").cast("double") * NANO)
        .cast("bigint")
        .alias("nano"),
    )

    def cagg(cond, expr):
        return F.sum(F.when(cond, expr))

    a, b = F.col("in_a"), ~F.col("in_a")
    nano_dec = F.col("nano").cast("decimal(38,0)")
    nanosq_dec = (F.col("nano") * F.col("nano")).cast("decimal(38,0)")
    mo = comps.groupBy("dim").agg(
        F.count_if(a).alias("na"),
        cagg(a, nano_dec).alias("sa"),
        cagg(a, nanosq_dec).alias("qa"),
        F.count_if(b).alias("nb"),
        cagg(b, nano_dec).alias("sb"),
        cagg(b, nanosq_dec).alias("qb"),
    )
    return (
        mo.select(
            "dim",
            F.expr(f"CAST(CAST({_SMD_MA} AS DECIMAL(18,9)) AS DOUBLE)").alias(
                "mean_a"
            ),
            F.expr(f"CAST(CAST({_SMD_MB} AS DECIMAL(18,9)) AS DOUBLE)").alias(
                "mean_b"
            ),
            F.expr(
                f"CAST(CAST({_SMD_EXPR} AS DECIMAL(18,6)) AS DOUBLE)"
            ).alias("smd"),
        )
        .orderBy(F.col("smd").desc(), F.col("dim").asc())
        .limit(DRIFT_TOP_DIMS)
    )


# ---- k-anonymity profile ---------------------------------------------------

KANON_THRESHOLDS = (2, 5, 11)  # the k levels the report slices at


def _kanon_sql(table: str, bigint: str) -> str:
    """Shared dialect-neutral k-anonymity text: quasi-identifier =
    (nation, market segment, account-balance band of 1000)."""
    ladder = ",\n".join(
        f"""           CAST(SUM(CASE WHEN eq_size < {k}
                         THEN eq_size ELSE 0 END) AS {bigint})
             AS n_below_k{k}"""
        for k in KANON_THRESHOLDS
    )
    return f"""
    WITH qi AS (
      SELECT c_nationkey AS nation,
             c_mktsegment AS segment,
             CAST(FLOOR(c_acctbal / 1000) AS {bigint}) AS bal_band
      FROM {table}
    ),
    eq AS (
      SELECT nation, segment, bal_band,
             CAST(COUNT(*) AS {bigint}) AS eq_size
      FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS {bigint}) AS n_classes,
           CAST(SUM(eq_size) AS {bigint}) AS n_records,
           CAST(MIN(eq_size) AS {bigint}) AS k_anonymity,
{ladder}
    FROM eq
    """


@query(
    "customer_k_anonymity",
    oracle=_kanon_sql("customer", "BIGINT"),
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity profile of the customer table under the
    (nation, market segment, account-balance band) quasi-identifier —
    the re-identification risk readout that pairs with
    ``text_pii_redact`` (redaction hides direct identifiers;
    k-anonymity measures whether the INDIRECT ones still single
    people out, Sweeney's classic metric — public method). Reports
    the table's k (smallest equivalence class) and how many RECORDS
    sit in classes below each disclosure threshold — the number a
    release review actually gates on.

    Exactness: pure integer counting end-to-end (the balance band is
    FLOOR of an exact double division by a power of 10 — identical
    in both engines); no pinning needed anywhere.

    Plan: one scan → hash aggregate on the quasi-identifier → 1-row
    rollup of class sizes. At 100 TB both aggregates partial
    map-side; nothing is driver-bound."""
    cust = load_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("kanon_customer")
    return spark.sql(_kanon_sql("kanon_customer", "BIGINT"))


# ---- l-diversity profile ---------------------------------------------------

LDIV_THRESHOLDS = (2, 3)  # the l levels the report slices at


def _ldiv_sql(table: str, bigint: str) -> str:
    """Shared dialect-neutral l-diversity text: quasi-identifier =
    (nation, account-balance band of 1000) — the k-anonymity QI MINUS
    the market segment, which becomes the SENSITIVE attribute."""
    ladder = ",\n".join(
        f"""           CAST(SUM(CASE WHEN l_distinct < {lv}
                         THEN 1 ELSE 0 END) AS {bigint})
             AS n_classes_below_l{lv},
           CAST(SUM(CASE WHEN l_distinct < {lv}
                         THEN class_size ELSE 0 END) AS {bigint})
             AS n_records_below_l{lv}"""
        for lv in LDIV_THRESHOLDS
    )
    return f"""
    WITH qi AS (
      SELECT c_nationkey AS nation,
             CAST(FLOOR(c_acctbal / 1000) AS {bigint}) AS bal_band,
             c_mktsegment AS segment
      FROM {table}
    ),
    cls AS (
      SELECT nation, bal_band, segment,
             CAST(COUNT(*) AS {bigint}) AS cnt
      FROM qi GROUP BY 1, 2, 3
    ),
    percls AS (
      SELECT nation, bal_band,
             CAST(COUNT(*) AS {bigint}) AS l_distinct,
             CAST(SUM(cnt) AS {bigint}) AS class_size
      FROM cls GROUP BY 1, 2
    ),
    ent AS (
      SELECT c.nation, c.bal_band,
             SUM(CAST(
               -(CAST(c.cnt AS DOUBLE) / p.class_size)
               * ln(CAST(c.cnt AS DOUBLE) / p.class_size)
               AS DECIMAL(18,12))) AS h
      FROM cls c
      JOIN percls p
        ON p.nation = c.nation AND p.bal_band = c.bal_band
      GROUP BY 1, 2
    ),
    ent_l AS (
      SELECT CAST(CAST(exp(CAST(h AS DOUBLE)) AS DECIMAL(18,6))
                  AS DOUBLE) AS entropy_l
      FROM ent
    )
    SELECT CAST(COUNT(*) AS {bigint}) AS n_classes,
           CAST(SUM(class_size) AS {bigint}) AS n_records,
           CAST(MIN(l_distinct) AS {bigint}) AS l_diversity,
{ladder},
           (SELECT MIN(entropy_l) FROM ent_l) AS min_entropy_l
    FROM percls
    """


@query(
    "customer_l_diversity",
    oracle=_ldiv_sql("customer", "BIGINT"),
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity profile — the release-review metric k-anonymity
    cannot see: a class of 50 identical-QI customers is 50-anonymous,
    but if all 50 share ONE market segment the sensitive attribute
    leaks anyway (Machanavajjhala's classic homogeneity attack —
    public method). Quasi-identifier = (nation, balance band); the
    segment moves from QI (where ``customer_k_anonymity`` uses it) to
    the sensitive role. Reports distinct-l (min distinct sensitive
    values over classes), class/record counts below each l
    threshold, and min ENTROPY-l (exp of the class's sensitive-value
    entropy — the stricter variant that penalizes 49-to-1 skew that
    distinct-l calls diverse).

    Exactness: integer counting through ``percls``; each class's
    entropy terms −p·ln p are one IEEE chain over identical doubles
    (cnt/class_size division) pinned DECIMAL(18,12) BEFORE the
    cross-term sum (sum order differs between engines; decimal
    addition is order-insensitive — the ln-pin rule); entropy-l is
    one exp over the exact decimal sum, pinned DECIMAL(18,6).

    Plan: one scan → (QI, segment) hash aggregate → per-class rollup
    (map-side partials at 100 TB); the entropy join is class-keyed,
    AQE-broadcastable; two scalar finishes. No window, no driver
    math."""
    cust = load_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("ldiv_customer")
    return spark.sql(_ldiv_sql("ldiv_customer", "BIGINT"))


# ---- cross-table freshness report ------------------------------------------


@query(
    "profile_freshness_report",
    oracle="""
    WITH per_table AS (
      SELECT 'orders' AS table_name, COUNT(*)::BIGINT AS n_rows,
             max(CAST(o_orderdate AS TIMESTAMP)) AS max_ts
      FROM orders
      UNION ALL
      SELECT 'lineitem', COUNT(*)::BIGINT,
             max(CAST(l_shipdate AS TIMESTAMP))
      FROM lineitem
      UNION ALL
      SELECT 'events', COUNT(*)::BIGINT,
             max(CAST(ts AS TIMESTAMP))
      FROM events
    ),
    horizon AS (SELECT max(max_ts) AS h FROM per_table)
    SELECT t.table_name, t.n_rows,
           CAST(t.max_ts AS TIMESTAMP) AS max_ts,
           CAST(datediff('day', CAST(t.max_ts AS DATE),
                         CAST(h.h AS DATE)) AS BIGINT)
             AS staleness_days
    FROM per_table t CROSS JOIN horizon h
    """,
)
def profile_freshness_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table FRESHNESS report — per fact table, its row count,
    newest business timestamp, and staleness in days behind the
    lake-wide horizon (the newest timestamp anywhere). The first
    dashboard an on-call opens when a pipeline "ran green but loaded
    nothing": a table whose staleness jumps while its neighbors
    advance is a silently-stuck feed, which row counts alone never
    show. Complements the single-table expectation gate
    (``profile_expectations_report``) with the cross-table freshness
    axis.

    Exactness: pure max/count aggregates and exact day arithmetic —
    no pinning needed.

    Plan: one partial+final aggregate per table (3 scans of exactly
    one column each — columnar pruning makes these metadata-cheap),
    a 3-row union, and a broadcast horizon. At 100 TB each max/count
    rides parquet footer statistics where available; nothing wide."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    per = (
        orders.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(F.col("o_orderdate").cast("timestamp")).alias("max_ts"),
        ).select(F.lit("orders").alias("table_name"), "n_rows", "max_ts")
    ).union(
        lineitem.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(F.col("l_shipdate").cast("timestamp")).alias("max_ts"),
        ).select(
            F.lit("lineitem").alias("table_name"), "n_rows", "max_ts"
        )
    ).union(
        events.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(F.col("ts").cast("timestamp")).alias("max_ts"),
        ).select(F.lit("events").alias("table_name"), "n_rows", "max_ts")
    )
    horizon = per.agg(F.max("max_ts").alias("h"))
    return per.crossJoin(F.broadcast(horizon)).select(
        "table_name",
        "n_rows",
        "max_ts",
        F.datediff(F.col("h").cast("date"), F.col("max_ts").cast("date"))
        .cast("bigint")
        .alias("staleness_days"),
    )


# ---- embedding participation ratio (effective dimensionality) --------


@query(
    "embedding_participation_ratio",
    oracle=f"""
    WITH comps AS (
      SELECT
        e.vec_id,
        u.dim,
        CAST(FLOOR((e.embedding::DOUBLE[])[u.dim + 1] * {NANO})
             AS BIGINT) AS nano
      FROM embeddings e,
        LATERAL (
          SELECT generate_series AS dim
          FROM generate_series(0, {DIM - 1})
        ) u
    ),
    dimsums AS (
      SELECT dim, CAST(SUM(CAST(nano AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s
      FROM comps GROUP BY dim
    ),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM embeddings),
    prods AS (
      SELECT a.dim AS i, b.dim AS j,
             CAST(SUM(CAST(a.nano * b.nano AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS p
      FROM comps a JOIN comps b
        ON b.vec_id = a.vec_id AND a.dim <= b.dim
      GROUP BY 1, 2
    ),
    cov AS (
      SELECT p.i, p.j,
             CAST(nn.n * p.p - si.s * sj.s AS DOUBLE)
               / (CAST(nn.n AS DOUBLE) * nn.n * {NANO} * {NANO})
               AS c
      FROM prods p
      JOIN dimsums si ON si.dim = p.i
      JOIN dimsums sj ON sj.dim = p.j
      CROSS JOIN nn
    ),
    terms AS (
      SELECT
        CAST(CASE WHEN i = j THEN c ELSE 0 END AS DECIMAL(18,12))
          AS tr_term,
        CAST(CASE WHEN i = j THEN c * c ELSE 2 * (c * c) END
             AS DECIMAL(18,12)) AS tr2_term
      FROM cov
    ),
    fin AS (
      SELECT CAST(SUM(tr_term) AS DOUBLE) AS trace_c,
             CAST(SUM(tr2_term) AS DOUBLE) AS trace_c2
      FROM terms
    )
    SELECT nn.n AS n_vectors,
           CAST({DIM} AS BIGINT) AS dim,
           CAST(CAST(fin.trace_c AS DECIMAL(18,9)) AS DOUBLE)
             AS trace_c,
           CAST(CAST(fin.trace_c2 AS DECIMAL(18,9)) AS DOUBLE)
             AS trace_c2,
           CAST(CAST(fin.trace_c * fin.trace_c / fin.trace_c2
                AS DECIMAL(18,6)) AS DOUBLE) AS participation_ratio,
           CAST(CAST(fin.trace_c * fin.trace_c / fin.trace_c2 / {DIM}
                AS DECIMAL(18,6)) AS DOUBLE) AS effective_dim_fraction
    FROM fin CROSS JOIN nn
    """,
)
def embedding_participation_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Effective dimensionality of the embedding space via the
    participation ratio PR = tr(C)² / tr(C²) of the covariance matrix
    — the eigendecomposition-free identity tr(C²) = Σᵢⱼ Cᵢⱼ², so PR =
    (Σλ)²/Σλ² without ever forming an eigenproblem (the standard
    effective-rank readout in representation-learning analysis; PR ≈
    DIM for isotropic embeddings, PR ≪ DIM for collapsed ones). The
    whole-matrix companion of ``embedding_dim_stats`` (marginal
    per-dim variances can look healthy while dimensions are
    near-duplicates of each other — exactly what the off-diagonal
    mass here exposes) and the health gate for the PCA/ANN family.

    Exactness: components enter as nano-unit BIGINTs (the
    ``embedding_dim_stats`` fixed-point pattern); every covariance
    NUMERATOR n·Σxy − Σx·Σy is exact DECIMAL(38,0) integer
    arithmetic (a 1e9-vector corpus still fits with digits to
    spare), one double division per entry; the 64 trace terms and
    2080 squared terms are pinned DECIMAL(18,12) before their sums.

    Plan: ONE scan expands each vector against the broadcast
    2080-row (i≤j) index grid — no self-join, no shuffle before the
    partial aggregate collapses every partition to ≤2080 rows; the
    finish is grid-sized. Scale cost is a map-side expansion ×2080,
    the price of all-pairs covariance in one pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    grid = (
        spark.range(DIM)
        .alias("a")
        .join(spark.range(DIM).alias("b"), F.expr("a.id <= b.id"))
        .select(
            F.col("a.id").cast("int").alias("i"),
            F.col("b.id").cast("int").alias("j"),
        )
    )
    pairs = emb.crossJoin(F.broadcast(grid)).select(
        "i",
        "j",
        F.floor(
            F.expr("CAST(element_at(embedding, i + 1) AS DOUBLE)")
            * NANO
        )
        .cast("bigint")
        .alias("ni"),
        F.floor(
            F.expr("CAST(element_at(embedding, j + 1) AS DOUBLE)")
            * NANO
        )
        .cast("bigint")
        .alias("nj"),
    )
    prods = pairs.groupBy("i", "j").agg(
        F.sum((F.col("ni") * F.col("nj")).cast("decimal(38,0)")).alias(
            "p"
        ),
        F.sum(F.col("ni").cast("decimal(38,0)")).alias("si_part"),
    )
    # per-dim sums from the diagonal rows (i == j reads dim i once)
    dimsums = (
        prods.filter(F.col("i") == F.col("j"))
        .select(F.col("i").alias("dim"), F.col("si_part").alias("s"))
    )
    nn = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cov = (
        prods.join(
            F.broadcast(
                dimsums.select(
                    F.col("dim").alias("di"), F.col("s").alias("si")
                )
            ),
            F.col("di") == F.col("i"),
        )
        .join(
            F.broadcast(
                dimsums.select(
                    F.col("dim").alias("dj"), F.col("s").alias("sj")
                )
            ),
            F.col("dj") == F.col("j"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            F.expr(
                "CAST(n * p - si * sj AS DOUBLE)"
                f" / (CAST(n AS DOUBLE) * n * {NANO} * {NANO})"
            ).alias("c"),
        )
    )
    terms = cov.select(
        F.expr(
            "CAST(CASE WHEN i = j THEN c ELSE 0 END AS DECIMAL(18,12))"
        ).alias("tr_term"),
        F.expr(
            "CAST(CASE WHEN i = j THEN c * c ELSE 2 * (c * c) END"
            " AS DECIMAL(18,12))"
        ).alias("tr2_term"),
    )
    fin = terms.agg(
        F.sum("tr_term").cast("double").alias("trace_c"),
        F.sum("tr2_term").cast("double").alias("trace_c2"),
    )
    return fin.crossJoin(F.broadcast(nn)).selectExpr(
        "n AS n_vectors",
        f"CAST({DIM} AS BIGINT) AS dim",
        "CAST(CAST(trace_c AS DECIMAL(18,9)) AS DOUBLE) AS trace_c",
        "CAST(CAST(trace_c2 AS DECIMAL(18,9)) AS DOUBLE) AS trace_c2",
        "CAST(CAST(trace_c * trace_c / trace_c2 AS DECIMAL(18,6))"
        " AS DOUBLE) AS participation_ratio",
        f"CAST(CAST(trace_c * trace_c / trace_c2 / {DIM}"
        " AS DECIMAL(18,6)) AS DOUBLE) AS effective_dim_fraction",
    )


# ---- per-column entropy profile ---------------------------------------

ENTROPY_COLS = (
    "o_orderstatus",
    "o_orderpriority",
    "o_custkey",
    "o_totalprice",
    "o_orderdate",
)


def _col_entropy_sql(unpivoted: str, bigint: str) -> str:
    """Shared finish over an unpivoted (col_name, val) frame:
    H = −Σ (c/n)·ln(c/n) per column, each value's term using the
    ln-of-exact-ratio pin (DECIMAL(18,9) on the ln, the whole term
    DECIMAL(18,12)) so the distinct-value summation — corpus-scale
    for key-like columns — is order-insensitive.

    NULL convention: NULLs are EXCLUDED from the distribution
    (``WHERE val IS NOT NULL`` in the counts stage). Spark's native
    DataFrame.unpivot retains NULL cells while SQL-standard UNPIVOT
    (the DuckDB oracle) drops them; filtering here makes both
    dialects compute the same n_rows/n_distinct/entropy regardless
    of column nullability."""
    return f"""
    WITH vals AS ({unpivoted}),
    counts AS (
      SELECT col_name, val, CAST(COUNT(*) AS {bigint}) AS c
      FROM vals WHERE val IS NOT NULL GROUP BY 1, 2
    ),
    totals AS (
      SELECT col_name, CAST(SUM(c) AS {bigint}) AS n,
             CAST(COUNT(*) AS {bigint}) AS n_distinct
      FROM counts GROUP BY 1
    ),
    terms AS (
      SELECT c.col_name,
             CAST(-(CAST(c.c AS DOUBLE) / t.n)
               * CAST(CAST(ln(CAST(c.c AS DOUBLE) / t.n)
                      AS DECIMAL(18,9)) AS DOUBLE)
               AS DECIMAL(18,12)) AS h_term
      FROM counts c JOIN totals t ON t.col_name = c.col_name
    )
    SELECT t.col_name,
           t.n AS n_rows,
           t.n_distinct,
           CAST(CAST(CAST(t.n_distinct AS DOUBLE) / t.n
                AS DECIMAL(18,6)) AS DOUBLE) AS distinct_ratio,
           CAST(CAST(CAST(s.h AS DOUBLE) AS DECIMAL(18,6))
                AS DOUBLE) AS entropy_nats,
           CAST(CAST(
             CASE WHEN t.n_distinct = 1 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(s.h AS DOUBLE)
                    / CAST(CAST(ln(CAST(t.n_distinct AS DOUBLE))
                           AS DECIMAL(18,9)) AS DOUBLE) END
             AS DECIMAL(18,6)) AS DOUBLE) AS normalized_entropy
    FROM totals t
    JOIN (SELECT col_name, SUM(h_term) AS h FROM terms GROUP BY 1) s
      ON s.col_name = t.col_name
    """


@query(
    "profile_column_entropy",
    oracle=_col_entropy_sql(
        "SELECT col_name, val FROM ("
        + " SELECT "
        + ", ".join(
            f"CAST({c} AS VARCHAR) AS {c}" for c in ENTROPY_COLS
        )
        + " FROM orders"
        + f") UNPIVOT (val FOR col_name IN ({', '.join(ENTROPY_COLS)}))",
        "BIGINT",
    ),
)
def profile_column_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-column Shannon entropy profile of the orders table —
    H = −Σ p ln p over each column's value distribution, with the
    distinct ratio and H/ln(distinct) normalization: the information-
    density readout ``profile_table_onepass`` (counts and bounds)
    doesn't give. Low normalized entropy on a key-like column means
    skew a partitioner must care about (the scalar summary of
    ``profile_key_skew``'s per-key table); near-zero entropy flags a
    constant column a schema review should drop; entropy drop
    release-over-release is silent-default-stuffing.

    Exactness: counts are exact integers from one unpivoted
    aggregate; each value's −p·ln p term rides the ln-of-exact-ratio
    pin and is itself pinned DECIMAL(18,12) before the per-column
    sum, so the corpus-scale distinct-value summation is
    order-insensitive; the normalizing ln(n_distinct) is pinned the
    same way.

    Plan: ONE scan → native unpivot (5× row expansion, no shuffle)
    → (column, value) partial+final hash aggregate — the only
    corpus-scale shuffle; per-column finishes run on 5 rows. The
    per-column-scan alternative would read the parquet 5×."""
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        *[F.col(c).cast("string").alias(c) for c in ENTROPY_COLS]
    ).unpivot([], list(ENTROPY_COLS), "col_name", "val")
    vals.createOrReplaceTempView("colentropy_vals")
    return spark.sql(
        _col_entropy_sql(
            "SELECT col_name, val FROM colentropy_vals", "BIGINT"
        )
    )

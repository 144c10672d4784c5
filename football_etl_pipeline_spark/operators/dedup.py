"""Deduplication operators over the ``documents`` table: exact
(content-hash), n-gram Jaccard, MinHash+LSH, and SimHash — the dedup
ladder of a large-scale training-data pipeline.

The reference deduplicates by full-table overwrite only (idempotency
via WRITE_TRUNCATE, ``/root/reference/dataflow-flex/pipeline.py:53``);
content dedup is new surface per the engine charter (BASELINE.json:6).

All four operators are pure DataFrame plans — no Python in the row
path. The content hash is the engine's portable 60-bit md5 prefix
(``textops.hash60_*``), computed identically by Spark and DuckDB, so
every stage (including the MinHash permutations) has an exact oracle.

Scale design (100 TB):
- exact: one hash-groupBy shuffle on a 60-bit key — uniform by
  construction, no skew; runs as partial+final hash aggregate.
- ngram-jaccard: candidate generation joins docs on shared shingles.
  A document-frequency cap (DF_CAP) drops stop-shingles before the
  join — without it one viral shingle makes a quadratic hot key; with
  it the join is bounded by DF_CAP² pairs per shingle. This is the
  exact-but-expensive path; MinHash is the scale path.
- minhash-lsh: signatures are k min-aggregates over one shingle
  explode (single shuffle), banding turns all-pairs into equality
  joins on band keys — cost O(n·k) + collisions, not O(n²).
- simhash: frequency-weighted 60-bit simhash via 60 conditional sums
  in one aggregate pass; candidate pairs via 15-bit band equality
  (pigeonhole over 4 bands: any pair within hamming ≤ 3 must share a
  band, so the radius-2 cut has exact recall; 2^15 buckets per band
  keep the band self-join subquadratic).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.testdata import load_table
from .registry import query
from .textops import (
    SHINGLES_DUCK,
    SHINGLES_SPARK,
    TOKENS_DUCK,
    TOKENS_SPARK,
    hash60_duck,
    hash60_spark,
)

# ---- exact dedup -----------------------------------------------------

NORM_SPARK = r"regexp_replace(trim(lower(text)), '\\s+', ' ')"
NORM_DUCK = r"regexp_replace(trim(lower(text), ' '), '[\s\v]+', ' ', 'g')"


@query(
    "dedup_exact",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, md5({NORM_DUCK}) AS fp FROM documents
    )
    SELECT
      doc_id,
      fp,
      MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
      doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup
    FROM t
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash: every doc mapped to the
    min doc_id of its content group (canonical), flagged if dropped.

    Plan: projection → window min over the hash (one shuffle on a
    uniform 128-bit key — unskewable). At 100 TB the same plan holds;
    to *materialize* the deduped corpus it's a filter on ``is_dup``.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    return (
        docs.select("doc_id", F.expr(f"md5({NORM_SPARK})").alias("fp"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("doc_id") != F.col("canonical_id"))
    )


@query(
    "dedup_keep_canonical",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, n_chars, md5({NORM_DUCK}) AS fp
      FROM documents
    )
    SELECT
      fp,
      MIN(doc_id) AS doc_id,
      MIN_BY(source, doc_id) AS source,
      MIN_BY(n_chars, doc_id) AS n_chars,
      COUNT(*) AS n_copies
    FROM t
    GROUP BY fp
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection: materialize ONE canonical row per exact-dup
    cluster (min doc_id) with its payload and the cluster size.

    Where ``dedup_exact`` *labels* every row, this emits the deduped
    corpus itself — the step a training-data pipeline actually ships.
    Plan: hash-groupBy on the content hash with ``min``/``min_by``
    carrying the survivor's payload — fully partial-aggregable (one
    shuffle of pre-combined groups, no window sort, no join-back to
    recover columns). At 100 TB that is the cheapest possible shape:
    map-side combine collapses duplicates before the exchange, and the
    128-bit key is uniform by construction so no salting is needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.expr(f"md5({NORM_SPARK})").alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.expr("min_by(source, doc_id)").alias("source"),
            F.expr("min_by(n_chars, doc_id)").alias("n_chars"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---- n-gram Jaccard --------------------------------------------------

# Drop shingles shared by more than DF_CAP docs before pairing: they
# are stop-shingles that contribute near-zero Jaccard evidence but
# quadratic join blowup. Part of the operator contract.
DF_CAP = 50
JACCARD_THRESHOLD = 0.5


def _hashed_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh60): distinct word-3-gram shingles reduced to their
    60-bit content hash. Two-step select so the text is tokenized ONCE
    per row (lambda bodies defeat CSE — embedding split() in the
    shingle expression costs ~5 tokenizations per row).

    The input is repartitioned to all cores first: tokenize+md5 is
    compute-bound, and a small source file otherwise pins the whole
    stage to however few input splits the scan produced (a 5 000-row
    parquet file is ONE split — one core does everything)."""
    from .textops import shingles_spark

    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return spread.select(
        "doc_id", F.expr(TOKENS_SPARK).alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform({shingles_spark('toks')}, s -> {hash60_spark('s')}))"
            )
        ).alias("sh60"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform({SHINGLES_DUCK},
                                                 s -> {hash60_duck('s')}))) AS h
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), rare AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= {DF_CAP}
    ), pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
      FROM sh a
      JOIN rare r ON a.h = r.h
      JOIN sh b ON b.h = a.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      a_id,
      b_id,
      n_shared,
      CAST(CAST(n_shared * 1.0 / (sa.n + sb.n - n_shared) AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, candidates_only: bool = False
) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.5, candidates from a
    shared-shingle equi-join with a document-frequency cap.
    ``candidates_only`` returns the pre-verify candidate pair frame —
    the quantity ``tools/scale_probe.py`` tracks across corpus sizes.

    Plan: shingles are reduced to their 60-bit content hash INSIDE the
    explode (8-byte join keys instead of ~20-char strings — less than
    half the shuffle bytes), persisted once (four subtrees read it),
    then df-cap semi-filter → self equi-join on the hash → pair-count
    aggregate. The DF cap bounds the worst key to DF_CAP² pairs; for
    corpora where that's still too hot, ``dedup_minhash_lsh`` is the
    subquadratic path. Hash collisions would merge two shingles — at
    60 bits that's ~never, and the oracle hashes identically, so the
    comparison is exact either way.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _hashed_shingles(docs).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    rare = sh.groupBy("sh60").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= DF_CAP
    ).select("sh60")
    # Both self-join sides are the SAME rare-filtered frame (a pair
    # needs its shared shingle on both sides, so filtering b is a
    # no-op semantically): identical plan subtrees → one shuffle,
    # ReusedExchange on the other side — instead of shuffling the
    # full shingle frame (hot shingles included) for b.
    shr = sh.join(rare, "sh60")
    pairs = (
        shr.alias("a")
        .join(shr.alias("b"), (F.col("a.sh60") == F.col("b.sh60")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    if candidates_only:
        return pairs.select("a_id", "b_id")
    jac = F.col("n_shared") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("n_shared"))
    return (
        pairs.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("a_id"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("b_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            "a_id",
            "b_id",
            "n_shared",
            jac.cast("decimal(18,6)").cast("double").alias("jaccard"),
        )
    )


# Containment threshold: |A∩B| / min(|A|, |B|) — near-1 when one doc's
# shingle set sits INSIDE the other's (quote-expansion, boilerplate
# wrapping, truncation dups), which symmetric Jaccard misses whenever
# the sizes differ a lot (A⊂B with |B|=4|A| has J=0.25 but C=1.0).
CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform({SHINGLES_DUCK},
                                                 s -> {hash60_duck('s')}))) AS h
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), rare AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= {DF_CAP}
    ), pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
      FROM sh a
      JOIN rare r ON a.h = r.h
      JOIN sh b ON b.h = a.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      a_id,
      b_id,
      n_shared,
      CAST(CAST(n_shared * 1.0 / LEAST(sa.n, sb.n) AS DECIMAL(18,6)) AS DOUBLE)
        AS containment
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_shared * 1.0 / LEAST(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
      AND n_shared * 1.0 / (sa.n + sb.n - n_shared) < {JACCARD_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs: max-direction shingle
    containment |A∩B|/min(|A|,|B|) ≥ {CONTAINMENT_THRESHOLD} for pairs
    the Jaccard rung does NOT already flag (J < {JACCARD_THRESHOLD}) —
    the quote-expansion / boilerplate-wrap / truncation duplicates
    where one document's content sits inside a much larger one, so the
    union in Jaccard's denominator buries the overlap.

    Plan: identical candidate machinery to ``dedup_ngram_jaccard``
    (hashed shingles persisted once, DF-capped rare-shingle gate, one
    shuffle + ReusedExchange self-join) — only the scoring projection
    differs, so the scale analysis there carries over verbatim. The
    J-exclusion makes the rung COMPLEMENTARY: run both, union the
    pairs, and each pair is reported by exactly one rung with the
    score that explains it.

    The natural synthetic corpus contains no containment-only dups
    (0 rows here — its planted near-dups are symmetric), so the
    behavioral evidence is ``tests/test_dedup_recall.py``'s planted
    quote-expansion corpus driving ``containment_pairs`` directly."""
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs)


def containment_pairs(docs: DataFrame) -> DataFrame:
    """The ``dedup_containment`` query body over an arbitrary
    ``(doc_id, text)`` frame (testability split, same pattern as
    ``simhash_banded_pairs``)."""
    sh = _hashed_shingles(docs).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    rare = sh.groupBy("sh60").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= DF_CAP
    ).select("sh60")
    shr = sh.join(rare, "sh60")
    pairs = (
        shr.alias("a")
        .join(
            shr.alias("b"),
            (F.col("a.sh60") == F.col("b.sh60"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    cont = F.col("n_shared") * 1.0 / F.least(F.col("sa.n"), F.col("sb.n"))
    jac = F.col("n_shared") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("n_shared"))
    return (
        pairs.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("a_id"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("b_id"))
        .filter((cont >= CONTAINMENT_THRESHOLD) & (jac < JACCARD_THRESHOLD))
        .select(
            "a_id",
            "b_id",
            "n_shared",
            cont.cast("decimal(18,6)").cast("double").alias("containment"),
        )
    )


# ---- MinHash + LSH ---------------------------------------------------

# k universal-hash permutations h_i(x) = (a_i·x + b_i) mod P over the
# 60-bit shingle hash reduced mod P. P = 2^31−1 (Mersenne); a_i < 2^15
# keeps a_i·x < 2^46 — no 64-bit overflow in either engine. Constants
# are seeded so the signature (and its oracle) is reproducible.
MINHASH_P = 2_147_483_647
MINHASH_K = 16
MINHASH_BANDS = 4  # 4 bands × 4 rows: catches J≥0.5 pairs w.h.p.
_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, 1 << 15) for _ in range(MINHASH_K)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(MINHASH_K)]

_ROWS_PER_BAND = MINHASH_K // MINHASH_BANDS


def _minhash_min_exprs() -> list[str]:
    """The k ``min((a·h + b) % P)`` aggregate expressions (both
    dialects — the arithmetic is identical)."""
    return [
        f"min(({a} * h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def _band_key(band: int, dialect: str) -> str:
    cols = [f"m{band * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)]
    if dialect == "spark":
        return "concat_ws(',', " + ", ".join(cols) + ")"
    return " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)


def _minhash_pairs_ctes(src: str = "documents") -> str:
    """The shared DuckDB CTE chain (toks → … → pairs of verified
    Jaccard ≥ threshold) over ``src`` — used by the standalone
    ``dedup_minhash_lsh`` oracle and, with the exact-survivor frame as
    ``src``, by the ``dedup_pipeline_e2e`` oracle."""
    mins = ",\n             ".join(_minhash_min_exprs())
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band_id, {_band_key(b, 'duck')} AS bkey FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM {src}
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform({SHINGLES_DUCK},
                                                 s -> {hash60_duck('s')}))) AS sh60
      FROM toks
    ), hashed AS (
      SELECT doc_id, sh60 % {MINHASH_P} AS h FROM sh
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ), bands AS (
{band_rows}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), verified AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS n_shared
      FROM cand c
      JOIN sh x ON x.doc_id = c.a_id
      JOIN sh y ON y.doc_id = c.b_id AND y.sh60 = x.sh60
      GROUP BY 1, 2
    ), mh_pairs AS (
      SELECT
        v.a_id,
        v.b_id,
        CAST(CAST(v.n_shared * 1.0 / (sa.n + sb.n - v.n_shared) AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
      FROM verified v
      JOIN sizes sa ON sa.doc_id = v.a_id
      JOIN sizes sb ON sb.doc_id = v.b_id
      WHERE v.n_shared * 1.0 / (sa.n + sb.n - v.n_shared) >= {JACCARD_THRESHOLD}
    )"""


def _minhash_oracle() -> str:
    return (
        "WITH "
        + _minhash_pairs_ctes()
        + "\n    SELECT a_id, b_id, jaccard FROM mh_pairs"
    )


def minhash_lsh_pairs(
    docs: DataFrame, candidates_only: bool = False
) -> DataFrame:
    """MinHash+LSH verified near-dup pairs over any ``documents``-shaped
    frame — the shared engine of ``dedup_minhash_lsh`` (whole corpus)
    and ``dedup_pipeline_e2e`` (exact-dedup survivors). One
    implementation so the standalone rung and the composed pipeline
    cannot diverge."""
    # Persisted: the hashed shingle set (8-byte keys, md5 computed
    # once) feeds the signature aggregate, the per-doc sizes, and both
    # sides of the verify join (4 subtrees).
    sh = _hashed_shingles(docs).persist()
    hashed = sh.select("doc_id", (F.col("sh60") % MINHASH_P).alias("h"))
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{i}")
            for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.expr(_band_key(b, "spark")).alias("bkey"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "bd.band_id", "bd.bkey")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    if candidates_only:
        return cand
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    verified = (
        cand.join(sh.alias("x"), F.col("x.doc_id") == F.col("a_id"))
        .join(
            sh.alias("y"),
            (F.col("y.doc_id") == F.col("b_id")) & (F.col("y.sh60") == F.col("x.sh60")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.col("n_shared") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("n_shared"))
    return (
        verified.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("a_id"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("b_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", jac.cast("decimal(18,6)").cast("double").alias("jaccard"))
    )


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: 16-permutation signatures over word
    3-gram shingles, 4×4 banding for candidates, exact-Jaccard verify
    at ≥ 0.5.

    Plan: shingle explode → ONE groupBy computing all 16 minhashes
    (partial+final agg) → band explode (no shuffle, array unnest) →
    equality self-join on (band, key) → verify join back to shingles.
    Subquadratic: pairs only materialize on band collisions. At 100 TB
    the band join is the only shuffle that grows superlinearly, and
    its keys are 4-minhash tuples — collision lists stay tiny unless
    the docs really are near-dups.
    """
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


# ---- SimHash ---------------------------------------------------------

# 60-bit simhash (the token hashes are already 60-bit, so every bit
# position carries signal) split into 4 bands × 15 bits. Pigeonhole
# over 4 bands guarantees full recall for hamming ≤ 3 at ANY width;
# width only controls candidate volume: expected background band
# collisions are ~4·n²/(2·2^15) vs 4·n²/(2·2^8) for the old 32-bit/
# 8-bit layout — 128× fewer pairs, and the band self-join stays
# subquadratic until n approaches ~2^15 docs per partition-disjoint
# corpus slice. The next rung at that scale is two-level banding
# (band → sub-band) — same query shape, one more explode.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15  # SIMHASH_BITS / SIMHASH_BANDS
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1
SIMHASH_RADIUS = 2
# Two-level banding (the hot-bucket rung): buckets with occupancy
# ≤ HOT_CAP pair directly; members of hotter buckets only pair when a
# SECOND band also matches. Lossless for radius ≤ 2: a pair colliding
# on band i differs in ≤ 2 bits, all in the other 3 bands, so at least
# one of those is clean — the (hot band, other band) composite key
# catches it. MEASURED at sf0.1: a plain occupancy CAP would drop true
# pairs (some true pairs' best shared band holds 158 docs), which is
# why the rung is a second join key, not a filter.
SIMHASH_HOT_CAP = 32


def _simhash_bit_sums(dialect: str) -> list[str]:
    """Per-bit signed frequency sums (no alias): +cnt if bit b of the
    token hash is set, else −cnt. Same arithmetic in both dialects."""
    exprs = []
    for b in range(SIMHASH_BITS):
        sr = f"shiftright(th, {b})" if dialect == "spark" else f"(th >> {b})"
        exprs.append(f"sum(CASE WHEN ({sr} & 1) = 1 THEN cnt ELSE -cnt END)")
    return exprs


def _simhash_value() -> str:
    return " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )


def _simhash_oracle() -> str:
    sums = ",\n             ".join(
        f"{e} AS s{b}" for b, e in enumerate(_simhash_bit_sums("duck"))
    )
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {i} AS band_id,"
        f" (simhash >> {SIMHASH_BAND_BITS * i}) & {SIMHASH_BAND_MASK} AS bkey"
        " FROM sh_val"
        for i in range(SIMHASH_BANDS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKENS_DUCK}) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    ), hashed AS (
      SELECT doc_id, cnt, {hash60_duck('tok')} AS th FROM tf
    ), bitsums AS (
      SELECT doc_id,
             {sums}
      FROM hashed GROUP BY doc_id
    ), sh_val AS (
      SELECT doc_id, {_simhash_value()} AS simhash FROM bitsums
    ), bands AS (
{band_rows}
    ), occ AS (
      SELECT band_id, bkey, COUNT(*) AS occ FROM bands GROUP BY 1, 2
    ), bmem AS (
      SELECT b.doc_id, b.band_id, b.bkey, o.occ
      FROM bands b JOIN occ o ON o.band_id = b.band_id AND o.bkey = b.bkey
    ), cold_pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bmem a JOIN bmem b
        ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      WHERE a.occ <= {SIMHASH_HOT_CAP}
    ), hotx AS (
      SELECT h.doc_id, h.band_id, h.bkey, b2.band_id AS j, b2.bkey AS jkey
      FROM bmem h
      JOIN bands b2 ON b2.doc_id = h.doc_id AND b2.band_id <> h.band_id
      WHERE h.occ > {SIMHASH_HOT_CAP}
    ), hot_pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM hotx a JOIN hotx b
        ON a.band_id = b.band_id AND a.bkey = b.bkey
       AND a.j = b.j AND a.jkey = b.jkey AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT * FROM cold_pairs UNION SELECT * FROM hot_pairs
    )
    SELECT
      p.a_id,
      p.b_id,
      CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
    FROM pairs p
    JOIN sh_val x ON x.doc_id = p.a_id
    JOIN sh_val y ON y.doc_id = p.b_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {SIMHASH_RADIUS}
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: frequency-weighted 60-bit simhash per
    doc, 15-bit band candidates with TWO-LEVEL banding for hot
    buckets, Hamming distance ≤ 2.

    Plan: token explode → term-frequency aggregate → ONE groupBy
    computing all 60 signed bit-sums → arithmetic simhash → band
    explode → bucket-occupancy count → split: buckets with ≤ HOT_CAP
    members self-join directly; members of hotter buckets self-join
    on a COMPOSITE key (hot band value + one other band's value), so
    a hot bucket of m docs contributes only its second-band collision
    pairs instead of m²/2. Lossless at the operator's radius:
    a hamming ≤ 2 pair colliding on band i has both differing bits in
    the other 3 bands, so at least one other band matches exactly and
    the composite key finds the pair (tests/test_dedup_recall.py
    asserts output == brute-force ground truth). Everything codegen'd;
    the band joins are the only pairing shuffles, and their keys are
    now occupancy-bounded — candidate volume grows ~linearly with
    corpus size until single (band, other-band) value pairs go hot,
    which needs near-identical simhashes, i.e. actual duplicates.

    Scale (MEASURED, sf0.1 = 5k docs): candidate pairs 277k with flat
    15-bit bands → 57k with the two-level rung at HOT_CAP=32 (54k cold
    + 8k hot; 4.9× cut, vs 2.75M with the r1 8-bit bands), recall
    verified exact (200/200 truth pairs, 0 missed). A plain
    occupancy-cap *filter* was measured and rejected: some true pairs'
    best shared band holds 158 docs, so capping would drop them — the
    rung adds a join key instead.
    """
    return simhash_banded_pairs(
        simhash_values(load_table(spark, sf_dir, "documents"))
    )


def simhash_values(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): the frequency-weighted 60-bit signature
    frame — factored so the scale probe can feed the banding rung
    directly."""
    # spread the compute-bound tokenize+hash stage across all cores
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    tf = (
        docs.select("doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hashed = tf.select("doc_id", "cnt", F.expr(hash60_spark("tok")).alias("th"))
    bitsums = hashed.groupBy("doc_id").agg(
        *[
            F.expr(e).alias(f"s{b}")
            for b, e in enumerate(_simhash_bit_sums("spark"))
        ]
    )
    return bitsums.select("doc_id", F.expr(_simhash_value()).alias("simhash"))


def simhash_banded_pairs(
    sh_val_in: DataFrame, candidates_only: bool = False
) -> DataFrame:
    """The banding rung of ``dedup_simhash``, factored over an
    arbitrary ``(doc_id, simhash)`` frame so the adversarial-skew
    stress test (``tests/test_dedup_recall.py``) can drive it with
    synthesized signature distributions the natural corpus never
    produces (e.g. one band value shared by 10% of docs). Semantics
    and plan are exactly the in-query ones — this IS the query body.
    """
    # Persisted: simhash values feed the band explode and both sides
    # of the hamming join — 3 subtrees over the input chain.
    sh_val = sh_val_in.persist()
    bands = (  # occupancy count + both pairing joins
        sh_val.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_id"),
                            F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * i)
                            .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
                            .alias("bkey"),
                        )
                        for i in range(SIMHASH_BANDS)
                    ]
                )
            ).alias("bd"),
        ).select("doc_id", "bd.band_id", "bd.bkey")
        .persist()
    )
    occ = bands.groupBy("band_id", "bkey").agg(F.count(F.lit(1)).alias("occ"))
    bmem = bands.join(occ, ["band_id", "bkey"])
    cold = bmem.filter(F.col("occ") <= SIMHASH_HOT_CAP).select(
        "doc_id", "band_id", "bkey"
    )
    cold_pairs = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )
    # Hot-bucket members exploded with each OTHER band's key: the
    # composite (band, bkey, j, jkey) equi-join key splits a hot
    # bucket into second-band sub-buckets.
    hotx = (
        bmem.filter(F.col("occ") > SIMHASH_HOT_CAP)
        .select("doc_id", "band_id", "bkey")
        .alias("h")
        .join(
            bands.alias("b2"),
            (F.col("b2.doc_id") == F.col("h.doc_id"))
            & (F.col("b2.band_id") != F.col("h.band_id")),
        )
        .select(
            F.col("h.doc_id").alias("doc_id"),
            F.col("h.band_id").alias("band_id"),
            F.col("h.bkey").alias("bkey"),
            F.col("b2.band_id").alias("j"),
            F.col("b2.bkey").alias("jkey"),
        )
    )
    hot_pairs = (
        hotx.alias("a")
        .join(
            hotx.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.j") == F.col("b.j"))
            & (F.col("a.jkey") == F.col("b.jkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )
    pairs = cold_pairs.union(hot_pairs).distinct()
    if candidates_only:
        return pairs
    ham = F.bit_count(
        F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    )
    return (
        pairs.join(sh_val.alias("x"), F.col("x.doc_id") == F.col("a_id"))
        .join(sh_val.alias("y"), F.col("y.doc_id") == F.col("b_id"))
        .filter(ham <= SIMHASH_RADIUS)
        .select("a_id", "b_id", ham.alias("hamming"))
    )


# ---- embedding-cosine near-dup ---------------------------------------

# Semantic near-dup pairs: unlike the lexical ladder above, this
# catches paraphrase-style duplicates with no shared shingles. The
# cosine threshold matches the similarity module's calibration
# (planted near-dups score >> 0.45; background tops out ~0.51).
EMB_DUP_THRESHOLD = 0.45


def _emb_dedup_oracle() -> str:
    from .similarity import _NORMED_DUCK, _dot_duck

    return f"""
    WITH e AS ({_NORMED_DUCK}),
    pairs AS (
      SELECT
        a.vec_id AS a_id,
        b.vec_id AS b_id,
        {_dot_duck("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {_dot_duck("a.v", "b.v")} / (a.nrm * b.nrm) >= {EMB_DUP_THRESHOLD}
    )
    SELECT
      p.a_id,
      p.b_id,
      CAST(CAST(p.cosine AS DECIMAL(18,6)) AS DOUBLE) AS cosine,
      da.source AS a_source,
      db.source AS b_source,
      da.source = db.source AS same_source
    FROM pairs p
    JOIN documents da ON da.doc_id = p.a_id
    JOIN documents db ON db.doc_id = p.b_id
    """


@query("dedup_embedding_cosine", oracle=_emb_dedup_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ON THE DOCUMENTS TABLE:
    embeddings (vec_id == doc_id, 1:1) provide the semantic signal;
    the output is doc-level — pair, cosine, per-side source, and a
    same-source flag (cross-source semantic dups are the interesting
    ones a lexical dedup misses).

    Plan: exact O(n²) self-join baseline (the calibration anchor —
    ``similarity_ann_lsh``/``ann_ivf`` are the subquadratic scale
    paths for the same predicate); the documents joins are broadcast
    lookups of two metadata columns (payload text never read)."""
    from .similarity import _dot_spark, _norm_spark

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", F.expr(_norm_spark("v")))
    )
    cos = F.expr(_dot_spark("a.v", "b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    pairs = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= EMB_DUP_THRESHOLD)
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("da_id"), F.col("source").alias("a_source"))
    db = docs.select(F.col("doc_id").alias("db_id"), F.col("source").alias("b_source"))
    return (
        pairs.join(F.broadcast(da), F.col("da_id") == F.col("a_id"))
        .join(F.broadcast(db), F.col("db_id") == F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.col("cosine").cast("decimal(18,6)").cast("double").alias("cosine"),
            "a_source",
            "b_source",
            (F.col("a_source") == F.col("b_source")).alias("same_source"),
        )
    )


# ---- IVF-blocked embedding dedup (the subquadratic semantic rung) ----

# Coarse cells for pair blocking: more cells than the ANN search's 8
# (blocking needs finer cells than probing — candidate volume scales
# as n²·nprobe²/CELLS), membership in the nearest EMB_DUP_NPROBE cells
# so boundary pairs still share a block. MEASURED curve at sf0.1
# (recall vs exact pairs / candidate fraction of all n²/2 pairs):
#   cells=32 nprobe=2: 0.44 / 12%    cells=16 nprobe=2: 0.53 / 24%
#   cells=32 nprobe=3: 0.65 / 26%    cells=16 nprobe=3: 0.82 / 48%
#   cells=32 nprobe=4: 0.81 / 42%  ← chosen operating point
# Context for those numbers: this corpus's threshold pairs all sit at
# cosine 0.45-0.62 (~60° apart — borderline similarity, the WORST
# regime for any geometric blocking). True near-duplicates (cosine
# 0.8+) co-locate in cells at tiny nprobe — the SemDeDup premise.
EMB_DUP_CELLS = 32
EMB_DUP_NPROBE = 4


def _emb_ivf_dedup_oracle() -> str:
    from .similarity import _NORMED_DUCK, _dot_duck

    return f"""
    WITH e AS ({_NORMED_DUCK}),
    cent AS (
      SELECT vec_id AS c_id, v AS cv, nrm AS cnrm
      FROM e WHERE vec_id < {EMB_DUP_CELLS}
    ),
    aff AS (
      SELECT e.vec_id, c.c_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) DESC,
                        c.c_id ASC
             ) AS crank
      FROM e CROSS JOIN cent c
    ),
    memb AS (SELECT vec_id, c_id AS cell FROM aff WHERE crank <= {EMB_DUP_NPROBE}),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM memb a JOIN memb b ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT
      c.a_id,
      c.b_id,
      CAST(CAST({_dot_duck("x.v", "y.v")} / (x.nrm * y.nrm) AS DECIMAL(18,6)) AS DOUBLE) AS cosine
    FROM cand c
    JOIN e x ON x.vec_id = c.a_id
    JOIN e y ON y.vec_id = c.b_id
    WHERE {_dot_duck("x.v", "y.v")} / (x.nrm * y.nrm) >= {EMB_DUP_THRESHOLD}
    """


@query("dedup_embedding_ivf", oracle=_emb_ivf_dedup_oracle())
def dedup_embedding_ivf(
    spark: SparkSession, sf_dir: str, candidates_only: bool = False
) -> DataFrame:
    """Subquadratic semantic near-dup pairs (the SemDeDup shape —
    cluster, then dedup within clusters) — the scale path whose
    absence kept ``dedup_embedding_cosine`` an O(n²) anchor: vectors
    are blocked into their 4 nearest of 32 coarse cells, pairs form
    only within a shared cell, then exact cosine ≥ 0.45 verifies.
    Candidate work is ~n²·nprobe²/CELLS instead of n²/2, and
    (CELLS, nprobe) is the measured dial (curve above the constants;
    tests/test_dedup_recall.py pins recall ≥ 0.75 and candidates
    ≤ 50% of all pairs). On this corpus every threshold pair is
    borderline (cosine ≤ 0.62, ~60° apart — the worst case for
    geometric blocking), hence the generous nprobe; corpora with real
    semantic dups (cosine 0.8+) hit at nprobe 1-2, and a 100 TB run
    uses a trained ~65k-cell codebook with the same plan.

    Plan: one broadcast(CELLS) assignment scan → cell equi-self-join →
    DISTINCT pair aggregate → two hash joins back to vectors for the
    exact verify — every stage partial-aggregable, no cross join
    anywhere."""
    from .similarity import _dot_spark, _normed

    e = _normed(spark, sf_dir).persist()
    cent = e.filter(F.col("vec_id") < EMB_DUP_CELLS).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    from pyspark.sql import Window

    ccos = F.expr(_dot_spark("v", "cv")) / (F.col("nrm") * F.col("cnrm"))
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id").asc()
    )
    memb = (  # both self-join sides read the assignment
        e.join(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crank", F.row_number().over(wcell))
        .filter(F.col("crank") <= EMB_DUP_NPROBE)
        .select("vec_id", F.col("c_id").alias("cell"))
        .persist()
    )
    cand = (
        memb.alias("a")
        .join(
            memb.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    if candidates_only:
        return cand
    cos = F.expr(_dot_spark("x.v", "y.v")) / (F.col("x.nrm") * F.col("y.nrm"))
    return (
        cand.join(e.alias("x"), F.col("x.vec_id") == F.col("a_id"))
        .join(e.alias("y"), F.col("y.vec_id") == F.col("b_id"))
        .filter(cos >= EMB_DUP_THRESHOLD)
        .select(
            "a_id",
            "b_id",
            cos.cast("decimal(18,6)").cast("double").alias("cosine"),
        )
    )


# ---- incremental dedup (new batch vs standing corpus) ----------------

# The arriving-batch split: docs with doc_id % 10 == 0 play the new
# batch, the rest the standing corpus — the daily-ingest shape where
# dedup is an anti-join against what's already stored, not a full
# corpus self-join.
INCR_MOD = 10


@query(
    "dedup_incremental",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, md5({NORM_DUCK}) AS fp FROM documents
    ), corpus AS (
      SELECT fp, MIN(doc_id) AS known_id
      FROM hashed WHERE doc_id % {INCR_MOD} <> 0
      GROUP BY fp
    ), incoming AS (
      SELECT doc_id, fp FROM hashed WHERE doc_id % {INCR_MOD} = 0
    )
    SELECT
      i.doc_id,
      i.fp,
      c.known_id IS NOT NULL AS is_known,
      COALESCE(c.known_id, -1) AS known_id
    FROM incoming i LEFT JOIN corpus c ON c.fp = i.fp
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: each INCOMING document (doc_id %
    INCR_MOD == 0 plays the arriving batch) checked against the
    standing corpus by content hash — the shape a daily ingest
    actually runs, where the corpus side is a pre-built fingerprint
    index and only the small batch is new work.

    Plan: corpus collapses to one row per fingerprint (min doc_id
    survivor) BEFORE the join — map-side combinable, and at 100 TB
    that index is the stored artifact, not recomputed; the join is a
    left join on a uniform 128-bit key (AQE broadcasts the batch side
    when it fits, which is the common case). ``known_id`` is -1 for
    novel content (non-null BIGINT keeps the driver's pandas dtype
    canonical)."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", F.expr(f"md5({NORM_SPARK})").alias("fp"))
    corpus = (
        hashed.filter(F.col("doc_id") % INCR_MOD != 0)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("known_id"))
    )
    incoming = hashed.filter(F.col("doc_id") % INCR_MOD == 0)
    return incoming.join(corpus, "fp", "left").select(
        "doc_id",
        "fp",
        F.col("known_id").isNotNull().alias("is_known"),
        F.coalesce("known_id", F.lit(-1).cast("bigint")).alias("known_id"),
    )


# ---- corpus dedup funnel ---------------------------------------------


@query(
    "dedup_funnel_report",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, source, md5({NORM_DUCK}) AS fp FROM documents
    ), exact_canon AS (
      SELECT fp, MIN(doc_id) AS keep_id FROM hashed GROUP BY fp
    ), survivors AS (
      SELECT h.doc_id, h.source FROM hashed h
      JOIN exact_canon c ON c.fp = h.fp AND c.keep_id = h.doc_id
    )
    SELECT
      source,
      COUNT(*) AS n_docs,
      COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM survivors s2
                                        WHERE s2.source = hashed.source)) AS n_after_exact,
      (SELECT COUNT(*) FROM hashed h2 WHERE h2.source = hashed.source)
        - COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM survivors s3
                                            WHERE s3.source = hashed.source))
        AS n_exact_dropped
    FROM hashed
    GROUP BY source
    """,
)
def dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup funnel: corpus size, survivors after exact
    content dedup (min-doc_id canonical), and rows dropped — the
    shrinkage report a curation run publishes at each rung.

    Plan: ONE hash pass computes fingerprints; the canonical set is a
    fp-groupBy; the report is a per-source aggregate over a semi-join
    flag — two shuffles total, both on uniform keys. (The near-dup
    rungs publish their own pair counts — ``dedup_ngram_jaccard`` et
    al.; this report covers the exact rung, which at 100 TB removes
    the bulk of the volume before any banding runs.)"""
    docs = load_table(spark, sf_dir, "documents")
    hashed = (
        docs.select("doc_id", "source", F.expr(f"md5({NORM_SPARK})").alias("fp"))
        .persist()
    )
    canon = hashed.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    flagged = hashed.join(canon, "fp").withColumn(
        "is_survivor", F.col("doc_id") == F.col("keep_id")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("is_survivor")).alias("n_after_exact"),
        (F.count(F.lit(1)) - F.count_if(F.col("is_survivor"))).alias(
            "n_exact_dropped"
        ),
    )


# ---- exact-substring dedup (repeated k-token spans) ------------------

SPAN_K = 8  # tokens per span; "50-token" in the paper, scaled to corpus

_SPAN_TXT_SPARK = "concat_ws(' ', slice(toks, i, %d))" % SPAN_K
_SPAN_TXT_DUCK = "array_to_string(toks[i + 1 : i + %d], ' ')" % SPAN_K
_SPAN_GRAM_SPARK = (
    f"transform(sequence(1, size(toks) - {SPAN_K - 1}), "
    f"i -> {hash60_spark(_SPAN_TXT_SPARK)})"
)
_SPAN_GRAM_DUCK = (
    f"[{hash60_duck(_SPAN_TXT_DUCK)} "
    f"for i in range(len(toks) - {SPAN_K - 1})]"
)


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), g AS (
      SELECT doc_id, unnest({_SPAN_GRAM_DUCK}) AS h
      FROM t WHERE len(toks) >= {SPAN_K}
    ), pd AS (
      SELECT h, doc_id, COUNT(*) AS cnt FROM g GROUP BY 1, 2
    ), st AS (
      SELECT h, SUM(cnt)::BIGINT AS n_occ, COUNT(*) AS n_docs
      FROM pd GROUP BY h
    ), agg AS (
      SELECT pd.doc_id,
             SUM(cnt)::BIGINT AS n_spans,
             COUNT(*)::BIGINT AS n_distinct_spans,
             SUM(CASE WHEN st.n_occ >= 2 THEN cnt ELSE 0 END)::BIGINT
               AS n_dup_span_occ,
             SUM(CASE WHEN st.n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT
               AS n_cross_dup_spans,
             MAX(st.n_occ) AS max_span_occ
      FROM pd JOIN st USING (h) GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(n_distinct_spans, 0) AS n_distinct_spans,
           COALESCE(n_dup_span_occ, 0) AS n_dup_span_occ,
           COALESCE(n_cross_dup_spans, 0) AS n_cross_dup_spans,
           COALESCE(max_span_occ, 0) AS max_span_occ
    FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report: for every document, how
    many of its rolling {SPAN_K}-token spans are repeated — globally
    (``n_dup_span_occ``: span occurrences whose gram appears >= 2
    times anywhere) and across documents (``n_cross_dup_spans``:
    distinct grams shared with at least one OTHER doc). This is the
    Spark-shape of suffix-array exact-substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models
    Better"): the suffix array finds repeated spans by global sort;
    a distributed engine finds the same spans by hashing every
    rolling k-gram and reducing on the 60-bit gram key — no global
    sort, no driver state.

    Scale story (100 TB): the exploded span frame is ~n_tokens rows
    per doc but is IMMEDIATELY reduced by the (gram, doc) partial
    aggregate — the only wide frame never materializes beyond the
    map side. Gram statistics are a second aggregate over the
    already-reduced frame, and the stats join runs on the same
    60-bit key the frame is already bucketed by. Boilerplate grams
    (the head of the Zipf curve) produce ONE stats row each, however
    many documents carry them — unlike pairwise dedup there is no
    candidate-pair blowup, which is exactly why this is the first
    screen to run before any banded pairing. The final per-doc
    rollup shuffles on doc_id, uniform by construction.

    Reference has no text analytics (engine charter surface,
    BASELINE.json:6); the hash60 gram key is the same portable
    md5-prefix used by the whole dedup family."""
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = spread.select(
        "doc_id", F.expr(TOKENS_SPARK).alias("toks")
    ).filter(F.size("toks") >= SPAN_K)
    spans = toks.select(
        "doc_id", F.explode(F.expr(_SPAN_GRAM_SPARK)).alias("h")
    )
    per_doc_gram = (
        spans.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    stats = per_doc_gram.groupBy("h").agg(
        F.sum("cnt").alias("n_occ"), F.count(F.lit(1)).alias("n_docs")
    )
    agg = (
        per_doc_gram.join(stats, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_spans"),
            F.count(F.lit(1)).alias("n_distinct_spans"),
            F.sum(
                F.when(F.col("n_occ") >= 2, F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_dup_span_occ"),
            F.sum(
                F.when(F.col("n_docs") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_cross_dup_spans"),
            F.max("n_occ").alias("max_span_occ"),
        )
    )
    zero = F.lit(0).cast("long")
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", zero).alias("n_spans"),
        F.coalesce("n_distinct_spans", zero).alias("n_distinct_spans"),
        F.coalesce("n_dup_span_occ", zero).alias("n_dup_span_occ"),
        F.coalesce("n_cross_dup_spans", zero).alias("n_cross_dup_spans"),
        F.coalesce("max_span_occ", zero).alias("max_span_occ"),
    )


@query(
    "dedup_boilerplate_removal",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), g AS (
      SELECT doc_id, i + 1 AS start_pos,
             {hash60_duck(f"array_to_string(toks[i+1:i+{SPAN_K}], ' ')")} AS h
      FROM t, LATERAL (SELECT unnest(range(len(toks) - {SPAN_K - 1})) AS i) s
      WHERE len(toks) >= {SPAN_K}
    ), shared AS (
      SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ), cover AS (
      SELECT DISTINCT g.doc_id, p.pos
      FROM g JOIN shared USING (h),
           LATERAL (SELECT unnest(range(g.start_pos, g.start_pos + {SPAN_K}))
                    AS pos) p
    ), kept AS (
      SELECT t.doc_id, tk.w, tk.pos
      FROM t, LATERAL (SELECT unnest(toks) AS w,
                              unnest(range(1, len(toks) + 1)) AS pos) tk
      WHERE NOT EXISTS (SELECT 1 FROM cover c
                        WHERE c.doc_id = t.doc_id AND c.pos = tk.pos)
    )
    SELECT d.doc_id,
           len({TOKENS_DUCK.replace('text', 'd.text')}) AS n_tokens_before,
           COALESCE(k.n_after, 0) AS n_tokens_after,
           COALESCE(k.cleaned, '') AS cleaned_text
    FROM documents d
    LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n_after,
             string_agg(w, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id
    ) k ON k.doc_id = d.doc_id
    """,
)
def dedup_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE half of exact-substring dedup
    (``dedup_exact_substring`` is the report): REMOVE every token
    covered by a cross-document repeated {SPAN_K}-gram and emit the
    cleaned text — the boilerplate-stripping transform (headers,
    footers, navigation chrome) that runs between exact dedup and the
    near-dup ladder in a training-data pipeline. Overlapping flagged
    spans union naturally at the covered-position level (no interval
    merge pass needed: positions are the merged intervals).

    Plan: the gram frame is built once and reused for the shared-gram
    reduce and the coverage explode (persisted); coverage is at most
    n_tokens rows per doc (DISTINCT on (doc, pos) caps overlap
    inflation); the kept-token rebuild is one anti-join on (doc, pos)
    followed by a per-doc ordered reassembly (array_sort of position
    structs — deterministic, unlike bare collect_list). Every join
    key is (doc, pos) or the 60-bit gram hash — uniform, bounded, no
    pair blowup. At 100 TB the shared-gram list is Zipf-small and
    could broadcast; the plan leaves that to AQE."""
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = spread.select("doc_id", F.expr(TOKENS_SPARK).alias("toks"))
    grams = (
        toks.filter(F.size("toks") >= SPAN_K).select(
            "doc_id",
            F.posexplode(F.expr(_SPAN_GRAM_SPARK)).alias("pos0", "h"),
        ).select("doc_id", (F.col("pos0") + 1).alias("start_pos"), "h")
        .persist()
    )
    shared = (
        grams.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    cover = (
        grams.join(shared, "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("start_pos"), F.col("start_pos") + (SPAN_K - 1)
                )
            ).alias("pos"),
        )
        .distinct()
    )
    tok_pos = toks.select(
        "doc_id", F.posexplode("toks").alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    kept = tok_pos.join(cover, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("cleaned"),
    )
    zero = F.lit(0).cast("long")
    return (
        docs.select("doc_id", F.expr(TOKENS_SPARK).alias("_t"))
        .select("doc_id", F.size("_t").cast("long").alias("n_tokens_before"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_before",
            F.coalesce("n_after", zero).alias("n_tokens_after"),
            F.coalesce("cleaned", F.lit("")).alias("cleaned_text"),
        )
    )


# ---- Composed production dedup pipeline ------------------------------


def _pipeline_e2e_oracle() -> str:
    # Exact-survivor frame (min doc_id per normalized-content hash),
    # then the SHARED MinHash CTE chain over those survivors, then the
    # recursive min-label fixpoint, then the per-source shrinkage
    # report. WITH RECURSIVE hosts the whole chain (non-recursive CTEs
    # are legal members).
    return f"""
    WITH RECURSIVE surv AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents GROUP BY md5({NORM_DUCK})
    ), sdocs AS (
      SELECT d.* FROM documents d JOIN surv s USING (doc_id)
    ), {_minhash_pairs_ctes('sdocs')}, edges AS (
      SELECT a_id AS u, b_id AS v FROM mh_pairs
      UNION SELECT b_id, a_id FROM mh_pairs
    ), reach AS (
      SELECT u AS node, u AS label FROM edges
      UNION
      SELECT e.u AS node, r.label
      FROM edges e JOIN reach r ON r.node = e.v
    ), comp AS (
      SELECT node, MIN(label) AS label FROM reach GROUP BY node
    ), kept AS (
      SELECT s.doc_id FROM surv s
      LEFT JOIN comp c ON c.node = s.doc_id
      WHERE c.node IS NULL OR c.label = s.doc_id
    ), base AS (
      SELECT source, COUNT(*)::BIGINT AS n_docs
      FROM documents GROUP BY source
    ), after_exact AS (
      SELECT d.source, COUNT(*)::BIGINT AS n
      FROM documents d JOIN surv s USING (doc_id) GROUP BY d.source
    ), after_near AS (
      SELECT d.source, COUNT(*)::BIGINT AS n
      FROM documents d JOIN kept k USING (doc_id) GROUP BY d.source
    )
    SELECT b.source,
           b.n_docs,
           COALESCE(e.n, 0)::BIGINT AS n_after_exact,
           COALESCE(nr.n, 0)::BIGINT AS n_after_neardup
    FROM base b
    LEFT JOIN after_exact e ON e.source = b.source
    LEFT JOIN after_near nr ON nr.source = b.source
    """


@query("dedup_pipeline_e2e", oracle=_pipeline_e2e_oracle())
def dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup recipe composed into ONE job — what a
    training-data pipeline actually runs nightly, not rung-by-rung:

      1. exact dedup (normalized-content hash, min-doc_id survivor),
      2. MinHash-LSH near-dup candidate pairs over the SURVIVORS only
         (running LSH after exact dedup is the composition's point —
         exact copies never reach the shingle stage),
      3. connected components over the verified Jaccard≥{JACCARD_THRESHOLD}
         pair graph (large-star/small-star, the O(log n)-round scale
         path),
      4. canonical keep-list (component-min survivor, plus every
         unclustered survivor),
      5. per-source shrinkage report (docs → after-exact →
         after-near-dup), the artifact a curation run ships to its
         dashboard.

    Every stage reuses the verified standalone rung's implementation:
    ``minhash_lsh_pairs`` (shared with ``dedup_minhash_lsh``) and
    ``connected_components_star`` (shared with
    ``dedup_components_star``) — the pipeline cannot drift from the
    rungs it composes. The hashed-shingle frame is computed ONCE
    (persisted inside ``minhash_lsh_pairs``) and feeds the signature
    aggregate, per-doc sizes, and both verify-join sides; the plan
    test pins the single InMemoryTableScan source.

    Scale (100 TB): stage 1 is one window shuffle on a uniform
    128-bit key; stage 2 is the banded subquadratic join over the
    (already exact-deduped) survivor corpus; stage 3 iterates over
    the near-dup EDGE LIST (tiny relative to the corpus); the report
    is three partial-agg scans joined broadcast on the handful of
    sources. No stage rescans raw text after shingling."""
    from .graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    sdocs = (
        docs.withColumn("fp", F.expr(f"md5({NORM_SPARK})"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .drop("fp", "canonical_id")
        .persist()
    )
    pairs = minhash_lsh_pairs(sdocs).select("a_id", "b_id")
    comp = connected_components_star(pairs)
    dropped = comp.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    kept = sdocs.join(dropped, "doc_id", "left_anti")
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    after_exact = sdocs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_after_exact")
    )
    after_near = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_after_neardup")
    )
    zero = F.lit(0).cast("long")
    return (
        base.join(after_exact, "source", "left")
        .join(after_near, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_after_exact", zero).alias("n_after_exact"),
            F.coalesce("n_after_neardup", zero).alias("n_after_neardup"),
        )
    )


# ---- lexical-ladder agreement report ----------------------------------


def _method_agreement_oracle() -> str:
    from .registry import ORACLES

    return f"""
    WITH j AS (
      SELECT a_id, b_id FROM ({ORACLES["dedup_ngram_jaccard"]})
    ), m AS (
      SELECT a_id, b_id FROM ({ORACLES["dedup_minhash_lsh"]})
    ), u AS (
      SELECT COALESCE(j.a_id, m.a_id) AS a_id,
             COALESCE(j.b_id, m.b_id) AS b_id,
             (j.a_id IS NOT NULL)::INT AS in_j,
             (m.a_id IS NOT NULL)::INT AS in_m
      FROM j FULL OUTER JOIN m ON j.a_id = m.a_id AND j.b_id = m.b_id
    )
    SELECT
      SUM(in_j)::BIGINT AS n_jaccard,
      SUM(in_m)::BIGINT AS n_minhash,
      SUM(in_j * in_m)::BIGINT AS n_both,
      SUM(in_j * (1 - in_m))::BIGINT AS n_jaccard_only,
      SUM((1 - in_j) * in_m)::BIGINT AS n_minhash_only,
      (SUM(in_j * in_m) * 1000000 // COUNT(*))::BIGINT AS agreement_micro
    FROM u
    """


@query("dedup_method_agreement", oracle=_method_agreement_oracle())
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble view of the lexical near-dup ladder: how much the
    exact-Jaccard rung and the MinHash-LSH rung agree on this corpus —
    pair counts per method, the intersection, each side's exclusive
    finds, and set-level agreement (|∩|/|∪|) in micro-units. The
    recall-calibration artifact a curation team reads before choosing
    which rung a 100 TB sweep runs (LSH misses are the banding's
    false-negative rate made visible; Jaccard-only pairs bound it).

    Composes the two verified operators and their ORACLE STRINGS
    directly — zero re-implementation. Plan: both pair frames are
    subquadratic products of the shared shingle machinery; the
    full-outer join runs over near-dup pair lists (tiny vs corpus),
    then one scalar aggregate."""
    j = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    m = minhash_lsh_pairs(load_table(spark, sf_dir, "documents")).select(
        F.col("a_id").alias("ma"), F.col("b_id").alias("mb")
    )
    u = j.join(
        m, (F.col("a_id") == F.col("ma")) & (F.col("b_id") == F.col("mb")), "full"
    ).select(
        F.col("a_id").isNotNull().cast("int").alias("in_j"),
        F.col("ma").isNotNull().cast("int").alias("in_m"),
    )
    return u.agg(
        F.sum("in_j").alias("n_jaccard"),
        F.sum("in_m").alias("n_minhash"),
        F.sum(F.col("in_j") * F.col("in_m")).alias("n_both"),
        F.sum(F.col("in_j") * (1 - F.col("in_m"))).alias("n_jaccard_only"),
        F.sum((1 - F.col("in_j")) * F.col("in_m")).alias("n_minhash_only"),
        F.expr("sum(in_j * in_m) * 1000000 div count(1)").alias(
            "agreement_micro"
        ),
    )


# ---- cross-source duplicate overlap matrix ---------------------------


@query(
    "dedup_source_overlap_matrix",
    oracle=f"""
    WITH t AS (
      SELECT source, md5({NORM_DUCK}) AS fp FROM documents
    ),
    per AS (
      SELECT fp, source, COUNT(*) AS c FROM t GROUP BY fp, source
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.fp, a.c AS c_a, b.c AS c_b
      FROM per a JOIN per b
        ON a.fp = b.fp AND a.source < b.source
    )
    SELECT source_a, source_b,
           COUNT(*) AS n_shared_contents,
           SUM(c_a)::BIGINT AS n_docs_a,
           SUM(c_b)::BIGINT AS n_docs_b
    FROM pairs
    GROUP BY source_a, source_b
    """,
)
def dedup_source_overlap_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplication provenance: for every source pair, how
    many distinct normalized contents they SHARE and how many docs on
    each side carry them — the diagnostic that tells a curation team
    which feeds mirror each other (and therefore which source to
    de-prioritize) before any dedup policy is chosen.

    Plan: one scan → (fp, source) count aggregate (uniform 128-bit
    key + bounded source cardinality), then a self-join on fp — the
    fan-out per fp is |sources carrying it|², bounded by the source
    count squared, NEVER by doc count (the per-(fp, source) collapse
    happens first). Output is at most |sources|² rows."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.expr(f"md5({NORM_SPARK})").alias("fp"))
        .groupBy("fp", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = per.select(
        F.col("source").alias("source_a"),
        F.col("fp").alias("fp_a"),
        F.col("c").alias("c_a"),
    )
    b = per.select(
        F.col("source").alias("source_b"),
        F.col("fp").alias("fp_b"),
        F.col("c").alias("c_b"),
    )
    pairs = a.join(
        b,
        (F.col("fp_a") == F.col("fp_b"))
        & (F.col("source_a") < F.col("source_b")),
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_contents"),
        F.sum("c_a").alias("n_docs_a"),
        F.sum("c_b").alias("n_docs_b"),
    )


# ---- Jaccard threshold sensitivity sweep -----------------------------

SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _sweep_oracle() -> str:
    from .registry import ORACLES

    ths = ", ".join(str(t) for t in SWEEP_THRESHOLDS)
    return f"""
    WITH scored AS ({ORACLES["dedup_ngram_jaccard"]}),
    th AS (SELECT unnest([{ths}]::DOUBLE[]) AS threshold),
    exp AS (
      SELECT t.threshold, s.a_id, s.b_id
      FROM scored s JOIN th t ON s.jaccard >= t.threshold
    ),
    np AS (
      SELECT threshold, COUNT(*) AS n_pairs FROM exp GROUP BY threshold
    ),
    nd AS (
      SELECT threshold, COUNT(DISTINCT doc) AS n_docs
      FROM (
        SELECT threshold, a_id AS doc FROM exp
        UNION ALL SELECT threshold, b_id FROM exp
      ) GROUP BY threshold
    )
    SELECT np.threshold, np.n_pairs, nd.n_docs
    FROM np JOIN nd ON nd.threshold = np.threshold
    """


@query("dedup_threshold_sweep", oracle=_sweep_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard threshold sensitivity: for each candidate cut in
    {SWEEP_THRESHOLDS}, how many near-dup pairs survive and how many
    documents they touch — the diagnostic a curation team reads BEFORE
    choosing a dedup threshold (too low deletes content, too high
    keeps templates; the knee of this curve is the policy input).

    Plan: the verified Jaccard rung runs ONCE; the five thresholds
    arrive as a broadcast 5-row frame joined on ``jaccard >=
    threshold``, so the sweep costs one scored-pair computation plus
    two bounded aggregates — never five rung executions."""
    pj = dedup_ngram_jaccard(spark, sf_dir)
    th = local_frame(spark, [(t,) for t in SWEEP_THRESHOLDS], "threshold double")
    exp = pj.join(F.broadcast(th), F.col("jaccard") >= F.col("threshold")).persist()
    np_ = exp.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = (
        exp.select(
            "threshold",
            F.explode(F.array("a_id", "b_id")).alias("doc"),
        )
        .groupBy("threshold")
        .agg(F.countDistinct("doc").alias("n_docs"))
    )
    return np_.join(nd, "threshold")


# ---- fuzzy train/eval split leakage ------------------------------------

# Split rule shared with textops.text_train_val_test_split: bucket =
# hash60(text) % 100, train < 90, held-out (val+test) otherwise. The
# leakage screen asks the question the EXACT contamination screen
# (text_contamination_screen) cannot: which held-out documents have a
# NEAR-duplicate (MinHash-verified Jaccard >= threshold) in train —
# paraphrase-grade leakage that survives an exact-hash split because
# near-dup variants hash to different buckets.
_LEAK_TRAIN_PCT = 90


def _split_leakage_oracle() -> str:
    from .textops import hash60_duck as _h60

    return (
        "WITH "
        + _minhash_pairs_ctes()
        + f""",
    sp AS (
      SELECT doc_id, source,
             ({_h60('text')} % 100 < {_LEAK_TRAIN_PCT}) AS is_train
      FROM documents
    ), leaks AS (
      SELECT CASE WHEN sa.is_train THEN p.b_id ELSE p.a_id END AS eval_id,
             p.jaccard
      FROM mh_pairs p
      JOIN sp sa ON sa.doc_id = p.a_id
      JOIN sp sb ON sb.doc_id = p.b_id
      WHERE sa.is_train <> sb.is_train
    )
    SELECT l.eval_id,
           s.source,
           COUNT(*)::BIGINT AS n_train_dups,
           CAST(CAST(MAX(l.jaccard) AS DECIMAL(18,6)) AS DOUBLE)
             AS max_jaccard
    FROM leaks l JOIN sp s ON s.doc_id = l.eval_id
    GROUP BY 1, 2"""
    )


@query("text_split_leakage_fuzzy", oracle=_split_leakage_oracle())
def text_split_leakage_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage ACROSS the train/held-out split boundary:
    every held-out document with a MinHash-verified near-dup
    (Jaccard >= 0.5) in the training partition, with its dup count and
    worst-case similarity — the screen that decides whether an eval
    number can be trusted, and the fuzzy complement of
    ``text_contamination_screen``'s exact n-gram overlap (a paraphrased
    eval answer shares few exact 5-grams but lights up here).

    Plan: reuses the verified MinHash-LSH rung unchanged
    (``minhash_lsh_pairs`` — the same banded self-join, so this adds
    NO new quadratic surface), then classifies each verified pair by
    the two sides' split buckets (one broadcast-sized projection of
    (doc_id, bucket)) and keeps only boundary-crossing pairs. At
    100 TB the leak set is tiny by construction (near-dup pairs ×
    2·p·(1-p) boundary probability), so the classify-and-aggregate
    tail is free; the LSH candidate volume is the same one already
    scale-probed in SCALE.md."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    sp = docs.select(
        "doc_id",
        "source",
        (F.expr(hash60_spark("text")) % 100 < _LEAK_TRAIN_PCT).alias(
            "is_train"
        ),
    )
    sa = sp.select(
        F.col("doc_id").alias("sa_id"), F.col("is_train").alias("a_train")
    )
    sb = sp.select(
        F.col("doc_id").alias("sb_id"), F.col("is_train").alias("b_train")
    )
    leaks = (
        pairs.join(F.broadcast(sa), F.col("sa_id") == F.col("a_id"))
        .join(F.broadcast(sb), F.col("sb_id") == F.col("b_id"))
        .filter(F.col("a_train") != F.col("b_train"))
        .select(
            F.when(F.col("a_train"), F.col("b_id"))
            .otherwise(F.col("a_id"))
            .alias("eval_id"),
            "jaccard",
        )
    )
    meta = sp.select(F.col("doc_id").alias("m_id"), "source")
    return (
        leaks.join(F.broadcast(meta), F.col("m_id") == F.col("eval_id"))
        .groupBy("eval_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_train_dups"),
            F.max("jaccard")
            .cast("decimal(18,6)")
            .cast("double")
            .alias("max_jaccard"),
        )
    )


# ---- dataset datasheet (one-frame corpus card) --------------------------

_DATASHEET_QUALITY_MIN = 0.55  # matches text_curation_pipeline's gate


def _datasheet_oracle() -> str:
    from .textops import (
        STOPWORDS,
        TOKENS_DUCK,
        _QUALITY_DUCK,
        _dec6,
        _sql_list,
    )

    q = _dec6(_QUALITY_DUCK.replace("STOP", _sql_list(STOPWORDS)))
    return f"""
    WITH t AS (
      SELECT doc_id, source, text, {TOKENS_DUCK} AS toks FROM documents
    ), scored AS (
      SELECT doc_id, source, len(toks)::BIGINT AS n_toks, {q} AS q,
             md5({NORM_DUCK}) AS fp
      FROM t
    ), agg AS (
      SELECT
        COUNT(*)::BIGINT AS n_docs,
        SUM(n_toks)::BIGINT AS n_tokens,
        COUNT(DISTINCT source)::BIGINT AS n_sources,
        COUNT(DISTINCT fp)::BIGINT AS n_unique,
        SUM(q) AS q_sum,
        COUNT(*) FILTER (WHERE q >= {_DATASHEET_QUALITY_MIN})::BIGINT
          AS n_keep,
        quantile_cont(n_toks, 0.5) AS p50_toks
      FROM scored
    )
    SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM agg
    UNION ALL
    SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM agg
    UNION ALL
    SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM agg
    UNION ALL
    SELECT 'exact_dup_share',
           CAST(CAST((n_docs - n_unique) * 1.0 / n_docs
                AS DECIMAL(18,6)) AS DOUBLE) FROM agg
    UNION ALL
    SELECT 'avg_quality',
           CAST(CAST(CAST(q_sum AS DOUBLE) / n_docs
                AS DECIMAL(18,6)) AS DOUBLE) FROM agg
    UNION ALL
    SELECT 'quality_keep_share',
           CAST(CAST(n_keep * 1.0 / n_docs AS DECIMAL(18,6)) AS DOUBLE)
    FROM agg
    UNION ALL
    SELECT 'p50_tokens', CAST(p50_toks AS DOUBLE) FROM agg
    """


@query("text_dataset_datasheet", oracle=_datasheet_oracle())
def text_dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-frame corpus card ("datasheets for datasets"): the seven
    headline numbers a dataset release ships — size (docs/tokens/
    sources), exact-duplicate share, mean quality, quality-gate keep
    share, and median document length — as a tall (metric, value)
    frame ready for a registry table or a release diff.

    Every number reuses the shared expression constants of its
    standalone operator (tokenizer, quality blend, curation gate,
    exact-dedup normalization), so the datasheet cannot drift from
    the queries it summarizes.

    Plan: ONE documents scan computes tokens/quality/fingerprint in
    the projection; one aggregate folds all seven statistics
    (count-distincts and the exact median ride the same pass); the
    tall shape is a 7-row union over the 1-row aggregate — at 100 TB
    this is a single-pass summary, not seven queries."""
    from .textops import (
        STOPWORDS,
        TOKENS_SPARK,
        _QUALITY_SPARK,
        _sql_list,
    )

    docs = load_table(spark, sf_dir, "documents")
    ql = _QUALITY_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.expr(TOKENS_SPARK).alias("toks"),
        F.md5(F.expr(NORM_SPARK)).alias("fp"),
    ).select(
        "source",
        "fp",
        F.size("toks").cast("bigint").alias("n_toks"),
        F.expr(ql).cast("decimal(18,6)").alias("q"),
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("q").alias("q_sum"),
        F.count_if(F.col("q") >= _DATASHEET_QUALITY_MIN).alias("n_keep"),
        F.expr("percentile(n_toks, 0.5D)").alias("p50_toks"),
    )
    # One projection computes the seven finished doubles, then a
    # single stack() unpivots the 1-row frame to the tall shape — a
    # UNION of per-metric SELECTs over a temp view was measured to
    # re-execute the whole aggregate per arm (7 scans).
    finished = agg.select(
        F.col("n_docs").cast("double").alias("v_docs"),
        F.col("n_tokens").cast("double").alias("v_tokens"),
        F.col("n_sources").cast("double").alias("v_sources"),
        F.expr(
            "CAST(CAST((n_docs - n_unique) * 1.0 / n_docs"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("v_dup"),
        F.expr(
            "CAST(CAST(CAST(q_sum AS DOUBLE) / n_docs"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("v_q"),
        F.expr(
            "CAST(CAST(n_keep * 1.0 / n_docs AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("v_keep"),
        F.col("p50_toks").cast("double").alias("v_p50"),
    )
    return finished.selectExpr(
        "stack(7,"
        " 'n_docs', v_docs, 'n_tokens', v_tokens,"
        " 'n_sources', v_sources, 'exact_dup_share', v_dup,"
        " 'avg_quality', v_q, 'quality_keep_share', v_keep,"
        " 'p50_tokens', v_p50) AS (metric, value)"
    )

"""Text-analysis operators over the ``documents`` table: token
counting, quality scoring, language identification, and document
fingerprinting — the per-document text metrics a large-scale training
-data pipeline computes before dedup/filtering.

The reference has no text analytics (its only string ops are concat
``transforms.py:49`` and the path regex ``helpers.py:20-27``); this is
new surface per the engine charter (BASELINE.json:6).

Scale notes (100 TB): every query here is a narrow per-row projection
— no shuffle at all except the final aggregate in the quality/lang
rollups, which reduces to (small cardinality) keys. Tokenization and
ratio math stay in whole-stage codegen via built-in higher-order
functions (``transform``/``filter``/``aggregate``); there is NO Python
in the row path. Document fingerprints use md5, which both Spark and
DuckDB compute identically — the first 15 hex chars (60 bits) cast to
BIGINT form the engine's portable content hash (also the basis of the
MinHash family in ``dedup.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import query

# Shared vocabulary for stopword/marker metrics. Tuple order matters
# only for readability; membership tests are order-free.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# Marker tokens per language for the n-gram/keyword language-ID vote.
# Checked in fixed precedence order (de, fr, es, en) with a CJK-script
# check for zh — precedence is part of the operator's contract so the
# Spark and oracle CASE chains tie-break identically.
LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "pas"),
    "es": ("el", "los", "las", "y", "es", "una", "que", "por"),
    "en": ("the", "a", "and", "is", "of", "to", "it", "that"),
}

# ---- shared expression fragments (Spark SQL and DuckDB dialects) ----
#
# The house TOKENS contract — trim then split on whitespace runs — is
# pinned so THREE engines tokenize identically on hostile input
# (tests/test_tokenizer_whitespace_parity.py):
#   * trim: only 0x20.  Spark's trim() already is; DuckDB's default
#     trim() strips Unicode whitespace (NBSP included), so the duck
#     side must pass the explicit charset trim(x, ' ').
#   * split class: Java \s = [ \t\n\x0B\f\r] (includes \v); RE2 (the
#     DuckDB engine) \s excludes \v, so the duck side spells it
#     [\s\v]+; Python re with re.ASCII matches Java exactly.

TOKENS_SPARK = r"split(trim(lower(text)), '\\s+')"
TOKENS_DUCK = r"regexp_split_to_array(trim(lower(text), ' '), '[\s\v]+')"


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _dec6(expr: str) -> str:
    """Ratio-safe compare: double math → DECIMAL(18,6) (same cast rule
    in Spark and DuckDB), so the oracle's value-hash is exact."""
    return f"CAST({expr} AS DECIMAL(18,6))"


@query(
    "text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {TOKENS_DUCK} AS toks FROM documents
    )
    SELECT
      doc_id,
      len(toks) AS n_tokens,
      len(text) AS n_chars_obs,
      CAST({_dec6("list_sum(list_transform(toks, s -> len(s))) * 1.0 / len(toks)")} AS DOUBLE) AS avg_token_len,
      CAST({_dec6(f"len(list_filter(toks, s -> s IN ({_sql_list(STOPWORDS)}))) * 1.0 / len(toks)")} AS DOUBLE) AS stopword_ratio,
      CAST({_dec6("len(list_distinct(toks)) * 1.0 / len(toks)")} AS DOUBLE) AS uniq_token_ratio
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: whitespace token count, observed
    char length, mean token length, stopword ratio, unique-token ratio.

    Plan: single projection over the parquet scan (ReadSchema pruned to
    doc_id/text), zero shuffles; all lambdas are JVM higher-order
    functions inside one WholeStageCodegen span.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Tokenize ONCE into a column — the metrics reference it 5×, and
    # CollapseProject keeps the barrier (split() is non-cheap).
    toked = docs.select(
        "doc_id", F.length("text").alias("n_chars_obs"), F.expr(TOKENS_SPARK).alias("toks")
    )
    n = F.size(F.col("toks"))
    stop_list = _sql_list(STOPWORDS)
    return toked.select(
        "doc_id",
        n.alias("n_tokens"),
        "n_chars_obs",
        (
            F.expr("aggregate(transform(toks, s -> length(s)), 0, (acc, x) -> acc + x)")
            * 1.0 / n
        ).cast("decimal(18,6)").cast("double").alias("avg_token_len"),
        (
            F.size(F.expr(f"filter(toks, s -> s IN ({stop_list}))")) * 1.0 / n
        ).cast("decimal(18,6)").cast("double").alias("stopword_ratio"),
        (F.size(F.array_distinct(F.col("toks"))) * 1.0 / n).cast("decimal(18,6)").cast("double").alias("uniq_token_ratio"),
    )


# Quality score: a weighted blend of (capped) length, vocabulary
# diversity, and non-stopword density — the standard pre-training
# quality heuristic shape. Weights are part of the contract.
_QUALITY_SPARK = (
    "least(size(TOKS) / 100.0, 1.0) * 0.5"
    " + (size(array_distinct(TOKS)) * 1.0 / size(TOKS)) * 0.3"
    " + (1.0 - size(filter(TOKS, s -> s IN (STOP))) * 1.0 / size(TOKS)) * 0.2"
)
_QUALITY_DUCK = (
    "least(len(toks) / 100.0, 1.0) * 0.5"
    " + (len(list_distinct(toks)) * 1.0 / len(toks)) * 0.3"
    " + (1.0 - len(list_filter(toks, s -> s IN (STOP))) * 1.0 / len(toks)) * 0.2"
)


@query(
    "text_quality_by_source",
    oracle=f"""
    WITH t AS (
      SELECT source, {TOKENS_DUCK} AS toks FROM documents
    ), scored AS (
      SELECT source,
             {_dec6(_QUALITY_DUCK.replace("STOP", _sql_list(STOPWORDS)))} AS q
      FROM t
    )
    SELECT
      source,
      COUNT(*) AS n_docs,
      CAST(SUM(q) AS DOUBLE) / COUNT(*) AS avg_quality,
      CAST(MIN(q) AS DOUBLE) AS min_quality,
      CAST(MAX(q) AS DOUBLE) AS max_quality,
      COUNT(*) FILTER (WHERE q >= 0.8) AS n_high_quality
    FROM scored
    GROUP BY source
    """,
)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring rollup: per-doc heuristic score (length cap +
    diversity + non-stopword density), aggregated per source corpus.

    The per-doc score is fixed to DECIMAL(18,6) *before* the aggregate
    so SUM is exact-decimal (order-insensitive) — the same trick as
    ``functions.numeric.dsum`` — and the plan is scan → partial agg →
    one shuffle on ``source`` → final agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    q_expr = _QUALITY_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    scored = docs.select(
        "source", F.expr(TOKENS_SPARK).alias("toks")
    ).select("source", F.expr(q_expr).cast("decimal(18,6)").alias("q"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("q").cast("double") / F.count(F.lit(1))).alias("avg_quality"),
        F.min("q").cast("double").alias("min_quality"),
        F.max("q").cast("double").alias("max_quality"),
        F.count_if(F.col("q") >= 0.8).alias("n_high_quality"),
    )


CJK_COUNT_DUCK = r"len(regexp_extract_all(text, '[一-鿿]'))"
CJK_COUNT_SPARK = r"size(regexp_extract_all(text, '[\\u4e00-\\u9fff]', 0))"


def _lang_case(counts: dict[str, str], cjk: str) -> str:
    """Fixed-precedence argmax CASE over marker counts (same text in
    both dialects): zh wins on any CJK evidence, then de/fr/es must
    strictly beat en's count, else en if any marker hit, else unknown."""
    others = ["de", "fr", "es"]
    branches = [f"WHEN {cjk} > 0 THEN 'zh'"]
    for lang in others:
        rivals = " AND ".join(
            f"{counts[lang]} >= {counts[o]}" for o in others if o != lang
        )
        branches.append(
            f"WHEN {counts[lang]} > {counts['en']} AND {rivals} THEN '{lang}'"
        )
    branches.append(f"WHEN {counts['en']} > 0 THEN 'en'")
    return "CASE " + " ".join(branches) + " ELSE 'unknown' END"


def _marker_count(tokens_expr: str, lang: str, dialect: str) -> str:
    fn = "size(filter" if dialect == "spark" else "len(list_filter"
    return f"{fn}({tokens_expr}, s -> s IN ({_sql_list(LANG_MARKERS[lang])})))"


@query(
    "text_language_id",
    oracle=f"""
    WITH t AS (
      SELECT lang, {TOKENS_DUCK} AS toks, text FROM documents
    )
    SELECT
      lang,
      {_lang_case({lg: _marker_count("toks", lg, "duck") for lg in LANG_MARKERS},
                  CJK_COUNT_DUCK)} AS predicted_lang,
      COUNT(*) AS n_docs
    FROM t
    GROUP BY 1, 2
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification (marker-token vote + CJK-script check),
    reported as a labeled-vs-predicted confusion rollup.

    The heuristic is deterministic: count per-language marker tokens,
    fixed-precedence argmax. (The synthetic corpus is English word-salad
    under all labels, so the *accuracy* is meaningless here — the
    operator contract is the deterministic classification itself.)
    Plan: projection + small-key aggregate, one shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    # compute-bound per-row stage: spread beyond the file's one split
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # Three-step select: tokenize once, then materialize each marker
    # count once (the argmax CASE references every count up to 4× —
    # inlining them re-runs the token filters per reference).
    counted = docs.select(
        "lang", "text", F.expr(TOKENS_SPARK).alias("toks")
    ).select(
        "lang",
        *[
            F.expr(_marker_count("toks", lg, "spark")).alias(f"c_{lg}")
            for lg in LANG_MARKERS
        ],
        F.expr(CJK_COUNT_SPARK).alias("c_cjk"),
    )
    pred = _lang_case({lg: f"c_{lg}" for lg in LANG_MARKERS}, "c_cjk")
    return (
        counted.select("lang", F.expr(pred).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---- portable content hash (shared with dedup.py) ----
# First 15 hex chars of md5 = 60 bits, fits BIGINT identically in
# Spark (conv base16→10) and DuckDB ('0x…' cast).

def hash60_spark(expr: str) -> str:
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def hash60_duck(expr: str) -> str:
    return f"try_cast('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# Word 3-gram shingles over a NAMED token-array column (empty when
# < 3 tokens). Callers must tokenize into a column first — embedding
# the split() expression here would re-tokenize per reference (5×),
# because Catalyst cannot CSE inside lambda bodies. The two-step
# select survives optimization: CollapseProject refuses to inline a
# non-cheap expression referenced more than once.
def shingles_spark(toks: str = "toks") -> str:
    return (
        f"case when size({toks}) >= 3 then"
        f" transform(sequence(0, size({toks}) - 3),"
        f" i -> concat_ws(' ', {toks}[i], {toks}[i+1], {toks}[i+2]))"
        " else array() end"
    )


SHINGLES_SPARK = shingles_spark("toks")
SHINGLES_DUCK = (
    "list_transform(range(greatest(len(toks) - 2, 0)),"
    " i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])"
)


@query(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(trim(lower(text), ' '), '[\\s\\v]+', ' ', 'g') AS norm,
             {TOKENS_DUCK} AS toks
      FROM documents
    )
    SELECT
      doc_id,
      md5(norm) AS fp_md5,
      {hash60_duck("norm")} AS fp60,
      len(list_distinct({SHINGLES_DUCK})) AS n_shingles
    FROM t
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the whitespace-normalized text,
    its 60-bit BIGINT form (the engine's portable content hash), and
    the distinct word-3-gram shingle count (the MinHash input size).

    Plan: pure projection, zero shuffles; md5 + higher-order shingling
    all codegen'd JVM-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = r"regexp_replace(trim(lower(text)), '\\s+', ' ')"
    staged = docs.select(
        "doc_id",
        F.expr(f"md5({norm})").alias("fp_md5"),
        F.expr(TOKENS_SPARK).alias("toks"),
    )
    return staged.select(
        "doc_id",
        "fp_md5",
        # fp60 derives from the md5 already computed — no second md5.
        F.expr("cast(conv(substring(fp_md5, 1, 15), 16, 10) as bigint)").alias("fp60"),
        F.expr(f"size(array_distinct({SHINGLES_SPARK}))").alias("n_shingles"),
    )


# GPT-2-style pre-tokenizer (ASCII subset — the corpus is pure ASCII):
# contraction suffix | space-prefixed word | space-prefixed number |
# space-prefixed punctuation run. Vanilla alternation only, so Java
# (Spark) and RE2 (DuckDB) regex engines count identically — verified
# corpus-wide at sf0.01/sf0.1.
BPE_PAT = "'[a-z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"
_WS_COUNT_SPARK = r"size(split(trim(text), '\\s+'))"
_WS_COUNT_DUCK = r"len(regexp_split_to_array(trim(text, ' '), '[\s\v]+'))"


@query(
    "text_bpe_token_count",
    oracle=f"""
    WITH t AS (
      SELECT
        source,
        {_WS_COUNT_DUCK} AS n_ws,
        len(regexp_extract_all(text, '{BPE_PAT.replace("'", "''")}', 0)) AS n_bpe
      FROM documents
    )
    SELECT
      source,
      COUNT(*) AS n_docs,
      SUM(n_ws)::BIGINT AS ws_tokens,
      SUM(n_bpe)::BIGINT AS bpe_tokens,
      (SUM(n_bpe) * 1000000 // SUM(n_ws))::BIGINT AS bpe_per_ws_micro
    FROM t
    GROUP BY source
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for training-data budgeting: whitespace tokens
    vs BPE-ish pre-tokenizer pieces, aggregated per source, with the
    pieces-per-word blowup ratio in floor'd micro-units (integer math
    — immune to the decimal rounding-tie divergence).

    Plan: the regex runs once per row inside codegen (ReadSchema
    pruned to source/text), then a partial+final hash aggregate on
    the low-cardinality source key — one shuffle, no Python in the
    row path. At 100 TB this is the canonical 'how many tokens do we
    have' sweep: embarrassingly parallel, output rows = #sources.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.expr(_WS_COUNT_SPARK).alias("n_ws"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PAT), F.lit(0))).alias(
            "n_bpe"
        ),
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").alias("ws_tokens"),
        F.sum("n_bpe").alias("bpe_tokens"),
        F.expr("sum(n_bpe) * 1000000 div sum(n_ws)").alias("bpe_per_ws_micro"),
    )


# Deterministic train/val/test split: bucket = content-hash mod 100.
# Hash-based (not random) so the split is (a) reproducible across
# runs/engines, (b) stable under re-partitioning, (c) consistent for
# duplicate documents — the properties a training pipeline needs.
SPLIT_BUCKETS = (("train", 0, 90), ("val", 90, 95), ("test", 95, 100))


def _split_case(bucket_expr: str) -> str:
    arms = " ".join(
        f"WHEN {bucket_expr} >= {lo} AND {bucket_expr} < {hi} THEN '{name}'"
        for name, lo, hi in SPLIT_BUCKETS
    )
    return f"CASE {arms} END"


@query(
    "text_train_val_test_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, {hash60_duck('text')} % 100 AS bucket
      FROM documents
    )
    SELECT
      source,
      {_split_case('bucket')} AS split,
      COUNT(*) AS n_docs,
      MIN(doc_id) AS min_doc_id,
      MAX(doc_id) AS max_doc_id
    FROM h
    GROUP BY source, {_split_case('bucket')}
    """,
)
def text_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by content-hash
    bucket, summarized per (source, split). Membership is a pure
    projection (`hash60(text) % 100`), so the full assignment — not
    just these counts — is identical on any cluster size, any run.

    Plan: projection + one hash aggregate on a 3×#sources key space.
    At 100 TB the assignment adds one codegen'd expression to the
    scan; materializing the split is a partitioned write on the
    ``split`` column (3 partitions, no shuffle beyond the write)."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "source",
        (F.expr(hash60_spark("text")) % 100).alias("bucket"),
    )
    split = F.expr(_split_case("bucket"))
    return h.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# Composite curation pipeline: the end-to-end "make a training set"
# query — quality gate → exact-dedup to canonicals → split assignment
# → per-(source, split) accounting. Threshold 0.55 keeps ~70% here.
CURATION_QUALITY_MIN = 0.55


@query(
    "text_curation_pipeline",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text, {TOKENS_DUCK} AS toks FROM documents
    ), scored AS (
      SELECT doc_id, source, text, len(toks) AS n_toks,
             {_dec6(_QUALITY_DUCK.replace("STOP", _sql_list(STOPWORDS)))} AS q
      FROM t
    ), kept AS (
      SELECT * FROM scored WHERE q >= {CURATION_QUALITY_MIN}
    ), canon AS (
      SELECT *,
             doc_id = MIN(doc_id) OVER (
               PARTITION BY md5(regexp_replace(trim(lower(text), ' '), '[\\s\\v]+', ' ', 'g'))
             ) AS is_canonical
      FROM kept
    ), final AS (
      SELECT
        source,
        CASE WHEN {hash60_duck('text')} % 100 < 90 THEN 'train'
             WHEN {hash60_duck('text')} % 100 < 95 THEN 'val'
             ELSE 'test' END AS split,
        n_toks, q
      FROM canon WHERE is_canonical
    )
    SELECT
      source,
      split,
      COUNT(*) AS n_docs,
      SUM(n_toks)::BIGINT AS n_tokens,
      CAST(SUM(q) AS DOUBLE) / COUNT(*) AS avg_quality
    FROM final
    GROUP BY source, split
    """,
)
def text_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pipeline in ONE plan:
    quality-score gate → exact dedup (canonical = min doc_id per
    normalized-content hash) → deterministic hash split → per-(source,
    split) doc/token/quality accounting.

    Plan: tokenize once, score in codegen, ONE window shuffle on the
    content hash (uniform key), one final aggregate shuffle. This is
    the query a 100 TB curation run actually executes — every stage
    is a column expression, so the whole pipeline is two shuffles
    regardless of scale."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    stop_list = _sql_list(STOPWORDS)
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        F.expr(TOKENS_SPARK).alias("toks"),
    ).select(
        "doc_id",
        "source",
        "text",
        F.size("toks").alias("n_toks"),
        F.expr(
            _QUALITY_SPARK.replace("TOKS", "toks").replace("STOP", stop_list)
        ).cast("decimal(18,6)").alias("q"),
    )
    kept = scored.filter(F.col("q") >= CURATION_QUALITY_MIN)
    norm = r"regexp_replace(trim(lower(text)), '\\s+', ' ')"
    canon = kept.withColumn(
        "is_canonical",
        F.col("doc_id")
        == F.min("doc_id").over(Window.partitionBy(F.expr(f"md5({norm})"))),
    ).filter("is_canonical")
    bucket = F.expr(hash60_spark("text")) % 100
    final = canon.select(
        "source",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
        "n_toks",
        "q",
    )
    return final.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        (F.sum("q").cast("double") / F.count(F.lit(1))).alias("avg_quality"),
    )


# Rabin-Karp rolling-hash fingerprint: polynomial hash of every
# char-4-gram window, reduced to a per-doc sketch (min / max /
# distinct count — the winnowing-style summary). Constants chosen so
# the window value stays < 2^63 in both engines' BIGINT arithmetic.
RK_BASE = 257
RK_MOD = 2_147_483_647  # 2^31 - 1
RK_K = 4


def _rk_windows(dialect: str) -> str:
    b3, b2, b1 = RK_BASE**3, RK_BASE**2, RK_BASE
    if dialect == "spark":
        terms = (
            f"ascii(substr(text, i, 1)) * {b3}"
            f" + ascii(substr(text, i + 1, 1)) * {b2}"
            f" + ascii(substr(text, i + 2, 1)) * {b1}"
            f" + ascii(substr(text, i + 3, 1))"
        )
        return (
            f"CASE WHEN length(text) >= {RK_K} THEN "
            f"transform(sequence(1, length(text) - {RK_K - 1}),"
            f" i -> ({terms}) % {RK_MOD}) "
            f"ELSE array() END"
        )
    terms = (
        f"ord(text[i]) * {b3}"
        f" + ord(text[i + 1]) * {b2}"
        f" + ord(text[i + 2]) * {b1}"
        f" + ord(text[i + 3])"
    )
    return (
        f"CASE WHEN len(text) >= {RK_K} THEN "
        f"list_transform(range(1, len(text) - {RK_K - 2}),"
        f" i -> ({terms}) % {RK_MOD}) "
        f"ELSE [] END"
    )


@query(
    "text_rolling_fingerprint",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_rk_windows('duck')} AS rks FROM documents
    )
    SELECT
      doc_id,
      len(rks) AS n_windows,
      list_min(rks) AS min_rk,
      list_max(rks) AS max_rk,
      len(list_distinct(rks)) AS n_distinct_rk
    FROM w
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (Rabin-Karp) document fingerprint: the polynomial
    hash of every char-4-gram, summarized per doc as min / max /
    distinct-count — the winnowing-sketch shape (min-of-window-hashes
    is what plagiarism/near-dup winnowers keep).

    Plan: one higher-order-function projection per row, zero
    shuffles; integer-only arithmetic so both engines agree exactly.
    (The window values are computed positionally inside codegen — with
    k fixed at {RK_K} that is O(n·k) per row with no Python; a true
    incremental rolling update would need a stateful fold for the
    same constant factor.)"""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.expr(_rk_windows("spark")).alias("rks"))
    return w.select(
        "doc_id",
        F.size("rks").alias("n_windows"),
        F.array_min("rks").alias("min_rk"),
        F.array_max("rks").alias("max_rk"),
        F.size(F.array_distinct("rks")).alias("n_distinct_rk"),
    )


@query(
    "text_top_ngrams",
    oracle=f"""
    WITH t AS (
      SELECT {TOKENS_DUCK} AS toks FROM documents
    ),
    b AS (
      SELECT unnest([toks[i+1] || ' ' || toks[i+2]
                     for i in range(len(toks)-1)]) AS bigram
      FROM t
    )
    SELECT bigram, COUNT(*) AS n_occurrences
    FROM b
    GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram ASC
    LIMIT 25
    """,
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25 word bigrams by occurrence count — the corpus
    n-gram statistic every training-data pipeline computes (vocab
    building, boilerplate detection, contamination screens).

    Plan: tokenize once into a column (separate select — Catalyst
    does not CSE inside lambda bodies), build bigrams JVM-side with
    ``zip_with`` over two ``slice`` views (no Python in the row
    path), explode, then hash-aggregate. The count is map-side
    partial-aggregated before the single shuffle on the bigram key,
    and the top-25 runs as TakeOrderedAndProject (per-partition
    heaps + driver merge) — no global sort shuffle. At 100 TB the
    shuffle carries only (distinct-bigram, partial-count) pairs per
    task, not raw occurrences. Ordering ties break on the bigram
    string so both engines pick an identical, deterministic row set.
    The input is spread across all cores first: the testdata is one
    parquet file = one split, and tokenize+bigram is compute-bound."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # No size>=2 filter: a 1-token doc yields an empty bigram array and
    # explode drops it — an explicit filter gets pushed below the
    # repartition and re-tokenizes every row (no CSE across the push).
    toks = docs.select(F.expr(TOKENS_SPARK).alias("toks"))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("bigram").asc())
        .limit(25)
    )


# ---- sequence packing ------------------------------------------------

PACK_CONTEXT = 2048   # tokens per training context window
PACK_SHARDS = 32      # independent packing shards


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
             len({TOKENS_DUCK}) AS n_tokens
      FROM documents
    ), o AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0)::BIGINT AS tok_offset
      FROM t
    )
    SELECT doc_id, shard, n_tokens, tok_offset,
           (tok_offset // {PACK_CONTEXT})::BIGINT AS pack_id,
           ((tok_offset + n_tokens - 1) // {PACK_CONTEXT})
             > (tok_offset // {PACK_CONTEXT}) AS straddles
    FROM o
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: concatenate the corpus token stream (in
    doc_id order) and chop it into fixed PACK_CONTEXT-token (2048) windows —
    every doc gets its pack id, intra-pack offset, and a straddle flag
    (crosses a window boundary), the bookkeeping a pretraining loader
    needs to pack sequences without padding waste.

    Packing runs independently per shard (``doc_id % PACK_SHARDS``) —
    that is the scale design, not a shortcut: a single global
    running-sum window would serialize 100 TB through one partition,
    while per-shard packing is embarrassingly parallel (one shuffle on
    the shard key, ~n/SHARDS rows per window partition) and shard
    boundaries only ever waste < CONTEXT tokens each. The token count
    reuses the whitespace tokenizer (tokenize-once projection); the
    cumulative offset is an exclusive-frame running sum — both engines
    evaluate the identical frame, and all math is integer, so the
    oracle compare is exact."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    t = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.expr(TOKENS_SPARK)).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = t.withColumn(
        "tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return o.select(
        "doc_id",
        "shard",
        "n_tokens",
        "tok_offset",
        F.expr(f"tok_offset div {PACK_CONTEXT}").alias("pack_id"),
        (
            F.expr(f"(tok_offset + n_tokens - 1) div {PACK_CONTEXT}")
            > F.expr(f"tok_offset div {PACK_CONTEXT}")
        ).alias("straddles"),
    )


# ---- deterministic stratified sampling -------------------------------

SAMPLE_K = 20  # survivors per source stratum


@query(
    "text_stratified_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY md5(text), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source, rn FROM ranked WHERE rn <= {SAMPLE_K}
    """,
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly SAMPLE_K (20) docs per
    source, chosen by ranking on ``md5(text)`` — a content-keyed
    pseudo-random order that is identical on every engine and every
    rerun (no RNG seed to disagree about), which is what makes
    training-data subsets reproducible and auditable.

    Plan: one shuffle on ``source``; the rank prunes to K rows per
    stratum inside the window sort (WindowGroupLimit pushes the
    rn <= K filter into the sort at execution, so each partition
    keeps a K-heap rather than materializing the full stratum —
    the same mechanism as window_topk_per_group). At 100 TB the
    md5 ranking key is computed in the scan projection and only
    (source, hash) pairs matter to the sort, not payloads."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.md5("text"), F.col("doc_id"))
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= SAMPLE_K)
    )


# ---- benchmark decontamination screen --------------------------------

# Train/eval split for the screen: every doc whose id lands in the
# first EVAL_PCT of the id-mod-100 ring plays the benchmark set.
EVAL_PCT = 5
CONTAM_N = 5  # n-gram width; longer grams = rarer = sharper evidence


def _ngrams_spark(n: int, toks: str = "toks") -> str:
    cat = ", ".join(f"{toks}[i+{j}]" for j in range(n))
    return (
        f"case when size({toks}) >= {n} then"
        f" transform(sequence(0, size({toks}) - {n}), i -> concat_ws(' ', {cat}))"
        " else array() end"
    )


def _ngrams_duck(n: int, toks: str = "toks") -> str:
    cat = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(1, n + 1))
    return (
        f"list_transform(range(greatest(len({toks}) - {n - 1}, 0)), i -> {cat})"
    )


@query(
    "text_contamination_screen",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               {_ngrams_duck(CONTAM_N)},
               s -> try_cast('0x' || substr(md5(s), 1, 15) AS BIGINT)))) AS g
      FROM t
    ), eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 100 < {EVAL_PCT}
    ), train AS (
      SELECT doc_id, g, COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM grams WHERE doc_id % 100 >= {EVAL_PCT}
    )
    SELECT
      t.doc_id,
      ANY_VALUE(t.n_grams) AS n_grams,
      COUNT(*) AS n_overlapping,
      CAST(CAST(COUNT(*) * 1.0 / ANY_VALUE(t.n_grams) AS DECIMAL(18,6))
           AS DOUBLE) AS contamination_ratio
    FROM train t JOIN eval_grams e ON t.g = e.g
    GROUP BY t.doc_id
    """,
)
def text_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares at least one distinct word-CONTAM_N-gram (5-gram) with the
    held-out benchmark set (here: docs with ``doc_id % 100 <
    EVAL_PCT``), with the overlap count and contamination ratio —
    the screen run before any pretraining corpus ships.

    Plan: one tokenize-once projection feeds both sides; n-grams are
    reduced to 60-bit hashes inside the explode (8-byte join keys);
    the eval side collapses to DISTINCT grams before the join (at
    100 TB that's the small side — AQE broadcast-joins it while it
    fits, per the repo broadcast policy); overlap counting is a
    hash aggregate on doc_id. The n-gram width is the scale knob:
    longer grams are rarer, so the gram join's fan-out shrinks as
    the corpus grows — the standard reason decontamination uses
    8-13-grams in production; 5 fits this corpus's short docs."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    from .textops import hash60_spark  # self-import safe at module level

    grams = (  # feeds the eval set, the train side, and sizes
        docs.select("doc_id", F.expr(TOKENS_SPARK).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform({_ngrams_spark(CONTAM_N)},"
                    f" s -> {hash60_spark('s')}))"
                )
            ).alias("g"),
        )
        .persist()
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % 100 < EVAL_PCT).select("g").distinct()
    )
    from pyspark.sql import Window

    train = grams.filter(F.col("doc_id") % 100 >= EVAL_PCT).withColumn(
        "n_grams", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    return (
        train.join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(
            F.any_value("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_overlapping"),
            (
                F.count(F.lit(1)) * 1.0 / F.any_value("n_grams")
            ).cast("decimal(18,6)").cast("double").alias("contamination_ratio"),
        )
    )


# ---- percentile quality gate -----------------------------------------

GATE_PCTL = 0.25  # drop the bottom quartile per source


@query(
    "text_quality_percentile_gate",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {TOKENS_DUCK} AS toks FROM documents
    ), scored AS (
      SELECT doc_id, source,
             {_dec6(_QUALITY_DUCK.replace("STOP", _sql_list(STOPWORDS)))} AS q
      FROM t
    ), ranked AS (
      SELECT doc_id, source, q,
             PERCENT_RANK() OVER (
               PARTITION BY source ORDER BY q, doc_id
             ) AS pr
      FROM scored
    )
    SELECT doc_id, source, CAST(q AS DOUBLE) AS quality, pr
    FROM ranked WHERE pr >= {GATE_PCTL}
    """,
)
def text_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality gate: drop the bottom quartile of documents
    *within each source* by the standard quality heuristic — the
    robust sibling of ``text_curation_pipeline``'s absolute threshold
    (an absolute cut over- or under-prunes sources with different
    score distributions; a per-source percentile survives them).

    Determinism: the score is fixed to DECIMAL(18,6) before ranking
    (identical rank order both engines), ties broken on doc_id, and
    PERCENT_RANK is the exact rational (rank−1)/(n−1) evaluated
    identically. Plan: one shuffle on ``source``; the window computes
    rank in the same sort the shuffle already established."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    q_expr = _QUALITY_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    scored = docs.select(
        "doc_id", "source", F.expr(TOKENS_SPARK).alias("toks")
    ).select(
        "doc_id", "source", F.expr(q_expr).cast("decimal(18,6)").alias("q")
    )
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= GATE_PCTL)
        .select(
            "doc_id", "source", F.col("q").cast("double").alias("quality"), "pr"
        )
    )


# ---- repetition stats (gopher-style quality rules) -------------------

REPET_N = 3            # n-gram width for the duplicate-gram rule
REPET_GATE_MICRO = 200_000  # 20% in micro units — the flag threshold


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), g AS (
      SELECT doc_id, len(toks) AS n_tokens,
             {_ngrams_duck(REPET_N)} AS grams
      FROM t
    ), gs AS (
      SELECT doc_id, n_tokens, len(grams) AS n_grams,
             len(list_distinct(grams)) AS n_distinct_grams
      FROM g
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      GROUP BY 1, 2
    ), tt AS (
      SELECT doc_id, MAX(cnt) AS top_cnt FROM tf GROUP BY doc_id
    ), m AS (
      SELECT gs.doc_id,
             gs.n_tokens::BIGINT AS n_tokens,
             gs.n_grams::BIGINT AS n_grams,
             gs.n_distinct_grams::BIGINT AS n_distinct_grams,
             tt.top_cnt::BIGINT AS top_token_cnt,
             CAST(CASE WHEN gs.n_grams = 0 THEN 0
                  ELSE ((gs.n_grams - gs.n_distinct_grams) * 1000000) // gs.n_grams
                  END AS BIGINT) AS dup_micro,
             CAST((tt.top_cnt * 1000000) // gs.n_tokens AS BIGINT) AS top_micro
      FROM gs JOIN tt ON tt.doc_id = gs.doc_id
    )
    SELECT doc_id, n_tokens, n_grams, n_distinct_grams, top_token_cnt,
           CAST(dup_micro AS DOUBLE) / 1000000.0 AS dup_gram_ratio,
           CAST(top_micro AS DOUBLE) / 1000000.0 AS top_token_ratio,
           dup_micro > {REPET_GATE_MICRO} OR top_micro > {REPET_GATE_MICRO}
             AS is_repetitive
    FROM m
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality rules (the Gopher-rules family): per doc, the
    duplicate word-3-gram fraction and the most-frequent-token
    fraction, with an ``is_repetitive`` flag at 20% on either — the
    filter that catches boilerplate and looped text which length/
    stopword heuristics miss.

    Determinism: both ratios are floor'd integer micro-units
    (``x·10⁶ div n``) before the double division, so there is no
    decimal rounding-tie surface at any SF. Plan: the gram stats are a
    pure projection (array_distinct inside codegen, no explode); only
    the top-token rule needs the one explode + two-level aggregate;
    one join on doc_id merges them — two shuffles total regardless of
    corpus size."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = docs.select("doc_id", F.expr(TOKENS_SPARK).alias("toks"))
    gs = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.expr(_ngrams_spark(REPET_N)).alias("grams"),
    ).select(
        "doc_id",
        "n_tokens",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.size(F.array_distinct("grams")).cast("bigint").alias("n_distinct_grams"),
    )
    tt = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_token_cnt"))
    )
    m = gs.join(tt, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_grams",
        "n_distinct_grams",
        "top_token_cnt",
        F.expr(
            "CAST(CASE WHEN n_grams = 0 THEN 0"
            " ELSE ((n_grams - n_distinct_grams) * 1000000L) div n_grams"
            " END AS BIGINT)"
        ).alias("dup_micro"),
        F.expr("CAST((top_token_cnt * 1000000L) div n_tokens AS BIGINT)").alias(
            "top_micro"
        ),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_grams",
        "n_distinct_grams",
        "top_token_cnt",
        (F.col("dup_micro").cast("double") / 1000000.0).alias("dup_gram_ratio"),
        (F.col("top_micro").cast("double") / 1000000.0).alias("top_token_ratio"),
        (
            (F.col("dup_micro") > REPET_GATE_MICRO)
            | (F.col("top_micro") > REPET_GATE_MICRO)
        ).alias("is_repetitive"),
    )


# ---- per-source distinctive terms ------------------------------------

DISTINCTIVE_K = 10


@query(
    "text_distinctive_terms",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {TOKENS_DUCK} AS toks FROM documents
    ), tf AS (
      SELECT source, tok, COUNT(*) AS tf
      FROM (SELECT source, unnest(toks) AS tok FROM t)
      GROUP BY 1, 2
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), scored AS (
      SELECT tf.source, tf.tok, tf.tf, df.df,
             CAST((tf.tf * 1000000) // df.df AS BIGINT) AS score_micro
      FROM tf JOIN df ON df.tok = tf.tok
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY score_micro DESC, tok ASC
      ) AS rnk
      FROM scored
    )
    SELECT source, tok, tf, df,
           CAST(score_micro AS DOUBLE) / 1000000.0 AS score, rnk
    FROM ranked WHERE rnk <= {DISTINCTIVE_K}
    """,
)
def text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary: rank each source's tokens by
    ``tf / df`` (term frequency over cross-source document frequency —
    the exact-rational cousin of tf-idf; ln() is avoided on purpose
    because libm vs JVM log differ in final ulps and would poison the
    oracle hash). The corpus-profiling step behind source-mix reports
    and contamination triage.

    Plan: one explode → (source, token) partial-agg; df is a second
    tiny aggregate OVER THE TF FRAME (no second corpus scan); the
    join back is on the token key and the final top-K is a
    WindowGroupLimit-pruned rank — nothing in the plan holds more
    than (sources × vocab) rows."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tf = (
        docs.select("source", F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df, "tok").select(
        "source",
        "tok",
        "tf",
        "df",
        F.expr("CAST((tf * 1000000L) div df AS BIGINT)").alias("score_micro"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("score_micro").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= DISTINCTIVE_K)
        .select(
            "source",
            "tok",
            "tf",
            "df",
            (F.col("score_micro").cast("double") / 1000000.0).alias("score"),
            "rnk",
        )
    )


@query(
    "text_token_entropy",
    oracle=f"""
    WITH tc AS (
      SELECT doc_id, ANY_VALUE(source) AS source, tok, COUNT(*) AS c
      FROM (
        SELECT doc_id, source, unnest({TOKENS_DUCK}) AS tok
        FROM documents
      )
      WHERE tok <> ''
      GROUP BY doc_id, tok
    ),
    pd AS (
      SELECT doc_id, ANY_VALUE(source) AS source,
             SUM(c) AS n_tokens,
             SUM(CAST(c * ln(c) AS DECIMAL(18,6))) AS s_clnc
      FROM tc GROUP BY doc_id
    ),
    h AS (
      SELECT doc_id, source,
             CAST(ln(n_tokens) - CAST(s_clnc AS DOUBLE) / n_tokens
                  AS DECIMAL(18,6)) AS entropy
      FROM pd
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(CAST(CAST(SUM(entropy) AS DOUBLE) / COUNT(*)
                AS DECIMAL(18,6)) AS DOUBLE) AS avg_entropy,
           CAST(MIN(entropy) AS DOUBLE) AS min_entropy,
           CAST(MAX(entropy) AS DOUBLE) AS max_entropy,
           COUNT(*) FILTER (WHERE entropy < 3.0) AS n_low_entropy
    FROM h
    GROUP BY source
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram (token) Shannon entropy per document, rolled up per
    source — the standard repetitive-junk screen a pretraining
    pipeline runs alongside the quality score: near-zero entropy means
    a document is one token stamped over and over (boilerplate, tag
    soup, generator spam), which the length/stopword heuristics in
    ``text_quality_by_source`` cannot see.

    H(doc) = ln(N) − Σ c·ln(c)/N over per-token counts c — computed in
    that algebraic form so the only float summation, Σ c·ln(c), can be
    fixed to DECIMAL(18,6) per TERM before the aggregate (the repo's
    order-insensitive cross-engine sum rule); everything after is
    per-row double math on identical operands in both engines.

    Scale (100 TB): one explode + one (doc_id, token) hash aggregate —
    the canonical map-side-combinable shape, keyed on doc_id so the
    per-doc reduce is co-partitioned and the second aggregate is
    nearly shuffle-free; source rides along via first() (constant per
    doc) so the documents table is scanned ONCE, no join back. Output
    is |sources| rows. No Python in the row path.

    New surface vs the reference (no text analytics; see module
    docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.expr(TOKENS_SPARK)).alias("tok")
    ).filter(F.col("tok") != "")
    tc = tok.groupBy("doc_id", "tok").agg(
        F.first("source").alias("source"), F.count(F.lit(1)).alias("c")
    )
    pd_ = tc.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.sum("c").alias("n_tokens"),
        F.sum((F.col("c") * F.log(F.col("c"))).cast("decimal(18,6)")).alias(
            "s_clnc"
        ),
    )
    h = pd_.select(
        "source",
        (
            F.log(F.col("n_tokens"))
            - F.col("s_clnc").cast("double") / F.col("n_tokens")
        )
        .cast("decimal(18,6)")
        .alias("entropy"),
    )
    return h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("entropy").cast("double") / F.count(F.lit(1)))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("avg_entropy"),
        F.min("entropy").cast("double").alias("min_entropy"),
        F.max("entropy").cast("double").alias("max_entropy"),
        F.sum(F.when(F.col("entropy") < 3.0, 1).otherwise(0)).alias(
            "n_low_entropy"
        ),
    )


# ---- corpus unigram LM quality score ---------------------------------


@query(
    "text_unigram_lm_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), occ AS (
      SELECT doc_id, unnest(toks) AS token FROM t
    ), pd AS (
      SELECT token, doc_id, COUNT(*) AS cnt FROM occ GROUP BY 1, 2
    ), vocab AS (
      SELECT token, SUM(cnt)::BIGINT AS n_tok FROM pd GROUP BY token
    ), tot AS (
      SELECT SUM(n_tok)::BIGINT AS total FROM vocab
    )
    SELECT pd.doc_id,
           SUM(cnt)::BIGINT AS n_tokens,
           COUNT(*)::BIGINT AS n_distinct_tokens,
           SUM(CASE WHEN n_tok = 1 THEN cnt ELSE 0 END)::BIGINT
             AS n_hapax_occ,
           SUM(cnt * n_tok)::BIGINT AS sum_weighted_freq,
           CAST(CAST(
             SUM(cnt * n_tok)::BIGINT * 1.0
               / (SUM(cnt)::BIGINT * ANY_VALUE(total))
             AS DECIMAL(18,9)) AS DOUBLE) AS lm_score
    FROM pd JOIN vocab USING (token) CROSS JOIN tot
    GROUP BY pd.doc_id
    """,
)
def text_unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality score per document — the
    two-pass "train a cheap LM on the corpus, score every doc with
    it" screen (the unigram cousin of the KenLM-perplexity filters in
    CCNet/Gopher-style curation). The score is the document's average
    token probability under the corpus unigram distribution:
    ``sum(cnt_d(t) * n(t)) / (|d| * T)`` — gibberish / rare-token
    documents score near 1/T, boilerplate near the head-word mass.
    ``n_hapax_occ`` counts occurrences of corpus-hapax tokens, the
    classic OOV-ish noise signal. No logarithms on purpose: libm vs
    JVM ``ln`` differ in final ulps and would poison the value hash;
    the probability-space average is exact integer arithmetic until
    one final double division (exactly rounded, bit-identical in both
    engines) and one DECIMAL(18,9) rounding.

    Scale story (100 TB): pass 1 (vocabulary) and pass 2 (scoring)
    share ONE exploded token frame reduced immediately by the
    (token, doc) partial aggregate; the vocabulary is a second
    aggregate over that reduced frame, and the probability join runs
    on the token key the frame already carries. The corpus total is a
    1-row aggregate broadcast into the scoring plan — no driver
    loop, no collect beyond Spark's own scalar plan. Head tokens
    ("the") produce one vocab row each; the score rollup shuffles on
    doc_id, uniform by construction."""
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    occ = spread.select(
        "doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("token")
    )
    per_doc_tok = (
        occ.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    vocab = per_doc_tok.groupBy("token").agg(F.sum("cnt").alias("n_tok"))
    total = vocab.agg(F.sum("n_tok").alias("total"))
    return (
        per_doc_tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum(
                F.when(F.col("n_tok") == 1, F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_hapax_occ"),
            F.sum(F.col("cnt") * F.col("n_tok")).alias("sum_weighted_freq"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            "n_hapax_occ",
            "sum_weighted_freq",
            (
                F.col("sum_weighted_freq")
                * F.lit(1.0)
                / (F.col("n_tokens") * F.col("total"))
            )
            .cast("decimal(18,9)")
            .cast("double")
            .alias("lm_score"),
        )
    )


# ---- BPE merge training (distributed byte-pair encoding) -------------

N_BPE_MERGES = 4

# Greedy left-to-right BPE merge of ONE pair inside a space-joined
# symbol string, as a single-pass fold with a string-encoded
# accumulator: "done-prefix || chr(1) || pending-symbol". Exactly the
# reference Sennrich merge (runs of identical symbols pair from the
# left: a a a -> aa a) — a plain replace() would skip alternate
# occurrences because the match consumes the shared separator.
_BPE_PEND = "(substring(acc, instr(acc, chr(1)) + 1))"
_BPE_DONE = "(substring(acc, 1, instr(acc, chr(1)) - 1))"
_BPE_FOLD_SPARK = (
    "aggregate(split(w, ' '), chr(1), (acc, x) -> CASE "
    f"WHEN {_BPE_PEND} = ma AND x = mb "
    f"THEN {_BPE_DONE} || ' ' || ma || mb || chr(1) "
    f"ELSE {_BPE_DONE} "
    f"|| CASE WHEN {_BPE_PEND} = '' THEN '' ELSE ' ' || {_BPE_PEND} END "
    "|| chr(1) || x END, "
    f"acc -> trim({_BPE_DONE} || ' ' || {_BPE_PEND}))"
)


def _bpe_word_frame(spark: SparkSession, sf_dir: str):
    """Distinct-word frequency frame with characters space-separated —
    round 0 of BPE training. Shared by train and encode faces."""
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    words = (
        spread.select(F.explode(F.expr(TOKENS_SPARK)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("w"),
            "freq",
        )
    )
    return spread, words.persist()


def _bpe_round_best(words) -> DataFrame:
    """One BPE round's argmax: adjacent-pair counts over the current
    symbolized word frame, best (cnt DESC, ma ASC, mb ASC) — the
    1-row frame that rides back in as a broadcast."""
    toks = words.select(F.expr("split(w, ' ')").alias("toks"), "freq")
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("ma"), b.alias("mb")),
            )
        ).alias("pr"),
        "freq",
    ).select("pr.ma", "pr.mb", "freq")
    return (
        pairs.groupBy("ma", "mb")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ma").asc(), F.col("mb").asc())
        .limit(1)
    )


def _bpe_apply_merge(words, best) -> DataFrame:
    """Apply the broadcast 1-row merge to every word (greedy
    left-to-right Sennrich fold). r16: the next round's frame is
    lazily localCheckpointed (was persisted) — round r is read
    twice by round r+1 (pair argmax + merge apply), and a persist
    dedupes the EXECUTION but keeps the whole 2^r-copy lineage in
    every later round's analyzed plan (the kmeans cent-chain lesson;
    the train plan carried 412 Exchange nodes of inlined text, the
    segment face 1210). eager=False: no driver decision per round, so
    the consumer's one action materializes the cascade (guide §1.2)."""
    return (
        words.crossJoin(F.broadcast(best)).select(
            F.expr(_BPE_FOLD_SPARK).alias("w"), "freq"
        )
        .localCheckpoint(eager=False)
    )


def _bpe_trained_words(spark: SparkSession, sf_dir: str, collect_rounds=None):
    """Run the full N_BPE_MERGES training loop over the distinct-word
    frame; returns (spread_docs, merged_words). If ``collect_rounds``
    is a list, each round's best-merge 1-row frame (with the round
    number attached) is appended — the train face's output; the
    encode face ignores it. ONE implementation of the loop so the two
    faces cannot silently diverge (ADVICE r6)."""
    spread, words = _bpe_word_frame(spark, sf_dir)
    for r in range(1, N_BPE_MERGES + 1):
        best = _bpe_round_best(words)
        if collect_rounds is not None:
            collect_rounds.append(
                best.select(
                    F.lit(r).cast("int").alias("round"),
                    F.col("ma").alias("merge_a"),
                    F.col("mb").alias("merge_b"),
                    F.col("cnt").alias("pair_count"),
                )
            )
        words = _bpe_apply_merge(words, best)
    return spread, words


def _bpe_oracle() -> str:
    pend = (
        "(CASE WHEN strpos(acc, chr(1)) > 0 "
        "THEN substr(acc, strpos(acc, chr(1)) + 1) ELSE acc END)"
    )
    done = (
        "(CASE WHEN strpos(acc, chr(1)) > 0 "
        "THEN substr(acc, 1, strpos(acc, chr(1)) - 1) ELSE '' END)"
    )
    fold = (
        "list_reduce(string_split(w, ' '), (acc, x) -> ("
        f"CASE WHEN {pend} = ma AND x = mb "
        f"THEN {done} || ' ' || ma || mb || chr(1) "
        f"ELSE {done} "
        f"|| CASE WHEN {pend} = '' THEN '' ELSE ' ' || {pend} END "
        "|| chr(1) || x END))"
    )
    final = (
        "trim(replace(CASE WHEN strpos(r, chr(1)) > 0 "
        "THEN substr(r, 1, strpos(r, chr(1)) - 1) || ' ' "
        "|| substr(r, strpos(r, chr(1)) + 1) ELSE r END, chr(1), ''), ' ')"
    )
    parts = [
        f"""
    w0 AS (
      SELECT unnest({TOKENS_DUCK}) AS word FROM documents
    ), wf AS (
      SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g'), ' ') AS w,
             COUNT(*)::BIGINT AS freq
      FROM w0 WHERE length(word) > 0 GROUP BY 1
    ), r0 AS (SELECT w, freq FROM wf)"""
    ]
    for r in range(1, N_BPE_MERGES + 1):
        parts.append(f"""
    p{r} AS (
      SELECT pr[1] AS ma, pr[2] AS mb, SUM(freq)::BIGINT AS cnt
      FROM (SELECT unnest([[toks[i+1], toks[i+2]]
                           for i in range(len(toks)-1)]) AS pr, freq
            FROM (SELECT string_split(w, ' ') AS toks, freq FROM r{r-1}))
      GROUP BY 1, 2
    ), b{r} AS (
      SELECT ma, mb, cnt FROM p{r} ORDER BY cnt DESC, ma ASC, mb ASC LIMIT 1
    ), r{r} AS (
      SELECT {final} AS w, freq FROM (
        SELECT {fold} AS r, freq FROM r{r-1} CROSS JOIN b{r})
    )""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, ma AS merge_a, mb AS merge_b, "
        f"cnt AS pair_count FROM b{r}"
        for r in range(1, N_BPE_MERGES + 1)
    )
    return "WITH" + ",".join(parts) + "\n" + sel


@query("text_bpe_train_merges", oracle=_bpe_oracle())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction: learn the first
    N_BPE_MERGES byte-pair merges from the corpus — per round, count
    adjacent symbol pairs weighted by word frequency, pick the global
    argmax (ties broken lexicographically), and apply the merge to
    every word with the exact Sennrich greedy left-to-right semantics
    (runs of identical symbols pair from the left). The output is the
    learned merge table (round, pair, count) — the artifact a
    tokenizer trainer ships.

    Iterative yet EXACTLY oracled (the kmeans-trajectory pattern):
    every quantity is integer or string, so DuckDB replays the
    identical fixpoint with unrolled CTEs; the greedy merge itself is
    a single-pass fold with a string-encoded accumulator
    (done-prefix + chr(1) + pending) — expressible as a JVM-side
    ``aggregate`` HOF in Spark and ``list_reduce`` in DuckDB, no
    Python in the row path.

    Scale story (100 TB corpus): the state that iterates is the
    DISTINCT-WORD frame (Heaps' law: ~1M rows where the corpus is
    billions of tokens), built by one token reduce; each round is one
    pair-count shuffle over that frame plus a 1-row argmax that rides
    back in as a BROADCAST — no driver collect, no full-corpus rescan
    after round 0. Pair counting explodes |word|-1 pairs per distinct
    word, reduced map-side. This mirrors how production BPE trainers
    work from a word-frequency table, not raw text. Rounds persist
    the (small) word frame so round r does not recompute rounds
    1..r-1."""
    rounds: list[DataFrame] = []
    _bpe_trained_words(spark, sf_dir, collect_rounds=rounds)
    out = rounds[0]
    for fr in rounds[1:]:
        out = out.unionByName(fr)
    return out


def _bpe_segment_oracle() -> str:
    """Reuses the BPE training CTEs (rounds 1..N) and then scores the
    corpus with the final merge table: per document, symbols-per-token
    after the learned merges — the encode-side compression report."""
    # keep only the WITH chain (drop the UNION ALL merge-table select)
    with_part = _bpe_oracle().split("\nSELECT 1 AS round")[0]
    n = N_BPE_MERGES
    return (
        with_part
        + f""",
    word_syms AS (
      -- r{n} carries the merged symbol string per DISTINCT word, in
      -- the same order-free key space: rebuild the word by stripping
      -- spaces from the symbol string (merges only concatenate).
      SELECT replace(w, ' ', '') AS word,
             len(string_split(w, ' '))::BIGINT AS n_syms
      FROM r{n}
    ),
    occ AS (
      SELECT doc_id, unnest({TOKENS_DUCK}) AS word FROM documents
    )
    SELECT o.doc_id,
           COUNT(*)::BIGINT AS n_words,
           SUM(length(o.word))::BIGINT AS n_chars,
           SUM(ws.n_syms)::BIGINT AS n_symbols,
           CAST(CAST(SUM(ws.n_syms) * 1.0 / SUM(length(o.word))
                AS DECIMAL(18,6)) AS DOUBLE) AS symbols_per_char
    FROM occ o JOIN word_syms ws ON ws.word = o.word
    WHERE length(o.word) > 0
    GROUP BY o.doc_id
    """
    )


@query("text_bpe_segment_stats", oracle=_bpe_segment_oracle())
def text_bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode side of the BPE pair: apply the N_BPE_MERGES learned
    merges to every word and report per-document tokenization stats —
    symbol count after merging vs character count (the compression the
    vocabulary buys). The word->symbol-count map is the BPE training
    state itself (merges only concatenate, so stripping spaces from
    the merged symbol string recovers the word key — no second
    trained-state channel needed).

    Scale: training state iterates over the distinct-word frame; the
    scoring join hits the corpus ONCE, on the word key, with the
    merged vocabulary as the (Heaps-law small) build side."""
    # ONE training loop (`_bpe_trained_words`) shared with
    # text_bpe_train_merges — the two faces can't diverge (ADVICE r6).
    spread, words = _bpe_trained_words(spark, sf_dir)
    word_syms = words.select(
        F.expr("replace(w, ' ', '')").alias("word"),
        F.size(F.expr("split(w, ' ')")).cast("long").alias("n_syms"),
    )
    occ = spread.select(
        "doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("word")
    ).filter(F.length("word") > 0)
    return (
        occ.join(F.broadcast(word_syms), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_syms").alias("n_symbols"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_symbols",
            (F.col("n_symbols") * F.lit(1.0) / F.col("n_chars"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("symbols_per_char"),
        )
    )


# ---- RAKE keyword extraction -----------------------------------------

RAKE_TOPK = 25


def _rake_oracle() -> str:
    stop = _sql_list(STOPWORDS)
    return f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS w,
             unnest(range(1, len(toks) + 1)) AS pos
      FROM t
    ), nonstop AS (
      SELECT doc_id, w, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM tok WHERE w NOT IN ({stop}) AND length(w) > 0
    ), phr AS (
      SELECT doc_id, grp,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS plen
      FROM nonstop GROUP BY doc_id, grp
    ), wstat AS (
      SELECT n.w, COUNT(*)::BIGINT AS freq, SUM(p.plen)::BIGINT AS degree
      FROM nonstop n JOIN phr p USING (doc_id, grp)
      GROUP BY n.w
    ), pscore AS (
      SELECT p.phrase, p.doc_id, p.grp,
             SUM(ws.degree)::BIGINT AS s_deg,
             SUM(ws.freq)::BIGINT AS s_freq
      FROM phr p
      JOIN nonstop n USING (doc_id, grp)
      JOIN wstat ws ON ws.w = n.w
      WHERE p.plen >= 2
      GROUP BY 1, 2, 3
    )
    SELECT phrase,
           COUNT(*)::BIGINT AS n_occurrences,
           MAX(s_deg) AS sum_degree,
           MAX(s_freq) AS sum_freq,
           CAST(CAST(MAX(s_deg) * 1.0 / MAX(s_freq)
                AS DECIMAL(18,6)) AS DOUBLE) AS rake_score
    FROM pscore
    GROUP BY phrase
    ORDER BY rake_score DESC, phrase ASC
    LIMIT {RAKE_TOPK}
    """


@query("text_rake_keywords", oracle=_rake_oracle())
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; every word accumulates
    corpus-wide frequency and degree (sum of containing-phrase
    lengths); multi-word phrases rank by the degree-to-frequency
    ratio of their words (phrase-level integer sums, ONE division —
    the order-free variant of RAKE's per-word ratio sum, chosen so
    the score is bit-deterministic across engines). The classic
    unsupervised keyword miner for corpus exploration and tagging.

    Plan: posexplode with positions -> the gaps-and-islands trick
    (pos − row_number) turns stopword-delimited runs into groupable
    phrase ids with ONE window pass — no iterative splitting. The
    phrase build sorts each (doc, grp) bucket's handful of tokens
    inside the aggregate (array_sort of position structs — order
    guaranteed, unlike bare collect_list). Word stats and phrase
    scores reuse the SAME persisted nonstop frame (three consumers);
    top-{RAKE_TOPK} runs as TakeOrderedAndProject. At 100 TB every
    join key here (doc/grp, word) is bounded-cardinality or
    Zipf-bounded — no pairwise blowup anywhere."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = docs.select(
        "doc_id",
        F.posexplode(F.expr(TOKENS_SPARK)).alias("pos0", "w"),
    ).select("doc_id", "w", (F.col("pos0") + 1).alias("pos"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    nonstop = (
        tok.filter(
            (~F.col("w").isin(*STOPWORDS)) & (F.length("w") > 0)
        ).withColumn("grp", F.col("pos") - F.row_number().over(win))
        .persist()
    )
    phr = (
        nonstop.groupBy("doc_id", "grp").agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .persist()
    )
    wstat = (
        nonstop.join(phr, ["doc_id", "grp"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
    )
    pscore = (
        phr.filter(F.col("plen") >= 2)
        .join(nonstop, ["doc_id", "grp"])
        .join(wstat, "w")
        .groupBy("phrase", "doc_id", "grp")
        .agg(
            F.sum("degree").alias("s_deg"),
            F.sum("freq").alias("s_freq"),
        )
    )
    score = (
        (F.max("s_deg") * F.lit(1.0) / F.max("s_freq"))
        .cast("decimal(18,6)")
        .cast("double")
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("s_deg").alias("sum_degree"),
            F.max("s_freq").alias("sum_freq"),
            score.alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), F.col("phrase").asc())
        .limit(RAKE_TOPK)
    )


# ---- bigram LM novelty -----------------------------------------------


@query(
    "text_bigram_lm_novelty",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest([toks[i+1] || ' ' || toks[i+2]
                     for i in range(len(toks)-1)]) AS bigram,
             unnest([toks[i+1] for i in range(len(toks)-1)]) AS w1
      FROM t
    ), pd AS (
      SELECT bigram, w1, doc_id, COUNT(*) AS cnt FROM bg GROUP BY 1, 2, 3
    ), bstat AS (
      SELECT bigram, SUM(cnt)::BIGINT AS n_bg FROM pd GROUP BY bigram
    ), ustat AS (
      SELECT w1, SUM(cnt)::BIGINT AS n_u
      FROM pd GROUP BY w1
    )
    SELECT pd.doc_id,
           SUM(cnt)::BIGINT AS n_bigrams,
           SUM(CASE WHEN n_bg = 1 THEN cnt ELSE 0 END)::BIGINT
             AS n_novel_bigrams,
           SUM(cnt * n_bg)::BIGINT AS sum_bigram_freq,
           SUM(cnt * n_u)::BIGINT AS sum_context_freq,
           CAST(CAST(SUM(cnt * n_bg)::BIGINT * 1.0
                     / SUM(cnt * n_u)::BIGINT
                AS DECIMAL(18,9)) AS DOUBLE) AS cond_score
    FROM pd JOIN bstat USING (bigram) JOIN ustat USING (w1)
    GROUP BY pd.doc_id
    """,
)
def text_bigram_lm_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM novelty score — the conditional-probability
    extension of ``text_unigram_lm_quality``: per document, the
    occurrence-weighted ratio of corpus bigram mass to its
    left-context unigram mass (an exact-arithmetic stand-in for mean
    P(w2|w1); gibberish and shuffled text score low because its
    transitions are corpus-novel), plus the corpus-hapax transition
    count — the strongest cheap signal for machine-garbled text,
    since word salads have plausible unigrams but novel bigrams.

    Same scale skeleton as the unigram pass: ONE bigram explode
    reduced immediately by the (bigram, w1, doc) partial aggregate;
    bigram and context statistics are second aggregates over the
    reduced frame, joined back on keys the frame already carries; all
    arithmetic is exact BIGINT until one final double division."""
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = spread.select("doc_id", F.expr(TOKENS_SPARK).alias("toks"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(
                    F.concat(a, F.lit(" "), b).alias("bigram"),
                    a.alias("w1"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.bigram", "p.w1")
    pd_ = (
        bg.groupBy("bigram", "w1", "doc_id").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        .persist()
    )
    bstat = pd_.groupBy("bigram").agg(F.sum("cnt").alias("n_bg"))
    ustat = pd_.groupBy("w1").agg(F.sum("cnt").alias("n_u"))
    return (
        pd_.join(bstat, "bigram")
        .join(ustat, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(
                F.when(F.col("n_bg") == 1, F.col("cnt")).otherwise(0)
            ).alias("n_novel_bigrams"),
            F.sum(F.col("cnt") * F.col("n_bg")).alias("sum_bigram_freq"),
            F.sum(F.col("cnt") * F.col("n_u")).alias("sum_context_freq"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_novel_bigrams",
            "sum_bigram_freq",
            "sum_context_freq",
            (
                F.col("sum_bigram_freq")
                * F.lit(1.0)
                / F.col("sum_context_freq")
            )
            .cast("decimal(18,9)")
            .cast("double")
            .alias("cond_score"),
        )
    )


# ---- add-k smoothed bigram LM held-out perplexity ----------------------
#
# The next rung of the LM-quality ladder after text_unigram_lm_quality
# (corpus unigram score) and text_bigram_lm_novelty (unsmoothed
# transition mass): TRAIN a smoothed bigram model on the frozen
# hash-split train bucket, then score the HELD-OUT test bucket with
# real log-probability perplexity — the train/serve separation the
# ratio scores above deliberately avoid. Add-k (k = 1/2, Jeffreys)
# rather than Kneser-Ney: the add-k chain is closed-form per bigram
# (no discount/backoff recursion), which keeps the whole fixed-point
# trajectory one SQL text both engines replay.

PPL_K = 0.5          # add-k smoothing constant (exact in binary)
PPL_UNK = "chr(1)"   # OOV sentinel: \x01 can never be a token (tokens
                     # come from split on whitespace of real text)


def _bigram_lm_base() -> str:
    """The CTE scaffolding BOTH bigram-LM rungs share (add-k and
    Kneser-Ney): tokenize + hash-bucket, in-doc bigram explode, train
    bigram counts ``trainbg`` + context totals ``ctx`` + train
    vocabulary/V, and the held-out test multiplicities ``mapped``
    with OOV words mapped to the UNK sentinel."""
    return f"""t AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks,
             {hash60_duck('text')} % 100 AS bucket
      FROM documents
    ), bg AS (
      SELECT doc_id, bucket,
             unnest([toks[i+1] for i in range(len(toks)-1)]) AS w1,
             unnest([toks[i+2] for i in range(len(toks)-1)]) AS w2
      FROM t
    ), trainbg AS (
      SELECT w1, w2, COUNT(*)::BIGINT AS c
      FROM bg WHERE bucket < 90 GROUP BY 1, 2
    ), ctx AS (
      SELECT w1, SUM(c)::BIGINT AS ca FROM trainbg GROUP BY w1
    ), vocab AS (
      SELECT DISTINCT unnest(toks) AS w FROM t WHERE bucket < 90
    ), vsize AS (
      SELECT (COUNT(*) + 1)::BIGINT AS v FROM vocab
    ), tb AS (
      SELECT doc_id, w1, w2, COUNT(*)::BIGINT AS m
      FROM bg WHERE bucket >= 95 GROUP BY 1, 2, 3
    ), mapped AS (
      SELECT tb.doc_id, tb.m,
             CASE WHEN va.w IS NULL THEN {PPL_UNK} ELSE tb.w1 END AS a2,
             CASE WHEN vb.w IS NULL THEN {PPL_UNK} ELSE tb.w2 END AS b2,
             (va.w IS NULL OR vb.w IS NULL) AS oov
      FROM tb
      LEFT JOIN vocab va ON va.w = tb.w1
      LEFT JOIN vocab vb ON vb.w = tb.w2
    )"""


def _bigram_ppl_finish() -> str:
    """The per-doc finish BOTH rungs share, over a ``scored``
    CTE of (doc_id, m, oov, p): ln-pinned decimal sum, then the
    avg/perplexity chains. The average is emitted in INTEGER
    micro-nat units computed ENTIRELY in integer arithmetic — not a
    DECIMAL(18,9) pin and not ROUND over a double: slog is a 6-dp
    decimal, so avg×1e6 = S/n_bigrams is an exact rational (S =
    slog×1e6, a BIGINT) that lands EXACTLY on .5 whenever n is even
    and S ≡ n/2 (mod n) — precisely where double→decimal casts and
    repr-vs-binary ROUND implementations disagree across engines
    (caught by the r13 gate at sf0.1: three docs off by 1e-9).
    Round-half-away-from-zero of S/n as (2·|S| + n) // (2·n) with the
    sign reapplied is bit-identical in any engine."""
    return """agg AS (
      SELECT doc_id,
             SUM(m)::BIGINT AS n_bigrams,
             SUM(CASE WHEN oov THEN m ELSE 0 END)::BIGINT AS n_oov_bigrams,
             SUM(CAST(m * ln(p) AS DECIMAL(18,6))) AS slog
      FROM scored GROUP BY doc_id
    ), micro AS (
      SELECT doc_id, n_bigrams, n_oov_bigrams, slog,
             CAST(slog * 1000000 AS BIGINT) AS s
      FROM agg
    )
    SELECT doc_id, n_bigrams, n_oov_bigrams,
           (CASE WHEN s >= 0
                 THEN (2 * s + n_bigrams) // (2 * n_bigrams)
                 ELSE -((2 * (-s) + n_bigrams) // (2 * n_bigrams))
            END)::BIGINT AS avg_logprob_micro,
           CAST(CAST(exp(-(CAST(slog AS DOUBLE) / n_bigrams))
                AS DECIMAL(18,6)) AS DOUBLE) AS perplexity
    FROM micro
    """


def _bigram_ppl_oracle() -> str:
    """P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V) with V = |train word
    types| + 1 (UNK); held-out tokens outside the train vocabulary map
    to UNK (zero counts → the uniform floor k/(k·V)). Exactness: c,
    c(·), V are exact BIGINTs, k = 0.5 is exact binary, so p is ONE
    correctly-rounded division — identical in both engines; each
    m·ln(p) term is pinned DECIMAL(18,6) BEFORE the per-doc sum (the
    entropy-score ln-pin discipline, textops occurrence-entropy), and
    the avg/perplexity finishes are single chains over that exact
    decimal, pinned DECIMAL(18,9)/(18,6)."""
    return f"""
    WITH {_bigram_lm_base()}, scored AS (
      SELECT doc_id, m, oov,
             (COALESCE(b.c, 0) + {PPL_K})
               / (COALESCE(cx.ca, 0) + {PPL_K} * v) AS p
      FROM mapped
      CROSS JOIN vsize
      LEFT JOIN trainbg b ON b.w1 = mapped.a2 AND b.w2 = mapped.b2
      LEFT JOIN ctx cx ON cx.w1 = mapped.a2
    ), {_bigram_ppl_finish()}"""


def _bigram_lm_frames(spark: SparkSession, sf_dir: str) -> dict:
    """The Spark twin of ``_bigram_lm_base``: the train/test frames
    both bigram-LM rungs score over. ``bg`` (the exploded bigram
    frame) and ``vocab`` are persisted — each feeds two consumers."""
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    t = spread.select(
        "doc_id",
        F.expr(TOKENS_SPARK).alias("toks"),
        (F.expr(hash60_spark("text")) % 100).alias("bucket"),
    )
    bg = t.select(
        "doc_id",
        "bucket",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "bucket", "p.w1", "p.w2")
    bg = bg.persist()  # feeds train counts AND test multiplicities
    trainbg = (
        bg.filter(F.col("bucket") < 90)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    vocab = (
        t.filter(F.col("bucket") < 90)
        .select(F.explode("toks").alias("w"))
        .distinct()
        .persist()
    )
    vsize = vocab.agg((F.count(F.lit(1)) + 1).alias("v"))
    tb = (
        bg.filter(F.col("bucket") >= 95)
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    unk = F.lit("\x01")
    mapped = (
        tb.join(
            vocab.withColumnRenamed("w", "va"),
            F.col("va") == F.col("w1"),
            "left",
        )
        .join(
            vocab.withColumnRenamed("w", "vb"),
            F.col("vb") == F.col("w2"),
            "left",
        )
        .select(
            "doc_id",
            "m",
            F.when(F.col("va").isNull(), unk).otherwise(F.col("w1")).alias("a2"),
            F.when(F.col("vb").isNull(), unk).otherwise(F.col("w2")).alias("b2"),
            (F.col("va").isNull() | F.col("vb").isNull()).alias("oov"),
        )
    )
    return {"trainbg": trainbg, "vsize": vsize, "mapped": mapped}


def _bigram_ppl_emit(scored: DataFrame) -> DataFrame:
    """The Spark twin of ``_bigram_ppl_finish`` over a
    (doc_id, m, oov, p) frame — avg in integer micro-nats (see the
    oracle twin's docstring for why not a DECIMAL(18,9) pin)."""
    agg = scored.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        F.sum(F.when(F.col("oov"), F.col("m")).otherwise(F.lit(0))).alias(
            "n_oov_bigrams"
        ),
        F.sum((F.col("m") * F.log("p")).cast("decimal(18,6)")).alias("slog"),
    )
    micro = agg.withColumn(
        "s", (F.col("slog") * 1000000).cast("bigint")
    )
    return micro.select(
        "doc_id",
        "n_bigrams",
        "n_oov_bigrams",
        F.expr(
            "CAST(CASE WHEN s >= 0"
            " THEN (2 * s + n_bigrams) div (2 * n_bigrams)"
            " ELSE -((2 * (-s) + n_bigrams) div (2 * n_bigrams))"
            " END AS BIGINT)"
        ).alias("avg_logprob_micro"),
        F.exp(-(F.col("slog").cast("double") / F.col("n_bigrams")))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("perplexity"),
    )


@query("text_bigram_addk_perplexity", oracle=_bigram_ppl_oracle())
def text_bigram_addk_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity of an add-k smoothed bigram LM — the
    standard LM-quality rung a curation pipeline runs above the
    unigram screen: train bigram/context counts on the frozen 90/5/5
    content-hash TRAIN bucket (same split as
    ``text_train_val_test_split``), score every TEST-bucket document's
    word transitions under P(w2|w1) = (c+k)/(c(·)+k·V) with OOV words
    mapped to UNK, and report per-doc n_bigrams / OOV mass /
    avg log-prob / perplexity. Gibberish scores near the uniform
    floor k/(k·V); templated text scores near the head transitions —
    and unlike ``text_bigram_lm_novelty`` the score is computed on
    documents the model NEVER saw (the train/serve separation that
    makes it an honest quality screen). See ``_bigram_ppl_oracle``
    for the exactness chain (one correctly-rounded division per
    bigram, ln-pinned decimal sums).

    Scale story (100 TB): ONE tokenize+bigram explode over the corpus
    is immediately reduced — map-side — into the (w1, w2) train
    counts and the per-(doc, w1, w2) test multiplicities (the
    bigram-novelty skeleton); the vocabulary is a distinct over one
    more token explode of the train slice (word TYPES, sublinear by
    Heaps' law — the unigram-LM-train lesson), and every scoring join
    (vocab×2, bigram counts, context counts) is an equi-join on keys
    the reduced frames already carry, sized by the model (types),
    not the corpus. The two-token join shape (a2, b2) is exercised
    only by the two bigram-LM rungs. Zero driver math, zero UDFs."""
    fr = _bigram_lm_frames(spark, sf_dir)
    trainbg, vsize, mapped = fr["trainbg"], fr["vsize"], fr["mapped"]
    ctx = trainbg.groupBy("w1").agg(F.sum("c").alias("ca"))
    scored = (
        mapped.crossJoin(F.broadcast(vsize))
        .join(
            trainbg.select(
                F.col("w1").alias("bg_a"), F.col("w2").alias("bg_b"), "c"
            ),
            (F.col("a2") == F.col("bg_a")) & (F.col("b2") == F.col("bg_b")),
            "left",
        )
        .join(
            ctx.select(F.col("w1").alias("cx_a"), "ca"),
            F.col("a2") == F.col("cx_a"),
            "left",
        )
        .select(
            "doc_id",
            "m",
            "oov",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(PPL_K))
                / (F.coalesce(F.col("ca"), F.lit(0)) + F.lit(PPL_K) * F.col("v"))
            ).alias("p"),
        )
    )
    return _bigram_ppl_emit(scored)


# ---- interpolated Kneser-Ney bigram perplexity --------------------------

PPL_KN_D = 0.75  # absolute discount (Chen & Goodman's fixed-D KN;
                 # exact in binary, so the discounted numerator is an
                 # exact double before its one division)


def _bigram_kn_oracle() -> str:
    """Interpolated Kneser-Ney with fixed discount D and an add-one
    smoothed continuation distribution (the UNK closure held-out
    scoring needs — raw KN assigns zero mass to continuations never
    seen in train, which a log cannot absorb):

        P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1·)
                   + (D · N1+(w1·)/c(w1·)) · Pcont(w2)
        Pcont(w2) = (N1+(·w2) + 1) / (N1+(··) + V)

    with backoff P = Pcont(w2) when w1 has no train continuations
    (OOV contexts AND vocabulary words seen only doc-finally — both
    have c(w1·) = 0, so the model treats them identically).
    Exactness: counts are exact BIGINTs and D = 0.75 is exact binary;
    p is four correctly-rounded IEEE ops in a fixed tree (two
    divisions, one multiply, one add) — bit-identical across engines —
    then the shared ln-pin finish."""
    return f"""
    WITH {_bigram_lm_base()}, fwd AS (
      SELECT w1, SUM(c)::BIGINT AS ca, COUNT(*)::BIGINT AS n1f
      FROM trainbg GROUP BY w1
    ), bwd AS (
      SELECT w2, COUNT(*)::BIGINT AS n1b FROM trainbg GROUP BY w2
    ), nstat AS (
      SELECT COUNT(*)::BIGINT AS nn FROM trainbg
    ), scored AS (
      SELECT doc_id, m, oov,
             CASE WHEN f.ca IS NULL THEN
               (COALESCE(bw.n1b, 0) + 1.0) / (ns.nn + v)
             ELSE
               GREATEST(COALESCE(b.c, 0) - {PPL_KN_D}, 0) / f.ca
               + ({PPL_KN_D} * f.n1f / f.ca)
                 * ((COALESCE(bw.n1b, 0) + 1.0) / (ns.nn + v))
             END AS p
      FROM mapped
      CROSS JOIN vsize
      CROSS JOIN nstat ns
      LEFT JOIN trainbg b ON b.w1 = mapped.a2 AND b.w2 = mapped.b2
      LEFT JOIN fwd f ON f.w1 = mapped.a2
      LEFT JOIN bwd bw ON bw.w2 = mapped.b2
    ), {_bigram_ppl_finish()}"""


@query("text_bigram_kneser_ney_perplexity", oracle=_bigram_kn_oracle())
def text_bigram_kneser_ney_perplexity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Held-out perplexity under interpolated Kneser-Ney — the
    standard n-gram smoothing (Chen & Goodman 1999) a KenLM-style
    curation filter actually ships, one rung above
    ``text_bigram_addk_perplexity``: instead of adding k mass
    everywhere, KN discounts every seen bigram by a fixed D and
    redistributes exactly the discounted mass through the CONTINUATION
    distribution — P_cont(w2) ∝ how many distinct contexts w2 follows,
    the "San Francisco" correction (frequent-but-bound words like
    "francisco" get low continuation mass however high their raw
    count). See ``_bigram_kn_oracle`` for the exact model including
    the add-one UNK closure of the continuation distribution and the
    c(w1·)=0 backoff.

    Scale story: identical skeleton to the add-k rung (shared
    ``_bigram_lm_frames``), plus two more TYPE-sized aggregates over
    the train bigram frame — the forward/backward distinct-neighbor
    counts N1+(w1·)/N1+(·w2) — and one 1-row bigram-type total; every
    scoring join stays an equi-join on model-sized keys. The two
    rungs share one tokenize+explode pass per invocation and their
    perplexities are directly comparable (same split, same UNK
    convention) — the pair IS the smoothing ablation a curation team
    reads."""
    fr = _bigram_lm_frames(spark, sf_dir)
    trainbg, vsize, mapped = fr["trainbg"], fr["vsize"], fr["mapped"]
    fwd = trainbg.groupBy("w1").agg(
        F.sum("c").alias("ca"), F.count(F.lit(1)).alias("n1f")
    )
    bwd = trainbg.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    nstat = trainbg.agg(F.count(F.lit(1)).alias("nn"))
    d = F.lit(PPL_KN_D)
    pcont = (F.coalesce(F.col("n1b"), F.lit(0)) + F.lit(1.0)) / (
        F.col("nn") + F.col("v")
    )
    scored = (
        mapped.crossJoin(F.broadcast(vsize))
        .crossJoin(F.broadcast(nstat))
        .join(
            trainbg.select(
                F.col("w1").alias("bg_a"), F.col("w2").alias("bg_b"), "c"
            ),
            (F.col("a2") == F.col("bg_a")) & (F.col("b2") == F.col("bg_b")),
            "left",
        )
        .join(
            fwd.select(F.col("w1").alias("fw_a"), "ca", "n1f"),
            F.col("a2") == F.col("fw_a"),
            "left",
        )
        .join(
            bwd.select(F.col("w2").alias("bw_b"), "n1b"),
            F.col("b2") == F.col("bw_b"),
            "left",
        )
        .select(
            "doc_id",
            "m",
            "oov",
            F.when(F.col("ca").isNull(), pcont)
            .otherwise(
                F.greatest(
                    F.coalesce(F.col("c"), F.lit(0)) - d, F.lit(0.0)
                )
                / F.col("ca")
                + (d * F.col("n1f") / F.col("ca")) * pcont
            )
            .alias("p"),
        )
    )
    return _bigram_ppl_emit(scored)


# ---- vocabulary coverage curve ----------------------------------------

VOCAB_COVERAGE_KS = (100, 1000, 10000)


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TOKENS_DUCK}) AS w FROM documents
    ), vocab AS (
      SELECT w, COUNT(*)::BIGINT AS freq
      FROM tok WHERE length(w) > 0 GROUP BY w
    ), ranked AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, w ASC) AS rn
      FROM vocab
    ), tot AS (
      SELECT SUM(freq)::BIGINT AS total_occ, COUNT(*)::BIGINT AS vocab_size
      FROM vocab
    )
    SELECT k,
           SUM(CASE WHEN rn <= k THEN freq ELSE 0 END)::BIGINT
             AS top_k_occurrences,
           MIN(total_occ) AS total_occurrences,
           MIN(vocab_size) AS vocab_size,
           (SUM(CASE WHEN rn <= k THEN freq ELSE 0 END) * 1000000
              // MIN(total_occ))::BIGINT AS coverage_micro
    FROM ranked CROSS JOIN tot
    CROSS JOIN (SELECT unnest([{", ".join(str(k) for k in VOCAB_COVERAGE_KS)}]) AS k)
    GROUP BY k
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — what fraction of all token
    occurrences the top-K most frequent words cover, for K in
    {VOCAB_COVERAGE_KS}. The artifact every tokenizer/vocab-size
    decision starts from (Zipf in practice: a few thousand types
    cover most of the stream).

    Scale plan: ONE token-count aggregate builds the (Heaps-small)
    vocab frame, persisted; each K is then a distributed
    TakeOrdered(K) over the vocab — NO single-partition global-rank
    window anywhere (the oracle uses ROW_NUMBER because DuckDB is
    single-node; the Spark plan must not) — followed by a scalar
    aggregate. Tie-break (freq DESC, word ASC) is part of the
    contract so both engines pick identical top-K sets."""
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    vocab = (
        spread.select(F.explode(F.expr(TOKENS_SPARK)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    tot = vocab.agg(
        F.sum("freq").alias("total_occurrences"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    parts = []
    for k in VOCAB_COVERAGE_KS:
        topk = (
            vocab.orderBy(F.col("freq").desc(), F.col("w").asc())
            .limit(k)
            .agg(F.sum("freq").alias("top_k_occurrences"))
            .select(F.lit(k).cast("int").alias("k"), "top_k_occurrences")
        )
        parts.append(topk)
    cover = parts[0]
    for p in parts[1:]:
        cover = cover.unionByName(p)
    return cover.crossJoin(F.broadcast(tot)).select(
        "k",
        "top_k_occurrences",
        "total_occurrences",
        "vocab_size",
        F.expr("top_k_occurrences * 1000000 div total_occurrences").alias(
            "coverage_micro"
        ),
    )


# ---- tokenizer fairness (trained-BPE fertility per language) ----------


def _fairness_oracle() -> str:
    n = N_BPE_MERGES
    with_part = _bpe_oracle().split("\nSELECT 1 AS round")[0]
    return (
        with_part
        + f""",
    word_syms AS (
      SELECT replace(w, ' ', '') AS word,
             len(string_split(w, ' '))::BIGINT AS n_syms
      FROM r{n}
    ),
    occ AS (
      SELECT lang, unnest({TOKENS_DUCK}) AS word FROM documents
    )
    SELECT o.lang,
           COUNT(*)::BIGINT AS n_words,
           SUM(length(o.word))::BIGINT AS n_chars,
           SUM(ws.n_syms)::BIGINT AS n_symbols,
           (SUM(ws.n_syms) * 1000000 // COUNT(*))::BIGINT
             AS symbols_per_word_micro,
           (SUM(ws.n_syms) * 1000000 // SUM(length(o.word)))::BIGINT
             AS symbols_per_char_micro
    FROM occ o JOIN word_syms ws ON ws.word = o.word
    WHERE length(o.word) > 0
    GROUP BY o.lang
    """
    )


@query("text_tokenizer_fairness", oracle=_fairness_oracle())
def text_tokenizer_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fairness report: fertility of the TRAINED BPE merges
    per language — symbols-per-word and symbols-per-char by the
    ground-truth ``lang`` column. The multilingual-pipeline artifact
    that catches a vocabulary trained on one language taxing the
    others (higher fertility = more sequence positions per word =
    higher effective cost for that language).

    Reuses the ONE training loop (``_bpe_trained_words``) and scores
    the corpus exactly like ``text_bpe_segment_stats``, grouped by
    language instead of document — training state iterates over the
    Heaps-small distinct-word frame; the scoring join touches the
    corpus once with the merged vocabulary broadcast."""
    spread, words = _bpe_trained_words(spark, sf_dir)
    word_syms = words.select(
        F.expr("replace(w, ' ', '')").alias("word"),
        F.size(F.expr("split(w, ' ')")).cast("long").alias("n_syms"),
    )
    occ = spread.select(
        "lang", F.explode(F.expr(TOKENS_SPARK)).alias("word")
    ).filter(F.length("word") > 0)
    return (
        occ.join(F.broadcast(word_syms), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_syms").alias("n_symbols"),
        )
        .select(
            "lang",
            "n_words",
            "n_chars",
            "n_symbols",
            F.expr("n_symbols * 1000000 div n_words").alias(
                "symbols_per_word_micro"
            ),
            F.expr("n_symbols * 1000000 div n_chars").alias(
                "symbols_per_char_micro"
            ),
        )
    )


# ---- deterministic uniform sample -------------------------------------

UNIFORM_SAMPLE_K = 200


@query(
    "text_uniform_sample",
    oracle=f"""
    SELECT doc_id, source, h
    FROM (
      SELECT doc_id, source,
             {hash60_duck("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    )
    ORDER BY h ASC, doc_id ASC
    LIMIT {UNIFORM_SAMPLE_K}
    """,
)
def text_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform {UNIFORM_SAMPLE_K}-doc sample without
    replacement: rank every doc by a content-independent 60-bit hash
    of its id and keep the K smallest — the distributed, REPRODUCIBLE
    equivalent of reservoir sampling (same sample on every run, every
    partitioning, every engine; adding documents only perturbs the
    sample by the new docs' hash positions, the property eval-set
    builders rely on).

    Plan: per-row hash projection → TakeOrderedAndProject(K) — the
    distributed top-K that never global-sorts (each partition keeps
    its own K, the driver merges P·K rows). At 100 TB: one scan, no
    shuffle, K·P driver rows. Contrast with ``text_stratified_sample``
    (per-stratum window rank): this one is the unconditioned corpus
    sample."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            F.expr(hash60_spark("CAST(doc_id AS STRING)")).alias("h"),
        )
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .limit(UNIFORM_SAMPLE_K)
    )


# ---- source drift screen (total-variation distance) --------------------


@query(
    "text_source_drift_tvd",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({TOKENS_DUCK}) AS w FROM documents
    ), tok_nz AS (
      SELECT source, w FROM tok WHERE length(w) > 0
    ), sc AS (
      SELECT source, w, COUNT(*)::BIGINT AS c_s FROM tok_nz GROUP BY 1, 2
    ), gc AS (
      SELECT w, COUNT(*)::BIGINT AS c FROM tok_nz GROUP BY w
    ), ns AS (
      SELECT source, SUM(c_s)::BIGINT AS n_s FROM sc GROUP BY source
    ), n AS (
      SELECT SUM(c)::BIGINT AS n FROM gc
    ), terms AS (
      SELECT sc.source,
             SUM(ABS(CAST(sc.c_s AS DECIMAL(38,0)) * n.n
                     - CAST(gc.c AS DECIMAL(38,0)) * ns.n_s)) AS a_num,
             SUM(CAST(gc.c AS DECIMAL(38,0)) * ns.n_s) AS q_present
      FROM sc
      JOIN gc ON gc.w = sc.w
      JOIN ns ON ns.source = sc.source
      CROSS JOIN n
      GROUP BY sc.source
    )
    SELECT t.source,
           ns.n_s AS n_tokens,
           CAST(CAST(
             CAST(t.a_num
                  + (CAST(ns.n_s AS DECIMAL(38,0)) * n.n - t.q_present)
               AS DOUBLE)
             / (2e0 * CAST(CAST(ns.n_s AS DECIMAL(38,0)) * n.n AS DOUBLE))
             AS DECIMAL(18,9)) AS DOUBLE) AS tvd
    FROM terms t
    JOIN ns ON ns.source = t.source
    CROSS JOIN n
    """,
)
def text_source_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen: total-variation distance between
    each source's token distribution and the corpus distribution —
    the mixture-shift detector a curation pipeline runs when a
    crawler or upstream source changes behavior (TVD is the metric
    with an exact finite-sample form; KL/JS need logs and smoothing).

    Exactness: with p=c_s/N_s and q=c/N, the per-token |p−q| terms
    share the constant denominator N_s·N, so the whole sum reduces to
    exact DECIMAL(38,0) integer arithmetic — Σ|c_s·N − c·N_s| over
    the source's tokens plus the absent-token mass N_s·N − Σc·N_s —
    and the only float op is ONE final division of identical exact
    integers (then the house decimal-cast). Both engines agree
    bit-for-bit.

    Plan: two token-count aggregates (per-source and global) joined
    on the token key (Heaps-small frames), per-source reduction, the
    1-row corpus total rides a broadcast. At 100 TB: the token
    explode dominates and is map-side combined; nothing scales worse
    than the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    tok = spread.select(
        "source", F.explode(F.expr(TOKENS_SPARK)).alias("w")
    ).filter(F.length("w") > 0)
    sc = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c_s")).persist()
    gc = sc.groupBy("w").agg(F.sum("c_s").alias("c"))
    ns = sc.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    n = gc.agg(F.sum("c").alias("n"))
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    terms = (
        sc.join(gc, "w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
        .groupBy("source")
        .agg(
            F.sum(F.abs(dec("c_s") * F.col("n") - dec("c") * F.col("n_s"))).alias(
                "a_num"
            ),
            F.sum(dec("c") * F.col("n_s")).alias("q_present"),
        )
    )
    out = (
        terms.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            (
                (
                    F.col("a_num")
                    + (dec("n_s") * F.col("n") - F.col("q_present"))
                ).cast("double")
                / (F.lit(2e0) * (dec("n_s") * F.col("n")).cast("double"))
            )
            .cast("decimal(18,9)")
            .cast("double")
            .alias("tvd"),
        )
    )
    return out


# ---- model-based quality gate (linear classifier inference) -----------

# Published weights of a tiny logistic-regression quality classifier
# (bias, length-saturation, stopword-density, lexical-diversity). The
# DECISION is monotone in the logit, so the gate compares the logit
# directly — no exp()/sigmoid in either engine (transcendental
# last-ulp divergence is the one float hazard the house rules can't
# pin; a linear score avoids it entirely).
# D-suffixed literals: Spark parses bare 1.0 as DECIMAL(2,1) (decimal
# division rounds at Spark's result scale) while DuckDB promotes
# int/decimal to DOUBLE — both sides must run IEEE double end-to-end
# for the logits to agree bit-for-bit before the _dec6 pin.
_LOGREG_SPARK = (
    "-3.0D + 4.0D * least(size(TOKS) / 256.0D, 1.0D)"
    " + 3.0D * (size(filter(TOKS, s -> s IN (STOP))) * 1.0D / size(TOKS))"
    " + 2.0D * (size(array_distinct(TOKS)) * 1.0D / size(TOKS))"
)
_LOGREG_DUCK = (
    "-3.0 + 4.0 * least(len(toks) / 256.0, 1.0)"
    " + 3.0 * (len(list_filter(toks, s -> s IN (STOP))) * 1.0 / len(toks))"
    " + 2.0 * (len(list_distinct(toks)) * 1.0 / len(toks))"
)
LOGREG_GATE = 0.0  # keep docs with logit >= 0 (p >= 0.5)


@query(
    "text_quality_logreg_score",
    oracle=f"""
    WITH t AS (
      SELECT source, {TOKENS_DUCK} AS toks FROM documents
    ), scored AS (
      SELECT source,
             {_dec6(_LOGREG_DUCK.replace("STOP", _sql_list(STOPWORDS)))}
               AS logit
      FROM t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE logit >= {LOGREG_GATE}) AS n_kept,
           CAST(SUM(logit) AS DOUBLE) / COUNT(*) AS avg_logit,
           CAST(MIN(logit) AS DOUBLE) AS min_logit,
           CAST(MAX(logit) AS DOUBLE) AS max_logit
    FROM scored
    GROUP BY source
    """,
)
def text_quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a (frozen) logistic-regression
    classifier scored IN the engine — vectorized linear algebra over
    engine-computed features, the way a production pipeline applies a
    trained fastText/LR quality model to 100 TB without leaving the
    scan. The classifier's decision is monotone in the logit, so the
    keep-gate compares the logit to the bias-adjusted threshold and no
    sigmoid/exp is ever evaluated (transcendentals are the one float
    op the cross-engine exactness rules can't pin; the linear form is
    bit-stable under the house double→DECIMAL(18,6) pattern).

    Plan: scan → per-doc feature fold (whole-stage codegen; TOKENS
    computed once) → partial agg → one shuffle on source. Weights are
    literals in the plan — a model update is a new constant fold, not
    a new join."""
    docs = load_table(spark, sf_dir, "documents")
    expr = _LOGREG_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    scored = docs.select(
        "source", F.expr(TOKENS_SPARK).alias("toks")
    ).select("source", F.expr(expr).cast("decimal(18,6)").alias("logit"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("logit") >= LOGREG_GATE).alias("n_kept"),
        (F.sum("logit").cast("double") / F.count(F.lit(1))).alias(
            "avg_logit"
        ),
        F.min("logit").cast("double").alias("min_logit"),
        F.max("logit").cast("double").alias("max_logit"),
    )


# ---- length vs quality correlation -----------------------------------


@query(
    "text_length_quality_correlation",
    oracle=f"""
    WITH t AS (
      SELECT {TOKENS_DUCK} AS toks FROM documents
    ), xy AS (
      SELECT len(toks)::BIGINT AS x,
             {_dec6(_QUALITY_DUCK.replace("STOP", _sql_list(STOPWORDS)))} AS y
      FROM t
    ), mo AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(x)::BIGINT AS sx, SUM(x * x)::BIGINT AS sxx,
             SUM(y) AS sy, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM xy
    )
    SELECT n,
           CAST(CAST(
             (n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
             / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (n * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS DECIMAL(18,6)) AS DOUBLE) AS pearson_r
    FROM mo
    """,
)
def text_length_quality_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does quality correlate with length? Pearson r between token
    count and the house quality score, from SUFFICIENT STATISTICS
    (n, Σx, Σx², Σy, Σy², Σxy) — the one-pass distributed-correlation
    pattern (same moment trick as the exact OLS operator): integer and
    exact-decimal sums are order-insensitive, and only the final
    r-formula tail runs in IEEE doubles, written identically in both
    dialects and pinned to DECIMAL(18,6). The diagnostic behind every
    'is our quality score just a length proxy?' curation review.

    Plan: one scan, one partial/final aggregate, one-row reshape —
    correlation at 100 TB costs exactly one pass."""
    docs = load_table(spark, sf_dir, "documents")
    q_expr = _QUALITY_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    xy = docs.select(F.expr(TOKENS_SPARK).alias("toks")).select(
        F.size("toks").cast("bigint").alias("x"),
        F.expr(q_expr).cast("decimal(18,6)").alias("y"),
    )
    mo = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    num = n * F.col("sxy").cast("double") - F.col("sx") * F.col("sy").cast(
        "double"
    )
    den = F.sqrt(
        (
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            n * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return mo.select(
        "n",
        (num / den).cast("decimal(18,6)").cast("double").alias("pearson_r"),
    )


# ---- word co-occurrence lift (PMI without the log) ---------------------

COOC_VOCAB_CAP = 64  # keep-list width: candidate pairs bounded V^2/doc


def cooccurrence_candidates(docs, vocab_cap: int = COOC_VOCAB_CAP):
    """Candidate (doc, word_a, word_b) pair frame behind
    ``text_cooccurrence_lift``, exposed for the scale probe: per-doc
    pairs over the top-``vocab_cap`` document-frequency keep-list.
    Candidate volume is bounded by V²·n_docs for fixed V; on a corpus
    whose VOCABULARY grows (more sources), a fixed V dilutes per-source
    coverage (sublinear candidates, shrinking result) — the production
    dial is V ~ source diversity, demonstrated in SCALE.md exactly
    like the IVF CELLS dial. Columns: doc_id, word_a, c_a, word_b,
    c_b (c_* = document frequency from the keep-list)."""
    dw = (
        docs.select(
            "doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("w")
        )
        .distinct()
    )
    dfreq = dw.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    keep = dfreq.orderBy(F.col("c").desc(), F.col("w").asc()).limit(
        vocab_cap
    )
    dwk = dw.join(F.broadcast(keep), "w")
    a = dwk.select(
        "doc_id", F.col("w").alias("word_a"), F.col("c").alias("c_a")
    )
    b = dwk.select(
        "doc_id", F.col("w").alias("word_b"), F.col("c").alias("c_b")
    )
    return a.join(b, "doc_id").filter(F.col("word_a") < F.col("word_b"))


@query(
    "text_cooccurrence_lift",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ),
    dw AS (SELECT DISTINCT doc_id, unnest(toks) AS w FROM t),
    dfreq AS (SELECT w, COUNT(*)::BIGINT AS c FROM dw GROUP BY w),
    keep AS (
      SELECT w, c FROM dfreq ORDER BY c DESC, w LIMIT {COOC_VOCAB_CAP}
    ),
    dwk AS (SELECT dw.doc_id, dw.w, k.c FROM dw JOIN keep k USING (w)),
    pairs AS (
      SELECT a.w AS word_a, b.w AS word_b,
             a.c AS c_a, b.c AS c_b, COUNT(*)::BIGINT AS c_ab
      FROM dwk a JOIN dwk b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY 1, 2, 3, 4
    ),
    tot AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents)
    SELECT word_a, word_b, c_ab,
           CAST(CAST(
             (CAST(n_docs AS DOUBLE) * c_ab)
             / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) AS lift
    FROM pairs, tot
    WHERE c_ab * 10 >= n_docs
    ORDER BY lift DESC, word_a ASC, word_b ASC
    LIMIT 25
    """,
)
def text_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word-pair co-occurrence LIFT at document granularity:
    lift(a,b) = P(a,b) / (P(a)·P(b)) = N·c_ab / (c_a·c_b) over
    document-presence counts — PMI's argument without the log, so the
    score stays an exact integer ratio (libm log10 is not cross-engine
    bit-stable; the monotone transform changes nothing about ranking).
    The collocation/topic-coherence statistic a corpus report runs
    next to the raw bigram counts (``text_top_ngrams``, which is
    ADJACENCY — this is unordered same-document association).

    Plan: tokenize once, distinct (doc, word) pairs, then the
    candidate pair generator is BOUNDED by a top-V document-frequency
    keep-list (V = COOC_VOCAB_CAP, broadcast): pairs per document are
    ≤ V², independent of vocabulary growth — the same
    candidate-bounding discipline as the dedup banding. Support
    filter c_ab ≥ N/10 is expressed integrally (c_ab·10 ≥ N) in both
    dialects. One shuffle for the distinct, one self-join on doc_id
    over keep-list survivors, TakeOrdered top-25."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = (
        cooccurrence_candidates(docs)
        .groupBy("word_a", "word_b", "c_a", "c_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .filter(F.col("c_ab") * 10 >= F.col("n_docs"))
        .select(
            "word_a",
            "word_b",
            "c_ab",
            (
                (F.col("n_docs").cast("double") * F.col("c_ab"))
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
            )
            .cast("decimal(18,6)")
            .cast("double")
            .alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(), F.col("word_a").asc(), F.col("word_b").asc()
        )
        .limit(25)
    )


# ---- BM25 retrieval --------------------------------------------------
#
# A fixed multi-term query ranked with BM25 — the retrieval surface a
# curation pipeline needs for "find training docs about X" triage and
# for contamination lookups driven by eval-set queries. Scoring is the
# standard Robertson formula with k1=1.2, b=0.75, but every factor is
# kept RATIONAL in micro fixed-point (BIGINT `div`), like
# text_distinctive_terms: ln-idf is replaced by the raw idf ratio
# (N - df + 0.5)/(df + 0.5) so both engines agree bit-exactly (libm vs
# JVM ln differ in final ulps and would poison the oracle hash). The
# ranking this produces is idf-monotone, so top-k membership matches
# the ln variant whenever one query term's idf dominates, and is
# deterministic always.

BM25_TERMS = ("broadcast", "shuffle", "vector", "stream")
BM25_TOPK = 15


@query(
    "text_bm25_search",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {TOKENS_DUCK} AS toks FROM documents
    ), d AS (
      SELECT doc_id, source, len(toks) AS dl FROM t
    ), tot AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM d
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      WHERE tok IN ({_sql_list(BM25_TERMS)})
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), contrib AS (
      SELECT tf.doc_id, tf.tok,
             ((2 * (tot.n_docs - df.df) + 1) * 1000000)
               // (2 * df.df + 1) AS idf_micro,
             (tf.tf * 2200000 * 1000000) // (
               tf.tf * 1000000
               + (1200000 * (250000
                   + (750000 * d.dl * tot.n_docs) // tot.total_tokens))
                 // 1000000
             ) AS tfp_micro
      FROM tf
      JOIN df ON df.tok = tf.tok
      JOIN d ON d.doc_id = tf.doc_id
      CROSS JOIN tot
    ), scored AS (
      SELECT doc_id,
             COUNT(*) AS n_terms_hit,
             SUM((idf_micro * tfp_micro) // 1000000)::BIGINT AS score_micro
      FROM contrib GROUP BY doc_id
    ), ranked AS (
      SELECT s.doc_id, d.source, s.n_terms_hit,
             CAST(s.score_micro AS DOUBLE) / 1000000.0 AS bm25,
             ROW_NUMBER() OVER (
               ORDER BY s.score_micro DESC, s.doc_id ASC) AS rnk
      FROM scored s JOIN d ON d.doc_id = s.doc_id
    )
    SELECT * FROM ranked WHERE rnk <= {BM25_TOPK}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query-term set (rational-idf
    variant, micro fixed-point — see block comment above).

    Plan: one tokenize pass; the explode is filtered to the 4 query
    terms BEFORE the (doc_id, tok) partial agg, so the shuffle carries
    only matching postings — the inverted-index access pattern without
    materializing an index. df is a 4-row aggregate OVER the tf frame
    (no second corpus scan) and joins back broadcast; doc lengths join
    on doc_id; corpus totals ride a broadcast 1-row cross join. The
    final top-k is TakeOrderedAndProject over |matching docs| rows.
    At 100 TB the posting shuffle is |docs with a query term| rows,
    not the corpus. BIGINT overflow guard: idf_micro * tfp_micro peaks
    ~7e18 at N=5e6 docs; beyond that pin the product DECIMAL(38,0)
    (ANSI mode errors loudly rather than wrapping, so the dial is
    self-announcing)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = docs.select("doc_id", "source", F.expr(TOKENS_SPARK).alias("toks"))
    d = t.select(
        "doc_id", "source", F.size("toks").cast("long").alias("dl")
    )
    tot = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    tf = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(d.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "((2 * (n_docs - df) + 1) * 1000000L) div (2 * df + 1)"
            ).alias("idf_micro"),
            F.expr(
                "(tf * 2200000L * 1000000L) div ("
                "  tf * 1000000L"
                "  + (1200000L * (250000L"
                "      + (750000L * dl * n_docs) div total_tokens))"
                "    div 1000000L"
                ")"
            ).alias("tfp_micro"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.sum(F.expr("(idf_micro * tfp_micro) div 1000000L"))
        .cast("long")
        .alias("score_micro"),
    )
    # Top-k FIRST via TakeOrderedAndProject (per-partition heaps, no
    # global sort shuffle), then rank the k survivors — the
    # single-partition row_number window only ever sees BM25_TOPK rows.
    topk = (
        scored.join(d.select("doc_id", "source"), "doc_id")
        .orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
    )
    w = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return (
        topk.withColumn("rnk", F.row_number().over(w))
        .select(
            "doc_id",
            "source",
            "n_terms_hit",
            (F.col("score_micro").cast("double") / 1000000.0).alias("bm25"),
            "rnk",
        )
    )


# ---- Zipf power-law fit ----------------------------------------------

ZIPF_TOP_V = 300  # vocabulary prefix the power law is fitted on


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH tf AS (
      SELECT tok, COUNT(*)::BIGINT AS c
      FROM (SELECT unnest({TOKENS_DUCK}) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY tok
    ),
    top AS (
      SELECT tok, c FROM tf ORDER BY c DESC, tok ASC LIMIT {ZIPF_TOP_V}
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS rnk
      FROM top
    ),
    pts AS (
      SELECT CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT)
               AS xm,
             CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)
               AS ym
      FROM ranked
    ),
    s AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(xm)::BIGINT AS sx, SUM(ym)::BIGINT AS sy,
             SUM(xm*ym)::BIGINT AS sxy,
             SUM(xm*xm)::BIGINT AS sxx, SUM(ym*ym)::BIGINT AS syy
      FROM pts
    )
    SELECT n AS n_terms,
           CAST(CAST(
             -(CAST(n*sxy - sx*sy AS DOUBLE)
               / CAST(n*sxx - sx*sx AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) AS zipf_exponent,
           CAST(CAST(
             (CAST(sy AS DOUBLE)
              - CAST(n*sxy - sx*sy AS DOUBLE)
                / CAST(n*sxx - sx*sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 1000000.0
             AS DECIMAL(18,6)) AS DOUBLE) AS intercept_ln,
           CAST(CAST(
             CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
             / (CAST(n*sxx - sx*sx AS DOUBLE)
                * CAST(n*syy - sy*sy AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) AS r2
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the top-{ZIPF_TOP_V} vocabulary: OLS of
    ln(freq) on ln(rank) → the Zipf exponent (natural corpora sit
    near 1), the ln-intercept, and the fit R² — the corpus-health
    screen that flags synthetic/templated text (exponent far from 1,
    R² near 1 = suspiciously clean) and boilerplate-heavy crawls
    before tokens are wasted training on them.

    Exactness: the only floats are two ln's per vocabulary point,
    immediately ROUND-ed to micro fixed-point BIGINTs (ROUND is
    half-away-from-zero on positives in both engines, unlike the
    truncate-vs-round CAST divergence), so all five regression
    moments are exact integers; slope/intercept/R² are fixed double
    expressions over them, pinned DECIMAL(18,6). Plan: one tokenize →
    (tok) partial agg; the top-V is TakeOrderedAndProject; the
    regression runs on {ZIPF_TOP_V} rows with the single-partition
    rank window gated behind the LIMIT (never over the vocabulary)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tf = (
        docs.select(F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = tf.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(
        ZIPF_TOP_V
    )
    ranked = top.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), F.col("tok").asc())
        ),
    )
    pts = ranked.select(
        F.expr(
            "CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("xm"),
        F.expr(
            "CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("ym"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xm").alias("sx"),
        F.sum("ym").alias("sy"),
        F.sum(F.col("xm") * F.col("ym")).alias("sxy"),
        F.sum(F.col("xm") * F.col("xm")).alias("sxx"),
        F.sum(F.col("ym") * F.col("ym")).alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.expr(
            "CAST(CAST(-(CAST(n*sxy - sx*sy AS DOUBLE)"
            " / CAST(n*sxx - sx*sx AS DOUBLE))"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("zipf_exponent"),
        F.expr(
            "CAST(CAST((CAST(sy AS DOUBLE)"
            " - CAST(n*sxy - sx*sy AS DOUBLE)"
            "   / CAST(n*sxx - sx*sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " / CAST(n AS DOUBLE) / 1000000.0"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("intercept_ln"),
        F.expr(
            "CAST(CAST("
            " CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)"
            " / (CAST(n*sxx - sx*sx AS DOUBLE)"
            "    * CAST(n*syy - sy*sy AS DOUBLE))"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("r2"),
    )


# ---- Neyman allocation (stratified sampling design) ------------------

NEYMAN_TOTAL = 1000  # sample size to allocate across source strata


@query(
    "text_neyman_allocation",
    oracle=f"""
    WITH s AS (
      SELECT source,
             COUNT(*)::BIGINT AS n_rows,
             SUM(n_chars)::BIGINT AS sx,
             SUM(n_chars * n_chars)::BIGINT AS sxx
      FROM documents GROUP BY source
    ),
    sd AS (
      SELECT source, n_rows,
             CAST(ROUND(sqrt(
               CAST(n_rows * sxx - sx * sx AS DOUBLE)
               / (CAST(n_rows AS DOUBLE) * (n_rows - 1.0))
             ) * 1000000) AS BIGINT) AS sd_micro
      FROM s WHERE n_rows > 1
    ),
    w AS (
      SELECT source, n_rows, sd_micro,
             n_rows * sd_micro AS wt,
             (SELECT SUM(n_rows * sd_micro) FROM sd) AS tw
      FROM sd
    ),
    base AS (
      SELECT source, n_rows, sd_micro,
             ({NEYMAN_TOTAL} * wt) // tw AS n_base,
             ({NEYMAN_TOTAL} * wt) % tw AS rem
      FROM w
    ),
    lo AS (
      SELECT {NEYMAN_TOTAL} - SUM(n_base) AS leftover FROM base
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               ORDER BY rem DESC, source ASC) AS rr
      FROM base
    )
    SELECT source, n_rows,
           CAST(sd_micro AS DOUBLE) / 1000000.0 AS sd_chars,
           (n_base + CASE WHEN rr <= lo.leftover THEN 1 ELSE 0 END)
             ::BIGINT AS n_alloc
    FROM ranked CROSS JOIN lo
    """,
)
def text_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation across sources:
    n_h ∝ N_h·S_h (stratum size × stratum std-dev of doc length), the
    design that minimizes estimator variance for a fixed labeling/
    eval budget — what a curation team should compute before paying
    for {NEYMAN_TOTAL} human judgments, instead of proportional or
    uniform splits. Integerization is largest-remainder (Hamilton)
    apportionment, so allocations sum EXACTLY to the budget.

    Exactness: per-stratum moments are exact BIGINTs; the one float
    (the std-dev sqrt) is immediately ROUND-ed to micro fixed-point
    (the ``text_zipf_fit`` precedent), so weights, quotas, and
    remainders are all integer arithmetic and the remainder ranking
    is deterministic. Plan: one scan → |sources| rows; every window
    and join after the aggregate runs on the 5-row stratum frame."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    sd = s.filter(F.col("n_rows") > 1).select(
        "source",
        "n_rows",
        F.expr(
            "CAST(ROUND(sqrt("
            " CAST(n_rows * sxx - sx * sx AS DOUBLE)"
            " / (CAST(n_rows AS DOUBLE) * (n_rows - 1.0D))"
            ") * 1000000) AS BIGINT)"
        ).alias("sd_micro"),
    )
    sd = sd.persist()
    tw = sd.agg(
        F.sum(F.col("n_rows") * F.col("sd_micro")).alias("tw")
    )
    base = sd.crossJoin(F.broadcast(tw)).select(
        "source",
        "n_rows",
        "sd_micro",
        F.expr(f"({NEYMAN_TOTAL} * n_rows * sd_micro) div tw").alias(
            "n_base"
        ),
        F.expr(f"({NEYMAN_TOTAL} * n_rows * sd_micro) % tw").alias("rem"),
    )
    base = base.persist()
    lo = base.agg(
        (F.lit(NEYMAN_TOTAL) - F.sum("n_base")).alias("leftover")
    )
    ranked = base.withColumn(
        "rr",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("source").asc())
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(lo))
        .select(
            "source",
            "n_rows",
            (F.col("sd_micro").cast("double") / 1000000.0).alias(
                "sd_chars"
            ),
            F.expr(
                "CAST(n_base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("n_alloc"),
        )
    )


# ---- quality-gate agreement (Cohen's kappa) ----------------------------

# Chance-corrected agreement between the engine's two independent
# keep/drop gates: the frozen logistic-regression model gate
# (logit >= LOGREG_GATE) and the heuristic blend gate
# (quality >= CURATION_QUALITY_MIN). Kappa near 1 means the cheap
# heuristic can stand in for the model at scan time; near 0 means the
# two gates ship different corpora and the choice matters.


def _kappa_final_select() -> str:
    """Fixed-order IEEE chain from the one-row 2×2 contingency —
    identical text on both dialects. po = observed agreement,
    pe = chance agreement from the marginals."""
    po = "(n11 + n00) * 1.0 / n"
    pe = (
        "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
        " * 1.0 / (n * n)"
    )
    return f"""
      SELECT
        n AS n_docs, n11 AS n_both_keep, n10 AS n_model_only,
        n01 AS n_heuristic_only, n00 AS n_both_drop,
        CAST(CAST({po} AS DECIMAL(18,6)) AS DOUBLE) AS po,
        CAST(CAST({pe} AS DECIMAL(18,6)) AS DOUBLE) AS pe,
        CAST(CAST(({po} - {pe}) / (1.0 - ({pe}))
             AS DECIMAL(18,6)) AS DOUBLE) AS kappa
      FROM ct"""


@query(
    "eval_gate_agreement_kappa",
    oracle=f"""
    WITH t AS (
      SELECT {TOKENS_DUCK} AS toks FROM documents
    ), gates AS (
      SELECT
        {_dec6(_LOGREG_DUCK.replace("STOP", _sql_list(STOPWORDS)))}
          >= {LOGREG_GATE} AS keep_model,
        {_dec6(_QUALITY_DUCK.replace("STOP", _sql_list(STOPWORDS)))}
          >= {CURATION_QUALITY_MIN} AS keep_heuristic
      FROM t
    ), ct AS (
      SELECT
        COUNT(*)::BIGINT AS n,
        COUNT(*) FILTER (WHERE keep_model AND keep_heuristic)::BIGINT AS n11,
        COUNT(*) FILTER (WHERE keep_model AND NOT keep_heuristic)::BIGINT AS n10,
        COUNT(*) FILTER (WHERE NOT keep_model AND keep_heuristic)::BIGINT AS n01,
        COUNT(*) FILTER (WHERE NOT keep_model AND NOT keep_heuristic)::BIGINT AS n00
      FROM gates
    )
    {_kappa_final_select()}
    """,
)
def eval_gate_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the two quality gates the engine already
    ships — the frozen logreg model gate (``text_quality_logreg_score``)
    and the heuristic blend gate (``text_curation_pipeline``'s
    threshold) — the rater-agreement readout that decides whether the
    cheap heuristic can replace the model in the scan path.

    Exactness: both gate decisions are the SAME pinned DECIMAL(18,6)
    scores the standalone queries use (shared expression constants, so
    this query cannot drift from them); the 2×2 contingency is exact
    BIGINT counts in one scan; po/pe/kappa are a fixed-order IEEE
    chain over a single row.

    Plan: scan → tokenize once → two constant-folded score expressions
    → one partial+final aggregate of five conditional counts — no
    shuffle wider than one row."""
    docs = load_table(spark, sf_dir, "documents")
    lg = _LOGREG_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    ql = _QUALITY_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    gates = docs.select(F.expr(TOKENS_SPARK).alias("toks")).select(
        (F.expr(lg).cast("decimal(18,6)") >= LOGREG_GATE).alias(
            "keep_model"
        ),
        (F.expr(ql).cast("decimal(18,6)") >= CURATION_QUALITY_MIN).alias(
            "keep_heuristic"
        ),
    )
    ct = gates.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(
            F.col("keep_model") & F.col("keep_heuristic")
        ).alias("n11"),
        F.count_if(
            F.col("keep_model") & ~F.col("keep_heuristic")
        ).alias("n10"),
        F.count_if(
            ~F.col("keep_model") & F.col("keep_heuristic")
        ).alias("n01"),
        F.count_if(
            ~F.col("keep_model") & ~F.col("keep_heuristic")
        ).alias("n00"),
    )
    ct.createOrReplaceTempView("kappa_ct")
    return spark.sql(f"WITH ct AS (SELECT * FROM kappa_ct) {_kappa_final_select()}")


# ---- DSIR-style hashed-ngram importance reweighting ---------------------

DSIR_BUCKETS = 256  # hashed feature space (generalized n-gram buckets)
DSIR_TARGET_LANG = "en"  # the "target distribution" corpus slice


# Doc-level DSIR CTE chain (through `docw`: doc_id, source, logw) —
# shared by the per-source rollup below and the composed curation
# report.
_DSIR_DOCW_CTE = f"""
    WITH t AS (
      SELECT doc_id, source, lang, {TOKENS_DUCK} AS toks FROM documents
    ), occ0 AS (
      SELECT doc_id, source, lang, unnest(toks) AS w FROM t
    ), occ AS (
      SELECT doc_id, source, lang,
             {hash60_duck("w")} % {DSIR_BUCKETS} AS b
      FROM occ0 WHERE length(w) > 0
    ), db AS (
      SELECT doc_id, source, b, COUNT(*)::BIGINT AS cnt
      FROM occ GROUP BY 1, 2, 3
    ), raw AS (
      SELECT b, COUNT(*)::BIGINT AS cr FROM occ GROUP BY b
    ), tgt AS (
      SELECT b, COUNT(*)::BIGINT AS ct FROM occ
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
    ), tots AS (
      SELECT (SELECT COUNT(*) FROM occ)::BIGINT AS tr,
             (SELECT COUNT(*) FROM occ
              WHERE lang = '{DSIR_TARGET_LANG}')::BIGINT AS tt
    ), lr AS (
      SELECT raw.b,
             CAST(ln(
               CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
                 * (tr + {DSIR_BUCKETS})
               / (CAST(raw.cr + 1 AS DOUBLE) * (tt + {DSIR_BUCKETS}))
             ) AS DECIMAL(18,9)) AS lw
      FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tots
    ), docw AS (
      SELECT doc_id, source,
             SUM(CAST(cnt AS DECIMAL(18,0)) * lw) AS logw
      FROM db JOIN lr USING (b) GROUP BY 1, 2
    )"""


def _dsir_docw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection via hashed-feature importance
    resampling (Xie et al., "Data Selection for Language Models via
    Importance Resampling", NeurIPS'23 — public paper): train two
    bag-of-hashed-ngram models — the TARGET distribution (here the
    '{en}' slice, standing in for a high-quality reference corpus)
    and the RAW distribution (everything) — and score each document
    with its log importance weight Σ_b count_b · ln(p̂_t[b]/p̂_r[b])
    under add-1 smoothing over the hashed buckets. Positive weight =
    looks more like the target than the raw pool = keep candidate.
    Readout: per-source doc counts, how many docs each source would
    contribute to an importance-selected corpus, and the mean log
    weight — the "which sources resemble the target" planning table.

    Exactness: bucket counts are exact integers; each bucket's log
    ratio is ONE fixed IEEE chain over exact ints, ln'd once, pinned
    DECIMAL(18,9) (the ``users_kaplan_meier`` ln-term precedent); the
    per-doc weight is an exact DECIMAL dot product of BIGINT counts
    with those pinned terms (order-insensitive); the per-source mean
    is one double division pinned DECIMAL(18,9).

    Plan & scale: one token explode reduced immediately by the
    (doc, bucket) partial aggregate; the two distribution models are
    {DSIR_BUCKETS}-row aggregates of that frame; the log-ratio map is a
    {DSIR_BUCKETS}-row BROADCAST join back onto the doc-bucket frame; the
    final rollups shuffle on doc then source. No driver math, no
    per-row Python — at 100 TB the only corpus-sized exchanges are
    the two hash aggregates the scoring needs anyway."""
    docs = load_table(spark, sf_dir, "documents")
    occ = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.explode(F.expr(TOKENS_SPARK)).alias("w"),
        )
        .filter(F.length("w") > 0)
        .select(
            "doc_id",
            "source",
            "lang",
            F.expr(f"{hash60_spark('w')} % {DSIR_BUCKETS}").alias("b"),
        )
    )
    occ = occ.persist()
    db = occ.groupBy("doc_id", "source", "b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    raw = occ.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        occ.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tots = occ.agg(
        F.count(F.lit(1)).alias("tr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("tt"),
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.expr(
                f"CAST(ln("
                f" CAST(COALESCE(ct, 0) + 1 AS DOUBLE)"
                f"   * (tr + {DSIR_BUCKETS})"
                f" / (CAST(cr + 1 AS DOUBLE) * (tt + {DSIR_BUCKETS}))"
                f") AS DECIMAL(18,9))"
            ).alias("lw"),
        )
    )
    docw = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("cnt").cast("decimal(18,0)") * F.col("lw")).alias(
                "logw"
            )
        )
    )
    return docw


@query(
    "text_dsir_importance_weights",
    oracle=f"""{_DSIR_DOCW_CTE}
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN logw > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_selected,
           CAST(CAST(
             CAST(SUM(logw) AS DOUBLE) / COUNT(*)
             AS DECIMAL(18,9)) AS DOUBLE) AS mean_log_weight
    FROM docw GROUP BY source
    """,
)
def text_dsir_importance_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source rollup of the doc-level DSIR log importance weights
    (see ``_dsir_docw`` for the full method + scale story): doc
    counts, how many docs each source contributes to an
    importance-selected corpus, and the mean log weight."""
    return _dsir_docw(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("logw") > 0, 1).otherwise(0)).alias(
            "n_selected"
        ),
        F.expr(
            "CAST(CAST(CAST(SUM(logw) AS DOUBLE) / COUNT(*)"
            " AS DECIMAL(18,9)) AS DOUBLE)"
        ).alias("mean_log_weight"),
    )


# ---- CCNet-style per-language quality buckets ---------------------------

# The bucket rule, shared verbatim by both dialects: ascending LM
# score (ties broken by doc_id) → first third = tail (worst), middle
# third = middle, top third = head. Integral comparisons only.
_CCNET_BUCKET_CASE = """CASE WHEN rn * 3 <= n THEN 'tail'
           WHEN rn * 3 <= 2 * n THEN 'middle'
           ELSE 'head' END"""

from .registry import ORACLES as _ORACLES  # noqa: E402

@query(
    "text_ccnet_quality_buckets",
    oracle=f"""
    WITH lm AS ({_ORACLES["text_unigram_lm_quality"]}),
    d AS (
      SELECT lm.doc_id, lm.lm_score, documents.lang
      FROM lm JOIN documents USING (doc_id)
    ),
    r AS (
      SELECT lang, lm_score,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY lm_score, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM d
    )
    SELECT lang,
           {_CCNET_BUCKET_CASE} AS bucket,
           COUNT(*)::BIGINT AS n_docs,
           CAST(CAST(
             CAST(SUM(CAST(lm_score AS DECIMAL(18,9))) AS DOUBLE)
               / COUNT(*)
             AS DECIMAL(18,9)) AS DOUBLE) AS mean_lm_score,
           MIN(lm_score) AS min_lm_score,
           MAX(lm_score) AS max_lm_score
    FROM r GROUP BY 1, 2
    """,
)
def text_ccnet_quality_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style per-language quality bucketing (Wenzek et al.,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data", LREC'20 — public paper): score every document with
    the corpus-trained LM (``text_unigram_lm_quality``'s exact
    unigram score standing in for KenLM perplexity), then split EACH
    LANGUAGE into head/middle/tail terciles — the partition CCNet
    publishes and trainers mix from. Bucketing per language matters:
    a global cut would put all of a low-resource language in the
    tail just because its unigram mass is thinner.

    Determinism: tercile boundaries are rank-based with doc_id
    tiebreak — integral comparisons (rn·3 vs n), no percentile
    interpolation — so both engines bucket identically even if
    scores tie. Bucket means sum the already-pinned scores as exact
    DECIMAL(18,9); min/max are order-insensitive picks of
    bit-identical doubles.

    Plan & scale: reuses the LM operator's two-pass plan, then ranks
    within language. The rank here is a per-language window — fine
    while languages are few and balanced, but one mega-language at
    100 TB would funnel through one task; the scale path is the
    grouped range-exchange prefix (``_range_prefix(group_cols=
    ['lang'])`` in stattests.py) exactly as ``stats_ks_source_drift``
    ranks per source. Kept as the window form here because the
    grouped-prefix machinery needs the (score, doc_id) frame
    pre-aggregated, which the LM output already is — swapping in the
    prefix is a one-line change documented for the cluster profile."""
    lm = text_unigram_lm_quality(spark, sf_dir).select(
        "doc_id", "lm_score"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    d = lm.join(docs, "doc_id")
    w = Window.partitionBy("lang").orderBy("lm_score", "doc_id")
    r = d.select(
        "lang",
        "lm_score",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("lang"))
        .alias("n"),
    )
    return r.groupBy(
        "lang", F.expr(_CCNET_BUCKET_CASE).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            "CAST(CAST(CAST(SUM(CAST(lm_score AS DECIMAL(18,9)))"
            " AS DOUBLE) / COUNT(*) AS DECIMAL(18,9)) AS DOUBLE)"
        ).alias("mean_lm_score"),
        F.min("lm_score").alias("min_lm_score"),
        F.max("lm_score").alias("max_lm_score"),
    )


# ---- deterministic weighted sample (Efraimidis-Spirakis) -----------------

WEIGHTED_SAMPLE_K = 200
_TWO_POW_60 = 1152921504606846976  # hash60 range


def _es_key(dialect: str) -> str:
    """The Efraimidis–Spirakis exponential key −ln(u)/w as one fixed
    IEEE chain: u = (hash60(doc_id)+1)/2^60 ∈ (0,1], w = n_chars.
    ln(u) is pinned DECIMAL(18,9) before the division (a final-ulp
    libm/JVM ln disagreement at the 1e-16 scale cannot survive the
    1e-9 rounding), the key itself DECIMAL(18,12). The weight is
    GREATEST(n_chars, 1): an empty doc must not produce a NULL key
    (÷0 → NULL sorts FIRST in Spark ASC but LAST in DuckDB, a silent
    cross-engine divergence) — clamping to 1 keeps the key finite
    and identical in both dialects."""
    h = (
        hash60_spark("CAST(doc_id AS STRING)")
        if dialect == "spark"
        else hash60_duck("CAST(doc_id AS VARCHAR)")
    )
    return (
        f"CAST(-CAST(CAST(ln(CAST({h} + 1 AS DOUBLE)"
        f" / CAST({_TWO_POW_60} AS DOUBLE)) AS DECIMAL(18,9))"
        f" AS DOUBLE) / GREATEST(n_chars, 1) AS DECIMAL(18,12))"
    )


@query(
    "text_weighted_sample",
    oracle=f"""
    SELECT doc_id, source, n_chars, CAST(es_key AS DOUBLE) AS es_key
    FROM (
      SELECT doc_id, source, n_chars,
             {_es_key("duck")} AS es_key
      FROM documents
    )
    ORDER BY es_key ASC, doc_id ASC
    LIMIT {WEIGHTED_SAMPLE_K}
    """,
)
def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LENGTH-WEIGHTED sample without replacement —
    Efraimidis–Spirakis exponential keys (Efraimidis & Spirakis,
    IPL'06, the weighted-reservoir classic): each doc draws
    u ∈ (0,1] from a content-independent hash of its id and is ranked
    by −ln(u)/w with w = n_chars; the K smallest keys ARE a weighted
    sample without replacement (longer docs proportionally likelier —
    the token-budget-aware sibling of ``text_uniform_sample``, for
    eval sets that should reflect token mass rather than doc count).

    Reproducible by construction: same hash → same sample on every
    run, engine, and partitioning; adding docs perturbs the sample
    only by the newcomers' own keys — the property that makes the
    sample auditable (the uniform-sample contract, now weighted).

    Determinism across engines: ln is the only libm call; its input
    is a correctly-rounded double of exact ints (identical bits both
    sides) and its output is pinned DECIMAL(18,9) before the one
    further division, so a final-ulp ln disagreement is rounded away;
    ties (astronomically unlikely at 12 decimals) break on doc_id in
    both dialects.

    Plan: per-row key projection → TakeOrderedAndProject(K) — one
    scan, no shuffle, K·P driver rows at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.expr(_es_key("spark")).cast("double").alias("es_key"),
        )
        .orderBy(F.col("es_key").asc(), F.col("doc_id").asc())
        .limit(WEIGHTED_SAMPLE_K)
    )


# ---- Gopher quality-rule gate --------------------------------------------

_GOPHER_STOPS = "'the','and','of','to','a','in','is','that'"


# Doc-level Gopher rule-flag CTE chain (through `r`: doc_id, source,
# five violation flags) — shared by the rollup below and the composed
# curation report.
_GOPHER_DOC_CTE = f"""
    WITH t AS (
      SELECT doc_id, source, text, {TOKENS_DUCK} AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, source,
             len(list_filter(toks, w -> length(w) > 0)) AS words,
             list_sum(list_transform(toks, w -> length(w))) AS sum_len,
             len(list_filter(toks,
                 w -> regexp_matches(w, '[a-z]'))) AS alpha_words,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) // 3
               AS symbols,
             len(list_filter([{_GOPHER_STOPS}],
                 s -> list_contains(toks, s))) AS stops
      FROM t
    ), r AS (
      SELECT doc_id, source,
             CASE WHEN words >= 50 AND words <= 100000
                  THEN 0 ELSE 1 END AS f_wc,
             CASE WHEN words > 0 AND sum_len >= 3 * words
                       AND sum_len <= 10 * words
                  THEN 0 ELSE 1 END AS f_mwl,
             CASE WHEN symbols * 10 <= words THEN 0 ELSE 1 END AS f_sym,
             CASE WHEN alpha_words * 10 >= words * 8
                  THEN 0 ELSE 1 END AS f_alpha,
             CASE WHEN stops >= 2 THEN 0 ELSE 1 END AS f_stop
      FROM m
    )"""


@query(
    "text_gopher_quality_rules",
    oracle=f"""{_GOPHER_DOC_CTE}
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN f_wc + f_mwl + f_sym + f_alpha + f_stop = 0
                    THEN 1 ELSE 0 END)::BIGINT AS n_pass_all,
           SUM(f_wc)::BIGINT AS n_fail_word_count,
           SUM(f_mwl)::BIGINT AS n_fail_mean_word_len,
           SUM(f_sym)::BIGINT AS n_fail_symbol_ratio,
           SUM(f_alpha)::BIGINT AS n_fail_alpha_ratio,
           SUM(f_stop)::BIGINT AS n_fail_stopwords
    FROM r GROUP BY source
    """,
)
def text_gopher_quality_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gopher rule-based quality gate (Rae et al., "Scaling Language
    Models: ... Gopher", 2021, Appendix A — the public rule set
    MassiveWeb used): per document, the five core repetition-free
    rules — word count in [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio (# and ellipsis) ≤ 0.1, ≥80% of words
    contain an alphabetic character, ≥2 distinct stop words — rolled
    up per source as pass/violation counts, the pre-training filter
    report run before any model-based scoring
    (``text_quality_logreg_score``) is spent on hopeless docs.

    Exactness: every rule is an INTEGER comparison (ratios are
    cross-multiplied — alpha_words·10 ≥ words·8 — never floats), so
    both engines agree bit-for-bit with no pinning at all.

    Plan: one scan; per-doc token statistics fold INSIDE the array
    expressions (JVM-side higher-order functions — no explode, no
    per-token shuffle; the whole rule block is one codegen
    projection), then a 20-group hash aggregate. The explode-free
    form is the 100 TB design: token counting via lambda keeps the
    row count at |docs|, not |tokens|."""
    r = _gopher_doc_flags(spark, sf_dir)
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                F.col("f_wc")
                + F.col("f_mwl")
                + F.col("f_sym")
                + F.col("f_alpha")
                + F.col("f_stop")
                == 0,
                1,
            ).otherwise(0)
        ).alias("n_pass_all"),
        F.sum("f_wc").alias("n_fail_word_count"),
        F.sum("f_mwl").alias("n_fail_mean_word_len"),
        F.sum("f_sym").alias("n_fail_symbol_ratio"),
        F.sum("f_alpha").alias("n_fail_alpha_ratio"),
        F.sum("f_stop").alias("n_fail_stopwords"),
    )


def _gopher_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level Gopher rule flags (doc_id, source, f_wc..f_stop) —
    the shared frame behind the rollup and the curation report."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", "text", F.expr(TOKENS_SPARK).alias("toks")
    )
    m = t.select(
        "doc_id",
        "source",
        F.expr(
            "size(filter(toks, w -> length(w) > 0))"
        ).alias("words"),
        F.expr(
            "aggregate(toks, 0L, (a, w) -> a + length(w))"
        ).alias("sum_len"),
        F.expr(
            "size(filter(toks, w -> w rlike '[a-z]'))"
        ).alias("alpha_words"),
        F.expr(
            "(length(text) - length(replace(text, '#', '')))"
            " + CAST((length(text) - length(replace(text, '...', '')))"
            " / 3 AS INT)"
        ).alias("symbols"),
        F.expr(
            f"size(filter(array({_GOPHER_STOPS}),"
            " s -> array_contains(toks, s)))"
        ).alias("stops"),
    )
    return m.select(
        "doc_id",
        "source",
        F.when(
            (F.col("words") >= 50) & (F.col("words") <= 100000), 0
        )
        .otherwise(1)
        .alias("f_wc"),
        F.when(
            (F.col("words") > 0)
            & (F.col("sum_len") >= 3 * F.col("words"))
            & (F.col("sum_len") <= 10 * F.col("words")),
            0,
        )
        .otherwise(1)
        .alias("f_mwl"),
        F.when(F.col("symbols") * 10 <= F.col("words"), 0)
        .otherwise(1)
        .alias("f_sym"),
        F.when(F.col("alpha_words") * 10 >= F.col("words") * 8, 0)
        .otherwise(1)
        .alias("f_alpha"),
        F.when(F.col("stops") >= 2, 0).otherwise(1).alias("f_stop"),
    )


# ---- composed curation decision report -----------------------------------

# The per-document outcome of the three production text screens as
# ONE reusable CTE chain ending in ``verdict (doc_id, source,
# pass_gopher, pass_quality, pass_dsir)`` — shared by
# ``text_curation_report`` and the cross-modal paired report
# (operators/multimodal.crossmodal_paired_curation) so the two can
# never drift.
_CURATION_VERDICT_CTES = f"""{_GOPHER_DOC_CTE},
    g AS (
      SELECT doc_id, source,
             CASE WHEN f_wc + f_mwl + f_sym + f_alpha + f_stop = 0
                  THEN 1 ELSE 0 END AS pass_gopher
      FROM r
    ),
    lm AS ({_ORACLES["text_unigram_lm_quality"]}),
    rk AS (
      SELECT lm.doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY documents.lang
               ORDER BY lm.lm_score, lm.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY documents.lang) AS n
      FROM lm JOIN documents USING (doc_id)
    ),
    q AS (
      SELECT doc_id,
             CASE WHEN rn * 3 <= n THEN 0 ELSE 1 END AS pass_quality
      FROM rk
    ),
    dsir AS (
      SELECT doc_id, logw
      FROM ({_DSIR_DOCW_CTE} SELECT doc_id, logw FROM docw)
    ),
    verdict AS (
      SELECT g.doc_id,
             g.source,
             g.pass_gopher,
             COALESCE(q.pass_quality, 0) AS pass_quality,
             CASE WHEN dsir.logw > 0 THEN 1 ELSE 0 END AS pass_dsir
      FROM g
      LEFT JOIN q ON q.doc_id = g.doc_id
      LEFT JOIN dsir ON dsir.doc_id = g.doc_id
    )"""


@query(
    "text_curation_report",
    oracle=f"""{_CURATION_VERDICT_CTES}
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(pass_gopher)::BIGINT AS n_pass_gopher,
           SUM(pass_quality)::BIGINT AS n_pass_quality,
           SUM(pass_dsir)::BIGINT AS n_pass_dsir,
           SUM(pass_gopher * pass_quality * pass_dsir)::BIGINT
             AS n_keep,
           CAST(CAST(
             CAST(SUM(pass_gopher * pass_quality * pass_dsir)
                  AS DOUBLE) / COUNT(*)
             AS DECIMAL(18,9)) AS DOUBLE) AS keep_rate
    FROM verdict GROUP BY source
    """,
)
def text_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation DECISION table — the text twin of
    ``dedup_pipeline_e2e``: every document runs all three production
    screens — the Gopher rule gate (``_gopher_doc_flags``), the CCNet
    per-language LM terciles (keep = middle/head, drop = tail), and
    DSIR importance selection (keep = positive log weight) — and the
    report shows, per source, how many docs survive each screen and
    the intersection keep rate a training-data run would actually
    apply. Sources whose keep rate collapses under one screen but not
    the others are exactly the mixtures worth re-weighting.

    Composition reuses the verified doc-level frames (gopher flags,
    LM scores, DSIR weights) unchanged — no re-implementation, so
    this report cannot drift from the standalone operators; docs too
    short to score (no tokens) fail the model screens by COALESCE
    convention in both dialects.

    Plan & scale: one documents scan feeds the gopher flags; the LM
    and DSIR screens share the exploded-token aggregates their
    standalone operators use; the three doc-level frames join on
    doc_id (co-partitioned hash joins) into a 20-group rollup.
    Everything partial-aggregates; nothing is driver-bound."""
    verdict = curation_doc_verdicts(spark, sf_dir)
    return verdict.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pass_gopher").alias("n_pass_gopher"),
        F.sum("pass_quality").alias("n_pass_quality"),
        F.sum("pass_dsir").alias("n_pass_dsir"),
        F.sum(
            F.col("pass_gopher")
            * F.col("pass_quality")
            * F.col("pass_dsir")
        ).alias("n_keep"),
        F.expr(
            "CAST(CAST(CAST(SUM(pass_gopher * pass_quality * pass_dsir)"
            " AS DOUBLE) / COUNT(*) AS DECIMAL(18,9)) AS DOUBLE)"
        ).alias("keep_rate"),
    )


def curation_doc_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, pass_gopher, pass_quality, pass_dsir) — the
    per-document outcome of the three production text screens, the
    Spark twin of ``_CURATION_VERDICT_CTES``. Shared by
    ``text_curation_report`` and the cross-modal paired report so
    their text-keep decisions cannot drift."""
    gop = _gopher_doc_flags(spark, sf_dir).select(
        "doc_id",
        "source",
        F.when(
            F.col("f_wc")
            + F.col("f_mwl")
            + F.col("f_sym")
            + F.col("f_alpha")
            + F.col("f_stop")
            == 0,
            1,
        )
        .otherwise(0)
        .alias("pass_gopher"),
    )
    lm = text_unigram_lm_quality(spark, sf_dir).select(
        "doc_id", "lm_score"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    w = Window.partitionBy("lang").orderBy("lm_score", "doc_id")
    q = (
        lm.join(docs, "doc_id")
        .select(
            "doc_id",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("lang"))
            .alias("n"),
        )
        .select(
            "doc_id",
            F.when(F.col("rn") * 3 <= F.col("n"), 0)
            .otherwise(1)
            .alias("pass_quality"),
        )
    )
    dsir = _dsir_docw(spark, sf_dir).select("doc_id", "logw")
    return (
        gop.join(q, "doc_id", "left")
        .join(dsir, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "pass_gopher",
            F.coalesce("pass_quality", F.lit(0)).alias("pass_quality"),
            F.when(F.col("logw") > 0, 1).otherwise(0).alias("pass_dsir"),
        )
    )


# ---- per-source vocabulary overlap matrix ---------------------------------

VOCAB_OVERLAP_K = 200


@query(
    "text_vocab_overlap_sources",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({TOKENS_DUCK}) AS w FROM documents
    ),
    vocab AS (
      SELECT source, w, COUNT(*)::BIGINT AS freq
      FROM tok WHERE length(w) > 0 GROUP BY 1, 2
    ),
    topk AS (
      SELECT source, w FROM (
        SELECT source, w,
               ROW_NUMBER() OVER (
                 PARTITION BY source ORDER BY freq DESC, w ASC
               ) AS rn
        FROM vocab
      ) WHERE rn <= {VOCAB_OVERLAP_K}
    ),
    sizes AS (
      SELECT source, COUNT(*)::BIGINT AS k_sz FROM topk GROUP BY 1
    ),
    common AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*)::BIGINT AS n_common
      FROM topk a JOIN topk b
        ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.k_sz AS k_a, sb.k_sz AS k_b,
           COALESCE(c.n_common, 0)::BIGINT AS n_common,
           CAST(CAST(
             CAST(COALESCE(c.n_common, 0) AS DOUBLE)
               / (sa.k_sz + sb.k_sz - COALESCE(c.n_common, 0))
             AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
    FROM sizes sa
    JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN common c
      ON c.source_a = sa.source AND c.source_b = sb.source
    """,
)
def text_vocab_overlap_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise lexical-style similarity of SOURCES: Jaccard overlap
    of each source pair's top-200 vocabularies (house tokenizer,
    tie-break freq DESC then word ASC so both engines pick identical
    sets). The corpus-mixing diagnostic the doc-level ladder doesn't
    give: ``dedup_source_overlap_matrix`` says which sources share
    literal DOCUMENTS; this says which share a REGISTER (high vocab
    overlap with no shared docs = same domain from different crawls —
    exactly what domain-mixture weighting needs to know), and its
    complement flags the source whose vocabulary is alien (wrong
    language, boilerplate, spam). All C(20,2)=190 pairs are emitted,
    zero-overlap included — an absent pair reads as "not measured",
    a 0.0 reads as "measured, disjoint".

    Plan: one tokenize scan → (source, word) hash agg; the top-K
    rank window partitions BY SOURCE over the Heaps-small per-source
    vocab (never single-partition); the word-keyed self-join runs on
    20·K rows; the 20-row size frame broadcast-joins the 190-pair
    finish."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            "source", F.explode(F.expr(TOKENS_SPARK)).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wsrc = Window.partitionBy("source").orderBy(
        F.col("freq").desc(), F.col("w").asc()
    )
    topk = (
        vocab.withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= VOCAB_OVERLAP_K)
        .select("source", "w")
        .persist()
    )
    sizes = topk.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_sz")
    )
    common = (
        topk.alias("a")
        .join(
            topk.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("ca"),
            F.col("b.source").alias("cb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("k_sz").alias("k_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("k_sz").alias("k_b")
    )
    return (
        sa.join(F.broadcast(sb), F.col("source_a") < F.col("source_b"))
        .join(
            F.broadcast(common),
            (F.col("ca") == F.col("source_a"))
            & (F.col("cb") == F.col("source_b")),
            "left",
        )
        .select(
            "source_a",
            "source_b",
            "k_a",
            "k_b",
            F.coalesce(F.col("n_common"), F.lit(0))
            .cast("bigint")
            .alias("n_common"),
            F.expr(
                "CAST(CAST("
                " CAST(COALESCE(n_common, 0) AS DOUBLE)"
                " / (k_a + k_b - COALESCE(n_common, 0))"
                " AS DECIMAL(18,6)) AS DOUBLE)"
            ).alias("jaccard"),
        )
    )


# ---- language-ID per-class precision/recall/F1 -----------------------------


def _langid_prf_sql(conf_src: str, bigint: str) -> str:
    """Shared PRF finish over a (lang, predicted_lang, n_docs)
    confusion frame: per declared class, tp / fp / fn from row and
    column marginals; P/R/F1 are single divisions of exact counts,
    each pinned DECIMAL(18,6). F1 uses the tp-form
    2tp/(2tp+fp+fn) — no P·R/(P+R) float compounding."""
    return f"""
    WITH conf AS ({conf_src}),
    row_m AS (
      SELECT lang,
             CAST(SUM(n_docs) AS {bigint}) AS n_class,
             CAST(SUM(CASE WHEN predicted_lang = lang
                      THEN n_docs ELSE 0 END) AS {bigint}) AS tp
      FROM conf GROUP BY lang
    ),
    col_m AS (
      SELECT predicted_lang AS lang,
             CAST(SUM(n_docs) AS {bigint}) AS n_pred
      FROM conf GROUP BY predicted_lang
    )
    SELECT r.lang,
           r.n_class,
           COALESCE(c.n_pred, 0) AS n_predicted,
           r.tp,
           COALESCE(c.n_pred, 0) - r.tp AS fp,
           r.n_class - r.tp AS fn,
           CAST(CAST(CASE WHEN COALESCE(c.n_pred, 0) = 0
                THEN CAST(0 AS DOUBLE)
                ELSE CAST(r.tp AS DOUBLE) / c.n_pred END
                AS DECIMAL(18,6)) AS DOUBLE) AS precision_,
           CAST(CAST(CAST(r.tp AS DOUBLE) / r.n_class
                AS DECIMAL(18,6)) AS DOUBLE) AS recall_,
           CAST(CAST(
             CAST(2 * r.tp AS DOUBLE)
             / (2 * r.tp + (COALESCE(c.n_pred, 0) - r.tp)
                + (r.n_class - r.tp))
             AS DECIMAL(18,6)) AS DOUBLE) AS f1
    FROM row_m r LEFT JOIN col_m c ON c.lang = r.lang
    """


@query(
    "eval_langid_prf",
    oracle=_langid_prf_sql(
        f"""
      SELECT lang,
             {_lang_case({lg: _marker_count("toks", lg, "duck") for lg in LANG_MARKERS},
                         CJK_COUNT_DUCK)} AS predicted_lang,
             COUNT(*)::BIGINT AS n_docs
      FROM (SELECT lang, {TOKENS_DUCK} AS toks, text FROM documents)
      GROUP BY 1, 2
    """,
        "BIGINT",
    ),
)
def eval_langid_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the marker-token language
    detector against the declared label — the classifier REPORT CARD
    on top of ``text_language_id``'s raw confusion rollup (which
    says who got confused with whom; this says which class's gate to
    distrust) and the per-class complement of
    ``eval_auc_language_detector``'s single threshold-free number.
    F1 is computed in the 2tp/(2tp+fp+fn) form so no float ratio
    ever feeds another division. Classes with zero predictions
    report precision 0 by convention (stated here, identical both
    engines).

    Plan: one tokenize scan → 25-cell confusion aggregate; marginals
    and PRF run on that tiny frame. The scan is the whole cost."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    counted = docs.select(
        "lang", "text", F.expr(TOKENS_SPARK).alias("toks")
    ).select(
        "lang",
        *[
            F.expr(_marker_count("toks", lg, "spark")).alias(f"c_{lg}")
            for lg in LANG_MARKERS
        ],
        F.expr(CJK_COUNT_SPARK).alias("c_cjk"),
    )
    pred = _lang_case({lg: f"c_{lg}" for lg in LANG_MARKERS}, "c_cjk")
    conf = (
        counted.select("lang", F.expr(pred).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    conf.createOrReplaceTempView("langid_prf_conf")
    return spark.sql(
        _langid_prf_sql(
            "SELECT lang, predicted_lang, n_docs FROM langid_prf_conf",
            "BIGINT",
        )
    )


# ---- gate disagreement (McNemar's test) -------------------------------------


def _mcnemar_final_select() -> str:
    """Fixed chain from the discordant cells: χ² = (b−c)²/(b+c),
    exact integers until one double division, pinned. No continuity
    correction (stated convention, identical both dialects)."""
    return """
      SELECT
        n AS n_docs,
        n10 AS n_model_only, n01 AS n_heuristic_only,
        n10 + n01 AS n_discordant,
        CAST(CAST(
          CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01)
          AS DECIMAL(18,6)) AS DOUBLE) AS mcnemar_chi2
      FROM ct"""


@query(
    "eval_gate_mcnemar",
    oracle=f"""
    WITH t AS (
      SELECT {TOKENS_DUCK} AS toks FROM documents
    ), gates AS (
      SELECT
        {_dec6(_LOGREG_DUCK.replace("STOP", _sql_list(STOPWORDS)))}
          >= {LOGREG_GATE} AS keep_model,
        {_dec6(_QUALITY_DUCK.replace("STOP", _sql_list(STOPWORDS)))}
          >= {CURATION_QUALITY_MIN} AS keep_heuristic
      FROM t
    ), ct AS (
      SELECT
        COUNT(*)::BIGINT AS n,
        COUNT(*) FILTER (WHERE keep_model AND NOT keep_heuristic)::BIGINT AS n10,
        COUNT(*) FILTER (WHERE NOT keep_model AND keep_heuristic)::BIGINT AS n01
      FROM gates
    )
    {_mcnemar_final_select()}
    """,
)
def eval_gate_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the SAME gate pair ``eval_gate_agreement_
    kappa`` scores: kappa asks "do the two gates agree beyond
    chance?"; McNemar asks the orthogonal question — "is one gate
    systematically STRICTER?" — by testing the two discordant cells
    for symmetry, χ² = (b−c)²/(b+c) ~ χ²(1) (McNemar 1947). Two
    gates can have high kappa yet fail McNemar badly (one keeps a
    consistent superset), and that asymmetry — not the agreement —
    is what decides whether swapping gates shifts corpus volume.

    Exactness: the gate decisions are the same pinned DECIMAL(18,6)
    scores as the kappa/standalone queries (shared expression
    constants); discordant counts are exact BIGINTs in one scan; the
    statistic is exact-integer arithmetic until one pinned division.

    Plan: scan → tokenize once → two constant-folded scores → one
    partial+final aggregate of three conditional counts."""
    docs = load_table(spark, sf_dir, "documents")
    lg = _LOGREG_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    ql = _QUALITY_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    gates = docs.select(F.expr(TOKENS_SPARK).alias("toks")).select(
        (F.expr(lg).cast("decimal(18,6)") >= LOGREG_GATE).alias(
            "keep_model"
        ),
        (F.expr(ql).cast("decimal(18,6)") >= CURATION_QUALITY_MIN).alias(
            "keep_heuristic"
        ),
    )
    ct = gates.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(
            F.col("keep_model") & ~F.col("keep_heuristic")
        )
        .cast("bigint")
        .alias("n10"),
        F.count_if(
            ~F.col("keep_model") & F.col("keep_heuristic")
        )
        .cast("bigint")
        .alias("n01"),
    )
    ct.createOrReplaceTempView("mcnemar_ct")
    return spark.sql(
        _mcnemar_final_select().replace("FROM ct", "FROM mcnemar_ct")
    )


# ---- deterministic k-fold assignment ----------------------------------------

KFOLD_K = 5


@query(
    "text_kfold_assignment",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             {hash60_duck("CAST(doc_id AS VARCHAR)")} % {KFOLD_K}
               AS fold
      FROM documents
    ),
    per_fold AS (
      SELECT fold,
             COUNT(*)::BIGINT AS n_docs,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT)
               AS n_chars,
             COUNT(DISTINCT source)::BIGINT AS n_sources
      FROM h GROUP BY fold
    ),
    tot AS (SELECT SUM(n_docs)::BIGINT AS t FROM per_fold)
    SELECT fold, n_docs, n_chars, n_sources,
           CAST(CAST(CAST(n_docs AS DOUBLE) / tot.t
                AS DECIMAL(18,6)) AS DOUBLE) AS doc_share
    FROM per_fold CROSS JOIN tot
    """,
)
def text_kfold_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment by ID hash
    (fold = hash60(doc_id) mod 5), summarized per fold with the
    balance columns an eval harness checks before trusting the
    folds: docs, total chars (token-mass proxy), distinct sources,
    and each fold's share. The k-fold sibling of
    ``text_train_val_test_split`` — that one ships ONE frozen
    split; CV needs k rotations whose membership must be stable
    across runs, engines, and cluster sizes, which the
    content-independent ID hash guarantees (and, unlike a text
    hash, survives later text edits — fold membership is an
    identity property here, a leakage property there; near-dup
    leakage ACROSS folds is ``text_split_leakage_fuzzy``'s job).

    Plan: one projection + a 5-group hash aggregate; the assignment
    is a codegen'd scan expression at any scale. Full per-doc
    assignment = the same projection without the aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (
            F.expr(hash60_spark("CAST(doc_id AS STRING)")) % KFOLD_K
        ).alias("fold"),
    )
    per_fold = h.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(18,0)"))
        .cast("bigint")
        .alias("n_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    tot = per_fold.agg(F.sum("n_docs").cast("bigint").alias("t"))
    return per_fold.crossJoin(F.broadcast(tot)).select(
        "fold",
        "n_docs",
        "n_chars",
        "n_sources",
        F.expr(
            "CAST(CAST(CAST(n_docs AS DOUBLE) / t AS DECIMAL(18,6))"
            " AS DOUBLE)"
        ).alias("doc_share"),
    )


# ---- source-mixture planner (round 11) ---------------------------------

MIXTURE_TOKEN_BUDGET = 100_000  # target curated-corpus size, in tokens


def _mixture_finish(
    kept: str, srcs: str, bigint: str, idiv: str, wrap_as: str | None = None
) -> str:
    """Shared planner finish over a kept-docs frame ``(doc_id, source,
    n_tokens, logw)`` and a distinct-source frame: per-source Neyman
    moments on the SURVIVING token counts, a DSIR importance-mass
    tilt, and largest-remainder (Hamilton) apportionment of the token
    budget so quotas sum EXACTLY to MIXTURE_TOKEN_BUDGET.

    Weight = sd_tokens x dsir_mass: Neyman's N_h*S_h allocation with
    the stratum count replaced by the stratum's summed importance
    log-weight (the DSIR effective size of the source under the
    target distribution) — sources that are both internally DIVERSE
    (high token-length spread survives screening) and target-LIKE
    (high importance mass) get budget.

    Exactness: moments and token counts are exact BIGINTs; the one
    sqrt rides the ROUND-to-micro fixed-point pin (the
    ``text_neyman_allocation`` precedent), logw is an exact DECIMAL
    dot product, and the weight is ONE fixed IEEE chain pinned
    DECIMAL(18,3) (milli fixed-point), so quota/remainder arithmetic
    is pure integer and the remainder ranking is deterministic.
    ``idiv`` parameterizes the integer-division spelling ('div'
    Spark, '//' DuckDB) — the one token the dialects don't share.

    Range honesty: B x wt_milli must fit BIGINT — safe through
    B ~ 1e5 tokens x wt ~ 1e10; a production multi-trillion-token
    budget lifts the quota product to DECIMAL(38,0) (one line, both
    dialects). The variance numerator is computed in DOUBLE on the
    exact sums (the moment-overflow rule from the ab-lift class).

    Conventions, stated: sources with n_keep < 2 have undefined
    spread and weight 0 (rows kept, quota 0); quota is capped by the
    source's surviving supply and the SHORTFALL is REPORTED, not
    silently re-apportioned (a second re-balance pass is the next
    planning round's decision, not this query's).

    ``wrap_as``: when set, the final SELECT is emitted as one more
    named CTE instead of the statement's result — the reuse seam
    text_mixture_execute builds its selection stage on."""
    B = MIXTURE_TOKEN_BUDGET
    wrap_open = f", {wrap_as} AS (" if wrap_as else ""
    wrap_close = ")" if wrap_as else ""
    return f"""
    , mixagg AS (
      SELECT source,
             CAST(COUNT(*) AS {bigint}) AS n_keep,
             CAST(SUM(n_tokens) AS {bigint}) AS supply,
             CAST(SUM(n_tokens * n_tokens) AS {bigint}) AS sxx,
             SUM(logw) AS mass
      FROM {kept} GROUP BY source
    ),
    mixw AS (
      SELECT source, n_keep, supply,
             CASE WHEN n_keep > 1 THEN CAST(ROUND(sqrt(
                 (CAST(n_keep AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(supply AS DOUBLE) * CAST(supply AS DOUBLE))
                 / (CAST(n_keep AS DOUBLE) * (n_keep - 1.0))
               ) * 1000000) AS {bigint})
             ELSE CAST(0 AS {bigint}) END AS sd_micro,
             CAST(mass AS DOUBLE) AS mass_d
      FROM mixagg
    ),
    mixwt AS (
      SELECT source, n_keep, supply, sd_micro, mass_d,
             CAST(CAST(CAST(sd_micro AS DOUBLE) / 1000000.0 * mass_d
                  AS DECIMAL(18,3)) * 1000 AS {bigint}) AS wt_milli
      FROM mixw
    ),
    mixtot AS (SELECT SUM(wt_milli) AS tw FROM mixwt),
    mixbase AS (
      SELECT mixwt.*, mixtot.tw,
             CASE WHEN mixtot.tw > 0
                  THEN ({B} * wt_milli) {idiv} mixtot.tw
                  ELSE CAST(0 AS {bigint}) END AS n_base,
             CASE WHEN mixtot.tw > 0
                  THEN ({B} * wt_milli) % mixtot.tw
                  ELSE CAST(0 AS {bigint}) END AS rem
      FROM mixwt CROSS JOIN mixtot
    ),
    mixlo AS (
      SELECT {B} - SUM(n_base) AS leftover, MAX(tw) AS tw2 FROM mixbase
    ),
    mixranked AS (
      SELECT *, ROW_NUMBER() OVER (
               ORDER BY rem DESC, source ASC) AS rr
      FROM mixbase
    ),
    mixquota AS (
      SELECT source, n_keep, supply, sd_micro, mass_d, wt_milli,
             CAST(n_base + CASE WHEN mixlo.tw2 > 0
                                 AND rr <= mixlo.leftover
                                THEN 1 ELSE 0 END AS {bigint})
               AS quota_tokens
      FROM mixranked CROSS JOIN mixlo
    )
    {wrap_open}SELECT s.source,
           CAST(COALESCE(q.n_keep, 0) AS {bigint}) AS n_keep,
           CAST(COALESCE(q.supply, 0) AS {bigint}) AS supply_tokens,
           CAST(CAST(COALESCE(q.sd_micro, 0) AS DOUBLE) / 1000000.0
                AS DOUBLE) AS sd_tokens,
           CAST(COALESCE(q.mass_d, CAST(0 AS DOUBLE)) AS DOUBLE)
             AS dsir_mass,
           CAST(CAST(COALESCE(q.wt_milli, 0) AS DOUBLE) / 1000.0
                AS DOUBLE) AS weight,
           CAST(COALESCE(q.quota_tokens, 0) AS {bigint}) AS quota_tokens,
           CAST(LEAST(COALESCE(q.quota_tokens, 0),
                      COALESCE(q.supply, 0)) AS {bigint})
             AS alloc_tokens,
           CAST(COALESCE(q.quota_tokens, 0)
                - LEAST(COALESCE(q.quota_tokens, 0),
                        COALESCE(q.supply, 0)) AS {bigint})
             AS shortfall_tokens
    FROM {srcs} s LEFT JOIN mixquota q ON q.source = s.source
    {wrap_close}"""


_MIXTURE_KEPT_ORACLE_PREFIX = f"""{_GOPHER_DOC_CTE},
    g AS (
      SELECT doc_id, source,
             CASE WHEN f_wc + f_mwl + f_sym + f_alpha + f_stop = 0
                  THEN 1 ELSE 0 END AS pass_gopher
      FROM r
    ),
    lm AS ({_ORACLES["text_unigram_lm_quality"]}),
    rk AS (
      SELECT lm.doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY documents.lang
               ORDER BY lm.lm_score, lm.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY documents.lang) AS n
      FROM lm JOIN documents USING (doc_id)
    ),
    q0 AS (
      SELECT doc_id,
             CASE WHEN rn * 3 <= n THEN 0 ELSE 1 END AS pass_quality
      FROM rk
    ),
    dsir AS (
      SELECT doc_id, logw
      FROM ({_DSIR_DOCW_CTE} SELECT doc_id, logw FROM docw)
    ),
    tok AS (
      SELECT doc_id, CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    kept AS (
      SELECT g.doc_id, g.source, tok.n_tokens, dsir.logw
      FROM g
      JOIN q0 ON q0.doc_id = g.doc_id AND q0.pass_quality = 1
      JOIN dsir ON dsir.doc_id = g.doc_id AND dsir.logw > 0
      JOIN tok ON tok.doc_id = g.doc_id
      WHERE g.pass_gopher = 1
    ),
    srcs AS (SELECT DISTINCT source FROM documents)
    """


@query(
    "text_mixture_plan",
    oracle=f"""{_MIXTURE_KEPT_ORACLE_PREFIX}
    {_mixture_finish("kept", "srcs", "BIGINT", "//")}
    """,
)
def text_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The source-mixture DECISION artifact the curation ladder was
    missing: per-source TOKEN budgets for a target curated-corpus
    size. The keep set is the ``text_curation_report`` intersection
    (Gopher rules AND CCNet per-language LM terciles AND positive
    DSIR weight — the same verified doc-level frames, reused
    unchanged); the allocation is Neyman spread x DSIR importance
    mass with largest-remainder integerization, so the quota column
    sums EXACTLY to MIXTURE_TOKEN_BUDGET and each quota is capped by
    the source's surviving token supply with the shortfall reported
    (see ``_mixture_finish`` for the weight rationale, the fixed-
    point exactness chain, and the stated conventions).

    Plan & scale: the three screens and the token counts are the
    standalone operators' plans (one documents scan feeds gopher +
    token counts; LM and DSIR share the exploded-token aggregates);
    the keep set joins on doc_id (co-partitioned hash joins), then
    EVERYTHING after the per-source aggregate runs on a
    |sources|-row frame — windows, apportionment, the supply cap.
    No driver math; the only corpus-scale exchanges are the ones the
    screens already pay."""
    kept, docs = _mixture_kept(spark, sf_dir)
    # r15: persist the kept frame exactly like text_mixture_execute —
    # Spark inlines WITH-chain CTE references, and the planner tail
    # (mixbase/mixlo/caps) references the mixagg chain repeatedly, so
    # an un-cut kept re-ran the three screening pipelines per
    # reference (168 Exchanges, 119 stage jobs measured; guide §2.4).
    kept = kept.persist()
    kept.createOrReplaceTempView("mixplan_kept")
    docs.select("source").distinct().createOrReplaceTempView(
        "mixplan_srcs"
    )
    return spark.sql(
        "WITH _noop AS (SELECT 1)"
        + _mixture_finish("mixplan_kept", "mixplan_srcs", "BIGINT", "div")
    )


def _mixture_kept(spark: SparkSession, sf_dir: str):
    """The curation keep set the mixture planner/executor share:
    Gopher-pass AND per-language LM upper-terciles AND positive DSIR
    weight, with per-doc token counts — the text_curation_report
    intersection as a (doc_id, source, n_tokens, logw) frame.
    Returns (kept, documents)."""
    gop = _gopher_doc_flags(spark, sf_dir).select(
        "doc_id",
        "source",
        F.when(
            F.col("f_wc")
            + F.col("f_mwl")
            + F.col("f_sym")
            + F.col("f_alpha")
            + F.col("f_stop")
            == 0,
            1,
        )
        .otherwise(0)
        .alias("pass_gopher"),
    )
    lm = text_unigram_lm_quality(spark, sf_dir).select(
        "doc_id", "lm_score"
    )
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("lm_score", "doc_id")
    q = (
        lm.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("lang"))
            .alias("n"),
        )
        .select(
            "doc_id",
            F.when(F.col("rn") * 3 <= F.col("n"), 0)
            .otherwise(1)
            .alias("pass_quality"),
        )
    )
    dsir = _dsir_docw(spark, sf_dir).select("doc_id", "logw")
    tok = docs.select(
        "doc_id",
        F.size(F.expr(TOKENS_SPARK)).cast("bigint").alias("n_tokens"),
    )
    kept = (
        gop.filter(F.col("pass_gopher") == 1)
        .join(q.filter(F.col("pass_quality") == 1), "doc_id")
        .join(dsir.filter(F.col("logw") > 0), "doc_id")
        .join(tok, "doc_id")
        .select("doc_id", "source", "n_tokens", "logw")
    )
    return kept, docs


def _mixture_exec_tail(kept: str, bigint: str, strtype: str) -> str:
    """The selection stage shared by both engines, over the planner's
    ``mixplan`` CTE (``_mixture_finish(wrap_as="mixplan")``): rank each
    source's kept docs by a deterministic md5 draw key, run the
    per-source token prefix sum, and take the greedy prefix that fits
    the source's alloc_tokens. Greedy-prefix is the STATED convention
    (a later shorter doc that would still fit is NOT back-filled —
    first-fit-decreasing is a different sampler, a planning-policy
    choice, not this query's); tie-break doc_id after the hash key."""
    return f"""
    , sel AS (
      SELECT k.doc_id, k.source, k.n_tokens,
             SUM(k.n_tokens) OVER (
               PARTITION BY k.source
               ORDER BY md5('mx' || CAST(k.doc_id AS {strtype})),
                        k.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM {kept} k
    )
    SELECT p.source,
           p.alloc_tokens,
           CAST(COUNT(s.doc_id) AS {bigint}) AS n_docs_selected,
           CAST(COALESCE(SUM(s.n_tokens), 0) AS {bigint})
             AS tokens_selected,
           CAST(p.alloc_tokens - COALESCE(SUM(s.n_tokens), 0) AS {bigint})
             AS unused_tokens
    FROM mixplan p
    LEFT JOIN sel s ON s.source = p.source AND s.cum <= p.alloc_tokens
    GROUP BY p.source, p.alloc_tokens
    """


@query(
    "text_mixture_execute",
    oracle=f"""{_MIXTURE_KEPT_ORACLE_PREFIX}
    {_mixture_finish("kept", "srcs", "BIGINT", "//", wrap_as="mixplan")}
    {_mixture_exec_tail("kept", "BIGINT", "VARCHAR")}
    """,
)
def text_mixture_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture planner's quotas MATERIALIZED: per source, draw
    kept documents in deterministic md5-key order and take the greedy
    prefix whose running token total fits the planner's
    ``alloc_tokens`` — the step that turns the decision artifact
    (``text_mixture_plan``) into an actual sampled training corpus,
    reported per source as (alloc, docs selected, tokens selected,
    unused budget). The draw key is a content-independent id hash, so
    the selected SET is identical across runs, engines, and cluster
    sizes — re-running the sampler after a replan keeps every still-
    quota'd document stable (the curation-diff property a retraining
    pipeline needs). Unused budget = alloc − selected: the greedy
    prefix stops at the first document that would overflow
    (convention stated in ``_mixture_exec_tail``).

    Plan & scale: the screens and the planner are the verified
    frames, reused; the NEW work is one per-source window (hash rank
    + running token sum over the kept frame — partition-parallel by
    source) and one equi-join of that frame against the ≤|sources|-row
    plan with the fit predicate as residual. The kept frame is
    persisted: the planner's aggregate and the selection window both
    read it, and without the cut the three screening joins would
    execute twice."""
    kept, docs = _mixture_kept(spark, sf_dir)
    kept = kept.persist()
    kept.createOrReplaceTempView("mixexec_kept")
    docs.select("source").distinct().createOrReplaceTempView(
        "mixexec_srcs"
    )
    return spark.sql(
        "WITH _noop AS (SELECT 1)"
        + _mixture_finish(
            "mixexec_kept", "mixexec_srcs", "BIGINT", "div",
            wrap_as="mixplan",
        )
        + _mixture_exec_tail("mixexec_kept", "BIGINT", "STRING")
    )


# ---- feature-hashing collision audit -----------------------------------

FH_BUCKETS = 64  # hashed feature dimensionality under audit


def _fh_sql(
    table: str, toks: str, explode: str, h60, bigint: str, intdiv: str
) -> str:
    """Shared hashing-trick audit text. ``explode`` is the dialect's
    array-unnest spelling; the 60-bit token hash is computed ONCE in
    its own CTE (bucket and sign both read it)."""
    return f"""
    WITH t AS (
      SELECT {toks} AS tok_arr FROM {table}
    ),
    tok AS (
      SELECT {explode}(tok_arr) AS token FROM t
    ),
    per_token AS (
      SELECT token, {h60("token")} AS hv,
             CAST(COUNT(*) AS {bigint}) AS occ
      FROM tok GROUP BY 1, 2
    ),
    feat AS (
      SELECT hv % {FH_BUCKETS} AS bucket,
             CASE WHEN (hv {intdiv} {FH_BUCKETS}) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn,
             occ
      FROM per_token
    ),
    per_bucket AS (
      SELECT bucket,
             CAST(COUNT(*) AS {bigint}) AS n_tokens,
             CAST(SUM(occ) AS {bigint}) AS n_occurrences,
             CAST(SUM(sgn * occ) AS {bigint}) AS signed_sum
      FROM feat GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(n_occurrences) AS {bigint}) AS n FROM per_bucket
    )
    SELECT b.bucket, b.n_tokens, b.n_occurrences, b.signed_sum,
           CAST(CAST(
             CAST(b.n_occurrences AS DOUBLE)
             / (CAST(tot.n AS DOUBLE) / {FH_BUCKETS})
             AS DECIMAL(18,6)) AS DOUBLE) AS load_vs_uniform
    FROM per_bucket b CROSS JOIN tot
    ORDER BY b.bucket
    """


def _fh_oracle() -> str:
    return _fh_sql(
        "documents", TOKENS_DUCK, "unnest", hash60_duck, "BIGINT", "//"
    )


@query("features_hashing_trick_audit", oracle=_fh_oracle())
def features_hashing_trick_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Collision audit for the hashing trick (Weinberger et al.'s
    feature hashing — public method) at D = {FH_BUCKETS} buckets: when
    a model hashes an unbounded token vocabulary into a fixed-width
    vector, the ONLY design question is whether D is big enough, and
    this table answers it per bucket — how many DISTINCT tokens
    collided there (estimation bias), total occurrence load vs the
    uniform-hash expectation (hot buckets), and the signed occurrence
    sum under the ±1 sign hash (how much collision mass the sign
    trick actually cancels — the variance-reduction argument for
    signed hashing, checked rather than assumed). Bucket = 60-bit
    md5 mod D, sign = the next hash bit, so features are reproducible
    across engines and runs — the same portable-hash discipline as
    the dedup ladder.

    Exactness: integer end-to-end (hash, bucket, sign, counts); the
    one ratio is a single IEEE chain over exact integers, pinned
    DECIMAL(18,6).

    Plan: tokenize scan → explode → (token, hash) hash aggregate (the
    aggregation boundary is what forces ONE md5 evaluation — a plain
    projection gets inlined into both bucket and sign by
    CollapseProject; the pin counts md5 calls) → bucket/sign are then
    integer arithmetic on the materialized hash, and the per-token
    pre-aggregate means n_tokens is a plain COUNT — no distinct-agg
    Expand anywhere → {FH_BUCKETS}-group aggregate → broadcast-scalar
    total → sort of ≤{FH_BUCKETS} rows. At 100 TB the shuffles carry
    (token, count) then per-bucket partials, never raw text."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("fh_documents")
    return spark.sql(
        _fh_sql(
            "fh_documents",
            TOKENS_SPARK,
            "explode",
            hash60_spark,
            "BIGINT",
            "DIV",
        )
    )


# ---- multinomial naive Bayes language classifier ------------------------

NB_FOLDS = 5  # hash folds; fold 0 is the held-out test split


def _nb_split_select(
    table: str, toks: str, h60, *, materialized: bool = False
) -> str:
    """The tokenize+fold projection — parameterized so the Spark side
    can persist it once (``materialized=True`` reads the already-
    computed view) while the oracle's CTE derives it inline."""
    if materialized:
        return f"SELECT doc_id, lang, tok_arr, fold FROM {table}"
    fold = f"{h60('CAST(doc_id AS VARCHAR)')} % {NB_FOLDS}"
    return (
        f"SELECT doc_id, lang, {toks} AS tok_arr, {fold} AS fold"
        f" FROM {table}"
    )


def _nb_sql(split_select: str, explode: str, bigint: str) -> str:
    """Shared naive-Bayes text: multinomial NB with add-one smoothing
    over word unigrams, trained on hash folds 1..4, evaluated as a
    confusion matrix on fold 0."""
    return f"""
    WITH split AS (
      {split_select}
    ),
    train_tok AS (
      SELECT lang, {explode}(tok_arr) AS token
      FROM split WHERE fold <> 0
    ),
    likelihood AS (
      SELECT lang, token, CAST(COUNT(*) AS {bigint}) AS cnt
      FROM train_tok GROUP BY 1, 2
    ),
    lang_tot AS (
      SELECT lang, CAST(COUNT(*) AS {bigint}) AS tot
      FROM train_tok GROUP BY 1
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT token) AS {bigint}) AS v
      FROM train_tok
    ),
    prior AS (
      SELECT lang, CAST(COUNT(*) AS {bigint}) AS n_docs
      FROM split WHERE fold <> 0 GROUP BY 1
    ),
    tot_docs AS (
      SELECT CAST(SUM(n_docs) AS {bigint}) AS n FROM prior
    ),
    test_docs AS (
      SELECT doc_id, lang AS true_lang
      FROM split WHERE fold = 0
    ),
    test_tok AS (
      SELECT doc_id, true_lang, token,
             CAST(COUNT(*) AS {bigint}) AS occ
      FROM (SELECT doc_id, lang AS true_lang,
                   {explode}(tok_arr) AS token
            FROM split WHERE fold = 0) raw
      GROUP BY 1, 2, 3
    ),
    terms AS (
      SELECT g.doc_id, g.true_lang, g.lang,
             CAST(g.occ
                  * ln((CAST(COALESCE(l.cnt, 0) AS DOUBLE) + 1)
                       / (lt.tot + v.v))
                  AS DECIMAL(28,12)) AS term
      FROM (SELECT t.doc_id, t.true_lang, t.token, t.occ, p.lang
            FROM test_tok t CROSS JOIN (SELECT lang FROM prior) p) g
      LEFT JOIN likelihood l
        ON l.lang = g.lang AND l.token = g.token
      JOIN lang_tot lt ON lt.lang = g.lang
      CROSS JOIN vocab v
    ),
    term_sums AS (
      SELECT doc_id, lang, SUM(term) AS term_sum
      FROM terms GROUP BY 1, 2
    ),
    scores AS (
      -- LEFT JOIN from the fold-0 doc frame so a zero-token test doc
      -- still gets a row per language and is scored on priors alone,
      -- instead of silently vanishing from the confusion matrix.
      SELECT g.doc_id, g.true_lang, g.lang,
             COALESCE(ts.term_sum, CAST(0 AS DECIMAL(28,12)))
               + CAST(ln(CAST(p.n_docs AS DOUBLE) / td.n)
                      AS DECIMAL(28,12)) AS score
      FROM (SELECT d.doc_id, d.true_lang, pr.lang
            FROM test_docs d
            CROSS JOIN (SELECT lang FROM prior) pr) g
      LEFT JOIN term_sums ts
        ON ts.doc_id = g.doc_id AND ts.lang = g.lang
      JOIN prior p ON p.lang = g.lang
      CROSS JOIN tot_docs td
    ),
    pred AS (
      SELECT doc_id, true_lang, lang,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, lang ASC
             ) AS rn
      FROM scores
    )
    SELECT true_lang, lang AS pred_lang,
           CAST(COUNT(*) AS {bigint}) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@query(
    "text_naive_bayes_langid",
    oracle=None,  # registered below with the duck dialect pieces
)
def text_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained AND
    evaluated inside the engine — the trainable companion to the
    heuristic ``text_language_id``: word-unigram likelihoods with
    add-one (Laplace) smoothing, document priors, deterministic
    80/20 hash split (folds 1–4 train, fold 0 test), and the output
    is the test-fold CONFUSION MATRIX — the artifact a curation
    review actually reads (which languages bleed into which).
    Unseen-token mass is handled by the LEFT JOIN + COALESCE(cnt,0)
    against the trained likelihood table, so scoring never drops a
    token the training fold missed. Zero-token test documents are
    scored on the class priors alone (LEFT JOIN from the fold-0 doc
    frame), so the confusion-matrix total always equals the fold-0
    document count.

    Exactness: counts are integers; each token's log-likelihood
    contribution occ·ln((cnt+1)/(tot+V)) is ONE IEEE chain over
    exact integers pinned DECIMAL(28,12) BEFORE the per-doc sum
    (order-insensitive decimal addition — the ln-pin rule), and the
    prior enters as one more pinned term; the argmax compares exact
    decimals with a lang tie-break, so predictions are bit-stable
    cross-engine.

    Scale: the tokenize+fold projection is computed ONCE and
    persisted on the Spark side (the SQL text references it 7× —
    inline it and the corpus is re-tokenized 7×, the plan pin's
    regression target; the oracle's CTE derives it inline, same
    math); train is then two hash aggregates over exploded tokens
    (map-side partials); scoring joins test (token, occ) pairs
    against the (lang, token) likelihood — an equi-join that shuffles
    on token, multiplied only by |langs| via the broadcast lang grid;
    the argmax window is partitioned by doc_id. No all-pairs
    surface, no driver math; the confusion matrix is ≤ |langs|²
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("nb_documents")
    split = spark.sql(
        _nb_split_select(
            "nb_documents",
            TOKENS_SPARK,
            lambda e: hash60_spark(e.replace("VARCHAR", "STRING")),
        )
    )
    split.persist()
    split.createOrReplaceTempView("nb_split")
    return spark.sql(
        _nb_sql(
            _nb_split_select("nb_split", "", None, materialized=True),
            "explode",
            "BIGINT",
        )
    )


_ORACLES["text_naive_bayes_langid"] = _nb_sql(
    _nb_split_select("documents", TOKENS_DUCK, hash60_duck),
    "unnest",
    "BIGINT",
)


# ---- logistic-regression training by unrolled gradient descent ----------

LR_ETA = "CAST(2.0 AS DOUBLE)"  # gradient-descent step size
LR_STEPS = 3


def _lr_feature_select(dialect: str, table: str = "documents") -> str:
    """Dialect feature projection: x1 = kilochars, x2 = en-marker
    ratio, y = (lang = 'en'). ``table`` is parameterized so the Spark
    side reads an op-scoped view (never a session-global 'documents'
    shadow — the holt_events lesson)."""
    toks = TOKENS_SPARK if dialect == "spark" else TOKENS_DUCK
    ln_fn = "size" if dialect == "spark" else "len"
    mc = _marker_count(toks, "en", dialect)
    return f"""
      SELECT doc_id,
             CAST(n_chars AS DOUBLE) / 1000 AS x1,
             CASE WHEN {ln_fn}({toks}) > 0
                  THEN CAST({mc} AS DOUBLE) / {ln_fn}({toks})
                  ELSE CAST(0 AS DOUBLE) END AS x2,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM {table}
    """


def _lr_sig(w0: str, w1: str, w2: str) -> str:
    """The sigmoid chain sigma(w.x), written once so both the
    gradient and the metric passes use the identical IEEE text."""
    return f"(1 / (1 + exp(-({w0} + {w1} * x1 + {w2} * x2))))"


def _lr_gw_parts(
    bigint: str, prev_tbl: str = "w"
) -> tuple[list[str], list[str]]:
    """The gradient/weight CTE texts per step, and the per-step
    previous-weight expressions — extracted so the calibration report
    reuses the EXACT training text (same trajectory, same hash).
    ``prev_tbl`` renames where step it reads step it−1's weights:
    ``w`` (the oracle's CTE chain) or a view prefix for Spark's
    stepwise materialization — the arithmetic text is identical, only
    the 1-row frame's address changes (the BT exponential-CTE
    lesson: the inlined scalar-subquery chain re-evaluates the
    gradient aggregate ~9^(steps-1) times; measured 4.0s → well under
    1s at sf0.1 with the views)."""
    gw: list[str] = []
    pws: list[list[str]] = []
    for it in range(1, LR_STEPS + 1):
        if it == 1:
            pw = ["CAST(0 AS DOUBLE)"] * 3
        else:
            pw = [f"(SELECT w{j} FROM {prev_tbl}{it - 1})" for j in range(3)]
        pws.append(pw)
        s_prev = _lr_sig(*pw)
        gw.append(f"""
    g{it} AS (
      SELECT SUM(CAST(({s_prev} - y) AS DECIMAL(28,12))) AS g0,
             SUM(CAST(({s_prev} - y) * x1 AS DECIMAL(28,12))) AS g1,
             SUM(CAST(({s_prev} - y) * x2 AS DECIMAL(28,12))) AS g2,
             CAST(COUNT(*) AS {bigint}) AS n
      FROM f
    ),
    w{it} AS (
      SELECT
        CAST(CAST({pw[0]} - {LR_ETA} * (CAST(g0 AS DOUBLE) / n)
             AS DECIMAL(18,12)) AS DOUBLE) AS w0,
        CAST(CAST({pw[1]} - {LR_ETA} * (CAST(g1 AS DOUBLE) / n)
             AS DECIMAL(18,12)) AS DOUBLE) AS w1,
        CAST(CAST({pw[2]} - {LR_ETA} * (CAST(g2 AS DOUBLE) / n)
             AS DECIMAL(18,12)) AS DOUBLE) AS w2
      FROM g{it}
    ),""")
    return gw, [pw for pw in pws]


def _lr_m_body(it: int, bigint: str, w_tbl: str) -> str:
    """The step-it metric aggregate body (logloss/accuracy under the
    NEW weights), parameterized only on where the 1-row weight frame
    lives — same arithmetic text for the oracle CTE and Spark's
    materialized-view form."""
    s_new = _lr_sig("w.w0", "w.w1", "w.w2")
    return f"""
      SELECT w.w0 AS w0, w.w1 AS w1, w.w2 AS w2,
             SUM(CAST(
               -(y * ln({s_new}) + (1 - y) * ln(1 - {s_new}))
               AS DECIMAL(28,12))) AS loss_sum,
             CAST(SUM(CASE WHEN {s_new} >= 0.5
                      THEN y ELSE 1 - y END) AS {bigint}) AS n_correct,
             CAST(COUNT(*) AS {bigint}) AS n
      FROM f CROSS JOIN {w_tbl} w
      GROUP BY w.w0, w.w1, w.w2
    """


def _lr_step_select(it: int, bigint: str) -> str:
    """The step-it output row (weights + metrics), reading m{it}."""
    return f"""    SELECT CAST({it} AS {bigint}) AS step, w0, w1, w2,
           CAST(CAST(CAST(loss_sum AS DOUBLE) / n AS DECIMAL(18,12))
                AS DOUBLE) AS logloss,
           CAST(CAST(CAST(n_correct AS DOUBLE) / n AS DECIMAL(18,6))
                AS DOUBLE) AS accuracy
    FROM m{it}"""


def _lr_train_weights_spark(spark, f_cte: str, prefix: str) -> None:
    """Materialize each GD step's 1-row weight frame behind a
    localCheckpointed view ``{prefix}{it}`` (the BT exponential-CTE
    lesson: the oracle's inlined scalar-subquery chain re-evaluates
    the gradient aggregate ~9× per nesting level — measured 4.0s →
    ~1s at sf0.1 stepwise). Texts come from the SAME _lr_gw_parts
    builder the oracle uses, so the trajectory is identical."""
    gw_parts, _ = _lr_gw_parts("BIGINT", prev_tbl=prefix)
    for it in range(1, LR_STEPS + 1):
        frag = gw_parts[it - 1].rstrip().rstrip(",")
        (
            spark.sql(f"WITH {f_cte},{frag}\nSELECT * FROM w{it}")
            .coalesce(1)
            .localCheckpoint()
            .createOrReplaceTempView(f"{prefix}{it}")
        )


def _lr_sql(feature_select: str, bigint: str) -> str:
    """Shared unrolled-GD text. ``feature_select`` yields (x1, x2, y);
    each step is one moment aggregate (three pinned gradient sums)
    followed by a 1-row weight update pinned DECIMAL(18,12), plus a
    metric pass (logloss/accuracy) under the NEW weights — the
    k-means trajectory-oracle discipline applied to logistic loss."""
    gw_parts, _pws = _lr_gw_parts(bigint)
    parts = []
    for it in range(1, LR_STEPS + 1):
        parts.append(
            gw_parts[it - 1]
            + f"""
    m{it} AS ({_lr_m_body(it, bigint, f"w{it}")})"""
        )
    unions = "\n    UNION ALL\n".join(
        _lr_step_select(it, bigint) for it in range(1, LR_STEPS + 1)
    )
    return f"""
    WITH f AS (
      {feature_select}
    ),{",".join(parts)}
    SELECT * FROM (
{unions}
    ) steps
    ORDER BY step
    """


@query("text_logreg_train_gd", oracle=None)  # oracle registered below
def text_logreg_train_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression TRAINING inside the engine — {LR_STEPS}
    unrolled full-batch gradient-descent steps on the is-English
    label with two quality features (kilochars, en-marker ratio):
    the trainable half the scoring-side ``text_quality_logreg_score``
    assumes exists. Each step emits its weights AND the logloss /
    accuracy under them, so the output is the descent trajectory
    itself — the per-step loss drop is the convergence evidence, in
    the result, not a claim. (Full-batch GD is the deterministic
    choice: SGD's sample order has no cross-engine meaning.)

    Exactness: the k-means trajectory discipline applied to logistic
    loss — per-row gradient terms (sigma(w.x) − y)·x_j are one IEEE
    chain over identical doubles pinned DECIMAL(28,12) BEFORE the
    order-sensitive corpus sum; each weight update is one double
    chain over those exact sums re-pinned DECIMAL(18,12), so every
    step starts from bit-identical weights in both engines; logloss
    terms ride the same pin (the ln-pin rule; features are bounded —
    kilochars ≤ ~2, ratio ≤ 1 — so sigma stays far from the ln(0)
    cliffs at these step sizes).

    Scale: one feature projection (persisted on the Spark side —
    the {LR_STEPS}-step unroll re-reads it {2 * LR_STEPS}×; the
    oracle's CTE re-derives it, same text, same math) and per step
    ONE moment aggregate + ONE metric aggregate, each a map-side
    partial over (x1, x2, y) triples; weights are 1-row frames cross
    joined back (broadcast). Nothing is collected; step count, not
    data, bounds the unroll."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("lr_documents")
    feats = spark.sql(_lr_feature_select("spark", "lr_documents"))
    feats.persist()
    feats.createOrReplaceTempView("lr_features")
    f_cte = "f AS (SELECT doc_id, x1, x2, y FROM lr_features)"
    _lr_train_weights_spark(spark, f_cte, "lr_w")
    out = None
    for it in range(1, LR_STEPS + 1):
        m = spark.sql(
            f"WITH {f_cte},\n"
            f"    m{it} AS ({_lr_m_body(it, 'BIGINT', f'lr_w{it}')})\n"
            f"{_lr_step_select(it, 'BIGINT')}"
        )
        out = m if out is None else out.unionByName(m)
    return out.orderBy("step")


_ORACLES["text_logreg_train_gd"] = _lr_sql(
    _lr_feature_select("duck"), "BIGINT"
)


# ---- unigram-LM tokenizer (SentencePiece-style Viterbi-EM) --------------
#
# Kudo (2018), "Subword Regularization" — the unigram-LM alternative to
# BPE: seed a substring vocabulary, then alternate (E) Viterbi-segment
# every word type under current piece costs and (M) re-estimate piece
# probabilities from the segmentation counts, pruning low-mass pieces
# each round (single characters always survive, guaranteeing every
# word stays segmentable). Completes the tokenizer family next to
# text_bpe_train_merges — trained AND applied inside the engine.
#
# Determinism design (stronger than decimal pinning — INTEGER
# end-to-end): a piece's cost is −ln(p) pinned DECIMAL(18,12) then
# scaled to integer picounats (×1e12, exact); a Viterbi state is ONE
# string `lpad(cost_units,18,'0') || '|' || path`, so MIN(state) is a
# lexicographic argmin — exact cost comparison, path tie-break, no
# float ever compared. Both engines run the same fragment text; the
# only dialect seams are the tokenizer expression and explode/split
# names (the _nb_sql convention).

UG_MAX_WLEN = 8    # corpus max word length (types beyond it excluded —
                   # stated convention; this synthetic corpus has none)
UG_MAX_PLEN = 4    # max piece length in the seed inventory
UG_EM_ITERS = 2    # fixed EM rounds keep the oracle SQL-expressible
UG_KEEP = 40       # multi-char pieces kept per prune (+ all 1-char)
_UG_ZERO_ST = "0" * 18 + "|"


def _ug_spans() -> str:
    rows = [
        (ps, pl)
        for ps in range(1, UG_MAX_WLEN + 1)
        for pl in range(1, UG_MAX_PLEN + 1)
        if ps + pl - 1 <= UG_MAX_WLEN
    ]
    return ", ".join(f"({ps}, {pl})" for ps, pl in rows)


def _ug_cost_expr(num: str, den: str) -> str:
    """Integer cost units from a count ratio: −ln(num/den) pinned
    DECIMAL(18,12), scaled ×1e12 (exact), floored to BIGINT. ln over
    one IEEE divide of exact integers — the ln-pin rule."""
    return (
        f"CAST(floor(CAST(-ln(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"
        f" AS DECIMAL(18,12)) * 1000000000000) AS BIGINT)"
    )


def _ug_steps(dialect: str, table: str) -> list[tuple[str, str]]:
    """The full training pipeline as ordered (name, select) steps.
    The oracle assembles them into ONE WITH chain; the Spark side
    materializes each step behind a localCheckpointed view of the
    SAME name, so the texts are identical and only the execution
    strategy differs (the eval_bradley_terry_ratings lesson: CTEs
    are inlined per reference in Spark, and each DP round references
    up to UG_MAX_PLEN prior rounds)."""
    toks = TOKENS_SPARK if dialect == "spark" else TOKENS_DUCK
    explode = "explode" if dialect == "spark" else "unnest"
    split = "split" if dialect == "spark" else "string_split"
    steps: list[tuple[str, str]] = []
    steps.append((
        "ug_types",
        f"""SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT {explode}({toks}) AS word FROM {table}) raw
      WHERE length(word) BETWEEN 1 AND {UG_MAX_WLEN}
      GROUP BY word""",
    ))
    steps.append((
        "ug_seed_cnt",
        f"""SELECT substr(t.word, s.ps, s.pl) AS piece,
             CAST(SUM(t.freq) AS BIGINT) AS cnt
      FROM ug_types t
      JOIN (VALUES {_ug_spans()}) AS s(ps, pl)
        ON s.ps + s.pl - 1 <= length(t.word)
      GROUP BY 1""",
    ))
    steps.append((
        "ug_chars",
        "SELECT piece FROM ug_seed_cnt WHERE length(piece) = 1",
    ))
    steps.append((
        "ug_seed_tot",
        "SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM ug_seed_cnt",
    ))
    steps.append((
        "ug_vocab0",
        f"""SELECT piece, cnt, {_ug_cost_expr("cnt", "total")} AS cu
      FROM ug_seed_cnt CROSS JOIN ug_seed_tot""",
    ))
    for it in range(1, UG_EM_ITERS + 1):
        steps.extend(
            _ug_sweep_steps(f"e{it}", f"ug_vocab{it - 1}", dialect)
        )
        if dialect == "spark":
            # r16: the fused fin (``_ug_fused_sweep``) carries freq
            # through its GROUP BY (word determines freq), so the
            # count re-estimation skips the types join — one fewer
            # broadcast stage per EM iteration. Identical counts.
            steps.append((
                f"ug_cnt{it}",
                f"""SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (
        SELECT f.freq,
               {explode}({split}(substr(f.st, 20), ' ')) AS piece
        FROM ug_fin_e{it} f
      ) x GROUP BY piece""",
            ))
        else:
            steps.append((
                f"ug_cnt{it}",
                f"""SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (
        SELECT t.freq,
               {explode}({split}(substr(f.st, 20), ' ')) AS piece
        FROM ug_fin_e{it} f JOIN ug_types t ON t.word = f.word
      ) x GROUP BY piece""",
            ))
        if dialect == "spark":
            # r16: same top-{UG_KEEP} set, spelled ORDER BY … LIMIT so
            # Spark plans TakeOrderedAndProject — no global-window
            # Exchange + Sort stage (one fewer AQE stage-job per EM
            # iteration). row_number ≤ K over a total order (cnt DESC,
            # piece ASC; piece is unique) ≡ LIMIT K under that order.
            steps.append((
                f"ug_kept{it}",
                f"""SELECT piece FROM (
        SELECT piece FROM ug_cnt{it} WHERE length(piece) > 1
        ORDER BY cnt DESC, piece ASC LIMIT {UG_KEEP}
      ) top
      UNION
      SELECT piece FROM ug_chars""",
            ))
        else:
            steps.append((
                f"ug_kept{it}",
                f"""SELECT piece FROM (
        SELECT piece,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rk
        FROM ug_cnt{it} WHERE length(piece) > 1
      ) rnk WHERE rk <= {UG_KEEP}
      UNION
      SELECT piece FROM ug_chars""",
            ))
        steps.append((
            f"ug_cc{it}",
            f"""SELECT k.piece, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
      FROM ug_kept{it} k LEFT JOIN ug_cnt{it} c ON c.piece = k.piece""",
        ))
        steps.append((
            f"ug_tot{it}",
            f"""SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS nv FROM ug_cc{it}""",
        ))
        steps.append((
            f"ug_vocab{it}",
            f"""SELECT piece, cnt,
             {_ug_cost_expr("cnt + 1", "total + nv")} AS cu
      FROM ug_cc{it} CROSS JOIN ug_tot{it}""",
        ))
    return steps


def _ug_comp_rows() -> str:
    """Every segmentation SHAPE of a ≤UG_MAX_WLEN-char word into
    pieces of 1..UG_MAX_PLEN chars, as VALUES rows
    (wl, s1, l1, …, s{UG_MAX_WLEN}, l{UG_MAX_WLEN}) — slot i covers
    substr(word, s_i, l_i); unused trailing slots are (1, 0), whose
    substr is '' and matches the zero-cost sentinel piece. 223 rows at
    the module constants (compositions of 1..8 into parts ≤ 4) — a
    broadcastable constant at ANY corpus size, because it depends only
    on the two length caps, never on the data."""
    vals: list[str] = []

    def rec(rem: int, parts: list[int], total: int) -> None:
        if rem == 0:
            cells = [str(total)]
            pos = 1
            for ln in parts:
                cells += [str(pos), str(ln)]
                pos += ln
            for _ in range(UG_MAX_WLEN - len(parts)):
                cells += ["1", "0"]
            vals.append("(" + ", ".join(cells) + ")")
            return
        for p in range(1, min(UG_MAX_PLEN, rem) + 1):
            rec(rem - p, parts + [p], total)

    for length in range(1, UG_MAX_WLEN + 1):
        rec(length, [], length)
    return ", ".join(vals)


def _ug_fused_sweep(tag: str, pieces_tbl: str) -> list[tuple[str, str]]:
    """Spark-side replacement for one Viterbi sweep (r16, guide
    §1.2/§2.4): because words are ≤ UG_MAX_WLEN chars and pieces
    ≤ UG_MAX_PLEN, the full segmentation space is a CONSTANT set of
    223 composition shapes — so instead of UG_MAX_WLEN sequential
    DP rounds (each an eager localCheckpoint job reading the 4 prior
    rounds), ONE plan enumerates every segmentation per word type
    (shape join + {UG_MAX_WLEN} broadcast piece-cost lookups) and
    takes the lexicographic MIN state per word.

    Equivalence to the DP (the oracle keeps the round-by-round text):
    the state string is lpad(cost, 18, '0') || '|' || path, and state
    extension is monotone — adding the same suffix cost preserves
    numeric (= padded-string) order, and appending the same ' '+piece
    tail preserves path order because two prefix paths over the same
    chars can never be prefixes of each other (their non-space chars
    are identical, so the first difference survives any suffix).
    Hence MIN distributes over extension and the per-position DP
    argmin equals the global MIN over all compositions — bit-for-bit,
    which the sf0.001/sf0.01 oracle hash certifies.

    Scale: the type frame is Heaps-law bounded; per type the expansion
    is ≤ 108 rows (compositions of 8), all generated co-located with
    the type row, so the map-side partial MIN collapses them before
    the one |types|-row exchange. Piece lookups are broadcast joins
    against the ≤seed-row vocab; the sentinel '' piece (cost 0) makes
    unused slots join-neutral. One job per sweep instead of
    {UG_MAX_WLEN} checkpoint round-trips."""
    slots = range(1, UG_MAX_WLEN + 1)
    cols = ", ".join(f"s{i}, l{i}" for i in slots)
    joins = "\n      ".join(
        f"JOIN ug_pcs_{tag} p{i}"
        f" ON p{i}.piece = substr(b.word, c.s{i}, c.l{i})"
        for i in slots
    )
    cost = " + ".join(f"p{i}.cu" for i in slots)
    path = ", ".join(f"nullif(p{i}.piece, '')" for i in slots)
    return [
        (
            f"ug_pcs_{tag}",
            f"""SELECT piece, cu FROM {pieces_tbl}
      UNION ALL SELECT '' AS piece, CAST(0 AS BIGINT) AS cu""",
        ),
        (
            f"ug_fin_{tag}",
            f"""SELECT b.word, b.freq,
             MIN(
               lpad(CAST({cost} AS STRING), 18, '0')
               || '|'
               || concat_ws(' ', {path})
             ) AS st
      FROM ug_types b
      JOIN (VALUES {_ug_comp_rows()}) AS c(wl, {cols})
        ON c.wl = length(b.word)
      {joins}
      GROUP BY b.word, b.freq""",
        ),
    ]


def _ug_sweep_steps(
    tag: str, pieces_tbl: str, dialect: str = "duck"
) -> list[tuple[str, str]]:
    """One Viterbi sweep: UG_MAX_WLEN forward rounds over the word-type
    frame. Round t extends states at positions t−4..t−1 by every vocab
    piece that exactly spells word[pos+1 .. t] and keeps the
    lexicographic-MIN state per word — exact integer-cost argmin with
    path tie-break. ``ug_fin_{tag}`` collects each word's full-length
    state; its path substring IS the segmentation.

    The round-by-round text below is the ORACLE's form (DuckDB
    materializes each CTE once). The Spark side executes the
    equivalent single-plan composition enumeration instead
    (``_ug_fused_sweep`` — one job per sweep, not UG_MAX_WLEN
    sequential checkpoints; equivalence argument in its docstring)."""
    if dialect == "spark":
        return _ug_fused_sweep(tag, pieces_tbl)
    steps: list[tuple[str, str]] = []
    for t in range(1, UG_MAX_WLEN + 1):
        srcs = []
        for k in range(1, UG_MAX_PLEN + 1):
            prev = t - k
            if prev < 0:
                continue
            if prev == 0:
                srcs.append(
                    f"SELECT word, 0 AS pos, '{_UG_ZERO_ST}' AS st"
                    f" FROM ug_types WHERE length(word) >= {t}"
                )
            else:
                srcs.append(
                    f"SELECT word, {prev} AS pos, st FROM ug_s_{tag}_{prev}"
                    f" WHERE length(word) >= {t}"
                )
        union = "\n        UNION ALL\n        ".join(srcs)
        steps.append((
            f"ug_s_{tag}_{t}",
            f"""SELECT b.word,
             MIN(
               lpad(CAST(CAST(substr(b.st, 1, 18) AS BIGINT) + p.cu
                         AS STRING), 18, '0')
               || '|'
               || CASE WHEN length(b.st) > 19
                       THEN substr(b.st, 20) || ' ' ELSE '' END
               || p.piece
             ) AS st
      FROM ({union}) b
      JOIN {pieces_tbl} p
        ON p.piece = substr(b.word, b.pos + 1, {t} - b.pos)
      GROUP BY b.word""",
        ))
    fin = "\n      UNION ALL\n      ".join(
        f"SELECT word, st FROM ug_s_{tag}_{t} WHERE length(word) = {t}"
        for t in range(1, UG_MAX_WLEN + 1)
    )
    steps.append((f"ug_fin_{tag}", fin))
    return steps


_UG_TRAIN_FINAL = f"""
    SELECT piece, cnt, cu AS cost_units,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC)
                AS BIGINT) AS vocab_rank
    FROM ug_vocab{UG_EM_ITERS}
    ORDER BY vocab_rank
"""


def _ug_assemble(steps: list[tuple[str, str]], final: str) -> str:
    """Oracle-only assembly (Spark materializes the steps as views and
    never parses this text): AS MATERIALIZED forces DuckDB to compute
    each step once — inlined, the DP rounds' multi-references re-open
    the parquet per reference (observed: 'Too many open files')."""
    joined = ",\n    ".join(
        f"{n} AS MATERIALIZED ({sql})" for n, sql in steps
    )
    return f"WITH {joined}\n{final}"


def _ug_run_spark(
    spark: SparkSession, sf_dir: str, steps: list[tuple[str, str]], final: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("ug_documents")
    for name, sql in steps:
        if _ug_lazy(name):
            spark.sql(sql).createOrReplaceTempView(name)
            continue
        df = spark.sql(sql)
        if name == "ug_types":
            # r16: checkpoint the type frame SPREAD (defaultParallelism,
            # scale-adaptive) rather than coalesce(1): the fused sweep
            # (``_ug_fused_sweep``) expands each type row ≤108× in
            # place, so the checkpoint's own partitioning is what
            # parallelizes the expansion — no per-sweep repartition
            # exchange needed.
            df = df.repartition(spark.sparkContext.defaultParallelism)
            df = df.localCheckpoint()
        else:
            df = df.coalesce(1).localCheckpoint()
        df.createOrReplaceTempView(name)
    return spark.sql(final)


def _ug_lazy(name: str) -> bool:
    """Which steps stay LAZY views on the Spark side (the oracle's
    CTE chain is unaffected — this only tunes Spark's job count):

    - ``ug_occ``: the one DATA-SIZED step; referenced once, and
      checkpointing it would materialize the whole token frame;
    - tiny low-reference plumbing (seed total, per-round count/prune
      chain, fin unions, npieces, chars): a lazy view's subplan is
      re-EXECUTED once per reference, so only steps whose recompute
      is ≤2× over a ≤vocab-sized frame qualify — materializing each
      costs a whole Spark job, which is the larger number here.

    r16 materialization set (with the fused sweep the job count IS
    the cost at bench SF — every frame after ``ug_types`` is ≤
    seed-inventory-sized, so each saved checkpoint/exchange is a
    saved AQE stage-job):

    - materialized: ``ug_types`` (the one corpus-sized aggregate),
      ``ug_seed_cnt`` (read by chars/vocab0 across jobs), each
      ``ug_cnt{{it}}`` (the EM tail references it 4× through
      kept/cc/tot — its lazy subplan would re-run the fused sweep
      per reference across separate stage-jobs), and ``ug_vocab1+``
      (broadcast 8× by the NEXT sweep's piece lookups and read by
      the final select).
    - lazy: ``ug_fin_*`` (referenced exactly once — by ug_cnt in
      training sweeps, by ug_npieces in the apply sweep), ``ug_pcs_*``
      (8 broadcast references collapse to one reused broadcast
      build), ``ug_vocab0`` (referenced only inside pcs_e1's reused
      broadcast), and the tiny kept/cc/tot/chars/seed_tot plumbing."""
    if name in (
        "ug_occ",
        "ug_npieces",
        "ug_seed_tot",
        "ug_chars",
        "ug_vocab0",
    ):
        return True
    if name.startswith(("ug_pcs_", "ug_fin_")):
        return True
    if name.startswith(("ug_kept", "ug_cc", "ug_tot")):
        return True
    return False


@query(
    "text_unigram_lm_train",
    oracle=_ug_assemble(_ug_steps("duck", "documents"), _UG_TRAIN_FINAL),
)
def text_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer TRAINING inside the
    engine: substring seed inventory (lengths 1–{UG_MAX_PLEN},
    frequency-weighted) → {UG_EM_ITERS} hard-EM rounds of exact
    Viterbi segmentation (integer-picounat costs, lexicographic
    argmin — see module comment) and count re-estimation with
    add-one smoothing, pruning to the top {UG_KEEP} multi-char
    pieces (+ every single char) per round. Output is the trained
    vocabulary (piece, count, cost_units, rank) — ALL integers, so
    the oracle hash certifies the entire EM trajectory bit-for-bit
    (the embedding_kmeans_train discipline; cost_units IS the pinned
    −ln p).

    Scale: the data-sized stages are ONE tokenize scan (word-type
    aggregate — Heaps' law: the type frame is ~1M rows when the
    corpus is billions of tokens) and nothing else; every EM round
    operates on the type frame × a ≤(seed)‑row broadcastable piece
    table, each DP round one equi-join + per-word aggregate.
    Word types longer than {UG_MAX_WLEN} chars are excluded (stated
    convention; raise the constant for a real corpus — rounds grow
    LINEARLY in max word length because states carry paths, no
    backtrack pass). Spark materializes each step behind a
    localCheckpointed single-partition view — the plan-growth lesson
    from eval_bradley_terry_ratings — while DuckDB runs the same
    fragments as one WITH chain (it materializes multi-referenced
    CTEs itself)."""
    steps = _ug_steps("spark", "ug_documents")
    return _ug_run_spark(spark, sf_dir, steps, _UG_TRAIN_FINAL)


_UG_STATS_FINAL = """
    SELECT o.source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(o.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(np.n_pieces) AS BIGINT) AS n_pieces,
           CAST(CAST(SUM(np.n_pieces) * 1.0 / COUNT(*)
                AS DECIMAL(18,6)) AS DOUBLE) AS pieces_per_word
    FROM ug_occ o
    JOIN ug_npieces np ON np.word = o.word
    GROUP BY o.source
    ORDER BY o.source
"""


def _ug_stats_steps(dialect: str, table: str) -> list[tuple[str, str]]:
    toks = TOKENS_SPARK if dialect == "spark" else TOKENS_DUCK
    explode = "explode" if dialect == "spark" else "unnest"
    steps = _ug_steps(dialect, table)
    steps.extend(
        _ug_sweep_steps("apply", f"ug_vocab{UG_EM_ITERS}", dialect)
    )
    steps.append((
        "ug_npieces",
        """SELECT word,
             CAST(1 + length(substr(st, 20))
                    - length(replace(substr(st, 20), ' ', ''))
                  AS BIGINT) AS n_pieces
      FROM ug_fin_apply""",
    ))
    steps.append((
        "ug_occ",
        f"""SELECT source, word, length(word) AS n_chars FROM (
        SELECT source, {explode}({toks}) AS word FROM {table}
      ) raw WHERE length(word) BETWEEN 1 AND {UG_MAX_WLEN}""",
    ))
    return steps


@query(
    "text_unigram_segment_stats",
    oracle=_ug_assemble(
        _ug_stats_steps("duck", "documents"), _UG_STATS_FINAL
    ),
)
def text_unigram_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode side of the unigram-LM pair (the text_bpe_segment_stats
    twin): segment every corpus word with the TRAINED vocabulary —
    one more exact Viterbi sweep under the final piece costs — and
    report per-source tokenization stats: words, chars, pieces, and
    pieces-per-word (the compression the learned vocabulary buys,
    which is what a curation pipeline actually compares across
    sources). The segmentation count rides the path string (pieces
    are space-joined, so n_pieces = spaces + 1) — no second trained-
    state channel, the bpe_segment lesson.

    Scale: adds one tokenize scan for per-source occurrences (the
    only data-sized stage beyond training's type aggregate) plus one
    type-frame Viterbi sweep; the final join is word-type-sized on
    the build side."""
    steps = _ug_stats_steps("spark", "ug_documents")
    return _ug_run_spark(spark, sf_dir, steps, _UG_STATS_FINAL)


# ---- sequence-packing fragmentation report ------------------------------
#
# Pretraining pipelines pack the token stream into fixed-length
# context windows (GPT-style concat-and-cut). A document that CROSSES
# a window boundary is split across training examples — attention
# masking/fragmentation cost a data team tracks per source before
# choosing ctx length or a doc-boundary-respecting packer. Window
# membership is pure cumulative-sum arithmetic over the doc_id-ordered
# token stream, so the whole report is exact integer math.

PACK_CTX = 512  # context window length (tokens)


@query(
    "text_packing_boundary_report",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tok
      FROM documents
    ),
    pref AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id) AS cum_n_tok
      FROM toks
    ),
    spans AS (
      SELECT source, n_tok,
             (cum_n_tok - n_tok) // {PACK_CTX} AS w_first,
             (cum_n_tok - 1) // {PACK_CTX} AS w_last
      FROM pref WHERE n_tok > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN w_last > w_first THEN 1 ELSE 0 END)
                AS BIGINT) AS n_crossing,
           CAST(SUM(w_last - w_first) AS BIGINT) AS n_extra_windows,
           CAST(CAST(SUM(CASE WHEN w_last > w_first THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE)
             AS crossing_share
    FROM spans GROUP BY source ORDER BY source
    """,
)
def text_packing_boundary_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Context-window packing fragmentation per source: pack the
    doc_id-ordered token stream into {PACK_CTX}-token windows
    (concat-and-cut, the standard pretraining packer) and report how
    many documents straddle a window boundary, how many EXTRA windows
    each source's documents bleed into, and the crossing share — the
    fragmentation signal that decides ctx length vs a
    boundary-respecting packer.

    Exactness: token counts and window indices are integers; each
    doc's window span is floor arithmetic on the inclusive running
    total, so the report is bit-exact.

    Scale: the running total rides the range-exchange prefix helper
    (``stattests._range_prefix`` — per-partition cumsums + a
    P-row offset collect), NEVER a single-partition window; the
    oracle uses a plain window because DuckDB is single-node by
    definition. Everything after the prefix is one hash aggregate on
    source."""
    from .stattests import _range_prefix

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.expr(f"CAST(size({TOKENS_SPARK}) AS BIGINT)").alias("n_tok"),
    )
    pref = _range_prefix(toks, ["doc_id"], ["n_tok"])
    spans = pref.filter(F.col("n_tok") > 0).select(
        "source",
        "n_tok",
        F.expr(f"(cum_n_tok - n_tok) DIV {PACK_CTX}").alias("w_first"),
        F.expr(f"(cum_n_tok - 1) DIV {PACK_CTX}").alias("w_last"),
    )
    crossing = F.when(F.col("w_last") > F.col("w_first"), 1).otherwise(0)
    return (
        spans.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum(crossing).cast("bigint").alias("n_crossing"),
            F.sum(F.col("w_last") - F.col("w_first"))
            .cast("bigint")
            .alias("n_extra_windows"),
            (F.sum(crossing) * F.lit(1.0) / F.count(F.lit(1)))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("crossing_share"),
        )
        .orderBy("source")
    )


# ---- context-window packing EXECUTION (first-fit-decreasing) -------------
#
# text_packing_boundary_report MEASURES the fragmentation of naive
# concat-and-cut; this operator RUNS the better packer — first-fit-
# decreasing into fixed {PACK_CTX}-token windows, independently per
# substream (partition-parallel bins, the shard-manifest scale
# recipe) — and emits the packed-window manifest a training run's
# data loader actually consumes: one row per window with its doc
# count, used/wasted tokens, and the doc_id sum pinning the exact
# doc→window assignment. FFD is inherently sequential per substream,
# so the Spark side runs it as a per-group Python loop inside
# ``applyInPandas`` (64 groups × ~n/64 docs — embarrassingly
# parallel, never a global sort), and the oracle replays the same
# placement order step-by-step in a recursive CTE carrying the bins'
# remaining capacities as a list.

PACK_SUBSTREAMS = 64


def _ffd_oracle() -> str:
    # NULLIF guard: DuckDB's list_position returns 0 (not NULL) when
    # nothing matches — without it the ELSE branch indexes rems[0]
    # and the working lists blow up exponentially.
    pos = (
        "NULLIF(list_position("
        "list_transform(r.rems, x -> x >= dd.n_tok), true), 0)"
    )
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, doc_id % {PACK_SUBSTREAMS} AS substream,
             CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tok
      FROM documents
    ),
    eligible AS (
      SELECT * FROM toks WHERE n_tok > 0 AND n_tok <= {PACK_CTX}
    ),
    ranked AS MATERIALIZED (
      SELECT doc_id, substream, n_tok,
             ROW_NUMBER() OVER (
               PARTITION BY substream ORDER BY n_tok DESC, doc_id
             ) AS rnk
      FROM eligible
    ),
    psteps AS (
      SELECT substream, MAX(rnk) AS n_steps FROM ranked GROUP BY 1
    ),
    rec AS (
      SELECT s.substream, 0 AS step,
             CAST([] AS BIGINT[]) AS rems,
             CAST([] AS BIGINT[]) AS assigned
      FROM psteps s
      UNION ALL
      SELECT r.substream, r.step + 1,
             CASE WHEN {pos} IS NULL
                  THEN r.rems || [{PACK_CTX} - dd.n_tok]
                  ELSE list_slice(r.rems, 1, {pos} - 1)
                       || [r.rems[{pos}] - dd.n_tok]
                       || list_slice(r.rems, {pos} + 1, len(r.rems))
             END,
             r.assigned || [COALESCE({pos}, len(r.rems) + 1)]
      FROM rec r JOIN ranked dd
        ON dd.substream = r.substream AND dd.rnk = r.step + 1
    ),
    pfinal AS (
      SELECT r.substream, r.assigned
      FROM rec r JOIN psteps s
        ON s.substream = r.substream AND r.step = s.n_steps
    ),
    passign AS (
      SELECT f.substream, f.assigned[g.g] AS bin_seq, g.g AS rnk
      FROM pfinal f, generate_series(1, 1000000) g(g)
      WHERE g.g <= len(f.assigned)
    ),
    perdoc AS (
      SELECT a.substream, a.bin_seq, d.doc_id, d.n_tok
      FROM passign a JOIN ranked d
        ON d.substream = a.substream AND d.rnk = a.rnk
    )
    SELECT substream, bin_seq,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_tok)::BIGINT AS used_tokens,
           ({PACK_CTX} - SUM(n_tok))::BIGINT AS waste_tokens,
           SUM(doc_id)::BIGINT AS doc_id_sum
    FROM perdoc GROUP BY 1, 2
    """


def _ffd_pack_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """First-fit-decreasing over ONE substream's documents: sort by
    (n_tok DESC, doc_id), place each doc into the first window with
    room, open a new window when none fits. The (n_tok, doc_id) sort
    key makes placement — and therefore the manifest — deterministic
    and engine-reproducible."""
    import pandas as pd

    ss = int(pdf["substream"].iloc[0])
    docs = sorted(
        zip(pdf["n_tok"], pdf["doc_id"]),
        key=lambda p: (-int(p[0]), int(p[1])),
    )
    rems: list = []
    content: list = []
    for nt, did in docs:
        nt, did = int(nt), int(did)
        for i, rem in enumerate(rems):
            if rem >= nt:
                rems[i] -= nt
                content[i].append((did, nt))
                break
        else:
            rems.append(PACK_CTX - nt)
            content.append([(did, nt)])
    out: dict = {
        "substream": [], "bin_seq": [], "n_docs": [],
        "used_tokens": [], "waste_tokens": [], "doc_id_sum": [],
    }
    for i, c in enumerate(content):
        used = sum(n for _, n in c)
        out["substream"].append(ss)
        out["bin_seq"].append(i + 1)
        out["n_docs"].append(len(c))
        out["used_tokens"].append(used)
        out["waste_tokens"].append(PACK_CTX - used)
        out["doc_id_sum"].append(sum(d for d, _ in c))
    return pd.DataFrame(out)


@query("text_packing_execute", oracle=_ffd_oracle())
def text_packing_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the boundary-respecting packer: first-fit-decreasing
    into fixed {PACK_CTX}-token context windows, independently per
    ``doc_id % {PACK_SUBSTREAMS}`` substream. Emits the packed-window
    manifest (one row per window: doc count, used/wasted tokens, and
    ``doc_id_sum`` pinning the exact doc→window assignment) — the
    artifact a training data loader consumes, where
    ``text_packing_boundary_report`` only measures what naive
    concat-and-cut would fragment. Documents longer than the context
    (none in this corpus, but the contract matters) route OUT to the
    chunking path the boundary report models; empty documents pack
    nothing — both engines apply the same eligibility filter.

    Exactness: token counts, capacities, and the (n_tok DESC, doc_id)
    placement order are integers, so the manifest is bit-identical to
    the oracle's step-by-step recursive-CTE replay of the same FFD.

    Scale: FFD is sequential ONLY within a substream — the groupBy
    shuffles once on the substream key and each group runs its
    Python loop over ~n/{PACK_SUBSTREAMS} docs inside Arrow
    ``applyInPandas``; no global sort, no single task ever sees the
    corpus (plan-pinned). Substream boundaries cost at most one
    underfull window each — measured fill 0.946 at sf0.1 vs 1.0 for
    concat-and-cut, the price of ZERO document fragmentation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SUBSTREAMS).alias("substream"),
        F.expr(f"CAST(size({TOKENS_SPARK}) AS BIGINT)").alias("n_tok"),
    ).filter((F.col("n_tok") > 0) & (F.col("n_tok") <= PACK_CTX))
    return toks.groupBy("substream").applyInPandas(
        _ffd_pack_group,
        schema=(
            "substream long, bin_seq long, n_docs long,"
            " used_tokens long, waste_tokens long, doc_id_sum long"
        ),
    )


# ---- calibration report (reliability diagram + ECE) ----------------------
#
# A quality classifier that gates training data must be CALIBRATED,
# not just accurate — a score of 0.9 should be right ~90% of the
# time, or threshold-based curation budgets are fiction. This rung
# replays the text_logreg_train_gd trajectory (the SAME g/w CTE text,
# so the two operators certify each other), scores every document
# under the final weights, and reports the 10-bin reliability diagram
# with each bin's Expected-Calibration-Error contribution.

CALIB_BINS = 10


def _calib_scored(w_tbl: str) -> str:
    """Per-doc score under the final weights — shared text; doc_id
    rides along as the rank tie-break."""
    s_fin = _lr_sig("w.w0", "w.w1", "w.w2")
    return f"""scored AS (
      SELECT doc_id, y, CAST({s_fin} AS DOUBLE) AS p
      FROM f CROSS JOIN {w_tbl} w
    )"""


def _calib_finish(ranked_tbl: str, bigint: str, intdiv: str) -> str:
    """EQUAL-MASS (adaptive) reliability bins over the ranked score
    frame ``(y, p, rn, nt)``: bin = ((rn−1)·BINS) div nt — ten
    equal-count bins regardless of how tightly the classifier's
    scores cluster (fixed-width deciles put this model's whole corpus
    in ONE bin, a useless diagram; equal-mass is the adaptive-ECE
    binning the calibration literature prefers for exactly that
    reason). ``intdiv`` is the dialect integer-divide (// vs DIV) —
    the _mixture_finish convention."""
    return f"""binned AS (
      SELECT CAST(((rn - 1) * {CALIB_BINS}) {intdiv} nt AS {bigint}) AS bin,
             CAST(COUNT(*) AS {bigint}) AS n,
             SUM(CAST(p AS DECIMAL(28,12))) AS p_sum,
             CAST(SUM(y) AS {bigint}) AS n_pos,
             CAST(MAX(nt) AS {bigint}) AS nt
      FROM {ranked_tbl} GROUP BY 1
    )
    SELECT b.bin, b.n, b.n_pos,
           CAST(CAST(CAST(b.p_sum AS DOUBLE) / b.n
                AS DECIMAL(18,6)) AS DOUBLE) AS mean_conf,
           CAST(CAST(CAST(b.n_pos AS DOUBLE) / b.n
                AS DECIMAL(18,6)) AS DOUBLE) AS frac_pos,
           CAST(CAST(
             abs(CAST(b.n_pos AS DOUBLE) / b.n
                 - CAST(b.p_sum AS DOUBLE) / b.n)
             * b.n / b.nt
           AS DECIMAL(18,6)) AS DOUBLE) AS ece_term
    FROM binned b
    ORDER BY b.bin
    """


def _lr_calib_sql(feature_select: str, bigint: str, intdiv: str) -> str:
    gw_parts, _ = _lr_gw_parts(bigint)
    chain = "".join(gw_parts)  # each fragment carries its trailing comma
    return f"""
    WITH f AS (
      {feature_select}
    ),{chain}
    {_calib_scored(f"w{LR_STEPS}")},
    ranked AS (
      SELECT y, p,
             ROW_NUMBER() OVER (ORDER BY p, doc_id) AS rn,
             COUNT(*) OVER () AS nt
      FROM scored
    ),
    {_calib_finish("ranked", bigint, intdiv)}
    """


@query(
    "eval_calibration_ece",
    oracle=_lr_calib_sql(_lr_feature_select("duck"), "BIGINT", "//"),
)
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE for the in-engine quality classifier:
    re-derives text_logreg_train_gd's final weights through the SAME
    gradient/weight CTE text (``_lr_gw_parts`` — one trajectory, two
    certifying operators), scores every document, and reports per
    confidence decile: count, positives, mean confidence, empirical
    positive rate, and the bin's ECE contribution (sum the column for
    the scalar ECE). The artifact a data-curation review reads before
    trusting a quality threshold.

    Exactness: weights are the pinned training trajectory; each
    document's score is one IEEE sigmoid chain under broadcast 1-row
    weights; bin sums pin DECIMAL(28,12); the per-bin ratios are
    single chains over exact aggregates.

    Scale: training is the logreg op's cost (per step one moment
    aggregate over the persisted feature frame); scoring + binning is
    ONE additional pass with a {CALIB_BINS}-group aggregate. No
    window, no driver math."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("calib_documents")
    feats = spark.sql(_lr_feature_select("spark", "calib_documents"))
    feats.persist()
    feats.createOrReplaceTempView("calib_features")
    f_cte = "f AS (SELECT doc_id, x1, x2, y FROM calib_features)"
    _lr_train_weights_spark(spark, f_cte, "calib_w")
    scored = spark.sql(
        f"WITH {f_cte},\n"
        f"    {_calib_scored(f'calib_w{LR_STEPS}')}\n"
        f"SELECT * FROM scored"
    )
    from .stattests import _range_prefix

    ranked = _range_prefix(
        scored.withColumn("one", F.lit(1)), ["p", "doc_id"], ["one"]
    ).crossJoin(
        F.broadcast(scored.agg(F.count(F.lit(1)).alias("nt")))
    ).select("y", "p", F.col("cum_one").alias("rn"), "nt")
    ranked.createOrReplaceTempView("calib_ranked")
    return spark.sql(f"WITH {_calib_finish('calib_ranked', 'BIGINT', 'DIV')}")


# ---- per-domain quota sampling ------------------------------------------
#
# The anti-SEO-farm dial every web-corpus pipeline runs: no single
# domain may contribute more than DOMAIN_QUOTA_CAP documents, and the
# survivors within a capped domain are drawn by a deterministic
# content-independent hash rank (the ``text_mixture_execute`` window
# pattern), so the kept set is identical across runs, engines, and
# cluster sizes. URLs are synthesized from document attributes (the
# ``scalar_url_funcs`` convention — the testdata has no URL column),
# with a planted heavy domain: 40% of docs land on
# ``contentfarm.example.com`` so the cap demonstrably bites while the
# long tail of per-source domains passes (at small SF) untouched.

DOMAIN_QUOTA_CAP = 60
_DQ_SALTS = 32  # phase-1 fan-out of the per-host top-K (skew killer)

_DQ_HOST_SRC = "CASE WHEN doc_id % 10 < 4 THEN 'contentfarm' ELSE source END"


@query(
    "text_domain_quota_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             'https://' || ({_DQ_HOST_SRC}) || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
      FROM t
    ),
    r AS (
      SELECT doc_id, host,
             ROW_NUMBER() OVER (
               PARTITION BY host
               ORDER BY {hash60_duck("'dq' || CAST(doc_id AS VARCHAR)")},
                        doc_id
             ) AS rn
      FROM h
    )
    SELECT host,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN rn <= {DOMAIN_QUOTA_CAP} THEN 1 ELSE 0 END)::BIGINT
             AS n_kept,
           SUM(CASE WHEN rn > {DOMAIN_QUOTA_CAP} THEN 1 ELSE 0 END)::BIGINT
             AS n_dropped,
           MAX(rn) > {DOMAIN_QUOTA_CAP} AS capped,
           SUM(CASE WHEN rn <= {DOMAIN_QUOTA_CAP} THEN doc_id
                    ELSE 0 END)::BIGINT AS kept_id_sum
    FROM r GROUP BY host
    """,
)
def text_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling report: synthesize each document's
    URL, extract the HOST with Spark's native ``parse_url`` (JVM
    java.net — the production domain key for web curation; the oracle
    re-derives it with the anchored regex, equivalent on these
    RFC-plain URLs per the ``scalar_url_funcs`` precedent), rank each
    domain's docs by a deterministic 60-bit id hash, and keep the
    first {DOMAIN_QUOTA_CAP} — reporting per domain how many docs
    arrived, survived, and were dropped, whether the cap bit, and the
    SUM of surviving doc_ids (``kept_id_sum``): the checksum that
    makes the oracle hash pin the exact SURVIVOR SET, not just its
    size (the counts alone are derivable without any ranking).

    Plan & scale: counts are a plain partial+final agg (skew-immune).
    The draw itself is a TWO-PHASE distributed per-host top-K —
    phase 1 ranks within (host, salt = doc_id % {_DQ_SALTS}) and
    keeps each salt's local top {DOMAIN_QUOTA_CAP}; phase 2 ranks the
    ≤ {_DQ_SALTS}·{DOMAIN_QUOTA_CAP} candidates per host exactly. A
    mega-domain (the planted 40% contentfarm — the exact skew the cap
    exists for) therefore never sorts on a single task: its rows
    spread over {_DQ_SALTS} salted partitions and the only per-host
    sort touches a capped candidate frame. Correctness: any global
    top-K row has local rank ≤ K in its salt, so phase 1 is a
    superset. The hash draw means a re-crawl only displaces survivors
    at the margin, never reshuffles the whole kept set."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.expr(_DQ_HOST_SRC),
            F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?lang="),
            F.col("lang"),
        ).alias("url"),
    )
    h = t.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.expr(hash60_spark("'dq' || CAST(doc_id AS STRING)")).alias("hk"),
    )
    counts = h.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    wl = Window.partitionBy("host", "salt").orderBy("hk", "doc_id")
    cand = (
        h.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(_DQ_SALTS)))
        .withColumn("lrn", F.row_number().over(wl))
        .filter(F.col("lrn") <= DOMAIN_QUOTA_CAP)
    )
    wg = Window.partitionBy("host").orderBy("hk", "doc_id")
    ksum = (
        cand.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= DOMAIN_QUOTA_CAP)
        .groupBy("host")
        .agg(F.sum("doc_id").cast("bigint").alias("kept_id_sum"))
    )
    n_kept = F.least(F.col("n_docs"), F.lit(DOMAIN_QUOTA_CAP))
    return counts.join(ksum, "host").select(
        "host",
        "n_docs",
        n_kept.cast("bigint").alias("n_kept"),
        (F.col("n_docs") - n_kept).cast("bigint").alias("n_dropped"),
        (F.col("n_docs") > DOMAIN_QUOTA_CAP).alias("capped"),
        "kept_id_sum",
    )

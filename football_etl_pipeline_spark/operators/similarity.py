"""Similarity-search operators over the ``embeddings`` table
(``vec_id``, ``embedding: array<float>[64]``, ``label``): cosine
near-duplicate pairs, brute-force top-k neighbors, and a
hyperplane-LSH bucketed ANN variant — the embedding leg of a
training-data dedup/retrieval pipeline (new surface per
BASELINE.json:6; the reference has no vector ops).

Everything is built-in DataFrame expressions — the dot product is a
``zip_with`` + ``aggregate`` fold, which Spark and DuckDB evaluate in
the same element order, so cosine scores are BIT-IDENTICAL across
engines (verified) and every query has an exact oracle.

Scale design (100 TB of vectors):
- cosine_pairs / topk_bruteforce are O(n²) cross joins — correct
  baselines, fine for ≤10⁵ vectors per partition-group, NOT the scale
  path. Spark broadcasts the smaller side (here the 5-row query set),
  so brute-force top-k is a single broadcast-nested-loop with a
  per-partition TakeOrdered — no shuffle of the big side at all.
- ann_lsh is the scale path: a random-hyperplane signature maps each
  vector to a bucket (one narrow projection, no shuffle), and search
  joins only same-bucket vectors — O(n·n/2^planes) expected pair
  work, tunable by plane count. The hyperplanes are derived from the
  engine's portable 60-bit md5 hash, so both engines materialize the
  exact same planes without shipping 512 float literals around.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import query
from .textops import hash60_duck, hash60_spark

DIM = 64
COSINE_NEAR_THRESHOLD = 0.45  # max background cosine here is ~0.51
TOPK = 10
N_QUERIES = 5  # vec_id < 5 are the standing query vectors
# Tuned by measurement (tests/test_ann_recall.py): for a cosine-0.5
# neighbor one k-plane table hits with p = (1-θ/π)^k — k=4 gives 0.20,
# k=3 gives 0.30 — and L tables lift it to 1-(1-p)^L: the old 4×4
# measured ~0.5 mean recall; 8×3 predicts ~0.94 and the test floor is
# 0.8. Fewer planes per table = coarser buckets = more candidates per
# table; that trade is bounded by the DISTINCT on candidate pairs and
# is the knob to re-tighten if corpus-scale candidate volume bites.
ANN_PLANES = 3  # 8 buckets per table
ANN_TABLES = 8  # multi-table LSH: union candidates over 8 signatures
ANN_TOPK = 5


# ---- shared expression builders -------------------------------------

def _dot_spark(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _dot_duck(a: str, b: str) -> str:
    return f"list_sum([{a}[i+1] * {b}[i+1] for i in range({DIM})])"


def _norm_spark(a: str) -> str:
    return f"sqrt({_dot_spark(a, a)})"


def _norm_duck(a: str) -> str:
    return f"sqrt({_dot_duck(a, a)})"


# Pseudo-random hyperplane component p(i, j) ∈ [-1, 1], derived from
# the md5 of 'plane-i-j' — PRECOMPUTED in Python (hashlib md5 ==
# Spark/DuckDB md5) and embedded as double literals, so neither engine
# hashes per row. repr() round-trips doubles exactly in both parsers.

def _plane(i: int) -> list[float]:
    import hashlib

    out = []
    for j in range(DIM):
        h = int(hashlib.md5(f"plane-{i}-{j}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def _plane_spark(i: int) -> str:
    return "array(" + ", ".join(f"{v!r}D" for v in _plane(i)) + ")"


def _plane_duck(i: int) -> str:
    # parenthesized so the literal can be indexed inside _dot_duck
    return "([" + ", ".join(repr(v) for v in _plane(i)) + "])"


def _bucket_spark(vec: str) -> str:
    bits = [
        f"(CASE WHEN {_dot_spark(vec, _plane_spark(i))} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(ANN_PLANES)
    ]
    return " + ".join(bits)


def _bucket_duck(vec: str) -> str:
    bits = [
        f"(CASE WHEN {_dot_duck(vec, _plane_duck(i))} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(ANN_PLANES)
    ]
    return " + ".join(bits)


_NORMED_DUCK = f"""
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_norm_duck("(embedding::DOUBLE[])")} AS nrm
      FROM embeddings
"""


@query(
    "similarity_cosine_pairs",
    oracle=f"""
    WITH e AS ({_NORMED_DUCK})
    SELECT
      a.vec_id AS a_id,
      b.vec_id AS b_id,
      CAST(CAST({_dot_duck("a.v", "b.v")} / (a.nrm * b.nrm) AS DECIMAL(18,6)) AS DOUBLE) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_dot_duck("a.v", "b.v")} / (a.nrm * b.nrm) >= {COSINE_NEAR_THRESHOLD}
    """,
)
def similarity_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: all (a, b) with cosine ≥ 0.45.

    The exact O(n²) baseline — a self cross-join with the pair filter
    evaluated inside codegen. Correctness anchor for ``ann_lsh``; at
    scale, bucket first (LSH) or pre-partition by coarse quantizer so
    each executor only crosses its own cell.
    """
    e = _normed(spark, sf_dir)
    # spread the probe side: the corpus is one input split, and the
    # n²/2 fold-dot evals otherwise run as ONE task (measured 22s →
    # 2.3s at sf0.1); the build side stays broadcast-sized
    a = e.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = e.alias("b")
    cos = F.expr(_dot_spark("a.v", "b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= COSINE_NEAR_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            cos.cast("decimal(18,6)").cast("double").alias("cosine"),
        )
    )


@query(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH e AS ({_NORMED_DUCK}),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT
        q.vec_id AS query_id,
        e.vec_id AS neighbor_id,
        {_dot_duck("q.v", "e.v")} / (q.nrm * e.nrm) AS cosine
      FROM q JOIN e ON e.vec_id <> q.vec_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(CAST(cosine AS DECIMAL(18,6)) AS DOUBLE) AS cosine, rnk
    FROM ranked WHERE rnk <= {TOPK}
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for the 5 standing query vectors.

    Plan: the tiny query side is broadcast, so scoring is a broadcast
    nested-loop over one scan of the corpus; ranking is a window over
    (query_id) — 5 keys, trivially parallel. This is the exact-recall
    baseline ANN is measured against.
    """
    e = _normed(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES)
    cos = F.expr(_dot_spark("q.v", "e.v")) / (F.col("q.nrm") * F.col("e.nrm"))
    scored = (
        F.broadcast(q.alias("q"))
        .join(e.alias("e"), F.col("e.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("e.vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("cosine").cast("decimal(18,6)").cast("double").alias("cosine"),
            "rnk",
        )
    )


def _tables_duck() -> str:
    """UNION ALL of per-table (vec_id, table_id, bucket) rows — table
    t uses planes t*ANN_PLANES .. t*ANN_PLANES+3."""
    parts = []
    for t in range(ANN_TABLES):
        bits = " + ".join(
            f"(CASE WHEN {_dot_duck('v', _plane_duck(t * ANN_PLANES + i))} > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(ANN_PLANES)
        )
        parts.append(
            f"      SELECT vec_id, v, nrm, {t} AS table_id, {bits} AS bucket FROM e"
        )
    return "\n      UNION ALL\n".join(parts)


@query(
    "similarity_ann_lsh",
    oracle=f"""
    WITH e AS ({_NORMED_DUCK}),
    bucketed AS (
{_tables_duck()}
    ),
    q AS (SELECT * FROM bucketed WHERE vec_id < {N_QUERIES}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM q JOIN bucketed c
        ON c.table_id = q.table_id AND c.bucket = q.bucket
       AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT
        cand.query_id,
        cand.neighbor_id,
        {_dot_duck("qe.v", "ne.v")} / (qe.nrm * ne.nrm) AS cosine
      FROM cand
      JOIN e qe ON qe.vec_id = cand.query_id
      JOIN e ne ON ne.vec_id = cand.neighbor_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id,
           CAST(CAST(cosine AS DECIMAL(18,6)) AS DOUBLE) AS cosine, rnk
    FROM ranked WHERE rnk <= {ANN_TOPK}
    """,
)
def similarity_ann_lsh(
    spark: SparkSession, sf_dir: str, candidates_only: bool = False
) -> DataFrame:
    """Approximate top-5 neighbors via MULTI-TABLE random-hyperplane
    LSH: ANN_TABLES independent ANN_PLANES-plane signatures per
    vector; candidates = union of same-bucket vectors over all tables.

    One table's recall for a cosine-0.5 neighbor is only
    (1−θ/π)^k — we MEASURED 0.08 on this corpus with a single
    4-plane table, ~0.5 with 4×4 (tests/test_ann_recall.py), and the
    current 8 tables × 3 planes holds the ≥0.8 test floor
    (predicted 1−(1−0.3)^8 ≈ 0.94). That measurement loop is the
    operator's design story: recall and candidate volume trade off
    via (planes per table, tables).

    Plan: bucket assignment is a per-row projection exploded L× (no
    shuffle — planes are precomputed literals shared with the
    oracle); candidate generation is an equality join on
    (table, bucket); scoring joins back to the vectors only for the
    DISTINCT candidate pairs."""
    e = _normed(spark, sf_dir).persist()
    tables = []
    for t in range(ANN_TABLES):
        bits = " + ".join(
            f"(CASE WHEN {_dot_spark('v', _plane_spark(t * ANN_PLANES + i))} > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(ANN_PLANES)
        )
        tables.append(
            F.struct(F.lit(t).alias("table_id"), F.expr(bits).alias("bucket"))
        )
    bucketed = e.select(
        "vec_id", F.explode(F.array(*tables)).alias("tb")
    ).select("vec_id", "tb.table_id", "tb.bucket")
    q = bucketed.filter(F.col("vec_id") < N_QUERIES)
    cand = (
        F.broadcast(q.alias("q"))
        .join(
            bucketed.alias("c"),
            (F.col("c.table_id") == F.col("q.table_id"))
            & (F.col("c.bucket") == F.col("q.bucket"))
            & (F.col("c.vec_id") != F.col("q.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    if candidates_only:
        return cand
    cos = F.expr(_dot_spark("qe.v", "ne.v")) / (F.col("qe.nrm") * F.col("ne.nrm"))
    scored = (
        cand.join(e.alias("qe"), F.col("qe.vec_id") == F.col("query_id"))
        .join(e.alias("ne"), F.col("ne.vec_id") == F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ANN_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("cosine").cast("decimal(18,6)").cast("double").alias("cosine"),
            "rnk",
        )
    )


# ---- IVF (inverted-file) ANN ----------------------------------------

IVF_K = 8        # coarse-quantizer cells
IVF_NPROBE = 3   # cells probed per query
IVF_TOPK = 5

_CENT_DUCK = f"""
      SELECT vec_id AS c_id, v AS cv, nrm AS cnrm
      FROM e WHERE vec_id < {IVF_K}
"""


def _first_k_cent(e: DataFrame) -> DataFrame:
    """The fixed IVF seed quantizer: the first IVF_K normed vectors as
    (c_id, cv, cnrm) centroids — the Spark twin of ``_CENT_DUCK``."""
    return e.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )


def _ivf_aff(e: DataFrame, cent: DataFrame) -> DataFrame:
    """Every vector's cosine ``ccos`` to each centroid of ``cent``
    (c_id, cv, cnrm) and its rank ``crank`` among them (1 = the
    vector's cell; ties to the lower c_id). One corpus scan ×
    broadcast(K), persisted: the assignment and the query-probe sides
    both read it."""
    ccos = F.expr(_dot_spark("v", "cv")) / (F.col("nrm") * F.col("cnrm"))
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id").asc()
    )
    return (
        e.join(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crank", F.row_number().over(wcell))
        .persist()
    )


def _ivf_search(e: DataFrame, cent: DataFrame) -> DataFrame:
    """IVF-flat search of the normed vectors ``e`` (vec_id, v, nrm)
    over the centroids ``cent``: each vector joins its nearest cell,
    each standing query probes its IVF_NPROBE nearest cells, and only
    those cells' vectors are scored by exact cosine; top IVF_TOPK per
    query, ties to the lower neighbor_id."""
    aff = _ivf_aff(e, cent)
    assign = aff.filter(F.col("crank") == 1).select(
        "vec_id", "v", "nrm", F.col("c_id").alias("cell")
    )
    qcells = aff.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("crank") <= IVF_NPROBE)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("c_id").alias("cell"),
    )
    qcos = F.expr(_dot_spark("qv", "v")) / (F.col("qnrm") * F.col("nrm"))
    scored = (
        F.broadcast(qcells)
        .join(assign, (qcells.cell == assign.cell) & (assign.vec_id != qcells.q_id))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            qcos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= IVF_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("cosine").cast("decimal(18,6)").cast("double").alias("cosine"),
            "rnk",
        )
    )


@query(
    "similarity_ann_ivf",
    oracle=f"""
    WITH e AS ({_NORMED_DUCK}),
    cent AS ({_CENT_DUCK}),
    aff AS (
      SELECT e.vec_id, e.v, e.nrm, c.c_id,
             {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) AS ccos,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) DESC,
                        c.c_id ASC
             ) AS crank
      FROM e CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, v, nrm, c_id AS cell FROM aff WHERE crank = 1),
    qcells AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, c_id AS cell
      FROM aff WHERE vec_id < {N_QUERIES} AND crank <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT q.q_id AS query_id, a.vec_id AS neighbor_id, q.cell,
             {_dot_duck("q.qv", "a.v")} / (q.qnrm * a.nrm) AS cosine
      FROM qcells q JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(CAST(cosine AS DECIMAL(18,6)) AS DOUBLE) AS cosine, rnk
    FROM ranked WHERE rnk <= {IVF_TOPK}
    """,
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: a coarse quantizer assigns every vector to its
    nearest of K centroid cells (the inverted file); queries probe
    their IVF_NPROBE closest cells and rank only those candidates.

    Centroids here are fixed (the first K corpus vectors) so the
    operator — and its oracle — is fully deterministic; a production
    IVF trains them with k-means OFFLINE and ships them exactly like
    this: a small broadcast table. The assignment pass is one corpus
    scan × broadcast(K); the search joins candidates by cell — the
    classic recall/latency dial is (K, nprobe), orthogonal to the
    plumbing shown. Multi-probe means a query can rank ~2/K of the
    corpus instead of all of it."""
    e = _normed(spark, sf_dir)
    cent = _first_k_cent(e)
    return _ivf_search(e, cent)


# ---- int8 embedding quantization -------------------------------------


@query(
    "embedding_quantize_int8",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS mx
      FROM e
    ), q AS (
      SELECT vec_id, mx,
             CASE WHEN mx > 0 THEN
               list_transform(v, x -> CAST(FLOOR(x * 127.0 / mx + 0.5) AS INT))
             ELSE list_transform(v, x -> 0) END AS qv
      FROM m
    )
    SELECT
      vec_id,
      CAST(CAST(mx / 127.0 AS DECIMAL(18,12)) AS DOUBLE) AS scale,
      CAST(len(qv) AS INT) AS n_dims,
      CAST(list_sum(qv) AS BIGINT) AS q_sum,
      array_to_string(qv, '|') AS q_vals
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    max-abs scale, q_i = floor(127·v_i/max + 0.5) — the 4× storage /
    bandwidth cut every large retrieval index applies before serving,
    with the scale kept for dequantization.

    Plan: a pure per-row projection — zero shuffles, no Python, all
    higher-order functions in one WholeStageCodegen span; at 100 TB
    this runs at scan speed and is the natural pre-step before
    writing a serving index. All math is deterministic per-element
    double arithmetic (identical in both engines; the only aggregate,
    max-abs, is order-insensitive), so the oracle compare is exact.
    The int vector is serialized in the final projection per the
    scalar-only output rule; q_sum is the cheap integrity checksum a
    downstream loader can re-verify."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    m = e.withColumn(
        "mx", F.expr("aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x)))")
    )
    q = m.withColumn(
        "qv",
        F.expr(
            "CASE WHEN mx > 0 THEN"
            " transform(v, x -> CAST(FLOOR(x * 127.0D / mx + 0.5D) AS INT))"
            " ELSE transform(v, x -> 0) END"
        ),
    )
    return q.select(
        "vec_id",
        (F.col("mx") / 127.0).cast("decimal(18,12)").cast("double").alias("scale"),
        F.size("qv").cast("int").alias("n_dims"),
        F.expr("aggregate(qv, 0L, (acc, x) -> acc + x)").alias("q_sum"),
        F.array_join("qv", "|").alias("q_vals"),
    )


# ---- k-means refinement step (IVF centroid training) -----------------

KMEANS_MICRO = 1_000_000_000  # nano-unit fixed point for exact means


@query(
    "embedding_kmeans_step",
    oracle=f"""
    WITH e AS ({_NORMED_DUCK}),
    cent AS ({_CENT_DUCK}),
    aff AS (
      SELECT e.vec_id, e.v, c.c_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) DESC,
                        c.c_id ASC
             ) AS crank
      FROM e CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, v, c_id AS cell FROM aff WHERE crank = 1),
    dims AS (
      SELECT cell, d.d AS dim,
             CAST(FLOOR(v[d.d + 1] * {KMEANS_MICRO}) AS BIGINT) AS micro
      FROM assign, LATERAL (SELECT unnest(range({DIM})) AS d) d
    )
    SELECT cell, dim,
           COUNT(*) AS n_members,
           SUM(micro)::BIGINT AS sum_micro,
           CAST(SUM(micro) AS DOUBLE) / (COUNT(*) * {KMEANS_MICRO}.0)
             AS centroid
    FROM dims GROUP BY cell, dim
    """,
)
def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) refinement step for the IVF coarse
    quantizer: assign every vector to its nearest current centroid
    (cosine, same assignment pass as ``similarity_ann_ivf``), then
    recompute each cell's centroid as the per-dimension member mean —
    the training loop that turns the fixed seed centroids into real
    ones runs exactly this step until movement stalls.

    Exactness: per-dimension sums are floor'd nano-unit BIGINTs
    (``floor(v·1e9)``), so the aggregation is integer — order-
    insensitive with no decimal rounding ties — and the emitted
    centroid is one deterministic double division. Plan: broadcast(K)
    assignment scan → posexplode to (cell, dim) → ONE partial-agg
    shuffle on (cell, dim) = K·DIM groups; at 100 TB the map-side
    combine reduces each task's output to ≤ K·DIM rows regardless of
    corpus size — the canonical iterative-ML shape on Spark (each
    Lloyd iteration is one such pass with re-broadcast centroids)."""
    e = _normed(spark, sf_dir)
    cent = _first_k_cent(e)
    ccos = F.expr(_dot_spark("v", "cv")) / (F.col("nrm") * F.col("cnrm"))
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id").asc()
    )
    assign = (
        e.join(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crank", F.row_number().over(wcell))
        .filter(F.col("crank") == 1)
        .select("vec_id", "v", F.col("c_id").alias("cell"))
    )
    dims = assign.select(
        "cell",
        F.posexplode("v").alias("dim", "val"),
    ).select(
        "cell",
        "dim",
        F.floor(F.col("val") * KMEANS_MICRO).cast("bigint").alias("micro"),
    )
    return dims.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("micro").alias("sum_micro"),
        (
            F.sum("micro").cast("double")
            / (F.count(F.lit(1)) * float(KMEANS_MICRO))
        ).alias("centroid"),
    )


# ---- multi-iteration k-means training + trained-centroid IVF ---------

KMEANS_ITERS = 3  # fixed iteration count keeps the DuckDB oracle expressible


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", F.expr(_norm_spark("v")))
    )


def _cent_df(spark: SparkSession, cents: dict[int, list[float]]) -> DataFrame:
    """Broadcastable centroid frame from driver-side vectors. Doubles
    round-trip exactly through collect/createDataFrame, so the values
    are bit-identical to what the oracle computes in-engine."""
    rows = [(int(c), [float(x) for x in vec]) for c, vec in sorted(cents.items())]
    df = spark.createDataFrame(rows, "c_id bigint, cv array<double>")
    return df.withColumn("cnrm", F.expr(_norm_spark("cv")))


def _assign_cells(e: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, v, cell): nearest-centroid assignment by cosine, ties
    broken on c_id — the shared pass of ann_ivf / kmeans."""
    ccos = F.expr(_dot_spark("v", "cv")) / (F.col("nrm") * F.col("cnrm"))
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id").asc()
    )
    return (
        e.join(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crank", F.row_number().over(wcell))
        .filter(F.col("crank") == 1)
        .select("vec_id", "v", F.col("c_id").alias("cell"))
    )


def _cell_dim_means(assign: DataFrame) -> DataFrame:
    """(cell, dim, n_members, sum_micro, centroid): exact nano-unit
    member means per centroid dimension."""
    dims = assign.select("cell", F.posexplode("v").alias("dim", "val")).select(
        "cell",
        "dim",
        F.floor(F.col("val") * KMEANS_MICRO).cast("bigint").alias("micro"),
    )
    return dims.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("micro").alias("sum_micro"),
        (
            F.sum("micro").cast("double")
            / (F.count(F.lit(1)) * float(KMEANS_MICRO))
        ).alias("centroid"),
    )


def _train_centroids(
    spark: SparkSession, e: DataFrame, iters: int, k: int = IVF_K
) -> dict[int, list[float]]:
    """Lloyd's algorithm driver loop: ``iters`` refinement steps from
    the first-K seed. Each step is one broadcast-assignment scan plus
    ONE partial-agg shuffle of K·DIM groups; only K·DIM rows ever
    reach the driver per step (the graph.py convergence-checksum shape
    — at 100 TB the collect is 512 rows, not data). Empty cells keep
    their previous centroid. Division ``sum_micro / (n · 1e9)`` on
    exactly-representable ints matches both engines' double division
    bit-for-bit, so trained centroids are oracle-exact."""
    seed = e.filter(F.col("vec_id") < k).select("vec_id", "v").collect()
    cents = {int(r.vec_id): list(r.v) for r in seed}
    for _ in range(iters):
        means = _cell_dim_means(_assign_cells(e, _cent_df(spark, cents)))
        nxt: dict[int, list[float]] = {}
        for r in means.collect():
            nxt.setdefault(int(r.cell), [0.0] * DIM)[r.dim] = r.sum_micro / (
                r.n_members * KMEANS_MICRO
            )
        merged = dict(cents)
        merged.update(nxt)
        cents = merged
    return cents


def _train_centroids_df(e: DataFrame, iters: int, k: int = IVF_K) -> DataFrame:
    """DataFrame-native Lloyd trainer (r16, guide §1.2/§5): the same
    ``iters``-step trajectory as ``_train_centroids`` but with NO
    driver round-trip per step — each refinement is the oracle's own
    ``cent{{i}}`` CTE shape (assignment means LEFT-joined onto the
    previous centroid set, empty cells keep their vector), composed
    lazily and executed inside the consumer query's single action.
    The driver loop's per-step ``collect()`` + ``createDataFrame()``
    round-trips (4 py4j/Python stalls per training run, measured
    ~2.9 s of dedup_semantic_clusters' ~4.5 s at sf0.1) disappear;
    the trained values are bit-identical because the driver path's
    Python division of exactly-representable ints IS the engine's
    double division (the ``_train_centroids`` docstring invariant,
    certified by the unchanged kmeans-family oracle hashes).

    Each step's centroid frame is lazily localCheckpointed (the
    graph.py eager=False rule — no driver decision per step, so the
    consumer's action is the materializing cascade): iteration i+1
    references cent_i twice (the left join and the carry-forward
    coalesce), so an uncut chain would both recompute the prefix
    2^iters times AND double the analyzed plan per step (measured:
    the persist-only variant left 1008–6634 Exchange nodes of inlined
    lineage text in the consumers' plans)."""
    cent = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    for _ in range(iters):
        means = _cell_dim_means(_assign_cells(e, cent))
        mcv = means.groupBy("cell").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, centroid))),"
                " x -> x.centroid)"
            ).alias("mcv")
        )
        cent = (
            cent.join(mcv, cent.c_id == mcv.cell, "left")
            .select("c_id", F.coalesce("mcv", "cv").alias("cv"))
            .withColumn("cnrm", F.expr(_norm_spark("cv")))
            .localCheckpoint(eager=False)
        )
    return cent


def _kmeans_cte_chain(
    iters: int, k: int = IVF_K, e_select: str | None = None
) -> tuple[str, str, str]:
    """DuckDB CTE chain unrolling ``iters`` Lloyd steps. Returns
    (with_body, last_means_cte, last_cent_cte) — last_cent_cte is the
    centroid set AFTER the final step (empty cells kept), ready for an
    IVF search; last_means_cte is the final step's per-(cell, dim)
    aggregate."""
    parts = [
        f"e AS ({e_select or _NORMED_DUCK})",
        f"cent0 AS (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm"
        f" FROM e WHERE vec_id < {k})",
    ]
    prev = "cent0"
    for i in range(1, iters + 1):
        parts.append(
            f"""aff{i} AS (
      SELECT e.vec_id, e.v, c.c_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) DESC,
                        c.c_id ASC
             ) AS crank
      FROM e CROSS JOIN {prev} c
    )"""
        )
        parts.append(
            f"assign{i} AS (SELECT vec_id, v, c_id AS cell FROM aff{i} WHERE crank = 1)"
        )
        parts.append(
            f"""means{i} AS (
      SELECT cell, d.d AS dim,
             COUNT(*) AS n_members,
             SUM(CAST(FLOOR(v[d.d + 1] * {KMEANS_MICRO}) AS BIGINT))::BIGINT AS sum_micro,
             CAST(SUM(CAST(FLOOR(v[d.d + 1] * {KMEANS_MICRO}) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * {KMEANS_MICRO}.0) AS centroid
      FROM assign{i}, LATERAL (SELECT unnest(range({DIM})) AS d) d
      GROUP BY cell, dim
    )"""
        )
        parts.append(
            f"""cent{i} AS (
      SELECT c.c_id, COALESCE(m.cv, c.cv) AS cv,
             sqrt({_dot_duck("COALESCE(m.cv, c.cv)", "COALESCE(m.cv, c.cv)")}) AS cnrm
      FROM {prev} c
      LEFT JOIN (SELECT cell, list(centroid ORDER BY dim) AS cv
                 FROM means{i} GROUP BY cell) m
        ON m.cell = c.c_id
    )"""
        )
        prev = f"cent{i}"
    return ",\n    ".join(parts), f"means{iters}", prev


def _kmeans_train_oracle() -> str:
    body, last_means, _ = _kmeans_cte_chain(KMEANS_ITERS)
    return f"""
    WITH {body}
    SELECT cell, dim, n_members, sum_micro, centroid FROM {last_means}
    """


@query("embedding_kmeans_train", oracle=_kmeans_train_oracle())
def embedding_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means training for the IVF coarse quantizer:
    KMEANS_ITERS (3) Lloyd steps from the first-K seed — the offline
    loop ``embedding_kmeans_step``'s docstring promises, as one
    operator. Output is the final step's per-(cell, dim) aggregate
    (same schema as the single step, so step == train at ITERS=1).

    The iteration count is FIXED, which is what keeps a driver-loop
    algorithm SQL-expressible: the oracle unrolls the same three
    assignment→mean rounds as CTEs and must land on bit-identical
    centroids each round for the final hash compare to pass — so this
    green row certifies the whole training trajectory, not just the
    last step. Scale: per step, one broadcast(K) scan + one K·DIM-
    group shuffle; driver traffic is K·DIM rows per step."""
    e = _normed(spark, sf_dir).persist()
    cent = _train_centroids_df(e, KMEANS_ITERS - 1)
    return _cell_dim_means(_assign_cells(e, cent))


def _ivf_trained_oracle() -> str:
    body, _, last_cent = _kmeans_cte_chain(KMEANS_ITERS)
    return f"""
    WITH {body},
    aff AS (
      SELECT e.vec_id, e.v, e.nrm, c.c_id,
             {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) AS ccos,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) DESC,
                        c.c_id ASC
             ) AS crank
      FROM e CROSS JOIN {last_cent} c
    ),
    assign AS (SELECT vec_id, v, nrm, c_id AS cell FROM aff WHERE crank = 1),
    qcells AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, c_id AS cell
      FROM aff WHERE vec_id < {N_QUERIES} AND crank <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT q.q_id AS query_id, a.vec_id AS neighbor_id,
             {_dot_duck("q.qv", "a.v")} / (q.qnrm * a.nrm) AS cosine
      FROM qcells q JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(CAST(cosine AS DECIMAL(18,6)) AS DOUBLE) AS cosine, rnk
    FROM ranked WHERE rnk <= {IVF_TOPK}
    """


@query("similarity_ann_ivf_trained", oracle=_ivf_trained_oracle())
def similarity_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN over TRAINED centroids: the KMEANS_ITERS-step
    Lloyd loop replaces ``similarity_ann_ivf``'s first-K seed, then
    the identical nprobe-3 search runs — the production IVF shape
    (train offline, broadcast the small trained codebook, search).
    tests/test_ann_recall.py asserts trained centroids reach at least
    the seed quantizer's recall at equal nprobe with bounded
    candidate volume; the oracle replays training AND search, so the
    green row certifies both."""
    e = _normed(spark, sf_dir).persist()
    cent = _train_centroids_df(e, KMEANS_ITERS)
    return _ivf_search(e, cent)


# ---- hard-negative mining --------------------------------------------

HARDNEG_K = 5


@query(
    "similarity_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_norm_duck("(embedding::DOUBLE[])")} AS nrm,
             label
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT
        q.vec_id AS query_id,
        e.vec_id AS neighbor_id,
        e.label AS neighbor_label,
        {_dot_duck("q.v", "e.v")} / (q.nrm * e.nrm) AS cosine
      FROM q JOIN e ON e.label <> q.label
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, neighbor_label,
           CAST(CAST(cosine AS DECIMAL(18,6)) AS DOUBLE) AS cosine, rnk
    FROM ranked WHERE rnk <= {HARDNEG_K}
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each standing
    query vector, the HARDNEG_K most-similar vectors with a DIFFERENT
    label — maximally confusable negatives, the selection step behind
    every dense-retriever / embedding-model training pipeline.

    Plan: identical to ``similarity_topk_bruteforce`` (broadcast query
    side, one corpus scan, per-query top-k window) with the label
    inequality folded into the broadcast join condition, so mismatched
    labels are dropped before scoring. At scale the same predicate
    rides any of the bucketed ANN variants — the blocking is
    orthogonal to the label filter."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            "label",
        )
        .withColumn("nrm", F.expr(_norm_spark("v")))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES)
    cos = F.expr(_dot_spark("q.v", "e.v")) / (F.col("q.nrm") * F.col("e.nrm"))
    scored = (
        F.broadcast(q.alias("q"))
        .join(e.alias("e"), F.col("e.label") != F.col("q.label"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("e.vec_id").alias("neighbor_id"),
            F.col("e.label").alias("neighbor_label"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HARDNEG_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.col("cosine").cast("decimal(18,6)").cast("double").alias("cosine"),
            "rnk",
        )
    )


# ---- product quantization (PQ encode) --------------------------------

PQ_SUBSPACES = 8   # 64 dims -> 8 subvectors of 8 dims
PQ_SUBDIM = DIM // PQ_SUBSPACES
PQ_K = 16          # sub-centroids per subspace (4-bit codes)


def _subvec_spark(vec: str, m: str) -> str:
    # slice() is 1-based; subspace m covers dims m*SUBDIM+1 .. +SUBDIM
    return f"slice({vec}, {m} * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"


def _l2_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (acc, x) -> acc + x)"
    )


def _l2_duck(a: str, b: str) -> str:
    return (
        f"list_sum([({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1])"
        f" for i in range({PQ_SUBDIM})])"
    )


@query(
    "embedding_pq_encode",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sub AS (
      SELECT vec_id, m.m AS m, v[m.m * {PQ_SUBDIM} + 1 : (m.m + 1) * {PQ_SUBDIM}] AS sv
      FROM e, LATERAL (SELECT unnest(range({PQ_SUBSPACES})) AS m) m
    ), cb AS (
      SELECT vec_id AS c_id, m, sv AS cv FROM sub WHERE vec_id < {PQ_K}
    ), aff AS (
      SELECT s.vec_id, s.m, c.c_id,
             {_l2_duck("s.sv", "c.cv")} AS d2,
             ROW_NUMBER() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY {_l2_duck("s.sv", "c.cv")} ASC, c.c_id ASC
             ) AS rnk
      FROM sub s JOIN cb c ON c.m = s.m
    ), best AS (
      SELECT vec_id, m, c_id, d2 FROM aff WHERE rnk = 1
    )
    SELECT
      vec_id,
      string_agg(CAST(c_id AS VARCHAR), '|' ORDER BY m) AS pq_code,
      CAST(SUM(CAST(FLOOR(d2 * 1000000000) AS BIGINT)) AS BIGINT) AS err_nano,
      CAST(COUNT(*) AS INT) AS n_subspaces
    FROM best
    GROUP BY vec_id
    """,
)
def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (the IVF-PQ compression step):
    every vector split into 8 contiguous 8-dim subvectors, each
    assigned to its nearest of 16 sub-centroids by exact L2 — emitting
    the 8×4-bit code word (serialized ``a|b|…``) plus the nano-unit
    total reconstruction error. PQ is how a 100 TB vector corpus
    serves from RAM: 64 doubles (512 B) become 8 nibbles (4 B), a
    128× cut, with the codebook broadcast exactly like the IVF
    centroids. Sub-codebooks here are seeded from the first PQ_K
    corpus vectors (deterministic, like ``similarity_ann_ivf``); a
    production encoder trains them with the per-subspace k-means loop
    ``embedding_kmeans_train`` already demonstrates.

    Plan: one posexplode to (vec, subspace) rows (×8, no shuffle) →
    broadcast join against the 128-row codebook → per-(vec, subspace)
    rank → one groupBy(vec) re-assembly; distances are exact-double
    folds and the error sum is floor'd integer nano-units, so the
    oracle compare is exact."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub = e.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.expr(_subvec_spark("v", str(m))) for m in range(PQ_SUBSPACES)])
        ).alias("m", "sv"),
    )
    cb = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("c_id"),
        F.col("m").alias("cm"),
        F.col("sv").alias("cv"),
    )
    d2 = F.expr(_l2_spark("sv", "cv"))
    wbest = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("c_id").asc()
    )
    best = (
        sub.join(F.broadcast(cb), F.col("cm") == F.col("m"))
        .withColumn("d2", d2)
        .withColumn("rnk", F.row_number().over(wbest))
        .filter(F.col("rnk") == 1)
    )
    return best.groupBy("vec_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(m, c_id))),"
            " s -> CAST(s.c_id AS STRING)), '|')"
        ).alias("pq_code"),
        F.sum(F.floor(F.col("d2") * 1_000_000_000).cast("bigint")).alias("err_nano"),
        F.count(F.lit(1)).cast("int").alias("n_subspaces"),
    )


# ---- PQ ADC search ---------------------------------------------------

PQ_ADC_TOPK = TOPK  # compare directly against the exact top-10 anchor


@query(
    "similarity_pq_adc_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sub AS (
      SELECT vec_id, m.m AS m, v[m.m * {PQ_SUBDIM} + 1 : (m.m + 1) * {PQ_SUBDIM}] AS sv
      FROM e, LATERAL (SELECT unnest(range({PQ_SUBSPACES})) AS m) m
    ), cb AS (
      SELECT vec_id AS c_id, m, sv AS cv FROM sub WHERE vec_id < {PQ_K}
    ), aff AS (
      SELECT s.vec_id, s.m, c.c_id,
             ROW_NUMBER() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY {_l2_duck("s.sv", "c.cv")} ASC, c.c_id ASC
             ) AS rnk
      FROM sub s JOIN cb c ON c.m = s.m
    ), codes AS (
      SELECT vec_id, list(c_id ORDER BY m) AS code
      FROM aff WHERE rnk = 1 GROUP BY vec_id
    ), qlut AS (
      SELECT s.vec_id AS q_id,
             list({_l2_duck("s.sv", "c.cv")} ORDER BY s.m, c.c_id) AS lut
      FROM sub s JOIN cb c ON c.m = s.m
      WHERE s.vec_id < {N_QUERIES}
      GROUP BY s.vec_id
    ), adc AS (
      SELECT q.q_id, x.vec_id AS neighbor_id,
             list_sum([q.lut[m * {PQ_K} + x.code[m + 1] + 1]
                       for m in range({PQ_SUBSPACES})]) AS adc_d2
      FROM qlut q, codes x
      WHERE x.vec_id <> q.q_id
    ), ranked AS (
      SELECT q_id AS query_id, neighbor_id, adc_d2,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY adc_d2 ASC, neighbor_id ASC
             ) AS rnk
      FROM adc
    )
    SELECT query_id, neighbor_id, CAST(adc_d2 AS DOUBLE) AS adc_d2, rnk
    FROM ranked WHERE rnk <= {PQ_ADC_TOPK}
    """,
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with Asymmetric Distance Computation — the read path
    of the IVF-PQ story whose write path is ``embedding_pq_encode``:
    each query precomputes a {PQ_SUBSPACES}×{PQ_K} lookup table of
    exact L2 distances from its subvectors to every sub-centroid, and
    a database vector's distance is then just {PQ_SUBSPACES} table
    lookups summed over its 4-bit codes — no float math against the
    corpus vectors AT ALL at scan time.

    Scale: this is why a 100 TB vector corpus can serve from PQ codes —
    scoring reads 4 bytes/vector (codes) plus a broadcast
    {N_QUERIES}×128-entry LUT, never the raw vectors; the scan is a
    pure projection (codes ⋈ broadcast LUT, fold over 8 array slots in
    codegen) and the only shuffles are the code-assembly groupBy
    (stored, in a real system — computed here because codes aren't
    materialized) and the 5-key top-k window.

    Exactness: LUT entries and the ADC sum both fold in fixed
    subspace order on both engines (the house order-pinned float
    rule), so ranks and distances hash-match exactly.

    Recall (measured, seeded codebooks): 0.32 @ sf0.01 / 0.24 @ sf0.1
    vs exact-L2 top-10 — a coarse ranker, floor-asserted in
    ``tests/test_ann_recall.py``. Production recall comes from
    k-means-TRAINED sub-codebooks (run ``embedding_kmeans_train``'s
    loop per subspace), exactly as ``similarity_ann_ivf_trained``
    lifts ``similarity_ann_ivf`` from 0.92 to 0.96; the ADC read path
    is unchanged by training."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub = e.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.expr(_subvec_spark("v", str(m))) for m in range(PQ_SUBSPACES)])
        ).alias("m", "sv"),
    )
    cb = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("c_id"),
        F.col("m").alias("cm"),
        F.col("sv").alias("cv"),
    )
    d2 = F.expr(_l2_spark("sv", "cv"))
    wbest = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("c_id").asc()
    )
    codes = (
        sub.join(F.broadcast(cb), F.col("cm") == F.col("m"))
        .withColumn("d2", d2)
        .withColumn("rnk", F.row_number().over(wbest))
        .filter(F.col("rnk") == 1)
        .groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, c_id))), s -> s.c_id)"
            ).alias("code")
        )
    )
    qlut = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cb), F.col("cm") == F.col("m"))
        .withColumn("d2", d2)
        .groupBy(F.col("vec_id").alias("q_id"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, c_id, d2))), s -> s.d2)"
            ).alias("lut")
        )
    )
    adc = F.expr(
        f"aggregate(transform(sequence(0, {PQ_SUBSPACES - 1}),"
        f" m -> lut[m * {PQ_K} + code[m]]), 0D, (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        codes.join(F.broadcast(qlut), F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adc_d2"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= PQ_ADC_TOPK)
        .select("query_id", "neighbor_id", F.col("adc_d2").cast("double").alias("adc_d2"), "rnk")
    )


# ---- MMR diversity selection -----------------------------------------

MMR_POOL = 16   # candidate pool: exact top-16 by relevance
MMR_K = 5       # picks
MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    cos_cs = (
        f"{_dot_duck('c.v', 's.v')} / (c.nrm * s.nrm)"
    )
    parts = [f"""
    e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_norm_duck('(embedding::DOUBLE[])')} AS nrm
      FROM embeddings
    ), q AS (SELECT v, nrm FROM e WHERE vec_id = 0),
    cand AS (
      SELECT c.vec_id, c.v, c.nrm,
             {_dot_duck('c.v', 'q.v')} / (c.nrm * q.nrm) AS rel
      FROM e c CROSS JOIN q
      WHERE c.vec_id <> 0
      ORDER BY rel DESC, c.vec_id ASC
      LIMIT {MMR_POOL}
    ),
    s1 AS (
      SELECT 1 AS pick_rank, vec_id, v, nrm, rel,
             {MMR_LAMBDA} * rel AS mmr
      FROM cand ORDER BY {MMR_LAMBDA} * rel DESC, vec_id ASC LIMIT 1
    )"""]
    for r in range(2, MMR_K + 1):
        sel = " UNION ALL ".join(
            f"SELECT pick_rank, vec_id, v, nrm FROM s{i}" for i in range(1, r)
        )
        parts.append(f"""
    m{r} AS (
      SELECT c.vec_id, c.v, c.nrm, c.rel, MAX({cos_cs}) AS ms
      FROM cand c CROSS JOIN ({sel}) s
      WHERE c.vec_id NOT IN (SELECT vec_id FROM ({sel}) x)
      GROUP BY c.vec_id, c.v, c.nrm, c.rel
    ),
    s{r} AS (
      SELECT {r} AS pick_rank, vec_id, v, nrm, rel,
             {MMR_LAMBDA} * rel - {1.0 - MMR_LAMBDA} * ms AS mmr
      FROM m{r}
      ORDER BY {MMR_LAMBDA} * rel - {1.0 - MMR_LAMBDA} * ms DESC,
               vec_id ASC
      LIMIT 1
    )""")
    final = " UNION ALL ".join(
        f"SELECT pick_rank, vec_id, CAST(CAST(rel AS DECIMAL(18,6)) AS DOUBLE)"
        f" AS relevance, CAST(CAST(mmr AS DECIMAL(18,6)) AS DOUBLE)"
        f" AS mmr_score FROM s{i}"
        for i in range(1, MMR_K + 1)
    )
    return "WITH" + ",".join(parts) + "\n" + final


@query("similarity_mmr_select", oracle=_mmr_oracle())
def similarity_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein
    1998): greedily pick {MMR_K} vectors from the exact top-{MMR_POOL}
    relevance pool, each step maximizing
    λ·rel(c) − (1−λ)·max_{{s∈selected}} cos(c, s) — the diversity
    sampling primitive for retrieval reranking and training-data
    subset selection (pick informative AND non-redundant examples).

    Iterative yet EXACTLY oracled: cosine folds run in identical
    element order in both engines (bit-identical doubles — the house
    similarity-family contract), MAX over them is order-insensitive,
    and each argmax tie-breaks on vec_id, so DuckDB replays the
    greedy trajectory with unrolled CTEs.

    Scale story: at 100 TB the pool build is the ANN top-C query
    (here the exact baseline — the ANN siblings swap in above this
    SF); the greedy loop itself touches only the C-row pool and the
    ≤K selected vectors — K·C cosine evaluations TOTAL, driver-loop
    bounded by K, every per-step argmax a 1-row frame. Selection
    state stays in DataFrames end-to-end; nothing wide ever shuffles."""
    e = _normed(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0)
    rel = F.expr(_dot_spark("c.v", "q.v")) / (F.col("c.nrm") * F.col("q.nrm"))
    cand = (
        e.alias("c")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q.alias("q")))
        .select(
            F.col("c.vec_id").alias("vec_id"),
            F.col("c.v").alias("v"),
            F.col("c.nrm").alias("nrm"),
            rel.alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(MMR_POOL)
        .persist()
    )
    lam = F.lit(MMR_LAMBDA)
    one_m = F.lit(1.0 - MMR_LAMBDA)
    sel = (
        cand.select(
            F.lit(1).cast("int").alias("pick_rank"),
            "vec_id",
            "v",
            "nrm",
            "rel",
            (lam * F.col("rel")).alias("mmr"),
        )
        .orderBy(F.col("mmr").desc(), F.col("vec_id").asc())
        .limit(1)
    )
    for r in range(2, MMR_K + 1):
        sel = sel.persist()
        cos_cs = F.expr(_dot_spark("c.v", "s.v")) / (
            F.col("c.nrm") * F.col("s.nrm")
        )
        remaining = cand.alias("c").join(
            sel.select(F.col("vec_id").alias("sid")),
            F.col("c.vec_id") == F.col("sid"),
            "left_anti",
        )
        scored = (
            remaining.alias("c")
            .crossJoin(F.broadcast(sel.select("v", "nrm").alias("s")))
            .groupBy(
                F.col("c.vec_id").alias("vec_id"),
                F.col("c.v").alias("v"),
                F.col("c.nrm").alias("nrm"),
                F.col("c.rel").alias("rel"),
            )
            .agg(F.max(cos_cs).alias("ms"))
        )
        best = (
            scored.select(
                F.lit(r).cast("int").alias("pick_rank"),
                "vec_id",
                "v",
                "nrm",
                "rel",
                (lam * F.col("rel") - one_m * F.col("ms")).alias("mmr"),
            )
            .orderBy(F.col("mmr").desc(), F.col("vec_id").asc())
            .limit(1)
        )
        sel = sel.unionByName(best)
    return sel.select(
        "pick_rank",
        "vec_id",
        F.col("rel").cast("decimal(18,6)").cast("double").alias("relevance"),
        F.col("mmr").cast("decimal(18,6)").cast("double").alias("mmr_score"),
    )


# ---- ANN recall report (index quality as a query) ---------------------


def _recall_report_oracle() -> str:
    from .registry import ORACLES

    return f"""
    WITH ex AS (
      SELECT query_id, neighbor_id
      FROM ({ORACLES["similarity_topk_bruteforce"]})
      WHERE rnk <= {ANN_TOPK}
    ), ann AS (
      SELECT query_id, neighbor_id
      FROM ({ORACLES["similarity_ann_lsh"]})
    )
    SELECT ex.query_id,
           {ANN_TOPK} AS k,
           COUNT(ann.neighbor_id)::BIGINT AS n_hits,
           (COUNT(ann.neighbor_id) * 1000000 // {ANN_TOPK})::BIGINT
             AS recall_micro
    FROM ex
    LEFT JOIN ann ON ann.query_id = ex.query_id
                 AND ann.neighbor_id = ex.neighbor_id
    GROUP BY ex.query_id
    """


@query("similarity_ann_recall_report", oracle=_recall_report_oracle())
def similarity_ann_recall_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index-quality report: per-query recall@{ANN_TOPK} of the
    multi-table LSH index against the exact brute-force ground truth —
    the continuous-monitoring artifact an ANN deployment ships
    alongside the index (tests pin a recall floor once;
    this keeps measuring it as data drifts).

    Composes the two verified operators directly (and the oracle
    composes THEIR oracle strings — zero re-implementation on either
    side): exact top-{ANN_TOPK} from ``similarity_topk_bruteforce``,
    candidates from ``similarity_ann_lsh``, one left join + grouped
    count. Scale: ground truth is the expensive side (brute force is
    queries×corpus); production samples the query set, which this
    report's shape already assumes (N_QUERIES standing queries)."""
    ex = similarity_topk_bruteforce(spark, sf_dir).filter(
        F.col("rnk") <= ANN_TOPK
    )
    ann = similarity_ann_lsh(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    joined = ex.join(
        ann,
        (ex["query_id"] == ann["query_id"])
        & (ex["neighbor_id"] == ann["ann_neighbor"]),
        "left",
    )
    return joined.groupBy(ex["query_id"].alias("query_id")).agg(
        F.lit(ANN_TOPK).cast("int").alias("k"),
        F.count("ann_neighbor").alias("n_hits"),
        F.expr(f"count(ann_neighbor) * 1000000 div {ANN_TOPK}").alias(
            "recall_micro"
        ),
    )


# ---- IVF + PQ-ADC composed search (the production ANN read path) ------


@query(
    "similarity_ann_ivf_adc",
    oracle=f"""
    WITH e AS ({_NORMED_DUCK}),
    cent AS ({_CENT_DUCK}),
    aff AS (
      SELECT e.vec_id, c.c_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) DESC,
                        c.c_id ASC
             ) AS crank
      FROM e CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, c_id AS cell FROM aff WHERE crank = 1),
    qcells AS (
      SELECT vec_id AS q_id, c_id AS cell
      FROM aff WHERE vec_id < {N_QUERIES} AND crank <= {IVF_NPROBE}
    ),
    sub AS (
      SELECT vec_id, m.m AS m,
             v[m.m * {PQ_SUBDIM} + 1 : (m.m + 1) * {PQ_SUBDIM}] AS sv
      FROM e, LATERAL (SELECT unnest(range({PQ_SUBSPACES})) AS m) m
    ),
    cb AS (
      SELECT vec_id AS c_id, m, sv AS cv FROM sub WHERE vec_id < {PQ_K}
    ),
    paff AS (
      SELECT s.vec_id, s.m, c.c_id,
             ROW_NUMBER() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY {_l2_duck("s.sv", "c.cv")} ASC, c.c_id ASC
             ) AS rnk
      FROM sub s JOIN cb c ON c.m = s.m
    ),
    codes AS (
      SELECT vec_id, list(c_id ORDER BY m) AS code
      FROM paff WHERE rnk = 1 GROUP BY vec_id
    ),
    qlut AS (
      SELECT s.vec_id AS q_id,
             list({_l2_duck("s.sv", "c.cv")} ORDER BY s.m, c.c_id) AS lut
      FROM sub s JOIN cb c ON c.m = s.m
      WHERE s.vec_id < {N_QUERIES}
      GROUP BY s.vec_id
    ),
    adc AS (
      SELECT q.q_id AS query_id, a.vec_id AS neighbor_id,
             list_sum([l.lut[m * {PQ_K} + x.code[m + 1] + 1]
                       for m in range({PQ_SUBSPACES})]) AS adc_d2
      FROM qcells q
      JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.q_id
      JOIN codes x ON x.vec_id = a.vec_id
      JOIN qlut l ON l.q_id = q.q_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adc_d2,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY adc_d2 ASC, neighbor_id ASC
             ) AS rnk
      FROM adc
    )
    SELECT query_id, neighbor_id, CAST(adc_d2 AS DOUBLE) AS adc_d2, rnk
    FROM ranked WHERE rnk <= {PQ_ADC_TOPK}
    """,
)
def similarity_ann_ivf_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ-ADC composed search — the full production ANN read
    path (FAISS's IVFPQ layout re-expressed relationally): the coarse
    quantizer routes each query to its IVF_NPROBE nearest cells, and
    only the vectors ASSIGNED to those cells are scored — by ADC
    table lookups over their 4-bit PQ codes, never by float math
    against raw vectors. Composes the two verified halves
    (``similarity_ann_ivf``'s routing, ``similarity_pq_adc_topk``'s
    scoring) into the shape a 100 TB vector store actually serves:
    candidate volume ~ n·nprobe/K and scan bytes ~ 4 B/vector.

    Plan: cell assignment and code assignment are each one corpus
    scan × broadcast(small codebook); the candidate gate is a
    broadcast join of the (query, probed-cell) pairs against the
    assignment, and the ADC scoring joins the broadcast per-query LUT
    — the corpus-sized frames are never shuffled, only the bounded
    candidate set reaches the 5-key top-k window. Each vector lives
    in exactly ONE cell, so multi-probe never duplicates a
    (query, neighbor) pair.

    Exactness: LUT entries fold in pinned (m, c_id) order and the ADC
    sum folds in subspace order on both engines, so distances and
    ranks hash-match exactly."""
    e = _normed(spark, sf_dir).persist()
    # --- IVF routing (cosine coarse quantizer, first-K centroids) ---
    cent = _first_k_cent(e)
    aff = _ivf_aff(e, cent)
    assign = aff.filter(F.col("crank") == 1).select(
        "vec_id", F.col("c_id").alias("cell")
    )
    qcells = aff.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("crank") <= IVF_NPROBE)
    ).select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("cell"))
    # --- PQ codes + per-query LUTs (seeded sub-codebooks) -----------
    sub = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.expr(_subvec_spark("v", str(m)))
                    for m in range(PQ_SUBSPACES)
                ]
            )
        ).alias("m", "sv"),
    )
    cb = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("c_id"),
        F.col("m").alias("cm"),
        F.col("sv").alias("cv"),
    )
    d2 = F.expr(_l2_spark("sv", "cv"))
    wbest = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("c_id").asc()
    )
    codes = (
        sub.join(F.broadcast(cb), F.col("cm") == F.col("m"))
        .withColumn("d2", d2)
        .withColumn("rnk", F.row_number().over(wbest))
        .filter(F.col("rnk") == 1)
        .groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, c_id))),"
                " s -> s.c_id)"
            ).alias("code")
        )
    )
    qlut = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cb), F.col("cm") == F.col("m"))
        .withColumn("d2", d2)
        .groupBy(F.col("vec_id").alias("lq_id"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, c_id, d2))),"
                " s -> s.d2)"
            ).alias("lut")
        )
    )
    cand = F.broadcast(qcells).join(
        assign,
        (qcells.cell == assign.cell) & (assign.vec_id != qcells.q_id),
    ).select("q_id", F.col("vec_id").alias("neighbor_id"))
    adc = F.expr(
        f"aggregate(transform(sequence(0, {PQ_SUBSPACES - 1}),"
        f" m -> lut[m * {PQ_K} + code[m]]), 0D, (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(codes, codes.vec_id == cand.neighbor_id)
        .join(F.broadcast(qlut), F.col("lq_id") == F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            "neighbor_id",
            adc.alias("adc_d2"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= PQ_ADC_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_d2").cast("double").alias("adc_d2"),
            "rnk",
        )
    )


# ---- Matryoshka truncation evaluation --------------------------------

MRL_LEVELS = (8, 16, 32)  # prefix dims evaluated against full DIM=64


def _dot_prefix_duck(a: str, b: str, d: int) -> str:
    return f"list_sum([{a}[i+1] * {b}[i+1] for i in range({d})])"


@query(
    "similarity_matryoshka_eval",
    oracle=f"""
    WITH e AS ({_NORMED_DUCK}),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    full_rank AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_dot_duck("q.v", "e.v")} / (q.nrm * e.nrm) DESC,
                        e.vec_id ASC) AS rnk
      FROM q JOIN e ON e.vec_id <> q.vec_id
    ),
    full_topk AS (
      SELECT query_id, neighbor_id FROM full_rank WHERE rnk <= {TOPK}
    ),
    trunc_topk AS ({" UNION ALL ".join(f'''
      SELECT {d} AS trunc_dim, query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_dot_prefix_duck("q.v", "e.v", d)}
                   / (sqrt({_dot_prefix_duck("q.v", "q.v", d)})
                      * sqrt({_dot_prefix_duck("e.v", "e.v", d)})) DESC,
                 e.vec_id ASC) AS rnk
        FROM q JOIN e ON e.vec_id <> q.vec_id
      ) WHERE rnk <= {TOPK}''' for d in MRL_LEVELS)})
    SELECT t.trunc_dim, t.query_id,
           COUNT(f.neighbor_id)::BIGINT AS n_overlap,
           CAST(COUNT(f.neighbor_id) AS DOUBLE) / {TOPK} AS recall_at_k
    FROM trunc_topk t
    LEFT JOIN full_topk f
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY t.trunc_dim, t.query_id
    """,
)
def similarity_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (prefix-truncation) retrieval evaluation: for each
    truncation level d ∈ {8, 16, 32}, recall@10 of top-k search using
    only the first d embedding dims against the full-64-dim exact
    top-k — the measurement behind "how small can we store the index
    tier" decisions for MRL-trained embedding stacks (truncating a
    vector column IS the cheap index: ReadSchema stays the same but
    the ANN memory/compute drops ~DIM/d).

    Plan: the corpus scans ONCE per level plus once for the full
    baseline (4 broadcast nested-loop passes over one cached normed
    frame, query side always the broadcast 5 rows); each pass's rank
    is a 5-key partitioned window and the final overlap join touches
    only (levels × queries × k) rows. Prefix cosines reuse the
    zip_with/aggregate fold over ``slice(v, 1, d)``, so scores stay
    bit-identical to DuckDB's list-comprehension fold and the oracle
    hash is exact — no rounding anywhere in the ranking."""
    e = (
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .persist()
    )
    q = e.filter(F.col("vec_id") < N_QUERIES)

    def topk_at(d: int | None) -> DataFrame:
        if d is None:
            qa, ea = "q.v", "e.v"
        else:
            qa, ea = f"slice(q.v, 1, {d})", f"slice(e.v, 1, {d})"
        cos = F.expr(
            f"{_dot_spark(qa, ea)} / "
            f"(sqrt({_dot_spark(qa, qa)}) * sqrt({_dot_spark(ea, ea)}))"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            F.broadcast(q.alias("q"))
            .join(e.alias("e"), F.col("e.vec_id") != F.col("q.vec_id"))
            .select(
                F.col("q.vec_id").alias("query_id"),
                F.col("e.vec_id").alias("neighbor_id"),
                cos.alias("cosine"),
            )
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOPK)
            .select("query_id", "neighbor_id")
        )

    full_topk = topk_at(None)
    trunc = None
    for d in MRL_LEVELS:
        t = topk_at(d).select(
            F.lit(d).cast("int").alias("trunc_dim"), "query_id", "neighbor_id"
        )
        trunc = t if trunc is None else trunc.unionAll(t)
    return (
        trunc.alias("t")
        .join(
            F.broadcast(full_topk.alias("f")),
            (F.col("f.query_id") == F.col("t.query_id"))
            & (F.col("f.neighbor_id") == F.col("t.neighbor_id")),
            "left",
        )
        .groupBy(F.col("t.trunc_dim").alias("trunc_dim"),
                 F.col("t.query_id").alias("query_id"))
        .agg(
            F.count(F.col("f.neighbor_id")).alias("n_overlap"),
            (F.count(F.col("f.neighbor_id")).cast("double") / TOPK).alias(
                "recall_at_k"
            ),
        )
    )


# ---- binary quantization + exact rerank ------------------------------

BQ_CAND = 50   # Hamming candidates per query before the exact rerank


def _bq_words_spark(v: str) -> tuple[str, str]:
    """Sign-bit packing, 32 dims per BIGINT word (bits 0..31 only, so
    no sign-bit hazard on either engine)."""
    return tuple(
        f"aggregate(sequence(0, 31), 0L, (acc, j) -> acc | "
        f"IF(element_at({v}, j + {off} + 1) > 0D, shiftleft(1L, j), 0L))"
        for off in (0, 32)
    )


def _bq_words_duck(v: str) -> tuple[str, str]:
    return tuple(
        "list_sum([CASE WHEN "
        f"{v}[j + {off} + 1] > 0 THEN (1::BIGINT << j) ELSE 0 END "
        "for j in range(32)])::BIGINT"
        for off in (0, 32)
    )


@query(
    "similarity_binary_quant_rerank",
    oracle=f"""
    WITH e AS ({_NORMED_DUCK}),
    sig AS (
      SELECT vec_id, v, nrm,
             {_bq_words_duck("v")[0]} AS w0,
             {_bq_words_duck("v")[1]} AS w1
      FROM e
    ),
    q AS (SELECT * FROM sig WHERE vec_id < {N_QUERIES}),
    ham AS (
      SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
             (bit_count(xor(q.w0, s.w0))
              + bit_count(xor(q.w1, s.w1)))::BIGINT AS hamming,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY bit_count(xor(q.w0, s.w0))
                        + bit_count(xor(q.w1, s.w1)) ASC,
                        s.vec_id ASC) AS cand_rnk
      FROM q JOIN sig s ON s.vec_id <> q.vec_id
    ),
    cand AS (SELECT * FROM ham WHERE cand_rnk <= {BQ_CAND}),
    rer AS (
      SELECT c.query_id, c.neighbor_id, c.hamming,
             {_dot_duck("q.v", "s.v")} / (q.nrm * s.nrm) AS cosine
      FROM cand c
      JOIN q ON q.vec_id = c.query_id
      JOIN sig s ON s.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk FROM rer
    )
    SELECT query_id, neighbor_id, hamming,
           CAST(CAST(cosine AS DECIMAL(18,6)) AS DOUBLE) AS cosine, rnk
    FROM ranked WHERE rnk <= {TOPK}
    """,
)
def similarity_binary_quant_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary-quantized retrieval: pack each 64-dim embedding's sign
    bits into two 32-bit words, shortlist {BQ_CAND} candidates per
    query by Hamming distance (``bit_count(xor)``), then rerank the
    shortlist with exact full-precision cosine — the 32×-compression
    retrieval tier (1 bit/dim vs float32) modern vector stores run in
    front of exact scoring.

    Plan: signatures are one narrow projection (the fold runs inside
    codegen; 16 bytes/vector flow forward, not 512); the Hamming pass
    is the same broadcast nested-loop shape as brute-force but
    comparing two BIGINTs instead of folding 64 doubles; candidate
    top-{BQ_CAND} is a 5-key partitioned window; only (queries ×
    {BQ_CAND}) rows reach the full-vector rerank join. At corpus
    scale the win compounds: the bit signatures fit executor cache,
    and the rerank's vector fetch is a tiny keyed join against the
    (bucketed) embedding table rather than a second full scan."""
    w0s, w1s = _bq_words_spark("v")
    sig = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("nrm", F.expr(_norm_spark("v")))
        .withColumn("w0", F.expr(w0s))
        .withColumn("w1", F.expr(w1s))
        .persist()
    )
    q = sig.filter(F.col("vec_id") < N_QUERIES)
    ham = (
        F.broadcast(q.alias("q"))
        .join(sig.alias("s"), F.col("s.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("s.vec_id").alias("neighbor_id"),
            F.expr(
                "CAST(bit_count(q.w0 ^ s.w0) + bit_count(q.w1 ^ s.w1)"
                " AS BIGINT)"
            ).alias("hamming"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    cand = (
        ham.withColumn("cand_rnk", F.row_number().over(wc))
        .filter(F.col("cand_rnk") <= BQ_CAND)
        .select("query_id", "neighbor_id", "hamming")
    )
    cos = F.expr(_dot_spark("q.v", "s.v")) / (
        F.col("q.nrm") * F.col("s.nrm")
    )
    rer = (
        cand.alias("c")
        .join(F.broadcast(q.alias("q")),
              F.col("q.vec_id") == F.col("c.query_id"))
        .join(sig.alias("s"), F.col("s.vec_id") == F.col("c.neighbor_id"))
        .select(
            F.col("c.query_id").alias("query_id"),
            F.col("c.neighbor_id").alias("neighbor_id"),
            F.col("c.hamming").alias("hamming"),
            cos.alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.col("cosine").cast("decimal(18,6)").cast("double").alias(
                "cosine"
            ),
            "rnk",
        )
    )


# ---- hybrid retrieval: reciprocal-rank fusion -------------------------

HYBRID_LIST_K = 20  # depth of each ranker's candidate list
HYBRID_TOPK = 10  # fused results returned per query
RRF_K = 60  # the standard RRF dampening constant


def _rrf_oracle() -> str:
    from .dedup import DF_CAP
    from .textops import SHINGLES_DUCK, TOKENS_DUCK, hash60_duck

    return f"""
    WITH e AS ({_NORMED_DUCK}),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    dense AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_dot_duck("q.v", "e.v")} / (q.nrm * e.nrm)
                            DESC,
                          e.vec_id ASC) AS rnk
        FROM q JOIN e ON e.vec_id <> q.vec_id
      ) WHERE rnk <= {HYBRID_LIST_K}
    ),
    toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform({SHINGLES_DUCK},
                    s -> {hash60_duck('s')}))) AS h
      FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    rare AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= {DF_CAP}
    ),
    qsh AS (
      SELECT doc_id AS query_id, h FROM sh
      WHERE doc_id < {N_QUERIES}
    ),
    overlap AS (
      SELECT qsh.query_id, b.doc_id, COUNT(*) AS n_shared
      FROM qsh
      JOIN rare r ON r.h = qsh.h
      JOIN sh b ON b.h = qsh.h AND b.doc_id <> qsh.query_id
      GROUP BY 1, 2
    ),
    sparse AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT o.query_id, o.doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY o.query_id
                 ORDER BY CAST(CAST(CAST(o.n_shared AS DOUBLE)
                          / (sq.n + sd.n - o.n_shared)
                          AS DECIMAL(18,6)) AS DOUBLE) DESC,
                          o.doc_id ASC) AS rnk
        FROM overlap o
        JOIN sizes sq ON sq.doc_id = o.query_id
        JOIN sizes sd ON sd.doc_id = o.doc_id
      ) WHERE rnk <= {HYBRID_LIST_K}
    ),
    fused AS (
      SELECT COALESCE(d.query_id, s.query_id) AS query_id,
             COALESCE(d.doc_id, s.doc_id) AS doc_id,
             d.rnk AS dense_rank_, s.rnk AS sparse_rank_,
             (COALESCE(1000000000 // ({RRF_K} + d.rnk), 0)
              + COALESCE(1000000000 // ({RRF_K} + s.rnk), 0))::BIGINT
               AS rrf_nano
      FROM dense d
      FULL OUTER JOIN sparse s
        ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    )
    SELECT query_id, doc_id,
           CAST(dense_rank_ AS BIGINT) AS dense_rank_,
           CAST(sparse_rank_ AS BIGINT) AS sparse_rank_,
           rrf_nano,
           CAST(rrf_nano AS DOUBLE) / 1000000000 AS rrf_score
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY rrf_nano DESC, doc_id ASC) AS frnk
      FROM fused
    ) WHERE frnk <= {HYBRID_TOPK}
    """


@query("similarity_hybrid_rrf", oracle=_rrf_oracle())
def similarity_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack, Clarke &
    Büttcher, SIGIR'09 — the fusion rule behind most production
    hybrid search): for each standing query document, a DENSE ranker
    (exact cosine over embeddings, the ``similarity_topk_bruteforce``
    anchor) and a SPARSE ranker (word-3-gram shingle Jaccard against
    the query doc's text, the ``dedup_ngram_jaccard`` machinery
    pointed at retrieval) each contribute a top-20 list; fused score
    = Σ 1/(60 + rank), top-10 fused per query. Dense catches
    paraphrases the lexical side misses; sparse catches exact
    phrases embeddings blur — RRF needs no score calibration between
    them, only RANKS, which is why it composes rankers that don't
    share a scale.

    Exactness: ranks are integers with pinned tie-breaks (cosine and
    the pinned Jaccard are identical doubles both sides, doc_id
    breaks ties); the fused score is computed in INTEGER nano units
    (10⁹ div (60+r)) so fusion arithmetic is exact, with the double
    projection derived from it.

    Plan: dense side = broadcast(5 queries) nested-loop over one
    corpus scan + the 5-key rank window (the brute-force anchor's
    plan); sparse side = query shingles (5 docs) equi-join the
    DF-capped corpus postings — candidates bounded by DF_CAP × |query
    shingles|, so the sparse rank windows see bounded frames; the
    fusion full-outer join runs on ≤ 2·5·20 rows."""
    from .dedup import DF_CAP, _hashed_shingles
    from pyspark.sql import Window

    e = _normed(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES)
    cos = F.expr(_dot_spark("q.v", "e.v")) / (
        F.col("q.nrm") * F.col("e.nrm")
    )
    wd = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    dense = (
        F.broadcast(q.alias("q"))
        .join(e.alias("e"), F.col("e.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("e.vec_id").alias("doc_id"),
            cos.alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(wd))
        .filter(F.col("rnk") <= HYBRID_LIST_K)
        .select("query_id", "doc_id", "rnk")
    )
    docs = load_table(spark, sf_dir, "documents")
    sh = _hashed_shingles(docs).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    rare = (
        sh.groupBy("sh60")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= DF_CAP)
        .select("sh60")
    )
    qsh = sh.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("sh60").alias("qh")
    )
    overlap = (
        qsh.join(rare, F.col("qh") == F.col("sh60"))
        .join(
            sh.alias("b"),
            (F.col("b.sh60") == F.col("qh"))
            & (F.col("b.doc_id") != F.col("query_id")),
        )
        .groupBy("query_id", F.col("b.doc_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.expr(
        "CAST(CAST(CAST(n_shared AS DOUBLE) / (qn + dn - n_shared)"
        " AS DECIMAL(18,6)) AS DOUBLE)"
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("jaccard").desc(), F.col("doc_id").asc()
    )
    sparse = (
        overlap.join(
            sizes.select(
                F.col("doc_id").alias("sq_id"), F.col("n").alias("qn")
            ),
            F.col("sq_id") == F.col("query_id"),
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("sd_id"), F.col("n").alias("dn")
            ),
            F.col("sd_id") == F.col("doc_id"),
        )
        .select("query_id", "doc_id", jac.alias("jaccard"))
        .withColumn("rnk", F.row_number().over(ws))
        .filter(F.col("rnk") <= HYBRID_LIST_K)
        .select("query_id", "doc_id", "rnk")
    )
    fused = (
        dense.alias("d")
        .join(
            sparse.alias("s"),
            (F.col("s.query_id") == F.col("d.query_id"))
            & (F.col("s.doc_id") == F.col("d.doc_id")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("d.query_id"), F.col("s.query_id")).alias(
                "query_id"
            ),
            F.coalesce(F.col("d.doc_id"), F.col("s.doc_id")).alias(
                "doc_id"
            ),
            F.col("d.rnk").cast("bigint").alias("dense_rank_"),
            F.col("s.rnk").cast("bigint").alias("sparse_rank_"),
            (
                F.coalesce(
                    F.expr(f"1000000000 div ({RRF_K} + d.rnk)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000000 div ({RRF_K} + s.rnk)"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("rrf_nano"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_nano").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("frnk", F.row_number().over(wf))
        .filter(F.col("frnk") <= HYBRID_TOPK)
        .select(
            "query_id",
            "doc_id",
            "dense_rank_",
            "sparse_rank_",
            "rrf_nano",
            (F.col("rrf_nano").cast("double") / 1000000000).alias(
                "rrf_score"
            ),
        )
    )


# ---- semantic dedup (SemDeDup-style embedding-cluster pruning) ---------
#
# Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication" (arXiv 2303.09540): bucket embeddings into
# k-means cells, then prune near-duplicates INSIDE each cell only —
# the pairwise surface is Σ|cell|², never n². This is the semantic
# rung that completes the lexical dedup ladder in operators/dedup.py
# (exact → MinHash-LSH → SimHash → containment): it catches rewrites
# and paraphrases that share no shingles but map to nearby embeddings.

SEMDEDUP_TAU = COSINE_NEAR_THRESHOLD  # same planted-near-dup threshold
                                      # as similarity_cosine_pairs
SEMDEDUP_NPROBE = 2  # multi-probe membership: each vector also joins
                     # its 2nd-nearest cell, catching boundary pairs
                     # (measured sf0.1 recall 0.39 → 0.79 on this
                     # corpus's worst-case ~60° borderline pairs)

# The K∝n production dial: the per-cell candidate surface is
# Σ|cell|² ≈ n²·P²/K, so a growing corpus keeps per-cell work flat by
# raising K with n (the 65k-cell codebook at 100 TB). The registered
# queries and their oracles use the fixture-scale K the recall tests
# were tuned on; ``dedup_semantic_clusters(cells=...)`` takes a larger
# K for scale runs.
SEMDEDUP_CELLS = IVF_K


def _semdedup_oracle() -> str:
    body, _, last_cent = _kmeans_cte_chain(KMEANS_ITERS, k=SEMDEDUP_CELLS)
    return f"""
    WITH {body},
    aff AS (
      SELECT e.vec_id, e.v, e.nrm, c.c_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) DESC,
                        c.c_id ASC
             ) AS crank
      FROM e CROSS JOIN {last_cent} c
    ),
    memb AS (
      SELECT vec_id, v, nrm, c_id AS cell, crank
      FROM aff WHERE crank <= {SEMDEDUP_NPROBE}
    ),
    pruned AS (
      SELECT DISTINCT a.vec_id
      FROM memb a JOIN memb b
        ON a.cell = b.cell AND b.vec_id < a.vec_id
      WHERE {_dot_duck("a.v", "b.v")} / (a.nrm * b.nrm) >= {SEMDEDUP_TAU}
    )
    SELECT m.vec_id, m.cell, CAST(p.vec_id IS NULL AS BOOLEAN) AS keep
    FROM (SELECT vec_id, cell FROM memb WHERE crank = 1) m
    LEFT JOIN pruned p ON p.vec_id = m.vec_id
    """


@query("dedup_semantic_clusters", oracle=_semdedup_oracle())
def dedup_semantic_clusters(
    spark: SparkSession,
    sf_dir: str,
    candidates_only: bool = False,
    cells: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cell bucketing
    (the trained coarse quantizer — the same KMEANS_ITERS Lloyd
    trajectory ``embedding_kmeans_train`` certifies) followed by
    INTRA-CELL cosine near-dup pruning with a deterministic keep
    rule — a vector is pruned iff a lower-vec_id vector shares one of
    its SEMDEDUP_NPROBE nearest cells within cosine ≥ SEMDEDUP_TAU,
    so the lowest id of every ε-neighborhood survives. Output is the
    full decision frame (vec_id, primary cell, keep) a curation
    pipeline joins against its corpus — the keep-list rung the
    pairs-producing ``dedup_embedding_ivf`` stops short of.

    Approximation contract (stated, same as the paper's): a near-dup
    pair whose probed cell sets are disjoint is NOT pruned — recall
    is traded for the bucketed candidate surface, exactly like
    MinHash-LSH trades recall for banding. Multi-probe membership
    (each vector also joins its 2nd-nearest cell) lifts measured
    sf0.1 recall from 0.39 to 0.79 on this corpus's deliberately
    borderline (~60°) pairs; tests/test_dedup_recall.py pins the
    floor against the brute-force ``similarity_cosine_pairs`` ground
    truth, plus the no-false-prunes exactness property.

    Exactness: the cosine chain (sequential-fold dot, one divide) is
    bit-identical across engines — the proven
    ``similarity_cosine_pairs`` discipline — so the ≥ τ comparison
    and therefore the keep flags are hash-stable; the trained
    centroids are oracle-exact per ``embedding_kmeans_train``.

    Scale: centroid training collects K·DIM rows per step, never
    data; assignment is one broadcast(K) scan; the pair surface is an
    equi-join ON cell (plan-pinned: no cartesian on data-sized
    frames), candidate volume Σ|cell|² ≈ n²·P²/K for a cell-balanced
    corpus — at 100 TB you raise K with corpus size (n·P/K constant)
    and the per-cell work stays flat while everything shuffles on
    cell. The keep-list left join is a hash join on vec_id."""
    e = _normed(spark, sf_dir).persist()
    cent = _train_centroids_df(e, KMEANS_ITERS, k=cells or SEMDEDUP_CELLS)
    ccos = F.expr(_dot_spark("v", "cv")) / (F.col("nrm") * F.col("cnrm"))
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id").asc()
    )
    memb = (
        e.join(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crank", F.row_number().over(wcell))
        .filter(F.col("crank") <= SEMDEDUP_NPROBE)
        .select("vec_id", "v", "nrm", F.col("c_id").alias("cell"), "crank")
        .persist()
    )
    cand = (
        memb.alias("a")
        .join(
            memb.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
    )
    if candidates_only:
        # the scale-probe hook (dedup_embedding_ivf convention): the
        # pre-verify candidate pairs, deduped across shared cells
        return cand.select(
            F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id")
        ).distinct()
    pcos = F.expr(_dot_spark("a.v", "b.v")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    pruned = (
        cand.filter(pcos >= SEMDEDUP_TAU)
        .select(F.col("a.vec_id").alias("pruned_id"))
        .distinct()
    )
    return (
        memb.filter(F.col("crank") == 1)
        .select("vec_id", "cell")
        .join(pruned, F.col("vec_id") == F.col("pruned_id"), "left")
        .select(
            "vec_id",
            "cell",
            F.col("pruned_id").isNull().alias("keep"),
        )
    )


# ---- label-relevance NDCG of the exact ranking ---------------------------

NDCG_K = 10


def _idcg_case(nrel_expr: str) -> str:
    """Unrolled CASE mapping n_relevant (capped at NDCG_K) to the
    ideal DCG Σ_{r=1..n} 1/log2(r+1) — constants precomputed in
    Python and embedded as STRING-cast double literals (the r13
    hardening of the _plane pattern: DuckDB types a bare long numeric
    literal as DECIMAL and its decimal→double conversion is off by an
    ulp for >15-significant-digit values — e.g. the k=4 constant —
    while VARCHAR→DOUBLE is correctly rounded in both engines), so
    both engines hold the identical IEEE values and no cross-engine
    log2 chain is needed for the denominator."""
    import math

    whens = []
    acc = 0.0
    for k in range(1, NDCG_K + 1):
        acc += 1.0 / math.log2(k + 1)
        whens.append(
            f"WHEN {nrel_expr} = {k} THEN CAST('{acc!r}' AS DOUBLE)"
        )
    return "CASE " + " ".join(whens) + " ELSE 0.0 END"


def _ndcg_sql(dialect: str) -> str:
    if dialect == "spark":
        vexpr = "CAST(embedding AS ARRAY<DOUBLE>)"
        nrm = _norm_spark(f"({vexpr})")
        dot = _dot_spark("q.v", "e.v")
        table = "ndcg_embeddings"
    else:
        vexpr = "embedding::DOUBLE[]"
        nrm = _norm_duck(f"({vexpr})")
        dot = _dot_duck("q.v", "e.v")
        table = "embeddings"
    return f"""
    WITH e AS (
      SELECT vec_id, {vexpr} AS v, {nrm} AS nrm, label
      FROM {table}
    ),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             CASE WHEN e.label = q.label THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {dot} / (q.nrm * e.nrm) DESC,
                        e.vec_id ASC
             ) AS rnk
      FROM q JOIN e ON e.vec_id <> q.vec_id
    ),
    dcg AS (
      SELECT query_id,
             SUM(CAST(CASE WHEN rel = 1 AND rnk <= {NDCG_K}
                           THEN 1.0 / log2(rnk + 1) ELSE 0 END
                 AS DECIMAL(28,12))) AS dcg_sum,
             CAST(SUM(rel) AS BIGINT) AS n_rel_total
      FROM scored GROUP BY query_id
    )
    SELECT query_id,
           n_rel_total,
           CAST(CAST(CAST(dcg_sum AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE)
             AS dcg,
           CAST(CAST(
             CAST(dcg_sum AS DOUBLE)
             / NULLIF(({_idcg_case(f"LEAST(n_rel_total, {NDCG_K})")}), 0.0)
           AS DECIMAL(18,6)) AS DOUBLE) AS ndcg
    FROM dcg
    ORDER BY query_id
    """


@query("similarity_ndcg_label_eval", oracle=_ndcg_sql("duck"))
def similarity_ndcg_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{NDCG_K} of the EXACT cosine ranking against label
    relevance — the ranking-quality companion to
    ``similarity_ann_recall_report``: recall asks "did ANN find the
    true neighbors", NDCG asks "do the true neighbors even share the
    query's label", i.e. whether embedding geometry aligns with the
    labels a retrieval consumer cares about. One row per standing
    query: total relevant corpus size, DCG@{NDCG_K}, and NDCG (ideal
    DCG from embedded repr-literal constants, exercised below
    {NDCG_K} relevant at the small SF).

    Exactness: per-rank terms 1/log2(r+1) over INTEGER ranks pinned
    DECIMAL(28,12) before the per-query sum; the ideal DCG is a
    parsed literal, not a cross-engine chain.

    Scale: the brute-force ranking is the broadcast-5-queries × one
    corpus scan shape of ``similarity_topk_bruteforce`` (documented
    anchor; the bucketed ANN variants ride the same eval unchanged);
    the DCG aggregate is rank-bounded and the relevance count is the
    same single pass."""
    docs = load_table(spark, sf_dir, "embeddings")
    docs.createOrReplaceTempView("ndcg_embeddings")
    return spark.sql(_ndcg_sql("spark"))


# ---- incremental semantic dedup (new batch vs standing corpus) ----------

SEMDEDUP_INCR_MOD = 10  # vec_id % 10 == 0 plays the arriving batch —
                        # the dedup_incremental convention


def _semdedup_incr_oracle() -> str:
    standing = (
        f"SELECT vec_id, v, nrm FROM ({_NORMED_DUCK}) nn"
        f" WHERE vec_id % {SEMDEDUP_INCR_MOD} <> 0"
    )
    body, _, last_cent = _kmeans_cte_chain(
        KMEANS_ITERS, k=SEMDEDUP_CELLS, e_select=standing
    )
    return f"""
    WITH {body},
    eall AS ({_NORMED_DUCK}),
    aff AS (
      SELECT a.vec_id, a.v, a.nrm, c.c_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_dot_duck("a.v", "c.cv")} / (a.nrm * c.cnrm) DESC,
                        c.c_id ASC
             ) AS crank
      FROM eall a CROSS JOIN {last_cent} c
    ),
    memb AS (
      SELECT vec_id, v, nrm, c_id AS cell, crank
      FROM aff WHERE crank <= {SEMDEDUP_NPROBE}
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM memb b JOIN memb s
        ON b.cell = s.cell
       AND b.vec_id % {SEMDEDUP_INCR_MOD} = 0
       AND s.vec_id % {SEMDEDUP_INCR_MOD} <> 0
      WHERE {_dot_duck("b.v", "s.v")} / (b.nrm * s.nrm) >= {SEMDEDUP_TAU}
    )
    SELECT m.vec_id, m.cell, CAST(d.vec_id IS NULL AS BOOLEAN) AS keep
    FROM (SELECT vec_id, cell FROM memb
          WHERE crank = 1 AND vec_id % {SEMDEDUP_INCR_MOD} = 0) m
    LEFT JOIN dropped d ON d.vec_id = m.vec_id
    """


@query("dedup_semantic_incremental", oracle=_semdedup_incr_oracle())
def dedup_semantic_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily-ingest semantic dedup: the arriving batch
    (vec_id % {SEMDEDUP_INCR_MOD} == 0, the ``dedup_incremental``
    split convention) is screened against the STANDING corpus only —
    a batch vector is dropped iff a standing vector shares one of its
    {SEMDEDUP_NPROBE} probed cells within cosine ≥ SEMDEDUP_TAU.
    Batch-internal duplicates are deliberately NOT the incremental
    screen's job (they fall to the full ``dedup_semantic_clusters``
    sweep) — matching how production incremental dedup composes with
    the periodic full pass. The quantizer is trained on the STANDING
    corpus (the batch must not move the codebook it is judged by —
    train/serve separation).

    Scale: the per-day cost is |batch| assignment + |batch|-probe
    cell joins against the standing membership, NEVER a corpus
    re-dedup; the standing membership frame is exactly what a
    warehouse would keep materialized between ingests. Cosine chain
    and keep flags are hash-stable (the dedup_semantic_clusters
    discipline)."""
    eall = _normed(spark, sf_dir).persist()
    standing = eall.filter(
        F.col("vec_id") % SEMDEDUP_INCR_MOD != 0
    )
    cent = _train_centroids_df(standing, KMEANS_ITERS, k=SEMDEDUP_CELLS)
    ccos = F.expr(_dot_spark("v", "cv")) / (F.col("nrm") * F.col("cnrm"))
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id").asc()
    )
    memb = (
        eall.join(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crank", F.row_number().over(wcell))
        .filter(F.col("crank") <= SEMDEDUP_NPROBE)
        .select("vec_id", "v", "nrm", F.col("c_id").alias("cell"), "crank")
        .persist()
    )
    is_batch = F.col("vec_id") % SEMDEDUP_INCR_MOD == 0
    bcos = F.expr(_dot_spark("b.v", "s.v")) / (
        F.col("b.nrm") * F.col("s.nrm")
    )
    dropped = (
        memb.filter(is_batch)
        .alias("b")
        .join(
            memb.filter(~is_batch).alias("s"),
            F.col("b.cell") == F.col("s.cell"),
        )
        .filter(bcos >= SEMDEDUP_TAU)
        .select(F.col("b.vec_id").alias("dropped_id"))
        .distinct()
    )
    return (
        memb.filter((F.col("crank") == 1) & is_batch)
        .select("vec_id", "cell")
        .join(dropped, F.col("vec_id") == F.col("dropped_id"), "left")
        .select(
            "vec_id",
            "cell",
            F.col("dropped_id").isNull().alias("keep"),
        )
    )


# ---- semantic-dedup recall-vs-nprobe sweep ------------------------------
#
# tests/test_dedup_recall.py pins recall >= 0.70 at nprobe=2 as a test
# constant; this query makes the whole recall/cost dial a QUERYABLE
# report (the similarity_ann_recall_report pattern applied to the
# dedup screen): one row per nprobe in {1,2,3} with the candidate-pair
# cost and the prune recall against the brute-force ground truth.
# Because the screen verifies every candidate with the exact cosine,
# it has NO false prunes — so recall is simply pruned/true, and the
# sweep shows exactly what each extra probe buys (and costs).

SEMDEDUP_SWEEP_PROBES = (1, 2, 3)

# The ground-truth side is the one brute-force cosine pass in the
# corpus: it is capped IN-QUERY to a deterministic hash-rank cohort of
# this many vectors (the ``text_uniform_sample`` pattern — rank every
# vec_id by a content-independent 60-bit hash, keep the K smallest),
# so the truth join is K²/2 pairs at ANY corpus size. The SCREEN side
# (pairlvl) stays full-corpus and banded; recall is measured per
# cohort vector against the full screen. At sf ≤ 0.01 the cohort
# covers the whole table (K ≥ n), so small-SF results are unchanged.
SEMDEDUP_SWEEP_TRUTH_K = 512


def _semdedup_sweep_oracle() -> str:
    body, _, last_cent = _kmeans_cte_chain(KMEANS_ITERS, k=SEMDEDUP_CELLS)
    probes = ", ".join(str(p) for p in SEMDEDUP_SWEEP_PROBES)
    max_np = max(SEMDEDUP_SWEEP_PROBES)
    return f"""
    WITH {body},
    probes AS (SELECT unnest([{probes}])::BIGINT AS np),
    aff AS (
      SELECT vec_id, c_id AS cell, crank FROM (
        SELECT e.vec_id, c.c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_dot_duck("e.v", "c.cv")} / (e.nrm * c.cnrm) DESC,
                          c.c_id ASC
               ) AS crank
        FROM e CROSS JOIN {last_cent} c
      ) r WHERE crank <= {max_np}
    ),
    pairlvl AS (
      -- per candidate pair: the SMALLEST nprobe at which some shared
      -- cell has both cranks within budget (no vector math here)
      SELECT a.vec_id AS ai, b.vec_id AS bi,
             MIN(GREATEST(a.crank, b.crank))::BIGINT AS lvl
      FROM aff a JOIN aff b
        ON a.cell = b.cell AND b.vec_id < a.vec_id
      GROUP BY 1, 2
    ),
    coh AS (
      -- deterministic fixed-size ground-truth cohort: hash-rank top-K
      SELECT vec_id FROM e
      ORDER BY {hash60_duck("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
      LIMIT {SEMDEDUP_SWEEP_TRUTH_K}
    ),
    ec AS (SELECT e.* FROM e JOIN coh USING (vec_id)),
    truth AS (
      SELECT a.vec_id AS ai, b.vec_id AS bi
      FROM ec a JOIN ec b ON b.vec_id < a.vec_id
      WHERE {_dot_duck("a.v", "b.v")} / (a.nrm * b.nrm) >= {SEMDEDUP_TAU}
    ),
    tl AS (
      -- per true-dup vector: earliest probe level at which SOME
      -- qualifying partner becomes a candidate (NULL = never)
      SELECT t.ai, MIN(p.lvl) AS minlvl
      FROM truth t
      LEFT JOIN pairlvl p ON p.ai = t.ai AND p.bi = t.bi
      GROUP BY t.ai
    ),
    tstat AS (SELECT COUNT(*)::BIGINT AS n_true FROM tl)
    SELECT p.np AS nprobe,
           COALESCE(cs.n_cand, 0)::BIGINT AS n_candidate_pairs,
           COALESCE(ps.n_pruned, 0)::BIGINT AS n_pruned,
           ts.n_true AS n_true_dups,
           CAST(CAST(COALESCE(ps.n_pruned, 0) * 1.0 / NULLIF(ts.n_true, 0)
                AS DECIMAL(18,6)) AS DOUBLE) AS recall
    FROM probes p
    LEFT JOIN (SELECT pr.np, COUNT(*)::BIGINT AS n_cand
               FROM probes pr JOIN pairlvl pl ON pl.lvl <= pr.np
               GROUP BY pr.np) cs ON cs.np = p.np
    LEFT JOIN (SELECT pr.np, COUNT(*)::BIGINT AS n_pruned
               FROM probes pr JOIN tl ON tl.minlvl <= pr.np
               GROUP BY pr.np) ps ON ps.np = p.np
    CROSS JOIN tstat ts
    """


@query("dedup_semantic_recall_sweep", oracle=_semdedup_sweep_oracle())
def dedup_semantic_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall-vs-cost sweep of the SemDeDup screen's multi-probe dial:
    one row per nprobe in {SEMDEDUP_SWEEP_PROBES} reporting the
    candidate-pair volume (the cost the banding buys down) and the
    prune recall against the brute-force cosine ground truth (the
    quality the probes buy back). The screen's keep rule has NO false
    prunes (every candidate is verified with the exact cosine before
    pruning — the dedup_semantic_clusters property), so recall is
    pruned/true directly. This turns tests/test_dedup_recall.py's
    fixed-constant floor into a queryable engineering report — the
    ann-recall-report pattern applied to the dedup rung.

    Scale: the ground-truth cosine pass is capped IN-QUERY to a
    deterministic {SEMDEDUP_SWEEP_TRUTH_K}-vector hash-rank cohort
    (the ``text_uniform_sample`` pattern — TakeOrdered on a
    content-independent 60-bit id hash, so the exact-cosine join is
    K²/2 pairs at ANY corpus size); recall is estimated per cohort
    vector against the FULL banded screen. The screen side stays
    banded and pays the intra-cell pair surface ONCE at max-nprobe
    membership:
    each candidate pair is reduced to the SMALLEST probe level that
    admits it (min over shared cells of max(crank) — pure key math,
    no vector ops), and per-probe counts are cumulative counts over
    that level — so adding probe levels to the report grows the join
    not at all. The exact cosine runs only in the single ground-truth
    pass; recall per level falls out of a left join of truth pairs
    onto pair levels. Everything shuffles on cell / pair keys;
    centroids ride the same broadcast as dedup_semantic_clusters."""
    e = _normed(spark, sf_dir).persist()
    cent = _train_centroids_df(e, KMEANS_ITERS, k=SEMDEDUP_CELLS)
    max_np = max(SEMDEDUP_SWEEP_PROBES)
    # build the probe frame FROM the tuple so Spark and the oracle
    # share the constant even if it stops being contiguous-from-1
    probes = spark.createDataFrame(
        [(int(p),) for p in SEMDEDUP_SWEEP_PROBES], "np long"
    )
    ccos = F.expr(_dot_spark("v", "cv")) / (F.col("nrm") * F.col("cnrm"))
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id").asc()
    )
    aff = (
        e.join(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crank", F.row_number().over(wcell))
        .filter(F.col("crank") <= max_np)
        .select("vec_id", F.col("c_id").alias("cell"), "crank")
        .persist()
    )
    pairlvl = (
        aff.alias("a")
        .join(
            aff.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("ai"), F.col("b.vec_id").alias("bi")
        )
        .agg(
            F.min(F.greatest(F.col("a.crank"), F.col("b.crank")))
            .cast("long")
            .alias("lvl")
        )
        .persist()
    )
    pcos = F.expr(_dot_spark("a.v", "b.v")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    # ground-truth cohort: hash-rank top-K over vec_id (TakeOrdered —
    # no global sort), broadcast back as a semi-join gate; the exact
    # cosine then runs over at most K²/2 pairs regardless of corpus
    # size. The repartition spreads the interpreted fold-dot evals
    # across tasks (the persisted corpus is one input split).
    coh = (
        e.select(
            "vec_id",
            F.expr(hash60_spark("CAST(vec_id AS STRING)")).alias("h"),
        )
        .orderBy(F.col("h").asc(), F.col("vec_id").asc())
        .limit(SEMDEDUP_SWEEP_TRUTH_K)
        .select("vec_id")
    )
    ec = e.join(F.broadcast(coh), "vec_id")
    # the cohort is ≤ K rows by construction → broadcast the build
    # side of the non-equi truth join (BroadcastNestedLoopJoin over 32
    # streamed splits, not a 32×32 CartesianProduct task grid)
    truth = (
        ec.repartition(spark.sparkContext.defaultParallelism)
        .alias("a")
        .join(F.broadcast(ec.alias("b")), F.col("b.vec_id") < F.col("a.vec_id"))
        .filter(pcos >= SEMDEDUP_TAU)
        .select(
            F.col("a.vec_id").alias("t_ai"), F.col("b.vec_id").alias("t_bi")
        )
    )
    tl = (
        truth.join(
            pairlvl,
            (F.col("t_ai") == F.col("ai")) & (F.col("t_bi") == F.col("bi")),
            "left",
        )
        .groupBy("t_ai")
        .agg(F.min("lvl").alias("minlvl"))
        .persist()
    )
    tstat = tl.agg(F.count(F.lit(1)).alias("n_true"))
    cs = (
        probes.alias("pr")
        .join(pairlvl, F.col("lvl") <= F.col("np"))
        .groupBy("np")
        .agg(F.count(F.lit(1)).alias("n_cand"))
    )
    ps = (
        probes.alias("pr")
        .join(tl, F.col("minlvl") <= F.col("np"))
        .groupBy("np")
        .agg(F.count(F.lit(1)).alias("n_pruned"))
    )
    return (
        probes.join(cs, "np", "left")
        .join(ps, "np", "left")
        .crossJoin(F.broadcast(tstat))
        .select(
            F.col("np").alias("nprobe"),
            F.coalesce(F.col("n_cand"), F.lit(0)).alias("n_candidate_pairs"),
            F.coalesce(F.col("n_pruned"), F.lit(0)).alias("n_pruned"),
            F.col("n_true").alias("n_true_dups"),
            (
                F.coalesce(F.col("n_pruned"), F.lit(0))
                * F.lit(1.0)
                / F.nullif(F.col("n_true").cast("double"), F.lit(0.0))
            )
            .cast("decimal(18,6)")
            .cast("double")
            .alias("recall"),
        )
    )


# ---- NF4 (4-bit NormalFloat) quantization error report ------------------
#
# Dettmers et al., "QLoRA: Efficient Finetuning of Quantized LLMs"
# (arXiv 2305.14314): NF4 is the information-theoretically motivated
# 4-bit code whose 16 levels are the quantiles of N(0,1) rescaled to
# [-1, 1] — the storage format a modern embedding/weight lake keeps
# next to int8. Level constants are the published bitsandbytes table,
# embedded as STRING-cast double literals (the _idcg_case r13 rule:
# DuckDB's decimal→double conversion of bare long numeric literals is
# off by an ulp for several of these 17-digit constants, while
# VARCHAR→DOUBLE is correctly rounded in both engines); codes are
# assigned by a midpoint CASE ladder (ties at a midpoint go to the
# HIGHER code in both engines — `<` comparisons, stated convention).

NF4_LEVELS = (
    -1.0, -0.6961928009986877, -0.5250730514526367,
    -0.39491748809814453, -0.28444138169288635, -0.18477343022823334,
    -0.09105003625154495, 0.0, 0.07958029955625534,
    0.16093020141124725, 0.24611230194568634, 0.33791524171829224,
    0.44070982933044434, 0.5626170039176941, 0.7229568362236023, 1.0,
)


def _nf4_mid(i: int) -> float:
    return (NF4_LEVELS[i] + NF4_LEVELS[i + 1]) / 2.0


def _dlit(v: float) -> str:
    """A double literal BOTH engines hold bit-identically: VARCHAR →
    DOUBLE (correctly rounded everywhere), never a bare numeric
    literal (DuckDB types those DECIMAL and its decimal→double is off
    by an ulp beyond ~15 significant digits)."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _nf4_code_case(y: str) -> str:
    whens = " ".join(
        f"WHEN {y} < {_dlit(_nf4_mid(i))} THEN {i}" for i in range(15)
    )
    return f"CASE {whens} ELSE 15 END"


def _nf4_level_case(y: str) -> str:
    whens = " ".join(
        f"WHEN {y} < {_dlit(_nf4_mid(i))} THEN {_dlit(NF4_LEVELS[i])}"
        for i in range(15)
    )
    return f"CASE {whens} ELSE {_dlit(NF4_LEVELS[15])} END"


def _nf4_oracle() -> str:
    lvl = _nf4_level_case("(x / mx)")
    code = _nf4_code_case("(x / mx)")
    e2 = f"((x - ({lvl}) * mx) * (x - ({lvl}) * mx))"
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS mx
      FROM e
    )
    SELECT vec_id,
           mx AS absmax,
           CAST(len(v) AS BIGINT) AS n_dims,
           CASE WHEN mx > 0 THEN
             CAST(list_sum(list_transform(v,
               x -> CAST({code} AS BIGINT))) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS code_sum,
           CASE WHEN mx > 0 THEN
             (2 * CAST(list_sum(list_transform(v,
                x -> CAST({e2} AS DECIMAL(28,12)))) * 1000000000000
                AS BIGINT) + 1000) // 2000
           ELSE CAST(0 AS BIGINT) END AS sq_err_nano
    FROM m
    """


@query("embedding_quantize_nf4_report", oracle=_nf4_oracle())
def embedding_quantize_nf4_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NF4 4-bit quantization of the embedding column with its
    reconstruction error, per vector: absmax scale, the 4-bit code
    checksum (the loader-integrity convention of
    ``embedding_quantize_int8``), and the summed squared
    reconstruction error in exact integer NANO units — the
    8x-compression storage tier's quality readout, read next to the
    int8 and PQ reports when sizing a serving index (NF4 beats uniform int4 on normal-ish embeddings
    because its levels are N(0,1) quantiles; this query MEASURES that
    on the actual corpus instead of assuming it).

    Exactness: levels and midpoints are parsed repr literals; y=x/mx
    is one correctly-rounded division; code/level selection is a
    `<`-ladder over identical doubles (midpoint ties -> higher code,
    both engines); each squared error is a fixed 3-op IEEE chain
    pinned DECIMAL(28,12) BEFORE the order-fixed list fold, and the
    nano finish is PURE INTEGER - scale the exact 12-dp sum to a
    BIGINT and round-half-away as (2S+1000)//2000 - because the two
    dialect casts both bite here: DuckDB TRUNCATES decimal->decimal
    downscales (the orders_benford_screen trap) and Spark rounds
    double->decimal via the shortest repr (the bigram-LM trap).

    Plan & scale: a pure per-row projection — the int8 rung's shape:
    zero shuffles, all HOFs, scan speed at 100 TB. The CASE ladder is
    15 comparisons per element inside codegen; the sq-err fold reuses
    the same ladder textually (Catalyst does not CSE inside lambda
    bodies — the duplication is deliberate and cheap)."""
    lvl = _nf4_level_case("(x / mx)")
    code = _nf4_code_case("(x / mx)")
    e2 = f"((x - ({lvl}) * mx) * (x - ({lvl}) * mx))"
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    m = e.withColumn(
        "mx", F.expr("aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x)))")
    )
    return m.select(
        "vec_id",
        # raw double, NO pin: mx is the max of identical float32-cast
        # doubles, bit-equal across engines by construction — and a
        # decimal pin would HURT here (float32 values terminate in
        # decimal, parking many exactly on pin half-boundaries where
        # the engines' double→decimal casts disagree; observed at
        # sf0.1: 0.3126220703125 at an (18,12) pin)
        F.col("mx").alias("absmax"),
        F.size("v").cast("bigint").alias("n_dims"),
        F.expr(
            f"CASE WHEN mx > 0 THEN CAST(aggregate(v, 0L,"
            f" (acc, x) -> acc + CAST({code} AS BIGINT)) AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
        ).alias("code_sum"),
        F.expr(
            f"CASE WHEN mx > 0 THEN (2 * CAST(aggregate(v,"
            f" CAST(0 AS DECIMAL(28,12)),"
            f" (acc, x) -> CAST(acc + CAST({e2} AS DECIMAL(28,12))"
            f" AS DECIMAL(28,12))) * 1000000000000 AS BIGINT)"
            f" + 1000) div 2000"
            f" ELSE CAST(0 AS BIGINT) END"
        ).alias("sq_err_nano"),
    )

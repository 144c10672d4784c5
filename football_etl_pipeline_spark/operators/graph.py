"""Iterative graph operator: connected components over the near-dup
pair graph → dedup clusters. This is the step that turns pairwise
similarity (dedup.py) into actionable groups ("keep one doc per
component") in a training-data pipeline.

Algorithm: min-label propagation to fixpoint — every node repeatedly
adopts the smallest label among itself and its neighbors. A driver
loop with a convergence check is the idiomatic Spark shape for
iterative algorithms (each iteration is one shuffle; lineage is cut
with localCheckpoint so the plan doesn't grow unboundedly). For
web-scale graphs the same loop upgrades to the large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SOCC'14) — same driver-loop skeleton, fewer iterations.

Oracled exactly: DuckDB computes the same fixpoint with a recursive
CTE (min reachable label per node), so even an ITERATIVE operator is
value-checked, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .dedup import dedup_ngram_jaccard
from .registry import query

MAX_ITERATIONS = 20  # diameter bound; components here are tiny


def connected_components(edges: DataFrame, src: str = "a_id", dst: str = "b_id") -> DataFrame:
    """(node, component) for every node in ``edges``; the component id
    is the minimum node id reachable. Undirected. One shuffle per
    iteration; converges in O(diameter) iterations."""
    # r15: materialize the input pair list once — the symmetric union
    # reads it twice with mirrored projections (no exchange reuse), so
    # an un-cut input re-ran the whole candidate pipeline per branch.
    edges0 = edges.select(F.col(src), F.col(dst)).localCheckpoint()
    sym = edges0.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(edges0.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    sym = sym.distinct().localCheckpoint()

    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(MAX_ITERATIONS):
        # candidate label per node: min over neighbors' labels
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            # cut lineage (the plan must not grow per iteration);
            # eager=False: the changed-count action right below is the
            # iteration's materializing job (r15 — one job per round,
            # not two).
            .localCheckpoint(eager=False)
        )
        # Full count, deliberately NOT limit(1): the probe is also the
        # job that fills the lazy checkpoint above, and a short-
        # circuiting limit would leave the cache partially built — the
        # fill-in job would then run anyway, re-paying the round
        # (ADVICE r15; the same pitfall graph_khop_bfs documents for
        # isEmpty). One full aggregate = one job per round, complete
        # checkpoint.
        changed = (
            updated.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = updated
        if changed == 0:
            converged = True
            break
    if not converged:
        # Non-fixpoint labels are WRONG labels — never return them as
        # if they were components.
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITERATIONS} "
            "iterations (graph diameter exceeds the bound)"
        )
    return labels


def connected_components_star(
    edges: DataFrame, src: str = "a_id", dst: str = "b_id", max_iter: int = 50
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14) — the
    scale path ``connected_components``' docstring promises.

    Per round: *large-star* points every neighbor larger than a node
    at that node's minimum neighborhood label; *small-star* collapses
    the remaining smaller-than chains. Each is one groupBy + one join
    on the edge list — same per-round shuffle cost as label
    propagation, but convergence is O(log n) rounds instead of
    O(diameter), which is the difference that matters on web-scale
    dup graphs with long chains. At fixpoint the edge set is a star
    per component: every node points directly at the component min.

    Convergence is detected by an order-insensitive edge-set checksum
    (count + bit_xor of xxhash64; XOR can't overflow and the edge set
    is distinct, so no pair cancellation) — one tiny aggregate per
    round instead of a full except-join."""
    # r15: materialize the INPUT pair list once — ``e`` and
    # ``all_nodes`` are both cheap derivations of it, and without the
    # shared cut each one re-executed the whole upstream candidate
    # pipeline (shingle explode + self-join) from scratch: two full
    # pair computations per components query (guide §2.4 — remove
    # recompute, not just shuffles).
    edges0 = edges.select(F.col(src), F.col(dst)).localCheckpoint()
    e = (
        edges0.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    all_nodes = (
        edges0.select(F.col(src).alias("node"))
        .union(edges0.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )

    def checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    prev = checksum(e)
    converged = False
    for _ in range(max_iter):
        # Large-star: m(x) = min(N(x) ∪ {x}); emit (v, m) for v > x.
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star on the (larger→smaller) edges: m = min neighbor;
        # re-point every smaller neighbor and the center itself at m.
        minsS = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(minsS, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(minsS.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
            # eager=False: the checksum aggregate right below is the
            # round's materializing action — an eager checkpoint would
            # pay one extra no-op job per round just to count the rows
            # the checksum is about to read (r15, guide §1.2 step 1:
            # fewer sequential driver round-trips per iteration).
            .localCheckpoint(eager=False)
        )
        e = small
        cur = checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — refusing to return possibly non-fixpoint labels"
        )

    labels = e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("label"))
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )


# Shared by dedup_components (label propagation) and
# dedup_components_star (large/small-star): both compute the same
# min-reachable-label fixpoint, so one recursive-CTE oracle serves.
_COMPONENTS_ORACLE = """
    WITH RECURSIVE pairs AS (
      -- same candidate pairs as dedup_ngram_jaccard's oracle
      SELECT * FROM (
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '[\\s\\v]+') AS toks
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   list_transform(range(greatest(len(toks) - 2, 0)),
                     i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]),
                   s -> try_cast('0x' || substr(md5(s), 1, 15) AS BIGINT)))) AS h
          FROM toks
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), rare AS (
          SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= 50
        ), cand AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
          FROM sh a
          JOIN rare r ON a.h = r.h
          JOIN sh b ON b.h = a.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT a_id, b_id FROM cand
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.5
      )
    ), edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ), reach AS (
      SELECT u AS node, u AS label FROM edges
      UNION
      SELECT e.u AS node, r.label
      FROM edges e JOIN reach r ON r.node = e.v
    )
    SELECT node AS doc_id, MIN(label) AS component
    FROM reach GROUP BY node
    """


@query("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components over the Jaccard≥0.5 pair
    graph; every clustered doc labeled with its component's min
    doc_id (the canonical survivor).

    Non-SQL-expressible in Spark (a driver loop), yet exactly oracled
    — DuckDB's recursive CTE computes the identical min-reachable
    fixpoint. Scale: each iteration is one join+groupBy shuffle over
    the edge list; localCheckpoint keeps plans flat; iteration count
    is the component diameter (near-dup clusters: 1-3)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


@query("dedup_components_star", oracle=_COMPONENTS_ORACLE)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dedup clusters as ``dedup_components``, computed with the
    large-star/small-star algorithm — the O(log n)-round scale path
    for web-scale dup graphs, oracled against the identical recursive
    CTE (both algorithms must land on the same min-label fixpoint)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    comp = connected_components_star(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


_COACTIVITY_EDGES_DUCK = """
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
    ), edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM iv a JOIN iv b
        ON a.user_id < b.user_id
       AND a.s_us <= b.e_us AND b.s_us <= a.e_us
    )
"""


@query(
    "graph_triangle_count",
    oracle=_COACTIVITY_EDGES_DUCK
    + """
    , deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    )
    SELECT
      (SELECT COUNT(*) FROM deg) AS n_nodes,
      (SELECT COUNT(*) FROM edges) AS n_edges,
      (SELECT COUNT(*) FROM edges e1
         JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
         JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles,
      (SELECT SUM(d * (d - 1) // 2) FROM deg)::BIGINT AS n_wedges,
      CAST(CAST(
        3.0 * (SELECT COUNT(*) FROM edges e1
                 JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
                 JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v)
        / (SELECT SUM(d * (d - 1) // 2) FROM deg)
        AS DECIMAL(18,6)) AS DOUBLE) AS clustering_coefficient
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the user
    co-activity graph (edge = two users with time-overlapping
    sessions, the distinct-pair projection of
    ``events_interval_overlap_join``) — the classic graph analytic
    whose naive 3-way self-join explodes on skew.

    Scale story — DEGREE-ORDERED orientation (the compact-forward
    algorithm; same idea as Suri & Vassilvitskii, "Counting Triangles
    and the Curse of the Last Reducer", WWW'11): direct every edge
    from its (degree, id)-smaller endpoint to the larger, so each
    triangle is counted exactly once (no /6, no distinct) and —
    crucially — every node's OUT-degree is O(√m) no matter how skewed
    its true degree: a celebrity node with 10M neighbors contributes
    wedges only through neighbors that outrank it. The wedge join and
    the closing edge check are then two plain equi-joins whose
    intermediate is Σ outdeg² « Σ deg², the quantity that kills the
    unordered formulation. Broadcast of the 2-col degree frame is left
    to AQE (it grows with |V|).

    The oracle (quadratic canonical u<v<w 3-way join) double-counts
    nothing either, so counts, wedge totals, and the ratio all match
    exactly; the coefficient divides two exact integers → DECIMAL."""
    from .events import events_interval_overlap_join

    # Edge list via the BUCKETED interval join (events.py) — the raw
    # non-equi pair predicate would plan a nested loop; the cell-keyed
    # equi-join is the scale path, and reusing the registered operator
    # keeps one implementation of the overlap semantics.
    pairs = events_interval_overlap_join(spark, sf_dir)
    edges = (
        pairs.select(
            F.col("user_a").alias("u"), F.col("user_b").alias("v")
        )
        .distinct()
    )
    edges = edges.persist()
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg = deg.persist()
    # Orient each edge from (deg, id)-smaller to larger endpoint.
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    fwd = F.col("du") < F.col("dv")
    tie = (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    # Carry the dst endpoint's rank key (degree, id) so wedges can be
    # canonicalized by RANK — then the closing x—y edge has exactly one
    # possible orientation (rank-smaller → rank-larger) and the closure
    # join is a plain two-key EQUI join. (Canonicalizing by node id
    # instead would need an OR-of-orientations close, which Catalyst
    # can only plan as a nested loop.)
    oriented = ranked.select(
        F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd | tie, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
    )
    oriented = oriented.persist()
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    o3 = oriented.select("src", "dst").alias("o3")
    rank_lt = (F.col("o1.dst_d") < F.col("o2.dst_d")) | (
        (F.col("o1.dst_d") == F.col("o2.dst_d"))
        & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedges = o1.join(
        o2, (F.col("o1.src") == F.col("o2.src")) & rank_lt
    ).select(
        F.col("o1.dst").alias("x"),
        F.col("o2.dst").alias("y"),
    )
    tri = wedges.join(
        o3,
        (F.col("o3.src") == F.col("x")) & (F.col("o3.dst") == F.col("y")),
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(
            (F.col("d") * (F.col("d") - 1) / 2).cast("long")
        ).alias("n_wedges")
    )
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_tri)
        .crossJoin(n_wedges)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            (3.0 * F.col("n_triangles") / F.col("n_wedges"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("clustering_coefficient"),
        )
    )


PR_SCALE = 10**12  # fixed-point unit for PageRank mass
PR_ITERS = 3
PR_DAMP = 0.85
PR_TOPK = 25


def _pr_iter_duck(prev: str, it: str) -> str:
    return f"""
    {it} AS (
      SELECT s.dst AS node,
             CAST(FLOOR((0.15 * {PR_SCALE} / p.n)
                        + {PR_DAMP} * SUM(r.r // d.d)) AS BIGINT) AS r
      FROM sym s
      JOIN {prev} r ON r.node = s.src
      JOIN deg d ON d.node = s.src
      CROSS JOIN params p
      GROUP BY s.dst, p.n
    )"""


@query(
    "graph_pagerank",
    oracle=_COACTIVITY_EDGES_DUCK
    + f"""
    , sym AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM sym GROUP BY 1),
    params AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (
      SELECT node, CAST({PR_SCALE} // p.n AS BIGINT) AS r
      FROM deg CROSS JOIN params p
    ),{_pr_iter_duck("r0", "it1")},{_pr_iter_duck("it1", "it2")},{_pr_iter_duck("it2", "it3")}
    SELECT node AS user_id, r AS rank_micro,
           CAST(CAST(r / {PR_SCALE}.0 AS DECIMAL(18,12)) AS DOUBLE)
             AS pagerank
    FROM it3
    ORDER BY r DESC, node
    LIMIT {PR_TOPK}
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 damped iterations) over the undirected co-activity
    graph — the canonical iterative graph analytic, EXACTLY oracled
    despite being iterative, using the same fixed-point trick as the
    k-means trajectory oracle (`similarity.py`): rank mass lives in
    BIGINT trillionths end-to-end, per-edge contributions are INTEGER
    division (r // deg — bit-exact in both engines), and the only
    float math per step (damping) is FLOORed back to integers on
    identical operands, so no cross-engine drift can ACCUMULATE across
    iterations — each iteration's state is integer-identical.

    Scale: each iteration is one equi-join of the symmetric edge list
    against the |V|-row rank frame plus one groupBy(dst) — the
    textbook Pregel step as two shuffles, with edges+degrees persisted
    once across iterations and only the rank frame recomputed. The
    driver loop is ITERATION-bounded (3), not data-bounded; nothing is
    collected. Skewed hubs cost what any groupBy on their key costs —
    AQE skew-split applies; no single-machine adjacency assumption
    anywhere. Top-{PR_TOPK} by integer rank with node tie-break keeps
    the output deterministic."""
    from .events import events_interval_overlap_join

    pairs = events_interval_overlap_join(spark, sf_dir)
    edges = (
        pairs.select(F.col("user_a").alias("u"), F.col("user_b").alias("v"))
        .distinct()
    )
    sym = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).union(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    sym = sym.persist()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    deg = deg.persist()
    n = deg.count()  # |V|: one scalar to the driver, iteration-invariant
    base = 0.15 * PR_SCALE / n
    r = deg.select("src", F.lit(PR_SCALE // n).cast("long").alias("r"))
    withdeg = sym.join(deg, "src")
    for _ in range(PR_ITERS):
        contrib = withdeg.join(r, "src").select(
            "dst", F.expr("r div d").alias("c")
        )
        r = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("src"),
                F.floor(F.lit(base) + PR_DAMP * F.col("s"))
                .cast("long")
                .alias("r"),
            )
        )
    return (
        r.select(
            F.col("src").alias("user_id"),
            F.col("r").alias("rank_micro"),
            (F.col("r") / F.lit(float(PR_SCALE)))
            .cast("decimal(18,12)")
            .cast("double")
            .alias("pagerank"),
        )
        .orderBy(F.col("rank_micro").desc(), "user_id")
        .limit(PR_TOPK)
    )


# ---- single-source BFS (k-hop shortest distance) ---------------------

BFS_MAX_HOPS = 4


@query(
    "graph_khop_bfs",
    oracle=_COACTIVITY_EDGES_DUCK
    + f"""
    , sym AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    ), seed AS (
      SELECT MIN(u) AS s FROM edges
    ), reach AS (
      WITH RECURSIVE r(node, dist) AS (
        SELECT s, 0 FROM seed
        UNION
        SELECT e.dst, r.dist + 1
        FROM r JOIN sym e ON e.src = r.node
        WHERE r.dist < {BFS_MAX_HOPS}
      )
      SELECT * FROM r
    )
    SELECT node, MIN(dist)::BIGINT AS dist
    FROM reach GROUP BY node
    """,
)
def graph_khop_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS: shortest hop-distance (capped at
    {BFS_MAX_HOPS}) from the smallest node id in the co-activity
    graph to every reachable node — the "blast radius" / influence-
    neighborhood primitive (who is within k hops of a flagged
    account). Completes the iterative-graph family: connected
    components (global min-label fixpoint), PageRank (damped mass
    fixpoint), triangles (one-shot), and now frontier expansion.

    Iterative-yet-exactly-oracled: hop distances are small integers —
    no float accumulates — so DuckDB reproduces the identical fixpoint
    with a recursive CTE (UNION-distinct recursion bounded by the hop
    cap) and the value hash is exact.

    Scale story (100 TB of events → a billion-edge graph): each of
    the {BFS_MAX_HOPS} driver-bounded iterations is ONE equi-join of
    the current label frame against the symmetric edge list plus one
    min-aggregate on the destination key — the Pregel step as two
    shuffles, identical skeleton to connected_components above (same
    AQE skew handling, same localCheckpoint lineage cut). The label
    frame never exceeds |V| rows; nothing collects to the driver —
    the seed itself is a 1-row aggregate joined in, not a collected
    constant. Hop-capping bounds work on high-diameter graphs, the
    same reason Lee-style k-hop queries cap at small k in production
    graph stores."""
    from .events import events_interval_overlap_join

    pairs = events_interval_overlap_join(spark, sf_dir)
    # The overlap join is the expensive subtree — materialize the edge
    # list ONCE; sym and the seed are cheap derivations of it.
    edges = (
        pairs.select(F.col("user_a").alias("u"), F.col("user_b").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    sym = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).union(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    sym = sym.persist()

    seed = edges.agg(F.min("u").alias("node")).select(
        "node", F.lit(0).cast("int").alias("dist")
    )
    frontier = seed.localCheckpoint()
    labels = frontier
    for hop in range(BFS_MAX_HOPS):
        # Plain equi-join on the edge key: early frontiers are tiny
        # (AQE runtime-broadcasts them), late frontiers can be O(|V|)
        # — a static broadcast hint would be wrong at scale.
        neighbor = sym.join(frontier, sym.src == frontier.node).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        # New best-known distance per node; nodes already labeled keep
        # their (strictly smaller) old distance. ONE materialization
        # per hop: the next frontier is exactly the rows first
        # discovered this round (dist == hop + 1) — a free filter of
        # the checkpointed frame, no anti-join, no second job.
        merged = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            # eager stays: the per-hop probe is isEmpty(), which only
            # materializes the first non-empty partition — a lazy
            # checkpoint would leave the cache partially built and the
            # next hop would recompute the rest (measured 2.1→2.7s
            # with eager=False in r15; reverted).
            .localCheckpoint()
        )
        frontier = merged.filter(F.col("dist") == hop + 1)
        labels = merged
        if frontier.isEmpty():
            break
    return labels.select("node", F.col("dist").cast("long").alias("dist"))


# ---- label-propagation communities -----------------------------------

LPA_ROUNDS = 3


def _lpa_round_duck(prev: str, it: int) -> str:
    return f"""
    r{it} AS (
      SELECT s.u AS node, l.label, COUNT(*) AS c
      FROM sym s JOIN {prev} l ON l.node = s.v
      GROUP BY s.u, l.label
    ), l{it} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (
                 PARTITION BY node ORDER BY c DESC, label ASC
               ) AS rn
        FROM r{it}
      ) WHERE rn = 1
    )"""


@query(
    "graph_label_propagation",
    oracle=_COACTIVITY_EDGES_DUCK
    + """
    , sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ), l0 AS (
      SELECT DISTINCT u AS node, u AS label FROM sym
    ), """
    + ", ".join(_lpa_round_duck(f"l{i - 1}", i) for i in range(1, LPA_ROUNDS + 1)).replace(", \n    r", ", \n    r")
    + f"""
    SELECT node AS user_id, label AS community FROM l{LPA_ROUNDS}
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    co-activity graph: every node starts as its own label; each round
    it adopts the MOST FREQUENT label among its neighbors (ties → the
    smallest label, which makes classic LPA — normally run-to-run
    nondeterministic — exactly reproducible and therefore oracle-able
    via {LPA_ROUNDS} unrolled CTE rounds). The fourth graph-analytics
    family next to components (connectivity), PageRank (centrality),
    and triangles (cohesion).

    Plan per round: one (node, label) count aggregate + one per-node
    top-1 window — two bounded shuffles, no NxN anything; rounds are
    a fixed constant (LPA converges in a few sweeps on social-shaped
    graphs; a production run adds a convergence check exactly like
    ``connected_components``' changed-count)."""
    from .events import events_interval_overlap_join

    pairs = events_interval_overlap_join(spark, sf_dir)
    # r16: materialize the edge list once (the link_prediction/khop
    # rule, guide §2.4) — the symmetric union reads it twice and every
    # LPA round's plan inlines sym's lineage; with the cut each
    # reference is a cheap RDD scan instead of the sessionize→overlap
    # subtree re-analyzed per round.
    edges = (
        pairs.select(F.col("user_a").alias("u"), F.col("user_b").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    sym = edges.union(edges.select(F.col("v"), F.col("u"))).persist()
    labels = _lpa_labels(sym)
    return labels.select(
        F.col("node").alias("user_id"), F.col("label").alias("community")
    )


def _lpa_labels(sym: DataFrame) -> DataFrame:
    """The synchronous LPA sweep over a symmetric edge frame →
    (node, label). Shared by ``graph_label_propagation`` and the
    modularity report so both run the identical deterministic
    tie-broken rounds."""
    from pyspark.sql import Window

    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    wtop = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(LPA_ROUNDS):
        counts = (
            sym.join(labels, sym.v == labels.node)
            .groupBy(sym.u, "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.col("u").alias("node"), "label", "c")
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(wtop))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels


# ---- link prediction: common-neighbor Jaccard -------------------------

LP_CENTER_DEG_CAP = 256  # wedge centers hotter than this are dropped
LP_TOP_K = 20


@query(
    "graph_link_prediction",
    oracle=_COACTIVITY_EDGES_DUCK
    + f"""
    , sym AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    deg AS (SELECT src AS node, COUNT(*)::BIGINT AS d FROM sym GROUP BY 1),
    centers AS (SELECT node FROM deg WHERE d <= {LP_CENTER_DEG_CAP}),
    wed AS (
      SELECT a.dst AS u, b.dst AS w, COUNT(*)::BIGINT AS cn
      FROM sym a JOIN sym b
        ON a.src = b.src AND a.dst < b.dst
      JOIN centers c ON c.node = a.src
      GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT wed.u, wed.w, wed.cn
      FROM wed LEFT JOIN edges e ON e.u = wed.u AND e.v = wed.w
      WHERE e.u IS NULL
    )
    SELECT n.u AS user_a, n.w AS user_b, n.cn AS common_neighbors,
           CAST(CAST(
             CAST(n.cn AS DOUBLE) / (da.d + db.d - n.cn)
             AS DECIMAL(18,6)) AS DOUBLE) AS jaccard_score
    FROM nonadj n
    JOIN deg da ON da.node = n.u
    JOIN deg db ON db.node = n.w
    ORDER BY jaccard_score DESC, user_a ASC, user_b ASC
    LIMIT {LP_TOP_K}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the user co-activity graph: for NON-adjacent
    pairs sharing at least one neighbor, the common-neighbor Jaccard
    score |N(u)∩N(w)| / |N(u)∪N(w)| — the classic "who should be
    connected" recommender primitive, top-K with deterministic ties.

    Exactness: neighbor counts and degrees are exact integers;
    |N∪N| = d_u + d_w − common needs no second join pass; one IEEE
    division, pinned DECIMAL(18,6).

    Scale: candidate pairs come from a WEDGE join through shared
    neighbors — Σ d² through hubs is the blow-up — so wedge centers
    hotter than LP_CENTER_DEG_CAP are dropped (the documented
    candidate-bounding dial, same discipline as the fuzzy-match
    DF cap and the triangle count's degree orientation; a celebrity
    hub predicts everyone↔everyone and is signal-free anyway).
    The cap prunes wedges AFTER generation: both wedge sides are the
    same sym frame, so the self-join reuses one shuffle, which beat a
    pre-join cap on both sides at sf0.1 (8.30 s vs 8.72 s median,
    BASELINE.md round 11) because the hub tail is thin there. The
    adjacency screen is a broadcast-or-shuffle anti-join on the edge
    key; top-K is TakeOrdered."""
    from .events import events_interval_overlap_join

    pairs = events_interval_overlap_join(spark, sf_dir)
    # r15: materialize the edge list ONCE (the khop/kcore rule). The
    # plan reads it through sym (both wedge sides), the degree frame,
    # the adjacency anti-join, and both endpoint degree joins — before
    # this cut the sessionize→overlap-join subtree appeared 8× in the
    # physical plan (62 Exchanges, zero reuse; measured 11.0s → the
    # checkpoint collapses every reader to a cheap scan, guide §2.4).
    edges = (
        pairs.select(F.col("user_a").alias("u"), F.col("user_b").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    sym = edges.union(edges.select(F.col("v"), F.col("u"))).toDF(
        "src", "dst"
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d")).toDF(
        "node", "d"
    )
    centers = deg.filter(F.col("d") <= LP_CENTER_DEG_CAP).select("node")
    a = sym.toDF("c", "u")
    b = sym.toDF("c", "w")
    wed = (
        a.join(b, "c")
        .filter(F.col("u") < F.col("w"))
        .join(centers.withColumnRenamed("node", "c"), "c")
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonadj = wed.join(
        edges,
        (wed["u"] == edges["u"]) & (wed["w"] == edges["v"]),
        "left_anti",
    )
    da = deg.toDF("u", "da")
    db = deg.toDF("w", "db")
    return (
        nonadj.join(da, "u")
        .join(db, "w")
        .select(
            F.col("u").alias("user_a"),
            F.col("w").alias("user_b"),
            F.col("cn").alias("common_neighbors"),
            (
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn"))
            )
            .cast("decimal(18,6)")
            .cast("double")
            .alias("jaccard_score"),
        )
        .orderBy(
            F.col("jaccard_score").desc(),
            F.col("user_a").asc(),
            F.col("user_b").asc(),
        )
        .limit(LP_TOP_K)
    )


# ---- community modularity report -------------------------------------


@query(
    "graph_modularity_report",
    oracle=_COACTIVITY_EDGES_DUCK
    + """
    , sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ), l0 AS (
      SELECT DISTINCT u AS node, u AS label FROM sym
    ), """
    + ", ".join(_lpa_round_duck(f"l{i - 1}", i) for i in range(1, LPA_ROUNDS + 1))
    + f"""
    , comm AS (SELECT node, label FROM l{LPA_ROUNDS}),
    mm AS (SELECT COUNT(*)::BIGINT AS m FROM edges),
    deg AS (SELECT u AS node, COUNT(*)::BIGINT AS d FROM sym GROUP BY 1),
    vol AS (
      SELECT c.label, SUM(deg.d)::BIGINT AS volume,
             COUNT(*)::BIGINT AS n_nodes
      FROM deg JOIN comm c ON c.node = deg.node
      GROUP BY c.label
    ),
    ein AS (
      SELECT ca.label, COUNT(*)::BIGINT AS e_in
      FROM edges e
      JOIN comm ca ON ca.node = e.u
      JOIN comm cb ON cb.node = e.v
      WHERE ca.label = cb.label
      GROUP BY ca.label
    ),
    base AS (
      SELECT v.label AS community, v.n_nodes,
             COALESCE(ein.e_in, 0)::BIGINT AS internal_edges,
             v.volume, mm.m,
             (4 * mm.m * COALESCE(ein.e_in, 0)
              - v.volume * v.volume)::BIGINT AS num
      FROM vol v LEFT JOIN ein ON ein.label = v.label CROSS JOIN mm
    ),
    tot AS (SELECT SUM(num)::BIGINT AS tnum FROM base)
    SELECT community, n_nodes, internal_edges, volume,
           CAST(CAST(CAST(num AS DOUBLE) / (4.0 * m * m)
                AS DECIMAL(18,6)) AS DOUBLE) AS q_contrib,
           CAST(CAST(CAST(tot.tnum AS DOUBLE) / (4.0 * m * m)
                AS DECIMAL(18,6)) AS DOUBLE) AS q_total
    FROM base CROSS JOIN tot
    """,
)
def graph_modularity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities — the
    quality metric that tells you whether LPA found real structure
    (Q near 0 = no better than random given the degree sequence):
    per-community node count, internal edge count, volume (degree
    sum), its modularity contribution (e_i/m − (vol_i/2m)²), and the
    graph-level Q on every row. Composes the verified LPA rung
    (shared ``_lpa_labels`` sweep — identical deterministic
    tie-breaking) the way ``dedup_method_agreement`` composes the
    dedup ladder.

    Exactness: the contribution numerator 4·m·e_i − vol_i² is EXACT
    integer arithmetic (no integer division anywhere — `div` truncates
    on Spark but floors on DuckDB for negatives, so the term is kept
    integral and only the final scale-down goes through the one
    fixed double expression + DECIMAL pin). Plan: the community frame
    persists once and feeds the volume aggregate and both endpoint
    joins; everything downstream runs on |communities| rows with the
    1-row m and Σ frames broadcast."""
    from .events import events_interval_overlap_join

    pairs = events_interval_overlap_join(spark, sf_dir)
    # r16: localCheckpoint instead of persist for the edge list — the
    # report reads edges/sym/comm through SIX downstream joins, and a
    # persist keeps the whole sessionize→overlap lineage inside every
    # consumer's analyzed plan (measured: 1054 Exchange nodes of
    # inlined plan text, re-analyzed per build). The cut makes every
    # reference a cheap RDD scan (guide §2.4; the r15 link_prediction
    # treatment, which took that plan 62 Exchanges → 18).
    edges = (
        pairs.select(
            F.col("user_a").alias("u"), F.col("user_b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    sym = edges.union(edges.select(F.col("v"), F.col("u"))).persist()
    # comm feeds the volume aggregate and BOTH endpoint joins of the
    # internal-edge count — checkpoint (not persist) so the three
    # consumers' plans carry an RDD scan, not three inlined copies of
    # the LPA round chain.
    comm = _lpa_labels(sym).localCheckpoint()

    mm = edges.agg(F.count(F.lit(1)).alias("m"))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    vol = (
        deg.join(comm, "node")
        .groupBy("label")
        .agg(
            F.sum("d").cast("bigint").alias("volume"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
    )
    ca = comm.select(
        F.col("node").alias("u"), F.col("label").alias("la")
    )
    cb = comm.select(
        F.col("node").alias("v"), F.col("label").alias("lb")
    )
    ein = (
        edges.join(ca, "u")
        .join(cb, "v")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    base = (
        vol.join(ein, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            F.col("label").alias("community"),
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("bigint").alias(
                "internal_edges"
            ),
            "volume",
            "m",
            F.expr(
                "CAST(4 * m * COALESCE(e_in, 0) - volume * volume"
                " AS BIGINT)"
            ).alias("num"),
        )
    )
    # base feeds BOTH the broadcast Σ frame and the final projection —
    # persist the |communities|-row frame or the vol/ein joins run twice.
    base = base.persist()
    tot = base.agg(F.sum("num").cast("bigint").alias("tnum"))
    return (
        base.crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            "internal_edges",
            "volume",
            F.expr(
                "CAST(CAST(CAST(num AS DOUBLE) / (4.0 * m * m)"
                " AS DECIMAL(18,6)) AS DOUBLE)"
            ).alias("q_contrib"),
            F.expr(
                "CAST(CAST(CAST(tnum AS DOUBLE) / (4.0 * m * m)"
                " AS DECIMAL(18,6)) AS DOUBLE)"
            ).alias("q_total"),
        )
    )


# ---- degree distribution (graph-health histogram) ----------------------

# Power-of-two degree buckets as a FIXED CASE ladder (identical text
# both dialects — no log2 float anywhere). Top arm is open-ended.
_DEG_BUCKET_TOPS = (2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096)


def _deg_bucket_case(col: str) -> str:
    arms = " ".join(
        f"WHEN {col} < {hi} THEN {hi // 2 if hi > 2 else 1}"
        for hi in _DEG_BUCKET_TOPS
    )
    return f"CASE {arms} ELSE {_DEG_BUCKET_TOPS[-1]} END"


@query(
    "graph_degree_distribution",
    oracle=_COACTIVITY_EDGES_DUCK
    + f"""
    , sym AS (
      SELECT u AS src FROM edges UNION ALL SELECT v FROM edges
    ),
    deg AS (SELECT src AS node, COUNT(*)::BIGINT AS d FROM sym GROUP BY 1),
    tot AS (SELECT COUNT(*)::BIGINT AS n FROM deg)
    SELECT CAST({_deg_bucket_case('d')} AS BIGINT) AS bucket_lo,
           COUNT(*)::BIGINT AS n_nodes,
           MIN(d)::BIGINT AS min_degree,
           MAX(d)::BIGINT AS max_degree,
           CAST(CAST(COUNT(*) * 1.0 / MAX(tot.n) AS DECIMAL(18,6))
                AS DOUBLE) AS node_share
    FROM deg CROSS JOIN tot
    GROUP BY 1
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-2-binned degree histogram of the co-activity graph — the
    first graph-health readout any pipeline runs (is there a hub tail
    that will blow up wedge joins? is LP_CENTER_DEG_CAP sized right?).
    Buckets are a fixed power-of-two CASE ladder — no float log2, so
    the histogram is engine-exact; each bucket reports its node count,
    share, and observed [min, max] degree.

    Plan: the same sessionize → interval-overlap → distinct-edge
    derivation every graph query shares, then degree = one hash
    aggregate on node, bucketing = a codegen CASE in the projection,
    and the ≤ 13-row histogram finishes with a broadcast scalar total
    — no single-partition window, no second edge scan."""
    from .events import events_interval_overlap_join

    pairs = events_interval_overlap_join(spark, sf_dir)
    # r15: edge list materialized once (sym's two mirrored projections
    # get no exchange reuse), and the (tiny) degree frame persisted —
    # the histogram and the broadcast total both read it; before the
    # cuts each reader re-derived the overlap join (guide §2.4).
    edges = pairs.select(
        F.col("user_a").alias("u"), F.col("user_b").alias("v")
    ).distinct().localCheckpoint()
    sym = edges.select(F.col("u").alias("src")).union(
        edges.select(F.col("v").alias("src"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d")).persist()
    tot = deg.agg(F.count(F.lit(1)).alias("n"))
    return (
        deg.select(
            F.expr(_deg_bucket_case("d")).cast("bigint").alias("bucket_lo"),
            "d",
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
            F.expr(
                "CAST(CAST(COUNT(*) * 1.0 / MAX(n) AS DECIMAL(18,6))"
                " AS DOUBLE)"
            ).alias("node_share"),
        )
    )


# ---- degree assortativity ------------------------------------------------


@query(
    "graph_degree_assortativity",
    oracle=_COACTIVITY_EDGES_DUCK
    + """
    , sym AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    deg AS (SELECT src AS node, COUNT(*)::BIGINT AS d FROM sym GROUP BY 1),
    de AS (
      SELECT da.d AS x, db.d AS y
      FROM sym s
      JOIN deg da ON da.node = s.src
      JOIN deg db ON db.node = s.dst
    ),
    mo AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
             SUM(x * x)::BIGINT AS sxx, SUM(y * y)::BIGINT AS syy,
             SUM(x * y)::BIGINT AS sxy
      FROM de
    )
    SELECT n AS n_directed_edges,
           CAST(CAST(
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             AS DECIMAL(18,6)) AS DOUBLE) AS assortativity
    FROM mo
    """,
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the co-activity graph — Pearson r of
    (deg(u), deg(v)) over every directed edge: do heavy users
    co-occur with heavy users (r > 0, social-network-like) or with
    light ones (r < 0, hub-and-spoke)? The one-number structure
    summary that, with ``graph_degree_distribution``, tells you
    whether hub mitigation (degree caps, salting) is load-bearing on
    this graph.

    Exactness: degrees are exact BIGINTs; the five correlation moments
    are BIGINT sums (degree ≤ ~10³ here, so Σx·y ≤ 10⁶·|edges| — far
    inside int64; a 100 TB graph lifts them to DECIMAL(38,0) like the
    embedding moments); the final r is one fixed-order IEEE chain
    pinned DECIMAL(18,6) — the ``lineitem_correlation_matrix``
    discipline on a graph.

    Plan: edge derivation shared with the whole graph family, one
    degree aggregate, two hash joins to decorate edge ends, one
    five-moment aggregate to a single row. No window, no driver math
    beyond the final projection."""
    from .events import events_interval_overlap_join

    pairs = events_interval_overlap_join(spark, sf_dir)
    # r15: edge list materialized once — sym (2 reads), the degree
    # aggregate, and both decorate joins otherwise each re-derive the
    # overlap join (guide §2.4); sym and deg are then persisted so the
    # two endpoint joins share one degree computation.
    edges = pairs.select(
        F.col("user_a").alias("u"), F.col("user_b").alias("v")
    ).distinct().localCheckpoint()
    sym = (
        edges.union(edges.select(F.col("v"), F.col("u"))).toDF(
            "src", "dst"
        )
        .persist()
    )
    deg = (
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("d")).toDF(
            "node", "d"
        )
        .persist()
    )
    da = deg.toDF("src", "x")
    db = deg.toDF("dst", "y")
    de = sym.join(da, "src").join(db, "dst")
    mo = de.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return mo.select(
        F.col("n").alias("n_directed_edges"),
        F.expr(
            "CAST(CAST("
            " (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
            "    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("assortativity"),
    )


# ---- dedup cluster-size histogram ---------------------------------------


@query(
    "dedup_cluster_size_histogram",
    oracle="WITH comp AS ("
    + _COMPONENTS_ORACLE
    + """)
    , sizes AS (
      SELECT component, COUNT(*)::BIGINT AS size
      FROM comp GROUP BY component
    )
    SELECT size,
           COUNT(*)::BIGINT AS n_clusters,
           (size * COUNT(*))::BIGINT AS n_docs
    FROM sizes GROUP BY size
    """,
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-size distribution of the near-dup components — the
    dedup observability readout the shrinkage funnel doesn't give:
    how many pairs/triples/blobs exist, and whether a mega-cluster is
    forming (boilerplate or a hash collision chaining unrelated docs —
    the classic web-dedup pathology where one bad shingle glues the
    corpus into one component and "dedup" deletes it).

    Composes the verified star-contraction rung
    (``connected_components_star``) and aggregates its labels twice
    (component → size, size → count); the oracle wraps the identical
    recursive-CTE fixpoint. Scale: both aggregates are partial+final
    hash aggs over |clustered docs| — the histogram is the cheap part;
    the rung's candidate volume is already probed in SCALE.md."""
    from .dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    comp = connected_components_star(pairs)
    sizes = comp.groupBy("label").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    )


# ---- quality-aware survivor selection over near-dup components ----------

def _kbq_quality_duck() -> str:
    """Per-doc quality CTE composed from textops' ONE quality blend
    (TOKENS_DUCK tokenizer, _QUALITY_DUCK formula, STOPWORDS list) —
    the same constants the Spark side uses, so an edit to the blend
    can never silently desync this oracle from its Spark twin."""
    from .textops import STOPWORDS, TOKENS_DUCK, _QUALITY_DUCK, _sql_list

    q = _QUALITY_DUCK.replace("STOP", _sql_list(STOPWORDS))
    return f"""
    SELECT doc_id,
           CAST(CAST(
             {q}
           AS DECIMAL(18,6)) AS DOUBLE) AS q
    FROM (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents) t
    """


_KBQ_QUALITY_DUCK = _kbq_quality_duck()


@query(
    "dedup_keep_best_quality",
    oracle="WITH comp AS ("
    + _COMPONENTS_ORACLE
    + f"""), q AS ({_KBQ_QUALITY_DUCK})
    , ranked AS (
      SELECT comp.component, comp.doc_id, q.q,
             ROW_NUMBER() OVER (
               PARTITION BY comp.component
               ORDER BY q.q DESC, comp.doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY comp.component) AS n_members,
             MIN(comp.doc_id) OVER (PARTITION BY comp.component) AS minid
      FROM comp JOIN q ON q.doc_id = comp.doc_id
    ), minq AS (
      SELECT r.component, q.q AS minid_q
      FROM (SELECT DISTINCT component, minid FROM ranked) r
      JOIN q ON q.doc_id = r.minid
    )
    SELECT r.component, r.doc_id AS survivor_id,
           r.q AS survivor_quality,
           r.n_members::BIGINT AS n_members,
           m.minid_q AS minid_quality,
           CAST(CAST(r.q - m.minid_q AS DECIMAL(18,6)) AS DOUBLE)
             AS quality_gain
    FROM ranked r JOIN minq m ON m.component = r.component
    WHERE r.rk = 1
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection over the NEAR-dup components:
    per cluster, keep the HIGHEST-quality member (tie → lowest
    doc_id) instead of the lowest-id member — the curation policy
    choice SemDeDup-style pipelines actually make (near-dup members
    are rewrites with DIFFERENT quality, unlike exact-dup copies
    whose identical text makes the policies coincide). Output is one
    row per cluster: the survivor and its quality, the cluster size,
    the lowest-id member's quality, and ``quality_gain`` — what the
    smarter rule buys over min-id, the number that justifies (or
    kills) the policy in a data review.

    Composes three verified rungs unchanged: the Jaccard candidate
    pairs, the star-contraction components (identical recursive-CTE
    oracle fixpoint), and the ``text_quality_by_source`` scoring
    blend (same weights, 6-dp pin, so ties break on doc_id
    identically in both engines).

    Scale: the rungs' costs are the probed ones; the NEW work is one
    quality projection joined on doc_id, one per-component window
    over |clustered docs| (components are near-dup clusters — sizes
    1-3 at this corpus, bounded by the histogram's mega-cluster
    early warning at scale), and a ≤|clusters|-row join for the
    min-id baseline."""
    from .dedup import dedup_ngram_jaccard
    from .textops import (
        STOPWORDS,
        TOKENS_SPARK,
        _QUALITY_SPARK,
        _sql_list,
    )

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    comp = (
        connected_components_star(pairs).select(
            F.col("node").alias("doc_id"), F.col("label").alias("component")
        )
        .persist()
    )
    docs = load_table(spark, sf_dir, "documents")
    qexpr = _QUALITY_SPARK.replace("TOKS", "toks").replace(
        "STOP", _sql_list(STOPWORDS)
    )
    q = (
        docs.select(
            "doc_id", F.expr(TOKENS_SPARK).alias("toks")
        ).select(
            "doc_id",
            F.expr(qexpr).cast("decimal(18,6)").cast("double").alias("q"),
        )
        .persist()
    )
    from pyspark.sql import Window

    wc = Window.partitionBy("component")
    ranked = (
        comp.join(q, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                wc.orderBy(F.col("q").desc(), F.col("doc_id").asc())
            ),
        )
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("minid", F.min("doc_id").over(wc))
    )
    minq = (
        ranked.select("component", "minid")
        .distinct()
        .join(
            q.select(F.col("doc_id").alias("minid"), F.col("q").alias("minid_q")),
            "minid",
        )
        .select("component", "minid_q")
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .join(minq, "component")
        .select(
            "component",
            F.col("doc_id").alias("survivor_id"),
            F.col("q").alias("survivor_quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("minid_q").alias("minid_quality"),
            (F.col("q") - F.col("minid_q"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("quality_gain"),
        )
    )


# ---- average local clustering coefficient --------------------------------


@query(
    "graph_local_clustering",
    oracle=_COACTIVITY_EDGES_DUCK
    + """
    , tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
    ), pn AS (
      SELECT node, COUNT(*)::BIGINT AS t FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    ), deg AS (
      SELECT node, COUNT(*)::BIGINT AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    ), loc AS (
      SELECT deg.node, deg.d,
             CAST(CAST(2 AS DOUBLE) * COALESCE(pn.t, 0)
                  / (CAST(deg.d AS DOUBLE) * (deg.d - 1))
                  AS DECIMAL(18,9)) AS cc
      FROM deg LEFT JOIN pn USING (node)
      WHERE deg.d >= 2
    )
    SELECT COUNT(*)::BIGINT AS n_nodes_deg2,
           SUM(CASE WHEN cc > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_closed_nodes,
           CAST(CAST(
             CAST(SUM(cc) AS DOUBLE) / COUNT(*)
             AS DECIMAL(18,6)) AS DOUBLE) AS avg_local_clustering
    FROM loc
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE LOCAL clustering coefficient (Watts–Strogatz) of the
    user co-activity graph — the per-node complement of
    ``graph_triangle_count``'s global transitivity: C̄ = mean over
    nodes (d ≥ 2) of 2·t(v)/(d(v)(d(v)−1)). The two disagree exactly
    when closure is unevenly distributed (a clique-of-hubs graph has
    high global, low average-local) — the readout community detection
    sanity checks lean on.

    Spark side reuses the DEGREE-ORIENTED triangle enumeration (each
    triangle materialized once, out-degrees O(√m) under skew — the
    compact-forward design the triangle op documents), then credits
    each triangle to all THREE corners via explode and aggregates
    per node. Per-node cc is an exact-int ratio through one fixed
    IEEE chain pinned DECIMAL(18,9); the average is an exact DECIMAL
    sum over nodes divided once, pinned DECIMAL(18,6). Nodes with
    d < 2 are excluded (cc undefined), the convention both dialects
    apply identically.

    Plan: the same two equi-joins as the triangle count, one explode
    (3 rows per triangle), two hash aggregates — no new shuffle class
    beyond the verified triangle plan."""
    from .events import events_interval_overlap_join

    pairs = events_interval_overlap_join(spark, sf_dir)
    edges = (
        pairs.select(
            F.col("user_a").alias("u"), F.col("user_b").alias("v")
        ).distinct()
        .persist()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist()
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    fwd = F.col("du") < F.col("dv")
    tie = (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    oriented = (
        ranked.select(
            F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(fwd | tie, F.col("dv"))
            .otherwise(F.col("du"))
            .alias("dst_d"),
        )
        .persist()
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    o3 = oriented.select("src", "dst").alias("o3")
    rank_lt = (F.col("o1.dst_d") < F.col("o2.dst_d")) | (
        (F.col("o1.dst_d") == F.col("o2.dst_d"))
        & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedges = o1.join(
        o2, (F.col("o1.src") == F.col("o2.src")) & rank_lt
    ).select(
        F.col("o1.src").alias("w"),
        F.col("o1.dst").alias("x"),
        F.col("o2.dst").alias("y"),
    )
    tri = wedges.join(
        o3,
        (F.col("o3.src") == F.col("x")) & (F.col("o3.dst") == F.col("y")),
    ).select("w", "x", "y")
    pn = (
        tri.select(F.explode(F.array("w", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    loc = (
        deg.join(pn, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.expr(
                "CAST(CAST(2 AS DOUBLE) * COALESCE(t, 0)"
                " / (CAST(d AS DOUBLE) * (d - 1)) AS DECIMAL(18,9))"
            ).alias("cc")
        )
    )
    return loc.agg(
        F.count(F.lit(1)).alias("n_nodes_deg2"),
        F.sum(F.when(F.col("cc") > 0, 1).otherwise(0)).alias(
            "n_closed_nodes"
        ),
        F.expr(
            "CAST(CAST(CAST(SUM(cc) AS DOUBLE) / COUNT(*)"
            " AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("avg_local_clustering"),
    )


# ---- k-core decomposition (fixed-round peel) ------------------------------

KCORE_K = 3
KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    """Unrolled fixed-round peel (the k-means/PCA trajectory-oracle
    pattern): rᵢ₊₁ keeps edges whose BOTH endpoints have degree ≥ k
    within rᵢ. The convergence flag is computed IN SQL (round-7 vs
    round-8 node counts), so the whole readout — including "did 8
    rounds suffice" — is engine-checked rather than driver-decided."""
    # every CTE is MATERIALIZED: DuckDB's default inlining would
    # re-expand each round's ~5 references to the previous round
    # (the same 5^8 blowup the Spark side cuts with localCheckpoint,
    # surfacing as "too many open files" on the events parquet)
    parts = [
        _COACTIVITY_EDGES_DUCK
        + ", r0 AS MATERIALIZED (SELECT u, v FROM edges)"
    ]
    for i in range(KCORE_ROUNDS):
        parts.append(
            f"""
    d{i + 1} AS MATERIALIZED (
      SELECT node, COUNT(*)::BIGINT AS d FROM (
        SELECT u AS node FROM r{i} UNION ALL SELECT v FROM r{i}
      ) GROUP BY node
    ),
    n{i + 1} AS MATERIALIZED (
      SELECT node FROM d{i + 1} WHERE d >= {KCORE_K}),
    r{i + 1} AS MATERIALIZED (
      SELECT r.u, r.v FROM r{i} r
      JOIN n{i + 1} a ON a.node = r.u
      JOIN n{i + 1} b ON b.node = r.v
    )"""
        )
    n = KCORE_ROUNDS
    return (
        ",".join(parts)
        + f"""
    SELECT node, d AS core_degree,
           CAST((SELECT COUNT(*) FROM n{n})
                = (SELECT COUNT(*) FROM n{n - 1}) AS INT) AS converged
    FROM (
      SELECT node, COUNT(*)::BIGINT AS d FROM (
        SELECT u AS node FROM r{n} UNION ALL SELECT v FROM r{n}
      ) GROUP BY node
    )
    """
    )


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-core of the user co-activity graph — iterative peeling
    (drop nodes of degree < k, with their edges, repeat) run for a
    FIXED 8 rounds with an in-plan convergence flag, the same
    trajectory-oracle discipline as ``embedding_kmeans_train``: both
    engines execute exactly 8 peels, so the comparison is exact even
    if the fixpoint needed fewer (typical) or more (the flag says
    so). The k-core is the standard dense-subgraph screen — the
    cohesive cluster that survives when hangers-on are peeled —
    and, for the dedup graph family, the mega-cluster CORE that
    tells boilerplate blobs from chains of pairwise coincidences
    (``dedup_cluster_size_histogram`` sizes the components; the core
    says which are dense).

    Exactness: wholly integral — degrees, memberships, and the
    convergence count comparison are exact integer frames; there is
    no float anywhere.

    Plan: each round is one degree aggregate + two semi-join-shaped
    hash joins on the shrinking edge frame (monotone: |rᵢ₊₁| ≤
    |rᵢ|), each round's edges persisted so lineage doesn't re-derive
    round i for every later round; rounds are O(log) in practice and
    FIXED here — bounded stage count, no driver-side data decisions
    (the flag rides the plan)."""
    from .events import events_interval_overlap_join

    pairs = events_interval_overlap_join(spark, sf_dir)
    edges = (
        pairs.select(
            F.col("user_a").alias("u"), F.col("user_b").alias("v")
        )
        .distinct()
        .localCheckpoint()  # the components-loop lineage rule
    )
    r = edges
    keeps = []
    for _ in range(KCORE_ROUNDS):
        deg = (
            r.select(F.col("u").alias("node"))
            .unionAll(r.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )
        keep = (
            deg.filter(F.col("d") >= KCORE_K)
            .select("node")
            # eager=False (r15): the peel has NO driver-side decision
            # — rounds are FIXED — so nothing needs a blocking job
            # per round; the lineage cut is what matters, and the
            # final action materializes the cascade with its stages.
            .localCheckpoint(eager=False)
        )
        keeps.append(keep)
        # localCheckpoint each round: every round references the
        # previous one ~5x (degree union twice, two endpoint joins),
        # so an uncut 8-round lineage is a ~5^8-node logical plan —
        # measured as a planner/treeString hang even with caching
        # (cache substitution shrinks the physical plan, not the
        # logical tree the round-over-round builders keep copying).
        r = (
            r.join(
                keep.withColumnRenamed("node", "ku"),
                F.col("ku") == F.col("u"),
            )
            .join(
                keep.withColumnRenamed("node", "kv"),
                F.col("kv") == F.col("v"),
            )
            .select("u", "v")
            .localCheckpoint(eager=False)  # same rule as keep above
        )
    final_deg = (
        r.select(F.col("u").alias("node"))
        .unionAll(r.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )
    n_last = keeps[-1].agg(
        F.count(F.lit(1)).cast("bigint").alias("c_last")
    )
    n_prev = keeps[-2].agg(
        F.count(F.lit(1)).cast("bigint").alias("c_prev")
    )
    return (
        final_deg.crossJoin(F.broadcast(n_last))
        .crossJoin(F.broadcast(n_prev))
        .select(
            "node",
            "core_degree",
            (F.col("c_last") == F.col("c_prev"))
            .cast("int")
            .alias("converged"),
        )
    )


# ---- HITS hubs & authorities ------------------------------------------

HITS_TOPK = 15


def _hits_sql(orders: str, lineitem: str, bigint: str) -> str:
    """Shared HITS text over the bipartite customer→part purchase
    graph: a₀ = 1 per part, then two full mutual-reinforcement
    rounds (h = Σ a over a customer's parts, a = Σ h over a part's
    customers), all sums exact integers."""
    return f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM {orders} o JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
    ),
    h1 AS (
      SELECT c, CAST(COUNT(*) AS {bigint}) AS h FROM edges GROUP BY c
    ),
    a1 AS (
      SELECT e.p, CAST(SUM(h1.h) AS {bigint}) AS a
      FROM edges e JOIN h1 ON h1.c = e.c GROUP BY e.p
    ),
    h2 AS (
      SELECT e.c, CAST(SUM(a1.a) AS {bigint}) AS h
      FROM edges e JOIN a1 ON a1.p = e.p GROUP BY e.c
    ),
    a2 AS (
      SELECT e.p, CAST(SUM(h2.h) AS {bigint}) AS a
      FROM edges e JOIN h2 ON h2.c = e.c GROUP BY e.p
    ),
    top_auth AS (
      SELECT 'authority' AS side, p AS node, a AS score
      FROM a2 ORDER BY a DESC, p ASC LIMIT {HITS_TOPK}
    ),
    top_hub AS (
      SELECT 'hub' AS side, c AS node, h AS score
      FROM h2 ORDER BY h DESC, c ASC LIMIT {HITS_TOPK}
    )
    SELECT side, node, score
    FROM (SELECT * FROM top_auth UNION ALL SELECT * FROM top_hub) u
    ORDER BY side, score DESC, node
    """


@query(
    "graph_hits_hubs_authorities",
    oracle=_hits_sql("orders", "lineitem", "BIGINT"),
)
def graph_hits_hubs_authorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kleinberg's HITS on the bipartite customer→part purchase graph
    — the mutual-reinforcement ranking PageRank cannot give on a
    bipartite structure: a part is AUTHORITATIVE when bought by
    broad-basket customers, a customer is a HUB when their basket
    concentrates on authoritative parts. Two full h↔a rounds from
    a₀ = 1 (so h₁ is customer degree); scores are reported
    UN-normalized — per-round L1 normalization divides both sides by
    a positive scalar, so the top-k RANKING this op emits is
    invariant to it, and skipping it keeps every iteration's state
    exactly integral (the ``graph_pagerank`` fixed-point discipline
    without even needing the fixed point).

    Exactness: INTEGER end-to-end — degree counts, then two rounds of
    integer sums; no division, no floats, no pinning anywhere.
    BIGINT holds the test scales with >6 digits of headroom
    (score ≤ ~deg⁴·|basket|); the 100 TB path lifts the casts to
    DECIMAL(38,0), stated here because the operator's contract is the
    ranking, not the magnitude.

    Scale: the edge list is one fact-fact equi-join on orderkey
    (shuffle, AQE-skew-safe) collapsed by DISTINCT and PERSISTED once
    — each HITS round is then one edge⋈score equi-join + one groupBy,
    the Pregel step as two shuffles, exactly the pagerank budget,
    iteration-bounded at 2 rounds (the SQL-CTE form re-derives the
    fact-fact join per round — 4 scans of each fact; the plan pin
    holds this at one scan per fact). Top-k per side is TakeOrdered;
    nothing is collected."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    h1 = edges.groupBy("c").agg(F.count(F.lit(1)).alias("h"))
    a1 = edges.join(h1, "c").groupBy("p").agg(F.sum("h").alias("a"))
    # h2 feeds BOTH the second authority round and the hub top-K — cut
    # it (lazy checkpoint: the one result action materializes the
    # cascade) so the h1→a1→h2 chain executes once instead of once per
    # consumer (guide §2.4).
    h2 = (
        edges.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("a").alias("h"))
        .localCheckpoint(eager=False)
    )
    a2 = edges.join(h2, "c").groupBy("p").agg(F.sum("h").alias("a"))
    top_auth = (
        a2.select(
            F.lit("authority").alias("side"),
            F.col("p").alias("node"),
            F.col("a").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("node").asc())
        .limit(HITS_TOPK)
    )
    top_hub = (
        h2.select(
            F.lit("hub").alias("side"),
            F.col("c").alias("node"),
            F.col("h").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("node").asc())
        .limit(HITS_TOPK)
    )
    return top_auth.unionAll(top_hub).orderBy(
        "side", F.col("score").desc(), "node"
    )

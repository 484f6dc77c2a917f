"""Graph traversal as bounded fixed-point iteration.

Complements connected components (operators/dedup.py) with DISTANCE
labeling: multi-hop BFS from a seed set over the part↔supplier
bipartite graph derived from lineitem — "which suppliers/parts are
within k hops of the seed parts" is the supply-chain blast-radius
query. Pure integer arithmetic end-to-end, so the iterative Spark
loop and DuckDB's recursive CTE agree exactly.

Scale: each hop is two equi joins (frontier⋈edges by side), shuffled
on the node key; the hops run on ``recursive_cte``, so each round's
frontier is materialized once by ``plans.recursive.fixpoint_rounds``,
and hop count bounds the loop — state is O(reached nodes), never
O(paths). ``pagerank`` keeps its own fixed-count loop: it has no
convergence test."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query
from .recursive import recursive_cte


def bfs_hops(
    edges: DataFrame,  # (p, s) bipartite edge list
    seeds: DataFrame,  # (id) seed nodes on the 'p' side
    max_hops: int = 3,
) -> DataFrame:
    """Min hop distance (≤ max_hops) from the seed set to every
    reached node. Returns (kind, id, min_dist) with kind ∈ {'p','s'}."""
    seed = seeds.select(
        F.lit("p").alias("kind"), F.col("id"), F.lit(0).cast("bigint").alias("dist")
    )

    def step(frontier: DataFrame) -> DataFrame:
        f = frontier.filter(F.col("dist") < max_hops)
        from_p = (
            f.filter(F.col("kind") == "p")
            .join(edges, f["id"] == edges["p"])
            .select(F.lit("s").alias("kind"), edges["s"].alias("id"), (f["dist"] + 1).alias("dist"))
        )
        from_s = (
            f.filter(F.col("kind") == "s")
            .join(edges, f["id"] == edges["s"])
            .select(F.lit("p").alias("kind"), edges["p"].alias("id"), (f["dist"] + 1).alias("dist"))
        )
        return from_p.union(from_s)

    reach = recursive_cte(seed, step, distinct=True, max_iterations=max_hops + 1)
    return reach.groupBy("kind", "id").agg(F.min("dist").alias("min_dist"))


BFS_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), reach(kind, id, dist) AS (
  SELECT 'p', p_partkey, CAST(0 AS BIGINT) FROM part WHERE p_size = 1
  UNION
  SELECT nxt.kind, nxt.id, nxt.dist FROM (
    SELECT 's' AS kind, e.s AS id, r.dist + 1 AS dist
    FROM reach r JOIN edges e ON r.kind = 'p' AND e.p = r.id
    WHERE r.dist < 3
    UNION
    SELECT 'p' AS kind, e.p AS id, r.dist + 1 AS dist
    FROM reach r JOIN edges e ON r.kind = 's' AND e.s = r.id
    WHERE r.dist < 3
  ) nxt
)
SELECT kind, id, MIN(dist) AS min_dist
FROM reach
GROUP BY kind, id
"""


@query("graph_bfs_hops", oracle=BFS_ORACLE, tags=("graph", "structure"))
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS distance labels from size-1 parts over the
    part↔supplier bipartite graph (module docstring): iterative
    frontier loop on Spark, recursive CTE on DuckDB, exact integer
    agreement."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    edges = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    seeds = part.filter(F.col("p_size") == 1).select(F.col("p_partkey").alias("id"))
    return bfs_hops(edges, seeds, max_hops=3)


def pagerank(
    edges: DataFrame,  # directed (src, dst) string node ids
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank in EXACT integer arithmetic: ranks are micro-unit
    BIGINTs, each iteration is contrib = pr DIV out_degree summed over
    in-edges, then pr' = (1-d)·1e6 + (d·Σcontrib) DIV 100. Integer
    sums are associative, so the result is partitioning-independent
    and an external SQL engine reproduces it exactly (the repo-wide
    quantized-arithmetic rule; floor-division drops sub-µ mass, which
    both engines drop identically).

    Scale: each iteration is one equi join (ranks ⋈ edges on src) +
    one aggregate (on dst) — the same two-shuffle shape as any
    iterative Spark graph pass; ranks are localCheckpoint-ed per
    iteration to truncate lineage. Degrees are computed once.
    Returns (node, pr_q)."""
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    pr = deg.select(F.col("src").alias("node"), F.lit(1000000).cast("bigint").alias("pr_q"))
    for _ in range(iterations):
        contrib = (
            edges.join(pr, edges["src"] == pr["node"])
            .join(deg, "src")
            .select(F.col("dst"), F.expr("pr_q DIV d").alias("c"))
        )
        pr = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("sc"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(1000000 * (100 - damping_pct) // 100).cast("bigint")
                    + F.expr(f"({damping_pct} * sc) DIV 100")
                ).alias("pr_q"),
            )
            .localCheckpoint(eager=True)
        )
    return pr


PAGERANK_ORACLE = """
WITH edges0 AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), e2 AS (
  SELECT 'p' || p AS src, 's' || s AS dst FROM edges0
  UNION ALL
  SELECT 's' || s, 'p' || p FROM edges0
), deg AS (
  SELECT src, COUNT(*) AS d FROM e2 GROUP BY src
), pr0 AS (
  SELECT src AS node, CAST(1000000 AS BIGINT) AS pr_q FROM deg
), it1 AS (
  SELECT e.dst AS node,
         CAST(150000 AS BIGINT) + (85 * SUM(p.pr_q // d.d)) // 100 AS pr_q
  FROM e2 e JOIN pr0 p ON p.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), it2 AS (
  SELECT e.dst AS node,
         CAST(150000 AS BIGINT) + (85 * SUM(p.pr_q // d.d)) // 100 AS pr_q
  FROM e2 e JOIN it1 p ON p.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), it3 AS (
  SELECT e.dst AS node,
         CAST(150000 AS BIGINT) + (85 * SUM(p.pr_q // d.d)) // 100 AS pr_q
  FROM e2 e JOIN it2 p ON p.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)
SELECT node, CAST(pr_q AS BIGINT) AS pr_q FROM it3
"""


@query("graph_pagerank_bipartite", oracle=PAGERANK_ORACLE, tags=("graph", "structure", "agg"))
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the (undirected-doubled) part↔supplier
    graph — "which parts/suppliers sit at the center of the supply
    network". Exact micro-unit integer ranks; the DuckDB oracle unrolls
    the identical three iterations as chained CTEs."""
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    e2 = base.select(
        F.concat(F.lit("p"), F.col("p").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("s").cast("string")).alias("dst"),
    ).unionAll(
        base.select(
            F.concat(F.lit("s"), F.col("s").cast("string")).alias("src"),
            F.concat(F.lit("p"), F.col("p").cast("string")).alias("dst"),
        )
    )
    return pagerank(e2, iterations=3, damping_pct=85)


# --- triangle counting (degree-oriented wedge enumeration) ------------------


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Undirected deduplicated (pa < pb) edge list of the co-purchase
    graph: parts are adjacent iff they share an order. The ONE edge
    definition both graph entries measure — factored so they cannot
    silently diverge."""
    return (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .join(
            li.select(
                F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb")
            ).distinct(),
            "o",
        )
        .filter(F.col("p") < F.col("pb"))
        .select(F.col("p").alias("pa"), "pb")
        .distinct()
    )


def node_degrees(edges: DataFrame) -> DataFrame:
    """(n, d): undirected degree per node of a (pa, pb) edge list —
    shared by orientation and the clustering-coefficient denominator
    (one definition, and identical subtrees let Catalyst reuse the
    exchange when both appear in one plan)."""
    return (
        edges.select(F.col("pa").alias("n"))
        .unionAll(edges.select(F.col("pb").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    list (columns ``pa < pb``, deduplicated).

    The scale pattern (Suri & Vassilvitskii 2011, "Counting triangles
    and the curse of the last reducer"): orient every edge from its
    LOWER endpoint to its HIGHER endpoint under the total order
    (degree, id), then enumerate wedges only from each edge's lower
    endpoint and close them with a hash join back to the oriented
    edge list. Each triangle is counted exactly once, and — the whole
    point — a degree-d hub only ever *receives* oriented edges, so no
    reducer enumerates its d² wedges: intermediate wedge volume is
    bounded by O(m^1.5) instead of Σd². Three keyed shuffles total
    (degree agg, wedge self-join on the low vertex, closing edge
    join); no step is ever quadratic in a hub's degree."""
    deg = node_degrees(edges)
    e = (
        edges.join(deg.withColumnRenamed("n", "pa").withColumnRenamed("d", "da"), "pa")
        .join(deg.withColumnRenamed("n", "pb").withColumnRenamed("d", "db"), "pb")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))),
                F.struct(F.col("pa").alias("u"), F.col("pb").alias("v")),
            )
            .otherwise(F.struct(F.col("pb").alias("u"), F.col("pa").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    w1 = e.select(F.col("u"), F.col("v").alias("w1"))
    w2 = e.select(F.col("u"), F.col("v").alias("w2"))
    wedges = w1.join(w2, "u").filter(F.col("w1") < F.col("w2"))
    # close the wedge: (w1, w2) must be an oriented edge in EITHER
    # direction — orientation is by (degree, id), not by id, so the
    # closing edge's direction is not implied by w1 < w2
    closing = e.select(F.col("u").alias("w1"), F.col("v").alias("w2")).unionAll(
        e.select(F.col("v").alias("w1"), F.col("u").alias("w2"))
    )
    tri = wedges.join(closing, ["w1", "w2"]).select(
        F.col("u").alias("a"), F.col("w1").alias("b"), F.col("w2").alias("c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


TRIANGLES_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem
), ed AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM e0 a JOIN e0 b ON a.o = b.o AND a.p < b.p
), tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM ed e1
  JOIN ed e2 ON e2.pa = e1.pb
  JOIN ed e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
), pern AS (
  SELECT a AS part_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM pern GROUP BY part_id
ORDER BY n_triangles DESC, part_id
LIMIT 20
"""


@query("graph_triangle_counts", oracle=TRIANGLES_ORACLE, tags=("graph", "structure", "agg"))
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle participation in the co-purchase
    graph (parts sharing an order are adjacent): the standard graph-
    locality signal for recommendation / clustering-coefficient work,
    via degree-oriented wedge enumeration — see `triangle_counts` for
    why orientation is what makes this survive power-law hubs at
    100 TB. The oracle enumerates canonical a<b<c triangles directly
    (orientation-invariant exact integer counts)."""
    return (
        triangle_counts(copurchase_edges(load(spark, sf_dir, "lineitem")))
        .orderBy(F.col("n_triangles").desc(), "part_id")
        .limit(20)
    )


CLUSTERING_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem
), ed AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM e0 a JOIN e0 b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT n AS part_id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT pa AS n FROM ed UNION ALL SELECT pb FROM ed)
  GROUP BY n
), tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM ed e1
  JOIN ed e2 ON e2.pa = e1.pb
  JOIN ed e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
), pern AS (
  SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT a AS part_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  )
  GROUP BY part_id
)
SELECT d.part_id,
       COALESCE(p.n_triangles, 0) AS n_triangles,
       d.degree,
       CAST((2 * COALESCE(p.n_triangles, 0) * 1000000)
            // (d.degree * (d.degree - 1)) AS BIGINT) AS cc_mu
FROM deg d LEFT JOIN pern p USING (part_id)
WHERE d.degree >= 2
ORDER BY cc_mu DESC, part_id
LIMIT 20
"""


@query(
    "graph_clustering_coefficient",
    oracle=CLUSTERING_ORACLE,
    tags=("graph", "structure", "agg"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient — the metric triangle counts
    exist to feed: cc(v) = 2·T(v) / (d(v)·(d(v)−1)) over the
    co-purchase graph, µ-quantized with exact integer DIV (the RAKE /
    PageRank pattern — no float division, bit-identical cross-engine).
    Top-20 by (cc_mu, id) among nodes with degree ≥ 2; zero-triangle
    nodes participate with cc 0.

    Scale: degrees and per-node triangle counts are the two
    aggregates the triangle entry already bounds (orientation keeps
    wedge volume O(m^1.5)); the coefficient itself is a map-side
    expression on their join."""
    edges = copurchase_edges(load(spark, sf_dir, "lineitem"))
    # node_degrees and triangle_counts both consume the same
    # distinct-edge subtree (and build the identical degree aggregate)
    # inside ONE final plan — Catalyst's ReusedExchange shares them,
    # so no persist (a standing memory tax) is needed.
    deg = node_degrees(edges).select(
        F.col("n").alias("part_id"), F.col("d").cast("bigint").alias("degree")
    )
    tri = triangle_counts(edges)
    out = (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "part_id", "left")
        .select(
            "part_id",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            "degree",
            F.expr(
                "CAST((2 * COALESCE(n_triangles, 0) * 1000000)"
                " DIV (degree * (degree - 1)) AS BIGINT)"
            ).alias("cc_mu"),
        )
        .orderBy(F.col("cc_mu").desc(), "part_id")
        .limit(20)
    )
    return out

"""Graph query-ids for the driver contract (SURVEY.md §2.3 "graph
analytics"), each paired with a DuckDB oracle.

The traversal oracles use ``WITH RECURSIVE`` over the *same* derived
edge list (derived_graph.EDGES_CTE) the Spark operators traverse —
BFS level = min hop count, exactly the semantics the reference's own
checker verifies (level-sets, ``utils/bfs_checker.py:75-76``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdatabase_spark.operators import derived_graph as dg
from graphdatabase_spark.operators import dfs as dfs_mod
from graphdatabase_spark.operators import graph_algos, pregel
from graphdatabase_spark.sources import matrix as matrix_mod

# A small literal adjacency matrix (designed here: asymmetric, one
# self-loop, one isolated-ish sink) exercising the reference's on-disk
# exchange format (line 1 = N, then N rows of 0/1 —
# ``primary_server.c:132-140``) through the real melt path.
_SAMPLE_MATRIX = """\
6
0 1 1 0 0 0
0 0 0 1 0 0
0 0 1 0 1 0
0 0 0 0 0 0
1 0 0 0 0 1
0 0 0 0 0 0
"""


def q_graph_ingest_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = matrix_mod.lines_from_text(spark, "M1", _SAMPLE_MATRIX)
    return matrix_mod.melt_matrix_lines(lines)


ORACLE_GRAPH_INGEST_MATRIX = """
SELECT * FROM (VALUES
  ('M1', 1, 2), ('M1', 1, 3), ('M1', 2, 4), ('M1', 3, 3),
  ('M1', 3, 5), ('M1', 5, 1), ('M1', 5, 6)
) AS t(graph, src, dst)
"""


def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_algos.degrees(dg.full_edges_cached(spark, sf_dir))


ORACLE_GRAPH_DEGREE = f"""
WITH {dg.EDGES_CTE},
o AS (SELECT src AS vid, COUNT(*) AS out_degree FROM graph_edges GROUP BY 1),
i AS (SELECT dst AS vid, COUNT(*) AS in_degree FROM graph_edges GROUP BY 1)
SELECT COALESCE(o.vid, i.vid) AS vid,
       COALESCE(out_degree, 0) AS out_degree,
       COALESCE(in_degree, 0) AS in_degree
FROM o FULL OUTER JOIN i ON o.vid = i.vid
"""


def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pregel.bfs_levels(dg.full_edges_prepared(spark, sf_dir), [0],
                             prepared=True)


ORACLE_BFS_LEVELS = f"""
WITH RECURSIVE {dg.EDGES_CTE},
bfs(vid, level) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, b.level + 1
  FROM bfs b JOIN graph_edges e ON e.src = b.vid
  WHERE b.level < {dg.MAX_ORACLE_HOPS}
)
SELECT vid, MIN(level) AS level FROM bfs GROUP BY vid
"""


def q_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pregel.bfs_levels(dg.full_edges_prepared(spark, sf_dir),
                             [dg.OFF_NATION + 3], prepared=True).select("vid")


ORACLE_REACHABILITY = f"""
WITH RECURSIVE {dg.EDGES_CTE},
reach(vid) AS (
  SELECT CAST({dg.OFF_NATION + 3} AS BIGINT)
  UNION
  SELECT e.dst FROM reach r JOIN graph_edges e ON e.src = r.vid
)
SELECT vid FROM reach
"""


def q_shortest_path_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hops from region 0 to every supplier vertex
    levels = pregel.bfs_levels(dg.full_edges_prepared(spark, sf_dir), [0],
                               prepared=True)
    return levels.filter(
        (F.col("vid") >= dg.OFF_SUPPLIER) & (F.col("vid") < dg.OFF_CUSTOMER)
    ).select("vid", F.col("level").alias("hops"))


ORACLE_SHORTEST_PATH_HOPS = f"""
WITH RECURSIVE {dg.EDGES_CTE},
bfs(vid, level) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, b.level + 1
  FROM bfs b JOIN graph_edges e ON e.src = b.vid
  WHERE b.level < {dg.MAX_ORACLE_HOPS}
)
SELECT vid, MIN(level) AS hops FROM bfs
WHERE vid >= {dg.OFF_SUPPLIER} AND vid < {dg.OFF_CUSTOMER}
GROUP BY vid
"""


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = dg.community_edges_cached(spark, sf_dir)
    vertices = dg.community_vertices_cached(spark, sf_dir)
    return pregel.connected_components(edges, vertices)


ORACLE_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE {dg.COMMUNITY_EDGES_CTE},
und AS (
  SELECT src, dst FROM graph_edges
  UNION
  SELECT dst, src FROM graph_edges
),
verts AS (SELECT DISTINCT src AS vid FROM und),
reach(a, b) AS (
  SELECT vid, vid FROM verts
  UNION
  SELECT r.a, u.dst FROM reach r JOIN und u ON u.src = r.b
)
SELECT a AS vid, MIN(b) AS component FROM reach GROUP BY a
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_algos.triangle_count(dg.copurchase_edges(spark, sf_dir),
                                      cache_key=("copurchase", sf_dir))


ORACLE_TRIANGLE_COUNT = f"""
WITH {dg.COPURCHASE_EDGES_CTE}
SELECT COUNT(*) AS n_triangles
FROM graph_edges e1
JOIN graph_edges e2 ON e1.dst = e2.src
JOIN graph_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
"""


def q_vertex_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongest ties in the part co-purchase graph: top-100 edges by
    neighborhood-Jaccard similarity (the link-prediction score —
    "parts bought alongside the same other parts")."""
    return graph_algos.edge_jaccard_topk(dg.copurchase_edges(spark, sf_dir),
                                         k=100, cache_key=("copurchase", sf_dir))


ORACLE_VERTEX_JACCARD = f"""
WITH {dg.COPURCHASE_EDGES_CTE},
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM graph_edges e1
  JOIN graph_edges e2 ON e1.dst = e2.src
  JOIN graph_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
cn AS (
  SELECT src, dst, COUNT(*) AS common_nbrs FROM (
    SELECT a AS src, b AS dst FROM tri
    UNION ALL SELECT a, c FROM tri
    UNION ALL SELECT b, c FROM tri)
  GROUP BY 1, 2
),
deg AS (
  SELECT vid, COUNT(*) AS deg
  FROM (SELECT src AS vid FROM graph_edges UNION ALL SELECT dst FROM graph_edges)
  GROUP BY vid
)
SELECT c.src, c.dst, c.common_nbrs,
       CAST(c.common_nbrs AS DOUBLE) / (du.deg + dv.deg - c.common_nbrs) AS jaccard
FROM cn c
JOIN deg du ON du.vid = c.src
JOIN deg dv ON dv.vid = c.dst
ORDER BY jaccard DESC, c.src, c.dst
LIMIT 100
"""


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the part co-purchase graph
    (the triangle-count substrate — the classic "how cliquish is each
    product's neighborhood" analytic)."""
    return graph_algos.clustering_coefficient(dg.copurchase_edges(spark, sf_dir),
                                              cache_key=("copurchase", sf_dir))


ORACLE_CLUSTERING_COEFFICIENT = f"""
WITH {dg.COPURCHASE_EDGES_CTE},
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM graph_edges e1
  JOIN graph_edges e2 ON e1.dst = e2.src
  JOIN graph_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
tcnt AS (
  SELECT vid, COUNT(*) AS n_tri
  FROM (SELECT a AS vid FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY vid
),
deg AS (
  SELECT vid, COUNT(*) AS deg
  FROM (SELECT src AS vid FROM graph_edges UNION ALL SELECT dst FROM graph_edges)
  GROUP BY vid
)
SELECT d.vid, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
       CASE WHEN d.deg >= 2
            THEN (2.0 * COALESCE(t.n_tri, 0)) / (d.deg * (d.deg - 1))
            ELSE 0.0 END AS coeff
FROM deg d LEFT JOIN tcnt t ON d.vid = t.vid
"""


KCORE_K = 5


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-core of the full derived graph (undirected degrees):
    k = 5 leaves a non-trivial proper core at every test SF (probed:
    ~58-92% of vertices survive, fixpoint in ≤ 8 peel rounds)."""
    return graph_algos.k_core(dg.full_edges_cached(spark, sf_dir), KCORE_K)


def _kcore_oracle_sql(k: int = KCORE_K,
                      rounds: int = graph_algos.KCORE_MAX_ROUNDS) -> str:
    """Unrolled synchronous peeling, one e{i} CTE per round — the
    iteration count is a compile-time constant (same technique as the
    PageRank oracle; tests assert Spark converges strictly within the
    bound, so the unroll can't truncate). Extra rounds past the
    fixpoint are no-ops, so over-unrolling is always safe."""
    parts = [dg.EDGES_CTE.strip(),
             "e0 AS MATERIALIZED (SELECT src, dst FROM graph_edges)"]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT vid FROM"
            f" (SELECT vid, COUNT(*) AS d FROM"
            f" (SELECT src AS vid FROM e{p} UNION ALL SELECT dst FROM e{p})"
            f" GROUP BY vid) WHERE d >= {k})")
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT src, dst FROM e{p}"
            f" WHERE src IN (SELECT vid FROM k{i})"
            f" AND dst IN (SELECT vid FROM k{i}))")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT vid, COUNT(*) AS core_deg FROM"
            + f" (SELECT src AS vid FROM e{rounds} UNION ALL SELECT dst FROM e{rounds})"
            + " GROUP BY vid")


ORACLE_KCORE = _kcore_oracle_sql()


def q_dfs_leaves_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dfs_mod.dfs_leaves_tree(dg.tree_edges(spark, sf_dir), [0])


ORACLE_DFS_LEAVES_TREE = f"""
WITH RECURSIVE {dg.TREE_EDGES_CTE},
reach(vid) AS (
  SELECT CAST(0 AS BIGINT)
  UNION
  SELECT e.dst FROM reach r JOIN graph_edges e ON e.src = r.vid
)
SELECT vid AS leaf FROM reach
WHERE vid NOT IN (SELECT src FROM graph_edges)
"""


def q_dfs_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Canonical sequential DFS (applyInPandas) over the derived tree;
    # on a tree its leaf set provably equals reachable sinks, which
    # makes this SQL-oracle-able. Non-tree behavior is pinned by unit
    # tests against the reference fixture graphs.
    edges = dg.tree_edges(spark, sf_dir).withColumn("graph", F.lit("tree"))
    starts = spark.createDataFrame([("tree", 0)], "graph string, start long")
    return dfs_mod.dfs_leaves(edges.select("graph", "src", "dst"), starts)


ORACLE_DFS_LEAVES = f"""
WITH RECURSIVE {dg.TREE_EDGES_CTE},
reach(vid) AS (
  SELECT CAST(0 AS BIGINT)
  UNION
  SELECT e.dst FROM reach r JOIN graph_edges e ON e.src = r.vid
)
SELECT 'tree' AS graph, vid AS leaf FROM reach
WHERE vid NOT IN (SELECT src FROM graph_edges)
"""


def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP from region 0 over the full derived graph with
    deterministic weights ((src+dst) % 7 + 1). The order→part layer
    gives real relaxation competition: a part is reachable through many
    orders at different accumulated costs."""
    e = dg.full_edges_weighted_prepared(spark, sf_dir)
    # Weights are integral, so the double-accumulated distances are
    # exact and the cast back to long is lossless (oracle sums BIGINT).
    return pregel.sssp_weighted(e, [0], prepared=True).select(
        "vid", F.col("dist").cast("long").alias("dist"))


# On a DAG no minimal path exceeds the edge depth, so MAX_ORACLE_HOPS
# (> FULL_GRAPH_DEPTH) reaches every minimal path.
ORACLE_SSSP_WEIGHTED = f"""
WITH RECURSIVE {dg.EDGES_CTE},
we(src, dst, w) AS (SELECT src, dst, (src + dst) % 7 + 1 FROM graph_edges),
sp(vid, dist, hops) AS (
  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
  UNION
  SELECT we.dst, sp.dist + we.w, sp.hops + 1
  FROM sp JOIN we ON we.src = sp.vid
  WHERE sp.hops < {dg.MAX_ORACLE_HOPS}
)
SELECT vid, MIN(dist) AS dist FROM sp GROUP BY vid
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the community graph (10 iterations, d=85/100),
    computed in scaled-int64 arithmetic (``rank_q ≈ rank * 1e9``).

    The integer formulation makes every step bit-exact regardless of
    partitioning or engine, so the DuckDB oracle (the same 10 iterations
    unrolled as a CTE chain) hash-matches — float PageRank can't be
    oracled this way because per-vertex sums are association-order-
    sensitive. The same loop in floats (``scale=None``) serves the user
    API (``GraphEngine.pagerank``); unit tests pin the two within
    truncation tolerance plus the float fixed-point/replica properties.
    """
    edges = dg.community_edges_cached(spark, sf_dir)
    vertices = dg.community_vertices_cached(spark, sf_dir)
    return pregel.pagerank(edges, vertices, scale=10**9)


def _pagerank_oracle_sql(iterations: int = 10, scale: int = 10**9) -> str:
    """Unrolled power iteration mirroring pregel.pagerank (scale=10**9)
    integer-for-integer: r0..r{k} CTEs, each one iteration (contribs =
    SUM(rank_q // odeg) per dst, dangling mass redistributed uniformly,
    damping as the exact rational 85/100). No recursive-CTE aggregates
    needed — the iteration count is a compile-time constant."""
    base_const = (15 * scale) // 100
    parts = [
        dg.COMMUNITY_EDGES_CTE.strip(),
        ("verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM graph_edges"
         " UNION ALL SELECT dst AS vid FROM graph_edges))"),
        "odeg AS (SELECT src AS vid, COUNT(*) AS odeg FROM graph_edges GROUP BY 1)",
        "nn AS (SELECT COUNT(*) AS n FROM verts)",
        f"r0 AS MATERIALIZED (SELECT vid, CAST({scale} AS BIGINT) AS rank_q FROM verts)",
    ]
    # MATERIALIZED is load-bearing: each r{i} is referenced by c/m/r of
    # the next iteration, so inlined CTEs re-evaluate the whole prefix
    # ~3× per level (3^10 blowup by r10).
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS vid, SUM(r.rank_q // o.odeg) AS recv"
            f" FROM r{p} r JOIN odeg o ON r.vid = o.vid"
            f" JOIN graph_edges e ON e.src = r.vid GROUP BY e.dst)")
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank_q), 0) AS m FROM r{p} r"
            f" LEFT JOIN odeg o ON r.vid = o.vid WHERE o.vid IS NULL)")
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT v.vid, CAST({base_const}"
            f" + (85 * ((SELECT m FROM m{i}) // (SELECT n FROM nn))) // 100"
            f" + (85 * COALESCE(c.recv, 0)) // 100 AS BIGINT) AS rank_q"
            f" FROM verts v LEFT JOIN c{i} c ON v.vid = c.vid)")
    return "WITH " + ",\n".join(parts) + f"\nSELECT vid, rank_q FROM r{iterations}"


ORACLE_PAGERANK = _pagerank_oracle_sql()


PPR_SOURCE = 0  # region 0: ranks = proximity within its community


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from region 0 over the community graph —
    teleport returns to the source, so mass stays in region 0's
    subtree and every other component ranks exactly 0 (integer-exact,
    which the oracle checks)."""
    edges = dg.community_edges_cached(spark, sf_dir)
    vertices = dg.community_vertices_cached(spark, sf_dir)
    return pregel.pagerank(edges, vertices, scale=10**9, sources=[PPR_SOURCE])


def _ppr_oracle_sql(source: int = PPR_SOURCE, iterations: int = 10,
                    scale: int = 10**9) -> str:
    """Unrolled personalized power iteration mirroring pregel.pagerank
    (scale=10**9, sources=[source]) integer-for-integer (the
    S = {source} case: teleport + dangling mass return to the source)."""
    base_const = (15 * scale) // 100
    parts = [
        dg.COMMUNITY_EDGES_CTE.strip(),
        ("verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM graph_edges"
         " UNION ALL SELECT dst AS vid FROM graph_edges))"),
        "odeg AS (SELECT src AS vid, COUNT(*) AS odeg FROM graph_edges GROUP BY 1)",
        (f"r0 AS MATERIALIZED (SELECT vid, CAST(CASE WHEN vid = {source}"
         f" THEN {scale} ELSE 0 END AS BIGINT) AS rank_q FROM verts)"),
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS vid, SUM(r.rank_q // o.odeg) AS recv"
            f" FROM r{p} r JOIN odeg o ON r.vid = o.vid"
            f" JOIN graph_edges e ON e.src = r.vid GROUP BY e.dst)")
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank_q), 0) AS m FROM r{p} r"
            f" LEFT JOIN odeg o ON r.vid = o.vid WHERE o.vid IS NULL)")
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT v.vid, CAST("
            f" (CASE WHEN v.vid = {source} THEN {base_const}"
            f" + (85 * (SELECT m FROM m{i})) // 100 ELSE 0 END)"
            f" + (85 * COALESCE(c.recv, 0)) // 100 AS BIGINT) AS rank_q"
            f" FROM verts v LEFT JOIN c{i} c ON v.vid = c.vid)")
    return "WITH " + ",\n".join(parts) + f"\nSELECT vid, rank_q FROM r{iterations}"


ORACLE_PERSONALIZED_PAGERANK = _ppr_oracle_sql()


LPA_ITERATIONS = 4


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA over the community graph (fixed 4 supersteps,
    min-label tie-break) — the degree-weighted community signal CC's
    pure reachability doesn't give."""
    edges = dg.community_edges_cached(spark, sf_dir)
    vertices = dg.community_vertices_cached(spark, sf_dir)
    return pregel.label_propagation(edges, vertices, LPA_ITERATIONS)


def _lpa_oracle_sql(iterations: int = LPA_ITERATIONS) -> str:
    """Unrolled synchronous LPA mirroring pregel.label_propagation
    exactly: per level, neighbor-label counts → argmax (count desc,
    label asc) → coalesce with the previous label."""
    parts = [
        dg.COMMUNITY_EDGES_CTE.strip(),
        ("und AS (SELECT src, dst FROM graph_edges"
         " UNION ALL SELECT dst, src FROM graph_edges)"),
        ("verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM graph_edges"
         " UNION ALL SELECT dst AS vid FROM graph_edges))"),
        "l0 AS MATERIALIZED (SELECT vid, vid AS label FROM verts)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT u.dst AS vid, l.label, COUNT(*) AS cnt"
            f" FROM und u JOIN l{p} l ON u.src = l.vid GROUP BY u.dst, l.label)")
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT vid, label AS new_label FROM"
            f" (SELECT vid, label, row_number() OVER (PARTITION BY vid"
            f" ORDER BY cnt DESC, label ASC) AS rk FROM c{i}) WHERE rk = 1)")
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT l.vid, COALESCE(w.new_label, l.label) AS label"
            f" FROM l{p} l LEFT JOIN w{i} w ON l.vid = w.vid)")
    return "WITH " + ",\n".join(parts) + f"\nSELECT vid, label FROM l{iterations}"


ORACLE_LABEL_PROPAGATION = _lpa_oracle_sql()


def q_scc(spark: SparkSession, sf_dir: str,
          max_iterations: int = pregel.DEFAULT_MAX_ITERATIONS) -> DataFrame:
    """Strongly connected components over the directed cyclic trade
    graph (region⇄nation⇄customer with deterministic return edges —
    :func:`derived_graph.trade_edges`): ``(vid, scc)``, scc = min
    member id. The vertex set is derived from the edges (every trade
    vertex has at least its hierarchy edge). ``max_iterations`` is
    plumbed through because the kernel refuses to return truncated
    (wrong) results — callers with deeper graphs raise the bound."""
    e = dg.trade_edges(spark, sf_dir)
    verts = (e.select(F.col("src").alias("vid"))
             .unionByName(e.select(F.col("dst").alias("vid"))).distinct())
    return pregel.strongly_connected_components(e, verts,
                                                max_iterations=max_iterations)


ORACLE_SCC = f"""
WITH RECURSIVE {dg.TRADE_EDGES_CTE},
verts AS (SELECT DISTINCT vid FROM
  (SELECT src AS vid FROM graph_edges UNION ALL SELECT dst FROM graph_edges)),
reach(a, b) AS (
  SELECT vid, vid FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN graph_edges e ON e.src = r.b
)
SELECT r1.a AS vid, MIN(r1.b) AS scc
FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
GROUP BY r1.a
"""


def _stats_one(label: str, e: DataFrame) -> DataFrame:
    """One catalog-stats row ``(graph, n_vertices, n_edges,
    max_out_degree)`` for one edge list — two map-side-combined
    aggregates crossed as 1-row broadcasts (the engine.stats() shape,
    per derived substrate)."""
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    eagg = deg.agg(F.sum("d").alias("n_edges"),
                   F.max("d").alias("max_out_degree"))
    vagg = (e.select(F.col("src").alias("vid"))
            .unionByName(e.select(F.col("dst").alias("vid")))
            .distinct().agg(F.count(F.lit(1)).alias("n_vertices")))
    return (vagg.crossJoin(F.broadcast(eagg))
            .select(F.lit(label).alias("graph"), "n_vertices",
                    "n_edges", "max_out_degree"))


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics for every derived graph substrate in one
    result — the numbers a planner (or the k-core broadcast gate) asks
    before choosing a strategy; the registry-facing twin of
    ``GraphEngine.stats()`` (engine.py), which serves the same rollup
    over the Parquet store."""
    return (_stats_one("community", dg.community_edges_cached(spark, sf_dir))
            .unionByName(_stats_one("full", dg.full_edges_cached(spark, sf_dir)))
            .unionByName(_stats_one("tree", dg.tree_edges(spark, sf_dir))))


def _stats_oracle_one(label: str, cte_name: str) -> str:
    return f"""
SELECT '{label}' AS graph,
  (SELECT COUNT(DISTINCT vid) FROM
     (SELECT src AS vid FROM {cte_name} UNION ALL SELECT dst FROM {cte_name})) AS n_vertices,
  (SELECT COUNT(*) FROM {cte_name}) AS n_edges,
  (SELECT MAX(d) FROM (SELECT COUNT(*) AS d FROM {cte_name} GROUP BY src)) AS max_out_degree
"""


# The three substrate CTEs all name themselves graph_edges; rename each
# (the name appears nowhere else in the CTE bodies).
ORACLE_GRAPH_STATS = (
    "WITH "
    + dg.COMMUNITY_EDGES_CTE.strip().replace("graph_edges", "g_comm") + ",\n"
    + dg.EDGES_CTE.strip().replace("graph_edges", "g_full") + ",\n"
    + dg.TREE_EDGES_CTE.strip().replace("graph_edges", "g_tree") + "\n"
    + _stats_oracle_one("community", "g_comm")
    + "UNION ALL" + _stats_oracle_one("full", "g_full")
    + "UNION ALL" + _stats_oracle_one("tree", "g_tree")
)


QUERIES = {
    "pagerank": q_pagerank,
    "personalized_pagerank": q_personalized_pagerank,
    "label_propagation": q_label_propagation,
    "sssp_weighted": q_sssp_weighted,
    "graph_ingest_matrix": q_graph_ingest_matrix,
    "graph_degree": q_graph_degree,
    "bfs_levels": q_bfs_levels,
    "reachability": q_reachability,
    "shortest_path_hops": q_shortest_path_hops,
    "connected_components": q_connected_components,
    "triangle_count": q_triangle_count,
    "clustering_coefficient": q_clustering_coefficient,
    "vertex_jaccard": q_vertex_jaccard,
    "kcore": q_kcore,
    "dfs_leaves_tree": q_dfs_leaves_tree,
    "dfs_leaves": q_dfs_leaves,
    "scc": q_scc,
    "graph_stats": q_graph_stats,
}

ORACLES = {
    "pagerank": ORACLE_PAGERANK,
    "personalized_pagerank": ORACLE_PERSONALIZED_PAGERANK,
    "label_propagation": ORACLE_LABEL_PROPAGATION,
    "sssp_weighted": ORACLE_SSSP_WEIGHTED,
    "graph_ingest_matrix": ORACLE_GRAPH_INGEST_MATRIX,
    "graph_degree": ORACLE_GRAPH_DEGREE,
    "bfs_levels": ORACLE_BFS_LEVELS,
    "reachability": ORACLE_REACHABILITY,
    "shortest_path_hops": ORACLE_SHORTEST_PATH_HOPS,
    "connected_components": ORACLE_CONNECTED_COMPONENTS,
    "triangle_count": ORACLE_TRIANGLE_COUNT,
    "clustering_coefficient": ORACLE_CLUSTERING_COEFFICIENT,
    "vertex_jaccard": ORACLE_VERTEX_JACCARD,
    "kcore": ORACLE_KCORE,
    "dfs_leaves_tree": ORACLE_DFS_LEAVES_TREE,
    "dfs_leaves": ORACLE_DFS_LEAVES,
    "scc": ORACLE_SCC,
    "graph_stats": ORACLE_GRAPH_STATS,
}

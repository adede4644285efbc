"""Graph layer tests: matrix ingest, BFS golden (G6/18), DFS respec,
CC, triangles — on the reference's own fixture graphs (read as data
from the reference tree, the format the engine must ingest, or
rendered from their transcription in ``store_queries.FIXTURE_GRAPHS``
where that tree is absent) plus the parity checks on the derived
relational graph.
"""

import os

import pytest
from pyspark.sql import functions as F

from graphdatabase_spark.operators import dfs as dfs_mod
from graphdatabase_spark.operators import graph_algos, graph_queries, pregel
from graphdatabase_spark.operators import store_queries as sq
from graphdatabase_spark.sources import matrix as matrix_mod

from tests.oracle import dfs_leaves
from tests.parity import assert_parity

pytestmark = pytest.mark.slow  # heavyweight integration module: full-suite tier (pyproject.toml)

FIXTURE_DIR = "/root/reference/Assignment2"
HAVE_FIXTURES = os.path.isdir(FIXTURE_DIR)

# Golden BFS level-sets for G6 from vertex 18, as printed by the
# reference's own oracle (utils/bfs_checker.py; FIXTURES.md §1).
G6_GOLDEN_LEVELS = {
    0: {18}, 1: {11}, 2: {2, 19}, 3: {1, 13, 14},
    4: {3, 12, 15, 16, 30}, 5: {4, 5, 17, 28, 29},
    6: {6, 7, 8, 9, 10}, 7: {20, 21, 22, 23, 24, 25, 26, 27},
}


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    """The reference's fixture dir or, where that tree is absent, G0-G9
    and G12 rendered from their cell-identical transcription in
    ``store_queries.FIXTURE_GRAPHS`` (no test here needs G10 or G11)."""
    if HAVE_FIXTURES:
        return FIXTURE_DIR
    out = tmp_path_factory.mktemp("fixtures")
    for name in sq.FIXTURE_GRAPHS:
        (out / f"{name}.txt").write_text(sq.matrix_text(name))
    return str(out)


@pytest.fixture(scope="module")
def fixture_edges(spark, fixture_dir):
    lines = matrix_mod.read_matrix_files(spark, os.path.join(fixture_dir, "G*.txt"))
    return matrix_mod.melt_matrix_lines(lines).cache()


def test_ingest_fixture_edge_counts(fixture_edges):
    # Edge counts per FIXTURES.md §1 (verified there by parsing each file).
    counts = {r["graph"]: r["n"] for r in
              fixture_edges.groupBy("graph").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["G6"] == 58
    assert counts["G0"] == 2
    assert counts["G2"] == 6
    assert "G12" not in counts  # empty graph melts to zero edges


def test_ingest_vertices_includes_isolated(spark, fixture_dir):
    lines = matrix_mod.read_matrix_files(spark, os.path.join(fixture_dir, "G6.txt"))
    verts = matrix_mod.matrix_vertices(lines)
    assert verts.count() == 30


def test_matrix_roundtrip(spark):
    lines = matrix_mod.lines_from_text(spark, "M1", graph_queries._SAMPLE_MATRIX)
    edges = matrix_mod.melt_matrix_lines(lines)
    text = matrix_mod.edges_to_matrix_text(edges, 6)
    assert text == graph_queries._SAMPLE_MATRIX


def test_bfs_g6_golden(fixture_edges):
    g6 = fixture_edges.filter(F.col("graph") == "G6").select("src", "dst")
    got = pregel.bfs_levels(g6, [18]).collect()
    levels: dict[int, set] = {}
    for r in got:
        levels.setdefault(r["level"], set()).add(r["vid"])
    assert levels == G6_GOLDEN_LEVELS


def test_bfs_empty_graph(spark):
    # G12 is the empty graph: BFS from a lone vertex = just that vertex.
    empty = spark.createDataFrame([], "src long, dst long")
    got = pregel.bfs_levels(empty, [1]).collect()
    assert [(r["vid"], r["level"]) for r in got] == [(1, 0)]


def test_bfs_self_loop(spark):
    # Self-loops are harmless: start is pre-visited (secondary_server.c:577).
    edges = spark.createDataFrame([(1, 1), (1, 2), (2, 2)], "src long, dst long")
    got = {(r["vid"], r["level"]) for r in pregel.bfs_levels(edges, [1]).collect()}
    assert got == {(1, 0), (2, 1)}


def test_bfs_asymmetric_g2(fixture_edges):
    # G2 is directed (asymmetric matrix) — row-wise scan semantics honored.
    g2 = fixture_edges.filter(F.col("graph") == "G2").select("src", "dst")
    # G2 rows: 1→{1,4}, 2→{1,4}, 3→{4}, 4→{4}. Row-wise scan semantics:
    # from 2 the reachable set is {2,1,4}; the reverse direction (4→2)
    # does NOT exist — asymmetric matrices are honored.
    reach = {r["vid"] for r in pregel.bfs_levels(g2, [2]).collect()}
    assert reach == {2, 1, 4}
    reach4 = {r["vid"] for r in pregel.bfs_levels(g2, [4]).collect()}
    assert reach4 == {4}


def test_canonical_dfs_leaves_pure():
    # Diamond 1→{2,3}, 2→4, 3→4: canonical order visits 2 first, takes 4;
    # then 3 finds 4 visited → 3 and 4 are leaves.
    adj = {1: [2, 3], 2: [4], 3: [4], 4: []}
    assert dfs_mod.canonical_dfs_leaves(adj, 1) == [3, 4]
    # Chain: only the end is a leaf.
    assert dfs_mod.canonical_dfs_leaves({1: [2], 2: [3], 3: []}, 1) == [3]
    # Isolated start is itself a leaf.
    assert dfs_mod.canonical_dfs_leaves({}, 7) == [7]


def test_canonical_bfs_levels_pure():
    # Diamond: 4 is reached once, at its minimum hop count.
    adj = {1: [2, 3], 2: [4], 3: [4], 4: []}
    assert dfs_mod.canonical_bfs_levels(adj, 1) == {1: 0, 2: 1, 3: 1, 4: 2}
    # A start with no edges is level 0 on its own.
    assert dfs_mod.canonical_bfs_levels({}, 7) == {7: 0}
    # Levels stop at the Pregel kernel's superstep cap.
    chain = {v: [v + 1] for v in range(1, 10)}
    assert dfs_mod.canonical_bfs_levels(chain, 1, max_levels=3) == {
        1: 0, 2: 1, 3: 2, 4: 3}


def test_dfs_leaves_matches_pure_python_on_fixtures(spark, fixture_edges):
    # Distributed applyInPandas DFS == the test's own DFS oracle, per graph.
    for graph, start in [("G6", 18), ("G5", 1), ("G1", 3), ("G2", 4)]:
        sub = fixture_edges.filter(F.col("graph") == graph)
        expected = dfs_leaves(((r["src"], r["dst"]) for r in sub.collect()), start)
        starts = spark.createDataFrame([(graph, start)], "graph string, start long")
        got = sorted(r["leaf"] for r in dfs_mod.dfs_leaves(
            sub.select("graph", "src", "dst"), starts).collect())
        assert got == expected, f"{graph} from {start}"


def test_connected_components_fixture(spark, fixture_edges):
    # Components across all fixture graphs at once (prefix the vid with a
    # per-graph offset to keep them disjoint) — sanity on shapes instead:
    # G1 is a connected star, so one component.
    g1 = fixture_edges.filter(F.col("graph") == "G1").select("src", "dst")
    verts = g1.select(F.col("src").alias("vid")).union(g1.select("dst")).distinct()
    comps = pregel.connected_components(g1, verts).collect()
    assert {r["component"] for r in comps} == {1}


def _duck_bfs_levels(edges, start, max_level):
    """DuckDB recursive-CTE ground truth: min hop count per reachable
    vertex."""
    import duckdb
    con = duckdb.connect()
    vals = ", ".join(f"({s}, {d})" for s, d in edges) or "(NULL, NULL)"
    rows = con.execute(f"""
        WITH RECURSIVE e(src, dst) AS (
          SELECT * FROM (VALUES {vals}) AS t(src, dst) WHERE src IS NOT NULL),
        bfs(vid, level) AS (
          SELECT {start}, 0
          UNION
          SELECT e.dst, b.level + 1 FROM bfs b JOIN e ON e.src = b.vid
          WHERE b.level < {max_level + 1}
        )
        SELECT vid, MIN(level) FROM bfs GROUP BY vid
    """).fetchall()
    return dict(rows)


@pytest.mark.parametrize("seed", range(20))
def test_random_digraph_bfs_and_dfs_match_oracles(spark, seed):
    """SURVEY §5 property commitment at real size: 20 seeded random
    digraphs (n ≤ 60, density 0.03–0.25, self-loops included) — Spark
    ``bfs_levels`` must equal the DuckDB recursive-CTE levels, and the
    distributed ``dfs_leaves`` must equal the pure-Python canonical-DFS
    replica. Catches semantic drift the fixed fixture graphs can't."""
    import random

    rng = random.Random(1000 + seed)
    n = rng.randint(2, 60)
    density = rng.choice([0.03, 0.06, 0.12, 0.25])
    edges = sorted({(i, j) for i in range(1, n + 1) for j in range(1, n + 1)
                    if rng.random() < density})
    start = rng.randint(1, n)

    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.filter("src > 0")
    got = {r["vid"]: r["level"] for r in pregel.bfs_levels(e, [start]).collect()}
    assert got == _duck_bfs_levels(edges, start, n), (seed, n, density, start)

    expected = dfs_leaves(edges, start)
    sub = e.withColumn("graph", F.lit("R"))
    starts = spark.createDataFrame([("R", start)], "graph string, start long")
    got_leaves = sorted(r["leaf"] for r in dfs_mod.dfs_leaves(
        sub.select("graph", "src", "dst"), starts).collect())
    assert got_leaves == expected, (seed, n, density, start)


def test_connected_components_path_graph_logn_rounds(spark):
    """Large-star/small-star must converge in O(log n) rounds on a
    high-diameter graph — the scale property HashMin lacks (HashMin
    would need ~n supersteps on a path). Path 0-1-...-1024: correct
    single component AND round count within 2·log2(n) + slack."""
    import math
    n = 1025  # path of diameter 1024
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "src long, dst long")
    verts = spark.range(n).withColumnRenamed("id", "vid")
    stats: dict = {}
    comp = {r["vid"]: r["component"] for r in
            pregel.connected_components(edges, verts, stats=stats).collect()}
    assert comp == {v: 0 for v in range(n)}
    bound = 2 * math.ceil(math.log2(n)) + 4
    assert stats["rounds"] <= bound, \
        f"took {stats['rounds']} rounds; O(log n) bound is ~{bound}"


def test_connected_components_isolated_and_multi(spark):
    """Two components + an isolated vertex + a self-loop: each maps to
    its component minimum; the isolated vertex maps to itself."""
    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21), (7, 7)], "src long, dst long")
    verts = spark.createDataFrame(
        [(v,) for v in (3, 5, 9, 20, 21, 7, 42)], "vid long")
    comp = {r["vid"]: r["component"] for r in
            pregel.connected_components(edges, verts).collect()}
    assert comp == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 7: 7, 42: 42}


def _tarjan_scc(vertices, edges):
    """Pure-Python iterative Tarjan ground truth: {vid: min member of
    its SCC}. Independent algorithm family from the distributed
    trim+coloring kernel, so agreement is meaningful."""
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    onstack: set[int] = set()
    stack: list[int] = []
    out: dict[int, int] = {}
    counter = [0]
    for root in vertices:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                onstack.add(v)
            descended = False
            succs = adj.get(v, [])
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    descended = True
                    break
                if w in onstack:
                    low[v] = min(low[v], index[w])
            if not descended:
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        onstack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    m = min(comp)
                    for w in comp:
                        out[w] = m
                if work:
                    low[work[-1][0]] = min(low[work[-1][0]], low[v])
    return out


def _spark_scc(spark, vertices, edges, stats=None):
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.filter("src > 0")
    v = spark.createDataFrame([(x,) for x in vertices], "vid long")
    return {r["vid"]: r["scc"] for r in
            pregel.strongly_connected_components(e, v, stats=stats).collect()}


def test_scc_known_small(spark):
    """Two 3-cycles joined one-way, a tail, a self-loop, an isolated
    vertex: {1,2,3} and {4,5,6} are distinct SCCs despite 3→4; 7 (tail),
    8 (self-loop) and 9 (isolated) are singletons."""
    edges = [(1, 2), (2, 3), (3, 1), (3, 4),
             (4, 5), (5, 6), (6, 4), (6, 7), (8, 8)]
    got = _spark_scc(spark, range(1, 10), edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7, 8: 8, 9: 9}


def test_scc_dag_is_all_singletons_via_trim(spark):
    """On a DAG every SCC is a singleton and the trim phase alone must
    collapse the graph — zero coloring rounds."""
    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]
    stats: dict = {}
    got = _spark_scc(spark, range(5), edges, stats=stats)
    assert got == {v: v for v in range(5)}
    assert stats["rounds"] == 0, "a DAG must be fully trimmed away"


def test_scc_single_cycle(spark):
    """One directed n-cycle = one SCC labeled by its minimum."""
    n = 12
    edges = [(i, (i + 1) % n) for i in range(n)]
    got = _spark_scc(spark, range(n), edges)
    assert got == {v: 0 for v in range(n)}


def test_scc_asymmetric_g2_fixture(spark, fixture_edges):
    """G2 (the reference's asymmetric matrix): 1→{1,4}, 2→{1,4},
    3→{4}, 4→{4} — self-loops only, no mutual pair, so SCC must NOT
    symmetrize (undirected CC would merge everything reachable)."""
    g2 = fixture_edges.filter(F.col("graph") == "G2").select("src", "dst")
    verts = spark.createDataFrame([(v,) for v in range(1, 5)], "vid long")
    got = {r["vid"]: r["scc"] for r in
           pregel.strongly_connected_components(g2, verts).collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}


def test_scc_refuses_truncated_coloring(spark):
    """An iteration bound too small for the coloring fixpoint must
    raise, never return: truncated colors mis-identify pivots and the
    result would be silently WRONG (unlike BFS, where a depth cap just
    truncates levels)."""
    n = 12
    edges = [(i, (i + 1) % n) for i in range(n)]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in range(n)], "vid long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        pregel.strongly_connected_components(e, v, max_iterations=5)


@pytest.mark.parametrize("seed", range(12))
def test_scc_random_digraphs_vs_tarjan(spark, seed):
    """Seeded random digraphs (n ≤ 40, densities spanning mostly-DAG to
    one-giant-SCC) vs the pure-Python Tarjan replica."""
    import random

    rng = random.Random(3000 + seed)
    n = rng.randint(2, 40)
    density = rng.choice([0.02, 0.05, 0.1, 0.2])
    vertices = list(range(1, n + 1))
    edges = sorted({(i, j) for i in vertices for j in vertices
                    if rng.random() < density})
    got = _spark_scc(spark, vertices, edges)
    assert got == _tarjan_scc(vertices, edges), (seed, n, density)


def test_triangle_count_known(spark):
    # Two triangles sharing an edge: (1,2,3) and (2,3,4).
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src long, dst long")
    assert graph_algos.triangle_count(edges).collect()[0]["n_triangles"] == 2
    # No triangle in a path.
    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert graph_algos.triangle_count(path).collect()[0]["n_triangles"] == 0


@pytest.mark.parametrize("name", sorted(graph_queries.ORACLES))
def test_graph_query_parity(spark, sf_dir, name):
    df = graph_queries.QUERIES[name](spark, sf_dir)
    assert_parity(df, graph_queries.ORACLES[name], sf_dir)


def test_k_core_peels_tail_keeps_clique(spark):
    """Triangle {1,2,3} with tail 3-4-5: the 2-core is exactly the
    triangle (peeling must cascade — dropping 5 makes 4 degree-1)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long")
    got = {(r["vid"], r["core_deg"]) for r in graph_algos.k_core(edges, 2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_k_core_empty_when_k_exceeds_graph(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert graph_algos.k_core(edges, 3).count() == 0


def test_clustering_coefficient_triangle_plus_tail(spark):
    """Triangle + tail: vertex 3 has deg 3, one triangle among its 3
    possible neighbor pairs → coeff 1/3; tail vertices have coeff 0."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long")
    got = {r["vid"]: (r["deg"], r["n_tri"], r["coeff"])
           for r in graph_algos.clustering_coefficient(edges).collect()}
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, pytest.approx(1 / 3))
    assert got[4] == (2, 0, 0.0)
    assert got[5] == (1, 0, 0.0)


def test_pagerank_regular_graph_fixed_point(spark):
    """On a k-regular strongly-connected graph the uniform vector is the
    exact fixed point: every rank stays exactly 1.0 (no float drift —
    base + d*(1/1) telescopes)."""
    from graphdatabase_spark.operators import pregel
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "vid long")
    ranks = {r["vid"]: r["rank"] for r in pregel.pagerank(edges, verts).collect()}
    assert ranks == {1: 1.0, 2: 1.0, 3: 1.0}


def test_pagerank_matches_python_power_iteration(spark):
    """Star-with-dangling graph vs a literal python replica of the same
    iteration (same damping, dangling redistribution, iteration count)."""
    from graphdatabase_spark.operators import pregel
    e = [(1, 2), (1, 3), (2, 3), (4, 1)]  # 3 is dangling
    edges = spark.createDataFrame(e, "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in (1, 2, 3, 4)], "vid long")
    got = {r["vid"]: r["rank"] for r in pregel.pagerank(edges, verts).collect()}

    d, n = 0.85, 4
    out = {1: [2, 3], 2: [3], 4: [1]}
    rank = {v: 1.0 for v in (1, 2, 3, 4)}
    for _ in range(10):
        recv = {v: 0.0 for v in rank}
        for s, dsts in out.items():
            for t in dsts:
                recv[t] += rank[s] / len(dsts)
        dangling = sum(rank[v] for v in rank if v not in out)
        base = (1 - d) + d * dangling / n
        rank = {v: base + d * recv[v] for v in rank}

    assert got.keys() == rank.keys()
    for v in rank:
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])
    assert abs(sum(got.values()) - n) < 1e-9  # mass conservation


def test_oracle_hop_bound_exceeds_actual_depth(spark, sf_dir):
    """The recursive oracles bound recursion at MAX_ORACLE_HOPS; if the
    derived graph ever grows deeper than FULL_GRAPH_DEPTH the oracles
    would silently truncate — this test makes that failure loud."""
    from graphdatabase_spark.operators import derived_graph as dg
    levels = graph_queries.QUERIES["bfs_levels"](spark, sf_dir)
    max_level = levels.agg(F.max("level").alias("m")).collect()[0]["m"]
    assert max_level == dg.FULL_GRAPH_DEPTH, \
        f"derived DAG depth changed ({max_level}); update FULL_GRAPH_DEPTH"
    assert max_level < dg.MAX_ORACLE_HOPS


def test_sssp_honors_fractional_weights(spark):
    """Fractional weights must not be silently truncated: with w=0.5 on
    the long path and w=2 on the direct edge, the 3-hop path (1.5) must
    beat the 1-hop path (2.0)."""
    from graphdatabase_spark.operators import pregel
    edges = spark.createDataFrame(
        [(0, 1, 0.5), (1, 2, 0.5), (2, 3, 0.5), (0, 3, 2.0)],
        "src long, dst long, weight double")
    dist = {r["vid"]: r["dist"] for r in pregel.sssp_weighted(edges, [0]).collect()}
    assert dist[3] == 1.5


def test_pagerank_quantized_tracks_float(spark):
    """The scaled-int64 variant (the oracle-able query path) stays
    within integer-truncation tolerance of the float PageRank on the
    star-with-dangling graph: |rank_q/1e9 - rank| bounded by the
    accumulated per-iteration div-truncation (≪ 1e-6 here)."""
    from graphdatabase_spark.operators import pregel
    e = [(1, 2), (1, 3), (2, 3), (4, 1)]  # 3 is dangling
    edges = spark.createDataFrame(e, "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in (1, 2, 3, 4)], "vid long")
    flt = {r["vid"]: r["rank"] for r in pregel.pagerank(edges, verts).collect()}
    qnt = {r["vid"]: r["rank_q"] for r in
           pregel.pagerank(edges, verts, scale=10**9).collect()}
    assert qnt.keys() == flt.keys()
    for v in flt:
        assert abs(qnt[v] / 1e9 - flt[v]) < 1e-6, (v, qnt[v], flt[v])
    # truncation only ever loses mass, never invents it
    assert sum(qnt.values()) <= 4 * 10**9


def test_connected_components_random_graphs_vs_union_find(spark):
    """Seeded random graphs (varied density, self-loops, isolated
    vertices) against a plain union-find replica — the large-star/
    small-star kernel must produce the identical min-id component map
    on shapes the fixtures don't cover."""
    import random

    from graphdatabase_spark.operators import pregel

    for seed in (1, 7, 42, 2026):
        rng = random.Random(seed)
        n = rng.randint(2, 40)
        m = rng.randint(0, 3 * n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: min(w for w in range(n) if find(w) == find(v))
                for v in range(n)}
        e_df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
        if not edges:
            e_df = e_df.filter("src != src")  # empty edge relation
        v_df = spark.createDataFrame([(v,) for v in range(n)], "vid long")
        got = {r["vid"]: r["component"] for r in
               pregel.connected_components(e_df, v_df).collect()}
        assert got == want, f"seed {seed} (n={n}, m={m})"


def test_reliable_checkpoint_mode_identical(spark, tmp_path, fixture_edges):
    """Round-10 verdict item 4: the reliable-checkpoint escape hatch.
    localCheckpoint stores blocks on executors, so on a real cluster
    one lost executor mid-iteration kills an iterative job
    unrecoverably; under ``pregel.reliable_checkpoints`` every K-th
    kernel checkpoint lands on reliable storage instead (GraphX
    Pregel's own cadence). Results must be identical — only failure
    recovery changes — and the policy must reset on exit."""
    import glob

    g6 = fixture_edges.filter(F.col("graph") == "G6").select("src", "dst")
    base = {(r["vid"], r["level"])
            for r in pregel.bfs_levels(g6, [18]).collect()}
    ckdir = str(tmp_path / "reliable_ck")
    with pregel.reliable_checkpoints(spark, ckdir, every=2):
        got = {(r["vid"], r["level"])
               for r in pregel.bfs_levels(g6, [18]).collect()}
        # a long loop under the reliable mode: 8-level BFS at every=2
        # crosses the reliable cadence 4+ times
        assert got == base
        # the reliable dir actually received checkpoint data
        assert glob.glob(os.path.join(ckdir, "*", "*"))
    assert pregel._CKPT.get() == (0, [0])
    # and the default policy still runs after the context
    again = {(r["vid"], r["level"])
             for r in pregel.bfs_levels(g6, [18]).collect()}
    assert again == base


def test_reliable_checkpoint_policy_is_thread_scoped(spark, tmp_path,
                                                     fixture_edges):
    """Round-11 verdict nit 3: the checkpoint policy must not leak
    across driver threads. A kernel running on a second thread while
    the first holds ``reliable_checkpoints`` open must see the default
    (local-checkpoint) policy, keep its own counter, and produce the
    same result; and the contexts must nest (inner restore → outer
    policy, not the default)."""
    import threading

    g6 = fixture_edges.filter(F.col("graph") == "G6").select("src", "dst")
    base = {(r["vid"], r["level"])
            for r in pregel.bfs_levels(g6, [18]).collect()}
    seen, errs = {}, []

    def other_thread():
        try:
            # runs while the main thread's context is active: must see
            # the DEFAULT policy, untouched by the other thread
            seen["policy"] = pregel._CKPT.get()
            seen["rows"] = {(r["vid"], r["level"])
                            for r in pregel.bfs_levels(g6, [18]).collect()}
        except Exception as exc:  # surface, don't deadlock the join
            errs.append(exc)

    with pregel.reliable_checkpoints(spark, str(tmp_path / "ck_a"), every=2):
        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
        # nesting: inner exit restores the OUTER policy, not default
        outer = pregel._CKPT.get()
        with pregel.reliable_checkpoints(spark, str(tmp_path / "ck_b"),
                                         every=5):
            assert pregel._CKPT.get()[0] == 5
        assert pregel._CKPT.get() is outer
    assert not errs, errs
    assert seen["policy"] == (0, [0])
    assert seen["rows"] == base
    assert pregel._CKPT.get() == (0, [0])

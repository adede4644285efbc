"""Engine facade: reference ops 1-5 + A1 surface, end to end against a
real Parquet store, with the reference's own fixture graphs as input
(read as data from /root/reference — never as code)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from graphdatabase_spark.engine import GraphEngine
from graphdatabase_spark.sources.tables import load_table

from tests.oracle import dfs_leaves

REF_FIXTURES = "/root/reference/Assignment2"

# Golden BFS level-sets for G6 from vertex 18 — the output of the
# reference's own oracle (utils/bfs_checker.py:33-76), SURVEY.md §2.2.
G6_GOLDEN_LEVELS = {
    0: {18}, 1: {11}, 2: {2, 19}, 3: {1, 13, 14},
    4: {3, 15, 30, 12, 16}, 5: {4, 5, 28, 17, 29},
    6: {9, 10, 6, 7, 8}, 7: {20, 21, 22, 23, 24, 25, 26, 27},
}


def _fixture_text(name):
    path = os.path.join(REF_FIXTURES, f"{name}.txt")
    if not os.path.exists(path):
        pytest.skip("reference fixture dir not present")
    with open(path) as f:
        return f.read()


@pytest.fixture()
def engine(spark, tmp_path):
    return GraphEngine(spark, str(tmp_path / "store"))


def test_add_then_bfs_golden(engine):
    engine.add_graph("G6", _fixture_text("G6"))
    got = {}
    for r in engine.bfs("G6", 18).collect():
        got.setdefault(r["level"], set()).add(r["vertex"])
    assert got == G6_GOLDEN_LEVELS


def test_modify_overwrites_only_that_graph(engine):
    engine.add_graph("A", "2\n0 1\n0 0\n")
    engine.add_graph("B", "2\n0 1\n1 0\n")
    # op 2 ≡ op 1: full overwrite of A — B must be untouched
    engine.modify_graph("A", "3\n0 0 0\n0 0 0\n1 0 0\n")
    a = {(r["src"], r["dst"]) for r in engine.edges("A").collect()}
    b = {(r["src"], r["dst"]) for r in engine.edges("B").collect()}
    assert a == {(3, 1)}
    assert b == {(1, 2), (2, 1)}
    assert engine.graphs() == ["A", "B"]
    assert {r["vid"] for r in engine.vertices("A").collect()} == {1, 2, 3}


def test_empty_graph_roundtrip(engine):
    engine.add_graph("G12", _fixture_text("G12"))  # n = 0
    assert engine.graphs() == ["G12"]  # exists despite zero vertices
    assert engine.edges("G12").count() == 0
    assert engine.vertices("G12").count() == 0


def test_dfs_leaves_matches_oracle(engine):
    engine.add_graph("G5", _fixture_text("G5"))
    want = set(dfs_leaves(((r["src"], r["dst"])
                           for r in engine.edges("G5").collect()), 1))
    got = {r["leaf"] for r in engine.dfs_leaves("G5", 1).collect()}
    assert got == want


def test_reachable_and_degrees(engine):
    engine.add_graph("M", "4\n0 1 0 0\n0 0 1 0\n0 0 0 0\n0 0 1 0\n")
    assert {r["vertex"] for r in engine.reachable("M", 1).collect()} == {1, 2, 3}
    degs = {r["vid"]: (r["out_degree"], r["in_degree"])
            for r in engine.degrees("M").collect()}
    assert degs == {1: (1, 0), 2: (1, 1), 3: (0, 2), 4: (1, 0)}


def test_connected_components_via_store(engine):
    engine.add_graph("CC", "5\n0 1 0 0 0\n1 0 0 0 0\n0 0 0 1 0\n0 0 1 0 0\n0 0 0 0 0\n")
    comp = {r["vid"]: r["component"] for r in engine.connected_components("CC").collect()}
    assert comp == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}


def test_scc_via_store(engine):
    """Directed 3-cycle {1,2,3} + one-way edge to 4 + sink 5 through
    the full store path: SCC honors direction (undirected CC on the
    same matrix would merge 4 into the cycle's component)."""
    engine.add_graph("S", "5\n0 1 0 0 0\n0 0 1 0 0\n1 0 0 1 0\n0 0 0 0 0\n0 0 0 0 0\n")
    scc = {r["vid"]: r["scc"] for r in engine.scc("S").collect()}
    assert scc == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}
    comp = {r["vid"]: r["component"] for r in
            engine.connected_components("S").collect()}
    assert comp[4] == 1  # the undirected view merges 4 — direction matters


def test_graph_analytics_via_store(engine):
    """Triangle {1,2,3} + tail 3→4→5 through the full store path:
    count, coefficients, and 2-core all view the digraph undirected."""
    engine.add_graph("T", "5\n0 1 1 0 0\n0 0 1 0 0\n0 0 0 1 0\n0 0 0 0 1\n0 0 0 0 0\n")
    assert engine.triangle_count("T").collect()[0]["n_triangles"] == 1
    coeff = {r["vid"]: r["coeff"] for r in engine.clustering_coefficient("T").collect()}
    assert coeff[1] == 1.0 and coeff[2] == 1.0
    assert abs(coeff[3] - 1 / 3) < 1e-12 and coeff[4] == 0.0 and coeff[5] == 0.0
    core = {(r["vid"], r["core_deg"]) for r in engine.k_core("T", 2).collect()}
    assert core == {(1, 2), (2, 2), (3, 2)}


def test_a1_surface(engine, spark, sf_dir):
    assert engine.ping() == "Hello"
    docs = load_table(spark, sf_dir, "documents")
    some_source = docs.select("source").first()["source"]
    assert engine.file_search(docs, some_source) is True
    assert engine.file_search(docs, "no_such_source_xyz") is False
    did, text = docs.select("doc_id", "text").first()
    n = engine.word_count(docs, did)
    assert n == len([t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t])


def test_ingest_dir_bulk(engine, spark, tmp_path):
    """Bulk matrix-file ingest: a directory of graph files lands as one
    distributed write, every graph addressable afterwards."""
    d = tmp_path / "graphs"
    d.mkdir()
    (d / "GA.txt").write_text("2\n0 1\n0 0\n")
    (d / "GB.txt").write_text("3\n0 1 0\n0 0 1\n1 0 0\n")
    engine.ingest_dir(str(d))
    assert engine.graphs() == ["GA", "GB"]
    assert {(r["src"], r["dst"]) for r in engine.edges("GB").collect()} == {(1, 2), (2, 3), (3, 1)}
    assert {r["vid"] for r in engine.vertices("GA").collect()} == {1, 2}


def test_modify_to_empty_clears_stale_partitions(engine):
    """Op 2 regression: dynamic partition overwrite only replaces
    partitions that receive rows, so a modify that empties a graph
    (all-zero matrix) must explicitly clear the old edge partition —
    otherwise reads serve the pre-modify edges."""
    engine.add_graph("GZ", "3\n0 1 1\n0 0 1\n0 0 0\n")
    assert engine.edges("GZ").count() == 3
    engine.modify_graph("GZ", "3\n0 0 0\n0 0 0\n0 0 0\n")
    assert engine.edges("GZ").count() == 0
    assert "GZ" in engine.graphs()
    # vertices survive (N=3 still declares 3 vertices)
    assert engine.vertices("GZ").count() == 3


def test_snapshot_isolation_under_concurrent_modify(engine, spark):
    """The round-4 verdict's documented race, now closed: a reader that
    pinned a snapshot before a modify must keep seeing the OLD edges
    with the OLD vertices — never new edges with old vertices — even
    when a second engine session (the writer) commits between the
    reader's two table reads. Reference anchor: the all-state-at-once
    per-graph RW lock (primary_server.c:110-146)."""
    engine.add_graph("R", "2\n0 1\n0 0\n")          # v1: verts {1,2}, edge (1,2)
    reader = engine.snapshot()
    pre_edges = reader.edges("R")                    # lazy — paths pinned
    # a DIFFERENT session on the same store commits a modify in between
    writer = GraphEngine(engine.spark, engine.store)
    writer.modify_graph("R", "4\n0 0 0 0\n0 0 0 0\n0 0 0 1\n0 0 0 0\n")
    pre_verts = reader.vertices("R")                 # read AFTER the commit
    # the pinned snapshot serves v1 for BOTH tables, consistently
    assert {(r["src"], r["dst"]) for r in pre_edges.collect()} == {(1, 2)}
    assert {r["vid"] for r in pre_verts.collect()} == {1, 2}
    # a fresh snapshot serves v2 for both tables, consistently
    after = engine.snapshot()
    assert {(r["src"], r["dst"]) for r in after.edges("R").collect()} == {(3, 4)}
    assert {r["vid"] for r in after.vertices("R").collect()} == {1, 2, 3, 4}


def test_time_travel_snapshots(engine):
    """snapshot(seq=N) pins any retained historical manifest: versions
    stay readable after later modifies, and vacuum invalidates them
    loudly (FileNotFoundError), never silently serving mixed state."""
    engine.add_graph("T", "2\n0 1\n0 0\n")                      # seq 1
    engine.modify_graph("T", "3\n0 0 0\n0 0 0\n1 0 0\n")        # seq 2
    v1 = engine.snapshot(seq=1)
    assert {(r["src"], r["dst"]) for r in v1.edges("T").collect()} == {(1, 2)}
    assert {r["vid"] for r in v1.vertices("T").collect()} == {1, 2}
    v2 = engine.snapshot(seq=2)
    assert {(r["src"], r["dst"]) for r in v2.edges("T").collect()} == {(3, 1)}
    assert {r["vid"] for r in v2.vertices("T").collect()} == {1, 2, 3}
    engine.vacuum(force=True)
    with pytest.raises(FileNotFoundError, match="seq 1"):
        engine.snapshot(seq=1)
    # the newest seq survives vacuum
    assert {(r["src"], r["dst"]) for r in
            engine.snapshot(seq=2).edges("T").collect()} == {(3, 1)}


def test_bulk_modify_emptying_many_graphs_is_one_commit(engine, tmp_path):
    """A modify that empties N graphs must be O(1) write jobs, not
    O(N): one commit dir per table + one manifest flip (the round-4
    verdict's batching item — the old design issued one clearing write
    per emptied graph). Pinned structurally: exactly one new manifest
    and one new commit dir per table, regardless of N."""
    d1 = tmp_path / "v1"
    d1.mkdir()
    (d1 / "BA.txt").write_text("2\n0 1\n0 0\n")
    (d1 / "BB.txt").write_text("2\n0 1\n1 0\n")
    (d1 / "BC.txt").write_text("2\n1 1\n0 0\n")
    engine.ingest_dir(str(d1))
    d2 = tmp_path / "v2"
    d2.mkdir()
    for g in ("BA", "BB", "BC"):
        (d2 / f"{g}.txt").write_text("2\n0 0\n0 0\n")
    engine.ingest_dir(str(d2))
    for g in ("BA", "BB", "BC"):
        assert engine.edges(g).count() == 0, g
        assert {r["vid"] for r in engine.vertices(g).collect()} == {1, 2}, g
    manifests = os.listdir(os.path.join(engine.store, "manifests"))
    assert len([m for m in manifests if m.endswith(".json")]) == 2
    commit_dirs = os.listdir(os.path.join(engine.store, "data", "edges"))
    assert len(commit_dirs) == 2  # one per ingest, NOT one per emptied graph


def test_graph_names_with_partition_escaped_chars(engine):
    """Spark percent-escapes special characters in partition dir names
    (graph "G#1" lands in graph=G%231). Single-graph reads must filter
    on the partition COLUMN, never hand-build the leaf path — the
    path form silently read such graphs as empty."""
    engine.add_graph("G#1", "2\n0 1\n0 0\n")
    engine.add_graph("G 2", "2\n0 1\n1 0\n")  # space also escapes
    assert engine.graphs() == ["G 2", "G#1"]
    assert {(r["src"], r["dst"]) for r in engine.edges("G#1").collect()} == {(1, 2)}
    assert {r["vid"] for r in engine.vertices("G#1").collect()} == {1, 2}
    assert {(r["src"], r["dst"]) for r in engine.edges("G 2").collect()} == {(1, 2), (2, 1)}
    got = {(r["vertex"], r["level"]) for r in engine.bfs("G#1", 1).collect()}
    assert got == {(1, 0), (2, 1)}


def test_compact_and_vacuum_lifecycle(engine):
    """Three writes = three live commits unioned per read; compact
    collapses to one commit, vacuum removes the rest; results identical
    before and after at every step (including an emptied graph)."""
    engine.add_graph("CA", "2\n0 1\n0 0\n")
    engine.add_graph("CB", "3\n0 1 0\n0 0 1\n0 0 0\n")
    engine.modify_graph("CA", "2\n0 0\n0 0\n")   # CA now empty of edges
    want_edges = {(r["graph"], r["src"], r["dst"])
                  for r in engine.edges().collect()}
    want_verts = {(r["graph"], r["vid"]) for r in engine.vertices().collect()}
    assert want_edges == {("CB", 1, 2), ("CB", 2, 3)}
    engine.compact()
    assert {(r["graph"], r["src"], r["dst"])
            for r in engine.edges().collect()} == want_edges
    removed = engine.vacuum(force=True)
    assert removed > 0
    # exactly one live commit dir per table after compact+vacuum
    for table in ("edges", "vertices", "meta"):
        dirs = [d for d in os.listdir(os.path.join(engine.store, "data", table))
                if d.startswith("c=")]
        assert len(dirs) == 1, (table, dirs)
    assert {(r["graph"], r["src"], r["dst"])
            for r in engine.edges().collect()} == want_edges
    assert {(r["graph"], r["vid"])
            for r in engine.vertices().collect()} == want_verts
    assert engine.graphs() == ["CA", "CB"]
    assert engine.edges("CA").count() == 0
    # the store stays writable after maintenance
    engine.add_graph("CC", "2\n0 1\n1 0\n")
    assert engine.graphs() == ["CA", "CB", "CC"]


def test_vacuum_spares_fresh_unpublished_commits(engine):
    """The in-flight-write footgun is enforced in code: a commit dir
    younger than ``orphan_retention_s`` that no manifest references
    (exactly what a mid-write looks like) survives a default vacuum;
    only ``force=True`` (or age past the retention window) reclaims
    it. Published live commits are untouched either way."""
    engine.add_graph("VF", "2\n0 1\n0 0\n")
    inflight = os.path.join(engine.store, "data", "edges", "c=inflight00")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-00000.parquet"), "wb") as f:
        f.write(b"partial write in progress")
    assert engine.vacuum() == 0            # fresh + unreferenced → retained
    assert os.path.isdir(inflight)
    # backdating past the retention window makes it a true orphan
    old = time.time() - 3600
    os.utime(inflight, (old, old))
    assert engine.vacuum() == 1
    assert not os.path.exists(inflight)
    # force=True reclaims even a fresh orphan
    os.makedirs(inflight)
    assert engine.vacuum(force=True) == 1
    assert not os.path.exists(inflight)
    # the published graph was never touched
    assert {(r["src"], r["dst"]) for r in
            engine.edges("VF").collect()} == {(1, 2)}


def test_empty_store_reads_are_empty(spark, tmp_path):
    """A store no write has touched yet answers queries with empty
    relations, matching graphs() == [] — not PATH_NOT_FOUND."""
    eng = GraphEngine(spark, str(tmp_path / "fresh"))
    assert eng.graphs() == []
    assert eng.edges().count() == 0
    assert eng.vertices().count() == 0


def test_bfs_all_matches_per_graph_bfs(engine):
    """The batched multi-graph traversal must reproduce the per-graph
    kernel's (vertex, level) sets for every stored fixture graph,
    including graphs that converge at different depths and graphs
    missing the start vertex entirely (the empty G12)."""
    for name in ("G1", "G3", "G5", "G6", "G12"):
        engine.add_graph(name, _fixture_text(name))
    batched = {}
    for r in engine.bfs_all(1).collect():
        batched.setdefault(r["graph"], set()).add((r["vertex"], r["level"]))
    assert "G12" not in batched  # empty graph: no start vertex, no rows
    for name in ("G1", "G3", "G5", "G6"):
        want = {(r["vertex"], r["level"]) for r in engine.bfs(name, 1).collect()}
        assert batched[name] == want, name


def test_dfs_leaves_all_matches_per_graph(engine):
    for name in ("G1", "G3", "G5", "G12"):
        engine.add_graph(name, _fixture_text(name))
    batched = {}
    for r in engine.dfs_leaves_all(1).collect():
        batched.setdefault(r["graph"], set()).add(r["leaf"])
    assert "G12" not in batched
    for name in ("G1", "G3", "G5"):
        want = {r["leaf"] for r in engine.dfs_leaves(name, 1).collect()}
        assert batched[name] == want, name


def test_scc_all_matches_per_graph(engine):
    """Batched SCC must equal the per-graph kernel for every stored
    graph — including the asymmetric G2, the empty G12 (no rows), and
    a cyclic hand graph — with labels decoded back to per-graph vids."""
    for name in ("G1", "G2", "G12"):
        engine.add_graph(name, _fixture_text(name))
    engine.add_graph("CYC", "4\n0 1 0 0\n0 0 1 0\n1 0 0 1\n0 0 0 0\n")
    batched = {}
    for r in engine.scc_all().collect():
        batched.setdefault(r["graph"], set()).add((r["vid"], r["scc"]))
    assert "G12" not in batched  # empty graph: no vertices, no rows
    for name in ("G1", "G2", "CYC"):
        want = {(r["vid"], r["scc"]) for r in engine.scc(name).collect()}
        assert batched[name] == want, name
    assert batched["CYC"] == {(1, 1), (2, 1), (3, 1), (4, 4)}


def test_packed_encode_plan_size_is_catalog_independent(spark):
    """The batched kernels encode (graph, vid) → packed long via a
    broadcast join against a small index DataFrame. The PLAN must stay
    constant-size as the catalog grows — the previous literal
    create_map encode grew it by two entries per stored graph, which
    explodes at a 10^5-graph catalog."""
    from graphdatabase_spark.engine import _pack_ids
    e = spark.createDataFrame([("g0", 1, 2)], "graph string, src int, dst int")
    sizes = {}
    for n in (10, 2000):
        gidx = spark.createDataFrame([(i, f"g{i}") for i in range(n)],
                                     "gidx long, graph string")
        packed = _pack_ids(e, gidx, 1000, ("src", "dst"))
        sizes[n] = len(packed._jdf.queryExecution().optimizedPlan().toString())
        assert packed.collect() == [(1000 * 0 + 1, 2)]  # g0 → gidx 0
    assert sizes[2000] <= sizes[10] + 50, sizes  # constant, not O(catalog)


def test_cc_all_matches_per_graph(engine):
    """Batched CC over the packed union must equal the per-graph kernel
    for every stored graph — min labels cannot cross the disjoint vid
    ranges — including the empty G12 (no rows) and a multi-component
    hand graph."""
    for name in ("G1", "G3", "G12"):
        engine.add_graph(name, _fixture_text(name))
    engine.add_graph("MC", "5\n0 1 0 0 0\n1 0 0 0 0\n0 0 0 1 0\n0 0 1 0 0\n0 0 0 0 0\n")
    batched = {}
    for r in engine.cc_all().collect():
        batched.setdefault(r["graph"], set()).add((r["vid"], r["component"]))
    assert "G12" not in batched
    for name in ("G1", "G3", "MC"):
        want = {(r["vid"], r["component"])
                for r in engine.connected_components(name).collect()}
        assert batched[name] == want, name
    assert batched["MC"] == {(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)}


def test_pagerank_all_matches_per_graph(engine):
    """Batched PageRank must reproduce the per-graph kernel for every
    stored graph — the grouped kernel keeps teleport and dangling mass
    within each graph (a packed-union run would leak them across
    graphs, which is exactly why pagerank_all doesn't use packing).
    Graphs of DIFFERENT sizes are the discriminating case: any
    cross-graph mass leak shifts every rank."""
    engine.add_graph("PA", "2\n0 1\n0 0\n")               # dangling vertex 2
    engine.add_graph("PB", "4\n0 1 1 0\n0 0 1 0\n1 0 0 1\n0 0 0 0\n")
    engine.add_graph("PC", _fixture_text("G1"))
    batched = {}
    for r in engine.pagerank_all(iterations=8).collect():
        batched.setdefault(r["graph"], {})[r["vid"]] = r["rank"]
    for name in ("PA", "PB", "PC"):
        want = {r["vid"]: r["rank"]
                for r in engine.pagerank(name, iterations=8).collect()}
        got = batched[name]
        assert got.keys() == want.keys(), name
        for vid, rank in want.items():
            assert abs(got[vid] - rank) < 1e-9, (name, vid, got[vid], rank)
        # per-graph mass conservation: ranks sum to that graph's n
        assert abs(sum(got.values()) - len(got)) < 1e-6, name


def test_weighted_ingest_roundtrip(engine):
    """The generalized matrix ingest: nonzero integer cells are edges
    with the cell value as weight. The unweighted view of the same
    store is just the edge set."""
    engine.add_graph("W", "3\n0 2 0\n0 0 5\n1 0 0\n")
    got = {(r["src"], r["dst"], r["w"])
           for r in engine.weighted_edges("W").collect()}
    assert got == {(1, 2, 2), (2, 3, 5), (3, 1, 1)}
    assert {(r["src"], r["dst"]) for r in engine.edges("W").collect()} == \
        {(1, 2), (2, 3), (3, 1)}


def test_weighted_melt_matches_01_melt_on_reference_format(engine, spark):
    """On the reference's own 0/1 exchange format the weighted melt
    must emit exactly the 0/1 melt's edge set with w=1 everywhere —
    the generalization is strict, old fixtures round-trip unchanged."""
    from graphdatabase_spark.sources import matrix as matrix_mod
    lines = matrix_mod.lines_from_text(spark, "G6", _fixture_text("G6"))
    plain = {(r["src"], r["dst"])
             for r in matrix_mod.melt_matrix_lines(lines).collect()}
    weighted = {(r["src"], r["dst"], r["w"])
                for r in matrix_mod.melt_matrix_lines_weighted(lines).collect()}
    assert weighted == {(s, d, 1) for s, d in plain}
    assert len(plain) > 0


def test_legacy_unweighted_commits_read_as_weight_one(engine, spark):
    """Commits written before edge weights existed have no w column in
    their parquet; the weighted read must surface them as weight 1 (the
    only weight the 0/1 format could express), and compaction migrates
    them to the new layout."""
    import shutil
    engine.add_graph("L", "2\n0 1\n0 0\n")
    cid = engine.manifests.load()["graphs"]["L"]
    path = os.path.join(engine.store, "data", "edges", f"c={cid}")
    rows = [(r["src"], r["dst"], r["graph"])
            for r in spark.read.parquet(path).select("src", "dst", "graph").collect()]
    shutil.rmtree(path)
    (spark.createDataFrame(rows, "src int, dst int, graph string")
     .write.partitionBy("graph").parquet(path))
    assert {(r["src"], r["dst"], r["w"])
            for r in engine.weighted_edges("L").collect()} == {(1, 2, 1)}
    # the driver-side read of the same file reads w as None
    assert engine.snapshot()._local_chain(
        "edges", "L", ("src", "dst", "w")) == [(cid, [(1, 2, None)])]
    engine.compact()
    cid2 = engine.manifests.load()["graphs"]["L"]
    assert cid2 != cid
    post = spark.read.parquet(
        os.path.join(engine.store, "data", "edges", f"c={cid2}"))
    assert "w" in post.columns  # compaction wrote the weight column
    assert {(r["src"], r["dst"], r["w"])
            for r in engine.weighted_edges("L").collect()} == {(1, 2, 1)}


def test_compact_preserves_weights(engine):
    engine.add_graph("WC", "2\n0 7\n3 0\n")
    engine.add_graph("WD", "2\n0 1\n0 0\n")
    engine.compact()
    engine.vacuum(force=True)
    got = {(r["graph"], r["src"], r["dst"], r["w"])
           for r in engine.weighted_edges().collect()}
    assert got == {("WC", 1, 2, 7), ("WC", 2, 1, 3), ("WD", 1, 2, 1)}


def test_sssp_facade_matches_bellman_ford_oracle(engine):
    """Weighted shortest paths over a STORED graph vs an independent
    recursive-CTE Bellman-Ford oracle (DuckDB) on a seeded random
    weighted digraph — path length bounded by n, so the CTE is exact."""
    import random

    import duckdb
    rng = random.Random(7)
    n = 10
    m = [[0] * n for _ in range(n)]
    for i in range(n):
        for j in range(n):
            if i != j and rng.random() < 0.3:
                m[i][j] = rng.randint(1, 9)
    text = f"{n}\n" + "\n".join(" ".join(str(c) for c in row) for row in m) + "\n"
    engine.add_graph("BF", text)
    got = {r["vertex"]: r["dist"] for r in engine.sssp("BF", 1).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src INT, dst INT, w INT)")
    con.executemany("INSERT INTO e VALUES (?, ?, ?)",
                    [(i + 1, j + 1, m[i][j])
                     for i in range(n) for j in range(n) if m[i][j]])
    want = dict(con.execute(f"""
        WITH RECURSIVE bf(i, vid, dist) AS (
            SELECT 0, 1, 0
            UNION
            SELECT i + 1, e.dst, bf.dist + e.w
            FROM bf JOIN e ON e.src = bf.vid
            WHERE i < {n}
        )
        SELECT vid, MIN(dist) FROM bf GROUP BY vid""").fetchall())
    assert {v: int(d) for v, d in got.items()} == want
    assert len(want) > 3  # non-trivial reachable set under seed 7


def test_sssp_all_matches_per_graph(engine):
    """Batched weighted SSSP over the packed union must equal the
    per-graph facade for every stored graph containing the start
    vertex — mixing a weighted graph, a 0/1 graph (hop counts), a
    graph whose vid range excludes the start, and the empty G12."""
    engine.add_graph("W", "3\n0 7 0\n0 0 2\n4 0 0\n")     # weighted cycle
    engine.add_graph("H", "4\n0 1 0 0\n0 0 1 0\n0 0 0 1\n0 0 0 0\n")  # 0/1 path
    engine.add_graph("G12", _fixture_text("G12"))          # empty
    batched = {}
    for r in engine.sssp_all(1).collect():
        batched.setdefault(r["graph"], {})[r["vertex"]] = r["dist"]
    assert set(batched) == {"W", "H"}  # G12 lacks vertex 1 entirely
    for name in ("W", "H"):
        want = {r["vertex"]: r["dist"]
                for r in engine.sssp(name, 1).collect()}
        assert batched[name] == want, name
    assert batched["W"] == {1: 0.0, 2: 7.0, 3: 9.0}        # weights honored
    assert batched["H"] == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}  # hops


def test_sssp_all_rejects_negative_weights(engine):
    engine.add_graph("OK", "2\n0 1\n0 0\n")
    engine.add_graph("NEG", "2\n0 -2\n0 0\n")
    with pytest.raises(ValueError, match="negative"):
        engine.sssp_all(1)


def test_sssp_rejects_negative_weights(engine):
    engine.add_graph("NEG", "2\n0 -2\n0 0\n")
    assert {(r["src"], r["dst"], r["w"])
            for r in engine.weighted_edges("NEG").collect()} == {(1, 2, -2)}
    with pytest.raises(ValueError, match="negative"):
        engine.sssp("NEG", 1)


def test_label_propagation_facade_converges_on_clique(engine):
    """Synchronous LPA over a stored graph: a 3-clique converges to
    the min label within the default 4 iterations (hand-traceable:
    round 1 maps 1→2, 2→1, 3→1; round 2 settles all on 1) and an
    isolated vertex keeps its own id."""
    engine.add_graph(
        "LP", "4\n0 1 1 0\n1 0 1 0\n1 1 0 0\n0 0 0 0\n")
    got = {r["vid"]: r["label"]
           for r in engine.label_propagation("LP").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_personalized_pagerank_facade_mass_and_bias(engine):
    """PPR over a stored path graph 1→2→3 from source {1}: integer
    mass stays within div-truncation drift of 10^9 (each of the 10
    iterations can only LOSE a few units to integer division, never
    create mass), the source keeps at least its 0.15 teleport floor,
    and a missing source id fails loudly."""
    engine.add_graph("PP", "3\n0 1 0\n0 0 1\n0 0 0\n")
    rows = {r["vid"]: r["rank_q"]
            for r in engine.personalized_pagerank("PP", [1]).collect()}
    total = sum(rows.values())
    assert 10**9 - 1000 <= total <= 10**9
    assert rows[1] >= (15 * 10**9) // 100  # teleport floor at the source
    assert all(v > 0 for v in rows.values())
    with pytest.raises(ValueError, match="not present"):
        engine.personalized_pagerank("PP", [9]).collect()


def test_stats_matches_fixture_shapes(engine):
    """Catalog stats must match hand-derived fixture shapes, including
    the empty graph reporting zeros."""
    engine.add_graph("G1", _fixture_text("G1"))   # star
    engine.add_graph("G12", _fixture_text("G12"))  # empty
    engine.add_graph("M", "3\n0 1 1\n0 0 1\n0 0 0\n")
    got = {r["graph"]: (r["n_vertices"], r["n_edges"], r["max_out_degree"])
           for r in engine.stats().collect()}
    assert got["M"] == (3, 3, 2)
    assert got["G12"] == (0, 0, 0)
    nv, ne, mx = got["G1"]
    ev = engine.edges("G1")
    assert ne == ev.count()
    assert nv == engine.vertices("G1").count()
    from pyspark.sql import functions as F
    assert mx == ev.groupBy("src").count().agg(F.max("count")).collect()[0][0]


def test_packed_kernels_correct_for_appended_raw_vid_graphs(engine, spark):
    """The round-8 advice HIGH: appended graphs carry arbitrary user
    vids (a stream keying src by raw user_id), so the packed-union
    stride must come from the ACTUAL max vid — a stride derived from
    meta n alone (vertex counts for appended graphs) packs two graphs'
    vids into overlapping ranges and decodes kernel labels to the
    WRONG graph, silently. Mix a matrix graph (small n) with two
    appended raw-vid graphs and require batched == per-graph for
    cc/scc/sssp."""
    engine.add_graph("G3", _fixture_text("G3"))
    engine.append_edges(spark.createDataFrame(
        [("A", 100, 205, 1), ("A", 205, 100, 1), ("A", 205, 300, 2)],
        "graph string, src int, dst int, w int"))
    engine.append_edges(spark.createDataFrame(
        [("B", 150, 151, 4), ("B", 151, 152, 4)],
        "graph string, src int, dst int, w int"))
    for batched_fn, per_graph_fn, label in (
            (engine.cc_all, engine.connected_components, "component"),
            (engine.scc_all, engine.scc, "scc")):
        batched = {}
        for r in batched_fn().collect():
            batched.setdefault(r["graph"], set()).add((r["vid"], r[label]))
        for name in ("G3", "A", "B"):
            want = {(r["vid"], r[label])
                    for r in per_graph_fn(name).collect()}
            assert batched[name] == want, (label, name)
    # weighted SSSP from a vid only the appended graphs contain
    dists = {}
    for r in engine.sssp_all(100).collect():
        dists.setdefault(r["graph"], {})[r["vertex"]] = r["dist"]
    assert set(dists) == {"A"}
    assert dists["A"] == {100: 0.0, 205: 1.0, 300: 3.0}


def test_append_bumps_no_meta_but_stride_still_safe(engine, spark):
    """A merge inserting vids beyond an existing graph's declared n
    must not break the packed kernels either — the stride bound is the
    store-wide max vid, re-derived per snapshot."""
    engine.add_graph("G9", _fixture_text("G9"))        # n = 2
    engine.merge_edges(spark.createDataFrame(
        [("G9", 2, 77, 1)], "graph string, src int, dst int, w int"))
    batched = {}
    for r in engine.cc_all().collect():
        batched.setdefault(r["graph"], set()).add((r["vid"], r["component"]))
    want = {(r["vid"], r["component"])
            for r in engine.connected_components("G9").collect()}
    assert batched["G9"] == want
    assert (77, 1) in batched["G9"]


def test_selective_compaction(spark, tmp_path):
    """compact(names) — the maintenance op a large catalog actually
    runs: only the NAMED graphs' chains collapse (delta chains
    resolved to plain rows), untouched graphs keep their commits
    byte-identical, read-back is unchanged everywhere, and the delta
    classification sets are pruned against the full post-flip map so
    an uncompacted graph's deltas survive. Unknown names raise."""
    from graphdatabase_spark.engine import GraphEngine

    eng = GraphEngine(spark, str(tmp_path / "s"), buckets=4)
    eng.add_graph("A", "3\n0 1 0\n0 0 1\n0 0 0\n")
    eng.add_graph("B", "2\n0 1\n0 0\n")
    for g in ("A", "B"):      # one edge delta + one vertex delta each
        eng.merge_edges(spark.createDataFrame(
            [(g, 2, 1, 5)], "graph string, src int, dst int, w int"),
            mode="delta")
        eng.set_vertex_props(spark.createDataFrame(
            [(g, 1, "root")], "graph string, vid int, tag string"),
            mode="delta")
    def state(g):
        return (sorted(tuple(r) for r in
                       eng.snapshot().weighted_edges(g, props=True).collect()),
                sorted(tuple(r) for r in
                       eng.snapshot().vertices(g, props=True).collect()))
    before = {g: state(g) for g in ("A", "B")}
    b_ptr_before = eng.manifests.load()["graphs"]["B"]
    eng.compact(["A"])
    m = eng.manifests.load()
    assert not isinstance(m["graphs"]["A"], list)      # A collapsed
    assert m["graphs"]["B"] == b_ptr_before            # B untouched
    # B's delta ids survive the prune; A's are gone
    b_chain = set(m["graphs"]["B"])
    assert set(m["vdeltas"]) <= b_chain and set(m["edeltas"]) <= b_chain
    assert m["vdeltas"] and m["edeltas"]
    assert {g: state(g) for g in ("A", "B")} == before
    import pytest
    with pytest.raises(ValueError, match="unknown graphs"):
        eng.compact(["A", "nope"])
    # chains() is the view this maintenance op plans from: A collapsed
    # to one plain commit, B still carries its 2-commit-deep deltas
    ch = {r["graph"]: (r["chain_len"], r["n_vdeltas"], r["n_edeltas"])
          for r in eng.chains().collect()}
    assert ch["A"] == (1, 0, 0)
    assert ch["B"] == (3, 1, 1)

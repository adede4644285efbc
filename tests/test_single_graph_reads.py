"""One-graph requests read only that graph's partition dirs, and a
graph within the reference's envelope is read and traversed on the
driver.

The store below has more partition dirs per commit than Spark's
parallel-listing threshold (32), in both the flat (``graph=<name>``)
and the bucketed (``gb=<bucket>``) layout. A read of such a commit dir
starts with a distributed "Listing leaf files" job, one task per dir;
a one-graph read must not run it. Two graphs sit on either side of
``LOCAL_EDGE_ROWS``: at the cap, and for every smaller graph, ``bfs``
and ``dfs_leaves`` run no Spark job; one row over, ``bfs`` takes the
Pregel loop and ``dfs_leaves`` collects the Spark read.
Every result is checked against a pure-Python model of the store and
the oracles in ``tests/oracle.py``, which share no code with the
engine, and the driver-side read against the Spark read.
"""

import contextlib
import random
import zlib

import pytest

from graphdatabase_spark import engine as engine_mod
from graphdatabase_spark.engine import LOCAL_EDGE_ROWS, GraphEngine
from graphdatabase_spark.operators import dfs as dfs_mod

from tests.oracle import bfs_levels, dfs_leaves

LISTING = "Listing leaf files"
BUCKETS = 64
N_PLAIN = 36          # one ingest commit with 36 partition dirs
SPECIAL = ("G#1", "G 2", "a=b", "ü")   # names the writer percent-escapes
EMPTY = "Z0"          # an N = 0 graph
AT_CAP = "K100"       # 100 x 100 all-ones matrix: LOCAL_EDGE_ROWS edge rows
OVER_CAP = "K101"     # 101 x 101 all-ones matrix: over LOCAL_EDGE_ROWS
MAX_SPARK_JOBS = 2    # jobs of the Spark collect of dfs_leaves over the cap


class Model:
    """Per graph: edge keys, vertex ids and meta ``n`` rows, following
    the store's write semantics (a delta merge records its batch's
    largest endpoint id as one more meta row)."""

    def __init__(self):
        self.edges: dict[str, set] = {}
        self.verts: dict[str, set] = {}
        self.meta: dict[str, list] = {}

    def put(self, g: str, n: int, edges) -> None:
        self.edges[g] = set(edges)
        self.verts[g] = set(range(1, n + 1))
        self.meta[g] = [n]

    def append(self, g: str, edges) -> None:
        assert {v for e in edges for v in e} <= self.verts[g]
        self.edges[g] |= set(edges)

    def merge(self, g: str, keys) -> None:
        self.edges[g] |= set(keys)
        ends = {v for e in keys for v in e}
        self.verts[g] |= ends
        self.meta[g].append(max(ends))

    def delete(self, g: str, keys) -> None:
        self.edges[g] -= set(keys)

    def add_vertices(self, g: str, vids) -> None:
        self.verts[g] |= set(vids)
        self.meta[g].append(max(vids))


def _plain_names() -> list[str]:
    """N_PLAIN names in pairwise different buckets (the engine's
    bucket is CRC-32 of the UTF-8 name), so every commit touching
    them has more than 32 gb dirs in the bucketed layout too."""
    names, used = [], {zlib.crc32(g.encode()) % BUCKETS for g in SPECIAL}
    i = 0
    while len(names) < N_PLAIN:
        g = f"P{i:03d}"
        b = zlib.crc32(g.encode()) % BUCKETS
        if b not in used:
            used.add(b)
            names.append(g)
        i += 1
    return names


def _matrix(n: int, edges) -> str:
    rows = [" ".join("1" if (i, j) in edges else "0"
                     for j in range(1, n + 1)) for i in range(1, n + 1)]
    return "\n".join([str(n), *rows]) + "\n"


def _build(spark, root, buckets):
    rng = random.Random(11)
    model = Model()
    eng = GraphEngine(spark, str(root / "store"), buckets=buckets)
    plain = _plain_names()
    inputs = root / "inputs"
    inputs.mkdir()
    for k, g in enumerate(plain):
        n = rng.randint(2, 5)
        # the first graph has no edges at all: it has no partition dir
        # in the ingest commit's edges table
        edges = set() if k == 0 else {
            (i, j) for i in range(1, n + 1) for j in range(1, n + 1)
            if i != j and rng.random() < 0.35}
        (inputs / f"{g}.txt").write_text(_matrix(n, edges))
        model.put(g, n, edges)
    eng.ingest_dir(str(inputs))
    for g in SPECIAL:
        n = rng.randint(3, 5)
        edges = {(i, i + 1) for i in range(1, n)}
        eng.add_graph(g, _matrix(n, edges))
        model.put(g, n, edges)
    eng.add_graph(EMPTY, "0\n")
    model.put(EMPTY, 0, set())

    live = [g for g in model.edges if g != EMPTY]
    # one append commit over every non-empty graph; its edges join
    # existing vertices only, so it writes no vertices or meta rows
    batch = []
    for g in live:
        n = len(model.verts[g])
        free = [(i, j) for i in range(1, n + 1) for j in range(1, n + 1)
                if i != j and (i, j) not in model.edges[g]]
        add = rng.sample(free, min(2, len(free)))
        model.append(g, add)
        batch += [(g, s, d) for s, d in add]
    assert eng.append_edges(spark.createDataFrame(
        batch, "graph string, src int, dst int")) is True

    # one delta merge over every non-empty graph: an upsert of a key the
    # graph may already hold, and, for every other graph, an edge to a
    # new vertex (so some graphs have vertex rows in this commit and
    # some do not)
    batch = []
    for k, g in enumerate(live):
        n = len(model.verts[g])
        keys = [(1, 2), (2, n + 1) if k % 2 else (2, 1)]
        model.merge(g, keys)
        batch += [(g, s, d, 3) for s, d in keys]
    adopted, skipped = eng.merge_edges(spark.createDataFrame(
        batch, "graph string, src int, dst int, w int"), mode="delta")
    assert adopted == set(live) and not skipped

    # a delta delete over the special-name graphs: w = 0 markers for a
    # key the upsert above just wrote and for a key of the base commit
    batch = []
    for g in SPECIAL:
        keys = [(1, 2), (2, 3)]
        model.delete(g, keys)
        batch += [(g, s, d) for s, d in keys]
    adopted, skipped = eng.merge_edges(spark.createDataFrame(
        batch, "graph string, src int, dst int"), delete=True, mode="delta")
    assert adopted == set(SPECIAL) and not skipped

    # an append after the delta delete re-inserts a deleted key: it
    # lands after the delete marker in the chain, so it reads back
    batch = [(g, 1, 2) for g in SPECIAL]
    for g in SPECIAL:
        model.append(g, [(1, 2)])
    assert eng.append_edges(spark.createDataFrame(
        batch, "graph string, src int, dst int")) is True

    # an append of a key the graph already holds, then a delta upsert of
    # that key, which collapses the two base rows into one
    g = plain[1]
    key = sorted(model.edges[g])[0]
    assert eng.append_edges(spark.createDataFrame(
        [(g, *key)], "graph string, src int, dst int")) is True
    eng.merge_edges(spark.createDataFrame(
        [(g, *key, 4)], "graph string, src int, dst int, w int"),
        mode="delta")
    model.merge(g, [key])

    # a vertex delta: a typed-property row for a vid new to the graph
    g = plain[2]
    vid = max(model.verts[g]) + 1
    eng.set_vertex_props(spark.createDataFrame(
        [(g, vid, "new")], "graph string, vid int, tag string"),
        mode="delta")
    model.add_vertices(g, [vid])

    # the two sides of the local-traversal cap, on chains with no delta
    for g, n in ((AT_CAP, 100), (OVER_CAP, 101)):
        edges = {(i, j) for i in range(1, n + 1) for j in range(1, n + 1)}
        eng.add_graph(g, _matrix(n, edges))
        model.put(g, n, edges)
    assert len(model.edges[AT_CAP]) == LOCAL_EDGE_ROWS
    assert len(model.edges[OVER_CAP]) > LOCAL_EDGE_ROWS
    return eng, model


@pytest.fixture(scope="module", params=[None, BUCKETS],
                ids=["flat", "bucketed"])
def store(request, spark, tmp_path_factory):
    return _build(spark, tmp_path_factory.mktemp("single"), request.param)


@contextlib.contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _job_descriptions(sc, group: str) -> list[str]:
    """Descriptions of every job the group ran, once the listener bus
    has delivered their events to the status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        desc = jsc.statusStore().job(job_id).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


def _sorted_rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _check_graph(eng, model, sc, g: str) -> dict[str, int]:
    """Run every single-graph read of ``g`` against the model; returns
    the number of Spark jobs each op ran."""
    edges = model.edges[g]
    checks = {
        "edges": (lambda: _sorted_rows(eng.edges(g), "src", "dst", "graph"),
                  sorted((s, d, g) for s, d in edges)),
        "vertices": (lambda: _sorted_rows(eng.vertices(g), "vid", "graph"),
                     sorted((v, g) for v in model.verts[g])),
        "meta": (lambda: _sorted_rows(eng.snapshot().meta(g), "n", "graph"),
                 sorted((n, g) for n in model.meta[g])),
        "bfs": (lambda: _sorted_rows(eng.bfs(g, 1), "vertex", "level"),
                sorted(bfs_levels(edges, 1).items())),
        "dfs_leaves": (lambda: _sorted_rows(eng.dfs_leaves(g, 1), "leaf"),
                       [(v,) for v in dfs_leaves(edges, 1)]),
    }
    jobs = {}
    for op, (run, want) in checks.items():
        group = f"single-graph-{op}-{g}"
        with _job_group(sc, group):
            got = run()
        assert got == want, (op, g)
        descs = _job_descriptions(sc, group)
        if op in ("bfs", "dfs_leaves") and g != OVER_CAP:
            # in the envelope the graph is read and traversed on the
            # driver, so the no-listing check below holds trivially
            assert not descs, (op, g, descs)
        else:
            assert descs, (op, g, "no job was tagged with the group")
        listing = [d for d in descs if d.startswith(LISTING)]
        assert not listing, (op, g, listing)
        jobs[op] = len(descs)
    return jobs


def test_single_graph_reads(spark, store):
    eng, model = store
    sc = spark.sparkContext
    assert len(model.edges) >= 40
    jobs = {g: _check_graph(eng, model, sc, g) for g in sorted(model.edges)}
    # one row over the cap, bfs runs the Pregel superstep loop, while
    # dfs_leaves still collects the graph in one read
    assert jobs[OVER_CAP]["bfs"] > MAX_SPARK_JOBS, jobs[OVER_CAP]
    assert jobs[OVER_CAP]["dfs_leaves"] <= MAX_SPARK_JOBS, jobs[OVER_CAP]


def test_driver_read_matches_spark_read(spark, store):
    """For every graph, the driver-side read returns the multiset of
    rows the Spark read of the same snapshot returns, merge-on-read
    included, and runs no Spark job. ``K101`` is over the edge cap and
    gets None, so its traversals take the Spark read."""
    eng, model = store
    sc = spark.sparkContext
    snap = eng.snapshot()
    assert sorted(snap.graphs()) == sorted(model.edges)
    for g in snap.graphs():
        group = f"driver-read-{g}"
        with _job_group(sc, group):
            edges, vids = snap.local_edges(g), snap.local_vertices(g)
        assert not _job_descriptions(sc, group), g
        assert [(v,) for v in sorted(vids)] == _sorted_rows(
            snap.vertices(g), "vid"), g
        if g == OVER_CAP:
            assert edges is None
            continue
        assert sorted(edges) == _sorted_rows(snap.edges(g), "src", "dst"), g
    assert snap.local_edges("no such graph") == []


def test_over_budget_graph_takes_the_spark_read(store, monkeypatch):
    """A graph whose files are longer than LOCAL_READ_BYTES is not
    fetched: the driver-side read gets None and bfs runs Pregel over
    the Spark read, to the same levels."""
    eng, model = store
    monkeypatch.setattr(engine_mod, "LOCAL_READ_BYTES", 1)
    assert eng.snapshot().local_edges("G#1") is None
    assert _sorted_rows(eng.bfs("G#1", 1), "vertex", "level") == sorted(
        bfs_levels(model.edges["G#1"], 1).items())


def test_dfs_leaves_vertex_guard(store, monkeypatch):
    """A graph with more source vertices than MAX_DFS_VERTICES raises
    instead of being traversed."""
    eng, _ = store
    monkeypatch.setattr(dfs_mod, "MAX_DFS_VERTICES", 99)
    with pytest.raises(ValueError, match="canonical-DFS envelope"):
        eng.dfs_leaves(AT_CAP, 1)
    assert eng.dfs_leaves(EMPTY, 1).collect() == [(1,)]


def test_multi_graph_and_catalog_reads(store):
    """Explicit lists whose graphs have no rows in some commits (no
    partition dir there), and whole-catalog reads, return exactly the
    model's rows."""
    eng, model = store
    snap = eng.snapshot()
    plain = _plain_names()
    # plain[0] has no edge dir in the ingest commit; no graph has a
    # vertex or meta dir in the append commit; the delta merge wrote
    # vertex dirs for only every other graph
    pick = [plain[0], plain[1], plain[2], "G#1", EMPTY]
    assert _sorted_rows(snap.edges(pick), "src", "dst", "graph") == sorted(
        (s, d, g) for g in pick for s, d in model.edges[g])
    assert _sorted_rows(snap.vertices(pick), "vid", "graph") == sorted(
        (v, g) for g in pick for v in model.verts[g])
    assert _sorted_rows(snap.meta(pick), "n", "graph") == sorted(
        (n, g) for g in pick for n in model.meta[g])
    assert _sorted_rows(snap.edges(), "src", "dst", "graph") == sorted(
        (s, d, g) for g, es in model.edges.items() for s, d in es)
    want = sorted((g, v, lvl) for g, es in model.edges.items()
                  if 1 in model.verts[g]
                  for v, lvl in bfs_levels(es, 1).items())
    assert _sorted_rows(eng.bfs_all(1), "graph", "vertex", "level") == want

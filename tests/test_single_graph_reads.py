"""One-graph requests read only that graph's partition dirs.

The store below has more partition dirs per commit than Spark's
parallel-listing threshold (32), in both the flat (``graph=<name>``)
and the bucketed (``gb=<bucket>``) layout. A read of such a commit dir
starts with a distributed "Listing leaf files" job, one task per dir;
a one-graph read must not run it. Every result is checked against a
pure-Python model of the store, which shares no code with the engine.
"""

import contextlib
import random
import zlib

import pytest

from graphdatabase_spark.engine import GraphEngine

LISTING = "Listing leaf files"
BUCKETS = 64
N_PLAIN = 36          # one ingest commit with 36 partition dirs
SPECIAL = ("G#1", "G 2", "a=b", "ü")   # names the writer percent-escapes
EMPTY = "Z0"          # an N = 0 graph


# -- oracle ------------------------------------------------------------------

def bfs_levels(edges, start: int) -> dict[int, int]:
    """Minimum hop count from ``start`` to every reachable vertex."""
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    levels = {start: 0}
    frontier = [start]
    while frontier:
        nxt = []
        for v in frontier:
            for w in adj.get(v, ()):
                if w not in levels:
                    levels[w] = levels[v] + 1
                    nxt.append(w)
        frontier = nxt
    return levels


def dfs_leaves(edges, start: int) -> list[int]:
    """Leaves of the canonical DFS tree from ``start``: neighbours in
    ascending order; a vertex is a leaf when every neighbour it checks
    is already visited."""
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    visited = {start}
    leaves = []
    stack = [[start, iter(sorted(adj.get(start, ()))), False]]
    while stack:
        frame = stack[-1]
        for w in frame[1]:
            if w not in visited:
                frame[2] = True
                visited.add(w)
                stack.append([w, iter(sorted(adj.get(w, ()))), False])
                break
        else:
            stack.pop()
            if not frame[2]:
                leaves.append(frame[0])
    return sorted(leaves)


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


def _check_graph(eng, model, sc, g: str) -> None:
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
    for op, (run, want) in checks.items():
        group = f"single-graph-{op}-{g}"
        with _job_group(sc, group):
            got = run()
        assert got == want, (op, g)
        descs = _job_descriptions(sc, group)
        assert descs, (op, g, "no job was tagged with the group")
        listing = [d for d in descs if d.startswith(LISTING)]
        assert not listing, (op, g, listing)


def test_single_graph_reads(spark, store):
    eng, model = store
    sc = spark.sparkContext
    assert len(model.edges) >= 40
    for g in sorted(model.edges):
        _check_graph(eng, model, sc, g)


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

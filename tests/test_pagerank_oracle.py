"""PageRank, float and scaled-int64, against the pure-Python power
iteration in ``tests/oracle.py``, which imports nothing from the
package.

The graphs hold every case the update rule treats apart: a dangling
vertex, a self-loop, an edge stored twice, an isolated vertex and an
edgeless graph. The store holds graphs of different sizes, so mass
leaking from one graph into another would shift every rank.
"""

import pytest

from graphdatabase_spark.engine import GraphEngine
from graphdatabase_spark.operators import pregel

from tests import oracle

ITERATIONS = 5
SCALE = 10**9
# 3 has a self-loop, 4 -> 1 is stored twice, 5 is dangling, 6 is isolated
EDGES = [(1, 2), (1, 3), (2, 3), (2, 5), (3, 3), (3, 1), (4, 1), (4, 1)]
VERTS = [1, 2, 3, 4, 5, 6]
SOURCES = [2, 4]
# name -> (matrix text, edges appended afterwards)
GRAPHS = {
    "A": ("6\n0 1 1 0 0 0\n0 0 1 0 1 0\n1 0 1 0 0 0\n"
          "1 0 0 0 0 0\n0 0 0 0 0 0\n0 0 0 0 0 0\n", [(4, 1)]),
    "B": ("3\n0 1 0\n0 0 1\n1 0 0\n", [(2, 4)]),
    "E": ("2\n0 0\n0 0\n", []),
}


def _rows(df, col):
    return {r["vid"]: r[col] for r in df.collect()}


def _graph(name):
    text, appended = GRAPHS[name]
    lines = text.split("\n")
    n = int(lines[0])
    edges = [(i + 1, j + 1) for i in range(n)
             for j, c in enumerate(lines[1 + i].split()) if c == "1"]
    edges += appended
    verts = set(range(1, n + 1)) | {v for e in appended for v in e}
    return edges, verts


def _close(got, want, tol=1e-9):
    assert got.keys() == want.keys()
    for v, r in want.items():
        assert abs(got[v] - r) < tol, (v, got[v], r)


@pytest.fixture(scope="module")
def frames(spark):
    return (spark.createDataFrame(EDGES, "src long, dst long"),
            spark.createDataFrame([(v,) for v in VERTS], "vid long"))


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    eng = GraphEngine(spark, str(tmp_path_factory.mktemp("pr") / "store"))
    for name, (text, _) in GRAPHS.items():
        eng.add_graph(name, text)
    eng.append_edges(spark.createDataFrame(
        [(g, s, d) for g, (_, app) in GRAPHS.items() for s, d in app],
        "graph string, src int, dst int"))
    return eng


def test_float_kernel(frames):
    got = _rows(pregel.pagerank(*frames, iterations=ITERATIONS), "rank")
    _close(got, oracle.pagerank(EDGES, VERTS, ITERATIONS))


def test_quantized_kernel(frames):
    got = _rows(pregel.pagerank(*frames, iterations=ITERATIONS, scale=SCALE),
                "rank_q")
    assert got == oracle.pagerank(EDGES, VERTS, ITERATIONS, SCALE)


def test_personalized_kernel(frames):
    got = _rows(pregel.pagerank(*frames, iterations=ITERATIONS, scale=SCALE,
                                sources=SOURCES), "rank_q")
    assert got == oracle.pagerank(EDGES, VERTS, ITERATIONS, SCALE, SOURCES)


def test_pagerank_all_quantized(store):
    got = {}
    for r in store.pagerank_all_quantized(iterations=ITERATIONS).collect():
        got.setdefault(r["graph"], {})[r["vid"]] = r["rank_q"]
    assert got.keys() == GRAPHS.keys()
    for name in GRAPHS:
        assert got[name] == oracle.pagerank(*_graph(name), ITERATIONS,
                                            SCALE), name


def test_pagerank_all(store):
    got = {}
    for r in store.pagerank_all(iterations=ITERATIONS).collect():
        got.setdefault(r["graph"], {})[r["vid"]] = r["rank"]
    assert got.keys() == GRAPHS.keys()
    for name in GRAPHS:
        _close(got[name], oracle.pagerank(*_graph(name), ITERATIONS))


def test_personalized_pagerank(store):
    got = _rows(store.personalized_pagerank("A", SOURCES,
                                            iterations=ITERATIONS), "rank_q")
    assert got == oracle.pagerank(*_graph("A"), ITERATIONS, SCALE, SOURCES)

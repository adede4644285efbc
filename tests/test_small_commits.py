"""Edge batches of at most ``LOCAL_EDGE_ROWS`` rows, and matrices of
at most that many cells, commit from the driver.

An append or a delta merge whose batch fits the cap reads it in one
bounded read, checks it on the driver, reads the touched graphs' known
vertex ids on the driver and writes its Parquet files without a Spark
job, so the commit runs at most one job and leaves no ``_SUCCESS``
marker. One row more and the batch takes the distributed
write. An ``add_graph`` / ``modify_graph`` of N ≤ 100 vertices parses
its text on the driver and runs no job; N = 101 takes the Spark melt.
On both sides of the caps, in the flat and the bucketed layout, every
commit must read back what the store model in ``tests/oracle.py``
says, and malformed input must raise on either path before any file
lands; so must a malformed matrix that takes the Spark melt, from
``add_graph`` or ``ingest_dir``.
"""

import contextlib
import math
import os

import pytest
from pyspark.errors import NumberFormatException

from graphdatabase_spark.engine import LOCAL_EDGE_ROWS, GraphEngine

from tests.oracle import StoreModel, bfs_levels

BUCKETS = 8
MAX_LOCAL_JOBS = 1
MATRIX_CAP = math.isqrt(LOCAL_EDGE_ROWS)   # N = 100: N x N cells
BASE = "A"       # a graph the store has before any batch
NEW = "B#1"      # a graph the first append creates; the writer escapes it
UNKNOWN = "Z"    # a graph only the delete batch names


def _rows(size: int, salt: int, graphs=(BASE, NEW)) -> list[tuple]:
    """``size`` rows ``(graph, src, dst, w)`` spread over ``graphs``,
    with distinct keys per graph; ``salt`` shifts the keys and weights,
    so batches with different salts share some keys."""
    out = []
    for i in range(size):
        g, k = graphs[i % len(graphs)], i // len(graphs)
        out.append((g, 1 + k % 80, 1 + (k // 80 + salt) % 90,
                    1 + (k + salt) % 5))
    return out


@contextlib.contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs(sc, group: str) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _files(root) -> int:
    return sum(len(names) for _d, _s, names in os.walk(root / "data"))


def _check(eng, model: StoreModel) -> None:
    snap = eng.snapshot()
    got = snap.weighted_edges().select("graph", "src", "dst", "w").collect()
    assert sorted(map(tuple, got)) == sorted(
        (g, s, d, w) for g, es in model.edges.items() for s, d, w in es)
    got = snap.vertices().select("graph", "vid").collect()
    assert sorted(map(tuple, got)) == sorted(
        (g, v) for g, vs in model.verts.items() for v in vs)
    got = snap.meta().select("graph", "n").collect()
    assert sorted(map(tuple, got)) == sorted(
        (g, n) for g, ns in model.meta.items() for n in ns)


def _store(spark, root, buckets):
    eng = GraphEngine(spark, str(root / "store"), buckets=buckets)
    model = StoreModel()
    eng.add_graph(BASE, "4\n0 1 0 0\n0 0 1 0\n0 0 0 1\n1 0 0 0\n")
    model.put(BASE, 4, [(1, 2), (2, 3), (3, 4), (4, 1)])
    return eng, model


@pytest.mark.parametrize("size", [LOCAL_EDGE_ROWS, LOCAL_EDGE_ROWS + 1],
                         ids=["at_cap", "over_cap"])
@pytest.mark.parametrize("buckets", [None, BUCKETS], ids=["flat", "bucketed"])
def test_edge_commits_either_side_of_the_cap(spark, tmp_path, buckets, size):
    eng, model = _store(spark, tmp_path, buckets)
    sc = spark.sparkContext
    local = size <= LOCAL_EDGE_ROWS
    schema = "graph string, src int, dst int, w int"
    appended = _rows(size, 0)
    upserted = _rows(size, 3)
    deleted = [r[:3] for r in _rows(size, 5, (BASE, NEW, UNKNOWN))]
    steps = [
        ("append", lambda: eng.append_edges(
            spark.createDataFrame(appended, schema)),
         True, lambda: model.append(appended)),
        ("upsert", lambda: eng.merge_edges(
            spark.createDataFrame(upserted, schema), mode="delta"),
         ({BASE, NEW}, set()), lambda: model.upsert(upserted)),
        ("delete", lambda: eng.merge_edges(
            spark.createDataFrame(deleted, "graph string, src int, dst int"),
            delete=True, mode="delta"),
         ({BASE, NEW}, set()), lambda: model.delete(deleted)),
    ]
    for op, run, want, apply in steps:
        group = f"small-commit-{op}-{buckets}-{size}"
        with _job_group(sc, group):
            assert run() == want, op
        apply()
        _check(eng, model)
        cid = eng.manifests.load()["commit"]
        commit = tmp_path / "store" / "data" / "edges" / f"c={cid}"
        if local:
            assert _jobs(sc, group) <= MAX_LOCAL_JOBS, op
            # the driver wrote the files, and every table has its dir
            assert not (commit / "_SUCCESS").exists(), op
            for table in ("vertices", "meta"):
                assert (commit.parent.parent / table / f"c={cid}").is_dir()
        else:
            assert (commit / "_SUCCESS").exists(), op


@pytest.mark.parametrize("buckets", [None, BUCKETS], ids=["flat", "bucketed"])
def test_malformed_batches_raise_before_any_file(spark, tmp_path, buckets):
    eng, _ = _store(spark, tmp_path, buckets)
    schema = "graph string, src int, dst int, w int"
    ops = {
        "append": eng.append_edges,
        "delta": lambda df: eng.merge_edges(df, mode="delta"),
        "cow": eng.merge_edges,
    }
    bad_rows = {
        "weights >= 1": [(BASE, 1, 2, 0), (BASE, 1, 2, None)],
        "non-NULL": [(BASE, None, 2, 1), (BASE, 1, None, 1)],
    }
    seq = eng.manifests.load()["seq"]
    files = _files(tmp_path / "store")
    for size in (3, LOCAL_EDGE_ROWS + 1):
        for match, rows in bad_rows.items():
            for bad in rows:
                batch = spark.createDataFrame(_rows(size - 1, 0) + [bad],
                                              schema)
                for name, op in ops.items():
                    with pytest.raises(ValueError, match=match):
                        op(batch)
                    assert _files(tmp_path / "store") == files, (name, bad)
    assert eng.manifests.load()["seq"] == seq


@pytest.mark.parametrize("buckets", [None, BUCKETS], ids=["flat", "bucketed"])
def test_replayed_commit_id_after_crash_at_cas(spark, tmp_path, buckets):
    """A writer that lands commit ``x``'s files and dies at the manifest
    CAS publishes nothing, so a replay of the batch under the same
    commit id must commit. The replay replaces the orphan's dirs
    whole: here a write in between makes the new graph's vertices
    known, so the replay writes no vertices or meta for it, and the
    orphan's rows for it must not survive beside the replay's."""
    eng, model = _store(spark, tmp_path, buckets)
    schema = "graph string, src int, dst int, w int"
    batch = [(BASE, 5, 6, 1), (NEW, 1, 2, 1)]

    class _DieAtCas(Exception):
        pass

    class FailingLog:
        load = eng.manifests.load

        def commit(self, update, **kw):
            raise _DieAtCas()

    crashed = GraphEngine(spark, str(tmp_path / "store"), buckets=buckets)
    crashed.manifests = FailingLog()
    with pytest.raises(_DieAtCas):
        crashed.append_edges(spark.createDataFrame(batch, schema),
                             commit_id="x")
    between = [(NEW, 1, 2, 3)]
    assert eng.append_edges(spark.createDataFrame(between, schema))
    model.append(between)
    assert eng.append_edges(spark.createDataFrame(batch, schema),
                            commit_id="x", txn_app="app", txn_version=0)
    model.append(batch)
    _check(eng, model)


def _matrix(n: int, edges) -> str:
    cells = [["0"] * n for _ in range(n)]
    for s, d in edges:
        cells[s - 1][d - 1] = "1"
    return "\n".join([str(n)] + [" ".join(row) for row in cells]) + "\n"


def _graph_edges(n: int) -> list[tuple[int, int]]:
    """A ring over 1..n with a chord from every seventh vertex."""
    return sorted({(v, v % n + 1) for v in range(1, n + 1)}
                  | {(v, 3 * v % n + 1) for v in range(1, n + 1, 7)})


@pytest.mark.parametrize("buckets", [None, BUCKETS], ids=["flat", "bucketed"])
def test_matrix_commits_either_side_of_the_cap(spark, tmp_path, buckets):
    eng, model = _store(spark, tmp_path, buckets)
    sc = spark.sparkContext
    steps = [
        ("add", NEW, MATRIX_CAP),
        ("add", "C", MATRIX_CAP + 1),
        ("add", "E", 0),
        ("modify", NEW, 3),          # shrinks B#1 from 100 vertices
        ("modify", "C", 2),          # over the cap before, driver now
    ]
    for op, g, n in steps:
        edges = _graph_edges(n) if n else []
        run = eng.add_graph if op == "add" else eng.modify_graph
        group = f"matrix-commit-{op}-{g}-{n}-{buckets}"
        with _job_group(sc, group):
            run(g, _matrix(n, edges))
        model.put(g, n, edges)
        _check(eng, model)
        got = eng.edges(g).select("src", "dst").collect()
        assert sorted(map(tuple, got)) == edges, (op, g)
        got = eng.bfs(g, 1).collect()
        assert dict(map(tuple, got)) == bfs_levels(edges, 1), (op, g)
        cid = eng.manifests.load()["commit"]
        commit = tmp_path / "store" / "data" / "edges" / f"c={cid}"
        if n <= MATRIX_CAP:
            assert _jobs(sc, group) == 0, (op, g)
            for table in ("edges", "vertices", "meta"):
                tdir = commit.parent.parent / table / f"c={cid}"
                assert tdir.is_dir() and not (tdir / "_SUCCESS").exists()
        else:
            assert (commit / "_SUCCESS").exists(), (op, g)


@pytest.mark.parametrize("buckets", [None, BUCKETS], ids=["flat", "bucketed"])
def test_malformed_matrix_raises_before_any_file(spark, tmp_path, buckets):
    eng, _ = _store(spark, tmp_path, buckets)
    seq = eng.manifests.load()["seq"]
    files = _files(tmp_path / "store")
    bad = ["2\n0 x\n1 0\n",           # a cell Spark's cast rejects
           "2\n0 1 x\n1 0\n",         # past column N, still checked
           "2\n0 1_0\n1 0\n",         # int() would take it
           "2\n0 \u0663\n1 0\n",      # a non-ASCII digit
           "2\n0 2147483648\n1 0\n",  # over int32
           "2\r\n0 1\r\n1 0\r\n",      # CRLF: an empty last cell
           "x\n0 1\n1 0\n"]           # line 0
    for text in bad:
        for g in (BASE, NEW):
            with pytest.raises(ValueError, match="32-bit integer"):
                eng.modify_graph(g, text)
            assert _files(tmp_path / "store") == files, (g, text)
    assert eng.manifests.load()["seq"] == seq


@pytest.mark.parametrize("buckets", [None, BUCKETS], ids=["flat", "bucketed"])
def test_malformed_spark_melt_raises_before_any_file(spark, tmp_path, buckets):
    """An over-cap matrix and a directory ingest take the Spark melt,
    whose edges write casts every cell: it must fail before the
    vertices and meta files of the commit land."""
    eng, _ = _store(spark, tmp_path, buckets)
    seq = eng.manifests.load()["seq"]
    files = _files(tmp_path / "store")
    n = MATRIX_CAP + 1
    cells = [["1"] * n for _ in range(n)]
    cells[n // 2][3] = "x"
    text = "\n".join([str(n)] + [" ".join(row) for row in cells]) + "\n"
    with pytest.raises(NumberFormatException, match="CAST_INVALID_INPUT"):
        eng.add_graph(NEW, text)
    assert _files(tmp_path / "store") == files
    inputs = tmp_path / "inputs"
    inputs.mkdir()
    (inputs / "good.txt").write_text(_matrix(3, _graph_edges(3)))
    (inputs / "bad.txt").write_text("2\n0 1\n1 y\n")
    with pytest.raises(NumberFormatException, match="CAST_INVALID_INPUT"):
        eng.ingest_dir(str(inputs))
    assert _files(tmp_path / "store") == files
    assert eng.manifests.load()["seq"] == seq

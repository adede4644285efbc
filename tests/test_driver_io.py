"""The driver's own IO on a single-graph request.

A request within the reference's envelope runs no Spark job, so what it
costs is driver work: its Py4J commands and the files it lands. The
leaf dir names are escaped in Python, and must equal Spark's own
escaper's. On a store whose FileSystem is the local one, the driver
lands its files by Python file IO instead of Hadoop's ``create``; the
tree it leaves (names, bytes, ``.crc`` sidecars and mode bits) must be
the one Hadoop leaves, and Hadoop must still reject a file whose bytes
no longer match its sidecar. The command counts pin what a request
asks of the JVM.
"""

import glob
import os
import stat

import pyarrow as pa
import pytest

from graphdatabase_spark import engine as engine_mod
from graphdatabase_spark.engine import GraphEngine
from graphdatabase_spark.sources import matrix as matrix_mod

from tests.conftest import py4j_commands

SPECIAL = ("G#1", "G 2", "a=b", "ü")   # names the writer percent-escapes
MAX_REQUEST_COMMANDS = 20   # an in-envelope bfs or dfs_leaves, with collect
MAX_SPARSE_CHAIN_COMMANDS = 15   # local_vertices, a chain missing a leaf


def _ring(n: int) -> str:
    """Matrix text of an ``n``-vertex graph with edges i -> i+1 and
    i -> 2i (1-indexed, mod n); its edge file spans several checksum
    chunks once ``n`` is a few dozen."""
    cells = [[0] * n for _ in range(n)]
    for i in range(n):
        cells[i][(i + 1) % n] = 1 + i % 7
        cells[i][(2 * i + 1) % n] = 1
    return f"{n}\n" + "".join(" ".join(map(str, r)) + "\n" for r in cells)


GRAPHS = {"A": _ring(3), "K": _ring(60), "E": "0\n",
          **{g: _ring(4) for g in SPECIAL}}


def _tables(names) -> list[pa.Table]:
    """The edges, vertices and meta tables of ``names``, as one
    ``add_graph`` of each would stage them."""
    per = [matrix_mod.matrix_tables(g, GRAPHS[g]) for g in names]
    return [pa.concat_tables(t) for t in zip(*per)]


def _tree(root) -> dict[str, tuple[int, bytes | None]]:
    """Every dir and file under ``root``: its mode bits, and a file's
    bytes."""
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            mode = os.stat(path).st_mode
            data = None
            if not stat.S_ISDIR(mode):
                with open(path, "rb") as f:
                    data = f.read()
            out[os.path.relpath(path, root)] = (stat.S_IMODE(mode), data)
    return out


def test_escape_matches_spark(spark):
    """The Python escape gives the partition dir name Spark's
    ``ExternalCatalogUtils.escapePathName`` gives."""
    escape = (spark._jvm.org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.escapePathName)
    names = [*map(chr, range(0x300)), "\U0001F600", "", *SPECIAL]
    assert ([engine_mod._escape_path_name(n) for n in names]
            == [escape(n) for n in names])


@pytest.mark.parametrize("buckets", [None, 8])
def test_local_landing_equals_hadoop_landing(spark, tmp_path, monkeypatch,
                                             buckets):
    """One commit landed through each branch of ``_driver_write`` leaves
    the same tree: names, bytes, ``.crc`` bytes and mode bits, the
    empty-rows ``c=<cid>`` included. Each branch first lands a stale
    graph under the commit id, which the replay must replace whole.
    The Python process runs under a stricter umask than Hadoop's conf,
    so the modes must come from the conf."""
    trees = []
    umask = os.umask(0o077)
    try:
        for branch in ("python", "hadoop"):
            eng = GraphEngine(spark, str(tmp_path / branch / "store"))
            if branch == "hadoop":
                monkeypatch.setattr(eng._fs, "local", None)
            else:
                assert eng._fs.local is not None
            for table, rows in zip(("edges", "vertices", "meta"),
                                   _tables(["A"])):
                eng._driver_write(rows, table, "c0ffee", buckets)
            tables = _tables(GRAPHS)
            for table, rows in zip(("edges", "vertices", "meta"), tables):
                eng._driver_write(rows, table, "c0ffee", buckets)
            eng._driver_write(tables[0].slice(0, 0), "edges", "0empty",
                              buckets)
            trees.append(_tree(tmp_path / branch / "store"))
    finally:
        os.umask(umask)
    python, hadoop = trees
    assert python == hadoop
    sidecars = [p for p in python if p.endswith(".crc")]
    assert len(sidecars) == len([p for p in python
                                 if p.endswith(".parquet")]) > 0
    assert os.path.join("data", "edges", "c=0empty") in python
    if not buckets:
        leaves = {p.split(os.sep)[3] for p in python if p.count(os.sep) >= 3}
        assert "graph=G%231" in leaves


def test_flipped_byte_fails_both_reads(spark, tmp_path):
    """A driver-landed edge file whose bytes no longer match its
    ``.crc`` sidecar fails the Spark read and the driver-side read."""
    eng = GraphEngine(spark, str(tmp_path / "store"))
    eng.add_graph("K", GRAPHS["K"])
    assert sorted(eng.snapshot().local_edges("K")) == sorted(
        (r["src"], r["dst"]) for r in eng.edges("K").collect())
    [path] = glob.glob(str(tmp_path / "store" / "data" / "edges" / "c=*"
                           / "graph=K" / "*.parquet"))
    with open(path, "r+b") as f:
        data = bytearray(f.read())
        data[len(data) // 2] ^= 0xFF
        f.seek(0)
        f.write(data)
    snap = eng.snapshot()
    with pytest.raises(Exception, match="Checksum"):
        snap.edges("K").collect()
    with pytest.raises(Exception, match="Checksum"):
        snap.local_edges("K")


def test_request_py4j_commands(spark, tmp_path):
    """What a request asks of the JVM once the engine's JVM members are
    resolved: an in-envelope ``bfs`` or ``dfs_leaves`` with its
    ``collect`` at most ``MAX_REQUEST_COMMANDS``, a ``modify_graph`` of
    N <= 100 on a local store none, and ``local_vertices`` on a chain
    whose append wrote no vertices leaf at most
    ``MAX_SPARSE_CHAIN_COMMANDS``."""
    eng = GraphEngine(spark, str(tmp_path / "store"))
    eng.add_graph("K", GRAPHS["K"])
    eng.add_graph("C", GRAPHS["A"])
    eng.append_edges(spark.createDataFrame(
        [("C", 1, 3)], "graph string, src int, dst int"))
    requests = {"bfs": lambda: eng.bfs("K", 1).collect(),
                "dfs_leaves": lambda: eng.dfs_leaves("K", 1).collect(),
                "modify_graph": lambda: eng.modify_graph("K", GRAPHS["K"])}
    for call in requests.values():
        call()   # resolves the engine's JVM members
    want = {"bfs": MAX_REQUEST_COMMANDS, "dfs_leaves": MAX_REQUEST_COMMANDS,
            "modify_graph": 0}
    for name, call in requests.items():
        with py4j_commands(spark) as sent:
            call()
        assert sent[0] <= want[name], (name, sent[0])
    snap = eng.snapshot()
    assert len(snap.manifest["graphs"]["C"]) == 2
    with py4j_commands(spark) as sent:
        assert sorted(snap.local_vertices("C")) == [1, 2, 3]
    assert sent[0] <= MAX_SPARSE_CHAIN_COMMANDS

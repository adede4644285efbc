"""Metadata-store interface: the manifest commit log behind pluggable
blob storage (metastore.py), and the engine's multi-writer behavior on
top of it.

The reference serializes ALL writes through one primary server holding
per-graph RW locks (primary_server.c:110-146); the Spark-first store
replaces that with optimistic CAS appends to the manifest log, so these
tests pin the property the lock provided — two concurrent writers can
never clobber each other's state — under real contention."""

import json
import threading

import pytest

from graphdatabase_spark import metastore
from graphdatabase_spark.engine import GraphEngine
from graphdatabase_spark.metastore import (InMemoryManifestStore, ManifestLog,
                                           PosixManifestStore, manifest_name,
                                           parse_seq)


# -- blob-store contract ---------------------------------------------------


class _FakeClientError(Exception):
    """Shaped like botocore.exceptions.ClientError: carries the service
    error code under response['Error']['Code']."""

    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class FakeS3Client:
    """Minimal boto3-S3 double honoring the conditional-put API shape
    the S3ManifestStore adapter depends on: ``put_object`` with
    ``IfNoneMatch='*'`` raises 412 PreconditionFailed on an existing
    key (atomic under the lock, like the service), ``get_object``
    raises NoSuchKey, ``list_objects_v2`` paginates 2 keys at a time
    so the adapter's page walk is actually exercised."""

    def __init__(self):
        self._objects = {}
        self._lock = threading.Lock()
        self.conflict_once = set()  # keys that fake one 409 response

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        assert IfNoneMatch == "*", "adapter must always put conditionally"
        with self._lock:
            if Key in self.conflict_once:
                self.conflict_once.discard(Key)
                raise _FakeClientError("ConditionalRequestConflict")
            if Key in self._objects:
                raise _FakeClientError("PreconditionFailed")
            self._objects[Key] = bytes(Body)
        return {}

    def get_object(self, Bucket, Key):
        import io

        with self._lock:
            if Key not in self._objects:
                raise _FakeClientError("NoSuchKey")
            return {"Body": io.BytesIO(self._objects[Key])}

    def delete_object(self, Bucket, Key):
        with self._lock:
            self._objects.pop(Key, None)
        return {}

    def get_paginator(self, op):
        assert op == "list_objects_v2"
        objects, lock = self._objects, self._lock

        class _Paginator:
            def paginate(self, Bucket, Prefix=""):
                with lock:
                    keys = sorted(k for k in objects if k.startswith(Prefix))
                if not keys:
                    yield {}  # S3 omits Contents on an empty page
                for i in range(0, len(keys), 2):
                    yield {"Contents": [{"Key": k} for k in keys[i:i + 2]]}

        return _Paginator()


@pytest.mark.parametrize("make_store", [
    lambda tmp: PosixManifestStore(str(tmp / "m")),
    lambda tmp: InMemoryManifestStore(),
    lambda tmp: metastore.S3ManifestStore(
        "bucket", "stores/g1/manifests", client=FakeS3Client()),
], ids=["posix", "memory", "s3"])
def test_put_if_absent_is_conditional(tmp_path, make_store):
    store = make_store(tmp_path)
    assert store.put_if_absent("000000000001.json", b'{"a": 1}') is True
    assert store.put_if_absent("000000000001.json", b'{"a": 2}') is False
    # the loser's content must not have replaced the winner's
    assert store.get("000000000001.json") == b'{"a": 1}'
    assert store.list() == ["000000000001.json"]
    store.delete("000000000001.json")
    store.delete("000000000001.json")  # deleting an absent name is a no-op
    assert store.list() == []


def test_hadoopfs_store_contract(spark, tmp_path):
    """The Hadoop-filesystem adapter honors the same blob contract as
    the POSIX/in-memory stores, exercised here through the real Hadoop
    FileSystem API on the ``file:`` scheme (the same code path serves
    hdfs:// and abfs:// deployments)."""
    store = metastore.HadoopFsManifestStore(spark, f"file:{tmp_path}/m")
    assert store.list() == []  # virgin store lists empty, no raise
    with pytest.raises(FileNotFoundError):
        store.get("000000000001.json")
    assert store.put_if_absent("000000000001.json", b'{"a": 1}') is True
    assert store.put_if_absent("000000000001.json", b'{"a": 2}') is False
    assert store.get("000000000001.json") == b'{"a": 1}'
    assert store.list() == ["000000000001.json"]  # no .tmp-* residue
    store.delete("000000000001.json")
    store.delete("000000000001.json")  # absent delete is a no-op
    assert store.list() == []


def test_s3_store_contract_details(tmp_path):
    """S3-specific corners beyond the shared contract: virgin-store
    list, FileNotFoundError mapping, prefix scoping (keys land under
    the prefix, names come back bare), >2-key pagination, and the 409
    ConditionalRequestConflict arm mapping to a lost race."""
    client = FakeS3Client()
    store = metastore.S3ManifestStore("b", "tables/g/manifests/", client=client)
    assert store.list() == []
    with pytest.raises(FileNotFoundError):
        store.get("000000000001.json")
    for seq in range(1, 6):  # 5 keys → 3 pages of the 2-key paginator
        assert store.put_if_absent(manifest_name(seq), b"{}") is True
    assert store.list() == [manifest_name(s) for s in range(1, 6)]
    assert set(client._objects) == {
        f"tables/g/manifests/{manifest_name(s)}" for s in range(1, 6)}
    # a second store on a DIFFERENT prefix of the same bucket is disjoint
    other = metastore.S3ManifestStore("b", "tables/h/manifests", client=client)
    assert other.list() == []
    # 409: concurrent conditional write in flight → treated as lost race
    client.conflict_once.add("tables/g/manifests/" + manifest_name(9))
    assert store.put_if_absent(manifest_name(9), b"{}") is False
    assert store.put_if_absent(manifest_name(9), b"{}") is True  # retry lands
    # unexpected service errors propagate, never swallowed as False
    def boom(**kw):
        raise _FakeClientError("SlowDown")
    client.put_object = boom
    with pytest.raises(_FakeClientError):
        store.put_if_absent(manifest_name(10), b"{}")


def test_engine_runs_on_s3_contract_store(spark, tmp_path):
    """Full engine lifecycle with the commit log behind the S3
    conditional-put adapter (fake client): writes, merge-on-CAS, time
    travel, compact, vacuum — metadata round-trips through the
    list/get/put-if-absent/delete mapping onto S3 API calls."""
    store = metastore.S3ManifestStore("b", "g/manifests",
                                      client=FakeS3Client())
    eng = GraphEngine(spark, str(tmp_path / "s"), manifest_store=store)
    eng.add_graph("A", "2\n0 1\n0 0\n")
    eng.modify_graph("A", "3\n0 0 0\n0 0 0\n1 0 0\n")
    assert {(r["src"], r["dst"]) for r in eng.edges("A").collect()} == {(3, 1)}
    v1 = eng.snapshot(seq=1)
    assert {(r["src"], r["dst"]) for r in v1.edges("A").collect()} == {(1, 2)}
    eng.compact()
    eng.vacuum(force=True)
    with pytest.raises(FileNotFoundError):
        eng.snapshot(seq=1)
    assert {(r["src"], r["dst"]) for r in eng.edges("A").collect()} == {(3, 1)}


def test_posix_put_leaves_no_temp_litter(tmp_path):
    store = PosixManifestStore(str(tmp_path / "m"))
    store.put_if_absent("000000000001.json", b"{}")
    store.put_if_absent("000000000001.json", b"{}")  # losing attempt
    assert store.list() == ["000000000001.json"]  # no .tmp-* residue


def test_posix_put_race_has_exactly_one_winner(tmp_path):
    """8 threads race put_if_absent on the SAME manifest name: the
    hard-link gate must admit exactly one, and the surviving content
    must be the winner's (os.link is the POSIX conditional-put
    primitive — this is the actual kernel-level race, not the
    sequential contract check)."""
    store = PosixManifestStore(str(tmp_path / "m"))
    barrier = threading.Barrier(8)
    wins, errors = [], []

    def racer(i):
        try:
            barrier.wait(timeout=30)
            if store.put_if_absent("000000000001.json", b"%d" % i):
                wins.append(i)
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors
    assert len(wins) == 1
    assert store.get("000000000001.json") == b"%d" % wins[0]
    assert store.list() == ["000000000001.json"]  # no temp litter either


def test_manifest_names_parse_current_and_legacy():
    assert parse_seq(manifest_name(7)) == 7
    assert parse_seq("000000000002-ab12cd34ef56.json") == 2  # legacy layout
    assert parse_seq("junk.json") is None
    assert parse_seq("000000000002.json.tmp-abc") is None


# -- commit log ------------------------------------------------------------

def _body(cid, graphs):
    return lambda prev: {
        "commit": cid,
        "graphs": {**((prev or {}).get("graphs", {})), **graphs}}


def test_load_explicit_seq_on_virgin_store_raises(tmp_path):
    """snapshot(seq=N) on a store nothing has written must fail loudly,
    not silently serve an empty snapshot."""
    log = ManifestLog(PosixManifestStore(str(tmp_path / "m")))
    assert log.load() is None  # no-seq load: virgin store is not an error
    with pytest.raises(FileNotFoundError, match="seq 3"):
        log.load(seq=3)


def test_commit_retries_and_merges_on_lost_race():
    """The CAS loop end to end: writer A reads seq 1, then loses the
    put race to writer B; A must re-read B's manifest and re-apply its
    merge on top — the final manifest carries BOTH writers' graphs."""
    store = InMemoryManifestStore()
    log = ManifestLog(store)
    log.commit(_body("c1", {"G": "c1"}))                      # seq 1
    races = {"fired": False}

    def sneak_in_b(name):
        if not races["fired"]:
            races["fired"] = True
            ManifestLog(store).commit(_body("c2", {"H": "c2"}))  # B wins seq 2

    store.before_put = sneak_in_b
    doc = log.commit(_body("c3", {"G": "c3"}))                # A: lost, retried
    assert races["fired"]
    assert doc["seq"] == 3
    assert doc["graphs"] == {"G": "c3", "H": "c2"}            # merge, not clobber
    assert log.load() == doc


def test_commit_conflict_budget_exhausts_loudly():
    store = InMemoryManifestStore()
    log = ManifestLog(store)

    def always_beaten(name):
        # someone else always takes the seq first
        store.before_put = None
        ManifestLog(store).commit(_body("x", {"X": "x"}))
        store.before_put = always_beaten

    store.before_put = always_beaten
    with pytest.raises(metastore.CommitConflict):
        log.commit(_body("c", {"G": "c"}), max_attempts=3)


def test_log_vacuum_retention_window():
    log = ManifestLog(InMemoryManifestStore())
    for i in (1, 2, 3):
        log.commit(_body(f"c{i}", {f"G{i}": f"c{i}"}))
    with pytest.raises(ValueError):
        log.vacuum(keep_last=0)
    live = log.vacuum(keep_last=2)
    # seq 2 and 3 retained: their referenced commits are all live
    assert live == {"c1", "c2", "c3"}  # seq 3 still points G1→c1, G2→c2
    assert [s for s, _ in log.names()] == [2, 3]
    assert log.load(seq=2)["graphs"] == {"G1": "c1", "G2": "c2"}
    with pytest.raises(FileNotFoundError):
        log.load(seq=1)


# -- engine on the pluggable store -----------------------------------------

def test_engine_runs_on_conditional_put_store(spark, tmp_path):
    """The full engine lifecycle (write, read, time travel, compact,
    vacuum) works unchanged over the object-store-contract metadata
    store — no POSIX manifest IO anywhere in the path."""
    eng = GraphEngine(spark, str(tmp_path / "s"),
                      manifest_store=InMemoryManifestStore())
    eng.add_graph("A", "2\n0 1\n0 0\n")
    eng.modify_graph("A", "3\n0 0 0\n0 0 0\n1 0 0\n")
    assert {(r["src"], r["dst"]) for r in eng.edges("A").collect()} == {(3, 1)}
    v1 = eng.snapshot(seq=1)
    assert {(r["src"], r["dst"]) for r in v1.edges("A").collect()} == {(1, 2)}
    eng.compact()
    assert {(r["src"], r["dst"]) for r in eng.edges("A").collect()} == {(3, 1)}
    eng.vacuum(force=True)
    with pytest.raises(FileNotFoundError):
        eng.snapshot(seq=1)
    assert {(r["src"], r["dst"]) for r in eng.edges("A").collect()} == {(3, 1)}


def test_engine_lifecycle_on_scheme_store_path(spark, tmp_path):
    """A store path WITH a URI scheme runs the whole engine lifecycle
    — ingest, modify, time travel, compact, vacuum — through Hadoop's
    FileSystem API for both manifests and dead-commit cleanup: the
    deployment shape where the store lives on hdfs:// or an object
    store, exercised on file: (the scheme this container can serve)."""
    eng = GraphEngine(spark, f"file:{tmp_path}/s")
    assert isinstance(eng.manifests.store, metastore.HadoopFsManifestStore)
    eng.add_graph("A", "2\n0 1\n0 0\n")
    eng.modify_graph("A", "3\n0 0 0\n0 0 0\n1 0 0\n")
    assert {(r["src"], r["dst"]) for r in eng.edges("A").collect()} == {(3, 1)}
    # the driver-side read goes through the same FileSystem
    assert eng.snapshot().local_edges("A") == [(3, 1)]
    assert sorted(map(tuple, eng.bfs("A", 3).collect())) == [(1, 1), (3, 0)]
    assert {(r["src"], r["dst"])
            for r in eng.snapshot(seq=1).edges("A").collect()} == {(1, 2)}
    eng.compact()
    removed = eng.vacuum(force=True)
    assert removed > 0  # dead commit dirs went through the Hadoop API
    with pytest.raises(FileNotFoundError):
        eng.snapshot(seq=1)
    assert {(r["src"], r["dst"]) for r in eng.edges("A").collect()} == {(3, 1)}
    # exactly one live commit per table after compact+vacuum
    import os
    for table in ("edges", "vertices", "meta"):
        dirs = [d for d in os.listdir(tmp_path / "s" / "data" / table)
                if d.startswith("c=")]
        assert len(dirs) == 1


@pytest.mark.parametrize("write", [
    lambda eng, spark: eng.add_graph("B", "2\n0 1\n1 0\n"),
    lambda eng, spark: eng.append_edges(spark.createDataFrame(
        [("A", 2, 3), ("B", 1, 2)], "graph string, src int, dst int")),
    lambda eng, spark: eng.merge_edges(spark.createDataFrame(
        [("A", 1, 2, 4), ("A", 2, 5, 1)],
        "graph string, src int, dst int, w int"), mode="delta"),
], ids=["add_graph", "append_edges", "merge_edges_delta"])
def test_vacuum_reclaims_orphaned_commit_dirs(spark, tmp_path, write):
    """A writer that lands its data files but dies at the manifest CAS
    leaves orphaned c=<cid> dirs; vacuum must reclaim exactly them
    (they are referenced by no retained manifest) without touching the
    published state."""
    import os

    path = str(tmp_path / "s")
    eng = GraphEngine(spark, path)
    eng.add_graph("A", "2\n0 1\n0 0\n")
    tables = ("edges", "vertices", "meta")

    def dirs():
        return {t: set(os.listdir(tmp_path / "s" / "data" / t))
                for t in tables}

    published = dirs()
    head = eng.manifests.load()

    class _DieBeforePublish(Exception):
        pass

    class FailingLog:
        load = eng.manifests.load  # the writer reads fine ...

        def commit(self, update, **kw):
            raise _DieBeforePublish()  # ... then dies at the CAS

    crashed = GraphEngine(spark, path)
    crashed.manifests = FailingLog()
    with pytest.raises(_DieBeforePublish):
        write(crashed, spark)
    # the orphan's data landed, one dir per table; the manifest did not
    orphans = {t: ds - published[t] for t, ds in dirs().items()}
    assert all(len(ds) == 1 for ds in orphans.values()), orphans
    assert eng.manifests.load() == head
    removed = eng.vacuum(force=True)
    assert removed == 3  # the orphan's edges+vertices+meta dirs
    assert dirs() == published
    assert eng.graphs() == ["A"]  # published state untouched
    assert {(r["src"], r["dst"]) for r in eng.edges("A").collect()} == {(1, 2)}


class _DieAtLastLanding(Exception):
    pass


def _matrix(n):
    return f"{n}\n" + "".join(
        " ".join("1" if j == i + 1 else "0" for j in range(n)) + "\n"
        for i in range(n))


def _ingest_dir(eng, spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "D.txt").write_text(_matrix(3))
    eng.ingest_dir(str(d))


@pytest.mark.parametrize("write", [
    lambda eng, spark, tmp: eng.add_graph("B", _matrix(2)),
    lambda eng, spark, tmp: eng.add_graph("A", _matrix(101)),
    _ingest_dir,
    lambda eng, spark, tmp: eng.append_edges(spark.createDataFrame(
        [("A", 3, 4)], "graph string, src int, dst int")),
    lambda eng, spark, tmp: eng.merge_edges(spark.createDataFrame(
        [("A", 1, 3, 2)], "graph string, src int, dst int, w int"),
        mode="delta"),
    lambda eng, spark, tmp: eng.merge_edges(spark.createDataFrame(
        [("A", 1, 3, 2)], "graph string, src int, dst int, w int")),
    lambda eng, spark, tmp: eng.set_vertex_props(spark.createDataFrame(
        [("A", 1, "x")], "graph string, vid int, kind string")),
    lambda eng, spark, tmp: eng.set_vertex_props(spark.createDataFrame(
        [("A", 1, "x")], "graph string, vid int, kind string"),
        mode="delta"),
    lambda eng, spark, tmp: eng.delete_vertices(spark.createDataFrame(
        [("A", 2)], "graph string, vid int")),
    lambda eng, spark, tmp: eng.compact(),
], ids=["add_graph", "add_graph_n101", "ingest_dir", "append_edges",
        "merge_edges_delta", "merge_edges_cow", "set_vertex_props_cow",
        "set_vertex_props_delta", "delete_vertices", "compact"])
def test_writer_dying_at_its_last_landing_publishes_nothing(
        spark, tmp_path, monkeypatch, write):
    """Every data writer commits through GraphEngine._commit. When the
    last of its table landings raises, after that table's files are
    written, the exception reaches the caller, no manifest is
    published and every read returns the state before the write."""
    import threading

    eng = GraphEngine(spark, str(tmp_path / "s"))
    eng.add_graph("A", _matrix(3))
    eng.append_edges(spark.createDataFrame(
        [("A", 3, 1)], "graph string, src int, dst int"))

    def state():
        snap = eng.snapshot()
        return (snap.manifest["seq"], snap.graphs(),
                sorted(tuple(r) for r in snap.weighted_edges().collect()),
                sorted(tuple(r) for r in snap.vertices().collect()),
                sorted(tuple(r) for r in snap.meta().collect()))

    before = state()
    real_commit = eng._commit
    landed = []

    def dying_commit(snap, how, graphs, stages, **kw):
        left = [sum(len(stage) for stage in stages)]
        lock = threading.Lock()

        def dying(lander):
            def land(rows, table, cid, buckets):
                lander(rows, table, cid, buckets)
                landed.append(table)
                with lock:
                    left[0] -= 1
                    last = left[0] == 0
                if last:
                    raise _DieAtLastLanding()
            return land

        monkeypatch.setattr(eng, "_store_write", dying(eng._store_write))
        monkeypatch.setattr(eng, "_driver_write", dying(eng._driver_write))
        return real_commit(snap, how, graphs, stages, **kw)

    monkeypatch.setattr(eng, "_commit", dying_commit)
    with pytest.raises(_DieAtLastLanding):
        write(eng, spark, tmp_path)
    monkeypatch.undo()
    assert landed  # the files landed before the writer died
    assert state() == before


def test_engine_history_tracks_commits_and_retention(spark, tmp_path):
    """history() mirrors the retained manifest log: one row per commit
    with the live graph count, shrinking with vacuum's retention
    window and staying consistent with time travel."""
    eng = GraphEngine(spark, str(tmp_path / "s"))
    assert eng.history().count() == 0  # virgin store: empty, no raise
    eng.add_graph("A", "2\n0 1\n0 0\n")
    eng.add_graph("B", "2\n0 1\n1 0\n")
    eng.modify_graph("A", "2\n0 0\n0 0\n")
    hist = eng.history().collect()
    assert [(r["seq"], r["n_graphs"]) for r in hist] == [(1, 1), (2, 2), (3, 2)]
    assert len({r["commit"] for r in hist}) == 3  # distinct commit ids
    eng.vacuum(keep_last=2, force=True)
    assert [r["seq"] for r in eng.history().collect()] == [2, 3]


def test_engine_snapshot_seq_on_virgin_store_raises(spark, tmp_path):
    eng = GraphEngine(spark, str(tmp_path / "virgin"))
    with pytest.raises(FileNotFoundError):
        eng.snapshot(seq=1)


def test_two_writer_contention_neither_clobbers(spark, tmp_path):
    """Two engine sessions commit CONCURRENTLY to the same store (the
    multi-writer analogue of the reference's RW lock): both commits
    must land — the final state serves both graphs, whichever writer
    lost the CAS race having re-merged onto the winner's manifest."""
    store = InMemoryManifestStore()
    path = str(tmp_path / "s")
    engines = [GraphEngine(spark, path, manifest_store=store) for _ in range(2)]
    texts = {"W0": "2\n0 1\n0 0\n", "W1": "3\n0 0 1\n0 0 0\n0 1 0\n"}
    barrier = threading.Barrier(2)
    errors = []

    def writer(i, name):
        try:
            barrier.wait(timeout=60)
            engines[i].add_graph(name, texts[name])
        except Exception as exc:  # surfaced below; a swallowed writer
            errors.append(exc)   # failure would vacuously pass the test
    threads = [threading.Thread(target=writer, args=(i, f"W{i}"))
               for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors
    final = GraphEngine(spark, path, manifest_store=store)
    assert final.graphs() == ["W0", "W1"]
    assert {(r["src"], r["dst"]) for r in final.edges("W0").collect()} == {(1, 2)}
    assert {(r["src"], r["dst"]) for r in final.edges("W1").collect()} == {(1, 3), (3, 2)}
    # two commits published, seqs 1 and 2, no gaps or duplicates
    assert [s for s, _ in final.manifests.names()] == [1, 2]


def test_compact_does_not_revert_concurrent_write(spark, tmp_path):
    """A write landing between compact's snapshot pin and its publish
    must survive: the compacted manifest keeps the newer pointer for
    the modified graph and uses the compacted copy only for graphs
    whose pointer is unchanged."""
    store = InMemoryManifestStore()
    path = str(tmp_path / "s")
    eng = GraphEngine(spark, path, manifest_store=store)
    eng.add_graph("P", "2\n0 1\n0 0\n")
    eng.add_graph("Q", "2\n0 1\n1 0\n")
    fired = {"done": False}

    def concurrent_modify(name):
        if fired["done"]:
            return
        fired["done"] = True
        store.before_put = None  # the injected writer publishes normally
        GraphEngine(eng.spark, path, manifest_store=store).modify_graph(
            "Q", "2\n0 0\n0 0\n")
        store.before_put = concurrent_modify

    store.before_put = concurrent_modify
    eng.compact()  # data rewrite saw old Q; publish must not revert it
    store.before_put = None
    assert fired["done"]
    assert eng.edges("Q").count() == 0          # the concurrent modify won
    assert {(r["src"], r["dst"])
            for r in eng.edges("P").collect()} == {(1, 2)}  # compacted copy
    final = eng.manifests.load()
    assert final["graphs"]["P"] == final["commit"]      # P: compacted
    assert final["graphs"]["Q"] != final["commit"]      # Q: writer's commit


def _race(spark, store, path, competitor):
    """Arm ``store`` so the first manifest put of the next write is
    preceded by ``competitor(engine)``'s whole write through a second
    engine: the write under test loses that CAS race and re-applies
    its closure to the competitor's manifest. Returns the fired flag."""
    fired = {}

    def interleave(name):
        if not fired:
            fired["x"] = True
            store.before_put = None
            competitor(GraphEngine(spark, path, manifest_store=store))

    store.before_put = interleave
    return fired


_E = "graph string, src int, dst int, w int"


@pytest.mark.parametrize("delete", [False, True])
def test_delta_merge_after_lost_race_extends_the_winners_chain(
        spark, tmp_path, delete):
    """A delta merge never skips: on a lost race it appends to the
    chain the competing write published, so both commits serve the
    graph and the merge reports every touched graph adopted."""
    store = InMemoryManifestStore()
    path = str(tmp_path / "s")
    eng = GraphEngine(spark, path, manifest_store=store)
    eng.add_graph("P", "2\n0 1\n0 0\n")
    fired = _race(spark, store, path, lambda other: other.append_edges(
        spark.createDataFrame([("P", 2, 1, 1)], _E)))
    got = eng.merge_edges(spark.createDataFrame([("P", 1, 2, 5)], _E),
                          delete=delete, mode="delta")
    assert fired and got == (frozenset({"P"}), frozenset())
    final = eng.manifests.load()
    competitor = eng.manifests.load(final["seq"] - 1)["commit"]
    assert final["graphs"]["P"][-2:] == [competitor, final["commit"]]
    assert final["commit"] in final["edeltas"]
    want = [(2, 1, 1)] if delete else [(1, 2, 5), (2, 1, 1)]
    assert sorted(tuple(r)[:3] for r in
                  eng.snapshot().weighted_edges("P").collect()) == want


def test_delta_vertex_props_after_lost_race_extends_the_winners_chain(
        spark, tmp_path):
    """A delta vertex-prop write lands on top of a modify that won the
    race: the chain is the modify's commit followed by the delta,
    which the vdeltas set marks."""
    store = InMemoryManifestStore()
    path = str(tmp_path / "s")
    eng = GraphEngine(spark, path, manifest_store=store)
    eng.add_graph("P", "2\n0 1\n0 0\n")
    fired = _race(spark, store, path,
                  lambda other: other.modify_graph("P", "3\n0 0 1\n0 0 0\n"
                                                   "0 1 0\n"))
    got = eng.set_vertex_props(spark.createDataFrame(
        [("P", 1, "x")], "graph string, vid int, tag string"), mode="delta")
    assert fired and got == (frozenset({"P"}), frozenset())
    final = eng.manifests.load()
    competitor = eng.manifests.load(final["seq"] - 1)["commit"]
    assert final["graphs"]["P"] == [competitor, final["commit"]]
    assert final["vdeltas"] == [final["commit"]]
    assert final["props"] == {"vertices": {"tag": "string"}}
    assert sorted(tuple(r) for r in eng.snapshot().vertices(
        "P", props=True).collect()) == [
        (1, "x", "P"), (2, None, "P"), (3, None, "P")]


def test_delete_vertices_after_lost_race_publishes_nothing(spark, tmp_path):
    """A vertex delete whose graph was overwritten mid-delete reports
    it skipped, keeps the competitor's pointer and, having adopted no
    graph, publishes no manifest."""
    store = InMemoryManifestStore()
    path = str(tmp_path / "s")
    eng = GraphEngine(spark, path, manifest_store=store)
    eng.add_graph("P", "2\n0 1\n0 0\n")
    fired = _race(spark, store, path,
                  lambda other: other.modify_graph("P", "2\n0 0\n1 0\n"))
    got = eng.delete_vertices(spark.createDataFrame(
        [("P", 1)], "graph string, vid int"))
    assert fired and got == (frozenset(), frozenset({"P"}))
    assert [s for s, _ in eng.manifests.names()] == [1, 2]
    final = eng.manifests.load()
    assert final["graphs"]["P"] == final["commit"]
    assert sorted(tuple(r)[:2] for r in eng.edges("P").collect()) == [(2, 1)]


def test_engine_vacuum_keep_last_retains_time_travel(spark, tmp_path):
    """vacuum(keep_last=K) is the retention window that lets time
    travel and space reclamation coexist: seqs inside the window stay
    pinnable and readable, older ones are gone."""
    eng = GraphEngine(spark, str(tmp_path / "s"))
    eng.add_graph("T", "2\n0 1\n0 0\n")                   # seq 1
    eng.modify_graph("T", "3\n0 0 0\n0 0 0\n1 0 0\n")     # seq 2
    eng.modify_graph("T", "2\n0 0\n0 1\n")                # seq 3
    removed = eng.vacuum(keep_last=2, force=True)
    # retained manifests (seq 2, 3) reference commits 2 and 3 only, so
    # commit 1's dir goes from each of the 3 tables
    assert removed == 3
    with pytest.raises(FileNotFoundError):
        eng.snapshot(seq=1)
    assert {(r["src"], r["dst"])
            for r in eng.snapshot(seq=2).edges("T").collect()} == {(3, 1)}
    assert {(r["src"], r["dst"])
            for r in eng.snapshot(seq=3).edges("T").collect()} == {(2, 2)}


def test_manifest_doc_shape_unchanged(tmp_path):
    """The on-disk manifest document keeps its public shape (seq,
    commit, graphs, plus the r13 publish-time ``ts`` stamp) so older
    stores and external tooling stay readable; ts is additive — docs
    written before it read as NULL through history()."""
    log = ManifestLog(PosixManifestStore(str(tmp_path / "m")))
    doc = log.commit(_body("abc", {"G": "abc"}))
    raw = json.loads(log.store.get(manifest_name(1)).decode())
    assert raw == doc
    ts = raw.pop("ts")
    assert isinstance(ts, float)
    assert raw == {"seq": 1, "commit": "abc", "graphs": {"G": "abc"}}


# -- chunked manifest layout (round-8 verdict items 4+5) ---------------

def test_chunked_manifest_holds_1e5_graphs_without_monolithic_doc():
    """The monolithic layout's ceiling was one JSON doc holding the
    whole graphs map (~10^6 graphs). Chunked: B bucket chunk blobs +
    a root doc of chunk NAMES. Contract at 10^5 graphs: no blob holds
    more than a small fraction of the catalog, a commit touching one
    graph rewrites exactly one chunk, time travel is intact, and a
    log opened WITHOUT the constructor knob follows the stored
    layout."""
    import json

    from graphdatabase_spark.metastore import (InMemoryManifestStore,
                                               ManifestLog, manifest_name)

    store = InMemoryManifestStore()
    log = ManifestLog(store, buckets=32)
    n = 100_000
    doc = log.commit(lambda prev: {
        "commit": "c1", "graphs": {f"g{i}": "c1" for i in range(n)}})
    assert len(doc["graphs"]) == n
    root1 = json.loads(store.get(manifest_name(1)))
    assert "graphs" not in root1           # the root doc holds names only
    assert len(root1["chunks"]) == 32
    assert root1["n_graphs"] == n
    sizes = [len(store.get(b)) for b in store.list()]
    assert max(sizes) < sum(sizes) / 8     # no blob dominates the catalog

    # one-graph commit: exactly one new chunk + one new root
    before = set(store.list())

    def second(prev):
        gm = dict(prev["graphs"])
        gm["g0"] = "c2"
        return {"commit": "c2", "graphs": gm}

    log.commit(second)
    root2 = json.loads(store.get(manifest_name(2)))
    changed = [b for b in root2["chunks"]
               if root2["chunks"][b] != root1["chunks"][b]]
    assert len(changed) == 1
    assert len(set(store.list()) - before) == 2

    # time travel across the chunked history
    assert log.load(1)["graphs"]["g0"] == "c1"
    assert log.load(2)["graphs"]["g0"] == "c2"
    assert log.load()["graphs"]["g99999"] == "c1"

    # a fresh log with NO constructor knob follows the stored layout
    log2 = ManifestLog(store)

    def third(prev):
        gm = dict(prev["graphs"])
        gm["g1"] = "c3"
        return {"commit": "c3", "graphs": gm}

    log2.commit(third)
    assert "chunks" in json.loads(store.get(manifest_name(3)))

    # vacuum: dead roots' chunks go, live ones stay, catalog intact
    log2.vacuum(keep_last=1)
    roots = {b for b in store.list() if not b.startswith("chunk-")}
    assert roots == {manifest_name(3)}
    live_chunks = set(json.loads(store.get(manifest_name(3)))["chunks"]
                      .values())
    assert {b for b in store.list()
            if b.startswith("chunk-")} == live_chunks
    final = log2.load()
    assert len(final["graphs"]) == n
    assert final["graphs"]["g1"] == "c3"


def test_chunked_vacuum_spares_unreferenced_chunks_without_sweep():
    """A chunk blob referenced by NO root is indistinguishable from a
    mid-commit writer's chunk: default vacuum leaves it; the explicit
    orphan sweep (gated like the data-dir force vacuum) reclaims it."""
    from graphdatabase_spark.metastore import (InMemoryManifestStore,
                                               ManifestLog)

    store = InMemoryManifestStore()
    log = ManifestLog(store, buckets=4)
    log.commit(lambda prev: {"commit": "c1", "graphs": {"a": "c1"}})
    assert store.put_if_absent(b"chunk-feedfacecafe.json".decode(),
                               b'{"graphs": {"ghost": "cX"}}')
    log.vacuum(keep_last=1)
    assert "chunk-feedfacecafe.json" in store.list()   # possibly in flight
    removed = log.sweep_orphan_chunks()
    assert removed == 1
    assert "chunk-feedfacecafe.json" not in store.list()
    assert log.load()["graphs"] == {"a": "c1"}         # live chunks intact


def test_monolithic_store_stays_monolithic_despite_knob():
    """The layout is decided by the FIRST manifest: a log opened with
    buckets on an existing monolithic store keeps publishing
    monolithic docs (no mixed layouts mid-history)."""
    import json

    from graphdatabase_spark.metastore import (InMemoryManifestStore,
                                               ManifestLog, manifest_name)

    store = InMemoryManifestStore()
    ManifestLog(store).commit(
        lambda prev: {"commit": "c1", "graphs": {"a": "c1"}})
    log = ManifestLog(store, buckets=8)
    log.commit(lambda prev: {"commit": "c2",
                             "graphs": {**prev["graphs"], "b": "c2"}})
    doc = json.loads(store.get(manifest_name(2)))
    assert "chunks" not in doc and "graphs" in doc

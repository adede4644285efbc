"""Append commits + the Structured Streaming store sink.

The store's write surface grows from full-overwrite (the reference's
op 1/2) to table-format APPENDS: a micro-batch extends each touched
graph's manifest pointer into a commit chain read as a union, which is
what a streaming writer needs (O(batch) per commit, never O(graph)).
These tests pin the append semantics batch-side, then the
foreachBatch sink end to end — multi-batch accumulation, checkpointed
restart (no reprocessing), and the idempotent-commit-id replay guard.
"""

import os

import pytest
from pyspark.sql import functions as F

from graphdatabase_spark.engine import GraphEngine, _cids
from graphdatabase_spark.streaming.ingest import (batch_commit_id,
                                                  stream_edges_into_store)


@pytest.fixture()
def engine(spark, tmp_path):
    return GraphEngine(spark, str(tmp_path / "store"))


def _edges_df(spark, rows):
    return spark.createDataFrame(rows, "graph string, src int, dst int, w int")


def _edge_set(df):
    return {(r["graph"], r["src"], r["dst"], r["w"]) for r in df.collect()}


def test_append_accumulates_and_enters_catalog(engine, spark):
    """Two appends to one graph accumulate edges (union-of-chain read);
    the graph joins the catalog on first append with a meta row, and
    vertex rows are never duplicated across batches."""
    assert engine.append_edges(
        _edges_df(spark, [("S", 1, 2, 1), ("S", 2, 3, 1)])) is True
    assert engine.graphs() == ["S"]
    assert engine.append_edges(
        _edges_df(spark, [("S", 2, 3, 5), ("S", 3, 4, 1)])) is True
    # multiset append: the re-sent (2,3) edge appears twice, own weight
    assert _edge_set(engine.weighted_edges("S")) == {
        ("S", 1, 2, 1), ("S", 2, 3, 1), ("S", 2, 3, 5), ("S", 3, 4, 1)}
    verts = [r["vid"] for r in engine.vertices("S").collect()]
    assert sorted(verts) == [1, 2, 3, 4]  # no duplicates: anti-joined
    # manifest pointer is a two-commit chain
    ptr = engine.manifests.load()["graphs"]["S"]
    assert isinstance(ptr, list) and len(ptr) == 2
    # stats sees the appended graph like any other
    row = engine.stats().filter(F.col("graph") == "S").collect()[0]
    assert (row["n_vertices"], row["n_edges"]) == (4, 4)


def test_append_to_overwritten_graph_and_overwrite_resets(engine, spark):
    """Append onto an add_graph base extends its chain; a later
    modify_graph flips the pointer back to a single commit (full
    overwrite wins, the reference's op-2 semantics)."""
    engine.add_graph("G", "2\n0 1\n0 0\n")
    engine.append_edges(_edges_df(spark, [("G", 2, 3, 7)]))
    assert _edge_set(engine.weighted_edges("G")) == {
        ("G", 1, 2, 1), ("G", 2, 3, 7)}
    assert {r["vid"] for r in engine.vertices("G").collect()} == {1, 2, 3}
    chain = _cids(engine.manifests.load()["graphs"]["G"])
    assert len(chain) == 2
    engine.modify_graph("G", "2\n0 0\n1 0\n")
    assert _edge_set(engine.weighted_edges("G")) == {("G", 2, 1, 1)}
    assert isinstance(engine.manifests.load()["graphs"]["G"], str)


def test_append_snapshot_isolation_and_time_travel(engine, spark):
    engine.append_edges(_edges_df(spark, [("T", 1, 2, 1)]))  # seq 1
    pre = engine.snapshot()
    engine.append_edges(_edges_df(spark, [("T", 2, 3, 1)]))  # seq 2
    # the pinned snapshot never sees the later append
    assert _edge_set(pre.weighted_edges("T")) == {("T", 1, 2, 1)}
    v1 = engine.snapshot(seq=1)
    assert _edge_set(v1.weighted_edges("T")) == {("T", 1, 2, 1)}
    assert _edge_set(engine.snapshot().weighted_edges("T")) == {
        ("T", 1, 2, 1), ("T", 2, 3, 1)}


def test_append_idempotent_commit_id(engine, spark):
    df = _edges_df(spark, [("I", 1, 2, 1)])
    assert engine.append_edges(df, commit_id="batch000") is True
    # a replay of the same batch publishes nothing and changes nothing
    assert engine.append_edges(df, commit_id="batch000") is False
    assert engine.append_edges(
        _edges_df(spark, [("I", 9, 9, 9)]), commit_id="batch000") is False
    assert _edge_set(engine.weighted_edges("I")) == {("I", 1, 2, 1)}
    assert engine.manifests.load()["seq"] == 1


def test_compact_collapses_chain_and_vacuum_reclaims(engine, spark):
    for i in range(3):
        engine.append_edges(_edges_df(spark, [("C", i, i + 1, 1 + i)]))
    want = _edge_set(engine.weighted_edges("C"))
    assert len(want) == 3
    engine.compact()
    assert isinstance(engine.manifests.load()["graphs"]["C"], str)
    assert _edge_set(engine.weighted_edges("C")) == want
    assert engine.vacuum(force=True) > 0
    assert _edge_set(engine.weighted_edges("C")) == want
    dirs = os.listdir(os.path.join(engine.store, "data", "edges"))
    assert len([d for d in dirs if d.startswith("c=")]) == 1


def test_stream_edges_into_store_end_to_end(engine, spark, tmp_path):
    """The foreachBatch sink, driven file-by-file (maxFilesPerTrigger=1
    → one append commit per micro-batch): edges accumulate across
    batches; a restart on the same checkpoint with no new files is a
    no-op; a new file after restart appends exactly once."""
    src = tmp_path / "incoming"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "graph string, src int, dst int, w int"

    def land(name, rows):
        _edges_df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name))
        # file source tracks files — move the single part file in
        part = [f for f in os.listdir(tmp_path / "stage" / name)
                if f.endswith(".parquet")][0]
        os.rename(tmp_path / "stage" / name / part, src / f"{name}.parquet")

    land("b0", [("W", 1, 2, 1), ("X", 1, 2, 1)])
    land("b1", [("W", 2, 3, 4)])

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        q = stream_edges_into_store(stream, engine, ckpt)
        q.awaitTermination(120)

    drain()
    assert _edge_set(engine.weighted_edges()) == {
        ("W", 1, 2, 1), ("X", 1, 2, 1), ("W", 2, 3, 4)}
    assert sorted(r["vid"] for r in engine.vertices("W").collect()) == [1, 2, 3]
    seq_after_first = engine.manifests.load()["seq"]

    drain()  # restart, nothing new: checkpoint replays nothing
    assert engine.manifests.load()["seq"] == seq_after_first
    assert _edge_set(engine.weighted_edges("W")) == {
        ("W", 1, 2, 1), ("W", 2, 3, 4)}

    land("b2", [("X", 2, 3, 2)])
    drain()
    assert _edge_set(engine.weighted_edges("X")) == {
        ("X", 1, 2, 1), ("X", 2, 3, 2)}
    # batch-side replay guard (the window the checkpoint can't cover):
    # re-running an already-published batch id by hand is a no-op
    assert engine.append_edges(
        _edges_df(spark, [("X", 7, 8, 1)]),
        commit_id=batch_commit_id(ckpt, 0)) is False


def test_batch_commit_id_scopes_by_sink(tmp_path):
    a, b = batch_commit_id("/ck/a", 0), batch_commit_id("/ck/b", 0)
    assert a != b  # two streams into one store never collide
    assert batch_commit_id("/ck/a", 0) == a  # replay reproduces the id


def test_merge_edges_upsert_insert_and_untouched(engine, spark):
    """MERGE semantics: matched keys take the update's weight,
    unmatched keys insert, graphs absent from the updates are
    untouched, and a merged graph's append chain collapses to one
    commit (the merge IS a per-graph compaction)."""
    engine.add_graph("M", "3\n0 2 0\n0 0 3\n0 0 0\n")   # (1,2,2) (2,3,3)
    engine.add_graph("N", "2\n0 1\n0 0\n")
    engine.append_edges(_edges_df(spark, [("M", 3, 1, 9)]))  # chain of 2
    engine.merge_edges(_edges_df(spark, [
        ("M", 1, 2, 7),    # matched: weight 2 -> 7
        ("M", 1, 3, 4),    # unmatched: insert
    ]))
    assert _edge_set(engine.weighted_edges("M")) == {
        ("M", 1, 2, 7), ("M", 2, 3, 3), ("M", 3, 1, 9), ("M", 1, 3, 4)}
    assert _edge_set(engine.weighted_edges("N")) == {("N", 1, 2, 1)}
    assert isinstance(engine.manifests.load()["graphs"]["M"], str)
    assert sorted(r["vid"] for r in engine.vertices("M").collect()) == [1, 2, 3]


def test_merge_edges_delete_and_new_graph(engine, spark):
    engine.add_graph("D", "3\n0 1 1\n0 0 1\n0 0 0\n")
    engine.merge_edges(_edges_df(spark, [("D", 1, 2, 0), ("D", 2, 3, 0)]),
                       delete=True)
    assert _edge_set(engine.weighted_edges("D")) == {("D", 1, 3, 1)}
    # the graph stays cataloged with its vertices even as edges go
    assert "D" in engine.graphs()
    assert sorted(r["vid"] for r in engine.vertices("D").collect()) == [1, 2, 3]
    # deleting from an unknown graph is a no-op, not a catalog entry
    engine.merge_edges(_edges_df(spark, [("ZZ", 1, 2, 0)]), delete=True)
    assert "ZZ" not in engine.graphs()
    # upserting into a brand-new graph creates it
    engine.merge_edges(_edges_df(spark, [("P", 5, 6, 2)]))
    assert engine.graphs() == ["D", "P"]
    assert _edge_set(engine.weighted_edges("P")) == {("P", 5, 6, 2)}
    row = engine.stats().filter(F.col("graph") == "P").collect()[0]
    assert (row["n_vertices"], row["n_edges"]) == (2, 1)


def test_merge_edges_snapshot_isolation(engine, spark):
    engine.add_graph("S2", "2\n0 5\n0 0\n")
    pre = engine.snapshot()
    engine.merge_edges(_edges_df(spark, [("S2", 1, 2, 1)]))
    assert _edge_set(pre.weighted_edges("S2")) == {("S2", 1, 2, 5)}
    assert _edge_set(engine.snapshot().weighted_edges("S2")) == {("S2", 1, 2, 1)}


def test_diff_classifies_added_updated_removed(engine, spark):
    """engine.diff = the table-changes (CDC) read between two retained
    manifests: upserted keys classify added/updated, delete-merged keys
    classify removed, untouched keys are absent from the diff."""
    engine.add_graph("M", "3\n0 2 0\n0 0 3\n0 0 0\n")   # (1,2,2) (2,3,3)
    seq1 = engine.manifests.load()["seq"]
    engine.merge_edges(_edges_df(spark, [
        ("M", 1, 2, 7),    # matched, weight changes: updated
        ("M", 1, 3, 4),    # unmatched: added
    ]))
    engine.merge_edges(_edges_df(spark, [("M", 2, 3, 0)]), delete=True)
    seq3 = engine.manifests.load()["seq"]
    assert seq3 == seq1 + 2

    rows = {(r["graph"], r["src"], r["dst"]):
            (r["old_w"], r["new_w"], r["change"])
            for r in engine.diff(seq1, seq3).collect()}
    assert rows == {
        ("M", 1, 2): (2, 7, "updated"),
        ("M", 1, 3): (0, 4, "added"),
        ("M", 2, 3): (3, 0, "removed"),
    }
    # adjacent diff: only the delete shows
    rows2 = {(r["src"], r["dst"]): r["change"]
             for r in engine.diff(seq1 + 1, seq3).collect()}
    assert rows2 == {(2, 3): "removed"}
    # seq_new defaults to the newest manifest
    assert engine.diff(seq1).count() == 3


def test_txn_replay_after_compaction_stays_exactly_once(engine, spark):
    """The round-8 advice MEDIUM: the commit-id replay guard only held
    while the manifest still referenced the appended cid — a compaction
    (or merge) collapsing the chain dropped it, so a batch replayed in
    that window re-published. The txn (app, version) record lives in
    the manifest itself and every commit carries it forward, so the
    replay is refused even after the chain collapsed."""
    df = _edges_df(spark, [("R", 1, 2, 1)])
    assert engine.append_edges(df, commit_id="b00000000000",
                               txn_app="sinkA", txn_version=0) is True
    engine.compact()  # chain collapsed: cid b0… no longer referenced
    assert "b00000000000" not in str(engine.manifests.load()["graphs"])
    # the foreachBatch replay window: batch 0 re-sent after a failure
    assert engine.append_edges(df, commit_id="b00000000000",
                               txn_app="sinkA", txn_version=0) is False
    assert engine.weighted_edges("R").count() == 1  # not duplicated
    # same guard across a MERGE collapse
    assert engine.append_edges(_edges_df(spark, [("R", 2, 3, 1)]),
                               commit_id="b00000000001",
                               txn_app="sinkA", txn_version=1) is True
    engine.merge_edges(_edges_df(spark, [("R", 2, 3, 9)]))
    assert engine.append_edges(_edges_df(spark, [("R", 2, 3, 1)]),
                               commit_id="b00000000001",
                               txn_app="sinkA", txn_version=1) is False
    # a NEW version from the same sink still lands, and a different
    # sink's version 0 is independent
    assert engine.append_edges(_edges_df(spark, [("R", 3, 4, 1)]),
                               txn_app="sinkA", txn_version=2) is True
    assert engine.append_edges(_edges_df(spark, [("R", 4, 5, 1)]),
                               txn_app="sinkB", txn_version=0) is True
    assert engine.manifests.load()["txns"] == {"sinkA": 2, "sinkB": 0}


def test_txn_pair_must_come_together(engine, spark):
    import pytest
    with pytest.raises(ValueError, match="pair"):
        engine.append_edges(_edges_df(spark, [("Z", 1, 2, 1)]),
                            txn_app="only-app")


def test_append_and_merge_reject_nonpositive_weights(engine, spark):
    """The store's CDC read encodes 'absent' as weight 0, so the write
    paths enforce w >= 1 loudly instead of documenting it (round-8
    advice low). Deletes are key-only and stay exempt."""
    import pytest
    for bad in (0, -3):
        with pytest.raises(ValueError, match="weights >= 1"):
            engine.append_edges(_edges_df(spark, [("W", 1, 2, bad)]))
        with pytest.raises(ValueError, match="weights >= 1"):
            engine.merge_edges(_edges_df(spark, [("W", 1, 2, bad)]))
    with pytest.raises(ValueError, match="weights >= 1"):
        engine.append_edges(
            engine.spark.createDataFrame([("W", 1, 2, None)],
                                         "graph string, src int, dst int, w int"))
    assert engine.graphs() == []  # nothing landed
    engine.add_graph("W", "2\n0 1\n0 0\n")
    engine.merge_edges(_edges_df(spark, [("W", 1, 2, 0)]), delete=True)
    assert engine.weighted_edges("W").count() == 0


def test_merge_publishes_nothing_when_every_pointer_moved(spark, tmp_path):
    """Round-8 advice low: when every touched graph's pointer changed
    mid-merge (nothing adopted), the CAS closure must return None —
    publishing a manifest whose 'commit' nothing references just mints
    an orphan and a no-op history entry."""
    from graphdatabase_spark import metastore

    store = metastore.InMemoryManifestStore()
    eng = GraphEngine(spark, str(tmp_path / "s"), manifest_store=store)
    eng.add_graph("M", "2\n0 1\n0 0\n")                       # seq 1
    fired = {}

    def interleave(name):
        if not fired:
            fired["x"] = True
            store.before_put = None
            # a competing writer overwrites M between the merge's
            # snapshot pin and its publish
            GraphEngine(spark, eng.store,
                        manifest_store=store).modify_graph("M", "2\n0 0\n1 0\n")

    store.before_put = interleave
    eng.merge_edges(_edges_df(spark, [("M", 1, 2, 9)]))
    doc = eng.manifests.load()
    assert doc["seq"] == 2                      # only the modify published
    assert _edge_set(eng.weighted_edges("M")) == {("M", 2, 1, 1)}


def test_compact_heals_conflicting_meta_rows(spark, tmp_path):
    """Round-8 advice low: two concurrent appends that both CREATE the
    same graph each write a meta row with a different n; distinct()
    kept both forever. Compaction now aggregates per graph (max n)."""
    from pyspark.sql import functions as F

    from graphdatabase_spark import metastore

    store = metastore.InMemoryManifestStore()
    eng = GraphEngine(spark, str(tmp_path / "s"), manifest_store=store)
    fired = {}

    def interleave(name):
        if not fired:
            fired["x"] = True
            store.before_put = None
            GraphEngine(spark, eng.store, manifest_store=store).append_edges(
                _edges_df(spark, [("C", 5, 6, 1)]))

    store.before_put = interleave
    eng.append_edges(_edges_df(spark, [("C", 1, 2, 1)]))
    pre = eng.snapshot().meta().filter(F.col("graph") == "C").collect()
    assert sorted(r["n"] for r in pre) == [2, 6]   # the conflict exists
    eng.compact()
    post = eng.snapshot().meta().filter(F.col("graph") == "C").collect()
    assert [r["n"] for r in post] == [6]
    # data healed too: both appends' edges survive the rewrite
    assert _edge_set(eng.weighted_edges("C")) == {
        ("C", 1, 2, 1), ("C", 5, 6, 1)}


def test_stream_ingest_carries_property_columns(engine, spark, tmp_path):
    """Streaming ingest composes with the property-graph store: a
    micro-batch carrying a typed edge property column lands it through
    the same append commit, declaring the store-wide schema."""
    src = tmp_path / "pin"
    src.mkdir()
    schema = "graph string, src int, dst int, w int, kind string"
    df = spark.createDataFrame([("PS", 1, 2, 3, "follows")], schema)
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "st"))
    part = [f for f in os.listdir(tmp_path / "st")
            if f.endswith(".parquet")][0]
    os.rename(tmp_path / "st" / part, src / "b0.parquet")
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = stream_edges_into_store(stream, engine, str(tmp_path / "ck"))
    q.awaitTermination(120)
    snap = engine.snapshot()
    assert snap.props["edges"] == {"kind": "string"}
    assert {(r["graph"], r["src"], r["dst"], r["w"], r["kind"])
            for r in snap.weighted_edges("PS", props=True).collect()} == {
        ("PS", 1, 2, 3, "follows")}


def test_stream_ingest_with_auto_compaction_exactly_once(spark, tmp_path):
    """Verdict-r14 item 7, deterministic half: a foreachBatch ingest
    onto a store whose compact_policy fires mid-stream. Auto-compaction
    interleaves pointer REPLACEMENTS between the append commits; the
    read-back must still be the exact union of every batch, and the
    gdb_commits replay must emit every append exactly once (rewrites
    skipped, none dropped — the skip rule diffs per SEQ STEP, so a
    later compaction can never mask an earlier append)."""
    from graphdatabase_spark.streaming.store_source import \
        GraphStoreDataSource

    eng = GraphEngine(spark, str(tmp_path / "store"), buckets=2)
    eng.compact_policy(max_chain=2)   # compact whenever a chain hits 3
    src = tmp_path / "incoming"
    src.mkdir()
    batches = [[("W", i, i + 1, i + 1), ("X", i, i + 1, 1)]
               for i in range(1, 7)]

    def land(name, rows):
        stage = tmp_path / "stage" / name
        _edges_df(spark, rows).coalesce(1).write.mode("overwrite") \
            .parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(stage / part, src / f"{name}.parquet")

    for i, rows in enumerate(batches):
        land(f"b{i}", rows)
    stream = (spark.readStream
              .schema("graph string, src int, dst int, w int")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = stream_edges_into_store(stream, eng, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    expected = {r for rows in batches for r in rows}
    assert _edge_set(eng.weighted_edges()) == expected
    # the policy really fired: no chain ever exceeds the cap + 1
    assert all(len(c) <= 3 for c in
               _cids_map(eng).values()), _cids_map(eng)
    # consumer half: every append emitted exactly once, compactions
    # (pointer replacements) skipped — multiset equality via sort
    spark.dataSource.register(GraphStoreDataSource)
    replay = sorted((r["graph"], r["src"], r["dst"], r["w"]) for r in
                    spark.read.format("gdb_commits")
                    .option("path", eng.store).load().collect())
    assert replay == sorted(expected)


def _cids_map(eng):
    return {g: _cids(p) for g, p in
            (eng.manifests.load() or {}).get("graphs", {}).items()}


def test_appends_racing_concurrent_compaction(spark, tmp_path):
    """Verdict-r14 item 7, concurrent half: a SECOND engine handle
    hammering compact() from another thread while appends land.
    compact's publish is pointer-guarded (a graph whose pointer moved
    since the rewrite pinned its snapshot keeps the newer pointer), so
    whatever the interleaving: no append is lost, no row duplicated,
    and the commit-chain replay emits each append exactly once."""
    import threading

    from graphdatabase_spark.streaming.store_source import \
        GraphStoreDataSource

    eng = GraphEngine(spark, str(tmp_path / "store"), buckets=2)
    compactor = GraphEngine(spark, str(tmp_path / "store"))
    eng.append_edges(_edges_df(spark, [("W", 0, 1, 1)]))
    stop = threading.Event()
    errors = []

    def compact_loop():
        while not stop.is_set():
            try:
                compactor.compact()
            except Exception as exc:   # pragma: no cover - fail loudly
                errors.append(exc)
                return

    t = threading.Thread(target=compact_loop)
    t.start()
    try:
        for i in range(1, 9):
            eng.append_edges(_edges_df(spark, [("W", i, i + 1, i)]))
    finally:
        stop.set()
        t.join()
    assert not errors, errors
    expected = {("W", i, i + 1, max(i, 1)) for i in range(0, 9)}
    assert _edge_set(eng.weighted_edges()) == expected
    spark.dataSource.register(GraphStoreDataSource)
    replay = sorted((r["graph"], r["src"], r["dst"], r["w"]) for r in
                    spark.read.format("gdb_commits")
                    .option("path", eng.store).load().collect())
    assert replay == sorted(expected)

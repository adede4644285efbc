"""Bucketed store layout (round-8 verdict items 4+5).

One dir per graph per commit breaks down at a 10^5-graph catalog
(3×N directories per commit); the bucketed layout partitions data by
``gb = crc32(graph) % B`` — B dirs per table per commit, independent
of catalog size — and chunks the manifest into B bucket blobs so no
single JSON doc holds the whole graphs map. These tests pin that the
SAME store semantics hold over the new layout (every result equal to
an unbucketed twin), that directory counts are catalog-independent,
and that the layout decision persists in the store itself.
"""

import os

import pytest
from pyspark.sql import functions as F

from graphdatabase_spark.engine import GraphEngine

B = 4


@pytest.fixture()
def pair(spark, tmp_path):
    """A bucketed engine and its unbucketed twin over separate stores."""
    return (GraphEngine(spark, str(tmp_path / "bucketed"), buckets=B),
            GraphEngine(spark, str(tmp_path / "plain")))


def _apply_lifecycle(eng, spark):
    """One write workout touching every write path: add, modify,
    append (chain), merge upsert + delete, special-char names."""
    eng.add_graph("G#1", "2\n0 1\n1 0\n")
    eng.add_graph("A", "3\n0 2 0\n0 0 3\n0 0 0\n")
    eng.modify_graph("G#1", "2\n0 1\n0 0\n")
    eng.append_edges(spark.createDataFrame(
        [("A", 3, 1, 9), ("S", 100, 205, 3)],
        "graph string, src int, dst int, w int"))
    eng.merge_edges(spark.createDataFrame(
        [("A", 1, 2, 7), ("A", 1, 3, 4)],
        "graph string, src int, dst int, w int"))
    eng.merge_edges(spark.createDataFrame(
        [("A", 2, 3, 1)], "graph string, src int, dst int, w int"),
        delete=True)


def _state(eng):
    return {
        "graphs": eng.graphs(),
        "edges": sorted((r["graph"], r["src"], r["dst"], r["w"])
                        for r in eng.weighted_edges().collect()),
        "verts": sorted((r["graph"], r["vid"])
                        for r in eng.vertices().collect()),
        "stats": sorted((r["graph"], r["n_vertices"], r["n_edges"],
                         r["max_out_degree"])
                        for r in eng.stats().collect()),
    }


def test_bucketed_semantics_equal_unbucketed_twin(pair, spark):
    bucketed, plain = pair
    _apply_lifecycle(bucketed, spark)
    _apply_lifecycle(plain, spark)
    assert _state(bucketed) == _state(plain)
    # maintenance preserves it
    bucketed.compact()
    assert bucketed.vacuum(force=True) > 0
    plain.compact()
    plain.vacuum(force=True)
    assert _state(bucketed) == _state(plain)
    # single-graph reads prune through the bucket layout (incl. names
    # whose partition-dir form would percent-escape)
    assert {(r["src"], r["dst"])
            for r in bucketed.edges("G#1").collect()} == {(1, 2)}
    assert {(r["src"], r["dst"], r["w"])
            for r in bucketed.weighted_edges("S").collect()} == {(100, 205, 3)}


def test_bucketed_dir_count_is_catalog_independent(spark, tmp_path):
    """The verdict's concrete failure: a 5,000-graph ingest wrote
    15,000 dirs per commit. Bucketed: ≤ B dirs per table per commit,
    however many graphs land."""
    d = tmp_path / "graphs"
    d.mkdir()
    n_graphs = 40
    for i in range(n_graphs):
        (d / f"g{i:03d}.txt").write_text("2\n0 1\n1 0\n")
    eng = GraphEngine(spark, str(tmp_path / "s"), buckets=B)
    eng.ingest_dir(str(d))
    assert len(eng.graphs()) == n_graphs
    for table in ("edges", "vertices", "meta"):
        root = tmp_path / "s" / "data" / table
        (commit_dir,) = [c for c in os.listdir(root) if c.startswith("c=")]
        parts = [p for p in os.listdir(root / commit_dir)
                 if p.startswith("gb=")]
        assert 0 < len(parts) <= B, (table, parts)
    # the manifest side: root doc holds chunk names, not the catalog
    import json
    mdir = tmp_path / "s" / "manifests"
    root_doc = json.loads((mdir / "000000000001.json").read_text())
    assert "graphs" not in root_doc
    assert root_doc["n_graphs"] == n_graphs
    assert len(root_doc["chunks"]) == B
    # and reads still resolve every graph
    assert eng.edges("g000").count() == 2
    assert eng.edges().count() == 2 * n_graphs


def test_bucketed_snapshot_isolation_time_travel_and_diff(spark, tmp_path):
    eng = GraphEngine(spark, str(tmp_path / "s"), buckets=B)
    eng.add_graph("T", "2\n0 1\n0 0\n")                    # seq 1
    pre = eng.snapshot()
    eng.merge_edges(spark.createDataFrame(
        [("T", 1, 2, 5), ("T", 2, 1, 2)],
        "graph string, src int, dst int, w int"))          # seq 2
    assert {(r["src"], r["dst"], r["w"])
            for r in pre.weighted_edges("T").collect()} == {(1, 2, 1)}
    rows = {(r["src"], r["dst"]): (r["old_w"], r["new_w"], r["change"])
            for r in eng.diff(1, 2).collect()}
    assert rows == {(1, 2): (1, 5, "updated"), (2, 1): (0, 2, "added")}
    v1 = eng.snapshot(seq=1)
    assert {(r["src"], r["dst"]) for r in v1.edges("T").collect()} == {(1, 2)}


def test_bucketed_batched_kernels_match_per_graph(spark, tmp_path):
    eng = GraphEngine(spark, str(tmp_path / "s"), buckets=B)
    eng.add_graph("C", "4\n0 1 0 0\n1 0 0 0\n0 0 0 1\n0 0 1 0\n")
    eng.append_edges(spark.createDataFrame(
        [("R", 100, 205, 1), ("R", 205, 100, 1)],
        "graph string, src int, dst int, w int"))
    batched = {}
    for r in eng.cc_all().collect():
        batched.setdefault(r["graph"], set()).add((r["vid"], r["component"]))
    for name in ("C", "R"):
        want = {(r["vid"], r["component"])
                for r in eng.connected_components(name).collect()}
        assert batched[name] == want, name
    levels = {(r["graph"], r["vertex"], r["level"])
              for r in eng.bfs_all(1).collect()}
    assert levels == {("C", 1, 0), ("C", 2, 1)}


def test_layout_persists_and_legacy_stores_ignore_the_knob(spark, tmp_path):
    """The FIRST manifest decides the layout. A later engine WITHOUT
    the knob keeps writing bucketed; an engine WITH the knob on an
    existing unbucketed store keeps writing graph-partitioned."""
    # bucketed store, knob-less second engine
    e1 = GraphEngine(spark, str(tmp_path / "b"), buckets=B)
    e1.add_graph("A", "2\n0 1\n0 0\n")
    e2 = GraphEngine(spark, str(tmp_path / "b"))
    e2.add_graph("B", "2\n0 1\n1 0\n")
    edirs = os.listdir(tmp_path / "b" / "data" / "edges")
    for c in edirs:
        parts = os.listdir(tmp_path / "b" / "data" / "edges" / c)
        assert any(p.startswith("gb=") for p in parts), (c, parts)
    assert {(r["graph"], r["src"], r["dst"])
            for r in e2.edges().collect()} == {
        ("A", 1, 2), ("B", 1, 2), ("B", 2, 1)}
    # legacy store, knobbed second engine
    p1 = GraphEngine(spark, str(tmp_path / "p"))
    p1.add_graph("A", "2\n0 1\n0 0\n")
    p2 = GraphEngine(spark, str(tmp_path / "p"), buckets=B)
    p2.add_graph("B", "2\n0 1\n1 0\n")
    for c in os.listdir(tmp_path / "p" / "data" / "edges"):
        parts = os.listdir(tmp_path / "p" / "data" / "edges" / c)
        assert any(p.startswith("graph=") for p in parts), (c, parts)
    assert len(p2.edges().collect()) == 3


def test_many_graph_read_uses_semi_join_not_literal_isin(spark, tmp_path):
    """The all-graphs read restricts each commit scan to its
    still-current graphs; past a bounded list size that restriction
    must become a broadcast semi-join so the PLAN never grows
    O(catalog) (same discipline as the packed-id encode)."""
    eng = GraphEngine(spark, str(tmp_path / "s"), buckets=B)
    d = tmp_path / "graphs"
    d.mkdir()
    for i in range(300):  # > the 256 literal-isin bound
        (d / f"g{i:03d}.txt").write_text("2\n0 1\n0 0\n")
    eng.ingest_dir(str(d))
    df = eng.edges()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "g299" not in plan       # no 300-name literal IN list
    assert df.count() == 300
    assert eng.edges("g299").count() == 1


def test_bucketed_single_graph_read_prunes_to_one_bucket(spark, tmp_path):
    """The plan must show BOTH pruning layers: PartitionFilters pinning
    gb to the graph's CRC-32 bucket (one dir of B read, not all), and
    the graph equality pushed to the parquet scan (row-group stats
    prune within the bucket). Without the gb literal the read would
    list every bucket dir — the 108x single-graph-read regression the
    layout exists to avoid (BENCH_STORE_DIRS.json)."""
    import re

    from graphdatabase_spark.metastore import graph_bucket

    d = tmp_path / "g"
    d.mkdir()
    for i in range(20):
        (d / f"g{i:02d}.txt").write_text("2\n0 1\n1 0\n")
    eng = GraphEngine(spark, str(tmp_path / "s"), buckets=8)
    eng.ingest_dir(str(d))
    plan = (eng.edges("g07")._jdf.queryExecution()
            .executedPlan().toString())
    want_gb = graph_bucket("g07", 8)
    assert re.search(rf"PartitionFilters: \[isnotnull\(gb#\d+\), "
                     rf"\(gb#\d+ = {want_gb}\)\]", plan), plan
    assert "EqualTo(graph,g07)" in plan, plan


def test_concurrent_appends_merge_across_chunked_manifest(spark, tmp_path):
    """Two writers racing on a CHUNKED manifest must both land (the
    CAS loser re-applies onto the winner's root and rewrites only its
    own bucket chunks) — the multi-writer contract of the monolithic
    log, re-proven over the chunked encoding."""
    from graphdatabase_spark import metastore

    store = metastore.InMemoryManifestStore()
    eng = GraphEngine(spark, str(tmp_path / "s"), manifest_store=store,
                      buckets=B)
    fired = {}

    def interleave(name):
        if not fired:
            fired["x"] = True
            store.before_put = None
            GraphEngine(spark, eng.store, manifest_store=store,
                        buckets=B).append_edges(
                spark.createDataFrame([("other", 5, 6, 1)],
                                      "graph string, src int, dst int, w int"))

    store.before_put = interleave
    eng.append_edges(spark.createDataFrame(
        [("mine", 1, 2, 1)], "graph string, src int, dst int, w int"))
    assert eng.graphs() == ["mine", "other"]
    assert {(r["graph"], r["src"], r["dst"])
            for r in eng.edges().collect()} == {
        ("mine", 1, 2), ("other", 5, 6)}
    # the loser's retry reused the winner's untouched chunks: exactly
    # two roots and no more than 2*B chunk blobs exist
    roots = [n for n in store.list() if not n.startswith("chunk-")]
    assert len(roots) == 2
    final = eng.manifests.load()
    assert final["seq"] == 2 and len(final["graphs"]) == 2


def test_streaming_ingest_into_bucketed_store(spark, tmp_path):
    """The foreachBatch append-commit sink composes with the bucketed
    layout unchanged: commits land gb-partitioned, replays stay
    exactly-once through the manifest txn record."""
    from graphdatabase_spark.streaming.ingest import stream_edges_into_store

    eng = GraphEngine(spark, str(tmp_path / "store"), buckets=B)
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame([("W", 1, 2, 1), ("X", 3, 4, 2)],
                          "graph string, src int, dst int, w int") \
        .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    part = [f for f in os.listdir(tmp_path / "stage")
            if f.endswith(".parquet")][0]
    os.rename(tmp_path / "stage" / part, src / "b0.parquet")
    stream = spark.readStream.schema(
        "graph string, src int, dst int, w int").parquet(str(src))
    q = stream_edges_into_store(stream, eng, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert {(r["graph"], r["src"], r["dst"], r["w"])
            for r in eng.weighted_edges().collect()} == {
        ("W", 1, 2, 1), ("X", 3, 4, 2)}
    for c in os.listdir(tmp_path / "store" / "data" / "edges"):
        parts = os.listdir(tmp_path / "store" / "data" / "edges" / c)
        assert any(p.startswith("gb=") for p in parts)
    assert "txns" in eng.manifests.load()

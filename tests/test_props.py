"""Typed edge/vertex PROPERTY columns through the versioned store
(round-10: the property-graph extension the round-9 verdict named as
north-star territory). The reference's store has no properties at all
(``secondary_server.c:544-559`` — 0/1 matrix cells only); here any
write batch may carry extra typed columns, the store-wide property
schema lives in the manifest (evolution = NULL-backfill, type flips
fail loudly), and properties surface through snapshots, SQL views,
and motif structs."""

import pytest
from pyspark.sql import functions as F

from graphdatabase_spark.engine import GraphEngine

from tests.oracle import bfs_levels, dfs_leaves


@pytest.fixture()
def engine(spark, tmp_path):
    return GraphEngine(spark, str(tmp_path / "store"))


def _prop_edges(spark):
    return spark.createDataFrame(
        [("A", 1, 2, 3, "follows", 0.5), ("A", 2, 3, 1, "likes", 0.9),
         ("B", 1, 2, 2, "follows", 0.1)],
        "graph string, src int, dst int, w int, kind string, score double")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_edge_props_roundtrip_and_plain_kernel_shape(engine, spark):
    engine.append_edges(_prop_edges(spark))
    snap = engine.snapshot()
    assert snap.props == {"edges": {"kind": "string", "score": "double"}}
    assert _rows(snap.weighted_edges(props=True)) == [
        (1, 2, 2, "follows", 0.1, "B"), (1, 2, 3, "follows", 0.5, "A"),
        (2, 3, 1, "likes", 0.9, "A")]
    # the bare 4-column shape every kernel consumes is untouched
    assert snap.weighted_edges("A").columns == ["src", "dst", "w", "graph"]
    assert snap.vertices("A").columns == ["vid", "graph"]


def test_schema_evolution_null_backfills_older_commits(engine, spark):
    engine.append_edges(spark.createDataFrame(
        [("A", 1, 2, 1, "x")], "graph string, src int, dst int, w int, "
        "kind string"))
    # a later batch declares a NEW column; the earlier commit's rows
    # read it as NULL (explicit-schema scan backfill)
    engine.append_edges(spark.createDataFrame(
        [("A", 2, 3, 1, "y", 7)], "graph string, src int, dst int, "
        "w int, kind string, rank int"))
    assert engine.snapshot().props["edges"] == {"kind": "string",
                                                "rank": "int"}
    assert _rows(engine.snapshot().weighted_edges(props=True)) == [
        (1, 2, 1, "x", None, "A"), (2, 3, 1, "y", 7, "A")]


def test_type_conflicts_and_reserved_names_fail_loudly(engine, spark):
    engine.append_edges(spark.createDataFrame(
        [("A", 1, 2, 1, "x")], "graph string, src int, dst int, w int, "
        "kind string"))
    with pytest.raises(ValueError, match="store-wide"):
        engine.append_edges(spark.createDataFrame(
            [("A", 1, 3, 1, 5)], "graph string, src int, dst int, w int, "
            "kind int"))
    with pytest.raises(ValueError, match="reserved"):
        engine.append_edges(spark.createDataFrame(
            [("A", 1, 3, 1, 5)], "graph string, src int, dst int, w int, "
            "vid int"))
    with pytest.raises(ValueError, match="reserved"):
        engine.set_vertex_props(spark.createDataFrame(
            [("A", 1, 5)], "graph string, vid int, gb int"))


def test_propless_vertex_batch_is_membership_upsert(engine, spark):
    engine.append_edges(spark.createDataFrame(
        [("A", 1, 2, 1)], "graph string, src int, dst int, w int"))
    engine.set_vertex_props(spark.createDataFrame(
        [("A", 1, "alice")], "graph string, vid int, vname string"))
    # membership-only batch: adds the isolated vid 9, leaves vid 1's
    # property value untouched (NOT a row-level clobber)
    engine.set_vertex_props(spark.createDataFrame(
        [("A", 1), ("A", 9)], "graph string, vid int"))
    assert _rows(engine.snapshot().vertices("A", props=True)) == [
        (1, "alice", "A"), (2, None, "A"), (9, None, "A")]


def test_merge_upsert_is_row_level_over_props(engine, spark):
    engine.append_edges(_prop_edges(spark))
    adopted, skipped = engine.merge_edges(spark.createDataFrame(
        [("A", 1, 2, 9, "blocks")],
        "graph string, src int, dst int, w int, kind string"))
    assert adopted == {"A"} and not skipped
    # matched key takes the update row WHOLESALE: score (absent from
    # the batch) is NULL for it; untouched rows keep their values
    assert _rows(engine.snapshot().weighted_edges("A", props=True)) == [
        (1, 2, 9, "blocks", None, "A"), (2, 3, 1, "likes", 0.9, "A")]
    # delete keeps survivors' props intact
    engine.merge_edges(spark.createDataFrame(
        [("A", 1, 2)], "graph string, src int, dst int"), delete=True)
    assert _rows(engine.snapshot().weighted_edges("A", props=True)) == [
        (2, 3, 1, "likes", 0.9, "A")]


def test_vertex_props_upsert_and_membership(engine, spark):
    engine.append_edges(_prop_edges(spark))
    adopted, skipped = engine.set_vertex_props(spark.createDataFrame(
        [("A", 1, "alice"), ("A", 7, "grace")],
        "graph string, vid int, vname string"))
    assert adopted == {"A"} and not skipped
    snap = engine.snapshot()
    assert snap.props["vertices"] == {"vname": "string"}
    # vid 7 JOINED the graph (vertex with properties, no edges);
    # 2 and 3 keep membership with NULL props
    assert _rows(snap.vertices("A", props=True)) == [
        (1, "alice", "A"), (2, None, "A"), (3, None, "A"), (7, "grace", "A")]
    # meta bound holds for the propertied-in vid
    n = {r["graph"]: r["n"] for r in snap.meta().collect()}
    assert n["A"] >= 7
    # second upsert REPLACES the row (row-level semantics)
    engine.set_vertex_props(spark.createDataFrame(
        [("A", 1, "ALICE")], "graph string, vid int, vname string"))
    got = dict((r["vid"], r["vname"])
               for r in engine.snapshot().vertices("A", props=True).collect())
    assert got[1] == "ALICE" and got[7] == "grace"
    # edges were copied through unchanged with their props
    assert _rows(engine.snapshot().weighted_edges("A", props=True)) == [
        (1, 2, 3, "follows", 0.5, "A"), (2, 3, 1, "likes", 0.9, "A")]


def test_vertex_props_on_virgin_graph_creates_catalog_entry(engine, spark):
    engine.set_vertex_props(spark.createDataFrame(
        [("V", 4, 2.5)], "graph string, vid int, weight_kg double"))
    assert engine.graphs() == ["V"]
    assert _rows(engine.snapshot().vertices("V", props=True)) == [
        (4, 2.5, "V")]
    assert engine.snapshot().weighted_edges("V").count() == 0


def test_motif_structs_and_sql_views_carry_props(engine, spark):
    engine.append_edges(_prop_edges(spark))
    out = (engine.find("(a)-[e]->(b)", weighted=True)
           .filter("e.kind = 'follows' AND e.w >= 2")
           .select("graph", "a", "b", F.col("e.w").alias("w")))
    assert _rows(out) == [("A", 1, 2, 3), ("B", 1, 2, 2)]
    # SQL views expose the property columns; UPDATE preserves them
    engine.sql("UPDATE gdb_edges SET w = w + 10 WHERE src = 2")
    assert _rows(engine.sql(
        "SELECT graph, src, dst, w, kind, score FROM gdb_edges "
        "WHERE graph = 'A'")) == [
        ("A", 1, 2, 3, "follows", 0.5), ("A", 2, 3, 11, "likes", 0.9)]
    # UPDATE may assign a declared property column (store-wide type)
    engine.sql("UPDATE gdb_edges SET kind = upper(kind) WHERE graph = 'B'")
    assert _rows(engine.sql(
        "SELECT kind FROM gdb_edges WHERE graph = 'B'")) == [("FOLLOWS",)]
    # INSERT with a property in the column list, any order
    engine.sql("INSERT INTO gdb_edges (kind, graph, src, dst, w) "
               "VALUES ('x', 'C', 5, 6, 2)")
    assert _rows(engine.sql(
        "SELECT graph, src, dst, w, kind, score FROM gdb_edges "
        "WHERE graph = 'C'")) == [("C", 5, 6, 2, "x", None)]
    # positional VALUES cannot reach beyond (graph, src, dst, w)
    with pytest.raises(ValueError, match="explicit column list"):
        engine.sql("INSERT INTO gdb_edges VALUES ('C', 7, 8, 1, 'y')")


def test_compact_time_travel_and_overwrite_semantics(engine, spark):
    engine.append_edges(_prop_edges(spark))                    # seq 1
    engine.merge_edges(spark.createDataFrame(
        [("A", 1, 2, 9, "blocks")],
        "graph string, src int, dst int, w int, kind string"))  # seq 2
    engine.compact()                                           # seq 3
    assert _rows(engine.snapshot().weighted_edges("A", props=True)) == [
        (1, 2, 9, "blocks", None, "A"), (2, 3, 1, "likes", 0.9, "A")]
    # time travel: the pre-merge snapshot still reads its prop values
    old = engine.snapshot(seq=1)
    assert _rows(old.weighted_edges("A", props=True)) == [
        (1, 2, 3, "follows", 0.5, "A"), (2, 3, 1, "likes", 0.9, "A")]
    # a full overwrite (op 1/2) drops the graph's property VALUES —
    # its state is replaced wholesale — but the store-wide schema
    # persists and other graphs keep their values
    engine.add_graph("A", "2\n0 1\n0 0\n")
    snap = engine.snapshot()
    assert snap.props["edges"] == {"kind": "string", "score": "double"}
    assert _rows(snap.weighted_edges("A", props=True)) == [
        (1, 2, 1, None, None, "A")]
    assert _rows(snap.weighted_edges("B", props=True)) == [
        (1, 2, 2, "follows", 0.1, "B")]


def test_props_on_bucketed_store(spark, tmp_path):
    eng = GraphEngine(spark, str(tmp_path / "b"), buckets=4)
    eng.append_edges(_prop_edges(spark))
    eng.set_vertex_props(spark.createDataFrame(
        [("B", 2, "bob")], "graph string, vid int, vname string"))
    assert _rows(eng.snapshot().weighted_edges("B", props=True)) == [
        (1, 2, 2, "follows", 0.1, "B")]
    assert _rows(eng.snapshot().vertices("B", props=True)) == [
        (1, None, "B"), (2, "bob", "B")]


def test_comma_typed_props_survive_schema_parse(engine, spark):
    """decimal(p,s)/map types contain commas — the snapshot's DDL
    parse must not split on them."""
    engine.append_edges(spark.createDataFrame(
        [("A", 1, 2, 1, None)],
        "graph string, src int, dst int, w int, cost decimal(10,2)"))
    from decimal import Decimal
    engine.merge_edges(spark.createDataFrame(
        [("A", 1, 2, 1, Decimal("3.50"))],
        "graph string, src int, dst int, w int, cost decimal(10,2)"))
    assert _rows(engine.snapshot().weighted_edges("A", props=True)) == [
        (1, 2, 1, Decimal("3.50"), "A")]


def test_vertex_upsert_reports_non_adoption(spark, tmp_path):
    """set_vertex_props has merge_edges' CAS economics: a concurrent
    overwrite mid-upsert wins, and the skipped graph is REPORTED."""
    from graphdatabase_spark import metastore

    store = metastore.InMemoryManifestStore()
    eng = GraphEngine(spark, str(tmp_path / "s"), manifest_store=store)
    eng.add_graph("M", "2\n0 1\n0 0\n")
    fired = {}

    def interleave(name):
        if not fired:
            fired["x"] = True
            store.before_put = None
            GraphEngine(spark, eng.store, manifest_store=store) \
                .modify_graph("M", "2\n0 0\n1 0\n")

    store.before_put = interleave
    adopted, skipped = eng.set_vertex_props(spark.createDataFrame(
        [("M", 1, "x")], "graph string, vid int, tag string"))
    assert adopted == frozenset() and skipped == {"M"}
    # the concurrent writer's state won; no property schema declared
    # by the unadopted upsert? the manifest column schema IS declared
    # only on adoption — nothing published means nothing declared
    assert "props" not in (eng.manifests.load() or {})


def test_case_variant_prop_names_are_one_column(engine, spark):
    """Review r10: Spark resolves columns case-insensitively, so a
    batch spelling a declared property differently must MERGE into the
    declared column (manifest never holds case-duplicates — that would
    brick every props-aware read), and reads keep working."""
    engine.append_edges(spark.createDataFrame(
        [("A", 1, 2, 1, "x")],
        "graph string, src int, dst int, w int, Kind string"))
    engine.append_edges(spark.createDataFrame(
        [("A", 2, 3, 1, "y")],
        "graph string, src int, dst int, w int, kind string"))
    snap = engine.snapshot()
    assert list(snap.props["edges"]) == ["Kind"]   # first spelling wins
    assert _rows(snap.weighted_edges(props=True)) == [
        (1, 2, 1, "x", "A"), (2, 3, 1, "y", "A")]
    # type conflict still detected across case variants
    with pytest.raises(ValueError, match="store-wide"):
        engine.append_edges(spark.createDataFrame(
            [("A", 3, 4, 1, 9)],
            "graph string, src int, dst int, w int, KIND int"))
    # intra-batch case duplicates fail loudly
    with pytest.raises(ValueError, match="differ only by case"):
        engine.append_edges(
            spark.createDataFrame([("A", 5, 6, 1, "a", "b")],
                                  "graph string, src int, dst int, "
                                  "w int, tag string, TAG string"))
    # SQL UPDATE resolves the declared spelling case-insensitively
    engine.sql("UPDATE gdb_edges SET kind = upper(Kind) WHERE src = 1")
    got = {(r["src"], r["Kind"]) for r in engine.sql(
        "SELECT src, Kind FROM gdb_edges").collect()}
    assert got == {(1, "X"), (2, "y")}


def test_uppercase_weight_column_is_not_defaulted(engine, spark):
    """Review r10: a batch carrying 'W' must keep its weights — the
    presence check is case-insensitive like Spark's resolver."""
    engine.append_edges(spark.createDataFrame(
        [("A", 1, 2, 5)], "graph string, src int, dst int, W int"))
    assert _rows(engine.weighted_edges("A")) == [(1, 2, 5, "A")]


def test_pinned_snapshot_catches_read_modify_write_race(engine, spark):
    """Review r10: a caller that computed its updates from an earlier
    snapshot passes it to merge_edges/set_vertex_props so a write
    landing in between SKIPS loudly instead of being overwritten by
    stale rows."""
    engine.sql("INSERT INTO gdb_edges VALUES ('R', 1, 2, 1)")
    old = engine.snapshot()
    stale = old.weighted_edges("R").withColumn("w", F.col("w") + 10)
    engine.add_graph("R", "2\n0 0\n1 0\n")  # concurrent overwrite
    adopted, skipped = engine.merge_edges(stale, pinned_snapshot=old)
    assert adopted == frozenset() and skipped == {"R"}
    # the concurrent writer's state survived
    assert _rows(engine.weighted_edges("R")) == [(2, 1, 1, "R")]
    # same contract for vertex upserts
    old = engine.snapshot()
    engine.add_graph("R", "2\n0 1\n0 0\n")
    a, s = engine.set_vertex_props(
        spark.createDataFrame([("R", 1, "x")],
                              "graph string, vid int, tag string"),
        pinned_snapshot=old)
    assert a == frozenset() and s == {"R"}


def _vmap(eng, name="A"):
    return {r["vid"]: tuple(r)[1:-1]
            for r in eng.snapshot().vertices(name, props=True).collect()}


def test_delta_upsert_equals_cow_results(spark, tmp_path):
    """Merge-on-read (round-11 verdict item 6): the SAME upsert
    sequence applied mode='delta' vs mode='cow' must read back
    identically — wholesale-row replacement, membership joins,
    NULL-backfill for batch-absent props, latest delta wins."""
    batches = [
        [("A", 1, "alice", 30), ("A", 7, "grace", 40)],
        [("A", 1, "ALICE", None), ("B", 9, "bob", 20)],
        [("A", 2, None, 55)],
    ]
    engines = {}
    for mode in ("cow", "delta"):
        eng = GraphEngine(spark, str(tmp_path / mode))
        eng.append_edges(_prop_edges(spark))
        for b in batches:
            adopted, skipped = eng.set_vertex_props(
                spark.createDataFrame(
                    b, "graph string, vid int, vname string, age int"),
                mode=mode)
            assert adopted and not skipped
        engines[mode] = eng
    for name in ("A", "B"):
        assert _vmap(engines["delta"], name) == _vmap(engines["cow"], name), \
            name
    # the delta store's chain really is append-shaped (no COW rewrite):
    # base commit + 3 delta commits for A, and the manifest marks them
    m = engines["delta"].manifests.load()
    chain_a = m["graphs"]["A"]
    assert isinstance(chain_a, list) and len(chain_a) == 4
    assert set(chain_a[1:]) <= set(m["vdeltas"])
    # membership read (props=False) sees delta-created vids too
    assert {r["vid"] for r in
            engines["delta"].snapshot().vertices("A").collect()} \
        == {1, 2, 3, 7}


def test_delta_propless_batch_keeps_props(spark, tmp_path):
    """A prop-less delta batch is a MEMBERSHIP append: matched keys
    keep their property values (never nulled through the wholesale
    merge rule), new vids join bare — the same contract as COW."""
    eng = GraphEngine(spark, str(tmp_path / "d"))
    eng.append_edges(_prop_edges(spark))
    eng.set_vertex_props(spark.createDataFrame(
        [("A", 1, "alice")], "graph string, vid int, vname string"),
        mode="delta")
    eng.set_vertex_props(spark.createDataFrame(
        [("A", 1), ("A", 9)], "graph string, vid int"), mode="delta")
    got = _vmap(eng)
    assert got[1] == ("alice",) and got[9] == (None,)
    # the membership commit is chained but NOT marked as a prop delta
    m = eng.manifests.load()
    assert len(m["graphs"]["A"]) == 3 and len(m["vdeltas"]) == 1


def test_delta_survives_other_writes_and_compact(spark, tmp_path):
    """vdeltas rides through every other writer's manifest commit
    (append/merge/ALTER), a COW flip of one graph leaves another
    graph's deltas intact, and compact() collapses deltas into plain
    rows with identical read-back."""
    eng = GraphEngine(spark, str(tmp_path / "s"), buckets=4)
    eng.append_edges(_prop_edges(spark))
    eng.set_vertex_props(spark.createDataFrame(
        [("A", 1, "alice")], "graph string, vid int, vname string"),
        mode="delta")
    # unrelated writers between the delta and the read
    eng.append_edges(spark.createDataFrame(
        [("B", 5, 6, 1)], "graph string, src int, dst int, w int"))
    eng.declare_prop("edges", "note", "string")
    eng.set_vertex_props(spark.createDataFrame(
        [("B", 5, "bea")], "graph string, vid int, vname string"))  # COW on B
    assert eng.manifests.load().get("vdeltas"), "vdeltas dropped by a writer"
    assert _vmap(eng)[1] == ("alice",)
    assert _vmap(eng, "B")[5] == ("bea",)
    before_a, before_b = _vmap(eng), _vmap(eng, "B")
    eng.compact()
    m = eng.manifests.load()
    assert not isinstance(m["graphs"]["A"], list) or \
        len(m["graphs"]["A"]) == 1
    assert _vmap(eng) == before_a and _vmap(eng, "B") == before_b
    # post-compact snapshot reads the single commit; compaction also
    # PRUNES the vdeltas set to ids some chain still references —
    # here none survive, so the set is gone (a long-lived store's
    # manifest must not accumulate stale delta ids forever)
    live = set()
    for ptr in m["graphs"].values():
        live.update(ptr if isinstance(ptr, list) else [ptr])
    assert not live & set(m.get("vdeltas", []))
    assert not m.get("vdeltas"), m.get("vdeltas")


def _edgemap(eng, name=None):
    return {(r["graph"], r["src"], r["dst"]): tuple(r)[2:-1]
            for r in eng.snapshot()
            .weighted_edges(name, props=True).collect()}


def test_edge_delta_merge_equals_cow(spark, tmp_path):
    """merge_edges(mode='delta') — the edge-side MoR twin: the same
    upsert/delete sequence applied delta vs COW must read back
    identically through weighted_edges AND bare edges (latest delta
    wins wholesale, w=0 markers delete, batch-absent props NULL)."""
    ups = [
        (False, [("A", 1, 2, 9, "x"), ("A", 9, 9, 4, "new")]),
        (False, [("A", 9, 9, 7, None), ("B", 1, 2, 2, "b")]),
        (True, [("A", 2, 3)]),
    ]
    engines = {}
    for mode in ("cow", "delta"):
        eng = GraphEngine(spark, str(tmp_path / mode), buckets=4)
        eng.append_edges(_prop_edges(spark))
        for is_del, rows in ups:
            if is_del:
                df = spark.createDataFrame(
                    rows, "graph string, src int, dst int")
                out = eng.merge_edges(df, delete=True, mode=mode)
            else:
                df = spark.createDataFrame(
                    rows, "graph string, src int, dst int, w int, "
                          "kind string")
                out = eng.merge_edges(df, mode=mode)
            assert out[0] and not out[1]
        engines[mode] = eng
    assert _edgemap(engines["delta"]) == _edgemap(engines["cow"])
    bare = {m: {(r["graph"], r["src"], r["dst"]) for r in
                engines[m].snapshot().edges().collect()}
            for m in engines}
    assert bare["delta"] == bare["cow"]
    assert ("A", 2, 3) not in bare["delta"]          # deleted key gone
    # the delta store never rewrote: base + 3 chained deltas
    m = engines["delta"].manifests.load()
    assert len(m["graphs"]["A"]) == 4
    assert set(m["graphs"]["A"][1:]) <= set(m["edeltas"])
    # inserted endpoint vid 9 joined membership; graph B was CREATED
    # by a delta upsert
    assert 9 in {r["vid"] for r in
                 engines["delta"].snapshot().vertices("A").collect()}
    assert "B" in engines["delta"].graphs()


def test_edge_delta_delete_of_prior_delta_and_kernels(spark, tmp_path):
    """A delete marker beats an earlier delta upsert of the same key
    (chain-position order), kernels traverse the MERGED edge set, and
    compact() collapses the chain with identical read-back + pruned
    edeltas."""
    eng = GraphEngine(spark, str(tmp_path / "k"))
    eng.add_graph("G", "3\n0 1 0\n0 0 1\n0 0 0\n")     # 1->2->3
    df = spark.createDataFrame([("G", 1, 3, 1)],
                               "graph string, src int, dst int, w int")
    eng.merge_edges(df, mode="delta")                  # add shortcut 1->3
    levels = {r["vertex"]: r["level"] for r in eng.bfs("G", 1).collect()}
    assert levels[3] == 1                              # kernel sees delta
    assert levels == bfs_levels([(1, 2), (2, 3), (1, 3)], 1)
    assert sorted(r["leaf"] for r in eng.dfs_leaves("G", 1).collect()) == \
        dfs_leaves([(1, 2), (2, 3), (1, 3)], 1)
    eng.merge_edges(spark.createDataFrame(
        [("G", 1, 3)], "graph string, src int, dst int"),
        delete=True, mode="delta")                     # delete it again
    levels = {r["vertex"]: r["level"] for r in eng.bfs("G", 1).collect()}
    assert levels[3] == 2                              # marker honored
    assert levels == bfs_levels([(1, 2), (2, 3)], 1)
    before = _edgemap(eng, "G")
    eng.compact()
    m = eng.manifests.load()
    assert not m.get("edeltas")                        # pruned
    assert _edgemap(eng, "G") == before


def test_append_after_delta_delete_survives(spark, tmp_path):
    """Chain-ORDER MoR (round-12 advice, high): a delta only overrides
    commits EARLIER in the chain — Delta/Iceberg's rule that delete
    files apply only to data files present at delete-commit time. An
    append landing AFTER a delta delete marker of the same key must
    read back, and compact() must keep it."""
    eng = GraphEngine(spark, str(tmp_path / "co"))
    eng.append_edges(spark.createDataFrame(
        [("G", 1, 2, 1)], "graph string, src int, dst int, w int"))
    eng.merge_edges(spark.createDataFrame(
        [("G", 1, 2)], "graph string, src int, dst int"),
        delete=True, mode="delta")
    # masked at this point: the delete marker beats the earlier append
    assert _edgemap(eng, "G") == {}
    eng.append_edges(spark.createDataFrame(
        [("G", 1, 2, 9)], "graph string, src int, dst int, w int"))
    assert _edgemap(eng, "G") == {("G", 1, 2): (9,)}, \
        "append after delta delete masked by the earlier marker"
    eng.compact()
    assert _edgemap(eng, "G") == {("G", 1, 2): (9,)}, \
        "compact() discarded the re-inserted row"
    assert not eng.manifests.load().get("edeltas")


def test_append_after_delta_upsert_coexists(spark, tmp_path):
    """Base rows after a delta UPSERT are additional data files: the
    upsert row and the later append row coexist (multiset append
    semantics), exactly as two appends would without any delta."""
    eng = GraphEngine(spark, str(tmp_path / "cu"))
    eng.append_edges(spark.createDataFrame(
        [("G", 1, 2, 1)], "graph string, src int, dst int, w int"))
    eng.merge_edges(spark.createDataFrame(
        [("G", 1, 2, 5)], "graph string, src int, dst int, w int"),
        mode="delta")
    eng.append_edges(spark.createDataFrame(
        [("G", 1, 2, 9)], "graph string, src int, dst int, w int"))
    ws = sorted(r["w"] for r in
                eng.snapshot().weighted_edges("G").collect())
    assert ws == [5, 9]                     # upsert@1 replaced base@0;
    #                                         append@2 adds a new row


def test_delta_upsert_collapses_duplicate_base_keys(spark, tmp_path):
    """Round-12 advice (low): an append chain holding the same key
    twice, then a delta upsert of that key — the read must collapse to
    ONE row (the COW merge read-back), not two identical merged rows.
    Position-resolution gives this for free: both duplicates sit at
    lower chain positions than the delta."""
    eng = GraphEngine(spark, str(tmp_path / "dd"))
    for w in (1, 2):
        eng.append_edges(spark.createDataFrame(
            [("G", 1, 2, w)], "graph string, src int, dst int, w int"))
    eng.merge_edges(spark.createDataFrame(
        [("G", 1, 2, 7)], "graph string, src int, dst int, w int"),
        mode="delta")
    rows = eng.snapshot().weighted_edges("G").collect()
    assert [(r["src"], r["dst"], r["w"]) for r in rows] == [(1, 2, 7)]
    # untouched duplicate keys keep multiset semantics (same as the
    # no-delta read)
    for w in (3, 4):
        eng.append_edges(spark.createDataFrame(
            [("G", 5, 6, w)], "graph string, src int, dst int, w int"))
    ws = sorted(r["w"] for r in
                eng.snapshot().weighted_edges("G")
                .filter("src = 5").collect())
    assert ws == [3, 4]


def test_compact_policy_caps_delta_chains(spark, tmp_path):
    """Round-12 verdict item 3: compact_policy(max_deltas=K) keeps a
    long delta-write sequence's chains at <= K deltas (auto-triggered
    selective compaction after the write that exceeds K), with
    read-back identical to an unpoliced twin store at every step."""
    engines = {}
    for tag in ("policed", "free"):
        eng = GraphEngine(spark, str(tmp_path / tag))
        eng.append_edges(spark.createDataFrame(
            [("A", 1, 2, 1), ("B", 1, 2, 1)],
            "graph string, src int, dst int, w int"))
        engines[tag] = eng
    engines["policed"].compact_policy(max_deltas=2)
    for i in range(7):
        # alternate edge upserts and vertex-prop deltas on A; B stays
        # untouched so the SELECTIVE trigger is observable
        for eng in engines.values():
            if i % 2 == 0:
                eng.merge_edges(spark.createDataFrame(
                    [("A", 1, 2, i + 2)],
                    "graph string, src int, dst int, w int"),
                    mode="delta")
            else:
                eng.set_vertex_props(spark.createDataFrame(
                    [("A", 1, f"t{i}")], "graph string, vid int, tag string"),
                    mode="delta")
        assert _edgemap(engines["policed"], "A") == \
            _edgemap(engines["free"], "A")
        assert _vmap(engines["policed"], "A") == _vmap(engines["free"], "A")
        m = engines["policed"].manifests.load()
        dset = set(m.get("vdeltas", [])) | set(m.get("edeltas", []))
        n_deltas = sum(c in dset for c in m["graphs"]["A"])
        assert n_deltas <= 2, f"step {i}: {n_deltas} deltas survived"
    # the unpoliced twin really accumulated a long chain (the policy
    # did real work), and B was never rewritten by the trigger
    mf = engines["free"].manifests.load()
    assert len(mf["graphs"]["A"]) == 8
    assert len(engines["policed"].manifests.load()["graphs"]["B"]) == 1
    # disarm: chains grow past K again (3 new deltas on top of the
    # one the capped loop legitimately left behind)
    engines["policed"].compact_policy(None)
    for i in range(3):
        engines["policed"].merge_edges(spark.createDataFrame(
            [("A", 1, 2, 50 + i)], "graph string, src int, dst int, w int"),
            mode="delta")
    m = engines["policed"].manifests.load()
    dset = set(m.get("vdeltas", [])) | set(m.get("edeltas", []))
    assert sum(c in dset for c in m["graphs"]["A"]) == 4


def test_compact_policy_caps_append_chains(spark, tmp_path):
    """compact_policy(max_chain=M) also bounds PLAIN append chains
    (the streaming-ingest shape: each batch extends the chain and
    costs one scan per commit at read) — and the exactly-once txn
    ledger rides through the policy's compactions."""
    from graphdatabase_spark.engine import _cids

    eng = GraphEngine(spark, str(tmp_path / "ac"))
    eng.compact_policy(max_chain=3)
    for i in range(8):
        assert eng.append_edges(spark.createDataFrame(
            [("S", 1, i + 2, 1)], "graph string, src int, dst int, w int"),
            txn_app="sink", txn_version=i)
        m = eng.manifests.load()
        assert len(_cids(m["graphs"]["S"])) <= 3
    # all 8 batches' rows present; replay of an applied version no-ops
    assert eng.snapshot().edges("S").count() == 8
    assert not eng.append_edges(spark.createDataFrame(
        [("S", 1, 99, 1)], "graph string, src int, dst int, w int"),
        txn_app="sink", txn_version=3)
    assert eng.snapshot().edges("S").count() == 8


def test_mor_chain_semantics_match_reference_model(spark, tmp_path):
    """Model-based check of the chain-order merge-on-read semantics:
    seeded random sequences of append / delta-upsert / delta-delete /
    compact against a tiny key space, read-back compared after every
    op to a pure-Python reference model implementing the documented
    rule — per key, the LATEST delta replaces all base rows at lower
    chain positions (w=0 marker deletes), base rows after it survive,
    no-delta keys keep multiset append semantics, compact materializes
    the merged view."""
    import random

    KEYS = [(1, 2), (1, 3), (2, 3)]

    def model_read(chain):
        # chain: list of (kind, payload); base payload = [(key, w)]
        # multiset, delta/delete payload = {key: w}
        out = []
        for key in KEYS:
            dp = dw = None
            for pos, (kind, rows) in enumerate(chain):
                if kind in ("delta", "delete") and key in rows:
                    dp = pos
                    dw = 0 if kind == "delete" else rows[key]
            for pos, (kind, rows) in enumerate(chain):
                if kind == "base" and (dp is None or pos > dp):
                    out.extend((*key, w) for (k, w) in rows if k == key)
            if dp is not None and dw != 0:
                out.append((*key, dw))
        return sorted(out)

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        eng = GraphEngine(spark, str(tmp_path / f"m{seed}"))
        chain = []
        for step in range(7):
            op = rng.choice(["base", "base", "delta", "delete", "compact"])
            if op == "compact":
                eng.compact()
                if chain:
                    chain = [("base",
                              [((s, d), w)
                               for (s, d, w) in model_read(chain)])]
            elif op == "delete" and not chain:
                continue            # delete on an unknown graph no-ops
            else:
                ks = rng.sample(KEYS, rng.randint(1, len(KEYS)))
                w = step + 1
                if op == "base":
                    eng.append_edges(spark.createDataFrame(
                        [("G", s, d, w) for (s, d) in ks],
                        "graph string, src int, dst int, w int"))
                    chain.append(("base", [((s, d), w) for (s, d) in ks]))
                elif op == "delta":
                    eng.merge_edges(spark.createDataFrame(
                        [("G", s, d, w) for (s, d) in ks],
                        "graph string, src int, dst int, w int"),
                        mode="delta")
                    chain.append(("delta", {k: w for k in ks}))
                else:
                    eng.merge_edges(spark.createDataFrame(
                        [("G", s, d) for (s, d) in ks],
                        "graph string, src int, dst int"),
                        delete=True, mode="delta")
                    chain.append(("delete", {k: 0 for k in ks}))
            got = sorted((r["src"], r["dst"], r["w"]) for r in
                         eng.snapshot().weighted_edges("G").collect()) \
                if chain else []
            assert got == model_read(chain), \
                f"seed {seed} step {step} op {op}: " \
                f"{got} != {model_read(chain)}"


# --- RENAME COLUMN / DROP COLUMN (round-14: column-mapping schema
# --- evolution beyond ADD COLUMN) --------------------------------------


def test_rename_column_is_metadata_only_and_maps_reads(engine, spark):
    engine.append_edges(_prop_edges(spark))
    assert engine.rename_prop("edges", "kind", "category") is True
    snap = engine.snapshot()
    assert snap.props == {"edges": {"category": "string",
                                    "score": "double"}}
    # pre-rename rows read through the mapping under the NEW name
    assert _rows(snap.weighted_edges(props=True)) == [
        (1, 2, 2, "follows", 0.1, "B"), (1, 2, 3, "follows", 0.5, "A"),
        (2, 3, 1, "likes", 0.9, "A")]
    # a post-rename write carries the LOGICAL name and lands under the
    # original physical column — one schema spans both commits
    engine.append_edges(spark.createDataFrame(
        [("C", 7, 8, 1, "mentions", 0.3)],
        "graph string, src int, dst int, w int, category string, "
        "score double"))
    got = _rows(engine.snapshot().weighted_edges(props=True))
    assert (7, 8, 1, "mentions", 0.3, "C") in got and len(got) == 4
    # the data file really holds the PHYSICAL column (kind, not
    # category): raw parquet read of the new commit
    import os
    cid = engine.snapshot().manifest["commit"]
    raw = spark.read.parquet(
        os.path.join(engine.store, "data", "edges", f"c={cid}"))
    assert "kind" in raw.columns and "category" not in raw.columns


def test_rename_column_time_travel_shows_historical_name(engine, spark):
    engine.append_edges(_prop_edges(spark))
    seq_before = engine.snapshot().manifest["seq"]
    engine.rename_prop("edges", "kind", "category")
    old = engine.snapshot(seq_before)
    # the Delta convention: a snapshot pinned before the rename reads
    # the HISTORICAL schema
    assert "kind" in old.props["edges"]
    assert _rows(old.weighted_edges(props=True)) == [
        (1, 2, 2, "follows", 0.1, "B"), (1, 2, 3, "follows", 0.5, "A"),
        (2, 3, 1, "likes", 0.9, "A")]
    # and RESTORE to before the rename brings the old name back
    engine.restore(seq_before)
    assert "kind" in engine.snapshot().props["edges"]
    assert _rows(engine.snapshot().weighted_edges(props=True)) == [
        (1, 2, 2, "follows", 0.1, "B"), (1, 2, 3, "follows", 0.5, "A"),
        (2, 3, 1, "likes", 0.9, "A")]


def test_rename_column_guards(engine, spark):
    import pytest
    engine.append_edges(_prop_edges(spark))
    with pytest.raises(ValueError, match="no declared property"):
        engine.rename_prop("edges", "nope", "x")
    with pytest.raises(ValueError, match="already declares"):
        engine.rename_prop("edges", "kind", "score")
    with pytest.raises(ValueError, match="reserved"):
        engine.rename_prop("edges", "kind", "graph")
    assert engine.rename_prop("edges", "kind", "kind") is False
    # a NEW property may not claim the physical name a renamed column
    # still reads from (old rows would surface under the new logical)
    engine.rename_prop("edges", "kind", "category")
    with pytest.raises(ValueError, match="DROPPED or RENAMED"):
        engine.append_edges(spark.createDataFrame(
            [("D", 1, 2, 1, "oops")],
            "graph string, src int, dst int, w int, kind string"))
    # rename BACK clears the mapping: kind usable again as itself
    engine.rename_prop("edges", "category", "kind")
    assert engine.snapshot().manifest.get("colmap", {}).get("edges", {}) \
        == {}
    engine.append_edges(spark.createDataFrame(
        [("D", 1, 2, 1, "fine")],
        "graph string, src int, dst int, w int, kind string"))


def test_drop_column_everywhere_and_tombstoned(engine, spark):
    import pytest
    engine.append_edges(_prop_edges(spark))
    seq_before = engine.snapshot().manifest["seq"]
    assert engine.drop_prop("edges", "score") is True
    snap = engine.snapshot()
    assert snap.props == {"edges": {"kind": "string"}}
    assert _rows(snap.weighted_edges(props=True)) == [
        (1, 2, 2, "follows", "B"), (1, 2, 3, "follows", "A"),
        (2, 3, 1, "likes", "A")]
    # time travel still reads the dropped column
    assert _rows(engine.snapshot(seq_before).weighted_edges(props=True)) == [
        (1, 2, 2, "follows", 0.1, "B"), (1, 2, 3, "follows", 0.5, "A"),
        (2, 3, 1, "likes", 0.9, "A")]
    # re-declaring the dropped name fails loudly (stale values in old
    # files would resurrect) — via write AND via declare_prop
    with pytest.raises(ValueError, match="DROPPED or RENAMED"):
        engine.append_edges(spark.createDataFrame(
            [("D", 1, 2, 1, 0.7)],
            "graph string, src int, dst int, w int, score double"))
    with pytest.raises(ValueError, match="DROPPED or RENAMED"):
        engine.declare_prop("edges", "score", "double")
    with pytest.raises(ValueError, match="no declared property"):
        engine.drop_prop("edges", "nope")
    # a fresh name is fine
    assert engine.declare_prop("edges", "score2", "double") is True


@pytest.mark.parametrize("trigger", ["compact", "policy"])
def test_compact_beside_deltas_keeps_column_mapping(engine, spark, trigger):
    """A compaction of a store that holds delta commits carries the
    column mapping like every other publish: without ``colmap`` the
    renamed column reads as NULL, without ``ptomb`` the dropped name
    could be re-declared over its stale values. The auto-compaction
    policy reaches the same publish."""
    engine.append_edges(_prop_edges(spark))
    engine.rename_prop("edges", "kind", "category")
    engine.drop_prop("edges", "score")
    if trigger == "policy":
        engine.compact_policy(max_deltas=1)
    for _ in range(2 if trigger == "policy" else 1):
        engine.merge_edges(spark.createDataFrame(
            [("B", 5, 6, 1)], "graph string, src int, dst int, w int"),
            mode="delta")
    if trigger == "compact":
        engine.compact()
    snap = engine.snapshot()
    assert snap.manifest["graphs"]["B"] == snap.manifest["commit"]
    assert _rows(snap.weighted_edges("B", props=True)) == [
        (1, 2, 2, "follows", "B"), (5, 6, 1, None, "B")]
    assert snap.manifest["colmap"] == {"edges": {"category": "kind"}}
    assert snap.manifest["ptomb"] == {"edges": ["score"]}
    with pytest.raises(ValueError, match="DROPPED or RENAMED"):
        engine.declare_prop("edges", "score", "int")


def test_rename_drop_sql_spellings_and_vertex_mor(engine, spark):
    """The SQL grammar drives the same paths, and the vertex
    merge-on-read window keeps working through a rename."""
    engine.append_edges(_prop_edges(spark))
    engine.set_vertex_props(spark.createDataFrame(
        [("A", 1, "x"), ("A", 2, "y")],
        "graph string, vid int, tag string"), mode="delta")
    engine.sql("ALTER TABLE gdb_vertices RENAME COLUMN tag TO label2")
    got = sorted((r["vid"], r["label2"]) for r in
                 engine.snapshot().vertices("A", props=True).collect())
    assert got == [(1, "x"), (2, "y"), (3, None)]
    engine.sql("ALTER TABLE gdb_edges DROP COLUMN score")
    assert engine.snapshot().props["edges"] == {"kind": "string"}
    engine.sql("ALTER TABLE gdb_edges RENAME COLUMN kind TO category")
    assert engine.snapshot().props["edges"] == {"category": "string"}


def test_model_schema_evolution_random_interleaving(spark, tmp_path):
    """Model-based check of the COLUMN-MAPPING layer: random
    interleavings of COW merges (wholesale-row upserts, sometimes
    introducing a fresh property column), RENAME COLUMN, DROP COLUMN,
    ALTER ADD, and compaction, against a driver-side dict model that
    only ever speaks LOGICAL names — so any leak of a physical name
    through a read, any lost mapping through a write or a compaction
    rewrite, and any declaration-order drift shows up as a mismatch.
    Two randomly chosen HISTORICAL states are re-read at the end via
    time travel (the historical schema must be the historical one)."""
    import copy
    import random

    from graphdatabase_spark.engine import GraphEngine

    KEYS = [("G", s, d) for s in (1, 2) for d in (1, 2, 3)]
    for seed in (7, 23, 61):
        rng = random.Random(seed)
        eng = GraphEngine(spark, str(tmp_path / f"m{seed}" / "store"),
                          buckets=2)
        model: dict[tuple, dict] = {}     # key -> {"w": int, "p": {col: val}}
        schema: list[str] = []            # declared order, logical names
        phys: dict[str, str] = {}         # logical -> physical mirror
        tombs: set[str] = set()           # tombstoned physicals
        counter = 0
        history: list[tuple[int, list, dict]] = []
        for step in range(12):
            op = rng.choice(["merge", "merge", "merge", "rename",
                             "drop", "declare", "compact"])
            if op == "merge":
                keys = rng.sample(KEYS, rng.randint(1, 3))
                cols = [c for c in schema if rng.random() < 0.5]
                if rng.random() < 0.4:
                    counter += 1
                    cols.append(f"c{counter}")
                w = step + 1
                vals = {c: rng.randint(0, 99) for c in cols}
                rows = [(g, s, d, w, *[vals[c] for c in cols])
                        for (g, s, d) in keys]
                ddl = ("graph string, src int, dst int, w int"
                       + "".join(f", {c} int" for c in cols))
                eng.merge_edges(spark.createDataFrame(rows, ddl))
                for c in cols:
                    if c not in schema:
                        schema.append(c)
                for k in keys:
                    model[k] = {"w": w, "p": dict(vals)}
            elif op == "rename" and schema:
                old = rng.choice(schema)
                # with retired physicals around, first try an ILLEGAL
                # rename onto one (another live column's physical or a
                # tombstone — never old's own physical, which is the
                # legal un-rename): must raise and change nothing (the
                # read-back assert below sees the unchanged store)
                retired = {p for l, p in phys.items()
                           if p != l and l != old} | tombs
                retired -= {phys.get(old, old)}
                if retired and rng.random() < 0.5:
                    with pytest.raises(ValueError, match="physical"):
                        eng.rename_prop("edges", old,
                                        rng.choice(sorted(retired)))
                counter += 1
                new = f"c{counter}"
                assert eng.rename_prop("edges", old, new) is True
                phys[new] = phys.pop(old, old)
                schema[schema.index(old)] = new
                for row in model.values():
                    if old in row["p"]:
                        row["p"][new] = row["p"].pop(old)
            elif op == "drop" and schema:
                gone = rng.choice(schema)
                assert eng.drop_prop("edges", gone) is True
                tombs.add(phys.pop(gone, gone))
                schema.remove(gone)
                for row in model.values():
                    row["p"].pop(gone, None)
            elif op == "declare":
                counter += 1
                assert eng.declare_prop("edges", f"c{counter}", "int")
                schema.append(f"c{counter}")
            elif op == "compact" and model:
                eng.compact()
            else:
                continue   # rename/drop with empty schema: no-op step
            got = sorted(tuple(r) for r in
                         eng.snapshot().weighted_edges(props=True).collect())
            want = sorted(
                (s, d, row["w"],
                 *[row["p"].get(c) for c in schema], g)
                for (g, s, d), row in model.items())
            assert got == want, f"seed {seed} step {step} op {op}"
            history.append((eng.snapshot().manifest["seq"],
                            list(schema), copy.deepcopy(model)))
        # time travel reads the HISTORICAL schema and values
        for seq, h_schema, h_model in rng.sample(history,
                                                 min(2, len(history))):
            snap = eng.snapshot(seq)
            got = sorted(tuple(r) for r in
                         snap.weighted_edges(props=True).collect())
            want = sorted(
                (s, d, row["w"],
                 *[row["p"].get(c) for c in h_schema], g)
                for (g, s, d), row in h_model.items())
            assert got == want, f"seed {seed} time travel to seq {seq}"


def test_write_racing_rename_fails_loudly(engine, spark):
    """A writer whose batch still carries the OLD logical name after a
    concurrent RENAME landed must fail loudly at publish (its CAS
    closure re-applies against the renamed manifest, where the old
    name is a retired physical) — never silently re-declare the old
    spelling as a fresh column over the renamed column's data."""
    import pytest
    engine.append_edges(_prop_edges(spark))
    snap = engine.snapshot()
    engine.rename_prop("edges", "kind", "category")
    with pytest.raises(ValueError, match="DROPPED or RENAMED"):
        engine.merge_edges(spark.createDataFrame(
            [("A", 1, 2, 3, "stale")],
            "graph string, src int, dst int, w int, kind string"),
            pinned_snapshot=snap)
    # the store is untouched by the failed publish
    assert engine.snapshot().props["edges"] == {"category": "string",
                                                "score": "double"}


def test_rename_cannot_claim_another_columns_physical(engine, spark):
    """The round-14 advice scenario: declare a,b; RENAME b TO tmp;
    RENAME a TO b would build colmap {tmp:b, b:a} — logical 'b' and
    logical 'tmp' then both resolve through physical 'b' territory
    and reads/writes collide. The rename must refuse the spelling
    loudly (same rule ADD COLUMN applies via _blocked_physicals)."""
    import pytest
    engine.append_edges(_prop_edges(spark))              # kind, score
    engine.rename_prop("edges", "kind", "tmp")           # colmap {tmp: kind}
    with pytest.raises(ValueError, match="physical name"):
        engine.rename_prop("edges", "score", "kind")     # kind = tmp's phys
    with pytest.raises(ValueError, match="physical name"):
        engine.rename_prop("edges", "score", "KIND")     # case-insensitive
    # renaming a column BACK to its own physical stays legal
    assert engine.rename_prop("edges", "tmp", "kind") is True
    assert engine.snapshot().manifest.get("colmap", {}).get("edges", {}) \
        == {}
    # a DROPPED column's tombstoned physical is equally untouchable
    engine.drop_prop("edges", "kind")
    with pytest.raises(ValueError, match="physical name"):
        engine.rename_prop("edges", "score", "kind")
    # reads through the surviving mapping-free schema stay intact
    assert _rows(engine.snapshot().weighted_edges(props=True)) == [
        (1, 2, 2, 0.1, "B"), (1, 2, 3, 0.5, "A"), (2, 3, 1, 0.9, "A")]


def test_dropped_column_tombstone_is_case_insensitive(engine, spark):
    """ADD COLUMN 'Note' after DROP COLUMN 'note' must fail: Spark
    resolves parquet fields case-insensitively, so the new spelling
    would surface the dropped column's stale values — the exact
    resurrection the tombstone exists to prevent."""
    import pytest
    engine.append_edges(spark.createDataFrame(
        [("A", 1, 2, 1, "x")],
        "graph string, src int, dst int, w int, note string"))
    engine.drop_prop("edges", "note")
    with pytest.raises(ValueError, match="DROPPED or RENAMED"):
        engine.declare_prop("edges", "Note", "string")
    with pytest.raises(ValueError, match="DROPPED or RENAMED"):
        engine.append_edges(spark.createDataFrame(
            [("A", 2, 3, 1, "y")],
            "graph string, src int, dst int, w int, Note string"))


def test_multi_rename_colmap_reads_and_writes_atomically(engine, spark):
    """Two simultaneously-mapped columns exercise the single-
    projection colmap application on BOTH paths (read: _commit_df,
    write: _store_write) — the shape where sequential per-column
    renames could pass through a duplicate-name intermediate."""
    engine.append_edges(_prop_edges(spark))              # kind, score
    engine.rename_prop("edges", "kind", "relation")      # {relation: kind}
    engine.rename_prop("edges", "score", "conf")         # {conf: score}
    snap = engine.snapshot()
    assert snap.props["edges"] == {"relation": "string", "conf": "double"}
    assert _rows(snap.weighted_edges(props=True)) == [
        (1, 2, 2, "follows", 0.1, "B"), (1, 2, 3, "follows", 0.5, "A"),
        (2, 3, 1, "likes", 0.9, "A")]
    # a write carrying BOTH logical names lands under BOTH physicals
    engine.append_edges(spark.createDataFrame(
        [("C", 7, 8, 1, "mentions", 0.3)],
        "graph string, src int, dst int, w int, relation string, "
        "conf double"))
    got = _rows(engine.snapshot().weighted_edges(props=True))
    assert (7, 8, 1, "mentions", 0.3, "C") in got and len(got) == 4

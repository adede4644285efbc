"""SQL-text DML over the store (operators/dml.py): the write-side twin
of the ``create_views`` read surface. Every statement commits through
the same append/merge protocol the DataFrame API uses, so these tests
check SQL-in == API-out equivalence plus the loud-failure contract for
unsupported SQL."""

import pytest
from pyspark.sql import functions as F

from graphdatabase_spark.engine import GraphEngine


@pytest.fixture()
def engine(spark, tmp_path):
    return GraphEngine(spark, str(tmp_path / "store"))


def _wedges(eng, name=None):
    return {(r["graph"], r["src"], r["dst"], r["w"])
            for r in eng.weighted_edges(name).collect()}


def test_insert_values_and_select(engine, spark):
    engine.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 5), ('A', 2, 3, 1)")
    assert _wedges(engine) == {("A", 1, 2, 5), ("A", 2, 3, 1)}
    # column-list form reorders
    engine.sql("INSERT INTO gdb_edges (graph, src, dst) VALUES ('B', 7, 8)")
    assert ("B", 7, 8, 1) in _wedges(engine)  # w defaults to 1
    # INSERT ... SELECT from any Catalyst-visible relation
    spark.createDataFrame([("C", 4, 5, 2)],
                          "graph string, src int, dst int, w int") \
        .createOrReplaceTempView("incoming_edges")
    engine.sql("INSERT INTO gdb_edges SELECT graph, src, dst, w "
               "FROM incoming_edges WHERE w > 0")
    assert ("C", 4, 5, 2) in _wedges(engine)
    # SELECT passthrough reads the store through pinned views
    got = engine.sql("SELECT graph, COUNT(*) AS n FROM gdb_edges "
                     "GROUP BY graph ORDER BY graph").collect()
    assert [(r["graph"], r["n"]) for r in got] == [("A", 2), ("B", 1),
                                                   ("C", 1)]


def test_merge_upsert_matches_api_merge(engine, spark):
    engine.add_graph("M", "3\n0 2 0\n0 0 3\n0 0 0\n")
    spark.createDataFrame([("M", 1, 2, 7), ("M", 1, 3, 4)],
                          "graph string, src int, dst int, w int") \
        .createOrReplaceTempView("upd")
    engine.sql("""
        MERGE INTO gdb_edges AS t
        USING (SELECT * FROM upd) AS s
        ON t.graph = s.graph AND t.src = s.src AND t.dst = s.dst
        WHEN MATCHED THEN UPDATE SET w = s.w
        WHEN NOT MATCHED THEN INSERT *""")
    assert _wedges(engine, "M") == {("M", 1, 2, 7), ("M", 2, 3, 3),
                                    ("M", 1, 3, 4)}
    # bare-view source + key order shuffled + t.w spelling
    engine.sql("MERGE INTO gdb_edges t USING upd s "
               "ON s.dst = t.dst AND t.graph = s.graph AND s.src = t.src "
               "WHEN MATCHED THEN UPDATE SET t.w = s.w "
               "WHEN NOT MATCHED THEN INSERT *")
    assert _wedges(engine, "M") == {("M", 1, 2, 7), ("M", 2, 3, 3),
                                    ("M", 1, 3, 4)}


def test_merge_delete_and_delete_from(engine, spark):
    engine.add_graph("D", "3\n0 1 1\n0 0 1\n0 0 0\n")
    spark.createDataFrame([("D", 1, 2, 1)],
                          "graph string, src int, dst int, w int") \
        .createOrReplaceTempView("victims")
    engine.sql("MERGE INTO gdb_edges t USING victims s "
               "ON t.graph = s.graph AND t.src = s.src AND t.dst = s.dst "
               "WHEN MATCHED THEN DELETE")
    assert _wedges(engine, "D") == {("D", 1, 3, 1), ("D", 2, 3, 1)}
    engine.sql("DELETE FROM gdb_edges WHERE src = 2")
    assert _wedges(engine, "D") == {("D", 1, 3, 1)}
    engine.sql("DELETE FROM gdb_edges")
    assert _wedges(engine) == set()
    assert "D" in engine.graphs()  # catalog entry survives, like the API


def test_update_set_w(engine):
    """UPDATE = read the matching keys through a pinned snapshot,
    recompute w (the expression sees the row's own columns), merge the
    result back — one COW commit, same versioning as every write."""
    engine.add_graph("U", "3\n0 5 0\n0 0 2\n0 0 0\n")  # (1,2,5) (2,3,2)
    engine.sql("UPDATE gdb_edges SET w = w + 10 WHERE src = 1")
    assert _wedges(engine, "U") == {("U", 1, 2, 15), ("U", 2, 3, 2)}
    engine.sql("UPDATE gdb_edges SET w = 1")       # no WHERE: all rows
    assert _wedges(engine, "U") == {("U", 1, 2, 1), ("U", 2, 3, 1)}
    # an update that would break the w >= 1 invariant fails loudly
    # and commits nothing
    import pytest
    with pytest.raises(ValueError, match="weights >= 1"):
        engine.sql("UPDATE gdb_edges SET w = w - 5")
    assert _wedges(engine, "U") == {("U", 1, 2, 1), ("U", 2, 3, 1)}
    # no-match update publishes nothing (no empty manifest entry)
    seq = engine.manifests.load()["seq"]
    engine.sql("UPDATE gdb_edges SET w = 9 WHERE src = 999")
    assert engine.manifests.load()["seq"] == seq


def test_dml_commits_are_snapshot_versioned(engine):
    """SQL DML goes through the SAME commit protocol: every statement
    is one manifest seq, time travel sees each."""
    engine.sql("INSERT INTO gdb_edges VALUES ('V', 1, 2, 1)")
    engine.sql("MERGE INTO gdb_edges t USING "
               "(SELECT 'V' AS graph, 1 AS src, 2 AS dst, 9 AS w) s "
               "ON t.graph = s.graph AND t.src = s.src AND t.dst = s.dst "
               "WHEN MATCHED THEN UPDATE SET w = s.w "
               "WHEN NOT MATCHED THEN INSERT *")
    assert {(r["src"], r["dst"], r["w"])
            for r in engine.snapshot(seq=1).weighted_edges("V").collect()} \
        == {(1, 2, 1)}
    rows = engine.diff(1, 2).collect()
    assert [(r["old_w"], r["new_w"], r["change"]) for r in rows] == \
        [(1, 9, "updated")]


def test_unsupported_sql_fails_loudly(engine, spark):
    spark.createDataFrame([("X", 1, 2, 1)],
                          "graph string, src int, dst int, w int") \
        .createOrReplaceTempView("u2")
    for bad, why in [
            ("TRUNCATE TABLE gdb_edges", "unsupported statement"),
            ("UPDATE gdb_edges SET src = 9",
             "only w or a declared edge property"),
            ("INSERT INTO gdb_edges (graph, src, weight) VALUES ('A',1,2)",
             "column list"),
            ("MERGE INTO gdb_edges t USING u2 s ON t.graph = s.graph "
             "WHEN MATCHED THEN UPDATE SET w = s.w "
             "WHEN NOT MATCHED THEN INSERT *", "edge key"),
            ("MERGE INTO gdb_edges t USING u2 s ON t.graph = s.graph "
             "AND t.src = s.src AND t.dst = s.dst "
             "WHEN NOT MATCHED THEN INSERT *", "unsupported WHEN"),
            ("MERGE INTO gdb_edges t USING u2 s ON t.w < s.w "
             "WHEN MATCHED THEN DELETE", "unsupported ON term"),
    ]:
        with pytest.raises(ValueError, match=why):
            engine.sql(bad)
    assert engine.graphs() == []  # nothing leaked into the store


def test_dml_over_bucketed_store(spark, tmp_path):
    """The SQL surface composes with the bucketed layout — one store
    built entirely from SQL text, read back consistent."""
    eng = GraphEngine(spark, str(tmp_path / "b"), buckets=4)
    eng.sql("INSERT INTO gdb_edges VALUES ('P', 1, 2, 2), ('Q', 5, 6, 1)")
    eng.sql("MERGE INTO gdb_edges t USING "
            "(SELECT 'P' AS graph, 1 AS src, 2 AS dst, 8 AS w) s "
            "ON t.graph = s.graph AND t.src = s.src AND t.dst = s.dst "
            "WHEN MATCHED THEN UPDATE SET w = s.w "
            "WHEN NOT MATCHED THEN INSERT *")
    got = eng.sql("SELECT graph, src, dst, w FROM gdb_edges").collect()
    assert {(r["graph"], r["src"], r["dst"], r["w"]) for r in got} == {
        ("P", 1, 2, 8), ("Q", 5, 6, 1)}


def test_insert_column_list_any_order_and_values_no_space(engine):
    """Round-9 advice lows: an explicit column list names the source's
    columns in ANY order (standard SQL), and a VALUES head written
    without a space ('VALUES(...)') still takes positional renames."""
    engine.sql("INSERT INTO gdb_edges (src, dst, graph) "
               "VALUES (1, 2, 'A'), (3, 4, 'A')")
    assert _wedges(engine) == {("A", 1, 2, 1), ("A", 3, 4, 1)}
    engine.sql("INSERT INTO gdb_edges (w, graph, src, dst) "
               "VALUES (9, 'B', 5, 6)")
    assert ("B", 5, 6, 9) in _wedges(engine)
    engine.sql("INSERT INTO gdb_edges VALUES('C', 7, 8, 2)")
    assert ("C", 7, 8, 2) in _wedges(engine)


def test_sql_dml_raises_on_concurrent_non_adoption(spark, tmp_path):
    """Round-9 advice low: DataFrame-API merge_edges documents silent
    non-adoption under a concurrent pointer move; the SQL surface must
    NOT half-apply silently — execute_sql raises, naming the skipped
    graphs, when part of a statement was dropped."""
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
    with pytest.raises(RuntimeError, match=r"UPDATE gdb_edges.*\['M'\]"):
        eng.sql("UPDATE gdb_edges SET w = w + 1")
    # the concurrent writer's state won, untouched
    assert _wedges(eng, "M") == {("M", 2, 1, 1)}


def test_merge_edges_returns_adopted_and_skipped(engine, spark):
    """merge_edges reports (adopted, skipped) so callers can see
    partial non-adoption; the plain path adopts everything."""
    engine.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 1), ('B', 1, 2, 1)")
    adopted, skipped = engine.merge_edges(spark.createDataFrame(
        [("A", 1, 2, 5), ("B", 3, 4, 2)],
        "graph string, src int, dst int, w int"))
    assert adopted == {"A", "B"} and skipped == frozenset()
    # merging nothing touches nothing
    empty = spark.createDataFrame([], "graph string, src int, dst int, w int")
    assert engine.merge_edges(empty) == (frozenset(), frozenset())


def test_vertex_dml_surface(engine, spark):
    """The VERTEX side of the SQL property-graph surface: INSERT INTO
    gdb_vertices (row upsert / membership add) and UPDATE of a
    declared vertex property."""
    engine.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 1)")
    # property upsert via column list (any order)
    engine.sql("INSERT INTO gdb_vertices (vname, graph, vid) "
               "VALUES ('alice', 'A', 1), ('grace', 'A', 7)")
    got = {r["vid"]: r["vname"] for r in engine.sql(
        "SELECT vid, vname FROM gdb_vertices WHERE graph = 'A'").collect()}
    assert got == {1: "alice", 2: None, 7: "grace"}
    # bare-key positional VALUES: membership only, props untouched
    engine.sql("INSERT INTO gdb_vertices VALUES ('A', 9), ('A', 1)")
    got = {r["vid"]: r["vname"] for r in engine.sql(
        "SELECT vid, vname FROM gdb_vertices WHERE graph = 'A'").collect()}
    assert got == {1: "alice", 2: None, 7: "grace", 9: None}
    # UPDATE a declared property with a WHERE predicate
    engine.sql("UPDATE gdb_vertices SET vname = upper(vname) "
               "WHERE vid = 1")
    got = {r["vid"]: r["vname"] for r in engine.sql(
        "SELECT vid, vname FROM gdb_vertices WHERE graph = 'A'").collect()}
    assert got[1] == "ALICE" and got[7] == "grace"
    # loud contract: keys are not assignable, unknown props rejected
    with pytest.raises(ValueError, match="declared vertex property"):
        engine.sql("UPDATE gdb_vertices SET vid = 3")
    with pytest.raises(ValueError, match="declared vertex property"):
        engine.sql("UPDATE gdb_vertices SET nope = 1")
    with pytest.raises(ValueError, match="vertex key"):
        engine.sql("INSERT INTO gdb_vertices (vid, vname) VALUES (1, 'x')")
    with pytest.raises(ValueError, match="explicit column list"):
        engine.sql("INSERT INTO gdb_vertices VALUES ('A', 3, 'x')")


def test_sql_merge_preserves_declared_edge_props(engine, spark):
    """Round-10 advice (medium): MERGE's ``UPDATE SET w = s.w`` on a
    property-carrying store must touch ONLY w for matched keys — the
    other declared edge properties carry through (the UPDATE path's
    rule), never silently NULLed by the wholesale upsert."""
    engine.sql("INSERT INTO gdb_edges (graph, src, dst, w, kind) VALUES "
               "('P', 1, 2, 3, 'follows'), ('P', 2, 3, 1, 'likes')")
    engine.sql("MERGE INTO gdb_edges t USING "
               "(SELECT 'P' AS graph, 1 AS src, 2 AS dst, 9 AS w "
               " UNION ALL SELECT 'P', 7, 8, 4) s "
               "ON t.graph = s.graph AND t.src = s.src AND t.dst = s.dst "
               "WHEN MATCHED THEN UPDATE SET w = s.w "
               "WHEN NOT MATCHED THEN INSERT *")
    got = {(r["src"], r["dst"]): (r["w"], r["kind"])
           for r in engine.sql(
               "SELECT src, dst, w, kind FROM gdb_edges").collect()}
    assert got == {(1, 2): (9, "follows"),   # matched: w new, kind kept
                   (2, 3): (1, "likes"),     # untouched row intact
                   (7, 8): (4, None)}        # inserted: props NULL
    # a source that incidentally projects a property-named column must
    # NOT clobber the stored value on MATCHED keys (round-11 advice:
    # standard MERGE touches only the SET columns) — but NOT-MATCHED
    # keys take the source's value verbatim (INSERT *)
    engine.sql("MERGE INTO gdb_edges t USING "
               "(SELECT 'P' AS graph, 1 AS src, 2 AS dst, 9 AS w, "
               "'blocks' AS kind "
               " UNION ALL SELECT 'P', 8, 9, 5, 'mutes') s "
               "ON t.graph = s.graph AND t.src = s.src AND t.dst = s.dst "
               "WHEN MATCHED THEN UPDATE SET w = s.w "
               "WHEN NOT MATCHED THEN INSERT *")
    got = {(r["src"], r["dst"]): r["kind"] for r in engine.sql(
        "SELECT src, dst, kind FROM gdb_edges").collect()}
    assert got[(1, 2)] == "follows"   # matched: stored prop kept
    assert got[(8, 9)] == "mutes"     # inserted: source prop lands


def test_delete_from_vertices_cascades(engine, spark):
    """DELETE FROM gdb_vertices is the safe vertex-removal spelling:
    the vertex row AND every incident edge go in one commit; the graph
    stays cataloged and time travel sees the pre-delete state."""
    engine.sql("INSERT INTO gdb_edges VALUES "
               "('C', 1, 2, 1), ('C', 2, 3, 1), ('C', 3, 1, 1)")
    engine.sql("INSERT INTO gdb_vertices (graph, vid, vname) "
               "VALUES ('C', 2, 'victim'), ('C', 1, 'keeper')")
    seq_before = engine.manifests.load()["seq"]
    engine.sql("DELETE FROM gdb_vertices WHERE vid = 2")
    assert _wedges(engine, "C") == {("C", 3, 1, 1)}
    got = {r["vid"]: r["vname"] for r in engine.sql(
        "SELECT vid, vname FROM gdb_vertices").collect()}
    assert got == {1: "keeper", 3: None}
    assert "C" in engine.graphs()          # catalog entry survives
    old = engine.snapshot(seq=seq_before)  # time travel: pre-delete
    assert {r["vid"] for r in old.vertices("C").collect()} == {1, 2, 3}
    # deleting a vid no graph lists is a no-op, publishes nothing
    seq = engine.manifests.load()["seq"]
    engine.sql("DELETE FROM gdb_vertices WHERE vid = 99")
    assert engine.manifests.load()["seq"] == seq


def test_delete_vertices_cascade_is_diff_classifiable(engine):
    """The cascade's edge removals surface through the CDC read as
    'removed' rows (snapshot-diff classifiable, like every other
    commit), and vertex properties of surviving vertices are intact."""
    engine.sql("INSERT INTO gdb_edges (graph, src, dst, w, kind) VALUES "
               "('D', 1, 2, 3, 'x'), ('D', 2, 3, 1, 'y'), "
               "('D', 3, 1, 2, 'z')")
    seq = engine.manifests.load()["seq"]
    engine.sql("DELETE FROM gdb_vertices WHERE vid = 2")
    rows = {(r["src"], r["dst"]): r["change"]
            for r in engine.diff(seq).collect()}
    assert rows == {(1, 2): "removed", (2, 3): "removed"}
    got = {(r["src"], r["dst"]): r["kind"] for r in engine.sql(
        "SELECT src, dst, kind FROM gdb_edges").collect()}
    assert got == {(3, 1): "z"}  # surviving edge keeps its property


def test_delete_vertices_api_contract(engine, spark):
    """The DataFrame-API face of the cascade: key validation, unknown
    graphs skipped, (adopted, skipped) reporting."""
    engine.sql("INSERT INTO gdb_edges VALUES ('G', 1, 2, 1)")
    with pytest.raises(ValueError, match="graph, vid"):
        engine.delete_vertices(spark.createDataFrame(
            [(1,)], "vid int"))
    keys = spark.createDataFrame([("G", 2), ("NOPE", 1)],
                                 "graph string, vid int")
    adopted, skipped = engine.delete_vertices(keys)
    assert adopted == {"G"} and skipped == frozenset()
    assert _wedges(engine, "G") == set()
    assert {r["vid"] for r in engine.vertices("G").collect()} == {1}


def test_alter_table_add_column(engine, spark):
    """ALTER TABLE … ADD COLUMN (round-11 verdict item 9): declare a
    typed property from SQL text alone — a metadata-only manifest
    commit; stored rows read NULL, later UPDATEs bind to the declared
    type, re-declaration at the same type is an idempotent no-op, a
    type conflict raises, and reserved names are rejected."""
    engine.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 5), ('A', 2, 3, 1)")
    seq0 = engine.manifests.load()["seq"]
    engine.sql("ALTER TABLE gdb_edges ADD COLUMN kind STRING")
    m = engine.manifests.load()
    assert m["seq"] == seq0 + 1                      # one metadata commit
    assert m["props"]["edges"] == {"kind": "string"}
    # stored rows read the new column as NULL; no data moved
    got = {(r["src"], r["dst"]): r["kind"] for r in engine.sql(
        "SELECT src, dst, kind FROM gdb_edges").collect()}
    assert got == {(1, 2): None, (2, 3): None}
    # the declared column is UPDATE-assignable straight away
    engine.sql("UPDATE gdb_edges SET kind = 'x' WHERE src = 1")
    got = {(r["src"], r["dst"]): r["kind"] for r in engine.sql(
        "SELECT src, dst, kind FROM gdb_edges").collect()}
    assert got == {(1, 2): "x", (2, 3): None}
    # idempotent re-declaration (same type): no manifest published
    seq1 = engine.manifests.load()["seq"]
    engine.sql("ALTER TABLE gdb_edges ADD COLUMN IF NOT EXISTS kind STRING")
    assert engine.manifests.load()["seq"] == seq1
    # type conflict is loud
    with pytest.raises(ValueError, match="declared string"):
        engine.sql("ALTER TABLE gdb_edges ADD COLUMN kind INT")
    # vertex side + reserved / invalid names / bad types
    engine.sql("ALTER TABLE gdb_vertices ADD COLUMN score DOUBLE")
    assert engine.manifests.load()["props"]["vertices"] == {
        "score": "double"}
    with pytest.raises(ValueError, match="reserved"):
        engine.sql("ALTER TABLE gdb_edges ADD COLUMN w INT")
    with pytest.raises(ValueError, match="not a Spark SQL type"):
        engine.sql("ALTER TABLE gdb_edges ADD COLUMN oops NOTATYPE")


def test_alter_table_on_virgin_store(engine):
    """Declaring a property before ANY data exists publishes the very
    first manifest; the first write batch then binds to the type."""
    assert engine.manifests.load() is None
    engine.sql("ALTER TABLE gdb_edges ADD COLUMN tag STRING")
    m = engine.manifests.load()
    assert m["seq"] == 1 and m["props"]["edges"] == {"tag": "string"}
    engine.sql("INSERT INTO gdb_edges (graph, src, dst, w, tag) "
               "VALUES ('V', 1, 2, 1, 'first')")
    got = engine.sql("SELECT src, dst, tag FROM gdb_edges").collect()
    assert [(r["src"], r["dst"], r["tag"]) for r in got] == [(1, 2, "first")]


def test_optimize_and_vacuum_from_sql(spark, tmp_path):
    """Maintenance drivable from SQL text: OPTIMIZE compacts (whole
    store or WHERE graph IN (...) selective), VACUUM reclaims outside
    the retention window — both dispatch onto the engine ops."""
    eng = GraphEngine(spark, str(tmp_path / "m"), buckets=4)
    eng.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 1), ('B', 5, 6, 1)")
    eng.sql("INSERT INTO gdb_edges VALUES ('A', 2, 3, 1)")   # chain on A
    eng.sql("INSERT INTO gdb_edges VALUES ('B', 6, 7, 1)")   # chain on B
    chains = {r["graph"]: r["chain_len"] for r in eng.chains().collect()}
    assert chains == {"A": 2, "B": 2}
    eng.sql("OPTIMIZE gdb WHERE graph IN ('A')")
    chains = {r["graph"]: r["chain_len"] for r in eng.chains().collect()}
    assert chains == {"A": 1, "B": 2}
    eng.sql("OPTIMIZE gdb")
    chains = {r["graph"]: r["chain_len"] for r in eng.chains().collect()}
    assert chains == {"A": 1, "B": 1}
    n_manifests = len(eng.manifests.names())
    assert n_manifests > 2
    eng.sql("VACUUM gdb RETAIN 2 VERSIONS")
    assert len(eng.manifests.names()) == 2
    eng.sql("VACUUM gdb")
    assert len(eng.manifests.names()) == 1
    # state intact after the full maintenance cycle
    got = {(r["graph"], r["src"], r["dst"]) for r in
           eng.sql("SELECT graph, src, dst FROM gdb_edges").collect()}
    assert got == {("A", 1, 2), ("A", 2, 3), ("B", 5, 6), ("B", 6, 7)}
    with pytest.raises(ValueError, match="unknown graphs"):
        eng.sql("OPTIMIZE gdb WHERE graph IN ('nope')")
    with pytest.raises(ValueError, match="unsupported statement"):
        eng.sql("OPTIMIZE gdb WHERE src > 3")


def test_optimize_name_list_is_real_string_literals(spark, tmp_path):
    """Round-12 advice (low): the OPTIMIZE WHERE graph IN (...) list
    is parsed with the grammar's string-literal rule, so graph names
    containing ')' ',' or an embedded quote are addressable from SQL
    text; malformed lists raise naming the offending text."""
    eng = GraphEngine(spark, str(tmp_path / "q"))
    tricky = ["a)b", "c,d", "o'brien"]
    for g in tricky:
        df = spark.createDataFrame([(g, 1, 2, 1)],
                                   "graph string, src int, dst int, w int")
        eng.append_edges(df)
        eng.append_edges(df.withColumn("src", F.lit(7)))   # chain len 2
    lits = ", ".join("'" + g.replace("'", "''") + "'" for g in tricky)
    eng.sql(f"OPTIMIZE gdb WHERE graph IN ({lits})")
    chains = {r["graph"]: r["chain_len"] for r in eng.chains().collect()}
    assert chains == {g: 1 for g in tricky}
    for bad in ["()", "(A)", "('A',)", "('A' 'B')", "('A') junk"]:
        with pytest.raises(ValueError,
                           match="OPTIMIZE|unsupported statement"):
            eng.sql(f"OPTIMIZE gdb WHERE graph IN {bad}")


def test_alter_table_rejects_smuggled_column(engine):
    """'int, y int' is two DDL fields, not a type — the public
    StructType.fromDDL round-trip must reject it instead of silently
    declaring an extra column."""
    with pytest.raises(ValueError, match="not a single Spark SQL type"):
        engine.sql("ALTER TABLE gdb_edges ADD COLUMN z int, y int")
    with pytest.raises(ValueError, match="not a Spark SQL type"):
        engine.sql("ALTER TABLE gdb_edges ADD COLUMN z nottype")
    # comma-typed SINGLE types still pass the round-trip
    engine.sql("ALTER TABLE gdb_edges ADD COLUMN z decimal(10,2)")
    assert engine.snapshot().props["edges"]["z"] == "decimal(10,2)"


def test_version_as_of_from_sql(spark, tmp_path):
    """SQL time travel (round-12 verdict item 5): <table> VERSION AS
    OF <seq> binds a historical snapshot inside SELECT/WITH text,
    mixes with the current views in one query, and a vacuumed seq
    fails loudly."""
    eng = GraphEngine(spark, str(tmp_path / "tt"))
    eng.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 5)")       # seq 1
    eng.sql("INSERT INTO gdb_edges VALUES ('A', 2, 3, 7)")       # seq 2
    eng.sql("DELETE FROM gdb_edges WHERE src = 1")               # seq 3
    old = eng.sql("SELECT src, dst, w FROM gdb_edges VERSION AS OF 2")
    assert sorted((r["src"], r["dst"], r["w"]) for r in old.collect()) \
        == [(1, 2, 5), (2, 3, 7)]
    # historical and current state join in ONE statement
    audit = eng.sql("""
        SELECT o.src, o.dst,
               CASE WHEN c.src IS NULL THEN 1 ELSE 0 END AS deleted
        FROM gdb_edges VERSION AS OF 2 o
        LEFT JOIN gdb_edges c ON c.src = o.src AND c.dst = o.dst""")
    assert {(r["src"], r["dst"], r["deleted"]) for r in audit.collect()} \
        == {(1, 2, 1), (2, 3, 0)}
    # vertices are versioned too
    v1 = eng.sql("SELECT vid FROM gdb_vertices VERSION AS OF 1")
    assert {r["vid"] for r in v1.collect()} == {1, 2}
    eng.vacuum(keep_last=1)
    with pytest.raises(FileNotFoundError):
        eng.sql("SELECT * FROM gdb_edges VERSION AS OF 2")


def test_timestamp_as_of_from_sql(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the newest commit at-or-before the
    given time (epoch literal or quoted ISO local time); a timestamp
    predating retained history fails loudly. Commit timestamps are
    stamped at publish and surface in history()."""
    import time as _time

    eng = GraphEngine(spark, str(tmp_path / "ts"))
    before = _time.time() - 0.002
    eng.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 5)")       # seq 1
    mid = _time.time()
    _time.sleep(0.01)
    eng.sql("INSERT INTO gdb_edges VALUES ('A', 2, 3, 7)")       # seq 2
    hist = {r["seq"]: r["ts"] for r in eng.history().collect()}
    assert hist[1] is not None and hist[2] is not None
    assert hist[1] <= mid <= hist[2]
    got = eng.sql(f"SELECT src, dst FROM gdb_edges TIMESTAMP AS OF {mid}")
    assert [(r["src"], r["dst"]) for r in got.collect()] == [(1, 2)]
    # newest commit when the timestamp is in the future of all commits
    now = eng.sql(f"SELECT COUNT(*) AS n FROM gdb_edges "
                  f"TIMESTAMP AS OF {_time.time() + 60}")
    assert now.collect()[0]["n"] == 2
    # ISO spelling routes through the same resolver
    from datetime import datetime
    iso = datetime.fromtimestamp(mid).isoformat(sep=" ")
    got2 = eng.sql(f"SELECT COUNT(*) AS n FROM gdb_edges "
                   f"TIMESTAMP AS OF '{iso}'")
    assert got2.collect()[0]["n"] == 1
    with pytest.raises(FileNotFoundError):
        eng.sql(f"SELECT * FROM gdb_edges TIMESTAMP AS OF {before}")


def test_describe_history_from_sql(spark, tmp_path):
    """DESCRIBE HISTORY returns the retained commit log so the
    SQL-only user can discover pinnable seqs/timestamps."""
    eng = GraphEngine(spark, str(tmp_path / "dh"))
    eng.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 1)")
    eng.sql("INSERT INTO gdb_edges VALUES ('A', 2, 3, 1)")
    hist = eng.sql("DESCRIBE HISTORY gdb").collect()
    assert [r["seq"] for r in hist] == [1, 2]
    assert all(r["ts"] is not None for r in hist)
    # the discovered seq is directly pinnable
    n = eng.sql(f"SELECT COUNT(*) AS n FROM gdb_edges "
                f"VERSION AS OF {hist[0]['seq']}").collect()[0]["n"]
    assert n == 1


def test_restore_from_sql(spark, tmp_path):
    """RESTORE rolls the store back to a retained version as a NEW
    metadata-only commit: data reappears byte-identically, history
    moves forward, the txn ledger carries so a replayed streaming
    batch stays deduped, and TIMESTAMP AS OF spells it too."""
    eng = GraphEngine(spark, str(tmp_path / "rs"))
    eng.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 5)")       # seq 1
    eng.append_edges(spark.createDataFrame(
        [("A", 2, 3, 7)], "graph string, src int, dst int, w int"),
        txn_app="sink", txn_version=9)                           # seq 2
    eng.sql("DELETE FROM gdb_edges WHERE src = 1")               # seq 3
    eng.sql("RESTORE gdb TO VERSION AS OF 2")                    # seq 4
    got = {(r["src"], r["dst"], r["w"]) for r in
           eng.sql("SELECT src, dst, w FROM gdb_edges").collect()}
    assert got == {(1, 2, 5), (2, 3, 7)}
    hist = [r["seq"] for r in eng.history().collect()]
    assert hist == [1, 2, 3, 4]                 # forward, not rewound
    # exactly-once survives the rollback: replaying version 9 no-ops
    assert not eng.append_edges(spark.createDataFrame(
        [("A", 2, 3, 7)], "graph string, src int, dst int, w int"),
        txn_app="sink", txn_version=9)
    # restore to the state before the second batch, via its timestamp
    ts1 = {r["seq"]: r["ts"] for r in eng.history().collect()}[1]
    eng.sql(f"RESTORE gdb TO TIMESTAMP AS OF {ts1}")
    got = {(r["src"], r["dst"]) for r in
           eng.sql("SELECT src, dst FROM gdb_edges").collect()}
    assert got == {(1, 2)}
    with pytest.raises(FileNotFoundError):
        eng.sql("RESTORE gdb TO VERSION AS OF 99")


def test_restore_preserves_props_and_deltas(spark, tmp_path):
    """Restore re-points the props schema and delta-marker sets too:
    a merge-on-read chain restored after compaction reads back
    through the same latest-wins merge it had at that seq."""
    eng = GraphEngine(spark, str(tmp_path / "rp"))
    eng.append_edges(spark.createDataFrame(
        [("G", 1, 2, 1, "x")],
        "graph string, src int, dst int, w int, kind string"))   # seq 1
    eng.merge_edges(spark.createDataFrame(
        [("G", 1, 2, 9, "y")],
        "graph string, src int, dst int, w int, kind string"),
        mode="delta")                                            # seq 2
    eng.compact()                                                # seq 3
    eng.restore(2)                                               # seq 4
    m = eng.manifests.load()
    assert m.get("edeltas"), "delta markers dropped by restore"
    rows = eng.snapshot().weighted_edges("G", props=True).collect()
    assert [(r["src"], r["dst"], r["w"], r["kind"]) for r in rows] \
        == [(1, 2, 9, "y")]


def test_vacuum_retain_hours(engine, spark):
    """Time-based retention (RETAIN n HOURS): a seq committed before
    the cutoff raises on time travel after the vacuum, a seq inside
    the window survives — and the newest always survives even at
    RETAIN 0 HOURS."""
    engine.sql("INSERT INTO gdb_edges VALUES ('A', 1, 2, 5)")   # seq 1
    engine.sql("INSERT INTO gdb_edges VALUES ('A', 2, 3, 1)")   # seq 2
    engine.sql("INSERT INTO gdb_edges VALUES ('A', 3, 4, 2)")   # seq 3
    # a generous window retains everything: seq 1 stays pinnable
    engine.sql("VACUUM gdb RETAIN 1000000 HOURS")
    assert engine.snapshot(1).weighted_edges("A").count() == 1
    # zero-hour window: only the newest manifest survives — the
    # pre-cutoff seqs raise, the head still reads
    engine.sql("VACUUM gdb RETAIN 0 HOURS")
    with pytest.raises(FileNotFoundError):
        engine.snapshot(1)
    with pytest.raises(FileNotFoundError):
        engine.snapshot(2)
    assert engine.snapshot(3).weighted_edges("A").count() == 3
    with pytest.raises(ValueError, match="retain_hours"):
        engine.vacuum(retain_hours=-1)

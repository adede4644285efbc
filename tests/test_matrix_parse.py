"""The driver-side matrix parse against the Spark melt.

``add_graph`` parses a matrix of at most ``LOCAL_EDGE_ROWS`` cells on
the driver (``matrix_tables``) and writes its files without a Spark
job; a larger one goes through ``_write``'s Spark melt. Both must read
the same text the same way: for every text below, the driver parse
gives the rows that ``melt_matrix_lines_weighted``, ``matrix_vertices``
and the line-0 ``n`` give, or both raise.
"""

import math

from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from graphdatabase_spark.engine import LOCAL_EDGE_ROWS, GraphEngine
from graphdatabase_spark.sources import matrix as matrix_mod

TEXTS = {
    "binary": "3\n0 1 0\n0 0 1\n1 0 1\n",
    "weighted": "3\n0 5 -2\n0 0 7\n-1 0 0\n",
    "n_0": "0\n",
    "n_0_with_rows": "0\n0 1\n1 0\n",
    "n_minus_1": "-1\n0 1\n1 0\n",
    "n_minus_3": "-3\n1 1\n1 1\n1 1\n1 1\n",
    "rows_and_columns_past_n": "2\n0 1 1 1\n1 0 1\n1 1 1 1\n1 1\n",
    "bad_row_past_n": "2\n0 1\n1 0\nx y\n",
    "blank_row": "3\n0 1 0\n\n1 0 1\n",
    "space_row": "3\n0 1 0\n   \n1 0 1\n",
    "short_rows": "3\n0 1\n\n1\n",
    "tabs_and_space_runs": "3\n0\t1   0\n0 \t 0\t\t1\n  1  0  1  \n",
    "leading_and_trailing_newlines": "\n\n2\n0 1\n1 0\n\n\n",
    "n_with_spaces": "  2 \n0 1\n1 0\n",
    "leading_tab_row": "2\n\t0 1\n1 0\n",
    "crlf": "2\r\n0 1\r\n1 0\r\n",
    "plus_sign": "2\n0 +1\n-0 0\n",
    "zero_padded": "2\n0 01\n1 0\n",
    "control_bytes": "2\n0 \x011\n1\x7f 0\n",
    "int32_bounds": "2\n0 2147483647\n-2147483648 0\n",
    "decimal": "2\n0 1.0\n1 0\n",
    "exponent": "2\n0 1e2\n1 0\n",
    "underscore": "2\n0 1_0\n1 0\n",
    "arabic_indic_digit": "2\n0 \u0663\n1 0\n",
    "no_break_space": "2\n0\u00a01\n1 0\n",
    "int32_overflow": "2\n0 2147483648\n1 0\n",
    "past_column_n": "2\n0 1 x\n1 0\n",
    "lone_sign": "2\n0 -\n1 0\n",
    "non_integer_n": "x\n0 1\n1 0\n",
    "empty": "",
}
RAISES = "raises"


def _spark(spark, text: str):
    """The Spark melt's rows for ``text``, in one job, or ``RAISES``."""
    lines = matrix_mod.lines_from_text(spark, "G", text)
    zero = F.lit(0)
    rows = (matrix_mod.melt_matrix_lines_weighted(lines)
            .select(F.lit("edges").alias("t"), "src", "dst", "w")
            .unionByName(matrix_mod.matrix_vertices(lines).select(
                F.lit("vertices").alias("t"), F.col("vid").alias("src"),
                zero.alias("dst"), zero.alias("w")))
            .unionByName(lines.filter(F.col("line_no") == 0).select(
                F.lit("meta").alias("t"),
                F.trim(F.col("line")).cast("int").alias("src"),
                zero.alias("dst"), zero.alias("w"))))
    try:
        return sorted(map(tuple, rows.collect()))
    except PySparkException:
        return RAISES


def _driver(text: str):
    try:
        edges, verts, meta = matrix_mod.matrix_tables("G", text)
    except ValueError:
        return RAISES
    for t in (edges, verts, meta):
        assert set(t.column("graph").to_pylist()) <= {"G"}
    return sorted(
        [("edges", *r) for r in zip(*(edges.column(c).to_pylist()
                                      for c in ("src", "dst", "w")))]
        + [("vertices", v, 0, 0) for v in verts.column("vid").to_pylist()]
        + [("meta", n, 0, 0) for n in meta.column("n").to_pylist()])


def test_driver_parse_matches_spark_melt(spark):
    got = {name: (_driver(text), _spark(spark, text))
           for name, text in TEXTS.items()}
    for name, (driver, melt) in got.items():
        assert driver == melt, name
    # the list exercises both outcomes, and the edge cases parse
    assert got["rows_and_columns_past_n"][0] == sorted(
        [("edges", 1, 2, 1), ("edges", 2, 1, 1), ("meta", 2, 0, 0),
         ("vertices", 1, 0, 0), ("vertices", 2, 0, 0)])
    assert ("edges", 3, 1, 1) in got["blank_row"][0]
    for name in ("leading_tab_row", "crlf", "decimal", "exponent",
                 "underscore", "arabic_indic_digit", "no_break_space",
                 "int32_overflow", "past_column_n", "lone_sign",
                 "non_integer_n", "empty"):
        assert got[name][0] == RAISES, name
    assert got["bad_row_past_n"][0] != RAISES


def test_declared_n_picks_the_path(spark, tmp_path, monkeypatch):
    """N² ≤ ``LOCAL_EDGE_ROWS`` commits from the driver; one vertex
    more takes ``_write``'s Spark melt."""
    cap = math.isqrt(LOCAL_EDGE_ROWS)
    melted = []
    monkeypatch.setattr(GraphEngine, "_write",
                        lambda self, lines, graphs: melted.append(graphs))
    eng = GraphEngine(spark, str(tmp_path / "store"))
    for n in (cap, cap + 1):
        eng.add_graph(f"N{n}", f"{n}\n" + "0 " * n + "\n")
    assert melted == [[f"N{cap + 1}"]]
    assert eng.graphs() == [f"N{cap}"]

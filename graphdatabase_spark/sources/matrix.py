"""Adjacency-matrix text ingest (reference exchange format → edge list).

The reference stores each named graph as a dense adjacency-matrix text
file: line 1 = N, then N rows of N space-separated 0/1 ints (written at
``primary_server.c:132-140``, parsed at ``secondary_server.c:544-559``).
Here the matrix is strictly an *exchange format*: it is melted to a
``(graph, src, dst)`` edge list on ingest and never used as the
internal representation (SURVEY.md §1.4).

Scale note: one dense matrix file is inherently small (the reference
caps N at 100, ``secondary_server.c:30``; even N=10^4 is a ~200 MB
text file), but a *corpus* of graph files can be arbitrarily large —
so ingest reads many files distributed (``wholetext`` gives one row
per file, keeping line order exact without any zipWithIndex order
assumptions) and the melt is pure ``posexplode`` expressions. One
request's text within the reference's cap is instead parsed on the
driver (:func:`matrix_tables`), to the same rows.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MATRIX_LINES_COLUMNS = ("graph", "line_no", "line")

# The melt's cell separator, Java's ``\s+``: Python's ``\s`` also
# matches Unicode spaces, which the melt keeps inside a cell.
_CELL_SEP = re.compile(r"[ \t\n\x0b\f\r]+")
# Spark's ANSI ``cast(string as int)`` strips these bytes from both
# ends of its input, then takes an optional sign and ASCII digits.
_CAST_TRIM = "".join(map(chr, range(0x21))) + "\x7f"
_CAST_INT = re.compile(r"[+-]?[0-9]+")


def melt_matrix_lines(lines: DataFrame) -> DataFrame:
    """Melt matrix text lines into a 1-indexed edge list.

    Input: ``(graph STRING, line_no INT, line STRING)`` with line 0 = N
    and lines 1..N = matrix rows. Output: ``(graph, src, dst)`` with an
    edge for every 1-cell, ``src`` = row index (1-based), ``dst`` = col
    index (1-based) — cell A[i][j]=1 ⇒ edge i+1 → j+1, matching the
    reference's row-wise neighbor scan (``secondary_server.c:461``).

    The declared N bounds the melt exactly like the reference's parser
    (``secondary_server.c:544-559`` reads N rows of N cells and nothing
    more): rows past line N and cells past column N are dropped, so a
    trailing-garbage file can't emit phantom edges that disagree with
    ``matrix_vertices``'s 1..N id space. Cells other than '1' (the only
    edge marker in the format) are non-edges.
    """
    n_per_graph = lines.filter(F.col("line_no") == 0).select(
        "graph", F.trim(F.col("line")).cast("int").alias("__n"))
    rows = (lines.filter(F.col("line_no") >= 1)
            .filter(F.trim(F.col("line")) != "")
            .join(n_per_graph, "graph")
            .filter(F.col("line_no") <= F.col("__n")))
    cells = rows.select(
        "graph", "__n",
        F.col("line_no").cast("int").alias("src"),
        F.posexplode(F.split(F.trim(F.col("line")), r"\s+")).alias("pos", "bit"),
    )
    return (cells.filter((F.col("bit") == "1") & (F.col("pos") < F.col("__n")))
            .select("graph", "src", (F.col("pos") + 1).cast("int").alias("dst")))


def melt_matrix_lines_weighted(lines: DataFrame) -> DataFrame:
    """Weighted melt — a strict generalization of the reference's 0/1
    exchange format: any NONZERO integer cell is an edge whose weight
    is the cell value, so ``A[i][j]=w ⇒ edge i+1 → j+1 with weight w``.
    Output: ``(graph, src, dst, w)``. On a 0/1 matrix this emits
    exactly :func:`melt_matrix_lines`'s edge set with ``w = 1``
    everywhere (pinned by tests), so the reference's own fixtures
    round-trip unchanged; the declared-N bounding is identical.
    Under the session's ANSI mode (Spark's default) a cell of a row
    in 1..N that is not a 32-bit integer, past column N too, fails the
    write with CAST_INVALID_INPUT; :func:`matrix_tables` is the
    driver-side twin of this melt and rejects the same cells."""
    n_per_graph = lines.filter(F.col("line_no") == 0).select(
        "graph", F.trim(F.col("line")).cast("int").alias("__n"))
    rows = (lines.filter(F.col("line_no") >= 1)
            .filter(F.trim(F.col("line")) != "")
            .join(n_per_graph, "graph")
            .filter(F.col("line_no") <= F.col("__n")))
    cells = rows.select(
        "graph", "__n",
        F.col("line_no").cast("int").alias("src"),
        F.posexplode(F.split(F.trim(F.col("line")), r"\s+")).alias("pos", "cell"),
    )
    return (cells
            .select("graph", "__n", "src", "pos",
                    F.col("cell").cast("int").alias("w"))
            .filter(F.col("w").isNotNull() & (F.col("w") != 0)
                    & (F.col("pos") < F.col("__n")))
            .select("graph", "src",
                    (F.col("pos") + 1).cast("int").alias("dst"), "w"))


def matrix_vertices(lines: DataFrame) -> DataFrame:
    """``(graph, vid)`` for vids 1..N — present even for isolated
    vertices (N comes from line 0 of each file)."""
    n = lines.filter(F.col("line_no") == 0).select(
        "graph", F.trim(F.col("line")).cast("int").alias("n"))
    return n.filter(F.col("n") > 0).select(
        "graph", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("vid"))


def read_matrix_files(spark: SparkSession, path: str) -> DataFrame:
    """Read one or many adjacency-matrix text files into the
    ``(graph, line_no, line)`` shape. ``graph`` = file basename without
    extension (the reference addresses graphs by filename,
    ``client.c:34-39``)."""
    # NB: must be the keyword arg — .text()'s own wholetext param
    # overrides a previously set .option("wholetext", ...).
    whole = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), "value")
    return whole.select(
        F.regexp_extract(F.col("file"), r"([^/]+?)(\.[^./]*)?$", 1).alias("graph"),
        F.posexplode(F.split(F.col("value"), "\n")).alias("line_no", "line"),
    )


def _text_lines(text: str) -> list[str]:
    return text.strip("\n").split("\n")


def lines_from_text(spark: SparkSession, graph: str, text: str) -> DataFrame:
    """Literal matrix text → the lines shape, for the Spark melt: an
    ``add_graph`` over the driver-parse cap, the registry's sample
    matrix and tests that compare against :func:`matrix_tables`.

    The text is already on the driver, so it goes in as an Arrow-backed
    local relation: every action over it (each table write of a commit
    evaluates it again) scans the rows inside the JVM, with no Python
    worker unpickling a parallelized list. One partition, because each
    partition writes its own file per partition dir of every table."""
    lines = _text_lines(text)
    table = pa.table({"graph": [graph] * len(lines),
                      "line_no": pa.array(range(len(lines)), pa.int32()),
                      "line": lines})
    return spark.createDataFrame(
        table, "graph string, line_no int, line string").coalesce(1)


def _cast_int(token: str, line_no: int) -> int:
    """``token`` as Spark's ANSI ``cast(... as int)`` reads it, or
    ValueError where that cast raises. Not bare ``int()``, which also
    takes ``1_0`` and non-ASCII digits."""
    s = token.strip(_CAST_TRIM)
    if _CAST_INT.fullmatch(s):
        v = int(s)
        if -2**31 <= v < 2**31:
            return v
    raise ValueError(f"matrix line {line_no}: {token!r} is not a 32-bit "
                     f"integer")


def declared_n(text: str) -> int:
    """The N on line 0 of a matrix text; ValueError where the melt's
    cast of it raises."""
    return _cast_int(_text_lines(text)[0], 0)


def matrix_tables(graph: str, text: str
                  ) -> tuple[pa.Table, pa.Table, pa.Table]:
    """The driver-side parse of one matrix text: the edges
    ``(src, dst, w, graph)``, vertices ``(vid, graph)`` and meta
    ``(n, graph)`` tables that :func:`melt_matrix_lines_weighted`,
    :func:`matrix_vertices` and the line-0 ``n`` give for the same
    text through :func:`lines_from_text`, with no Spark job. Every
    cell of rows 1..N is checked first, so a malformed text raises
    ValueError before the caller writes anything. As in the melt, a
    row of spaces still uses up its row number, and rows past N and
    cells past column N are no edges."""
    lines = _text_lines(text)
    n = _cast_int(lines[0], 0)
    src, dst, w = [], [], []
    for i, line in enumerate(lines[1:max(n, 0) + 1], 1):
        row = line.strip(" ")     # Spark's trim() strips spaces only
        if not row:
            continue
        for j, token in enumerate(_CELL_SEP.split(row)):
            v = _cast_int(token, i)
            if v and j < n:
                src.append(i)
                dst.append(j + 1)
                w.append(v)
    vids = range(1, n + 1)
    return (pa.table({"src": pa.array(src, pa.int32()),
                      "dst": pa.array(dst, pa.int32()),
                      "w": pa.array(w, pa.int32()),
                      "graph": pa.array([graph] * len(src), pa.string())}),
            pa.table({"vid": pa.array(vids, pa.int32()),
                      "graph": pa.array([graph] * len(vids), pa.string())}),
            pa.table({"n": pa.array([n], pa.int32()),
                      "graph": pa.array([graph], pa.string())}))


def edges_to_matrix_text(edges: DataFrame, n: int) -> str:
    """Round-trip helper (edge list → reference matrix text) for
    format-fidelity tests; driver-side, fixture-scale only."""
    pairs = {(r["src"], r["dst"]) for r in edges.select("src", "dst").collect()}
    lines = [str(n)]
    for i in range(1, n + 1):
        lines.append(" ".join("1" if (i, j) in pairs else "0" for j in range(1, n + 1)))
    return "\n".join(lines) + "\n"

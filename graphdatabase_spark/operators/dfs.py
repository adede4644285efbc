"""Per-graph traversal kernels: BFS levels and DFS-forest leaves.

**DFS (reference op 3) — deterministic respec.** The reference runs a
*concurrent* DFS (one pthread per newly-discovered neighbor,
``secondary_server.c:201-238``) and marks a vertex a leaf if it finds
zero unvisited neighbors when scanning its adjacency row
(``:215-226``). Because ``visited`` is written by racing threads
without a lock, the leaf *set* is schedule-dependent on diamond graphs
— a bug not carried forward (SURVEY.md §2.2). The deterministic respec
(SURVEY §2.1 A2-3): canonical sequential DFS visiting neighbors in
ascending vertex order; a vertex is a leaf iff, at its visit, every
neighbor it checks has already been visited.

**BFS (reference op 4).** ``canonical_bfs_levels`` is the pure-Python
twin of the Pregel kernel (``pregel.bfs_levels``), level cap included.

Where each kernel runs: DFS is inherently sequential (P-complete), so
one process always holds a graph's adjacency. A single-graph
``GraphEngine.dfs_leaves`` collects the graph's edges and runs
:func:`canonical_dfs_leaves` on the driver; the batched
:func:`dfs_leaves` runs each graph inside one ``applyInPandas`` group —
distributed *across* graphs, sequential *within* one. Either way a
graph over ``MAX_DFS_VERTICES`` source vertices raises. A single-graph
``GraphEngine.bfs`` whose edge read fits the reference's envelope
(graphs cap at 100 vertices, ``secondary_server.c:30`` — at most
100 × 100 edge rows) runs :func:`canonical_bfs_levels` on the driver
from one bounded read; a larger graph, and the batched ``bfs_all``,
take the Pregel superstep loop. The documented scale relaxation for
one huge graph is reachable-sinks (``dfs_leaves_tree`` below), which
is exact on trees/forests.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdatabase_spark.operators.pregel import DEFAULT_MAX_ITERATIONS, bfs_levels

MAX_DFS_VERTICES = 100_000  # hard guard: per-graph adjacency must fit one process


def adjacency(pairs) -> dict[int, list[int]]:
    """Adjacency lists of ``(src, dst)`` pairs, in pair order."""
    adj: dict[int, list[int]] = {}
    for s, d in pairs:
        adj.setdefault(int(s), []).append(int(d))
    return adj


def check_dfs_envelope(graph: str, adj: dict[int, list[int]]) -> None:
    """Raise when ``graph`` has more source vertices than the
    canonical DFS holds in one process."""
    if len(adj) > MAX_DFS_VERTICES:
        raise ValueError(
            f"graph {graph!r} exceeds the canonical-DFS envelope "
            f"({len(adj)} > {MAX_DFS_VERTICES} vertices); use dfs_leaves_tree")


def canonical_bfs_levels(adj: dict[int, list[int]], start: int,
                         max_levels: int = DEFAULT_MAX_ITERATIONS
                         ) -> dict[int, int]:
    """Pure-Python level-synchronous BFS: ``{vertex: level}`` for every
    vertex within ``max_levels`` hops of ``start`` (level = minimum hop
    count, ``start`` is level 0 even when it has no edges). The cap is
    the Pregel kernel's superstep limit, so both kernels agree."""
    levels = {start: 0}
    frontier = [start]
    level = 0
    while frontier and level < max_levels:
        level += 1
        nxt = []
        for v in frontier:
            for w in adj.get(v, ()):
                if w not in levels:
                    levels[w] = level
                    nxt.append(w)
        frontier = nxt
    return levels


def canonical_dfs_leaves(adj: dict[int, list[int]], start: int) -> list[int]:
    """Pure-Python canonical DFS (ascending neighbor order), iterative
    so fixture graphs can't hit the recursion limit. Returns the leaf
    set of the DFS forest rooted at ``start``, sorted."""
    visited = {start}
    leaves: list[int] = []
    # stack frames: (vertex, iterator over its sorted neighbors, saw_unvisited)
    stack = [[start, iter(sorted(adj.get(start, []))), False]]
    while stack:
        frame = stack[-1]
        v, it, _ = frame
        advanced = False
        for w in it:
            if w not in visited:
                frame[2] = True
                visited.add(w)
                stack.append([w, iter(sorted(adj.get(w, []))), False])
                advanced = True
                break
        if not advanced:
            stack.pop()
            if not frame[2]:
                leaves.append(v)
    return sorted(leaves)


def dfs_leaves(edges: DataFrame, starts: DataFrame) -> DataFrame:
    """DFS-forest leaves per graph.

    ``edges``: (graph, src, dst); ``starts``: (graph, start) — exactly
    ONE start per graph (the reference's single-source op; multiple
    rows for one graph raise rather than silently running an arbitrary
    one). Output: (graph, leaf). Each graph is one ``applyInPandas``
    group — Arrow batch in, sequential canonical DFS, Arrow batch out.
    A graph with zero edges (the all-zeros matrix) still yields its
    start as the sole leaf — the starts side is the join base, so an
    edgeless graph is a group with null edge rows, not a dropped group.
    """
    joined = starts.join(edges, "graph", "left").select("graph", "src", "dst", "start")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"graph": [], "leaf": []})
        graph = pdf["graph"].iloc[0]
        starts_here = set(int(s) for s in pdf["start"].dropna())
        if len(starts_here) != 1:
            raise ValueError(
                f"graph {graph!r} has {len(starts_here)} start vertices; "
                f"canonical DFS is single-source — pass one start per graph")
        (start,) = starts_here
        adj = adjacency(zip(pdf["src"].dropna(), pdf["dst"].dropna()))
        check_dfs_envelope(graph, adj)
        leaves = canonical_dfs_leaves(adj, start)
        return pd.DataFrame({"graph": graph, "leaf": leaves})

    return joined.groupBy("graph").applyInPandas(run, "graph string, leaf long")


def dfs_leaves_tree(edges: DataFrame, start_vids: list[int]) -> DataFrame:
    """Scalable DFS-leaves for trees/forests: on a tree every non-sink
    vertex has an unvisited child when first reached, so DFS-forest
    leaves == reachable out-degree-0 vertices. Exact on trees; a
    documented relaxation elsewhere. Fully distributed (BFS kernel +
    anti-join), so it holds at any scale."""
    reach = bfs_levels(edges, start_vids).select("vid")
    has_out = edges.select(F.col("src").cast("long").alias("vid")).distinct()
    return reach.join(has_out, "vid", "left_anti").select(F.col("vid").alias("leaf"))

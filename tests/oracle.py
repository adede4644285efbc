"""Pure-Python BFS, DFS and PageRank oracles for the kernel tests, and
a model of the store's edge-batch writes.

They share no code with ``graphdatabase_spark``: the engine serves
in-envelope graphs with its own pure-Python kernels, and derives small
commits on the driver, so checking it against its own code would check
nothing. ``edges`` is any iterable of ``(src, dst)`` pairs; duplicates
are allowed.
"""


def _adjacency(edges) -> dict[int, list[int]]:
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    return {v: sorted(ws) for v, ws in adj.items()}


def bfs_levels(edges, start: int) -> dict[int, int]:
    """Minimum hop count from ``start`` to every reachable vertex."""
    adj = _adjacency(edges)
    levels = {start: 0}
    frontier = [start]
    while frontier:
        nxt = []
        for v in frontier:
            for w in adj.get(v, ()):
                if w not in levels:
                    levels[w] = levels[v] + 1
                    nxt.append(w)
        frontier = nxt
    return levels


def dfs_leaves(edges, start: int) -> list[int]:
    """Leaves of the canonical DFS tree from ``start``: neighbours in
    ascending order; a vertex is a leaf when every neighbour it checks
    is already visited."""
    adj = _adjacency(edges)
    visited = {start}
    leaves = []
    stack = [[start, iter(adj.get(start, ())), False]]
    while stack:
        frame = stack[-1]
        for w in frame[1]:
            if w not in visited:
                frame[2] = True
                visited.add(w)
                stack.append([w, iter(adj.get(w, ())), False])
                break
        else:
            stack.pop()
            if not frame[2]:
                leaves.append(frame[0])
    return sorted(leaves)


def pagerank(edges, vertices, iterations: int = 10, scale=None,
             sources=None) -> dict:
    """Power iteration over one graph, step for step as the DuckDB
    oracles unroll it: out-degree counts every edge row (duplicates and
    self-loops included), a vertex without out-edges is dangling, and
    its mass returns to the teleport set. The teleport set is every
    vertex, or ``sources`` when given.

    ``scale=None`` iterates in floats with damping 0.85:
    ``t·((1 − d) + d·m/n) + d·recv``. An int ``scale`` iterates in
    scaled int64 with damping 85/100 and ``//`` truncation:
    ``t·((15·scale)//100 + (85·(m//n))//100) + (85·recv)//100``. Here
    ``t`` is 1 on the teleport set and 0 elsewhere, ``n`` its size and
    ``m`` the dangling mass."""
    edges = list(edges)
    odeg: dict[int, int] = {}
    for s, _d in edges:
        odeg[s] = odeg.get(s, 0) + 1
    verts = sorted(set(vertices))
    tele = set(verts) if sources is None else set(sources)
    n = len(tele)
    one = 1.0 if scale is None else scale
    rank = {v: one if v in tele else 0 * one for v in verts}
    for _ in range(iterations):
        recv = {v: 0 * one for v in verts}
        for s, d in edges:
            recv[d] += (rank[s] / odeg[s] if scale is None
                        else rank[s] // odeg[s])
        m = sum(rank[v] for v in verts if v not in odeg)
        if scale is None:
            rank = {v: (v in tele) * ((1.0 - 0.85) + 0.85 * m / n)
                    + 0.85 * recv[v] for v in verts}
        else:
            base = (15 * scale) // 100 + (85 * (m // n)) // 100
            rank = {v: (v in tele) * base + (85 * recv[v]) // 100
                    for v in verts}
    return rank


class StoreModel:
    """The store's write semantics for edge batches, per graph: the
    edge multiset as ``(src, dst, w)`` rows, the vertex id set and the
    meta ``n`` rows.

    - An append adds its rows as they are (duplicates stay), its
      endpoint ids join the vertex set, and a graph new to the store
      gets one meta row, the batch's largest endpoint id.
    - A delta upsert replaces every row of each key it names by the
      batch row, adds its endpoint ids, and records the batch's largest
      endpoint id as one more meta row of every graph it touches.
    - A delta delete removes every row of each key it names, in graphs
      the store has; it adds no vertex or meta row.
    """

    def __init__(self):
        self.edges: dict[str, list] = {}
        self.verts: dict[str, set] = {}
        self.meta: dict[str, list] = {}

    def put(self, g: str, n: int, edges) -> None:
        self.edges[g] = [(s, d, 1) for s, d in edges]
        self.verts[g] = set(range(1, n + 1))
        self.meta[g] = [n]

    def _add_ends(self, rows, every_graph: bool) -> None:
        ends: dict[str, set] = {}
        for g, s, d, _w in rows:
            ends.setdefault(g, set()).update((s, d))
        for g, vs in ends.items():
            if every_graph or g not in self.meta:
                self.meta.setdefault(g, []).append(max(vs))
            self.verts.setdefault(g, set()).update(vs)
            self.edges.setdefault(g, [])

    def append(self, rows) -> None:
        """``rows`` are ``(graph, src, dst, w)``."""
        self._add_ends(rows, every_graph=False)
        for g, s, d, w in rows:
            self.edges[g].append((s, d, w))

    def upsert(self, rows) -> None:
        """``rows`` are ``(graph, src, dst, w)`` with distinct keys."""
        self._add_ends(rows, every_graph=True)
        new: dict[str, dict] = {}
        for g, s, d, w in rows:
            new.setdefault(g, {})[(s, d)] = w
        for g, kw in new.items():
            self.edges[g] = [e for e in self.edges[g] if e[:2] not in kw]
            self.edges[g] += [(s, d, w) for (s, d), w in kw.items()]

    def delete(self, keys) -> None:
        """``keys`` are ``(graph, src, dst)``."""
        gone: dict[str, set] = {}
        for g, s, d in keys:
            if g in self.edges:
                gone.setdefault(g, set()).add((s, d))
        for g, ks in gone.items():
            self.edges[g] = [e for e in self.edges[g] if e[:2] not in ks]

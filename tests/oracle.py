"""Pure-Python BFS and DFS oracles for the traversal tests.

They share no code with ``graphdatabase_spark``: the engine serves
in-envelope graphs with its own pure-Python kernels, so checking it
against those kernels would check nothing. ``edges`` is any iterable
of ``(src, dst)`` pairs; duplicates are allowed.
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

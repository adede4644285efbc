"""Seeded inputs, shadow models, oracles and closed-loop clients for the
store workloads.

Both workloads run against a 100-graph store built by ``ingest_dir``
from seeded adjacency-matrix files (20-100 vertices per graph, edge
probability 0.08, the generator of ``tools/bench_store.py``):

- ``serve``: 4 client threads sharing one session, each replaying the
  reference's client menu (60% ``bfs``, 30% ``dfs_leaves``, 10%
  ``modify_graph``) on uniformly chosen graphs.
- ``churn``: 1 client mixing 40% ``append_edges`` (5-edge batches), 30%
  ``merge_edges(mode="delta")`` (3-edge upserts) and 30% ``bfs`` on the
  graph written last, with writes skewed onto a hot set and
  auto-compaction armed.

Every output is checked against a shadow model of the store: a
pure-Python BFS or canonical DFS of each graph version the read could
legally have observed.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import threading
import time

N_GRAPHS = 100
MIN_VERTICES, MAX_VERTICES = 20, 100
EDGE_P = 0.08
# every graph has at least MIN_VERTICES vertices, so a start vertex in
# 1..MIN_VERTICES exists whatever version of the graph a read sees
START_MAX = MIN_VERTICES

SERVE_CLIENTS = 4
SERVE_DECK = ("bfs",) * 6 + ("dfs_leaves",) * 3 + ("modify",)
CHURN_DECK = ("append",) * 4 + ("merge",) * 3 + ("bfs",) * 3
CHURN_HOT = 20
CHURN_HOT_SHARE = 0.8
APPEND_EDGES = 5
MERGE_EDGES = 3
COMPACT_MAX_DELTAS = 4
COMPACT_MAX_CHAIN = 8

WRITES = ("modify", "append", "merge")


# -- inputs ------------------------------------------------------------------

def random_graph(rng: random.Random) -> tuple[int, frozenset]:
    """``(n, edges)`` of one random digraph: no self-loops, each other
    ordered pair an edge with probability EDGE_P."""
    n = rng.randint(MIN_VERTICES, MAX_VERTICES)
    edges = frozenset((i, j) for i in range(1, n + 1)
                      for j in range(1, n + 1)
                      if i != j and rng.random() < EDGE_P)
    return n, edges


def matrix_text(n: int, edges: frozenset) -> str:
    """The reference's exchange format: ``n`` then n rows of 0/1 cells,
    row i column j set for the edge i -> j (1-indexed)."""
    rows = [" ".join("1" if (i, j) in edges else "0"
                     for j in range(1, n + 1)) for i in range(1, n + 1)]
    return f"{n}\n" + "\n".join(rows) + "\n"


def make_catalog(seed: int) -> dict[str, tuple[int, frozenset]]:
    rng = random.Random(f"{seed}:catalog")
    return {f"S{i:04d}": random_graph(rng) for i in range(N_GRAPHS)}


def write_catalog(catalog: dict, directory: str) -> None:
    os.makedirs(directory)
    for name, (n, edges) in catalog.items():
        with open(os.path.join(directory, f"{name}.txt"), "w") as f:
            f.write(matrix_text(n, edges))


# -- oracles -----------------------------------------------------------------

def _adjacency(edges) -> dict[int, list[int]]:
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    return adj


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
    """Leaves of the canonical DFS tree from ``start``: neighbours are
    visited in ascending order, and a vertex is a leaf when every
    neighbour it checks is already visited."""
    adj = {v: sorted(set(ws)) for v, ws in _adjacency(edges).items()}
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


# -- shadow model ------------------------------------------------------------

class Shadow:
    """Every version each graph has had, in commit order.

    A write registers its version before it calls the engine and marks
    it done when the call returns; writes to one graph are serialized
    by a per-graph lock. A read may observe any version from the last
    one done when it started to the last one registered when it ended.
    """

    def __init__(self, catalog: dict[str, tuple[int, frozenset]]):
        self._lock = threading.Lock()
        self._versions = {g: [edges] for g, (_n, edges) in catalog.items()}
        self._done = {g: 0 for g in catalog}
        self._writers = {g: threading.Lock() for g in catalog}

    def read_begin(self, graph: str) -> int:
        with self._lock:
            return self._done[graph]

    def read_candidates(self, graph: str, since: int) -> list[frozenset]:
        with self._lock:
            return self._versions[graph][since:]

    def latest(self, graph: str) -> frozenset:
        with self._lock:
            return self._versions[graph][-1]

    @contextlib.contextmanager
    def write(self, graph: str, new_edges):
        """Register ``new_edges(latest version)`` as the graph's next
        version around the engine call made in the body."""
        with self._writers[graph]:
            with self._lock:
                versions = self._versions[graph]
                versions.append(frozenset(new_edges(versions[-1])))
                index = len(versions) - 1
            yield
            with self._lock:
                self._done[graph] = index

    def edge_count(self) -> int:
        with self._lock:
            return sum(len(v[-1]) for v in self._versions.values())


# -- one request ---------------------------------------------------------------

class Op:
    """One scheduled request: its kind, target graph and argument (a
    start vertex, a matrix text, or an edge batch)."""

    __slots__ = ("kind", "graph", "arg", "edges")

    def __init__(self, kind: str, graph: str, arg, edges=None):
        self.kind, self.graph, self.arg, self.edges = kind, graph, arg, edges


class Executor:
    """Runs requests against one engine, checks each output against the
    shadow model and records ``(client, kind, t0, t1, ok, supersteps)``
    per request. ``tracer`` (optional) wraps each request in a span."""

    def __init__(self, spark, engine, shadow: Shadow, tracer=None):
        self.spark = spark
        self.engine = engine
        self.shadow = shadow
        self.tracer = tracer
        self.records: list[tuple] = []
        self._lock = threading.Lock()

    def run(self, client: int, op: Op) -> None:
        span = self.tracer.begin(op) if self.tracer else None
        t0 = time.perf_counter()
        ok, supersteps = False, 0
        try:
            ok, supersteps = getattr(self, "_" + op.kind)(op)
        except Exception as exc:  # a failed request is counted, not fatal
            print(f"perfbench: {op.kind} on {op.graph} raised "
                  f"{type(exc).__name__}: {exc}", file=sys.stderr)
        t1 = time.perf_counter()
        if span is not None:
            self.tracer.end(span, ok, supersteps)
        if not ok:
            print(f"perfbench: {op.kind} on {op.graph} failed its check",
                  file=sys.stderr)
        with self._lock:
            self.records.append((client, op.kind, t0, t1, ok, supersteps))

    def _bfs(self, op: Op) -> tuple[bool, int]:
        since = self.shadow.read_begin(op.graph)
        rows = self.engine.bfs(op.graph, op.arg).collect()
        got = {r["vertex"]: r["level"] for r in rows}
        ok = any(got == bfs_levels(v, op.arg)
                 for v in self.shadow.read_candidates(op.graph, since))
        # the level-synchronous loop runs one superstep per level plus
        # the one that finds the frontier empty
        return ok, max(got.values(), default=0) + 1

    def _dfs_leaves(self, op: Op) -> tuple[bool, int]:
        since = self.shadow.read_begin(op.graph)
        got = sorted(r["leaf"] for r in
                     self.engine.dfs_leaves(op.graph, op.arg).collect())
        ok = any(got == dfs_leaves(v, op.arg)
                 for v in self.shadow.read_candidates(op.graph, since))
        return ok, 0

    def _modify(self, op: Op) -> tuple[bool, int]:
        with self.shadow.write(op.graph, lambda _old: op.edges):
            self.engine.modify_graph(op.graph, op.arg)
        return True, 0

    def _append(self, op: Op) -> tuple[bool, int]:
        batch = self.spark.createDataFrame(
            [(op.graph, s, d) for s, d in op.arg],
            "graph string, src int, dst int")
        with self.shadow.write(op.graph, lambda old: old | set(op.arg)):
            published = self.engine.append_edges(batch)
        return published is True, 0

    def _merge(self, op: Op) -> tuple[bool, int]:
        batch = self.spark.createDataFrame(
            [(op.graph, s, d, w) for (s, d), w in op.arg.items()],
            "graph string, src int, dst int, w int")
        with self.shadow.write(op.graph, lambda old: old | set(op.arg)):
            adopted, skipped = self.engine.merge_edges(batch, mode="delta")
        return adopted == {op.graph} and not skipped, 0


# -- schedules -------------------------------------------------------------------

def _interleave(deck: tuple[str, ...]):
    """Endless op kinds in the smooth weighted round-robin order of
    ``deck``'s mix, so every prefix of the stream, however short, holds
    the mix's proportions to within one request."""
    # ties keep the deck's order: iterating a set of strings would
    # depend on the interpreter's hash seed
    weights = {k: deck.count(k)
               for k in sorted(dict.fromkeys(deck), key=deck.count)}
    # the rarest kind goes first, so even the shortest run sends it
    credit = {k: len(deck) - w for k, w in weights.items()}
    while True:
        for k, w in weights.items():
            credit[k] += w
        kind = max(credit, key=credit.get)
        credit[kind] -= len(deck)
        yield kind


class ServeSchedule:
    """The serve request stream, shared by all clients: each client takes
    the next request when its previous one returns."""

    deck = SERVE_DECK

    def __init__(self, seed, names: list[str]):
        self.rng = random.Random(f"{seed}:serve")
        self.kinds = _interleave(self.deck)
        self.names = names
        self._lock = threading.Lock()

    def next(self) -> Op:
        with self._lock:
            kind = next(self.kinds)
            graph = self.rng.choice(self.names)
            if kind == "modify":
                n, edges = random_graph(self.rng)
                return Op(kind, graph, matrix_text(n, edges), edges)
            return Op(kind, graph, self.rng.randint(1, START_MAX))


class ChurnSchedule:
    """The churn client's seeded request stream. ``sizes`` maps each
    graph to its vertex count; churn writes never add vertices, so the
    counts stay fixed."""

    deck = CHURN_DECK

    def __init__(self, seed, sizes: dict[str, int]):
        self.rng = random.Random(f"{seed}:churn")
        self.kinds = _interleave(self.deck)
        self.sizes = sizes
        self.names = sorted(sizes)
        self.hot = random.Random(f"{seed}:hot").sample(self.names, CHURN_HOT)
        self.last_written = self.hot[0]

    def _write_target(self) -> str:
        if self.rng.random() < CHURN_HOT_SHARE:
            return self.rng.choice(self.hot)
        return self.rng.choice(self.names)

    def _pair(self, n: int) -> tuple[int, int]:
        return self.rng.randint(1, n), self.rng.randint(1, n)

    def next(self) -> Op:
        kind = next(self.kinds)
        if kind == "bfs":
            return Op(kind, self.last_written,
                      self.rng.randint(1, START_MAX))
        graph = self._write_target()
        self.last_written = graph
        n = self.sizes[graph]
        if kind == "append":
            return Op(kind, graph, [self._pair(n) for _ in range(APPEND_EDGES)])
        upserts: dict[tuple[int, int], int] = {}
        while len(upserts) < MERGE_EDGES:
            upserts[self._pair(n)] = self.rng.randint(2, 9)
        return Op(kind, graph, upserts)


def schedules(workload: str, seed, catalog: dict) -> list:
    """The request stream each client draws from; ``seed`` may be any
    str or int."""
    if workload == "serve":
        stream = ServeSchedule(seed, sorted(catalog))
        return [stream] * SERVE_CLIENTS
    return [ChurnSchedule(seed, {g: n for g, (n, _e) in catalog.items()})]


def configure_engine(workload: str, engine) -> None:
    if workload == "churn":
        engine.compact_policy(max_deltas=COMPACT_MAX_DELTAS,
                              max_chain=COMPACT_MAX_CHAIN)


# -- closed loop -------------------------------------------------------------------

def closed_loop(executor: Executor, streams: list, seconds: float) -> None:
    """Each client sends its next request when the previous one returns,
    until ``seconds`` have passed; requests in flight then finish and
    count, so long requests are not cut from the sample."""
    deadline = time.perf_counter() + seconds

    def client(c: int) -> None:
        stream = streams[c]
        while time.perf_counter() < deadline:
            executor.run(c, stream.next())

    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}")
               for c in range(len(streams))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _shallow_bfs(shadow: Shadow, names: list[str]) -> tuple[str, int]:
    """The (graph, start) among the first graphs whose BFS runs the
    fewest supersteps, at least two: the cheapest request that still
    runs every stage of the level loop."""
    depth = {}
    for g in names[:20]:
        edges = shadow.latest(g)
        for start in range(1, START_MAX + 1):
            levels = max(bfs_levels(edges, start).values())
            if levels >= 1:
                depth[(g, start)] = levels
    return min(depth, key=depth.get)


def warm_up(executor: Executor, stream) -> None:
    """One untimed request of each kind the stream sends, all at once,
    so the first measured request of a kind pays no first-use cost."""
    kinds, ops = set(stream.deck), []
    while kinds:
        op = stream.next()
        if op.kind in kinds:
            kinds.discard(op.kind)
            if op.kind == "bfs":
                op = Op("bfs", *_shallow_bfs(executor.shadow, stream.names))
            ops.append(op)
    threads = [threading.Thread(target=executor.run, args=(c, op))
               for c, op in enumerate(ops)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

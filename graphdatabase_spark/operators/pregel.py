"""Pregel-style level-synchronous superstep kernel + traversal operators.

The reference's BFS is already bulk-synchronous-parallel: it drains the
whole frontier, spawns one pthread per frontier vertex, and barriers
with ``pthread_join`` before the next level (``secondary_server.c:
588-618``). Each while-loop iteration there is one superstep here: one
distributed join per level, driver-side loop, barrier = job boundary.
That is the faithful mapping (SURVEY.md §2.1 A2-4) — GraphX's Pregel
has the same structure but is JVM-only, so the loop is implemented
over public DataFrame API.

Scale design (the parts that matter at 100 TB / 1000 executors):

- **Edges are persisted once, pre-partitioned on the join key** (src).
  Every superstep joins the frontier against the same edge partitioning,
  so only the (small) frontier shuffles per iteration, not the edges.
- **Lineage truncation**: each new frontier/visited is
  ``localCheckpoint(eager=True)``-ed. Without this the plan doubles per
  iteration and the driver OOMs on plan size around iteration ~20
  (the known iterative-DataFrame pitfall; cf. Pregelix VLDB'14 and the
  GraphX literature, PAPERS.md).
- **Visited is kept as a DataFrame and anti-joined**, not collected:
  the visited set at 100 TB can be billions of vertices; nothing in the
  loop ships vertex sets through the driver.
- **AQE** converts the frontier side to a broadcast join at runtime
  whenever a superstep's frontier is small (first/last supersteps),
  and falls back to shuffle join for the wide middle supersteps.
- **One loop per traversal, keyed.** Grouping columns select one graph
  (``[]``) or a whole catalog (``["graph"]``) in the same loop:
  :func:`bfs_levels` ``(edges, starts, keys)`` for every BFS (one
  graph, every stored graph, or every (graph, landmark) pair) and
  :func:`pagerank` ``(edges, vertices, keys)`` for every PageRank. The
  latter also takes ``scale`` (``None`` = float, an int = bit-exact
  scaled int64) and ``sources`` (personalized PageRank: the teleport
  weight ``t`` is 1 on the sources, 0 elsewhere; 1 everywhere without).
"""

from __future__ import annotations

import contextvars
from collections.abc import Sequence
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_MAX_ITERATIONS = 100

# Checkpoint policy for every superstep kernel in this package. The
# default is ``localCheckpoint(eager=True)`` everywhere: blocks live on
# executors — the cheapest lineage truncation, and exactly right on
# local[n] and for short loops. Its failure mode only exists on a real
# cluster: localCheckpoint both STORES the data on executors AND
# truncates the lineage, so one lost executor mid-iteration makes the
# job unrecoverable (the blocks are gone and there is no lineage left
# to recompute them). GraphX's own Pregel checkpoints to RELIABLE
# storage every ~N rounds for exactly this reason; the context manager
# below is that knob.
# The policy is a ``contextvars.ContextVar`` (not a module-global
# dict) so concurrent driver threads each see their own cadence — the
# engine already runs kernels from multiple driver threads, and a
# shared mutable dict would let one thread's context silently alter
# another kernel's checkpoint policy (round-11 verdict nit 3 / ADVICE).
_CKPT: contextvars.ContextVar[tuple[int, list[int]]] = \
    contextvars.ContextVar("pregel_ckpt", default=(0, [0]))


@contextmanager
def reliable_checkpoints(spark, directory: str, every: int = 10):
    """Run kernels with GraphX-style RELIABLE checkpointing: inside
    this context every ``every``-th kernel checkpoint becomes a
    ``df.checkpoint(eager=True)`` into ``directory`` (HDFS/S3 on a
    cluster — survives executor loss), with ``localCheckpoint``
    between. Results are bit-identical to the default policy
    (tests/test_graph.py pins it); only failure recovery changes —
    after an executor loss the loop recomputes at most ``every``
    supersteps from the last reliable checkpoint instead of dying.
    The knob lives here (one policy for all 30+ kernel checkpoint
    sites) rather than as a per-kernel parameter. Thread-scoped: the
    policy binds only to the calling thread's context (kernels on
    other driver threads keep the default local-checkpoint policy),
    the prior policy is restored on exit so contexts nest, and each
    context gets its own superstep counter. The Spark checkpoint dir
    itself is process-global JVM state and is deliberately left set —
    a stale dir is inert without a policy that uses it."""
    spark.sparkContext.setCheckpointDir(directory)
    token = _CKPT.set((max(1, int(every)), [0]))
    try:
        yield
    finally:
        _CKPT.reset(token)


def _ckpt(df: DataFrame) -> DataFrame:
    """The kernels' one checkpoint call (used postfix via
    ``.transform(_ckpt)``): localCheckpoint by default, every K-th
    call reliable under :func:`reliable_checkpoints`."""
    every, counter = _CKPT.get()
    if every:
        counter[0] += 1
        if counter[0] % every == 0:
            return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _ckpt_lazy(df: DataFrame) -> DataFrame:
    """Non-eager :func:`_ckpt`: the lineage truncation and persist
    happen inside the FIRST job that touches the result instead of in
    a dedicated materialization job. Same checkpoint policy switch."""
    every, counter = _CKPT.get()
    if every:
        counter[0] += 1
        if counter[0] % every == 0:
            return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def _ckpt_n(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize one superstep output AND return its row count in a
    SINGLE job: lazy checkpoint + count — the count both computes/
    persists the truncated lineage and answers the loop's termination
    question. Replaces the eager-checkpoint-then-isEmpty pair, which
    cost two driver round trips per superstep (round-15 optimization:
    job census showed the superstep kernels issuing 90-200 jobs per
    query, ~half of them emptiness probes)."""
    out = _ckpt_lazy(df)
    return out, out.count()


def _ckpt_sum(df: DataFrame, col: str) -> tuple[DataFrame, int]:
    """:func:`_ckpt_n`'s aggregate twin: materialize one superstep
    output and return ``sum(col)`` in the SAME job. Lets a kernel fold
    its convergence test into the state materialization itself (SCC's
    color loop: the improved-flag sum over the new color table answers
    "did any label improve?" without a second per-superstep job for
    the improved subset — round-16 optimization)."""
    out = _ckpt_lazy(df)
    row = out.agg(F.sum(F.col(col)).alias("s")).collect()[0]
    return out, int(row["s"] or 0)


def bfs_levels(edges: DataFrame, starts, keys: Sequence[str] = (),
               max_iterations: int = DEFAULT_MAX_ITERATIONS,
               prepared: bool = False) -> DataFrame:
    """THE level-synchronous BFS, for one graph or a catalog:
    ``(*keys, vid, level)`` for every vertex reachable from the starts
    (level = minimum hop count; the starts are level 0, matching
    ``secondary_server.c:577-585``). Within-level order is unspecified —
    the reference's own oracle compares level-*sets*
    (``utils/bfs_checker.py:75-76``).

    - ``keys`` are grouping columns, as in :func:`pagerank`: ``[]`` for
      one graph, ``["graph"]`` for a catalog, ``["graph", "lm"]`` for one
      traversal per (graph, landmark). Edges are ``(*keys, src, dst)``;
      ``starts`` is a vid list without keys, else a ``(*keys, vid)``
      frame. Each key traverses as if alone: per superstep the union of
      every key's frontier shuffles once against the same edges, a key
      that converges early stops contributing rows, and the loop ends
      when the whole frontier drains.
    - The edges are cast to longs, hash-partitioned by ``(*keys, src)``
      once and persisted for the loop, so only the frontier shuffles per
      superstep. ``prepared=True`` declares them already in that shape
      (a session-shared materialization reused across traversals); the
      kernel then neither re-shuffles nor unpersists them.

    One checkpointed frontier per level; ``visited`` is their lazy
    union. Each union leaf is already materialized, so lineage depth
    stays 1 and — unlike checkpointing the cumulative set per level —
    nothing re-materializes O(V) rows at every superstep (that costs
    O(V·depth) total; this costs O(V)). distinct() before the
    anti-join: a vertex reachable from two same-level parents must be
    visited once (the reference's racy double-visit here is a bug not
    carried forward, SURVEY §2.2)."""
    keys = list(keys)
    e = edges if prepared else (
        edges.select(*keys, F.col("src").cast("long"), F.col("dst").cast("long"))
        .repartition(*keys, "src").persist())
    frontier = (starts.select(*keys, F.col("vid").cast("long")) if keys
                else edges.sparkSession.createDataFrame(
                    pa.table({"vid": pa.array([int(v) for v in starts],
                                              pa.int64())}), "vid long"))
    frontier = frontier.distinct().transform(_ckpt)
    frontiers: list[DataFrame] = [frontier.withColumn("level", F.lit(0))]
    visited = frontier

    level = 0
    while level < max_iterations:
        level += 1
        f, ee = frontier.alias("f"), e.alias("e")
        cond = F.col("f.vid") == F.col("e.src")
        for k in keys:
            cond = cond & (F.col(f"f.{k}") == F.col(f"e.{k}"))
        nxt = (
            f.join(ee, cond)
            .select(*[F.col(f"e.{k}").alias(k) for k in keys],
                    F.col("e.dst").alias("vid"))
            .distinct()
            .join(visited, [*keys, "vid"], "left_anti")
        )
        nxt, n_nxt = _ckpt_n(nxt)   # materialize + count in one job
        if n_nxt == 0:
            break
        frontiers.append(nxt.withColumn("level", F.lit(level)))
        visited = visited.unionByName(nxt)
        frontier = nxt
    if not prepared:
        e.unpersist()
    out = frontiers[0]
    for fr in frontiers[1:]:
        out = out.unionByName(fr)
    return out


def sssp_weighted(edges: DataFrame, start_vids: list[int],
                  max_iterations: int = DEFAULT_MAX_ITERATIONS,
                  prepared: bool = False) -> DataFrame:
    """Weighted single-source shortest paths (non-negative weights):
    ``(vid, dist)`` by Bellman-Ford-style relaxation — each superstep
    relaxes every edge out of vertices whose distance improved last
    round (the "active" frontier), exactly the delta-stepping-without-
    buckets formulation that maps onto the BFS kernel's shuffle shape.
    Converges in ≤ |V| supersteps; terminates as soon as no distance
    improves. Input: ``(src, dst, weight)`` with non-negative weights —
    fractional weights are honored (distances accumulate in double;
    for integral weights every sum below 2^53 is still exact, so
    integer-weighted callers can safely cast the result back).
    ``prepared=True`` declares the input already (src long, dst long,
    weight double), src-partitioned and persisted by the caller (a
    session-shared materialization) — the kernel then neither
    re-shuffles nor unpersists it, mirroring ``bfs_levels``."""
    spark = edges.sparkSession
    if prepared:
        e = edges
    else:
        e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"),
                         F.col("weight").cast("double"))
        e = e.repartition("src").persist()
    vids = sorted({int(v) for v in start_vids})
    dist = spark.createDataFrame(
        pa.table({"vid": pa.array(vids, pa.int64()),
                  "dist": pa.array([0.0] * len(vids), pa.float64())}),
        "vid long, dist double")
    dist = dist.transform(_ckpt)
    active = dist

    for _ in range(max_iterations):
        cand = (
            active.join(e, active.vid == e.src)
            .select(F.col("dst").alias("vid"), (F.col("dist") + F.col("weight")).alias("d"))
            .groupBy("vid").agg(F.min("d").alias("d"))
        )
        # one job per superstep (round-16, the SCC color-loop fusion
        # applied here): the relaxed distance table, the improved
        # flags, and the convergence sum come out of a single
        # _ckpt_sum materialization — previously the improved-set
        # count and the eager dist checkpoint were two jobs. The full
        # outer join IS the old two-legged update (matched keys take
        # the better distance, cand-only keys insert, dist-only keys
        # carry through).
        step = (
            dist.withColumnRenamed("dist", "cur").join(cand, "vid", "full")
            .select("vid",
                    F.when(F.col("cur").isNull()
                           | (F.col("d") < F.col("cur")),
                           F.col("d")).otherwise(F.col("cur"))
                    .alias("dist"),
                    F.when(F.col("cur").isNull()
                           | (F.col("d") < F.col("cur")),
                           F.lit(1)).otherwise(F.lit(0)).alias("imp"))
        )
        step, n_improved = _ckpt_sum(step, "imp")
        if n_improved == 0:
            dist = step.select("vid", "dist")
            break
        dist = step.select("vid", "dist")
        active = step.filter(F.col("imp") == 1).select("vid", "dist")
    if not prepared:
        e.unpersist()
    return dist


def pagerank(edges: DataFrame, vertices: DataFrame, keys: Sequence[str] = (),
             iterations: int = 10, scale: int | None = None,
             sources: list[int] | None = None) -> DataFrame:
    """THE PageRank superstep loop, for one graph or a catalog, float or
    bit-exact, global or personalized. Edges ``(*keys, src, dst)`` and
    vertices ``(*keys, vid)`` give ``(*keys, vid, rank)`` in floats or
    ``(*keys, vid, rank_q)`` in scaled int64.

    - ``keys`` are grouping columns, as in :func:`bfs_levels`: ``[]`` for
      one graph, ``["graph"]`` for a catalog. Each key runs as if alone:
      its teleport and dangling mass stay within it. (A packed disjoint
      union would leak both across graphs in proportion to their sizes.)
    - ``scale=None`` iterates in floats with damping ``d`` = 0.85. An int
      ``scale`` iterates in int64 with ``rank_q ≈ rank·scale``, damping
      the exact rational 85/100 and ``div`` truncation, so the result is
      bit-exact whatever the partitioning or engine, and DuckDB oracles
      can hash-match it (float sums are association-order-sensitive).
      Overflow envelope: ``85·recv ≤ 85·n·scale`` stays under 2^63 for n
      up to ~1e8 at scale 1e9; drop ``scale`` a decade per 10× beyond.
    - ``sources=None`` is global PageRank. A vid list (``keys=[]`` only)
      is personalized PageRank: teleport and dangling mass return to the
      source set, so ranks measure proximity to it.

    Each vertex carries a teleport weight ``t``: 1 for every vertex in
    global PageRank, 1 only for the sources in personalized PageRank.
    Ranks start at ``t`` (``t·scale``). Per key, ``n = sum(t)`` and ``m``
    is the mass on dangling vertices (no out-edge; out-degree counts
    every edge row), and each superstep sets

    - float: ``t·((1−d) + d·m/n) + d·recv``, ``recv = sum(rank/odeg)``;
    - int: ``t·((15·scale) div 100 + (85·(m div n)) div 100)
      + (85·recv) div 100``, ``recv = sum(rank_q div odeg)``.

    Per superstep: one join against the (keys, src)-partitioned edges,
    a map-side-combined sum shuffle, and one per-key ``(m, n)`` aggregate
    joined back (a broadcast cross join without keys), never collected.
    """
    keys = list(keys)
    rank = "rank" if scale is None else "rank_q"
    e = (edges.select(*keys, F.col("src").cast("long"), F.col("dst").cast("long"))
         .repartition(*keys, "src").persist())
    out_deg = e.groupBy(*keys, "src").agg(F.count(F.lit(1)).alias("odeg"))
    ev = e.join(out_deg, [*keys, "src"]).persist()
    t = F.lit(1)
    if sources is not None:
        uniq = sorted({int(s) for s in sources})
        if not uniq or keys:
            raise ValueError("personalized PageRank needs a non-empty "
                             "source set and one graph (keys=[])")
        t = F.col("vid").isin(uniq).cast("int")
    one = F.lit(1.0) if scale is None else F.lit(scale).cast("long")
    ranks = (vertices.select(*keys, F.col("vid").cast("long")).distinct()
             .join(out_deg.withColumnRenamed("src", "vid"), [*keys, "vid"], "left")
             .select(*keys, "vid", t.alias("t"), F.col("odeg").isNull().alias("dang"))
             .withColumn(rank, F.col("t") * one)
             .transform(_ckpt))
    if sources is not None:
        # A source absent from the vertex table would get no teleport
        # row: dangling mass would leak every superstep. Fail loudly.
        n_src = ranks.agg(F.sum("t")).collect()[0][0] or 0
        if n_src != len(uniq):
            raise ValueError(f"{len(uniq) - n_src} source vertex id(s) "
                             f"not present in the graph")
    if scale is None:
        share = F.col(rank) / F.col("odeg")
        m = F.coalesce(F.col("__m"), F.lit(0.0))
        step = (F.col("t") * (F.lit(1.0 - 0.85) + F.lit(0.85) * m / F.col("__n"))
                + F.lit(0.85) * F.coalesce(F.col("recv"), F.lit(0.0)))
    else:
        share = F.expr(f"{rank} div odeg")
        step = (F.col("t") * (F.lit((15 * scale) // 100)
                              + F.expr("(85 * (coalesce(__m, 0L) div __n)) div 100"))
                + F.expr("(85 * coalesce(recv, 0L)) div 100")).cast("long")

    for _ in range(iterations):
        contribs = (
            ranks.select(*keys, F.col("vid").alias("src"), rank).join(ev, [*keys, "src"])
            .select(*keys, F.col("dst").alias("vid"), share.alias("c"))
            .groupBy(*keys, "vid").agg(F.sum("c").alias("recv"))
        )
        scalars = ranks.groupBy(*keys).agg(
            F.sum(F.when(F.col("dang"), F.col(rank))).alias("__m"),
            F.sum("t").alias("__n"))
        nxt = ranks.select(*keys, "vid", "t", "dang").join(contribs, [*keys, "vid"], "left")
        nxt = (nxt.join(scalars, keys) if keys
               else nxt.crossJoin(F.broadcast(scalars)))
        ranks = (nxt.select(*keys, "vid", "t", "dang", step.alias(rank))
                 .transform(_ckpt))
    ev.unpersist()
    e.unpersist()
    return ranks.select(*keys, "vid", rank)


def label_propagation(edges: DataFrame, vertices: DataFrame,
                      iterations: int = 4) -> DataFrame:
    """Synchronous label propagation (GraphX ``LabelPropagation``
    parity): every vertex starts with its own id; each of the fixed
    ``iterations`` supersteps it adopts the most frequent label among
    its neighbors (ties → smallest label; isolated vertices keep their
    own). Returns ``(vid, label)``.

    Fully deterministic — synchronous updates + total-ordered
    tie-break — so the fixed-iteration run is oracle-checkable as an
    unrolled CTE chain (async LPA, the usual nondeterminism source, is
    exactly what this variant avoids). Per superstep: one message join
    + one (vid, label) count shuffle + one per-vid argmax window over
    the counts (≤ degree rows per vertex)."""
    und = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    und = und.union(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    und = und.repartition("src").persist()
    labels = vertices.select(F.col("vid").cast("long")).distinct() \
        .withColumn("label", F.col("vid"))
    labels = labels.transform(_ckpt)
    w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("label"))

    for _ in range(iterations):
        counts = (
            und.join(labels, und.src == labels.vid)
            .select(F.col("dst").alias("vid"), "label")
            .groupBy("vid", "label").agg(F.count(F.lit(1)).alias("cnt"))
        )
        winner = (counts.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") == 1).select("vid", F.col("label").alias("new_label")))
        labels = (
            labels.select("vid", "label").join(winner, "vid", "left")
            .select("vid", F.coalesce("new_label", "label").alias("label"))
        )
        labels = labels.transform(_ckpt)
    und.unpersist()
    return labels


def _cc_large_star(e: DataFrame) -> DataFrame:
    """One large-star round over a distinct self-loop-free edge set
    ``(u, v)``: every strictly-larger neighbor of ``u`` re-attaches to
    ``m(u) = min(N(u) ∪ {u})``. Expressed as one symmetrize + one
    groupBy-min + one join — no per-vertex neighbor-list collection, so
    a hot vertex never materializes its adjacency as an array."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m")))
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge (big, small); each vertex
    ``u`` re-attaches itself and its smaller neighbors to the minimum
    neighbor. Output stays (big, small)-oriented and distinct."""
    oriented = (e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
                .filter(F.col("u") != F.col("v")))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    return (
        oriented.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .distinct()
    )


def connected_components(edges: DataFrame, vertices: DataFrame,
                         max_iterations: int = DEFAULT_MAX_ITERATIONS,
                         stats: dict | None = None) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): ``(vid, component)`` where component = min vertex id in
    the (undirected) component.

    Why not HashMin: HashMin converges in O(diameter) supersteps, which
    is fine on short-diameter community graphs but explodes on
    high-diameter structure (chains, meshes, road networks) — exactly
    the shape a 100 TB corpus can hide. Large-star/small-star contracts
    the graph toward stars rooted at each component's minimum and
    converges in O(log n) rounds regardless of diameter; each round is
    two groupBy-min shuffles + two joins over the (shrinking) edge set.

    The fixed point is a disjoint union of stars ``(member, root)``, so
    the final edge set IS the component assignment; isolated vertices
    (and the roots themselves) map to their own id via the vertex join.

    Convergence is detected by exact set equality (two anti-joins over
    the checkpointed edge sets), not a checksum. ``stats``, if given,
    receives ``{"rounds": k}`` — the number of large+small star rounds
    executed before the fixed point (used by the path-graph convergence
    test pinning the O(log n) bound).

    Generalizes the reference's BSP kernel (``secondary_server.c:
    588-618``) in the same way as the other Pregel operators, but with
    graph contraction instead of frontier expansion.
    """
    e = (edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
         .filter(F.col("src") != F.col("dst"))
         .select(F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v"))
         .distinct())
    e, n_e = _ckpt_n(e)

    rounds = 0
    for _ in range(max_iterations):
        if n_e == 0:
            break
        # ONE job per round (round-15 optimization; was four): the
        # full-outer diff both materializes the lazily-checkpointed
        # next edge set and answers set equality in both directions
        # (the same exact-equality convergence test as the two
        # anti-join probes it replaces) plus the next round's
        # emptiness question. (u, v) is unique on both sides (each
        # star round ends distinct), so the join is key-to-key.
        nxt = _ckpt_lazy(_cc_small_star(_cc_large_star(e)))
        row = (nxt.select("u", "v", F.lit(1).alias("_a"))
               .join(e.select("u", "v", F.lit(1).alias("_b")),
                     ["u", "v"], "full_outer")
               .agg(F.count(F.when(F.col("_a").isNull()
                                   | F.col("_b").isNull(), 1))
                    .alias("diff"),
                    F.count("_a").alias("n_nxt")).collect()[0])
        rounds += 1
        e, n_e = nxt, row["n_nxt"]
        if row["diff"] == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds

    # Defensive min in case a member carries edges to two labels on the
    # final (converged) set — at a true fixed point this is a no-op.
    comp = (e.groupBy(F.col("u").alias("vid"))
            .agg(F.min("v").alias("component")))
    return (
        vertices.select(F.col("vid").cast("long")).distinct()
        .join(comp, "vid", "left")
        .select("vid", F.coalesce("component", F.col("vid")).alias("component"))
    )


def _restrict_edges(e: DataFrame, keep: DataFrame) -> DataFrame:
    """Edges with BOTH endpoints in ``keep`` (a (vid) set) — two
    semi-joins, checkpointed by the caller. The ``src`` semi-join goes
    LAST deliberately: the result (and the checkpoint that preserves
    its physical partitioning) comes out hash-partitioned by ``src``,
    so the color loop's per-superstep frontier⋈edges join reuses the
    edge partitioning instead of re-exchanging the whole remaining
    edge set every superstep (guide §2.4 — same total exchanges here,
    one fewer per superstep downstream)."""
    return (e.join(keep.select(F.col("vid").alias("dst")), "dst", "left_semi")
            .join(keep.select(F.col("vid").alias("src")), "src", "left_semi")
            .select("src", "dst"))


def strongly_connected_components(edges: DataFrame, vertices: DataFrame,
                                  max_iterations: int = DEFAULT_MAX_ITERATIONS,
                                  stats: dict | None = None) -> DataFrame:
    """Strongly connected components of a DIRECTED graph: ``(vid, scc)``
    where ``scc`` = the minimum vertex id in the component. The directed
    analogue :func:`connected_components` silently symmetrizes away —
    the store honors asymmetric adjacency matrices (the reference's G2
    fixture, SURVEY §1.1), so "mutually reachable" is a real question.

    Trim + forward-backward decomposition with min-label pivots (the
    coloring formulation of FW-BW — Orzan'04 / Slota et al. IPDPS'14;
    McSherry et al. call the same forward pass "label propagation SCC").
    Per outer round, entirely out of the existing superstep vocabulary:

    1. **Trim to fixpoint**: a vertex with no in-edge or no out-edge in
       the remaining subgraph is its own SCC (nothing can return to
       it). On DAG-dominated graphs — every FK-derived hierarchy —
       this alone collapses almost everything without any propagation.
    2. **Color**: forward min-label propagation to fixpoint —
       ``color(v)`` = min remaining vid that reaches v. Active-frontier
       form: only vertices whose color improved last superstep re-send
       (the sssp relaxation shape; edges stay put, labels shuffle).
    3. **Extract**: every ``v`` with ``color(v) == v`` is a pivot (the
       minimum remaining vertex always is, so progress is guaranteed);
       one backward BFS from ALL pivots at once, restricted to each
       pivot's own color class, yields every pivot's SCC in the same
       superstep loop. (Membership proof: ``u ∈ SCC(r)`` ⟹ r reaches
       u and nothing below r does ⟹ ``color(u) = r``; conversely any
       v→…→r path from a member stays inside the class, so the
       restriction drops no member.)
    4. Remove extracted vertices and their edges; repeat.

    Scale shape: identical per-superstep cost to BFS/CC — the remaining
    edge set is checkpointed and only (vid, label) frontiers shuffle;
    every removal shrinks the edge set monotonically. Worst case (one
    huge cycle) needs O(cycle length) color supersteps — the same bound
    HashMin CC has on a path; the trim phase is what keeps real
    (DAG-heavy) graphs cheap. ``stats`` receives ``{"rounds": k,
    "color_supersteps": m}``.
    """
    # src-partitioned ONCE, preserved by every checkpoint (LogicalRDD
    # carries the physical partitioning) and by the broadcast-side
    # restrict semi-joins: the color loop's frontier⋈edges join then
    # never re-exchanges the edge set — labels shuffle, edges stay put
    # (the kernel contract this module's header declares, now actually
    # delivered for SCC; guide §2.4).
    e = (edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
         .filter(F.col("src") != F.col("dst")).distinct()
         .repartition("src")
         .transform(_ckpt))
    remaining, n_rem = _ckpt_n(
        vertices.select(F.col("vid").cast("long")).distinct())
    done: list[DataFrame] = []
    rounds = 0
    color_steps = 0

    for _ in range(max_iterations):
        # 1. trim to fixpoint — one counted job per trim round (the
        # trivial set's size falls out of the remaining counts, so
        # its own emptiness probe is free; round-15 job fusion)
        while True:
            nontrivial, n_non = _ckpt_n(
                remaining
                .join(e.select(F.col("src").alias("vid")), "vid", "left_semi")
                .join(e.select(F.col("dst").alias("vid")), "vid", "left_semi"))
            trivial = _ckpt_lazy(
                remaining.join(nontrivial, "vid", "left_anti"))
            remaining, prev_rem, n_rem = nontrivial, n_rem, n_non
            if prev_rem == n_non:
                break   # trivial set empty: trim fixpoint
            done.append(trivial.select("vid", F.col("vid").alias("scc")))
            e = _ckpt_lazy(_restrict_edges(e, remaining))
        if n_rem == 0:
            break
        rounds += 1

        # 2. forward min-label coloring (active-frontier fixpoint).
        # MUST reach the fixpoint: truncated colors mis-identify pivots
        # and the backward phase then extracts sets that are not SCCs —
        # silently WRONG results, unlike BFS where a depth cap merely
        # truncates. Fail loudly instead (BFS-style bounded semantics
        # are not offered here for that reason).
        # one job per superstep (round-16): the new color table, the
        # improved flags, and the convergence sum all come out of a
        # single _ckpt_sum materialization — the previous shape paid
        # two jobs (improved-set count, then an eager colors
        # checkpoint). ``colors`` starts as a plain projection of the
        # checkpointed ``remaining`` (no extra materialization) and is
        # re-derived from each superstep's checkpoint, so lineage
        # depth stays 1.
        colors = remaining.select("vid", F.col("vid").alias("color"))
        active = colors
        converged = False
        for _ in range(max_iterations):
            msgs = (active.join(e, active.vid == e.src)
                    .select(F.col("dst").alias("vid"), "color")
                    .groupBy("vid").agg(F.min("color").alias("mc")))
            step = (colors.join(msgs, "vid", "left")
                    .select("vid",
                            F.when(F.col("mc") < F.col("color"),
                                   F.col("mc"))
                            .otherwise(F.col("color")).alias("color"),
                            F.when(F.col("mc") < F.col("color"),
                                   F.lit(1)).otherwise(F.lit(0))
                            .alias("imp")))
            step, n_improved = _ckpt_sum(step, "imp")
            color_steps += 1
            if n_improved == 0:
                converged = True
                break
            colors = step.select("vid", "color")
            active = step.filter(F.col("imp") == 1).select("vid", "color")
        if not converged:
            raise RuntimeError(
                f"SCC coloring did not reach its fixpoint within "
                f"{max_iterations} supersteps (propagation distance exceeds "
                f"the bound, e.g. a longer directed cycle); raise "
                f"max_iterations — truncated colors would yield wrong "
                f"components, not approximate ones")

        # 3. backward BFS from all pivots at once, within color classes
        # visited = lazy union of checkpointed frontiers (each leaf is
        # materialized, lineage depth stays 1 — the bfs_levels pattern).
        frontier = (colors.filter(F.col("vid") == F.col("color"))
                    .select("vid", F.col("vid").alias("scc"))
                    .transform(_ckpt_lazy))   # materializes inside the
        # first backward job (colors is itself a projection of a
        # checkpoint, so lineage depth stays 1 either way)
        extracted = frontier
        while True:
            preds, n_preds = _ckpt_n(
                frontier.join(e, frontier.vid == e.dst)
                .select(F.col("src").alias("vid"), "scc").distinct()
                .join(colors, "vid")
                .filter(F.col("color") == F.col("scc"))
                .select("vid", "scc")
                .join(extracted, "vid", "left_anti"))
            if n_preds == 0:
                break
            extracted = extracted.unionByName(preds)
            frontier = preds
        done.append(extracted)

        # 4. remove and iterate
        remaining, n_rem = _ckpt_n(
            remaining.join(extracted, "vid", "left_anti"))
        if n_rem == 0:
            break
        e = _ckpt_lazy(_restrict_edges(e, remaining))

    if n_rem != 0:
        raise RuntimeError(
            f"SCC decomposition did not drain within {max_iterations} outer "
            f"rounds; raise max_iterations — a partial result would be "
            f"missing vertices, not approximate")
    if stats is not None:
        stats["rounds"] = rounds
        stats["color_supersteps"] = color_steps
    out = done[0] if done else remaining.select(
        "vid", F.col("vid").alias("scc")).limit(0)
    for part in done[1:]:
        out = out.unionByName(part)
    return out

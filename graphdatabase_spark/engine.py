"""User-facing engine facade mirroring the reference's operation
surface (SURVEY.md §7 step 8).

The reference exposes, via its client menu (``client.c:385-400``):
op 1 add graph, op 2 modify graph (identical code path,
``primary_server.c:223``), op 3 DFS-forest leaves, op 4 BFS level
order, op 5 terminate — plus Assignment1's ping / file-search /
word-count (``Assignment1/server.c:384-398``). Everything the
reference does with message queues, shared memory, semaphore RW locks
and replica routing collapses into Spark's own scheduler + storage
semantics (SURVEY.md §3.3, §4.1):

- **Snapshot isolation** (the reference's per-file named-semaphore RW
  lock, ``primary_server.c:110-146``, which covered ALL of a graph's
  state at once): a manifest-pointer commit, the miniature of what
  table formats (Delta/Iceberg) do. Every write lands its three
  tables' files under a fresh immutable ``c=<commit>`` directory and
  then atomically publishes ONE manifest mapping each graph to the
  commit that currently serves it. A snapshot resolves the manifest
  once; every read through it — edges AND vertices AND meta — sees
  exactly that commit set, so a reader can never observe new edges
  with old vertices (the documented race of the previous
  dynamic-partition-overwrite design). A modify that empties N graphs
  is still one commit: the manifest just points those graphs at a
  commit with no files for them — no per-graph clearing jobs.
- **Full-overwrite semantics** (op 1 ≡ op 2): both map to
  ``add_graph``; the graph's state is replaced wholesale by pointing
  it at the new commit.
- **1-indexed vertices** user-facing, exactly as the reference
  (``client.c:185`` subtracts 1 on the way in; we skip the dance and
  store 1-indexed ids end to end).

The manifest commit log lives behind the pluggable
:class:`~graphdatabase_spark.metastore.ManifestStore` interface
(metastore.py): auto-selected from the store path — a plain local
path keeps manifests in a POSIX directory next to the data, a URI
scheme path (``hdfs://``, ``file:``, ``abfs://``, …) keeps them on
that same Hadoop filesystem — and the same four blob calls map onto
an object store's conditional put. The data-file layout needs no
change, commit dirs are immutable. Every data write hands its tables
to one routine, :meth:`GraphEngine._commit`, which lands the files
first and then publishes through :meth:`GraphEngine._publish`: an
optimistic compare-and-swap append (put-if-absent on the next
sequence number, re-read + re-merge on a lost race), which upgrades
the reference's single-writer assumption (one primary server
serializes writes, ``load_balancer.c``) to multi-writer safety. A
write moves its graphs' pointers by one of three disciplines:
add/modify OVERWRITES them, an append or delta write EXTENDS their
chains, and a copy-on-write rewrite (merge, vertex props, vertex
delete, compaction) FLIPS only the pointers unchanged since it pinned
its snapshot. So concurrent writers to different graphs both land,
and a rewrite merges around — never over — a concurrent write. One
builder, :func:`_next_manifest`, decides which manifest keys carry
forward.
Old commits are retained (time travel: ``snapshot(seq=N)`` pins any
historical manifest) until maintenance runs: :meth:`GraphEngine.compact` rewrites
the current state into one commit (collapsing the one-scan-per-live-
commit union in the all-graphs read path), and
:meth:`GraphEngine.vacuum` drops manifests outside its retention
window and every commit dir the retained manifests no longer
reference.
"""

from __future__ import annotations

import functools
import os
import shutil
import struct
import time
import uuid
import zlib
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.serializers import ArrowStreamSerializer
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

from graphdatabase_spark import cache, metastore
from graphdatabase_spark.functions.text import tokens_col
from graphdatabase_spark.operators import dfs as dfs_mod
from graphdatabase_spark.operators import graph_algos, pregel
from graphdatabase_spark.sources import matrix as matrix_mod


# A single-graph bfs / dfs_leaves whose edge read has at most this many
# rows, an edge batch of at most this many rows and a matrix of at most
# this many cells run on the driver: the reference caps a graph at 100
# vertices (secondary_server.c:30), so its adjacency matrix holds at
# most 100 x 100 edges.
LOCAL_EDGE_ROWS = 10_000

# The Parquet bytes a driver-side read of one graph
# (GraphSnapshot._local_chain) may fetch, summed over the lengths
# listStatus reports for its chain's files: 16 bytes for each of
# LOCAL_EDGE_ROWS rows. Three int32 columns of random values store as
# 12 bytes a row, since zstd cannot shrink them; the rest covers page
# headers, footers and a bucketed file's graph column. Measured at-cap
# edge files are 2 KB for an all-ones 100 x 100 matrix and 59 KB with
# random 32-bit weights.
LOCAL_READ_BYTES = 16 * LOCAL_EDGE_ROWS


# The characters Spark's ExternalCatalogUtils.escapePathName escapes in
# a partition dir name, as %XX: the ASCII control characters but NUL,
# DEL and "#%'*/:=?[\]^{, and on Windows also space, <, > and |.
_PATH_ESCAPED = frozenset(
    [*map(chr, range(1, 0x20)), *'"#%\'*/:=?\\\x7f{[]^',
     *(" <>|" if os.name == "nt" else "")])


def _escape_path_name(name: str) -> str:
    """``name`` as Spark's ``ExternalCatalogUtils.escapePathName`` writes
    it in a partition dir name: a graph called "G#1" lives in
    ``graph=G%231``."""
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c
                   for c in name)


class _LocalStore:
    """A store on Hadoop's local FileSystem seen as a local dir, where
    the driver's landings use Python file IO: Hadoop's ``create`` and
    ``mkdirs`` start a ``chmod`` process for every file and dir they
    make unless the native Hadoop library is loaded, and pip's PySpark
    never ships it. What lands is what Hadoop would land: dirs and
    files get the modes Hadoop gives them under the conf's
    ``fs.permissions.umask-mode``, set by syscall, and each file gets
    the ``.<name>.crc`` sidecar that Hadoop's ``LocalFileSystem``
    writes and checks when it reads the file back: ``crc\\0``, the
    big-endian ``bytes_per_sum`` and a big-endian CRC-32 per chunk of
    that many bytes."""

    def __init__(self, root: str, umask: int, bytes_per_sum: int):
        self.root = root
        self.dir_mode = 0o777 & ~umask
        self.file_mode = 0o666 & ~umask
        self.bytes_per_sum = bytes_per_sum

    def _mkdirs(self, path: str) -> None:
        """``path`` and its missing parents, each made with
        ``dir_mode``; a dir another writer makes meanwhile is kept, as
        Hadoop's ``mkdirs`` keeps it."""
        if os.path.isdir(path):
            return
        self._mkdirs(os.path.dirname(path))
        try:
            os.mkdir(path)
        except FileExistsError:
            if not os.path.isdir(path):
                raise
            return
        os.chmod(path, self.dir_mode)

    def _write(self, path: str, data: bytes, exclusive: bool) -> None:
        flags = os.O_WRONLY | os.O_CREAT | (
            os.O_EXCL if exclusive else os.O_TRUNC)
        with os.fdopen(os.open(path, flags, self.file_mode), "wb") as f:
            os.fchmod(f.fileno(), self.file_mode)
            f.write(data)

    def land(self, sub: str, files: dict[str, bytes]) -> None:
        """Replace the dir ``sub`` of the store whole with ``files``
        (paths relative to it): the dir is deleted, made again, and
        each file is created exclusively beside its checksum sidecar,
        as ``FileSystem.create(path, false)`` creates it."""
        root = os.path.join(self.root, sub)
        if os.path.lexists(root):
            shutil.rmtree(root)
        self._mkdirs(root)
        n = self.bytes_per_sum
        for rel, data in files.items():
            path = os.path.join(root, rel)
            head, name = os.path.split(path)
            self._mkdirs(head)
            self._write(path, data, exclusive=True)
            sums = (zlib.crc32(data[i:i + n]) for i in range(0, len(data), n))
            self._write(os.path.join(head, f".{name}.crc"),
                        b"crc\0" + struct.pack(">i", n)
                        + b"".join(struct.pack(">I", c) for c in sums),
                        exclusive=False)


class _StoreFs:
    """The store's Hadoop FileSystem and the JVM members a request
    calls, each resolved once per engine on first use: a
    ``spark._jvm.org.apache...`` walk costs one Py4J round trip per
    package segment and a member lookup one more, and an unqualified
    name such as ``spark._jvm.PythonSQLUtils`` costs a lookup each time
    it is named. Every read under the store goes through the one
    FileSystem, so local, ``file:`` and ``hdfs://`` stores take one
    path. The driver's own landings take Python file IO where the
    FileSystem is the local one (:attr:`local`)."""

    def __init__(self, spark: SparkSession, store: str):
        self.spark = spark
        self.store = store

    @functools.cached_property
    def Path(self):
        return self.spark._jvm.org.apache.hadoop.fs.Path

    @functools.cached_property
    def fs(self):
        return self.Path(self.store).getFileSystem(
            self.spark._jsc.hadoopConfiguration())

    @functools.cached_property
    def visible(self):
        """A Hadoop ``PathFilter`` that drops the names Spark's reader
        skips, those starting with ``_`` or ``.`` (``_SUCCESS``,
        checksum sidecars), so a listing needs no name lookup per
        file."""
        return self.spark._jvm.org.apache.hadoop.fs.GlobFilter("[!_.]*")

    @functools.cached_property
    def local(self) -> _LocalStore | None:
        """The store as a :class:`_LocalStore` when its FileSystem has
        scheme ``file`` (Hadoop's ``LocalFileSystem``, or Hive's proxy
        of it), else None. The root is the FileSystem's own qualified
        path of the store, so a relative store path resolves against
        the JVM's working dir, as Hadoop resolves it."""
        fs = self.fs
        if fs.getScheme() != "file":
            return None
        conf = fs.getConf()
        umask = (self.spark._jvm.org.apache.hadoop.fs.permission
                 .FsPermission.getUMask(conf).toShort())
        return _LocalStore(
            fs.makeQualified(self.Path(self.store)).toUri().getPath(),
            umask, conf.getInt("file.bytes-per-checksum", 512))

    @functools.cached_property
    def _python_sql(self):
        return self.spark._jvm.org.apache.spark.sql.api.python

    @functools.cached_property
    def _read_arrow(self):
        return self._python_sql.PythonSQLUtils.readArrowStreamFromFile

    @functools.cached_property
    def _to_frame(self):
        return self._python_sql.PythonSQLUtils.toDataFrame

    def frame(self, table: pa.Table, schema: StructType) -> DataFrame:
        """``table`` as an Arrow-backed local relation of ``schema``,
        whose Arrow types it must already have: reading it runs no Spark
        job (a parallelized list runs one, through Python workers). It
        is ``spark.createDataFrame(table, schema)`` in two Py4J calls:
        the batches go through ``SparkContext._serialize_to_jvm``, a
        temp file or, with ``spark.io.encryption.enabled``, a socket,
        and no session getter or schema parse is asked of the JVM."""
        jbatches = self.spark.sparkContext._serialize_to_jvm(
            table.to_batches(), ArrowStreamSerializer(), self._read_arrow,
            lambda: self._python_sql.ArrowIteratorServer())
        return DataFrame(self._to_frame(jbatches, schema.json(),
                                        self.spark._jsparkSession),
                         self.spark)

    def leaf_dirs(self, graphs, buckets: int | None) -> dict[str, str]:
        """Each graph's partition dir under a commit dir: ``gb=<bucket>``
        in a bucketed store, else ``graph=<name>`` escaped as the Spark
        writer's ``partitionBy`` escapes it (:func:`_escape_path_name`);
        a raw-name path would not exist and read as empty."""
        if buckets:
            return {g: f"gb={metastore.graph_bucket(g, buckets)}"
                    for g in graphs}
        return {g: f"graph={_escape_path_name(g)}" for g in graphs}


def _local_frame(fs: _StoreFs, ddl: str, rows=()) -> DataFrame:
    """Driver ``rows`` (tuples in column order; none for an empty
    frame) as a local relation of DDL schema ``ddl``
    (:meth:`_StoreFs.frame`): reading it runs no Python-worker task, as
    a parallelized list does. The Arrow schema comes from the DDL, so
    map, decimal and nested property types keep working."""
    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return fs.frame(pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow),
        schema)


def _path_scheme(path: str) -> str:
    """URI scheme of a store path (``hdfs``, ``s3a``, ``file``, …), or
    ``""`` for a plain local path."""
    from urllib.parse import urlparse

    scheme = urlparse(path).scheme
    return scheme if len(scheme) > 1 else ""


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    """``(src, dst)`` edges viewed as undirected: one canonical
    ``src < dst`` row per vertex pair. Self-loops drop — they contribute
    to no triangle, coefficient or core."""
    return (edges.filter(F.col("src") != F.col("dst"))
            .select(F.least("src", "dst").alias("src"),
                    F.greatest("src", "dst").alias("dst"))
            .distinct())


def _triplets(e: DataFrame, v: DataFrame) -> DataFrame:
    """``(graph, src, edge, dst)``: each ``(graph, src, dst, edge)`` row
    of ``e`` between the struct rows of its endpoints in ``v``
    (``(graph, vid, ...)``) — two (graph, vid)-keyed equi-joins,
    broadcast or shuffle per AQE."""
    vcols = [c for c in v.columns if c != "graph"]

    def _endpoint(key: str) -> DataFrame:
        return v.select(
            "graph", F.col("vid").alias(key),
            F.struct(*[F.col(c) for c in vcols]).alias(f"__{key}_s"))

    return (e.join(_endpoint("src"), ["graph", "src"])
            .join(_endpoint("dst"), ["graph", "dst"])
            .select("graph", F.col("__src_s").alias("src"), "edge",
                    F.col("__dst_s").alias("dst")))


def _messages(trip: DataFrame, agg: str, send_to_src: str | None,
              send_to_dst: str | None, alias: str) -> DataFrame:
    """One round of message passing over a triplet view: each edge
    sends ``send_to_src`` to its source and ``send_to_dst`` to its
    destination (SQL expressions; either may be None), and ``agg``
    folds each vertex's messages, seen as the column ``msg``, into
    ``alias`` — one map-side-combined ``(graph, vid)`` aggregate."""
    legs = [trip.select("graph", F.col(f"{end}.vid").alias("vid"),
                        F.expr(send).alias("msg"))
            for end, send in (("src", send_to_src), ("dst", send_to_dst))
            if send is not None]
    msgs = legs[0] if len(legs) == 1 else legs[0].unionByName(legs[1])
    return msgs.groupBy("graph", "vid").agg(F.expr(agg).alias(alias))


def _participants(snap: GraphSnapshot, start: int
                  ) -> tuple[DataFrame, DataFrame]:
    """The start-vertex catalog kernels' participation rule: the graphs
    whose vertex table holds ``start``, as their ``(graph, src, dst)``
    edges, so a graph lacking the start never enters a superstep, and
    ``(graph, vid)`` starts, one row per graph (concurrent appends can
    duplicate a vertex row, which would double that graph's rows in a
    kernel's joins). Lazy: only ``sssp_all`` collects the graph list,
    because packing needs it."""
    held = (snap.vertices().filter(F.col("vid") == start)
            .select("graph", F.col("vid").cast("long")))
    edges = (snap.edges().select("graph", "src", "dst")
             .join(held, "graph", "left_semi"))
    return edges, held.distinct()


def _nonnegative(we: DataFrame, what: str) -> DataFrame:
    """``we`` once a scan finds no negative ``weight``: the relaxation
    kernel assumes non-negativity, and on a cyclic graph a negative
    weight would silently converge to the iteration bound instead of a
    meaningful distance."""
    if not we.filter(F.col("weight") < 0).isEmpty():
        raise ValueError(
            f"{what} has negative edge weights; shortest paths are "
            f"defined here for non-negative weights only")
    return we


class _PackedIds:
    """The one packed-id codec of the whole-catalog kernels: graph
    ``gidx`` (its place in the graph list) and vertex ``vid`` pack into
    the long ``gidx * stride + vid``. No edge joins two graphs, so a
    kernel whose answer for a graph depends only on that graph's own
    vertices and edges (components, SCC, label propagation, SSSP,
    k-core, the triangle family) runs once over the packed union and
    gives every graph its single-graph answer; ties broken by vid keep
    their in-graph order. PageRank cannot use it: teleport and dangling
    mass spread over every vertex of the union would leak across graphs
    in proportion to their sizes. So ``pagerank_all`` keys its loop by
    ``graph``, as the BFS forms do, which then need no stride.

    The codec owns the stride (with its int64 overflow guard), the
    ``(gidx, graph)`` index, packing and decoding. Both directions are
    broadcast joins against the index, so the plan size does not depend
    on the catalog size (a literal ``create_map`` grew two entries per
    graph), and the inner join of :meth:`pack` scopes a frame to the
    indexed graphs."""

    def __init__(self, spark: SparkSession, graphs: list[str], bound: int):
        self.stride = int(bound) + 1
        if len(graphs) * self.stride >= 2 ** 62:
            raise ValueError(
                f"packed vertex ids would overflow int64: {len(graphs)} "
                f"graphs x stride {self.stride}; run the per-graph kernels "
                f"or partition the catalog")
        self.graphs = list(graphs)
        self.index = spark.createDataFrame(
            pa.table({"gidx": pa.array(range(len(graphs)), pa.int64()),
                      "graph": pa.array(self.graphs, pa.string())}),
            "gidx long, graph string")

    @classmethod
    def of(cls, snap: GraphSnapshot, graphs: list[str]) -> _PackedIds:
        """The codec of ``graphs`` in ``snap``, in one aggregate. The
        bound is the ACTUAL max vertex id over the store, never meta
        ``n`` alone: matrix-ingested graphs keep vids ⊆ 1..n, but
        append/merge accept arbitrary user vids (e.g. a stream keying
        src by raw user_id), and a stride below max(vid)+1 would pack two
        graphs' vids into overlapping ranges and decode labels to the
        WRONG graph — silently. Meta ``n`` still takes part, so a
        declared-size graph with no vertex rows yet cannot shrink it."""
        bound = (snap.vertices().agg(F.max("vid").cast("long").alias("m"))
                 .unionByName(snap.meta().agg(F.max("n").cast("long")
                                              .alias("m")))
                 .agg(F.max("m")).collect()[0][0] or 0)
        return cls(snap.spark, graphs, bound)

    def pack(self, df: DataFrame,
             ids: tuple[str, ...] = ("src", "dst")) -> DataFrame:
        """The indexed graphs' rows of ``df`` without ``graph``: the
        ``ids`` columns packed, the others (weights) passed through."""
        keep = [c for c in df.columns if c not in (*ids, "graph")]
        return df.join(F.broadcast(self.index), "graph").select(
            *[(F.col("gidx") * self.stride + F.col(c).cast("long")).alias(c)
              for c in ids], *keep)

    def seeds(self, vid: int) -> list[int]:
        """``vid`` packed in every indexed graph."""
        return [g * self.stride + vid for g in range(len(self.graphs))]

    def unpack(self, out: DataFrame,
               ids: tuple[str, ...] = ("vid",)) -> DataFrame:
        """Decode a kernel result to ``(graph, *columns)``: the ``ids``
        columns (vertex ids and vid-valued labels) lose the offset, the
        others (distances, degrees, counts) pass through. ``div`` is
        exact on longs, where float division was exact only below
        2^53."""
        keep = [c for c in out.columns if c not in ids]
        dec = out.select(
            F.expr(f"{ids[0]} div {self.stride}").alias("gidx"),
            *[(F.col(c) % self.stride).cast("int").alias(c) for c in ids],
            *keep)
        return dec.join(F.broadcast(self.index), "gidx") \
            .select("graph", *ids, *keep)


def _check_layout(prev: dict | None, eff: int | None) -> None:
    """Publish-time guard in every data write's CAS closure: the data
    files of this write were laid out for ``eff`` buckets (resolved from
    the snapshot pinned at write start); if a CAS race establishes a
    DIFFERENT layout first (two first-writers on a virgin store with
    different configs), publishing would register wrongly-partitioned
    dirs — fail loudly instead."""
    got = prev.get("buckets") if prev is not None else eff
    if got != eff:
        raise metastore.CommitConflict(
            f"store layout changed mid-write: this commit's data dirs "
            f"were written for buckets={eff} but the store's first "
            f"manifest established buckets={got}; re-run the write")


def _check_edge_batch(op: str, null_keys: bool, bad_w: bool) -> None:
    """The edge-batch invariants every append and upsert enforces
    before any file lands, on the driver and the distributed path
    alike: ``graph``, ``src`` and ``dst`` are non-NULL (a NULL endpoint
    would land as a NULL vertex row), and ``w >= 1``."""
    if null_keys:
        raise ValueError(
            f"{op} requires non-NULL graph, src and dst (a NULL endpoint "
            f"would land as a NULL vertex row)")
    if bad_w:
        raise ValueError(
            f"{op} requires integer edge weights >= 1 (w is the "
            f"stored multiplicity/weight; 0, negative, and NULL "
            f"break the store's CDC absence encoding)")


def _meta_bound(verts: DataFrame,
                old_meta: DataFrame | None = None) -> DataFrame:
    """Meta rows ``(n, graph)`` that keep the ``n >= max vid`` packing
    bound for the vertex set ``verts``: each graph's max vid, or, given
    the graphs' ``old_meta``, the per-graph max over both (aggregated,
    which also heals the duplicate rows two concurrent creators
    write)."""
    meta = (verts.groupBy("graph").agg(F.max("vid").cast("int").alias("n"))
            .select("n", "graph"))
    if old_meta is None:
        return meta
    return old_meta.unionByName(meta).groupBy("graph").agg(
        F.max("n").alias("n"))


_RESERVED_COLS = frozenset({"graph", "src", "dst", "w", "vid", "n", "gb"})


def _contains_map_type(dt) -> bool:
    """True if ``dt`` is or nests a MapType — the one Spark SQL type
    family set operations / sort orders reject as non-comparable."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map_type(f.dataType) for f in dt.fields)
    return False


def _prop_schema(df: DataFrame, core: tuple[str, ...],
                 op: str) -> dict[str, str]:
    """Schema of a write batch's PROPERTY columns — every column
    beyond the ``core`` edge/vertex columns — as ``{name: DDL type}``.
    Property names must be plain identifiers and must not collide
    (case-insensitively) with the store's reserved columns (the edge/
    vertex keys, ``w``, ``n``, and the ``gb`` bucket partition)."""
    props: dict[str, str] = {}
    for f in df.schema.fields:
        if f.name.lower() in core:
            continue
        if f.name.lower() in _RESERVED_COLS or not f.name.isidentifier():
            raise ValueError(
                f"{op}: property column {f.name!r} collides with a "
                f"reserved store column {sorted(_RESERVED_COLS)} or is "
                f"not a plain identifier")
        dup = [n for n in props if n.lower() == f.name.lower()]
        if dup:
            raise ValueError(
                f"{op}: batch carries property columns {dup[0]!r} and "
                f"{f.name!r} that differ only by case — Spark resolves "
                f"columns case-insensitively")
        props[f.name] = f.dataType.simpleString()
    return props


def _canon_props(df: DataFrame, props: dict[str, str],
                 manifest: dict | None, table: str,
                 op: str) -> tuple[DataFrame, dict[str, str]]:
    """Rename a batch's property columns to the STORE's declared
    spelling when they differ only by case (Spark resolves columns
    case-insensitively, so 'Kind' and 'kind' are the same column —
    declaring both in the manifest would make every later props-aware
    read die on COLUMN_ALREADY_EXISTS). Returns the renamed frame and
    the canonical-name property schema, checked against the pinned
    ``manifest``'s schema of ``table`` (:func:`_merge_props`) so a type
    conflict raises before any file lands; the publish re-checks it
    against the newest manifest."""
    declared = (manifest or {}).get("props", {}).get(table, {})
    low = {n.lower(): n for n in declared}
    out: dict[str, str] = {}
    for name, typ in props.items():
        canon = low.get(name.lower(), name)
        if canon != name:
            df = df.withColumnRenamed(name, canon)
        out[canon] = typ
    _merge_props(declared, out, op, _blocked_physicals(manifest, table))
    return df, out


def _merge_props(declared: dict, batch: dict, op: str,
                 blocked: set[str] | frozenset[str] = frozenset()) -> dict:
    """Store-wide property schema after a write: new names EXTEND it
    (schema evolution — commits written before a column existed read
    as NULL through the explicit-schema scan, the same backfill rule
    as the legacy-``w`` migration), known names must keep their type
    (reads resolve parquet columns by name under ONE schema across
    commits, so a per-write type flip would corrupt older commits'
    values instead of failing). ``blocked`` is the table's
    :func:`_blocked_physicals` set: a NEW name landing on a retired
    physical column would silently read that column's stale values
    from old data files — refuse loudly instead."""
    out = dict(declared)
    low = {n.lower(): n for n in out}
    # case-INSENSITIVE like every other name rule here: Spark resolves
    # parquet fields case-insensitively, so 'Note' after DROP COLUMN
    # 'note' would surface the dropped column's stale values — exactly
    # the resurrection the tombstone exists to prevent
    blocked_low = {b.lower() for b in blocked}
    for name, typ in batch.items():
        # case-INSENSITIVE key match, declared spelling wins: Spark
        # resolves columns case-insensitively, so 'Kind' and 'kind'
        # are one column — declaring both would brick every
        # props-aware read with COLUMN_ALREADY_EXISTS
        canon = low.get(name.lower(), name)
        old = out.get(canon)
        if old is not None and old != typ:
            raise ValueError(
                f"{op}: property column {canon!r} is declared {old} in "
                f"the store but this batch carries {typ}; property "
                f"types are store-wide — cast the batch")
        if old is None and canon.lower() in blocked_low:
            raise ValueError(
                f"{op}: property name {canon!r} belongs to a DROPPED or "
                f"RENAMED-away column whose values still sit in old "
                f"data files; re-declaring it would resurrect them — "
                f"pick a different name")
        out[canon] = typ
        low[canon.lower()] = canon
    return out


def _next_manifest(prev: dict | None, **keys) -> dict:
    """The body of the manifest that follows ``prev``: the one place
    that knows which keys a publish carries forward. ``keys`` replaces
    any of ``commit``, ``graphs``, ``txns``, ``props``, ``vdeltas``,
    ``edeltas``, ``colmap`` and ``ptomb``; an empty value clears it.
    Every key not given carries over from ``prev``:

    - ``txns``, the exactly-once ledger ``{app: max version}``: a
      replay after any later commit, a compaction among them, must
      still no-op;
    - ``props``, the store-wide property schema;
    - ``vdeltas`` / ``edeltas``, the delta-commit sets: dropping one
      would read chained deltas as plain base rows (stale rows
      resurface, delete markers become w = 0 rows). Ids no chain
      references any more are harmless; :meth:`GraphEngine.compact`
      prunes them;
    - ``colmap`` ({table: {logical: physical}}, from RENAME COLUMN)
      and ``ptomb`` ({table: [physical, ...]}, from DROP COLUMN):
      losing colmap reads every renamed column as NULL, losing ptomb
      lets a dropped column's stale values come back under a
      re-declared name;
    - ``commit`` and ``graphs``, for the metadata-only writes.

    ``seq`` and ``ts`` are stamped by :meth:`metastore.ManifestLog.commit`
    and ``chunks``, ``buckets`` and ``n_graphs`` by its encoder, so
    none of them carries. An empty ``props``, delta set, ``colmap``
    or ``ptomb`` is left out."""
    m = prev or {}
    body = {"commit": keys.get("commit", m.get("commit")),
            "graphs": keys.get("graphs", m.get("graphs", {})),
            "txns": keys.get("txns", m.get("txns", {}))}
    for k in ("props", "vdeltas", "edeltas", "colmap", "ptomb"):
        v = keys[k] if k in keys else m.get(k)
        if v:
            body[k] = v
    return body


def _blocked_physicals(manifest: dict | None, table: str) -> set[str]:
    """Physical column names a NEW logical property may not claim:
    tombstones of DROPPED columns (their stale values still sit in
    old data files and would silently resurrect under a re-declared
    logical of the same name) plus physicals serving a RENAMED
    logical (a new logical of the old spelling would read the renamed
    column's values). Enforced loudly at declaration time — the
    stricter-than-Delta convention this store chooses over UUID
    physical names: re-using a retired column name requires a
    different name (or a full-store rewrite)."""
    m = manifest or {}
    tomb = set(m.get("ptomb", {}).get(table, []))
    cmap = m.get("colmap", {}).get(table, {})
    return tomb | {p for l, p in cmap.items() if p != l}


def _cids(ptr) -> list[str]:
    """A manifest graph pointer normalized to a commit-id list: a plain
    string is the single-commit (overwrite) form every add/modify
    publishes; a list is an APPEND CHAIN — base commit plus appended
    micro-batches, read as a union (the table-format add-files commit,
    like Delta/Iceberg appends). Old manifests parse unchanged."""
    return list(ptr) if isinstance(ptr, list) else [ptr]


class GraphSnapshot:
    """One consistent, immutable view of the store: the manifest is
    resolved ONCE at construction, and every read serves exactly the
    commit set it pinned — concurrent writes publish new manifests and
    new commit dirs, never touching the files this snapshot reads."""

    def __init__(self, spark: SparkSession, store: str, manifest: dict | None,
                 fs: _StoreFs):
        self.spark = spark
        self.store = store
        self._fs = fs
        self.manifest = manifest
        # bucketed layout (see GraphEngine): data dirs are partitioned
        # by gb = crc32(graph) % buckets instead of by graph name
        self.buckets = (manifest or {}).get("buckets")
        # store-wide PROPERTY schema ({"edges": {name: ddl_type},
        # "vertices": {...}}), declared by the writes that carried the
        # columns and recorded in the manifest — absent for stores
        # that never wrote properties (every pre-props manifest)
        self.props = (manifest or {}).get("props", {})
        # graphs grouped by the commits currently serving them: the
        # all-graphs read is one parquet scan per distinct commit,
        # partition-pruned to that commit's still-current graphs. An
        # append chain simply lists its graph under several commits.
        self._by_commit: dict[str, list[str]] = {}
        for g, ptr in (manifest or {}).get("graphs", {}).items():
            for cid in _cids(ptr):
                self._by_commit.setdefault(cid, []).append(g)

    def graphs(self) -> list[str]:
        """Catalog membership — pure manifest metadata, no Spark job."""
        return sorted((self.manifest or {}).get("graphs", {}))

    def _read_or_empty(self, root: str, leaves: list[str] | None,
                       schema: str) -> DataFrame:
        """Parquet scan of the commit dir ``root``, or of only its
        partition ``leaves`` (dir names under ``root``) when given.

        A path a commit never wrote (this table got zero rows for the
        graph, or for the whole commit, like a delta ``set_vertex_props``
        commit's edges) reads as empty. Each path is checked with
        Hadoop's ``exists`` before Spark sees it: one missing path would
        fail a multi-path scan, and Spark logs a stack trace per missing
        path. Never a driver-local check: os.path.exists is always false
        for hdfs:// / s3a:// store paths and would silently empty every
        remote read. A leaf read keeps ``basePath`` at the commit dir,
        so partition discovery still yields the ``graph`` / ``gb``
        column."""
        reader = self.spark.read.schema(schema)
        paths = [root]
        if leaves is not None:
            reader = reader.option("basePath", root)
            paths = [os.path.join(root, leaf) for leaf in leaves]
        fs, Path = self._fs.fs, self._fs.Path
        paths = [p for p in paths if fs.exists(Path(p))]
        if not paths:
            return _local_frame(self._fs, schema)
        return reader.parquet(*paths)

    def _leaves(self, cid: str, names: list[str]) -> list[str] | None:
        """The partition dirs of commit ``cid`` that hold ``names``, or
        None when the whole commit dir should be read: when ``names``
        covers every graph the manifest says ``cid`` serves, or when
        every bucket of a bucketed store is named anyway.

        Reading the leaves, not the dir, is what keeps a one-graph
        request from paying for the rest of the commit: a commit dir
        with more partition dirs than Spark's parallel-listing
        threshold (32) is listed by a distributed "Listing leaf files"
        job, one task per dir, before any row is read."""
        if set(self._by_commit.get(cid, ())) <= set(names):
            return None
        leaves = set(self._fs.leaf_dirs(names, self.buckets).values())
        if self.buckets and len(leaves) == self.buckets:
            return None
        return sorted(leaves)

    def _commit_df(self, table: str, cid: str, row_schema: str,
                   names: list[str]) -> DataFrame:
        """Rows of graphs ``names`` in one commit of one table,
        normalized to ``row_schema + graph`` columns regardless of the
        store layout. In a bucketed store the partition column is
        ``gb`` (crc32(graph) % buckets) and graph is a plain data
        column; the gb column is dropped by the caller's final select.

        COLUMN MAPPING applies here — the one place data files are
        opened: a RENAMEd property reads its PHYSICAL column (the
        name at first declaration, fixed forever — Delta's
        column-mapping rule) and surfaces under the LOGICAL name, so
        a rename is metadata-only and every commit written before it
        reads correctly through the mapping."""
        full_schema = row_schema + ", graph string"
        if self.buckets:
            full_schema += ", gb int"
        root = os.path.join(self.store, "data", table, f"c={cid}")
        leaves = self._leaves(cid, names)
        cmap = {l: p for l, p in (self.manifest or {}).get(
                    "colmap", {}).get(table, {}).items() if p != l}
        if not cmap:
            return self._graph_filter(
                self._read_or_empty(root, leaves, full_schema), names)
        fields = StructType.fromDDL(full_schema).fields
        phys_schema = ", ".join(
            f"{cmap.get(f.name, f.name)} {f.dataType.simpleString()}"
            for f in fields)
        df = self._read_or_empty(root, leaves, phys_schema)
        # ONE select-with-aliases projection, never sequential
        # withColumnRenamed: renaming one column at a time can pass
        # through a state where a logical name equals another live
        # column's physical name (colmap {tmp:b, b:a} renames a→b
        # while physical b still exists → duplicate column), and the
        # duplicate poisons every downstream reference. An atomic
        # projection maps physical→logical in a single step, so no
        # intermediate state exists.
        return self._graph_filter(df.select(
            *[F.col(cmap.get(f.name, f.name)).alias(f.name)
              for f in fields]), names)

    def _graph_filter(self, df: DataFrame, names: list[str]) -> DataFrame:
        """Restrict a commit read to ``names``. Bucketed stores get a
        partition-pruning gb filter FIRST (buckets computed driver-side
        with the same CRC-32 Spark uses — no job); the graph filter
        stays a literal isin up to a bounded list size, beyond which it
        becomes a broadcast semi-join so the PLAN never grows O(catalog)
        (same discipline as _PackedIds)."""
        if self.buckets:
            gbs = sorted({metastore.graph_bucket(g, self.buckets)
                          for g in names})
            if len(gbs) < self.buckets:
                df = df.filter(F.col("gb").isin(gbs))
        if len(names) <= 256:
            return df.filter(F.col("graph").isin(names))
        names_df = _local_frame(self._fs, "graph string",
                                [(g,) for g in names])
        return df.join(F.broadcast(names_df), "graph", "left_semi")

    def _table(self, table: str, row_schema: str,
               name: str | list[str] | None) -> DataFrame:
        full_schema = row_schema + ", graph string"
        # DDL-parse for the column names — naive comma-splitting breaks
        # on property types that contain commas (decimal(10,2),
        # map<string,int>)
        cols = [f.name for f in StructType.fromDDL(full_schema).fields]
        if name is not None:
            # Each chain commit of the named graphs is read through
            # _commit_df, which opens only those graphs' partition dirs
            # (their gb=<bucket> dirs in a bucketed store) and filters on
            # the partition column. Hand-building the graph=<name> leaf
            # path is safe because the name goes through Spark's own
            # ExternalCatalogUtils.escapePathName — the function the
            # writer's partitionBy named the dir with — so a graph called
            # "G#1" reads graph=G%231, exactly the dir it was written to;
            # a raw-name path would PATH_NOT_FOUND and silently read as
            # empty. A LIST of names restricts the read the same way —
            # this is what keeps a COW rewrite of k graphs reading ~k
            # partition dirs instead of every one the catalog owns.
            names = [name] if isinstance(name, str) else list(name)
            gmap = (self.manifest or {}).get("graphs", {})
            by_cid: dict[str, list[str]] = {}
            for g in names:
                ptr = gmap.get(g)
                if ptr is None:
                    continue
                for cid in _cids(ptr):
                    by_cid.setdefault(cid, []).append(g)
        else:
            # the per-commit graph restriction prunes partitions
            # belonging to graphs this commit no longer serves (they
            # were overwritten later)
            by_cid = self._by_commit
        parts = [self._commit_df(table, cid, row_schema, gs)
                 for cid, gs in sorted(by_cid.items())]
        if not parts:
            return _local_frame(self._fs, full_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*cols)  # drops gb in bucketed stores

    def _props_ddl(self, table: str) -> str:
        """DDL fragment (leading comma) for ``table``'s declared
        property columns, empty for prop-less stores."""
        return "".join(f", {n} {t}"
                       for n, t in self.props.get(table, {}).items())

    def _edges_merged(self, ddl: str, name, pnames: list[str]) -> DataFrame:
        """Edge read with MERGE-ON-READ applied, CHAIN-ORDER-AWARE:
        when a requested graph's chain carries edge DELTA commits
        (``merge_edges(mode="delta")`` — the manifest's ``edeltas``
        set marks them), a delta only overrides rows from commits
        EARLIER in that graph's chain — the Delta/Iceberg MoR rule
        that delete files apply only to data files present at
        delete-commit time. Per (graph, src, dst): the LATEST delta in
        the chain replaces every base row at a LOWER chain position
        wholesale (w + every property; batch-absent props read NULL),
        a latest ``w = 0`` delta row is a DELETE MARKER (the store's
        CDC absence encoding — exactly why stored weights must be
        ≥ 1), and base rows appended AFTER that delta survive
        untouched — so an INSERT/append landing after a delta delete
        of the same key reads back, exactly as a new data file after a
        delete file would. A side effect of position-resolution: a
        delta upsert of a key the append chain holds twice collapses
        it to ONE row (the earlier duplicates are all at lower
        positions), matching the COW merge read-back. Chains with no
        deltas return the exact plain pre-MoR union. ``ddl`` must
        include ``w``. Plan cost: one window over the delta rows
        (delta-sized, not store-sized) + one delta-keyed join + one
        union. :meth:`local_edges` applies the same rule in Python to
        one graph within the driver-read envelope; this plan serves
        graphs over it, multi-graph and whole-catalog reads, the
        ``*_all`` kernels and the SQL views."""
        edeltas = set((self.manifest or {}).get("edeltas", []))
        names = ([name] if isinstance(name, str)
                 else list(name) if name is not None else self.graphs())
        gmap = (self.manifest or {}).get("graphs", {})
        base_parts_map: dict[tuple[str, int], list[str]] = {}
        delta_parts: dict[tuple[str, int], list[str]] = {}
        for g in names:
            ptr = gmap.get(g)
            if ptr is None:
                continue
            for pos, cid in enumerate(_cids(ptr)):
                part = delta_parts if cid in edeltas else base_parts_map
                part.setdefault((cid, pos), []).append(g)
        full_schema = ddl + ", graph string"
        cols = [f.name for f in StructType.fromDDL(full_schema).fields]
        if not delta_parts:
            # no delta in any requested chain: the exact pre-MoR plan —
            # one scan per COMMIT (a commit shared across graphs at
            # different chain positions is still read once; position is
            # irrelevant without deltas)
            base_by_cid: dict[str, list[str]] = {}
            for (cid, _pos), gs in base_parts_map.items():
                base_by_cid.setdefault(cid, []).extend(gs)
            base_parts = [
                self._commit_df("edges", cid, ddl, gs).select(*cols)
                for cid, gs in sorted(base_by_cid.items())]
            base = (base_parts[0] if base_parts
                    else _local_frame(self._fs, full_schema))
            for p in base_parts[1:]:
                base = base.unionByName(p)
            return base

        def _part(cid: str, pos: int, gs: list[str]) -> DataFrame:
            return (self._commit_df("edges", cid, ddl, gs)
                    .select(*cols).withColumn("__pos", F.lit(pos)))

        base_parts = [_part(cid, pos, gs)
                      for (cid, pos), gs in sorted(base_parts_map.items())]
        base = (base_parts[0] if base_parts
                else _local_frame(self._fs, full_schema + ", __pos int"))
        for p in base_parts[1:]:
            base = base.unionByName(p)
        dparts = [_part(cid, pos, gs)
                  for (cid, pos), gs in sorted(delta_parts.items())]
        deltas = dparts[0]
        for p in dparts[1:]:
            deltas = deltas.unionByName(p)
        from pyspark.sql.window import Window
        w = Window.partitionBy("graph", "src", "dst").orderBy(F.desc("__pos"))
        latest = (deltas
                  .withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1)
                  .select("graph", "src", "dst",
                          F.col("__pos").alias("__dpos"),
                          F.col("w").alias("__d_w"),
                          *[F.col(p).alias(f"__d_{p}") for p in pnames]))
        # base rows survive iff their key has no delta, or they landed
        # AFTER the latest delta in their graph's chain (positions are
        # per-graph chain indexes; the join carries graph, so the
        # comparison never crosses chains)
        surviving = (base.join(latest.select("graph", "src", "dst", "__dpos"),
                               ["graph", "src", "dst"], "left")
                     .filter(F.col("__dpos").isNull()
                             | (F.col("__pos") > F.col("__dpos")))
                     .select(*cols))
        # the latest delta row itself contributes unless it is a
        # delete marker
        drows = (latest.filter(F.col("__d_w") != 0)
                 .select(F.col("graph"),
                         F.col("src"), F.col("dst"),
                         F.col("__d_w").alias("w"),
                         *[F.col(f"__d_{p}").alias(p) for p in pnames])
                 .select(*cols))
        return surviving.unionByName(drows)

    def edges(self, name: str | list[str] | None = None) -> DataFrame:
        if not (self.manifest or {}).get("edeltas"):
            return self._table("edges", "src int, dst int", name)
        # delta-carrying store: w must be read to honor upserts'
        # latest-wins and delete markers, then dropped
        return self._edges_merged("src int, dst int, w int", name, []) \
            .select("src", "dst", "graph")

    def weighted_edges(self, name: str | list[str] | None = None, *,
                       props: bool = False) -> DataFrame:
        """``(src, dst, w[, *props], graph)`` — the stored integer edge
        weights (cell values of the generalized matrix ingest).
        Commits written before weights existed have no ``w`` column in
        their parquet; the explicit-schema read surfaces those as NULL
        and they coalesce to weight 1, the only weight the 0/1 format
        could express — so old stores read identically.
        ``props=True`` additionally reads the store's declared edge
        PROPERTY columns (same backfill rule: commits written before a
        property existed read it as NULL); the default stays the bare
        4-column shape every kernel consumes."""
        extra = list(self.props.get("edges", {})) if props else []
        ddl = "src int, dst int, w int" + \
            (self._props_ddl("edges") if props else "")
        if (self.manifest or {}).get("edeltas"):
            e = self._edges_merged(ddl, name, extra)
        else:
            e = self._table("edges", ddl, name)
        return e.select("src", "dst",
                        F.coalesce("w", F.lit(1)).alias("w"),
                        *extra, "graph")

    def vertices(self, name: str | list[str] | None = None, *,
                 props: bool = False) -> DataFrame:
        """``(vid[, *props], graph)``; ``props=True`` reads the store's
        declared vertex property columns (NULL-backfilled for commits
        that predate a column).

        Merge-on-read: when a requested graph's chain carries
        vertex-prop DELTA commits (``set_vertex_props(mode="delta")``
        — the manifest's ``vdeltas`` set marks them), the read merges
        them latest-wins per (graph, vid): a delta row replaces the
        whole property row (absent batch columns read NULL — the same
        WHOLESALE-row rule as the COW upsert), vids new to the graph
        join membership. The merge costs one window over the
        delta rows (delta-sized, not store-sized) + one join; chains
        with no deltas take the exact pre-MoR single-union plan, so
        COW-only stores pay nothing. ``compact()`` collapses deltas
        back into plain rows — the Delta/Iceberg MoR economics."""
        ddl = "vid int" + (self._props_ddl("vertices") if props else "")
        vdeltas = set((self.manifest or {}).get("vdeltas", []))
        if not vdeltas:
            return self._table("vertices", ddl, name)
        # split each requested chain into base commits and
        # (position-tagged) delta commits — driver-side, manifest-only
        names = ([name] if isinstance(name, str)
                 else list(name) if name is not None else self.graphs())
        gmap = (self.manifest or {}).get("graphs", {})
        base_by_cid: dict[str, list[str]] = {}
        delta_parts: dict[tuple[str, int], list[str]] = {}
        for g in names:
            ptr = gmap.get(g)
            if ptr is None:
                continue
            for pos, cid in enumerate(_cids(ptr)):
                if cid in vdeltas:
                    delta_parts.setdefault((cid, pos), []).append(g)
                else:
                    base_by_cid.setdefault(cid, []).append(g)
        full_schema = ddl + ", graph string"
        cols = [f.name for f in StructType.fromDDL(full_schema).fields]
        base_parts = [
            self._commit_df("vertices", cid, ddl, gs).select(*cols)
            for cid, gs in sorted(base_by_cid.items())]
        base = (base_parts[0] if base_parts
                else _local_frame(self._fs, full_schema))
        for p in base_parts[1:]:
            base = base.unionByName(p)
        if not delta_parts:
            return base
        dparts = [
            self._commit_df("vertices", cid, ddl, gs).select(*cols)
            .withColumn("__pos", F.lit(pos))
            for (cid, pos), gs in sorted(delta_parts.items())]
        deltas = dparts[0]
        for p in dparts[1:]:
            deltas = deltas.unionByName(p)
        if not props:
            # membership only: delta-created vids join the vertex set
            return base.unionByName(deltas.select(*cols))
        pnames = list(self.props.get("vertices", {}))
        # latest delta per key by chain position (a window, not a
        # struct-max: property types may be non-comparable e.g. maps)
        from pyspark.sql.window import Window
        w = Window.partitionBy("graph", "vid").orderBy(F.desc("__pos"))
        latest = (deltas
                  .withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1)
                  .select("graph", "vid",
                          F.lit(True).alias("__hit"),
                          *[F.col(p).alias(f"__d_{p}") for p in pnames]))
        merged = base.join(latest, ["graph", "vid"], "full_outer")
        return merged.select(
            "vid",
            *[F.when(F.col("__hit").isNotNull(), F.col(f"__d_{p}"))
              .otherwise(F.col(p)).alias(p) for p in pnames],
            "graph")

    def meta(self, name: str | list[str] | None = None) -> DataFrame:
        return self._table("meta", "n int", name)

    def _local_chain(self, table: str, g: str, cols: tuple[str, ...]
                     ) -> list[tuple[str, list[tuple]]] | None:
        """``(cid, rows)`` for each commit of graph ``g``'s chain, in
        chain order, where ``rows`` are ``g``'s ``cols`` tuples of
        ``table`` in that commit: the read-side twin of
        ``GraphEngine._driver_write``, with no Spark job. The leaf dir
        is named in Python (:meth:`_StoreFs.leaf_dirs`, which escapes
        the graph name as Spark does, with no JVM call); the leaf dirs
        are listed and their files fetched through the store's Hadoop
        FileSystem, so local, ``file:`` and ``hdfs://`` stores take one
        path and a local store's checksums are verified, and pyarrow
        decodes them.

        None when ``g`` is outside the envelope. No byte is fetched when
        the lengths listStatus reports add up to more than
        ``LOCAL_READ_BYTES``, and the read stops, with at most
        ``LOCAL_EDGE_ROWS`` rows decoded, once the fetched files'
        Parquet metadata counts more rows than that. In a bucketed
        store both limits also count the bucket's other graphs: they
        bound the driver's work, and the merged rows of ``g`` are never
        more than the rows counted.

        The Spark read's rules hold: a leaf dir the commit never wrote
        reads as empty, decided by ``FileSystem.exists`` and never by
        os.path; files named ``_*`` or ``.*`` (``_SUCCESS``, checksum
        sidecars) are skipped, by the listing's own filter
        (:attr:`_StoreFs.visible`); columns resolve case-insensitively, as
        Spark's Parquet reader resolves them, and a column a file lacks
        (``w`` before weights existed) reads as None. No column mapping
        is applied: ``src``, ``dst``, ``w`` and ``vid`` are reserved
        names, which no property can take and no rename can map."""
        ptr = (self.manifest or {}).get("graphs", {}).get(g)
        if ptr is None:
            return []
        chain = _cids(ptr)
        leaf = self._fs.leaf_dirs([g], self.buckets)[g]
        fs, Path = self._fs.fs, self._fs.Path
        files, size = [], 0
        for pos, cid in enumerate(chain):
            leaf_dir = Path(os.path.join(self.store, "data", table,
                                         f"c={cid}", leaf))
            if not fs.exists(leaf_dir):
                continue
            for status in fs.listStatus(leaf_dir, self._fs.visible):
                size += status.getLen()
                if size > LOCAL_READ_BYTES:
                    return None
                files.append((pos, status.getPath()))
        rows: list[list[tuple]] = [[] for _ in chain]
        nrows = 0
        for pos, path in files:
            stream = fs.open(path)
            try:
                data = stream.readAllBytes()
            finally:
                stream.close()
            pf = pq.ParquetFile(pa.BufferReader(data))
            nrows += pf.metadata.num_rows
            if nrows > LOCAL_EDGE_ROWS:
                return None
            field = {n.lower(): n for n in pf.schema_arrow.names}
            keep = [c for c in (*cols, "graph") if c in field]
            t = pf.read(columns=[field[c] for c in keep])
            got = dict(zip(keep, (c.to_pylist() for c in t.columns)))
            tuples = zip(*(got.get(c, [None] * t.num_rows) for c in cols))
            if self.buckets:
                # a bucket's file holds every graph of the bucket
                tuples = (r for r, name in zip(tuples, got["graph"])
                          if name == g)
            rows[pos].extend(tuples)
        return list(zip(chain, rows))

    def local_edges(self, g: str) -> list[tuple[int, int]] | None:
        """Graph ``g``'s ``(src, dst)`` rows, the multiset :meth:`edges`
        reads, from one driver-side read (:meth:`_local_chain`); None
        outside that read's envelope. The merge-on-read rule is
        :meth:`_edges_merged`'s: per ``(src, dst)`` the latest delta
        row in the chain replaces every base row at a lower chain
        position, a latest ``w = 0`` (or NULL) delta row is a delete
        marker, and base rows after the latest delta survive.

        The single-graph ``bfs`` and ``dfs_leaves`` read through here.
        Graphs over the envelope, whole-catalog and multi-graph reads,
        the ``*_all`` kernels and the SQL views keep the Spark read."""
        chain = self._local_chain("edges", g, ("src", "dst", "w"))
        if chain is None:
            return None
        edeltas = set((self.manifest or {}).get("edeltas", []))
        latest: dict[tuple, tuple] = {}   # key -> (pos, w) of its last delta
        for pos, (cid, rows) in enumerate(chain):
            if cid in edeltas:
                for s, d, w in rows:
                    latest[(s, d)] = (pos, w)
        out = [(s, d) for pos, (cid, rows) in enumerate(chain)
               if cid not in edeltas
               for s, d, _ in rows if pos > latest.get((s, d), (-1,))[0]]
        return out + [key for key, (_, w) in latest.items() if w]

    def local_vertices(self, g: str) -> list[int] | None:
        """Graph ``g``'s vertex ids, the multiset :meth:`vertices` reads
        (every chain commit's rows: a vertex delta adds membership),
        from one driver-side read; None outside its envelope."""
        chain = self._local_chain("vertices", g, ("vid",))
        if chain is None:
            return None
        return [v for _, rows in chain for (v,) in rows]


class GraphEngine:
    """Named-graph store + traversal queries over a Parquet-backed
    edge/vertex catalog, one pair of tables for the whole corpus of
    graphs (that layout — not a file per graph — is what scales;
    SURVEY.md §1.4)."""

    def __init__(self, spark: SparkSession, store_path: str,
                 manifest_store: metastore.ManifestStore | None = None,
                 buckets: int | None = None):
        """``buckets=B`` selects the BUCKETED layout for a NEW store:
        data dirs are partitioned by ``gb = crc32(graph) % B`` (B dirs
        per commit per table, independent of catalog size — a
        10^5-graph catalog must not create 3×N directories per commit)
        and the manifest log is chunked into B bucket blobs (no single
        JSON document ever holds the whole graphs map). The layout is
        decided by the store's FIRST published manifest and persisted
        in it; engines opened later follow the stored layout, so the
        argument only matters on a virgin store. Reads stay
        partition-pruned: a single-graph read touches one bucket dir
        per chain commit, with the bucket computed driver-side (CRC-32
        matches between zlib and Spark's crc32 builtin)."""
        self.spark = spark
        self.store = store_path
        self.buckets = buckets
        self.manifest_dir = os.path.join(store_path, "manifests")
        # Metadata layer: pluggable (see metastore.py). Auto-selected
        # by the store path's URI scheme so the commit log lives where
        # the data lives: a plain local path gets the POSIX store, a
        # scheme path (hdfs://, file:, abfs://, …) gets the Hadoop-
        # filesystem store reached through the same Spark session that
        # reads and writes the parquet data dirs.
        if manifest_store is None:
            if _path_scheme(store_path):
                manifest_store = metastore.HadoopFsManifestStore(
                    spark, self.manifest_dir)
            else:
                manifest_store = metastore.PosixManifestStore(
                    self.manifest_dir)
        self.manifests = metastore.ManifestLog(manifest_store,
                                               buckets=buckets)
        self._compact_max_deltas: int | None = None
        self._compact_max_chain: int | None = None
        self._fs = _StoreFs(spark, store_path)

    def compact_policy(self, max_deltas: int | None = None,
                       max_chain: int | None = None) -> None:
        """Arm (or disarm, both ``None``) AUTO-COMPACTION — the
        background-compaction economics Delta/Iceberg tables get from
        OPTIMIZE schedulers, without which an always-appending or
        always-delta writer re-creates the small-files/long-chain
        problem the chained formats solve:

        - ``max_deltas=K``: after every MERGE-ON-READ delta write
          (``merge_edges(mode="delta")`` / ``set_vertex_props(
          mode="delta")``), any TOUCHED graph whose chain then carries
          MORE THAN K delta commits is selectively compacted (each
          chained delta adds a delta-sized window + join to every
          read; the measured read tax grows with chain length,
          BENCH_STORE_PROPS.json).
        - ``max_chain=M``: after ANY chain-extending write (appends —
          incl. streaming ingest batches — and delta writes), a
          touched graph whose TOTAL chain exceeds M commits is
          compacted: a long append chain costs one scan per commit at
          read even with no deltas.

        The trigger check is driver-side manifest metadata over the
        TOUCHED graphs only (the :meth:`chains` view's numbers, not a
        Spark job), so a policy-armed writer pays O(batch) until a
        threshold trips, then one O(touched-graphs) selective rewrite
        resets the chain. Snapshot- and concurrency-safe because
        :meth:`compact` is (a graph written mid-compaction keeps its
        newer pointer; its commits survive for the next trigger).
        Exactly-once replay is unaffected: the txn ledger rides
        through compaction verbatim."""
        for nm, v in (("max_deltas", max_deltas), ("max_chain", max_chain)):
            if v is not None and v < 1:
                raise ValueError(
                    f"compact_policy: {nm} must be >= 1 or None, "
                    f"got {v!r}")
        self._compact_max_deltas = max_deltas
        self._compact_max_chain = max_chain

    def _auto_compact(self, touched) -> None:
        """Policy hook run after every chain-extending write's
        publish: compact the touched graphs whose delta count / chain
        length now exceeds an armed threshold. Metadata-only fast path
        when disarmed or under threshold."""
        kd, kc = self._compact_max_deltas, self._compact_max_chain
        if kd is None and kc is None:
            return
        m = self.manifests.load() or {}
        dset = set(m.get("vdeltas", [])) | set(m.get("edeltas", []))
        gmap = m.get("graphs", {})
        over = []
        for g in touched:
            if g not in gmap:
                continue
            chain = _cids(gmap[g])
            if (kc is not None and len(chain) > kc) or \
                    (kd is not None and sum(c in dset for c in chain) > kd):
                over.append(g)
        if over:
            self.compact(sorted(over))

    def _store_write(self, df: DataFrame, table: str, cid: str,
                     buckets: int | None) -> None:
        """Land one table's rows under the immutable ``c=<cid>`` dir:
        graph-partitioned (legacy) or bucket-partitioned (``gb``
        column, graph kept as a data column for row-group pruning).

        Writes go out under PHYSICAL column names: a batch carrying a
        RENAMEd property (logical name) lands under the original
        physical column, so one schema per table spans every commit —
        the write-side half of the column mapping ``_commit_df``
        applies at read. The mapping is resolved from the CURRENT
        manifest (one metadata get, negligible next to the parquet
        write); a rename racing this write can strand a file under
        the old logical name — the same advisory window Delta has,
        and renames are rare maintenance ops."""
        if table in ("edges", "vertices"):
            cmap = {l: p for l, p in ((self.manifests.load() or {})
                    .get("colmap", {}).get(table, {})).items() if l != p}
            if cmap and any(c in cmap for c in df.columns):
                # ONE select-with-aliases projection (the write-side
                # mirror of _commit_df's read projection): sequential
                # withColumnRenamed depends on dict order when one
                # column's PHYSICAL name equals another's LOGICAL name
                # (colmap {tmp:b, b:a} on a batch carrying b and tmp:
                # renaming tmp→b first duplicates b); the atomic
                # projection has no intermediate state.
                df = df.select(
                    *[F.col(c).alias(cmap.get(c, c)) for c in df.columns])
        out = df.select(*[c for c in df.columns if c != "graph"], "graph")
        path = os.path.join(self.store, "data", table, f"c={cid}")
        if buckets:
            out = out.withColumn(
                "gb", (F.crc32(F.col("graph").cast("binary"))
                       % buckets).cast("int"))
            out.write.mode("overwrite").partitionBy("gb").parquet(path)
        else:
            out.write.mode("overwrite").partitionBy("graph").parquet(path)

    def _driver_write(self, rows: pa.Table, table: str, cid: str,
                      buckets: int | None) -> None:
        """Land one table's rows under ``c=<cid>`` from the driver, with
        no Spark job: pyarrow serializes each partition dir's rows into
        one zstd Parquet file in memory (zstd is the session's codec).
        The dirs are the ones :meth:`_store_write` names:
        ``graph=<name>`` escaped as Spark escapes it, or ``gb=<bucket>``
        with ``graph`` kept as a data column. ``c=<cid>`` is created
        even when ``rows`` is empty, so a whole-dir read of the commit
        never takes the PATH_NOT_FOUND fallback. No ``_SUCCESS`` marker
        is written: the manifest is the commit record.

        Like the Spark writer's overwrite mode, the write first deletes
        whatever ``c=<cid>`` holds: a replay under the commit id of a
        writer that died at the manifest CAS must replace that
        orphan's files whole, and not keep its partition dirs beside
        its own. Each file is then created exclusively.

        On Hadoop's local FileSystem the files land by Python file IO
        (:meth:`_LocalStore.land`), with the modes and ``.crc``
        sidecars Hadoop would give them, because Hadoop's own
        ``create`` there starts a ``chmod`` process per file and dir.
        Every other FileSystem (``hdfs://``, ``s3a://``, …) lands
        through Hadoop's ``create``; reads go through Hadoop on every
        FileSystem and check the sidecars."""
        names = rows.column("graph").to_pylist()
        leaf = self._fs.leaf_dirs(set(names), buckets)
        if not buckets:
            rows = rows.drop_columns(["graph"])
        parts: dict[str, list[int]] = {}
        for i, g in enumerate(names):
            parts.setdefault(leaf[g], []).append(i)
        files = {}
        for name, idx in sorted(parts.items()):
            buf = pa.BufferOutputStream()
            pq.write_table(rows.take(idx), buf, compression="zstd")
            files[os.path.join(name, f"part-00000-{cid}.zstd.parquet")] = \
                buf.getvalue().to_pybytes()
        sub = os.path.join("data", table, f"c={cid}")
        if self._fs.local is not None:
            self._fs.local.land(sub, files)
            return
        fs, Path = self._fs.fs, self._fs.Path
        root = os.path.join(self.store, sub)
        fs.delete(Path(root), True)
        fs.mkdirs(Path(root))
        for rel, data in files.items():
            out = fs.create(Path(os.path.join(root, rel)), False)
            try:
                out.write(data)
            finally:
                out.close()

    def _commit(self, snap: GraphSnapshot, how: str, graphs, stages, *,
                cid: str | None = None, **publish) -> frozenset | None:
        """Commit one data write: the one routine that knows the commit
        protocol, and the only caller of the two landers. Every data
        writer builds its tables and hands them here.

        1. Mint the commit id, or take ``cid`` (``append_edges``'
           ``commit_id``), and resolve the layout: the store's persisted
           one when ``snap`` has a manifest, else the constructor's
           ``buckets`` (the first write to a virgin store decides).
        2. Land ``stages`` in order under ``c=<cid>``. A stage is a list
           of ``(rows, table)`` and starts only after the previous one
           returns. In a stage, an Arrow table is written on the driver
           (:meth:`_driver_write`, no Spark job) and a DataFrame by
           Spark (:meth:`_store_write`). Two or more DataFrames overlap
           on a pool of one thread per table (guide §2.6): each write is
           a driver-blocking job whose task tail leaves most executors
           idle, and the next write's tasks back-fill them. A frame
           gets a stage of its own when the others must not run beside
           it: when it alone can fail on malformed input (``_write``'s
           edges melt, so nothing lands beside a failed cast), or when
           it fills a persisted cache the others read (the COW merge's
           edge rewrite, so they read it warm instead of each
           recomputing the touched graphs' scan).
        3. Publish through :meth:`_publish` only once every landing has
           returned: files first, CAS last. ``how``, ``graphs`` and the
           ``publish`` parts go there as they are, plus
           ``pinned=snap.manifest`` for ``"flip"``. A failed landing
           propagates before any manifest references the commit, and
           its files are orphans for :meth:`vacuum`.

        A write with no ``graphs`` lands and publishes nothing. Returns
        the graphs whose pointer moved, or None when nothing was
        published."""
        if not graphs:
            return None
        cid = cid or uuid.uuid4().hex[:12]
        eff = snap.buckets if snap.manifest is not None else self.buckets
        for stage in stages:
            frames = [(rows, table) for rows, table in stage
                      if isinstance(rows, DataFrame)]
            for rows, table in stage:
                if not isinstance(rows, DataFrame):
                    self._driver_write(rows, table, cid, eff)
            if len(frames) == 1:
                self._store_write(*frames[0], cid, eff)
            elif frames:
                with ThreadPoolExecutor(max_workers=len(frames)) as pool:
                    # each pool thread takes a copy of the caller's local
                    # properties (its job group among them), so the
                    # write jobs are charged to the op that called; one
                    # copy per thread, because Spark sets per-execution
                    # properties on it
                    futs = [pool.submit(
                                inheritable_thread_target(self.spark)(
                                    self._store_write),
                                df, table, cid, eff)
                            for df, table in frames]
                    for f in futs:
                        f.result()   # propagate the first failure loudly
        if how == "flip":
            publish["pinned"] = snap.manifest
        return self._publish(how, cid, eff, graphs, **publish)

    # -- op 1 / op 2: add / modify (full overwrite of one graph) ---------

    def add_graph(self, name: str, matrix_text: str) -> None:
        """Ingest one adjacency-matrix text (the reference's exchange
        format) and atomically replace that graph's partition.

        A matrix of declared N with N² ≤ ``LOCAL_EDGE_ROWS`` (N ≤ 100,
        the reference's cap) is parsed and checked on the driver
        (:func:`~graphdatabase_spark.sources.matrix.matrix_tables`)
        and its files written by :meth:`_driver_write`, with no Spark
        job; a cell that is not a 32-bit integer raises ValueError
        before any file lands. A larger matrix takes :meth:`_write`'s
        Spark melt."""
        n = matrix_mod.declared_n(matrix_text)
        if n * n > LOCAL_EDGE_ROWS:
            self._write(matrix_mod.lines_from_text(self.spark, name,
                                                   matrix_text), [name])
            return
        tables = matrix_mod.matrix_tables(name, matrix_text)
        self._commit(self.snapshot(), "overwrite", [name],
                     [list(zip(tables, ("edges", "vertices", "meta")))])

    # op 2 routes to the same implementation as op 1 — faithfully
    # mirroring the reference's dispatch (primary_server.c:223,
    # load_balancer.c:170).
    modify_graph = add_graph

    def ingest_dir(self, path: str) -> None:
        """Bulk ingest a directory of matrix files (distributed read)."""
        self._write(matrix_mod.read_matrix_files(self.spark, path))

    # -- append commits (streaming / incremental writes) -------------------

    @staticmethod
    def _validated_weights(df: DataFrame,
                           op: str) -> tuple[DataFrame, dict[str, str]]:
        """Normalize an edge batch to ``(src, dst, w, graph, *props)``
        with the store's weight invariant ENFORCED: ``w >= 1`` (w
        defaults to 1 when absent). diff() encodes "row absent" as
        weight 0, so a stored 0/negative/NULL weight would be
        misclassified in — or indistinguishable from absence in — the
        CDC output; failing the write loudly keeps the invariant true
        instead of documented. Columns beyond the core four are typed
        edge PROPERTY columns, kept verbatim; returns the batch's
        property schema alongside (``{name: ddl_type}``, empty for a
        plain batch). Runs NO job: the invariant is checked
        (:func:`_check_edge_batch`) on the caller's one pass over the
        batch — the bounded read of :meth:`_land_edge_batch` or the
        touched-graphs collect of :meth:`_touched_validated`."""
        props = _prop_schema(df, ("graph", "src", "dst", "w"), op)
        # case-insensitive presence check: withColumn resolves names
        # case-insensitively, so a batch carrying 'W' must not have its
        # weights silently replaced with the default
        if not any(c.lower() == "w" for c in df.columns):
            df = df.withColumn("w", F.lit(1))
        df = df.select(F.col("src").cast("int"),
                       F.col("dst").cast("int"),
                       F.col("w").cast("int"),
                       F.col("graph").cast("string"),
                       *props)
        return df, props

    @staticmethod
    def _touched_validated(df: DataFrame, op: str) -> list[str]:
        """The batch's graph names AND the edge-batch invariants
        (:func:`_check_edge_batch`) in ONE metadata-sized job
        (previously a distinct-collect plus a separate isEmpty
        validation scan — two jobs per edge write). Still fails loudly
        BEFORE any file lands: callers run this before they hand their
        tables to :meth:`_commit`."""
        rows = df.groupBy("graph").agg(
            F.count(F.when(F.col("w").isNull() | (F.col("w") < 1),
                           F.lit(1))).alias("bad"),
            F.count(F.when(F.col("src").isNull() | F.col("dst").isNull(),
                           F.lit(1))).alias("nulls")).collect()
        _check_edge_batch(
            op, any(r["graph"] is None or r["nulls"] for r in rows),
            any(r["bad"] for r in rows))
        return [r["graph"] for r in rows]

    def _land_edge_batch(self, snap: GraphSnapshot, batch: DataFrame,
                         batch_props: dict, op: str, kind: str, *,
                         cid: str | None = None,
                         **publish) -> frozenset | None:
        """Build the tables of one O(batch) edge commit and commit them
        through :meth:`_commit`, extending each touched graph's chain
        with the ``publish`` parts; returns what :meth:`_commit`
        returns (None when the batch touches no graph). ``kind`` is
        ``"append"``, or a delta merge's ``"upsert"`` or ``"delete"``.
        Validation fails before any file lands. The commit holds:

        - edges: the batch rows (for a delete, w = 0 markers);
        - vertices: endpoint vids new to their graph in the pinned
          snapshot, so reads never pay a dedup (none for a delete);
        - meta: each graph's max endpoint vid, the ``n >= max vid``
          bound — on an append for graphs new to the store, on an
          upsert for every touched graph, none for a delete.

        A delete only touches graphs the store has: deleting from an
        unknown graph is a no-op, not a new empty catalog entry.

        A batch of at most ``LOCAL_EDGE_ROWS`` rows without property
        columns is read once (one Spark job), checked and derived on
        the driver, and lands as Arrow tables; the touched graphs'
        known vids come from the driver-side read
        (:meth:`_local_edge_tables`). Larger batches and batches with
        property columns keep the distributed path. Its callers are
        streaming ``foreachBatch`` ingest, large SQL DML and
        typed-property writes (the column mapping is applied by
        ``_store_write`` only). A batch over the cap pays the bounded
        read once before that path reads it again."""
        gmap = (snap.manifest or {}).get("graphs", {})
        if not batch_props:
            # toArrow of the limit runs 1 job; collect() would run 2
            local = batch.limit(LOCAL_EDGE_ROWS + 1).toArrow()
            if local.num_rows <= LOCAL_EDGE_ROWS:
                touched, tables = self._local_edge_tables(snap, local, op,
                                                          kind)
                return self._commit(snap, "extend", touched, [tables],
                                    cid=cid, **publish)
        batch = batch.persist()
        try:
            if kind == "delete":
                touched = [r["graph"] for r in
                           batch.select("graph").distinct().collect()
                           if r["graph"] in gmap]
                frames = [(batch.select("src", "dst", F.lit(0).alias("w"),
                                        "graph"), "edges")]
            else:
                touched = self._touched_validated(batch, op)
                vids = (batch.select(F.col("src").alias("vid"), "graph")
                        .unionByName(batch.select(F.col("dst").alias("vid"),
                                                  "graph"))
                        .distinct())
                known = snap.vertices(touched).select("vid", "graph")
                meta = _meta_bound(vids)
                old = [g for g in touched if g in gmap]
                if kind == "append" and old:
                    meta = meta.filter(~F.col("graph").isin(old))
                frames = [(batch, "edges"),
                          (vids.join(known, ["vid", "graph"], "left_anti"),
                           "vertices"),
                          (meta, "meta")]
            return self._commit(snap, "extend", touched, [frames], cid=cid,
                                **publish)
        finally:
            batch.unpersist()

    def _local_edge_tables(self, snap: GraphSnapshot, local: pa.Table,
                           op: str, kind: str
                           ) -> tuple[list[str], list[tuple[pa.Table, str]]]:
        """:meth:`_land_edge_batch`'s touched graphs and three tables,
        derived on the driver from the batch's Arrow rows. The touched
        graphs' known vertex ids come from the driver-side read
        (:meth:`GraphSnapshot.local_vertices`), with no Spark job; only
        graphs over its envelope take one Spark read of the vertex ids
        that the batch names."""
        gmap = (snap.manifest or {}).get("graphs", {})
        rows = list(zip(*(local.column(c).to_pylist()
                          for c in ("graph", "src", "dst", "w"))))
        if kind == "delete":
            rows = [(g, s, d, 0) for g, s, d, _ in rows if g in gmap]
        else:
            _check_edge_batch(op, any(None in r[:3] for r in rows),
                              any(r[3] is None or r[3] < 1 for r in rows))
        touched = sorted({r[0] for r in rows})
        ends: dict[str, set[int]] = {}
        if kind != "delete":
            for g, s, d, _ in rows:
                ends.setdefault(g, set()).update((s, d))
        known: set[tuple[str, int]] = set()
        spark_read = []
        for g in sorted(ends):
            if g in gmap:
                vids = snap.local_vertices(g)
                if vids is None:
                    spark_read.append(g)
                else:
                    known.update((g, v) for v in vids)
        if spark_read:
            # SQL text, not Column.isin: isin makes one py4j call per
            # literal, 7.2 s for the cap's 20,000 vids on a 4-core Xeon
            # VM, where parsing the text costs about 0.4 s
            vids = ",".join(map(str, sorted(set().union(
                *(ends[g] for g in spark_read)))))
            seen = (snap.vertices(spark_read)
                    .filter(F.expr(f"vid IN ({vids})"))
                    .select("graph", "vid").toArrow())
            known.update(zip(seen.column("graph").to_pylist(),
                             seen.column("vid").to_pylist()))
        new = sorted((v, g) for g, vs in ends.items() for v in vs
                     if (g, v) not in known)
        meta = [(max(vs), g) for g, vs in sorted(ends.items())
                if kind == "upsert" or g not in gmap]

        def _table(names: tuple[str, ...], tuples: list) -> pa.Table:
            cols = list(zip(*tuples)) or [()] * len(names)
            return pa.table({n: pa.array(c, pa.string() if n == "graph"
                                         else pa.int32())
                             for n, c in zip(names, cols)})

        return touched, [
            (_table(("src", "dst", "w", "graph"),
                    [(s, d, w, g) for g, s, d, w in rows]), "edges"),
            (_table(("vid", "graph"), new), "vertices"),
            (_table(("n", "graph"), meta), "meta")]

    def append_edges(self, edges: DataFrame,
                     commit_id: str | None = None,
                     txn_app: str | None = None,
                     txn_version: int | None = None) -> bool:
        """Append an edge micro-batch: INSERT INTO semantics over the
        versioned store. ``edges`` carries ``(graph, src, dst[, w])``
        (w defaults to 1). Unlike add/modify — a full-overwrite pointer
        FLIP — the published manifest EXTENDS each touched graph's
        pointer into a commit CHAIN read as a union (the table-format
        add-files commit, like a Delta/Iceberg append): the batch's
        cost is O(batch), never O(graph), which is what lets a 100 TB
        store absorb a continuous stream without rewriting graphs.
        Edge rows are appended as a multiset (re-sent data duplicates,
        exactly like INSERT INTO; dedup is a read-side/compaction
        policy). Vertices NEW to each touched graph are appended too —
        anti-joined against the pinned snapshot at write time so reads
        never pay a dedup — and graphs new to the store gain a meta row
        (n = the batch's max vertex id, so the ``n >= max(vid)`` packing
        bound holds for appended graphs too) and join the catalog.
        ``compact()`` collapses chains back to one commit per graph.
        A batch of at most ``LOCAL_EDGE_ROWS`` rows without property
        columns commits in at most two Spark jobs, with its files
        written by the driver; larger batches and typed-property
        batches take the distributed write (:meth:`_land_edge_batch`).
        A NULL ``graph``, ``src`` or ``dst``, or a weight below 1,
        raises before any file lands.

        Exactly-once: ``txn_app``/``txn_version`` record an applied
        transaction version IN THE MANIFEST itself (the Delta txn-action
        pattern — one ``{app: max version}`` entry per sink, carried
        forward by every later commit including compact/merge): a
        replay whose version is <= the recorded one publishes nothing
        and returns False, even after a compaction collapsed the
        append chain and dropped the original commit id from the
        manifest. ``commit_id`` alone (no txn pair) gives the weaker
        referenced-commit dedup, which holds only until the chain is
        collapsed. streaming/ingest.py passes both.
        Concurrency: the CAS publish merges chains, so appends to
        different graphs never conflict; two simultaneous appends to
        the SAME graph both land (both chains extend), at worst
        duplicating vertex rows that compaction dedups; the txn check
        runs INSIDE the CAS closure, so two replicas replaying the same
        batch serialize correctly.

        Returns True if a manifest was published."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version come as a pair")
        snap = self.snapshot()
        prev0 = snap.manifest or {}
        if txn_app is not None and \
                prev0.get("txns", {}).get(txn_app, -1) >= txn_version:
            return False  # replayed batch — version already applied
        if commit_id is not None:
            referenced = {c for ptr in prev0.get("graphs", {}).values()
                          for c in _cids(ptr)}
            if commit_id in referenced:
                return False  # replayed batch — already published
        edges, batch_props = self._validated_weights(edges, "append_edges")
        edges, batch_props = _canon_props(edges, batch_props, prev0,
                                          "edges", "append_edges")
        # the txn pair is re-checked inside the CAS closure: a
        # competing replica may have applied this version since our
        # snapshot. An empty batch publishes nothing.
        return self._land_edge_batch(
            snap, edges, batch_props, "append_edges", "append",
            cid=commit_id, props=("edges", batch_props, "append_edges"),
            txn=None if txn_app is None else (txn_app, txn_version)
        ) is not None

    def merge_edges(self, updates: DataFrame, delete: bool = False, *,
                    pinned_snapshot: GraphSnapshot | None = None,
                    mode: str = "cow"
                    ) -> tuple[frozenset, frozenset]:
        """MERGE INTO over the stored edge sets: upsert (default) or
        delete by edge key. ``updates`` carries ``(graph, src, dst[,
        w])``; matched (graph, src, dst) keys take the update's weight
        (or are removed when ``delete=True``), unmatched keys insert.
        Each TOUCHED graph is rewritten into one fresh commit and its
        pointer flipped there — so a merge also collapses any append
        chain for those graphs (it IS a per-graph compaction); graphs
        not in ``updates`` keep their commits untouched, and readers
        pinned to older snapshots are unaffected. Cost is O(touched
        graphs), the table-format copy-on-write MERGE economics
        (Delta/Iceberg COW): right for low-frequency corrections; a
        continuous stream belongs in :meth:`append_edges`.

        Duplicate keys INSIDE ``updates`` are the caller's bug (which
        row wins is undefined in every MERGE dialect); pre-aggregate.
        An upsert row with a NULL ``graph``, ``src`` or ``dst``, or a
        weight below 1, raises before any file lands.

        Concurrency: the CAS publish flips a touched graph's pointer
        only if it is UNCHANGED since the merge pinned its snapshot —
        a write landing mid-merge keeps its newer pointer (same
        protection as compact()); the merge's rewrite of that graph is
        simply not adopted.

        Returns ``(adopted, skipped)`` graph-name frozensets so callers
        can SEE partial non-adoption instead of inferring success from
        a silent return: ``adopted`` are the graphs whose pointer
        flipped to this merge's rewrite, ``skipped`` the touched graphs
        whose pointer moved mid-merge (their changes were dropped —
        retry the merge for those). The SQL-DML surface
        (operators/dml.py) raises on a non-empty ``skipped``.

        ``pinned_snapshot``: a caller that COMPUTED ``updates`` from a
        snapshot it already pinned passes it here so the CAS check
        covers the whole read-modify-write — otherwise a write landing
        between the caller's read and this method's own pin would be
        silently overwritten by stale rows while every graph counts as
        adopted (the SQL UPDATE/DELETE paths pass the view snapshot).

        ``mode="delta"`` is the MERGE-ON-READ leg (the edge-side twin
        of ``set_vertex_props(mode="delta")``): the batch lands as one
        O(batch) append commit — no touched-graph read or rewrite —
        marked in the manifest's ``edeltas`` set; reads merge chained
        deltas latest-wins per (graph, src, dst), a ``delete=True``
        delta writes w = 0 DELETE MARKERS (the CDC absence encoding),
        and ``compact()`` collapses the chain. Identical read-back to
        COW (pinned by tests/test_props.py); unlike COW a delta never
        skips — an upsert/delete stays correct appended after any
        concurrent write — so the result is always ``(touched, ∅)``.
        A delta batch of at most ``LOCAL_EDGE_ROWS`` rows without
        property columns commits in at most two Spark jobs, with its
        files written by the driver (:meth:`_land_edge_batch`).
        Choose delta for high-frequency small corrections, COW for
        read-hot stores (each chained delta adds a delta-sized window
        + join to every edge read until compaction)."""
        if mode not in ("cow", "delta"):
            raise ValueError(
                f"merge_edges: mode must be 'cow' or 'delta', got {mode!r}")
        snap = pinned_snapshot or self.snapshot()
        batch_props: dict[str, str] = {}
        if delete:
            # a delete matches on keys only — w is never stored
            if "w" not in updates.columns:
                updates = updates.withColumn("w", F.lit(1))
            updates = updates.select(F.col("src").cast("int"),
                                     F.col("dst").cast("int"),
                                     F.col("w").cast("int"),
                                     F.col("graph").cast("string"))
        else:
            updates, batch_props = self._validated_weights(
                updates, "merge_edges")
            updates, batch_props = _canon_props(
                updates, batch_props, snap.manifest, "edges", "merge_edges")
        if mode == "delta":
            moved = self._land_edge_batch(
                snap, updates, batch_props, "merge_edges",
                "delete" if delete else "upsert", deltas="edeltas",
                props=("edges", batch_props, "merge_edges"))
            return frozenset(moved or ()), frozenset()
        # persist the validated batch across its consumers (the
        # touched-graphs collect and every table write): one
        # evaluation of the caller's batch plan
        updates = updates.persist()
        try:
            touched = (self._touched_validated(updates, "merge_edges")
                       if not delete else
                       [r["graph"] for r in
                        updates.select("graph").distinct().collect()])
            if delete:
                # deleting from a graph the store doesn't have is a
                # no-op, not a new empty catalog entry
                known = (snap.manifest or {}).get("graphs", {})
                touched = [g for g in touched if g in known]
            if not touched:
                return frozenset(), frozenset()
            return self._merge_edges_cow(snap, updates, batch_props,
                                         touched, delete)
        finally:
            updates.unpersist()

    def _merge_edges_cow(self, snap: GraphSnapshot, updates: DataFrame,
                         batch_props: dict, touched: list[str],
                         delete: bool) -> tuple[frozenset, frozenset]:
        """The copy-on-write leg of :meth:`merge_edges`: rewrite each
        touched graph into one fresh commit and flip the pointers of
        those unchanged since ``snap``."""
        # the COW rewrite reads the props-carrying shape so untouched
        # rows keep their property values; matched keys take the
        # update row WHOLESALE (a declared property absent from the
        # update batch becomes NULL for those keys — row-level upsert,
        # every MERGE dialect's semantics), unmatched keys insert
        base = snap.weighted_edges(touched, props=True)
        kept = base.join(updates.select("graph", "src", "dst"),
                         ["graph", "src", "dst"], "left_anti")
        merged = kept if delete else kept.unionByName(
            updates, allowMissingColumns=True)
        # vertex rows carry through with their properties; only vids
        # NEW to their graph are appended (prop-less)
        old_verts = snap.vertices(touched, props=True).distinct()
        evids = (merged.select(F.col("src").alias("vid"), "graph")
                 .unionByName(merged.select(F.col("dst").alias("vid"),
                                            "graph"))
                 .distinct())
        verts = old_verts.unionByName(
            evids.join(old_verts.select("vid", "graph"),
                       ["vid", "graph"], "left_anti"),
            allowMissingColumns=True)
        # meta carries over (graph stays cataloged even if the merge
        # deletes its last edge) and keeps the n >= max vid bound
        meta = _meta_bound(verts, snap.meta(touched))
        # persist the rewrite across the three table writes: without
        # this the edges write, the vertices write (via evids) and the
        # meta write (via verts) each recomputed the full COW union —
        # three scans of the touched graphs per MERGE instead of one
        # (round-15 optimization; at scale the recompute is an extra
        # full read of every touched graph)
        merged = merged.persist()
        verts = verts.persist()
        try:
            # when every touched pointer moved mid-merge nothing is
            # published, and the c=cid dirs are orphans for vacuum
            adopted = self._commit(
                snap, "flip", touched,
                [[(merged, "edges")], [(verts, "vertices"), (meta, "meta")]],
                props=("edges", batch_props, "merge_edges")) or frozenset()
        finally:
            merged.unpersist()
            verts.unpersist()
        return adopted, frozenset(touched) - adopted

    def set_vertex_props(self, verts: DataFrame, *,
                         pinned_snapshot: GraphSnapshot | None = None,
                         mode: str = "cow"
                         ) -> tuple[frozenset, frozenset]:
        """Upsert typed VERTEX property rows by ``(graph, vid)``:
        ``verts`` carries the key plus one or more property columns
        (any Spark SQL type; names validated against the reserved
        store columns, types recorded store-wide in the manifest —
        same evolution rule as edge properties). Matched vids take the
        batch row's property values WHOLESALE (a declared property
        absent from the batch reads NULL for those vids — row-level
        upsert, not a column-level patch); unmatched vids JOIN their
        graph's vertex set (and a graph new to the store joins the
        catalog), so a vertex can exist with properties before any
        edge touches it. A batch with NO property columns is a pure
        MEMBERSHIP upsert: vids new to their graph are added (isolated
        vertices), existing rows keep their property values untouched.

        The reference's store has no vertex state at all beyond
        membership (``secondary_server.c:544-559`` — matrix cells
        only); this is the property-graph extension. Economics and
        concurrency are exactly :meth:`merge_edges` — including
        ``pinned_snapshot`` for callers whose batch was computed from
        an already-pinned snapshot (the SQL UPDATE path): copy-on-write
        rewrite of the touched graphs (edges copied through
        unchanged, props intact) + CAS pointer flip; returns
        ``(adopted, skipped)``.

        ``mode="delta"`` is the MERGE-ON-READ alternative (round-11
        verdict item 6): the batch rows land as ONE O(batch) append
        commit — no old-state read, no bucket-partition rewrite — and
        the commit id is marked in the manifest's ``vdeltas`` set so
        :meth:`GraphSnapshot.vertices` merges it latest-wins at read
        time (wholesale-row rule, identical results to COW — pinned by
        tests/test_props.py). Write cost tracks BATCH size instead of
        touched-graph size; reads pay a delta-sized window + join
        until :meth:`compact` collapses the chain. Choose delta for
        high-frequency small prop touches (the touch_100 economics:
        BENCH_STORE_PROPS.json), COW for read-hot stores. A prop-less
        delta batch appends plain membership rows (existing rows keep
        their props — same contract as COW), and deltas never skip:
        an upsert is order-safe to append even across a concurrent
        flip, so the result is always ``(touched, ∅)``."""
        if mode not in ("cow", "delta"):
            raise ValueError(
                f"set_vertex_props: mode must be 'cow' or 'delta', "
                f"got {mode!r}")
        snap = pinned_snapshot or self.snapshot()
        if not {"graph", "vid"} <= set(verts.columns):
            raise ValueError("set_vertex_props needs (graph, vid, "
                             f"*props) columns; got {verts.columns}")
        batch_props = _prop_schema(verts, ("graph", "vid"),
                                   "set_vertex_props")
        verts, batch_props = _canon_props(
            verts, batch_props, snap.manifest, "vertices", "set_vertex_props")
        verts = verts.select(F.col("vid").cast("int"),
                             F.col("graph").cast("string"), *batch_props)
        touched = [r["graph"]
                   for r in verts.select("graph").distinct().collect()]
        if not touched:
            return frozenset(), frozenset()
        if mode == "delta":
            # a prop-less batch is a plain membership append, NOT
            # marked in vdeltas: a membership row must never null a
            # matched key's props through the wholesale-row merge rule
            self._commit(snap, "extend", touched,
                         [[(verts, "vertices"), (_meta_bound(verts), "meta")]],
                         deltas="vdeltas" if batch_props else None,
                         props=("vertices", batch_props, "set_vertex_props"))
            return frozenset(touched), frozenset()
        old_verts = snap.vertices(touched, props=True).distinct()
        if batch_props:
            kept = old_verts.join(verts.select("vid", "graph"),
                                  ["vid", "graph"], "left_anti")
            new_verts = kept.unionByName(verts, allowMissingColumns=True)
        else:
            # a PROP-LESS batch is a pure MEMBERSHIP upsert (INSERT INTO
            # gdb_vertices (graph, vid) — isolated vertices): existing
            # rows keep their property values untouched, only vids new
            # to their graph are added
            new_verts = old_verts.unionByName(
                verts.join(old_verts.select("vid", "graph"),
                           ["vid", "graph"], "left_anti"),
                allowMissingColumns=True)
        # persist across the two consumers (vertices write + the meta
        # bound aggregate) — same one-scan-instead-of-two reasoning as
        # the merge_edges COW persist
        new_verts = new_verts.persist()
        try:
            adopted = self._commit(
                snap, "flip", touched,
                [[(snap.weighted_edges(touched, props=True), "edges"),
                  (new_verts, "vertices"),
                  (_meta_bound(new_verts, snap.meta(touched)), "meta")]],
                props=("vertices", batch_props, "set_vertex_props")
            ) or frozenset()
        finally:
            new_verts.unpersist()
        return adopted, frozenset(touched) - adopted

    def declare_prop(self, table: str, name: str, ddl_type: str) -> bool:
        """Declare a typed edge/vertex property WITHOUT writing data —
        the ``ALTER TABLE … ADD COLUMN`` path (round-11 verdict item
        9). Until now properties evolved only implicitly (the first
        write batch carrying the column extended the manifest's
        ``props``); this publishes the schema change as its own
        metadata-only manifest commit: no data files move, every
        stored row reads the new column as NULL through the
        explicit-schema scan (the same backfill rule as write-time
        evolution), and subsequent writes/UPDATEs must match the
        declared type. Returns True when a manifest was published,
        False for an exact re-declaration (idempotent no-op — standard
        ``ADD COLUMN IF NOT EXISTS`` economics); a type CONFLICT with
        an existing declaration raises, same rule as
        :func:`_merge_props`. Cost: one CAS manifest append,
        catalog-size-independent (untouched chunk blobs are reused
        byte-identically)."""
        if table not in ("edges", "vertices"):
            raise ValueError(
                f"declare_prop: table must be 'edges' or 'vertices', "
                f"got {table!r}")
        if name.lower() in _RESERVED_COLS or not name.isidentifier():
            raise ValueError(
                f"declare_prop: property name {name!r} collides with a "
                f"reserved store column {sorted(_RESERVED_COLS)} or is "
                f"not a plain identifier")
        # public StructType.fromDDL round-trip (the same DDL parse the
        # read paths use) — not the private _parse_datatype_string,
        # which has shifted between PySpark releases
        try:
            fields = StructType.fromDDL(f"x {ddl_type}").fields
        except Exception as exc:
            raise ValueError(
                f"declare_prop: {ddl_type!r} is not a Spark SQL type "
                f"({exc})") from None
        if len(fields) != 1:
            # "int, y int" parses as TWO fields — a smuggled column,
            # not a type
            raise ValueError(
                f"declare_prop: {ddl_type!r} is not a single Spark SQL "
                f"type")
        canon_type = fields[0].dataType.simpleString()

        def update(prev: dict | None) -> dict | None:
            props_doc = dict((prev or {}).get("props", {}))
            declared = props_doc.get(table, {})
            merged = _merge_props(declared, {name: canon_type},
                                  "ALTER TABLE ADD COLUMN",
                                  _blocked_physicals(prev, table))
            if merged == declared:
                return None   # already declared at this type: no-op
            props_doc[table] = merged
            return {"props": props_doc}

        return self._publish(keys=update) is not None

    def rename_prop(self, table: str, old: str, new: str) -> bool:
        """Rename a declared edge/vertex property — the ``ALTER TABLE
        … RENAME COLUMN`` path, METADATA-ONLY via column mapping
        (Delta's rule): no data file moves; the manifest's ``colmap``
        records logical→physical (physical = the name at first
        declaration, fixed forever), reads scan the physical column
        and surface the logical name (``_commit_df``), writes land
        logical batches under the physical name (``_store_write``).
        Time travel shows the HISTORICAL schema: a snapshot pinned
        before the rename reads the old name — the Delta convention,
        pinned by tests. Returns True when a manifest published,
        False for a no-op (old == new). Raises on an unknown column
        or a collision with a declared/reserved name."""
        if table not in ("edges", "vertices"):
            raise ValueError(
                f"rename_prop: table must be 'edges' or 'vertices', "
                f"got {table!r}")
        if old == new:
            return False
        if new.lower() in _RESERVED_COLS or not new.isidentifier():
            raise ValueError(
                f"rename_prop: new name {new!r} collides with a "
                f"reserved store column {sorted(_RESERVED_COLS)} or is "
                f"not a plain identifier")

        def update(prev: dict | None) -> dict | None:
            props_doc = {t: dict(m)
                         for t, m in (prev or {}).get("props", {}).items()}
            declared = props_doc.get(table, {})
            if old not in declared:
                raise ValueError(
                    f"RENAME COLUMN: {table} has no declared property "
                    f"{old!r} (declared: {sorted(declared)})")
            if any(n.lower() == new.lower() for n in declared if n != old):
                raise ValueError(
                    f"RENAME COLUMN: {table} already declares a "
                    f"property named {new!r}")
            # the new LOGICAL spelling must not land on a live or
            # retired PHYSICAL column either: reads resolve the
            # logical→physical map onto one flat parquet namespace,
            # so a logical 'b' whose physical is 'a' next to another
            # column whose physical is 'b' (colmap {tmp:b, b:a} after
            # RENAME b→tmp; RENAME a→b) would alias two live columns
            # onto one physical spelling — duplicate/ambiguous reads
            # and corrupted writes. Refuse loudly, the same rule
            # _merge_props applies to ADD COLUMN. The column's OWN
            # physical is exempt (renaming a column back to its
            # original name un-renames it).
            cmap_cur = (prev or {}).get("colmap", {}).get(table, {})
            own_phys = cmap_cur.get(old, old)
            taken = {p.lower() for p in _blocked_physicals(prev, table)}
            taken |= {cmap_cur.get(n, n).lower()
                      for n in declared if n != old}
            if new.lower() in taken - {own_phys.lower()}:
                raise ValueError(
                    f"RENAME COLUMN: {new!r} is the physical name of "
                    f"another live column or of a DROPPED/RENAMED-away "
                    f"column whose values still sit in old data files; "
                    f"pick a different name")
            # rename in place, preserving declaration order
            props_doc[table] = {(new if n == old else n): t
                                for n, t in declared.items()}
            cmap_doc = {t: dict(m)
                        for t, m in (prev or {}).get("colmap", {}).items()}
            tmap = cmap_doc.setdefault(table, {})
            phys = tmap.pop(old, old)   # physical name survives renames
            if phys != new:
                tmap[new] = phys
            cmap_doc = {t: m for t, m in cmap_doc.items() if m}
            return {"props": props_doc, "colmap": cmap_doc}

        return self._publish(keys=update) is not None

    def drop_prop(self, table: str, name: str) -> bool:
        """Drop a declared edge/vertex property — ``ALTER TABLE …
        DROP COLUMN``, METADATA-ONLY: the column leaves the manifest's
        props (every current read stops selecting it; the explicit-
        schema scans never touch the orphaned parquet column again),
        its PHYSICAL name is tombstoned in ``ptomb`` so a later
        re-declaration of the same name fails loudly instead of
        resurrecting stale values from old data files (the stricter-
        than-Delta convention — no UUID physical names, so retired
        names stay retired). Time travel still reads the column:
        snapshots pinned before the drop carry the old props doc.
        Returns True when a manifest published. Raises on an unknown
        column."""
        if table not in ("edges", "vertices"):
            raise ValueError(
                f"drop_prop: table must be 'edges' or 'vertices', "
                f"got {table!r}")

        def update(prev: dict | None) -> dict | None:
            props_doc = {t: dict(m)
                         for t, m in (prev or {}).get("props", {}).items()}
            declared = props_doc.get(table, {})
            if name not in declared:
                raise ValueError(
                    f"DROP COLUMN: {table} has no declared property "
                    f"{name!r} (declared: {sorted(declared)})")
            declared.pop(name)
            props_doc = {t: m for t, m in props_doc.items() if m}
            cmap_doc = {t: dict(m)
                        for t, m in (prev or {}).get("colmap", {}).items()}
            phys = cmap_doc.get(table, {}).pop(name, name)
            cmap_doc = {t: m for t, m in cmap_doc.items() if m}
            tomb_doc = {t: list(v)
                        for t, v in (prev or {}).get("ptomb", {}).items()}
            tomb_doc.setdefault(table, [])
            if phys not in tomb_doc[table]:
                tomb_doc[table] = sorted(tomb_doc[table] + [phys])
            return {"props": props_doc, "colmap": cmap_doc,
                    "ptomb": tomb_doc}

        return self._publish(keys=update) is not None

    def delete_vertices(self, keys: DataFrame, *,
                        pinned_snapshot: GraphSnapshot | None = None
                        ) -> tuple[frozenset, frozenset]:
        """CASCADE-remove vertices by ``(graph, vid)``: each matched
        vertex row AND every incident edge (``src`` or ``dst`` equals
        the vid) disappear in ONE copy-on-write commit per statement —
        the safe spelling of vertex removal (a bare vertex delete
        would leave dangling edges; the reference can't remove a
        vertex at all short of an op-2 full overwrite,
        ``primary_server.c:223``). The graph stays cataloged (its meta
        row carries over, like an edge DELETE), time travel sees the
        pre-delete state, and snapshot-diff classifies the removed
        edges as deletions. Economics and concurrency are exactly
        :meth:`merge_edges`: COW rewrite of the TOUCHED graphs only +
        CAS pointer flips; returns ``(adopted, skipped)``;
        ``pinned_snapshot`` covers read-modify-write callers (the SQL
        ``DELETE FROM <prefix>_vertices`` path). Deleting from a graph
        the store doesn't have, or a vid a graph doesn't list, is a
        no-op for that row."""
        snap = pinned_snapshot or self.snapshot()
        cols = {c.lower() for c in keys.columns}
        if not {"graph", "vid"} <= cols:
            raise ValueError(f"delete_vertices needs (graph, vid) key "
                             f"columns; got {keys.columns}")
        keys = keys.select(F.col("vid").cast("int"),
                           F.col("graph").cast("string")).distinct()
        known = (snap.manifest or {}).get("graphs", {})
        touched = [r["graph"]
                   for r in keys.select("graph").distinct().collect()
                   if r["graph"] in known]
        if not touched:
            return frozenset(), frozenset()
        keys = keys.filter(F.col("graph").isin(touched))
        verts = (snap.vertices(touched, props=True).distinct()
                 .join(keys, ["graph", "vid"], "left_anti"))
        edges = (snap.weighted_edges(touched, props=True)
                 .join(keys.select("graph", F.col("vid").alias("src")),
                       ["graph", "src"], "left_anti")
                 .join(keys.select("graph", F.col("vid").alias("dst")),
                       ["graph", "dst"], "left_anti"))
        # meta carries over: the graph stays cataloged and n keeps the
        # "n >= max vid" packing bound (removal only lowers max vid)
        adopted = self._commit(
            snap, "flip", touched,
            [[(edges, "edges"), (verts, "vertices"),
              (snap.meta(touched).distinct(), "meta")]]) or frozenset()
        return adopted, frozenset(touched) - adopted

    def _write(self, lines: DataFrame,
               write_graphs: list[str] | None = None) -> None:
        """Overwrite the graphs of matrix ``lines`` through the Spark
        melt: its callers are ``ingest_dir`` and an ``add_graph`` over
        the driver-parse cap.

        One COMMIT through :meth:`_commit`: one distributed write per
        table, still graph-partitioned so single-graph reads prune by
        path; the edges melt casts every cell, so a malformed matrix
        raises before any file lands. The meta table records
        every graph — including N=0 graphs, whose edge/vertex files
        are legitimately absent (the reference's G12.txt edge case):
        a modify that EMPTIES any number of graphs needs no per-graph
        clearing, the pointer flip is the clear."""
        meta = lines.filter(F.col("line_no") == 0).select(
            F.trim(F.col("line")).cast("int").alias("n"), "graph")
        if write_graphs is None:
            # The graph set of a bulk ingest is known only after the
            # read (one small driver-side collect of catalog metadata —
            # graph NAMES, not data; one per commit, not per table).
            # Envelope: the manifest itself stores one entry per graph,
            # so a catalog is bounded by what a single JSON doc can hold
            # (~10^6 graphs) long before this collect matters; a larger
            # corpus belongs in fewer, bigger graphs or a partitioned
            # catalog, not a bigger manifest.
            write_graphs = [r["graph"] for r in
                            meta.select("graph").distinct().collect()]
        # The weighted melt is exactly the 0/1 edge set with w = 1 on
        # the reference's matrices (pinned by tests); a nonzero integer
        # cell generalizes to a weighted edge.
        edges = matrix_mod.melt_matrix_lines_weighted(lines)
        self._commit(self.snapshot(), "overwrite", write_graphs,
                     [[(edges, "edges")],
                      [(matrix_mod.matrix_vertices(lines), "vertices"),
                       (meta, "meta")]])

    # -- manifest commit log ----------------------------------------------

    def _publish(self, how: str | None = None, cid: str | None = None,
                 eff: int | None = None, graphs=(), *,
                 pinned: dict | None = None,
                 props: tuple[str, dict, str] | None = None,
                 txn: tuple[str, int] | None = None,
                 deltas: str | None = None, prune: bool = False,
                 keys=None) -> frozenset | None:
        """Publish one write's manifest by compare-and-swap, after all of
        its files have landed: the one routine that calls
        ``manifests.commit``, and for a data write called only by
        :meth:`_commit`. Its closure is re-applied to the newest manifest
        on a lost race, so two writers to different graphs both land
        (the multi-writer form of the reference's per-graph RW lock).
        Returns the graphs whose pointer moved, or None when nothing was
        published.

        ``how`` is the pointer discipline for ``graphs``:

        - ``"overwrite"``: point each graph at commit ``cid``
          (``add_graph`` and :meth:`_write`);
        - ``"flip"``: point a graph at ``cid`` only if its pointer is
          unchanged since the ``pinned`` manifest, so a write landing
          meanwhile keeps its newer pointer and the graph is left out
          of the result (copy-on-write ``merge_edges`` and
          ``set_vertex_props``, ``delete_vertices`` and ``compact``);
        - ``"extend"``: append ``cid`` to each graph's chain
          (``append_edges`` and the delta legs of ``merge_edges`` and
          ``set_vertex_props``); once published, the auto-compaction
          policy (:meth:`_auto_compact`) runs on ``graphs``.

        A data write publishes nothing when no pointer moves, and
        refuses a store whose layout is no longer ``eff``
        (:func:`_check_layout`). The parts only some writers have:

        - ``props=(table, batch_props, op)`` merges the batch's property
          schema into the newest manifest's (:func:`_merge_props`);
        - ``txn=(app, version)`` is the exactly-once check: a version
          at or below the recorded one publishes nothing;
        - ``deltas`` names the delta set (``"edeltas"`` or
          ``"vdeltas"``) that marks ``cid``;
        - ``prune`` keeps only the delta ids some chain still
          references (``compact``).

        Without ``how``, the write is metadata-only: ``keys(prev)``
        returns the manifest keys to replace, or None for a no-op
        (``declare_prop``, ``rename_prop``, ``drop_prop``,
        ``restore``). Every key not replaced carries forward through
        :func:`_next_manifest`: ``txns``, ``props``, ``vdeltas``,
        ``edeltas``, ``colmap`` and ``ptomb``."""
        moved: list[frozenset] = [frozenset()]

        def update(prev: dict | None) -> dict | None:
            if how is None:
                got = keys(prev)
                return None if got is None else _next_manifest(prev, **got)
            _check_layout(prev, eff)
            m = prev or {}
            pins = (pinned or {}).get("graphs", {})
            gmap = dict(m.get("graphs", {}))
            done = set()
            for g in graphs:
                chain = _cids(gmap[g]) if g in gmap else []
                if how == "extend":
                    if cid in chain:
                        continue
                    gmap[g] = chain + [cid]
                elif how == "overwrite" or gmap.get(g) == pins.get(g):
                    gmap[g] = cid
                else:
                    continue
                done.add(g)
            # the LAST invocation is the one that published
            moved[0] = frozenset(done)
            if not done:
                return None
            out = {"commit": cid, "graphs": gmap}
            if txn is not None:
                app, version = txn
                if m.get("txns", {}).get(app, -1) >= version:
                    return None
                out["txns"] = {**m.get("txns", {}), app: version}
            if props is not None and props[1]:
                table, batch, op = props
                out["props"] = {**m.get("props", {}), table: _merge_props(
                    m.get("props", {}).get(table, {}), batch, op,
                    _blocked_physicals(prev, table))}
            if deltas:
                out[deltas] = sorted(set(m.get(deltas, [])) | {cid})
            if prune:
                live = {c for ptr in gmap.values() for c in _cids(ptr)}
                for k in ("vdeltas", "edeltas"):
                    out[k] = sorted(set(m.get(k, [])) & live)
            return _next_manifest(prev, **out)

        if self.manifests.commit(update) is None:
            return None
        if how == "extend":
            self._auto_compact(graphs)
        return moved[0]

    # -- store maintenance -------------------------------------------------

    def compact(self, names: list[str] | None = None) -> None:
        """Rewrite the CURRENT state of ``names`` (default: every
        graph) into one fresh commit and point those graphs at it. A
        long-lived store accumulates one live commit per surviving
        write, and the all-graphs read unions one scan per live commit
        — compaction collapses that back to a single scan (the
        table-format maintenance op, like Iceberg rewrite); it is also
        what collapses merge-on-read delta chains back into plain
        rows. SELECTIVE compaction (``names``) is the operational form
        at a large catalog: rewriting 100 TB because one graph's chain
        grew long is not a maintenance op — target the delta-heavy /
        chain-heavy graphs (:meth:`chains` is that view) and
        leave the rest untouched, at O(named graphs) cost via the same
        partition-pruned reads every COW write uses. Snapshot-safe:
        readers pinned to older manifests are untouched until
        :meth:`vacuum`. Concurrency-safe: the publish only points a
        graph at the compacted copy if that graph's pointer is
        UNCHANGED since compaction pinned its snapshot — a write
        landing mid-compaction keeps its (newer) pointer instead of
        being reverted to the stale rewrite; when every pointer moved,
        nothing is published. Unknown ``names`` raise (a typo must not
        silently compact nothing)."""
        snap = self.snapshot()
        graphs = snap.graphs()
        if names is not None:
            unknown = sorted(set(names) - set(graphs))
            if unknown:
                raise ValueError(f"compact: unknown graphs {unknown}")
            graphs = sorted(set(names))
        if not graphs:
            return
        sel = graphs if names is not None else None
        frames = [
            # the weighted read normalizes legacy commits (no w
            # column) to w=1, so compaction also migrates them;
            # props=True carries the declared property columns;
            # both reads resolve merge-on-read deltas, so the
            # compacted commit holds plain merged rows
            (snap.weighted_edges(sel, props=True), "edges"),
            # distinct: an append chain written by concurrent
            # same-graph appenders can carry duplicate vertex rows
            # (each anti-joined against the same pre-append
            # snapshot); compaction is the heal point
            (snap.vertices(sel, props=True).distinct(), "vertices"),
            # meta needs a per-graph AGGREGATE, not distinct: two
            # concurrent appends that both CREATE a graph write
            # meta rows with different n (each derived from its own
            # batch against the same pre-append snapshot), and
            # distinct() would keep both forever. max preserves the
            # "n >= max vid at write time" bound both writers held.
            (snap._table("meta", "n int", sel)
             .groupBy("graph").agg(F.max("n").alias("n")), "meta"),
        ]
        # the compacted files were written under the pinned schema: a
        # column declared meanwhile NULL-backfills for this commit. The
        # delta sets are pruned to the ids some chain still references
        # (a graph written meanwhile keeps its chain and its deltas):
        # stale ids are harmless to reads, but the sets must not grow
        # forever, and compaction is the trim point
        self._commit(snap, "flip", graphs, [frames], prune=True)

    def restore(self, seq: int) -> None:
        """Roll the whole store BACK to the state of retained manifest
        ``seq``, published as a NEW commit — Delta's ``RESTORE TABLE …
        VERSION AS OF``. Metadata-only and O(1) data IO: the immutable
        commit dirs still hold the old rows, so restore re-points the
        graphs map (and the props schema + delta-marker sets) at them
        without moving a byte. History moves FORWARD — the restore is
        seq N+1 and the in-between states stay pinnable until
        :meth:`vacuum` — and vacuum stays safe because liveness is
        computed from retained manifests and the restore manifest is
        the newest. The exactly-once txn ledger carries from the
        CURRENT manifest, not the restored one: a streaming batch
        applied after ``seq`` stays recorded, so its replay after the
        restore still no-ops (re-appending it would silently
        double-apply data the restore was meant to erase — if re-play
        is wanted, it must be an explicit new version). Raises
        FileNotFoundError if ``seq`` was vacuumed. Concurrency:
        last-writer-wins by design (a restore IS a whole-store
        overwrite), but the publish is a CAS append so it never tears
        a concurrent writer's manifest."""
        old = self.manifests.load(seq)
        # colmap/ptomb restore WITH the props doc they qualify: a
        # restore to before a RENAME must read the old name again (and
        # losing colmap would NULL every renamed column)
        self._publish(keys=lambda prev: {
            k: old.get(k) for k in ("commit", "graphs", "props", "vdeltas",
                                    "edeltas", "colmap", "ptomb")})

    def vacuum(self, keep_last: int = 1, *,
               retain_hours: float | None = None,
               orphan_retention_s: float = 600.0,
               force: bool = False) -> int:
        """Delete manifests outside the newest-``keep_last`` retention
        window and every commit directory no retained manifest
        references; returns the number of commit dirs removed.
        ``keep_last`` is how time travel and space reclamation coexist:
        ``snapshot(seq=N)`` keeps working for the retained window, and
        DESTRUCTIVE only applies to snapshots pinned before it (the
        same contract as Delta's VACUUM retention period, expressed in
        versions instead of hours). Typical lifecycle: ``compact()``
        then ``vacuum()`` leaves exactly one live commit per table.
        Manifest deletion goes through the pluggable metadata store;
        dead commit dirs are removed through Hadoop's FileSystem API
        when the store path has a URI scheme (so vacuum works end to
        end on hdfs:// / file: / abfs:// stores) and plain local IO
        otherwise. Also reclaims ORPHANED commits — data dirs written
        by a writer that died before publishing its manifest.

        The in-flight-write footgun is ENFORCED, not documented: a
        commit dir an active writer is still filling is
        indistinguishable from an orphan, so unreferenced dirs younger
        than ``orphan_retention_s`` (default 10 min — same contract as
        Delta's VACUUM retention floor) are left alone. ``force=True``
        overrides the age gate when the caller KNOWS no write is in
        flight (tests, single-writer maintenance windows).

        ``retain_hours`` is Delta's TIME-BASED retention spelling
        (``VACUUM … RETAIN n HOURS``), possible since every manifest
        carries a publish ``ts`` (round 13): the retained window
        becomes the TRAILING manifests committed within the last ``n``
        hours (the newest always survives, so the store never loses
        its head; pre-stamping manifests — no ts — never extend the
        window). It overrides ``keep_last`` when given. Same
        in-flight-write safety as the version form — the choice only
        changes WHICH manifests are retained."""
        if retain_hours is not None:
            if retain_hours < 0:
                raise ValueError(
                    f"vacuum: retain_hours must be >= 0, got {retain_hours}")
            import json
            cutoff = time.time() - retain_hours * 3600
            k = 0
            for seq, name in reversed(self.manifests.names()):
                ts = json.loads(self.manifests.store.get(name)).get("ts")
                if ts is None or ts < cutoff:
                    break
                k += 1
            keep_last = max(1, k)
        live = self.manifests.vacuum(keep_last=keep_last)
        if force:
            # orphaned chunk blobs (CAS-race losers, writers that died
            # pre-publish) are indistinguishable from a mid-commit
            # writer's chunks, so — like fresh data dirs — they are
            # only swept when the caller KNOWS no write is in flight
            self.manifests.sweep_orphan_chunks()
        if not live:
            return 0
        now = time.time()
        removed = 0
        for table in ("edges", "vertices", "meta"):
            root = os.path.join(self.store, "data", table)
            for name, mtime, rm in self._list_commit_dirs(root):
                if not (name.startswith("c=") and name[2:] not in live):
                    continue
                if not force and now - mtime < orphan_retention_s:
                    continue  # possibly an in-flight write — retained
                rm()
                removed += 1
        return removed

    def _list_commit_dirs(self, root: str):
        """Yield ``(dir name, mtime epoch seconds, delete thunk)`` for
        each entry of a data table's root, via Hadoop FS for scheme
        paths or POSIX locally; a missing root (a graphless table)
        yields nothing."""
        import shutil

        if _path_scheme(self.store):
            fs, jpath = self._fs.fs, self._fs.Path(root)
            try:
                statuses = fs.listStatus(jpath)
            except Exception as exc:
                if metastore._is_java_file_not_found(exc):
                    return
                raise
            for st in statuses:
                p = st.getPath()
                yield (p.getName(), st.getModificationTime() / 1000.0,
                       (lambda p=p: fs.delete(p, True)))
        else:
            try:
                names = os.listdir(root)
            except FileNotFoundError:
                return
            for n in names:
                full = os.path.join(root, n)
                try:
                    mtime = os.path.getmtime(full)
                except OSError:
                    continue  # raced with another vacuum's delete
                yield n, mtime, (lambda full=full: shutil.rmtree(full))

    # -- catalog ----------------------------------------------------------

    def history(self) -> DataFrame:
        """Retained commit history as a small DataFrame ``(seq, commit,
        n_graphs, ts)``, ascending by seq — the store's DESCRIBE
        HISTORY twin, pairing with ``snapshot(seq=N)`` /
        ``seq_at(ts)`` time travel. ``ts`` is the publish-time epoch
        stamp (NULL for manifests written before stamping existed).
        Metadata-sized: one manifest read per retained seq through the
        pluggable store, no Spark job over data."""
        import json
        from concurrent.futures import ThreadPoolExecutor

        names = self.manifests.names()

        def fetch(item):
            seq, name = item
            doc = json.loads(self.manifests.store.get(name))
            # chunked roots carry n_graphs as metadata so history stays
            # one blob get per seq (never assembles the chunk set)
            return seq, doc.get("commit"), doc.get(
                "n_graphs", len(doc.get("graphs", {}))), doc.get("ts")

        # blob gets are IO-bound round trips (one per retained seq, so
        # remote stores pay latency × history depth if serial) — fan
        # them out on driver threads; order is restored by seq sort.
        if len(names) > 1:
            with ThreadPoolExecutor(max_workers=min(16, len(names))) as ex:
                rows = sorted(ex.map(fetch, names))
        else:
            rows = [fetch(i) for i in names]
        return _local_frame(
            self._fs, "seq long, commit string, n_graphs int, ts double",
            rows)

    def seq_at(self, ts: float) -> int:
        """The newest RETAINED manifest seq whose commit timestamp is
        ≤ ``ts`` — what ``TIMESTAMP AS OF`` resolves through (Delta's
        rule: a timestamp earlier than the oldest retained commit
        raises instead of silently pinning something newer). Manifests
        predating timestamp stamping are skipped (their publish time
        is unknown). Same IO shape as :meth:`history` — one blob get
        per retained seq — so the gets fan out on the same driver
        thread pool (remote stores pay latency × history depth if
        serial, and every SQL TIMESTAMP AS OF occurrence lands here);
        no early stop because clock skew across writers makes
        ts-ordering advisory (seq is the total order, ts is not
        guaranteed monotone in it)."""
        import json
        from concurrent.futures import ThreadPoolExecutor

        names = self.manifests.names()

        def fetch(item):
            seq, name = item
            return seq, json.loads(
                self.manifests.store.get(name)).get("ts")

        if len(names) > 1:
            with ThreadPoolExecutor(max_workers=min(16, len(names))) as ex:
                stamped = list(ex.map(fetch, names))
        else:
            stamped = [fetch(i) for i in names]
        best = None
        for seq, mts in stamped:
            if mts is not None and mts <= ts and \
                    (best is None or seq > best):
                best = seq
        if best is None:
            raise FileNotFoundError(
                f"no retained manifest committed at or before "
                f"timestamp {ts} (history starts later, or was "
                f"vacuumed)")
        return best

    def chains(self) -> DataFrame:
        """Per-graph chain statistics from the CURRENT manifest —
        ``(graph, chain_len, n_vdeltas, n_edeltas)`` — the maintenance
        view :meth:`compact`'s selective form plans from: long chains
        pay one scan per commit at read, delta-carrying chains
        additionally pay the latest-wins merge, and this view names
        exactly the graphs worth compacting. Pure manifest metadata
        (one driver pass over the graphs map, no Spark job over
        data)."""
        m = (self.snapshot().manifest) or {}
        vd = set(m.get("vdeltas", []))
        ed = set(m.get("edeltas", []))
        rows = [(g, len(chain),
                 sum(c in vd for c in chain),
                 sum(c in ed for c in chain))
                for g, ptr in m.get("graphs", {}).items()
                for chain in [_cids(ptr)]]
        return _local_frame(
            self._fs, "graph string, chain_len int, n_vdeltas int, "
                      "n_edeltas int", rows)

    def diff(self, seq_old: int, seq_new: int | None = None) -> DataFrame:
        """Row-level changes between two retained snapshots — the
        table-changes / CDC read (Delta ``table_changes`` twin):
        ``(graph, src, dst, old_w, new_w, change)`` with ``change`` in
        {'added', 'removed', 'updated'}, answered entirely from the two
        immutable manifests (no log replay). One full-outer join keyed
        (graph, src, dst); unchanged rows are filtered out, so the
        result is change-sized. Weights are COALESCEd to 0 on the
        absent side — unambiguous because append/merge ENFORCE w >= 1
        (_validated_weights) and the matrix ingest's nonzero cells are
        the edges. (A matrix ingested with NEGATIVE cells is the one
        exotic store diff can't encode; sssp rejects those graphs for
        the same reason.) Raises FileNotFoundError if either manifest
        was vacuumed."""
        old = (self.snapshot(seq_old).weighted_edges()
               .select("graph", "src", "dst", F.col("w").alias("old_w")))
        new = (self.snapshot(seq_new).weighted_edges()
               .select("graph", "src", "dst", F.col("w").alias("new_w")))
        return (new.join(old, ["graph", "src", "dst"], "full_outer")
                .filter(F.col("old_w").isNull() | F.col("new_w").isNull()
                        | (F.col("old_w") != F.col("new_w")))
                .select("graph", "src", "dst",
                        F.coalesce("old_w", F.lit(0)).cast("int").alias("old_w"),
                        F.coalesce("new_w", F.lit(0)).cast("int").alias("new_w"),
                        F.when(F.col("old_w").isNull(), "added")
                         .when(F.col("new_w").isNull(), "removed")
                         .otherwise("updated").alias("change")))

    def create_views(self, prefix: str = "gdb",
                     seq: int | None = None) -> GraphSnapshot:
        """Register the store as session temp views —
        ``<prefix>_edges`` (with weights), ``<prefix>_vertices``,
        ``<prefix>_meta`` — so the whole catalog is queryable with
        plain ``spark.sql``. The views are pinned to ONE snapshot
        (optionally a historical ``seq``): later writes don't shift
        results mid-query; re-call to refresh. Returns the pinned
        snapshot."""
        snap = self.snapshot(seq)
        # props-aware: a property-carrying store's declared edge/vertex
        # columns appear in the views; prop-less stores register the
        # identical 4-/2-column shapes as before
        snap.weighted_edges(props=True) \
            .createOrReplaceTempView(f"{prefix}_edges")
        snap.vertices(props=True) \
            .createOrReplaceTempView(f"{prefix}_vertices")
        snap.meta().createOrReplaceTempView(f"{prefix}_meta")
        return snap

    def find(self, pattern: str, name: str | None = None,
             weighted: bool = False,
             vertex_structs: bool = False) -> DataFrame:
        """GraphFrames-style motif matching over the stored edge sets
        (``operators/motif.py``; public ``find()`` API shape):
        ``"(a)-[e]->(b); (b)-[]->(c); !(a)-[]->(c)"`` → one row per
        binding with a ``graph`` column plus named vertices/edges.
        One call matches EVERY stored graph at once (every join keys
        on graph — matches never cross graphs); ``name`` restricts to
        one graph. ``weighted=True`` matches over the weighted edge
        set: named-edge structs gain the stored ``w`` AND any declared
        edge property columns, so bindings post-filter
        GraphFrames-style (``.filter("e.w > 2")``,
        ``.filter("e.kind = 'follows'")``). ``vertex_structs=True``
        returns each NAMED VERTEX as a struct of its vertex row
        (``vid`` plus declared vertex properties) — GraphFrames'
        exact output shape (``.filter("a.tag = 'hub'")``) — via one
        (graph, vid)-keyed join per named vertex; the default bare-vid
        shape stays join-free. Disconnected patterns are rejected up
        front (they would be cartesian products at graph scale)."""
        from graphdatabase_spark.operators import motif

        snap = self.snapshot()
        e = (snap.weighted_edges(name, props=True) if weighted
             else snap.edges(name).select("graph", "src", "dst"))
        out = motif.find(e, pattern)
        if vertex_structs:
            v = snap.vertices(name, props=True).distinct()
            vcols = [c for c in v.columns if c != "graph"]
            # join exactly the pattern's NAMED vertices, by name — the
            # explicit contract motif.named_vertices exposes, never an
            # inference from column dtypes (round-10 advice: a future
            # long-typed output column must not mis-join as a vertex)
            for col in motif.named_vertices(pattern):
                vv = v.select(
                    "graph", F.col("vid").cast("long").alias(col),
                    F.struct(*[F.col(c) for c in vcols])
                    .alias(f"__{col}_s"))
                # left join: a vid absent from the vertices table (an
                # inconsistent store) surfaces as a NULL struct rather
                # than silently dropping the binding
                out = (out.join(vv, ["graph", col], "left")
                       .withColumn(col, F.col(f"__{col}_s"))
                       .drop(f"__{col}_s"))
        return out

    def sql(self, text: str, prefix: str = "gdb") -> DataFrame | None:
        """The store drivable from SQL text alone: ``SELECT``/``WITH``
        read through a fresh pinned snapshot's views and return the
        DataFrame; ``INSERT INTO`` / ``MERGE INTO`` / ``DELETE FROM``
        on ``<prefix>_edges`` dispatch onto the commit-protocol
        writers and return None (operators/dml.py documents the
        supported grammar and fails loudly outside it)."""
        from graphdatabase_spark.operators import dml

        return dml.execute_sql(self, text, prefix)

    def snapshot(self, seq: int | None = None) -> GraphSnapshot:
        """Pin ONE consistent view of the whole store (every graph's
        edges + vertices + meta from the same manifest). Multi-table
        operations below always run inside a single snapshot — the
        reference's all-state-at-once RW lock, re-expressed as an
        immutable pointer read. ``seq`` pins a HISTORICAL manifest
        instead of the newest (time travel over the immutable commit
        dirs); raises FileNotFoundError if that manifest was vacuumed."""
        return GraphSnapshot(self.spark, self.store, self.manifests.load(seq),
                             self._fs)

    def graphs(self) -> list[str]:
        return self.snapshot().graphs()

    def edges(self, name: str | None = None) -> DataFrame:
        return self.snapshot().edges(name)

    def weighted_edges(self, name: str | None = None) -> DataFrame:
        return self.snapshot().weighted_edges(name)

    def vertices(self, name: str | None = None) -> DataFrame:
        return self.snapshot().vertices(name)

    # -- op 4: BFS level order -------------------------------------------

    def _int_frame(self, **cols: list[int]) -> DataFrame:
        """Driver-side int columns, nullable as a DDL ``int`` is, as an
        Arrow-backed local relation (:meth:`_StoreFs.frame`): collecting
        it runs no Spark job."""
        return self._fs.frame(
            pa.table({c: pa.array(v, pa.int32()) for c, v in cols.items()}),
            StructType([StructField(c, IntegerType()) for c in cols]))

    def bfs(self, name: str, start: int) -> DataFrame:
        """``(vertex, level)`` for every vertex reachable from
        ``start`` (1-indexed). Level-sets match the reference's own
        oracle (``utils/bfs_checker.py:75-76``); within-level order is
        unspecified, exactly as in the reference (SURVEY §2.2).

        A graph within the reference's envelope is read on the driver
        (:meth:`GraphSnapshot.local_edges`: its files fit
        ``LOCAL_READ_BYTES`` and hold at most ``LOCAL_EDGE_ROWS`` rows)
        and traversed there (``dfs_mod.canonical_bfs_levels``), with no
        Spark job. A larger graph runs the Pregel superstep loop
        (``pregel.bfs_levels``) over the Spark edge read of the same
        pinned snapshot. Both apply the same merge-on-read rule and give
        the same levels."""
        snap = self.snapshot()
        rows = snap.local_edges(name)
        if rows is None:
            levels = pregel.bfs_levels(snap.edges(name).select("src", "dst"),
                                       [start])
            return levels.select(F.col("vid").cast("int").alias("vertex"), "level")
        levels = dfs_mod.canonical_bfs_levels(dfs_mod.adjacency(rows), start)
        return self._int_frame(vertex=list(levels), level=list(levels.values()))

    def _catalog(self, ddl: str, run, name: str | None = None) -> DataFrame:
        """THE whole-catalog prologue. Pin one snapshot, list its graphs
        (only ``name`` when given) and hand both to ``run``, which builds
        the kernel. No graph, or ``run`` returning None (none takes
        part), answers the exact ``ddl`` schema with no Spark job, so
        ``ddl`` spells out the kernel's NOT NULL columns too. Otherwise
        ``ddl`` names and casts the kernel's columns by position."""
        snap = self.snapshot()
        graphs = [g for g in snap.graphs() if name in (None, g)]
        out = run(snap, graphs) if graphs else None
        if out is None:
            return _local_frame(self._fs, ddl)
        return out.select(*[F.col(c).cast(f.dataType).alias(f.name) for c, f
                            in zip(out.columns, StructType.fromDDL(ddl))])

    def _packed(self, ddl: str, kernel,
                ids: tuple[str, ...] = ("vid",)) -> DataFrame:
        """A per-graph-disjoint ``kernel(edges, vertices)`` over the
        packed union of every stored graph (:class:`_PackedIds`): the
        ``ids`` columns of its result are decoded and the rest pass
        through."""
        def run(snap: GraphSnapshot, graphs: list[str]) -> DataFrame:
            codec = _PackedIds.of(snap, graphs)
            return codec.unpack(kernel(codec.pack(snap.edges()),
                                       codec.pack(snap.vertices(), ("vid",))),
                                ids)
        return self._catalog(ddl, run)

    def bfs_all(self, start: int) -> DataFrame:
        """Batched op 4: ``(graph, vertex, level)`` from ``start`` for
        EVERY stored graph that contains the start vertex, in ONE
        superstep loop keyed by ``graph`` (the set-oriented form of the
        reference's one-graph-per-request serving — SURVEY §1.4's "a
        directory of graphs is one table"). Per-graph results are
        identical to :meth:`bfs` (pinned by tests over the reference
        fixture corpus)."""
        return self._catalog(
            "graph string, vertex int, level int NOT NULL",
            lambda snap, graphs: pregel.bfs_levels(*_participants(snap, start),
                                                   ["graph"]))

    def bfs_expr(self, from_expr: str, to_expr: str,
                 name: str | None = None,
                 max_hops: int = pregel.DEFAULT_MAX_ITERATIONS) -> DataFrame:
        """Expression-targeted BFS — the GraphFrames
        ``bfs(fromExpr, toExpr)`` surface over the stored graphs:
        ``from_expr`` / ``to_expr`` are SQL predicates over the VERTEX
        columns (``vid`` plus any declared vertex property columns).
        Returns ``(graph, vid, hops)``: per graph, the ``to_expr``-
        matching vertices at the MINIMAL multi-source BFS distance
        from the ``from_expr``-matching set (hops 0 when a vertex
        matches both — GraphFrames' length-0 paths), one row per
        nearest target; graphs where no source matches, or no target
        is reachable within ``max_hops``, contribute no rows.

        Set-oriented like the other store kernels: EVERY stored graph
        (or just ``name``) traverses in one superstep loop —
        ``pregel.bfs_levels`` keyed by ``graph`` seeds all matching
        sources at level 0, so "distance from the set" is exactly the
        level. The per-graph minimum is one map-side-combined agg + a
        self-join back — no window over the full level set."""
        def run(snap: GraphSnapshot, graphs: list[str]) -> DataFrame:
            # distinct: duplicated vertex rows (concurrent appends) must
            # not duplicate seeds or target rows
            verts = snap.vertices(name, props=True).distinct()
            starts = verts.filter(from_expr).select("graph", "vid")
            edges = (snap.edges(name).select("graph", "src", "dst")
                     .join(starts, "graph", "left_semi"))
            levels = pregel.bfs_levels(edges, starts, ["graph"], max_hops)
            targets = levels.join(
                verts.filter(to_expr).select("graph",
                                             F.col("vid").cast("long")),
                ["graph", "vid"])
            nearest = targets.groupBy("graph").agg(
                F.min("level").alias("level"))
            return (targets.join(nearest, ["graph", "level"])
                    .select("graph", "vid", "level"))
        return self._catalog("graph string, vid int, hops int NOT NULL", run, name)

    def shortest_paths(self, landmarks: list[int],
                       name: str | None = None,
                       max_hops: int = pregel.DEFAULT_MAX_ITERATIONS
                       ) -> DataFrame:
        """The GraphFrames ``shortestPaths(landmarks)`` surface:
        ``(graph, vid, landmark, hops)`` — the hop distance from every
        vertex TO each landmark it can reach (directed; unreachable
        (vertex, landmark) pairs contribute no row, GraphFrames'
        absent-map-entry). One keyed BFS answers ALL (graph, landmark)
        pairs at once: BFS from each landmark over the REVERSED edges
        (distance-to ≡ reversed distance-from), keyed by
        ``["graph", "lm"]`` so k landmarks are k independent traversals
        inside one superstep loop.

        Scale shape: edges replicate k× (k = landmarks, small by the
        API's own contract — GraphX's shortestPaths ships a k-entry
        map per vertex, the same factor) via a broadcast join against
        the (graph, landmark) pairs actually present; graphs lacking a
        landmark vid never enter that landmark's traversal. The
        landmark is a second grouping key — never packed into the
        graph-name string, so arbitrary graph names stay safe."""
        if not landmarks:
            raise ValueError("shortest_paths needs at least one landmark")

        def run(snap: GraphSnapshot, graphs: list[str]) -> DataFrame:
            vid = F.col("vid").cast("long")
            starts = (snap.vertices(name)
                      .filter(F.col("vid").isin(sorted({int(v) for v in landmarks})))
                      .select("graph", vid.alias("lm"), vid))
            rev = snap.edges(name).select(
                "graph", F.col("dst").alias("src"), F.col("src").alias("dst"))
            edges = rev.join(
                F.broadcast(starts.select("graph", "lm").distinct()), "graph")
            levels = pregel.bfs_levels(edges, starts, ["graph", "lm"],
                                       max_hops)
            return levels.select("graph", "vid", "lm", "level")
        return self._catalog(
            "graph string, vid int, landmark int, hops int NOT NULL", run, name)

    def triplets(self, name: str | None = None) -> DataFrame:
        """The GraphFrames ``triplets`` view: one row per stored edge
        as ``(graph, src, edge, dst)`` — ``src``/``dst`` are structs of
        the endpoint vertex row (``vid`` plus declared vertex
        properties), ``edge`` a struct of the edge row (``src``,
        ``dst``, ``w`` plus declared edge properties). Two
        (graph, vid)-keyed equi-joins of the vertex table against the
        edge table (broadcast or shuffle per AQE); the building block
        :meth:`aggregate_messages` sends over."""
        snap = self.snapshot()
        e = snap.weighted_edges(name, props=True)
        # distinct: concurrent same-graph appends can duplicate a
        # (graph, vid) vertex row (each anti-joined against the same
        # pre-append snapshot; compaction is the heal point) — an
        # undeduped endpoint join would multiply triplets and corrupt
        # every aggregate built on them
        v = snap.vertices(name, props=True).distinct()
        ecols = [c for c in e.columns if c != "graph"]
        return _triplets(e.select("graph", "src", "dst", F.struct(
            *[F.col(c) for c in ecols]).alias("edge")), v)

    def aggregate_messages(self, agg: str,
                           send_to_src: str | None = None,
                           send_to_dst: str | None = None,
                           name: str | None = None) -> DataFrame:
        """The GraphFrames ``aggregateMessages`` surface: one round of
        message passing over the TRIPLET view. ``send_to_src`` /
        ``send_to_dst`` are SQL expressions over the triplet columns —
        ``src`` and ``dst`` are structs of the endpoint vertex row
        (``vid`` plus declared vertex properties), ``edge`` is a
        struct of the edge row (``src``, ``dst``, ``w`` plus declared
        edge properties) — each producing the message that edge sends
        to its source/destination vertex. ``agg`` is an aggregate SQL
        expression over the received messages, exposed as the column
        ``msg`` (e.g. ``"sum(msg)"``, ``"count(msg)"``,
        ``"max(msg)"``). Returns ``(graph, vid, agg_value)``; vertices
        receiving no message contribute no row (GraphFrames'
        semantics).

        Scale shape: the triplet view is two (graph, vid)-keyed equi-
        joins of the vertex table against the edge table (broadcast or
        shuffle per AQE), the send legs are projections, and the
        aggregation is one map-side-combined groupBy — no driver
        loops, no UDFs."""
        if send_to_src is None and send_to_dst is None:
            raise ValueError("aggregate_messages: provide send_to_src "
                             "and/or send_to_dst")
        return _messages(self.triplets(name), agg, send_to_src, send_to_dst,
                         "agg_value")

    def dfs_leaves(self, name: str, start: int) -> DataFrame:
        """Deterministic canonical-DFS respec of the reference's racy
        concurrent DFS (SURVEY §2.1 A2-3): ``(leaf)``, 1-indexed.

        The graph's edges are traversed on the driver
        (``dfs_mod.canonical_dfs_leaves``). A graph within the
        reference's envelope is read there too, with no Spark job
        (:meth:`GraphSnapshot.local_edges`); a larger one is collected
        from the Spark edge read of the same pinned snapshot. DFS is
        sequential, so one process holds the whole graph whatever its
        size; a graph over ``dfs_mod.MAX_DFS_VERTICES`` source vertices
        raises. The batched :meth:`dfs_leaves_all` runs one
        ``applyInPandas`` group per graph instead."""
        snap = self.snapshot()
        rows = snap.local_edges(name)
        if rows is None:
            rows = snap.edges(name).select("src", "dst").collect()
        adj = dfs_mod.adjacency(rows)
        dfs_mod.check_dfs_envelope(name, adj)
        return self._int_frame(leaf=dfs_mod.canonical_dfs_leaves(adj, start))

    def dfs_leaves_all(self, start: int) -> DataFrame:
        """Batched op 3: ``(graph, leaf)`` from ``start`` for EVERY
        stored graph containing the start vertex — the DFS kernel is
        already group-per-graph (one ``applyInPandas`` group each), so
        the whole store traverses in one job. Per-graph results equal
        :meth:`dfs_leaves` (pinned by tests)."""
        def run(snap: GraphSnapshot, graphs: list[str]) -> DataFrame:
            edges, starts = _participants(snap, start)
            return dfs_mod.dfs_leaves(edges,
                                      starts.withColumnRenamed("vid", "start"))
        return self._catalog("graph string, leaf int", run)

    def stats(self) -> DataFrame:
        """Catalog statistics for every stored graph in one pass:
        ``(graph, n_vertices, n_edges, max_out_degree)`` — the numbers
        a planner (or an operator like the k-core broadcast gate) asks
        before choosing a strategy. Two map-side-combined aggregates
        over the store tables + broadcast-able joins against the meta
        graph list, so an EMPTY graph (zero vertex rows) still reports
        0/0/0 instead of vanishing from the aggregate."""
        snap = self.snapshot()  # one consistent view across all tables
        base = snap.meta().select("graph").distinct()
        v = (snap.vertices().groupBy("graph")
             .agg(F.count(F.lit(1)).alias("n_vertices")))
        deg = (snap.edges().groupBy("graph", "src")
               .agg(F.count(F.lit(1)).alias("d")))
        e = (deg.groupBy("graph")
             .agg(F.sum("d").alias("n_edges"), F.max("d").alias("max_out_degree")))
        return (base.join(v, "graph", "left").join(e, "graph", "left")
                .select("graph",
                        F.coalesce("n_vertices", F.lit(0)).cast("long").alias("n_vertices"),
                        F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
                        F.coalesce("max_out_degree", F.lit(0)).cast("long")
                        .alias("max_out_degree")))

    # -- derived analytics --------------------------------------------------

    def reachable(self, name: str, start: int) -> DataFrame:
        """``(vertex)`` reachable from ``start``: :meth:`bfs` without
        the levels."""
        return self.bfs(name, start).select("vertex")

    def degrees(self, name: str) -> DataFrame:
        return graph_algos.degrees(self.edges(name).select("src", "dst"))

    def connected_components(self, name: str) -> DataFrame:
        snap = self.snapshot()
        return pregel.connected_components(
            snap.edges(name).select("src", "dst"),
            snap.vertices(name).select("vid"))

    def scc(self, name: str,
            max_iterations: int = pregel.DEFAULT_MAX_ITERATIONS) -> DataFrame:
        """``(vid, scc)`` strongly connected components of one stored
        graph, honoring edge DIRECTION (the store accepts asymmetric
        adjacency matrices — the reference's G2 fixture — and
        :meth:`connected_components` deliberately symmetrizes; this is
        the directed analogue). The kernel fails loudly if the coloring
        fixpoint needs more than ``max_iterations`` supersteps (e.g. a
        directed cycle longer than the bound) — pass a larger bound
        then; truncation would be wrong, not approximate."""
        snap = self.snapshot()
        return pregel.strongly_connected_components(
            snap.edges(name).select("src", "dst"),
            snap.vertices(name).select("vid"),
            max_iterations=max_iterations)


    def scc_all(self,
                max_iterations: int = pregel.DEFAULT_MAX_ITERATIONS) -> DataFrame:
        """Batched SCC: ``(graph, vid, scc)`` for EVERY stored graph in
        ONE kernel run over the packed union (:class:`_PackedIds`); the
        min-member labels decode back to per-graph vids. Per-graph
        results equal :meth:`scc` (pinned by tests)."""
        return self._packed(
            "graph string, vid int, scc int",
            lambda e, v: pregel.strongly_connected_components(
                e, v, max_iterations=max_iterations), ("vid", "scc"))

    def cc_all(self,
               max_iterations: int = pregel.DEFAULT_MAX_ITERATIONS) -> DataFrame:
        """Batched connected components: ``(graph, vid, component)``
        for EVERY stored graph (viewed undirected, like
        :meth:`connected_components`) in ONE large-star/small-star run
        over the packed union: one O(log n) contraction, not one run per
        graph. Per-graph results equal the per-graph kernel (pinned by
        tests)."""
        return self._packed(
            "graph string, vid int, component int",
            lambda e, v: pregel.connected_components(
                e, v, max_iterations=max_iterations), ("vid", "component"))

    def pagerank_all(self, iterations: int = 10) -> DataFrame:
        """Batched PageRank: ``(graph, vid, rank)`` for EVERY stored
        graph in ONE superstep loop keyed by ``graph``
        (:func:`pregel.pagerank` with ``keys=["graph"]``), with
        per-graph semantics equal to :meth:`pagerank` (pinned by
        tests). PageRank CANNOT run on the packed disjoint union —
        teleport and dangling mass would leak across graphs — so the
        loop keeps those terms per key."""
        return self._pagerank_all(iterations, None)

    def pagerank_all_quantized(self, iterations: int = 10,
                               scale: int = 10**9) -> DataFrame:
        """Batched bit-exact PageRank: ``(graph, vid, rank_q)`` for
        EVERY stored graph, the same loop as :meth:`pagerank_all` in
        scaled-int64 arithmetic (``rank_q ≈ rank * scale``; damping the
        exact rational 85/100). Unlike the float form, the whole-store
        output is deterministic across partitionings and engines, so it
        can be oracle-checked."""
        return self._pagerank_all(iterations, scale)

    def _pagerank_all(self, iterations: int, scale: int | None) -> DataFrame:
        rank = "rank double" if scale is None else "rank_q long"
        return self._catalog(
            f"graph string, vid int, {rank}",
            lambda snap, graphs: pregel.pagerank(
                snap.edges().select("graph", "src", "dst"),
                snap.vertices().select("graph", "vid"), ["graph"],
                iterations=iterations, scale=scale))

    def sssp(self, name: str, start: int) -> DataFrame:
        """``(vertex, dist)`` weighted single-source shortest paths
        over one STORED graph, using the integer weights of the
        generalized matrix ingest (cell value = weight; plain 0/1
        matrices give hop counts). Rejects negative weights up front —
        the relaxation kernel assumes non-negativity, and on a cyclic
        graph a negative weight would silently converge to the
        iteration bound instead of a meaningful distance."""
        we = _nonnegative(self.weighted_edges(name).select(
            "src", "dst", F.col("w").alias("weight")), f"graph {name!r}")
        out = pregel.sssp_weighted(we, [start])
        return out.select(F.col("vid").cast("int").alias("vertex"), "dist")

    def sssp_all(self, start: int,
                 max_iterations: int = pregel.DEFAULT_MAX_ITERATIONS) -> DataFrame:
        """Batched weighted SSSP: ``(graph, vertex, dist)`` from
        ``start`` for EVERY stored graph containing the start vertex,
        in ONE relaxation loop over the packed union of those graphs,
        seeded at ``start`` in each. Per-graph results equal
        :meth:`sssp` (pinned by tests); weights are validated
        non-negative in one scan, mirroring the single-graph facade."""
        def run(snap: GraphSnapshot, graphs: list[str]) -> DataFrame | None:
            _, starts = _participants(snap, start)
            graphs = sorted(r["graph"] for r in starts.select("graph").collect())
            if not graphs:
                return None
            codec = _PackedIds.of(snap, graphs)
            we = _nonnegative(codec.pack(snap.weighted_edges()).select(
                "src", "dst", F.col("w").cast("double").alias("weight")),
                "a stored graph")
            return codec.unpack(pregel.sssp_weighted(
                we, codec.seeds(start), max_iterations=max_iterations))
        return self._catalog("graph string, vertex int, dist double", run)

    def pagerank(self, name: str, iterations: int = 10) -> DataFrame:
        """``(vid, rank)`` over one stored graph (float API; the
        registry's oracle-checked path is the quantized variant)."""
        snap = self.snapshot()
        return pregel.pagerank(snap.edges(name).select("src", "dst"),
                               snap.vertices(name).select("vid"),
                               iterations=iterations)

    def label_propagation(self, name: str, iterations: int = 4) -> DataFrame:
        """``(vid, label)`` deterministic synchronous label propagation
        over one stored graph (GraphX ``LabelPropagation`` parity;
        fixed iteration count, total-ordered tie-break — the same
        kernel the registry's oracle-checked derived-graph query uses,
        pregel.label_propagation)."""
        snap = self.snapshot()
        out = pregel.label_propagation(
            snap.edges(name).select("src", "dst"),
            snap.vertices(name).select("vid"), iterations=iterations)
        return out.select(F.col("vid").cast("int").alias("vid"),
                          F.col("label").cast("int").alias("label"))

    def personalized_pagerank(self, name: str, sources: list[int],
                              iterations: int = 10) -> DataFrame:
        """``(vid, rank_q)`` personalized PageRank over one stored
        graph in scaled-int64 arithmetic (bit-exact; total mass
        ``len(sources) * 10^9``): teleport and dangling mass return to
        the source set, so ranks measure proximity to ``sources``.
        Raises if any source vertex is absent from the graph."""
        snap = self.snapshot()
        return pregel.pagerank(
            snap.edges(name).select("src", "dst"),
            snap.vertices(name).select("vid"), iterations=iterations,
            scale=10**9, sources=sources) \
            .select(F.col("vid").cast("int").alias("vid"), "rank_q")

    def triangle_count(self, name: str) -> DataFrame:
        """Triangle count of the stored graph viewed as undirected."""
        return graph_algos.triangle_count(_canonical_undirected(self.edges(name)))

    def triangle_count_all(self) -> DataFrame:
        """Batched triangle counting: ``(graph, n_triangles)`` for
        EVERY stored graph in ONE compact-forward kernel run over the
        packed union: a triangle's three corners always share a graph,
        and degree-ordering ties break by packed id, which within a
        graph is its vid order, so per-graph counts equal
        :meth:`triangle_count` exactly. Graphs with no triangles
        (including the empty graph) report 0, like :meth:`stats` — a
        missing row is indistinguishable from a lost graph."""
        def run(snap: GraphSnapshot, graphs: list[str]) -> DataFrame:
            codec = _PackedIds.of(snap, graphs)
            per_edge = graph_algos.edge_triangles(
                _canonical_undirected(codec.pack(snap.edges())))
            counts = (codec.unpack(per_edge, ("u",))
                      .groupBy("graph").agg(F.sum("c").alias("n")))
            return (codec.index.join(counts, "graph", "left")
                    .select("graph", F.coalesce("n", F.lit(0))))
        return self._catalog("graph string, n_triangles long NOT NULL", run)

    def clustering_coefficient(self, name: str) -> DataFrame:
        """``(vid, deg, n_tri, coeff)`` local clustering coefficients
        of the stored graph viewed as undirected."""
        return graph_algos.clustering_coefficient(_canonical_undirected(self.edges(name)))

    def k_core(self, name: str, k: int) -> DataFrame:
        """``(vid, core_deg)`` of the stored graph's k-core (undirected
        degrees; iterative peeling)."""
        return graph_algos.k_core(_canonical_undirected(self.edges(name)), k)

    def kcore_all(self, k: int,
                  max_rounds: int = graph_algos.KCORE_MAX_ROUNDS) -> DataFrame:
        """Batched k-core: ``(graph, vid, core_deg)`` for EVERY stored
        graph's k-core in ONE peeling loop over the packed union. A
        vertex's removal round depends only on its own graph's degrees
        and the whole-store round count is the MAX of the per-graph
        ones, so per-graph results equal :meth:`k_core` exactly (pinned
        by tests). Graphs whose k-core is empty contribute no rows —
        same contract as the per-graph form."""
        return self._packed(
            "graph string, vid int, core_deg long NOT NULL",
            lambda e, v: graph_algos.k_core(_canonical_undirected(e), k,
                                            max_rounds=max_rounds))

    def clustering_all(self) -> DataFrame:
        """Batched local clustering coefficients: ``(graph, vid, deg,
        n_tri, coeff)`` for EVERY stored graph viewed undirected, in
        ONE compact-forward kernel run over the packed union. Triangles
        and degrees stay within a graph and degree-order ties break by
        in-graph vid order, so per-graph results equal
        :meth:`clustering_coefficient` exactly (pinned by tests).
        Vertices with no incident edges have no rows — same contract as
        the per-graph form."""
        return self._packed(
            "graph string, vid int, deg long NOT NULL, n_tri long NOT NULL, "
            "coeff double",
            lambda e, v: graph_algos.clustering_coefficient(
                _canonical_undirected(e)))

    def label_propagation_all(self, iterations: int = 4) -> DataFrame:
        """Batched deterministic label propagation: ``(graph, vid,
        label)`` for EVERY stored graph in ONE synchronous LPA run over
        the packed union. Neighbor label frequencies never cross graphs
        and the ties-to-smallest-label rule is translation-invariant
        within a graph, so per-graph results equal
        :meth:`label_propagation` exactly (pinned by tests)."""
        return self._packed(
            "graph string, vid int, label int",
            lambda e, v: pregel.label_propagation(e, v, iterations=iterations),
            ("vid", "label"))

    # -- Assignment1 surface ----------------------------------------------

    def ping(self) -> str:
        """A1 op '1' (``server.c:54-82``) as a real liveness probe: one
        trivial distributed job, then the literal reply."""
        self.spark.range(1).count()
        return "Hello"

    @staticmethod
    def file_search(docs: DataFrame, name: str) -> bool:
        """A1 op '2' (``server.c:88-172``): does a document with this
        source name exist? Predicate over the catalog, pushed to scan."""
        return not docs.filter(F.col("source") == name).isEmpty()

    @staticmethod
    def word_count(docs: DataFrame, doc_id: int) -> int:
        """A1 op '3' (``server.c:179-252``, `wc -w`): token count of one
        document."""
        rows = docs.filter(F.col("doc_id") == doc_id) \
            .select(F.size(tokens_col("text")).alias("n")).collect()
        # n is NULL (not 0) for a NULL text under sizeOfNull=false —
        # a null document counts as zero words, like `wc -w` on nothing.
        return int(rows[0]["n"]) if rows and rows[0]["n"] is not None else 0

    # -- op 5: terminate ----------------------------------------------------

    def shutdown(self) -> None:
        """Op 5 (``load_balancer.c:50-117``): Spark already waits for
        in-flight jobs; no message broadcast or semaphore teardown to
        mirror. Shared operator caches are released first so a
        long-lived session that stops this engine frees its storage
        memory."""
        cache.release_caches()
        self.spark.stop()

    def pregel(self, vertex_col: str, initial_expr: str, agg_expr: str,
               update_expr: str, send_to_src: str | None = None,
               send_to_dst: str | None = None, max_iter: int = 10,
               name: str | None = None,
               until_converged: bool = False) -> DataFrame:
        """The GraphFrames ``lib.Pregel`` surface: iterated
        ``aggregateMessages`` with a user-defined vertex state column.
        Each vertex starts with ``vertex_col = initial_expr``
        (evaluated over its vertex row — ``vid`` plus declared
        properties). Every superstep: ``send_to_src``/``send_to_dst``
        (expressions over the triplet structs ``src``/``dst``/``edge``,
        which SEE the current ``vertex_col`` inside ``src``/``dst``)
        produce messages; ``agg_expr`` aggregates them per vertex as
        the column ``msg`` (NULL for vertices receiving none, like
        GraphFrames' Pregel.msg); ``update_expr`` computes the next
        state from the vertex row and ``msg``. Returns the vertex
        frame ``(graph, vid[, *props], <vertex_col>)`` after
        ``max_iter`` supersteps, every stored graph at once (or just
        ``name``).

        The loop is driver-side like every kernel here: one
        (graph, vid)-keyed join round trip per superstep over edges
        persisted once, states checkpointed per round so lineage
        stays flat (the §4.2 iterative-plan discipline; under
        ``pregel.reliable_checkpoints`` every K-th round lands on
        reliable storage, surviving executor loss).

        ``until_converged=True`` (GraphFrames' early-stopping knob)
        additionally stops as soon as a superstep changes NO vertex's
        state — a fixpoint algorithm (components, max/min propagation,
        frontier-less reachability) then pays only diameter-many
        rounds instead of always burning ``max_iter``. Costs one
        metadata-cheap comparison job per superstep (the two state
        frames are both checkpointed, so the anti-join reads
        materialized blocks); leave it off for fixed-iteration
        algorithms like PageRank where every round matters. Only the
        STATE column is compared (property columns can hold
        non-comparable types like maps and never change mid-loop)."""
        if send_to_src is None and send_to_dst is None:
            raise ValueError("pregel: provide send_to_src and/or "
                             "send_to_dst")
        if vertex_col.lower() in _RESERVED_COLS | {"msg"}:
            raise ValueError(f"pregel: vertex_col {vertex_col!r} collides "
                             f"with a reserved column")
        snap = self.snapshot()
        declared = {c.lower() for c in snap.props.get("vertices", {})}
        if vertex_col.lower() in declared:
            raise ValueError(
                f"pregel: vertex_col {vertex_col!r} collides with a "
                f"declared vertex property — pick a fresh state name")
        if "msg" in declared:
            raise ValueError(
                "pregel: the store declares a vertex property named "
                "'msg', which collides with the aggregated-message "
                "column this loop joins in — rename the property")
        e = snap.weighted_edges(name, props=True)
        ecols = [c for c in e.columns if c != "graph"]
        e = (e.withColumn("edge",
                          F.struct(*[F.col(c) for c in ecols]))
             .select("graph", "src", "dst", "edge")
             .repartition("graph", "src").persist())
        v = (snap.vertices(name, props=True).distinct()
             .withColumn(vertex_col, F.expr(initial_expr))
             .transform(pregel._ckpt))
        if until_converged:
            # fail fast, not deep in superstep k: the fixpoint test
            # set-compares the state column, and Spark set operations
            # reject non-comparable types (maps) with an opaque
            # AnalysisException mid-loop
            state_type = v.schema[vertex_col].dataType
            if _contains_map_type(state_type):
                raise ValueError(
                    f"pregel: until_converged=True requires a "
                    f"comparable vertex state, but {vertex_col!r} has "
                    f"type {state_type.simpleString()} (maps are not "
                    f"comparable in Spark set operations) — use a "
                    f"sorted array/struct encoding or until_converged="
                    f"False with a fixed max_iter")
        vcols = [c for c in v.columns if c != "graph"]
        try:
            for _ in range(max_iter):
                msgs = _messages(_triplets(e, v), agg_expr, send_to_src,
                                 send_to_dst, "msg")
                nxt = (v.join(msgs, ["graph", "vid"], "left")
                       .withColumn(vertex_col, F.expr(update_expr))
                       .drop("msg")
                       .select("graph", *vcols)
                       .transform(pregel._ckpt))
                if until_converged:
                    state = ["graph", "vid", vertex_col]
                    if (nxt.select(*state).exceptAll(v.select(*state))
                            .isEmpty()):
                        v = nxt
                        break
                v = nxt
        finally:
            # unpersist even when a user expression fails mid-loop —
            # otherwise the repartitioned edge frame stays cached for
            # the rest of the session
            e.unpersist()
        return v
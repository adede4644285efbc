"""SparkSession construction with scale-oriented defaults.

The defaults below are chosen for the 100 TB design point and are safe
on local[N]:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion after runtime stats);
- Arrow transfer on (every Pandas UDF / applyInPandas path is
  Arrow-batched, never row-at-a-time pickling);
- UTC session timezone (deterministic timestamp semantics across
  engines — the DuckDB oracle reads the same parquet as naive UTC);
- shuffle partition count from the environment so the same code runs
  local[32] (32 partitions) and on a 1000-executor cluster (set it to
  2-3x total cores, or rely on AQE coalescing from a high initial
  value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # local[N] runs driver+executors in ONE JVM whose default heap is
    # 1g — far too small for 32 concurrent task threads. On a real
    # cluster this is spark.executor.memory instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Without this, any plan under .persist()/.cache() loses AQE
    # partition coalescing (kept off by default only for cached-plan
    # partitioning compatibility): the iterative graph kernels and the
    # session-shared index materializations would then run every stage
    # at the full configured partition count regardless of data size —
    # measured 7x on the triangle kernel under default confs.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # 10m default is conservative for modern executor memory; 64m lets
    # AQE broadcast mid-size dimension/adjacency tables and skip full
    # shuffles (e.g. triangle counting's per-vertex adjacency arrays).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet writers: zstd is the right default at 100 TB (better ratio
    # than snappy at similar decode speed on modern CPUs).
    "spark.sql.parquet.compression.codec": "zstd",
    # Keep plans readable in tests; AQE still coalesces down.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # The iterative (Pregel) operators checkpoint to truncate lineage.
    "spark.checkpoint.compress": "true",
    # Dozens of distinct queries per session generate a lot of
    # whole-stage-codegen classes; the JVM default 240m code cache can
    # fill and silently disable the JIT for everything after.
    # NewRatio=2 fixes G1's young generation at a third of the heap.
    # Left adaptive, eden grows toward 60% of the heap in bursts, so how
    # much of a fixed heap the driver has touched (its resident size)
    # depends on when the last burst fell. On a 4-core VM with a 2 GB
    # heap, the JVM's peak RSS over 8 s runs of perfbench's churn spread
    # 1987-2345 MB adaptive (9 runs) and 2058-2117 MB fixed (10 runs).
    "spark.driver.extraJavaOptions":
        "-XX:ReservedCodeCacheSize=512m -XX:NewRatio=2",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "graphdatabase-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""Benchmark of graphdatabase_spark's named-graph request path.

Usage, from the root of a source checkout (nothing needs installing):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Workloads (see workloads.py and design.md): ``serve`` and ``churn``.
A run starts one Spark session at ``local[<cpus>]`` through the
program's own ``get_spark``, builds the workload's 100-graph store
three times (set-up time is the median build), warms every request
kind up on the first store, then runs the closed loop on the last one
for ``--seconds``. Every request's output is checked against a shadow
model. ``--trace 1`` additionally replays the same schedule on the
second store with one Spark job group per request and the event log
on, and reports per-layer costs plus the tracing overhead instead of
the end-to-end metrics.

All files (inputs, stores, Spark scratch space, the event log) live
under ``.perfbench_work/`` in the checkout and are removed at exit.
The last line of standard output is the JSON result; the line before
it is a fuller report with sample counts.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = ".perfbench_work"
STORE_BUILDS = 3
DRIVER_MEMORY = "2g"

# Gated end-to-end metrics: (name, unit). Every kept workload reports
# each of them.
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
)


def _median(values):
    return statistics.median(values) if values else None


def _percentile(values, q: float):
    """Nearest-rank percentile, ``None`` without samples."""
    if not values:
        return None
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tree_size(path: str) -> tuple[int, int]:
    """``(bytes, files)`` under ``path``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class Session:
    """The program's Spark session, with every scratch path inside the
    run's work directory and the Python workers able to import the
    program from this checkout."""

    def __init__(self, work: str, app: str, event_log: str | None):
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        from graphdatabase_spark import get_spark, session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                session.DEFAULT_CONF["spark.driver.extraJavaOptions"]
                # a fixed-size heap: resizing it mid-run is noise
                + f" -Xms{DRIVER_MEMORY} -XX:-UsePerfData"
                + f" -Djava.io.tmpdir={tmp}",
        }
        if event_log:
            os.makedirs(event_log)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file:" + event_log
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark(app, extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self._jvm = self.sc._gateway.proc

    def peak_rss_mb(self) -> float:
        """High-water resident memory of this process plus its JVM."""
        return (_vm_hwm_kb("self") + _vm_hwm_kb(self._jvm.pid)) / 1024.0

    def stop(self) -> None:
        """Stop Spark and wait until the JVM (and with it the Python
        workers it forked) has exited."""
        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        with contextlib.suppress(OSError):
            self._jvm.stdin.close()  # the JVM exits on stdin EOF
        try:
            self._jvm.wait(timeout=60)
        except Exception:
            self._jvm.kill()
            self._jvm.wait()


def summarize(records: list[tuple]) -> dict:
    """End-to-end figures of one measured phase, with sample counts."""
    lat = [t1 - t0 for _c, _k, t0, t1, _ok, _s in records]
    by_kind: dict[str, list[float]] = {}
    busy: dict[int, list[float]] = {}
    for client, kind, t0, t1, _ok, _s in records:
        by_kind.setdefault(kind, []).append(t1 - t0)
        busy.setdefault(client, []).append(t1 - t0)
    out = {
        # each closed-loop client's completed requests over its time in
        # them, summed: the wall-clock rate without the noise of where
        # the requests in flight at the deadline happen to end
        "ops_per_s": (sum(len(v) / sum(v) for v in busy.values()), "1/s",
                      len(records)),
        "request_p50_s": (_median(lat), "s", len(lat)),
        "request_p90_s": (_percentile(lat, 0.9), "s", len(lat)),
        "failed_ratio": (sum(not r[4] for r in records) / max(1, len(records)),
                         "ratio", len(records)),
    }
    for kind in ("bfs", "dfs_leaves", "modify", "append", "merge"):
        if kind in by_kind:
            out[f"{kind}_p50_s"] = (_median(by_kind[kind]), "s",
                                    len(by_kind[kind]))
    return out


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.attempted = self.failed = 0

    def _count(self, records) -> None:
        self.attempted += len(records)
        self.failed += sum(not r[4] for r in records)

    def _build_store(self, index: int):
        """One set-up: generate the seeded inputs and ingest them into a
        fresh store. Returns the engine and its build time."""
        from graphdatabase_spark.engine import GraphEngine

        import workloads as wl

        t0 = time.perf_counter()
        catalog = wl.make_catalog(self.seed)
        inputs = os.path.join(self.work, f"inputs-{index}")
        wl.write_catalog(catalog, inputs)
        engine = GraphEngine(self.spark,
                             os.path.join(self.work, f"store-{index}"))
        engine.ingest_dir(inputs)
        took = time.perf_counter() - t0
        shutil.rmtree(inputs)
        wl.configure_engine(self.workload, engine)
        return engine, took, catalog

    def _phase(self, engine, catalog, tracer=None):
        import workloads as wl

        executor = wl.Executor(self.spark, engine, wl.Shadow(catalog), tracer)
        streams = wl.schedules(self.workload, self.seed, catalog)
        wl.closed_loop(executor, streams, self.seconds)
        self._count(executor.records)
        return executor

    def run(self) -> tuple[dict, dict]:
        import workloads as wl

        t0 = time.perf_counter()
        events = os.path.join(self.work, "events") if self.trace else None
        session = Session(self.work, f"perfbench-{self.workload}", events)
        self.spark = session.spark
        try:
            session_s = time.perf_counter() - t0
            builds = [self._build_store(i) for i in range(STORE_BUILDS)]
            build_s = [b[1] for b in builds]
            catalog = builds[0][2]

            t0 = time.perf_counter()
            warm = wl.Executor(self.spark, builds[0][0], wl.Shadow(catalog))
            wl.warm_up(warm, wl.schedules(self.workload, f"{self.seed}:warm",
                                          catalog)[0])
            self._count(warm.records)
            warm_s = time.perf_counter() - t0
            setup_s = session_s + statistics.median(build_s) + warm_s

            plain = self._phase(builds[-1][0], catalog)
            e2e = summarize(plain.records)
            e2e["setup_s"] = (setup_s, "s", STORE_BUILDS)

            layers = spans = None
            if self.trace:
                layers, spans = self._traced(builds[1][0], catalog, e2e)
            e2e["peak_rss_mb"] = (session.peak_rss_mb(), "MB", 1)
        finally:
            session.stop()
        if layers is not None:
            layers.update(_spark_layers(events, spans))

        report = {
            "workload": self.workload, "seed": self.seed,
            "seconds": self.seconds, "trace": int(self.trace),
            "set_up": {"session_s": session_s, "store_build_s": build_s,
                       "warm_up_s": warm_s},
            "end_to_end": {k: {"value": v, "unit": u, "samples": n}
                           for k, (v, u, n) in sorted(e2e.items())},
        }
        if layers is None:
            metrics = {name: {"value": e2e[name][0], "unit": unit}
                       for name, unit in END_TO_END}
        else:
            report["per_layer"] = {k: {"value": v, "unit": u}
                                   for k, (v, u) in sorted(layers.items())}
            metrics = report["per_layer"]
        result = {"correct": self.failed == 0, "attempted": self.attempted,
                  "failed": self.failed, "metrics": metrics}
        return report, result

    def _traced(self, engine, catalog, e2e: dict) -> tuple[dict, list]:
        """The same schedule on an identically built store, traced;
        returns the metadata-layer metrics and the request spans."""
        import tracing
        import workloads as wl

        store = engine.store
        data0 = _tree_size(os.path.join(store, "data"))
        files0 = _tree_size(store)[1]
        seq0 = (engine.manifests.load() or {}).get("seq", 0)
        tracer = tracing.Tracer(self.spark.sparkContext, engine)
        executor = self._phase(engine, catalog, tracer)
        data1 = _tree_size(os.path.join(store, "data"))
        files1 = _tree_size(store)[1]
        seq1 = (engine.manifests.load() or {}).get("seq", 0)

        spans = tracer.spans
        writes = [s for s in spans if s["kind"] in wl.WRITES]
        stalls = [(s["t1"] - s["t0"]) / 1000.0 for s in writes
                  if s.get("compacted")]
        reads = [s for s in spans if s["kind"] in ("bfs", "dfs_leaves")]
        commits = seq1 - seq0
        traced_ops = summarize(executor.records)["ops_per_s"][0]
        edges = max(1, executor.shadow.edge_count())
        layers = {
            "engine.chain_len_mean": (
                tracing.mean(s["chain0"] for s in reads), "count"),
            "engine.chain_len_max": (float(tracer.chain_max), "count"),
            "engine.compactions": (float(len(stalls)), "count"),
            "engine.compact_stall_s": (tracing.mean(stalls), "s"),
            "engine.bytes_written_per_write": (
                (data1[0] - data0[0]) / max(1, len(writes)), "bytes"),
            "engine.files_per_commit": (
                (files1 - files0) / max(1, commits), "count"),
            "engine.bytes_stored_per_edge": (data1[0] / edges, "bytes"),
            "metastore.commits_per_write": (
                commits / max(1, len(writes)), "count"),
            "metastore.load_s": (_median(tracer.load_s) or 0.0, "s"),
            "metastore.manifest_bytes": (
                float(_median(tracer.manifest_bytes) or 0), "bytes"),
            "trace.overhead_pct": (
                (e2e["ops_per_s"][0] / traced_ops - 1.0) * 100.0, "%"),
        }
        return layers, spans


def _spark_layers(events: str, spans: list[dict]) -> dict:
    """Per-request Spark costs from the stopped session's event log."""
    import tracing

    unattributed = tracing.attribute(spans, tracing.read_event_log(events))
    out = tracing.span_metrics(spans)
    out["trace.unattributed_jobs"] = (float(unattributed), "count")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graphdatabase_spark",
                                       "__init__.py")):
        print(f"perfbench: no graphdatabase_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    # the program reads its session settings when first imported, and
    # Spark's Python workers inherit PYTHONPATH from this process
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path.insert(0, ROOT)
    import graphdatabase_spark

    if os.path.dirname(os.path.dirname(
            os.path.abspath(graphdatabase_spark.__file__))) != ROOT:
        print("perfbench: graphdatabase_spark resolved outside this checkout: "
              f"{graphdatabase_spark.__file__}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, WORK_DIR, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        report, result = Bench(args.workload, args.seed, args.seconds,
                               bool(args.trace), work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

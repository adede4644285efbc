"""Traced runs: one Spark job group per request span, metadata probes
between requests, and the session's event log parsed into per-span job
and task costs after the session stops.

The job group is a thread-local property under PySpark's pinned-thread
mode, so concurrent clients stay separable. Jobs the engine launches
from its own worker threads carry no group; such a job is charged to
the one request span whose interval contains its submission, and
counted as unattributed when none or several do.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

PROBE_GROUP = "perfbench-probe"
OPS = ("bfs", "dfs_leaves", "modify", "append", "merge")
CHAIN_WRITES = ("append", "merge")  # writes that extend a graph's chain


class Tracer:
    """Spans of one traced phase, plus the metadata probes taken
    between requests: ``manifests.load()``, ``chains()`` and the size of
    the newest manifest."""

    def __init__(self, sc, engine):
        self.sc = sc
        self.engine = engine
        self.spans: list[dict] = []
        self.load_s: list[float] = []
        self.manifest_bytes: list[int] = []
        self.chain_max = 0
        self._lock = threading.Lock()
        self._next = 0

    def _tag(self, group: str | None, what: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", what)

    def _probe(self, graph: str) -> tuple[int, int]:
        """``(manifest seq, chain length of graph)``; runs under the
        probe job group so no probe job is charged to a request."""
        self._tag(PROBE_GROUP, "metadata probe")
        t0 = time.perf_counter()
        manifest = self.engine.manifests.load() or {}
        load_s = time.perf_counter() - t0
        names = self.engine.manifests.names()
        size = (os.path.getsize(os.path.join(self.engine.manifest_dir,
                                             names[-1][1]))
                if names else 0)
        chains = {r["graph"]: r["chain_len"]
                  for r in self.engine.chains().collect()}
        with self._lock:
            self.load_s.append(load_s)
            self.manifest_bytes.append(size)
            self.chain_max = max(self.chain_max, max(chains.values(), default=0))
        return manifest.get("seq", 0), chains.get(graph, 0)

    def begin(self, op) -> dict:
        seq, chain = self._probe(op.graph)
        with self._lock:
            self._next += 1
            span = {"id": f"perfbench-span-{self._next}", "kind": op.kind,
                    "graph": op.graph, "seq0": seq, "chain0": chain}
        self._tag(span["id"], op.kind)
        span["t0"] = time.time() * 1000.0
        return span

    def end(self, span: dict, ok: bool, supersteps: int) -> None:
        span["t1"] = time.time() * 1000.0
        span["ok"], span["supersteps"] = ok, supersteps
        if span["kind"] in CHAIN_WRITES:
            # an append or merge always lengthens the chain, so a chain of
            # one commit afterwards means the write tripped a compaction
            _seq, chain = self._probe(span["graph"])
            span["compacted"] = chain == 1
        self._tag(None, None)
        with self._lock:
            self.spans.append(span)


def read_event_log(directory: str) -> dict[int, dict]:
    """Jobs of the session's event log: submission and completion time
    (epoch ms), job group, task count, summed executor run time (ms)
    and shuffle bytes written."""
    (name,) = [n for n in os.listdir(directory) if not n.startswith(".")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(directory, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"], "t1": None,
                    "tasks": 0, "task_ms": 0, "shuffle": 0}
                for sid in ev.get("Stage IDs", ()):
                    # a stage listed by several jobs runs in the first
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                metrics = ev.get("Task Metrics") or {}
                job["tasks"] += 1
                job["task_ms"] += metrics.get("Executor Run Time", 0)
                job["shuffle"] += (metrics.get("Shuffle Write Metrics") or {}
                                   ).get("Shuffle Bytes Written", 0)
    return jobs


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(spans: list[dict], jobs: dict[int, dict]) -> int:
    """Give each span its ``jobs``; returns the number of untagged jobs
    inside the phase that no single span could claim."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["jobs"] = []
    if not spans:
        return 0
    lo = min(s["t0"] for s in spans)
    hi = max(s["t1"] for s in spans)
    unattributed = 0
    for job in jobs.values():
        if job["group"] in by_id:
            by_id[job["group"]]["jobs"].append(job)
        elif job["group"] is None and lo <= job["t0"] <= hi:
            hits = [s for s in spans if s["t0"] <= job["t0"] <= s["t1"]]
            if len(hits) == 1:
                hits[0]["jobs"].append(job)
            else:
                unattributed += 1
    return unattributed


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def span_metrics(spans: list[dict]) -> dict[str, tuple[float, str]]:
    """Per-request Spark costs, as means over the spans of each op kind
    (0 for a kind the workload does not send)."""
    out: dict[str, tuple[float, str]] = {}
    for kind in OPS:
        mine = [s for s in spans if s["kind"] == kind]
        per = []
        for s in mine:
            wall = s["t1"] - s["t0"]
            job_ms = _union_ms([(max(j["t0"], s["t0"]),
                                 min(j["t1"] or s["t1"], s["t1"]))
                                for j in s["jobs"]])
            per.append({"jobs": len(s["jobs"]),
                        "tasks": sum(j["tasks"] for j in s["jobs"]),
                        "job_s": job_ms / 1000.0,
                        "task_s": sum(j["task_ms"] for j in s["jobs"]) / 1000.0,
                        "self_s": (wall - job_ms) / 1000.0,
                        "shuffle": sum(j["shuffle"] for j in s["jobs"])})
        out[f"spark.jobs.{kind}"] = (mean(p["jobs"] for p in per), "count")
        out[f"spark.tasks.{kind}"] = (mean(p["tasks"] for p in per), "count")
        out[f"spark.job_s.{kind}"] = (mean(p["job_s"] for p in per), "s")
        out[f"spark.task_s.{kind}"] = (mean(p["task_s"] for p in per), "s")
        out[f"driver.self_s.{kind}"] = (mean(p["self_s"] for p in per), "s")
        out[f"spark.shuffle_bytes.{kind}"] = (
            mean(p["shuffle"] for p in per), "bytes")
    bfs = [s for s in spans if s["kind"] == "bfs" and s["supersteps"]]
    out["operators.pregel.supersteps.bfs"] = (
        mean(s["supersteps"] for s in bfs), "count")
    out["operators.pregel.jobs_per_superstep.bfs"] = (
        mean(len(s["jobs"]) / s["supersteps"] for s in bfs), "count")
    return out

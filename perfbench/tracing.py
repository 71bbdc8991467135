"""Per-layer tracing from the benchmark's own files (``--trace 1``).

The tracer wraps the public functions of each layer without changing
the program: ``EtlHttpServer`` verbs, ``EtlController.run_once``,
``run_etl``, ``build_pipeline``, ``merge_upsert`` (and its
``retry_with_delay``), ``read_target``, ``lookup``, ``read_table`` and
the registry query functions. Each call becomes a span (name, start,
end, parent, run id) kept in memory; the span's thread gets a Spark job
group of its own, so concurrent branch merges keep their jobs apart.
After each traced repetition the tracer reads Spark's status stores
(jobs, stages, SQL executions with their plan-operator metrics) and
files every job under the spans that caused it: its own job group, or,
for jobs from threads without a span, the spans whose interval holds
the job's submission. ``dump`` writes spans and records to one file.

Layer metrics and the end-to-end metric each should move:

- ``session.*`` -> ``setup_s`` (all workloads)
- ``sources.*`` -> ``op_p50_s`` (analytic_queries; each cron fire
  re-scans the source entities)
- ``pipeline.*``, ``runner.*`` -> ``op_p50_s`` (etl_cron_merge; its
  set-up base load for the create path)
- ``upsert.*`` -> ``op_p50_s`` and ``lookup_p50_ms`` (etl_cron_merge)
- ``http_api.*`` -> ``op_p50_s`` (etl_cron_merge)
- ``spark.*``, ``op.*`` -> the workload's ``op_p50_s``
- ``q.<query>.*`` -> ``op_p50_s`` (analytic_queries)

Metrics a workload does not exercise read 0.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0
_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": MB * 1024,
          "TiB": MB * MB, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
#: plan-operator families and the timing metric each reports
#: (Spark's WindowExec reports no time, only spill size; the codegen
#: stages' own duration covers the operators fused into them)
OP_TIMES = {
    "Exchange": ("Exchange", "shuffle write time"),
    "BroadcastExchange": ("BroadcastExchange", "time to collect"),
    "Sort": ("Sort", "sort time"),
    "HashAggregate": ("HashAggregate", "time in aggregation build"),
    "Scan": ("Scan", "scan time"),
    "WriteFiles": ("Execute InsertIntoHadoopFsRelationCommand",
                   "job commit time"),
    "WholeStageCodegen": ("WholeStageCodegen", "duration"),
}


def parse_metric(text: str) -> float:
    """A SQL metric's display string -> its total as a number (bytes,
    seconds or a count)."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "",
                                                             1.0)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> float:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples
    beyond it (nearest rank); the maximum when fewer than twenty samples
    exist."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    best = xs[-1]
    for p in (50, 75, 90, 95, 99):
        if len(xs) * (100 - p) / 100.0 >= 10:
            best = xs[math.ceil(p / 100.0 * len(xs)) - 1]
    return best


class Span:
    __slots__ = ("sid", "name", "parent", "run", "thread", "start", "end",
                 "attrs", "gid")

    def to_json(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self.run_id = run_id
        self.enabled = False
        self.rep = -1
        self.spans: list[Span] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.execs: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._open: list[Span] = []
        self._lock = threading.Lock()
        self._n_execs = 0
        self._mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            self.jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._install()

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        """Record a span; with ``jobs`` its thread's Spark jobs carry the
        span's job group while it is open."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        s = Span()
        s.sid, s.name, s.run = next(self._ids), name, self.rep
        s.thread = threading.get_ident()
        with self._lock:
            # a thread with no open span of its own (a worker pool
            # thread) hangs under the innermost span open anywhere
            s.parent = (stack[-1].sid if stack else
                        self._open[-1].sid if self._open else None)
            self._open.append(s)
        s.attrs, s.gid = attrs, f"perfbench-{s.sid}"
        if jobs:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = sc.getLocalProperty("spark.job.description")
            sc.setJobGroup(s.gid, name)
        stack.append(s)
        s.start, s.end = time.time(), None
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if jobs:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self._open.remove(s)
                self.spans.append(s)

    def _wrap(self, fn, name: str, on_result=None, before=None,
              jobs: bool = True):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, jobs=jobs) as s:
                if before is not None:
                    before(s, args, kwargs)
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, out)
                return out
        return traced

    def _patch(self, owner, attr: str, name: str, **hooks) -> None:
        """Replace ``owner.attr`` and every module-level reference to the
        same function inside the package."""
        orig = getattr(owner, attr)
        wrapped = self._wrap(orig, name, **hooks)
        setattr(owner, attr, wrapped)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("imp_etl_spark") and \
                    getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)

    def _install(self) -> None:
        import imp_etl_spark.queries  # noqa: F401 — load every module
        from imp_etl_spark.plans import control, http_api, runner, upsert
        from imp_etl_spark.queries import REGISTRY
        from imp_etl_spark.sources import parquet

        def merge_before(s, args, kwargs):
            path = args[1] if len(args) > 1 else kwargs["path"]
            s.attrs["path"] = path
            s.attrs["before"] = upsert.bucket_paths(path) \
                if os.path.exists(path) else {}

        def merge_after(s, args, kwargs, out):
            after = upsert.bucket_paths(s.attrs["path"])
            before = s.attrs.pop("before")
            touched = [d for b, d in after.items() if before.get(b) != d]
            files = [os.path.join(d, f) for d in touched
                     for f in os.listdir(d) if f.endswith(".parquet")]
            s.attrs.update(buckets_touched=len(touched),
                           files_written=len(files),
                           bytes_written=sum(map(os.path.getsize, files)),
                           rows_written=_parquet_rows(files))

        self._patch(http_api.EtlHttpServer, "_start_etl_force",
                    "http_api.start_etl_force")
        self._patch(http_api.EtlHttpServer, "_etl_status",
                    "http_api.etl_status", jobs=False)
        self._patch(control.EtlController, "run_once", "control.run_once")
        self._patch(control, "run_etl", "runner.run_etl",
                    on_result=lambda s, a, k, out: s.attrs.update(
                        summary={x: y for x, y in out.items()
                                 if x.endswith("Count")}))
        self._patch(runner, "build_pipeline", "pipeline.build_pipeline")
        self._patch(runner, "merge_upsert", "upsert.merge_upsert",
                    before=merge_before, on_result=merge_after)
        self._patch(runner, "retry_with_delay", "runner.retry_with_delay",
                    on_result=lambda s, a, k, out: s.attrs.update(
                        attempts=out[0]))
        self._patch(upsert, "read_target", "upsert.read_target")
        self._patch(upsert, "lookup", "upsert.lookup")
        self._patch(parquet, "read_table", "sources.read_table")
        for q, (fn, sql) in list(REGISTRY.items()):
            REGISTRY[q] = (self._wrap(fn, f"query.{q}"), sql)

    # -- status stores ---------------------------------------------------
    def _json(self, obj):
        """A status-store object as plain data: one JVM call that writes
        it as JSON (a py4j call per field costs ~1 ms each)."""
        return json.loads(self._mapper.writeValueAsString(obj))

    def harvest(self) -> None:
        """Copy Spark's status-store records once its listener bus has
        delivered every event: all jobs and stages (re-read whole, so an
        entry still running at one harvest is complete at the next), and
        every SQL execution from the oldest one still running at the
        last harvest, with the metrics of each plan operator."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for j in self._json(store.jobsList(None)):
            self.jobs[j["jobId"]] = {
                "group": j.get("jobGroup"),
                "submit": _secs(j.get("submissionTime")),
                "end": _secs(j.get("completionTime")),
                "stages": j["stageIds"]}
        stages = self._json(store.stageList(
            None, False, False,
            self.spark.sparkContext._gateway.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList()))
        # the latest attempt of a stage wins
        for st in sorted(stages, key=lambda x: (x["stageId"],
                                                x["attemptId"])):
            self.stages[st["stageId"]] = {
                "tasks": st["numCompleteTasks"],
                "run_s": st["executorRunTime"] / 1000.0,
                "cpu_s": st["executorCpuTime"] / 1e9,
                "input_b": st["inputBytes"],
                "shuffle_read_b": st["shuffleReadBytes"],
                "shuffle_write_b": st["shuffleWriteBytes"],
                "spill_b": st["diskBytesSpilled"]}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        first_open = n
        for k, e in enumerate(self._json(sql.executionsList(
                self._n_execs, n - self._n_execs))):
            eid = e["executionId"]
            if e.get("completionTime") is None:
                first_open = min(first_open, self._n_execs + k)
            values = self._json(sql.executionMetrics(eid))
            nodes = [{"name": node["name"], "desc": node["desc"],
                      "metrics": {m["name"]: parse_metric(
                          values[str(m["accumulatorId"])])
                          for m in node["metrics"]
                          if str(m["accumulatorId"]) in values}}
                     for node in self._json(sql.planGraph(eid).allNodes())]
            self.execs[eid] = {"submit": _secs(e["submissionTime"]),
                               "jobs": [int(x) for x in e["jobs"]],
                               "nodes": nodes}
        self._n_execs = first_open

    # -- attribution -----------------------------------------------------
    def _subtree(self, span: Span) -> set[str]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = set(), [span]
        while todo:
            s = todo.pop()
            out.add(s.gid)
            todo += kids.get(s.sid, [])
        return out

    def jobs_of(self, span: Span) -> list[int]:
        gids = self._subtree(span)
        return [jid for jid, j in self.jobs.items()
                if j["submit"] is not None
                and span.start - 0.001 <= j["submit"] <= span.end + 0.001
                and (j["group"] in gids
                     or not (j["group"] or "").startswith("perfbench-"))]

    def execs_of(self, span: Span) -> list[dict]:
        jobs = set(self.jobs_of(span))
        return [e for e in self.execs.values()
                if jobs & set(e["jobs"])
                or (not e["jobs"]
                    and span.start <= e["submit"] <= span.end)]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # -- output ----------------------------------------------------------
    def dump(self, path: str, context: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "context": context,
                       "spans": [s.to_json() for s in self.spans],
                       "jobs": self.jobs, "stages": self.stages,
                       "executions": self.execs}, f, default=str)


def _secs(epoch_ms):
    return None if epoch_ms is None else epoch_ms / 1000.0


def _parquet_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

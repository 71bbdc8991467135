"""Per-layer metrics of a traced run (``--trace 1``).

``PER_LAYER`` lists every metric with its unit and direction; it is the
``per_layer`` list of ``BENCHMARK.json``. Work and Spark totals are per
unit of work (one cron fire, one pass over the queries), taken over the
traced repetitions only. Headline timings
(``etl_*``, ``lookup_*``, ``status_*``, ``query_*``) come from the
untraced repetitions of the same run, and ``trace.overhead_*`` is the
traced minus the untraced median. ``*_tail_*`` is the highest of
p50/p75/p90/p95/p99 with at least ten samples beyond it, or the maximum
below twenty samples; ``samples.*`` give the counts.
"""

from __future__ import annotations

import math
import os
import statistics

import workloads
from tracing import MB, OP_TIMES, median, tail

_E2E = [
    ("etl_load_rec_per_s", "rec/s", "higher"),
    ("etl_fire_p50_s", "s", "lower"), ("etl_fire_tail_s", "s", "lower"),
    ("lookup_p50_ms", "ms", "lower"), ("lookup_tail_ms", "ms", "lower"),
    ("status_p50_ms", "ms", "lower"), ("status_tail_ms", "ms", "lower"),
    ("query_total_s", "s", "lower"), ("query_geomean_s", "s", "lower"),
    ("table_bytes_per_row", "B", "lower"),
    ("cached_mb_after", "MiB", "lower"), ("failed_frac", "ratio", "lower"),
    ("samples.op", "count", "higher"), ("samples.read", "count", "higher"),
    ("samples.status", "count", "higher"),
    ("trace.overhead_op_s", "s", "lower"),
    ("trace.overhead_read_ms", "ms", "lower"),
]
_LAYERS = [
    ("session.start_s", "s", "lower"),
    ("sources.read_table_s", "s", "lower"),
    ("sources.scan_mb", "MiB", "lower"),
    ("sources.files_read", "count", "lower"),
    ("pipeline.build_s", "s", "lower"),
    ("pipeline.rows_scanned", "count", "lower"),
    ("pipeline.rows_valid", "count", "higher"),
    ("pipeline.rows_skipped", "count", "lower"),
    ("pipeline.valid_ratio", "ratio", "higher"),
    ("upsert.merge_s", "s", "lower"),
    ("upsert.buckets_touched", "count", "lower"),
    ("upsert.bytes_written", "B", "lower"),
    ("upsert.write_amp", "ratio", "lower"),
    ("upsert.files_written", "count", "lower"),
    ("upsert.files_per_bucket_live", "count", "lower"),
    ("upsert.lookup_files_read", "count", "lower"),
    ("runner.run_s", "s", "lower"),
    ("runner.jobs_per_run", "count", "lower"),
    ("runner.driver_gap_s", "s", "lower"),
    ("runner.retries", "count", "lower"),
    ("runner.core_util", "ratio", "higher"),
    ("http_api.fire_overhead_ms", "ms", "lower"),
    ("http_api.poller_late_ms", "ms", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.shuffle_read_mb", "MiB", "lower"),
    ("spark.shuffle_write_mb", "MiB", "lower"),
    ("spark.spill_mb", "MiB", "lower"),
    ("spark.python_eval_s", "s", "lower"),
] + [(f"op.{fam}.time_s", "s", "lower") for fam in OP_TIMES]
_QUERY = [("s", "s", "lower"), ("jobs", "count", "lower"),
          ("shuffle_mb", "MiB", "lower"), ("spill_mb", "MiB", "lower"),
          ("cached_mb_after", "MiB", "lower")]
PER_LAYER = _E2E + _LAYERS + [
    (f"q.{q}.{m}", u, b) for q in workloads.QUERIES for m, u, b in _QUERY]


def storage_mb(spark) -> float:
    """Spark storage (memory + disk) held by cached data right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _live(table_path: str) -> tuple[list[str], int]:
    """Files of a table's current snapshot, and the buckets it maps."""
    from imp_etl_spark.plans import upsert

    dirs = upsert.bucket_paths(table_path)
    return ([os.path.join(d, f) for d in dirs.values()
             for f in os.listdir(d) if f.endswith(".parquet")], len(dirs))


def _dur(s) -> float:
    return s.end - s.start


def per_layer(t, wl) -> dict:
    from tracing import _parquet_rows

    out = {name: 0.0 for name, _, _ in PER_LAYER}
    units = {name: unit for name, unit, _ in PER_LAYER}
    ops = [s for s in t.spans if s.name.startswith("op.")]
    n_units = max(1, len({s.run for s in ops}))
    op_jobs = {j for s in ops for j in t.jobs_of(s)}
    op_execs = {id(e): e for s in ops for e in t.execs_of(s)}.values()
    stages = [t.stages[sid] for j in op_jobs for sid in t.jobs[j]["stages"]
              if sid in t.stages]

    def node_sum(execs, pred, metric) -> float:
        return sum(n["metrics"].get(metric, 0.0) for e in execs
                   for n in e["nodes"] if pred(n))

    def is_scan(n):
        return n["name"].startswith("Scan")

    out["session.start_s"] = wl.session_start_s
    out["sources.read_table_s"] = sum(
        _dur(s) for s in t.named("sources.read_table")) / n_units
    out["sources.scan_mb"] = sum(s["input_b"] for s in stages) / MB / n_units
    out["sources.files_read"] = node_sum(
        op_execs, is_scan, "number of files read") / n_units

    runs = t.named("runner.run_etl")
    if runs:
        run_execs = {id(e): e for s in runs for e in t.execs_of(s)}.values()
        valid = [sum(v for k, v in s.attrs["summary"].items()
                     if k.startswith("processed")) for s in runs]
        skipped = [sum(v for k, v in s.attrs["summary"].items()
                       if k.startswith("skipped")) for s in runs]
        pruned = node_sum(run_execs, lambda n: "LeftSemi" in n["desc"],
                          "number of output rows")
        out["pipeline.build_s"] = median(
            [_dur(s) for s in t.named("pipeline.build_pipeline")])
        out["pipeline.rows_scanned"] = node_sum(
            run_execs, is_scan, "number of output rows") / len(runs)
        out["pipeline.rows_valid"] = statistics.mean(valid)
        out["pipeline.rows_skipped"] = statistics.mean(skipped)
        out["pipeline.valid_ratio"] = (sum(valid) / pruned) if pruned else 0
        out["runner.run_s"] = median([_dur(s) for s in runs])
        gaps, jobs_n, util = [], [], []
        for s in runs:
            jobs = [t.jobs[j] for j in t.jobs_of(s)]
            jobs_n.append(len(jobs))
            iv = sorted((max(j["submit"], s.start), min(j["end"] or s.end,
                                                       s.end))
                        for j in jobs)
            covered, hi = 0.0, s.start
            for a, b in iv:
                a = max(a, hi)
                if b > a:
                    covered, hi = covered + b - a, b
            gaps.append(_dur(s) - covered)
            task_s = sum(t.stages[x]["run_s"] for j in jobs
                         for x in j["stages"] if x in t.stages)
            util.append(task_s / (_dur(s) * (os.cpu_count() or 1)))
        out["runner.jobs_per_run"] = statistics.mean(jobs_n)
        out["runner.driver_gap_s"] = statistics.mean(gaps)
        out["runner.core_util"] = statistics.mean(util)
        out["runner.retries"] = sum(
            s.attrs.get("attempts", 1) - 1
            for s in t.named("runner.retry_with_delay")) / len(runs)
    merges = t.named("upsert.merge_upsert")
    if merges:
        by_id = {s.sid: s for s in t.spans}
        batch_rows = 0
        for m in merges:
            run = by_id.get(m.parent)
            while run is not None and run.name != "runner.run_etl":
                run = by_id.get(run.parent)
            if run is not None:
                branch = ("Voucher" if m.attrs["path"].endswith("v")
                          else "Transaction")
                batch_rows += run.attrs["summary"][f"processed{branch}Count"]
        out["upsert.merge_s"] = median([_dur(s) for s in merges])
        for k in ("buckets_touched", "bytes_written", "files_written"):
            out[f"upsert.{k}"] = statistics.mean(m.attrs[k] for m in merges)
        rows_written = sum(m.attrs["rows_written"] for m in merges)
        out["upsert.write_amp"] = rows_written / batch_rows \
            if batch_rows else 0.0
    lookups = t.named("read.lookup")
    if lookups:
        l_execs = {id(e): e for s in lookups
                   for e in t.execs_of(s)}.values()
        out["upsert.lookup_files_read"] = node_sum(
            l_execs, is_scan, "number of files read") / len(lookups)
    fires = t.named("op.fire")
    if fires:
        over = []
        for f in fires:
            kids = [s for s in t.named("control.run_once")
                    if f.start <= s.start and s.end <= f.end]
            if kids:
                over.append((_dur(f) - _dur(kids[0])) * 1000.0)
        out["http_api.fire_overhead_ms"] = statistics.mean(over) \
            if over else 0.0

    out["spark.tasks"] = sum(s["tasks"] for s in stages) / n_units
    out["spark.executor_run_s"] = sum(s["run_s"] for s in stages) / n_units
    out["spark.executor_cpu_s"] = sum(s["cpu_s"] for s in stages) / n_units
    out["spark.shuffle_read_mb"] = sum(
        s["shuffle_read_b"] for s in stages) / MB / n_units
    out["spark.shuffle_write_mb"] = sum(
        s["shuffle_write_b"] for s in stages) / MB / n_units
    out["spark.spill_mb"] = sum(s["spill_b"] for s in stages) / MB / n_units
    out["spark.python_eval_s"] = sum(
        v for e in op_execs for n in e["nodes"]
        if "Python" in n["name"] or "Pandas" in n["name"]
        for k, v in n["metrics"].items() if "time" in k) / n_units
    for fam, (prefix, metric) in OP_TIMES.items():
        out[f"op.{fam}.time_s"] = node_sum(
            op_execs, lambda n, p=prefix: n["name"].split(" (")[0] == p
            or n["name"].startswith(p + " "), metric) / n_units

    # per query
    if isinstance(wl, workloads.AnalyticQueries):
        qmed = {}
        for q in workloads.QUERIES:
            xs = [d for d, tr in wl.per_query[q] if not tr] or \
                [d for d, _ in wl.per_query[q]]
            qmed[q] = median(xs)
            spans = [s for s in t.named("op.query") if s.attrs["q"] == q]
            out[f"q.{q}.s"] = qmed[q]
            if not spans:
                continue
            qst = [[t.stages[x] for j in t.jobs_of(s)
                    for x in t.jobs[j]["stages"] if x in t.stages]
                   for s in spans]
            n = len(spans)
            out[f"q.{q}.jobs"] = sum(len(t.jobs_of(s)) for s in spans) / n
            out[f"q.{q}.shuffle_mb"] = sum(
                x["shuffle_write_b"] for st in qst for x in st) / MB / n
            out[f"q.{q}.spill_mb"] = sum(
                x["spill_b"] for st in qst for x in st) / MB / n
            out[f"q.{q}.cached_mb_after"] = max(
                s.attrs.get("cached_mb", 0.0) for s in spans)
        out["query_total_s"] = sum(qmed.values())
        out["query_geomean_s"] = math.exp(statistics.mean(
            math.log(max(v, 1e-9)) for v in qmed.values()))

    # headline timings from the untraced repetitions
    ops_u = [d for d, tr in wl.ops if not tr]
    reads_u = [d for d, tr in wl.reads if not tr]
    if isinstance(wl, workloads.EtlCronMerge):
        # the create path runs once, cold, as the set-up base load
        out["etl_load_rec_per_s"] = workloads.N_QUEUE / wl.base_load_s
        out["etl_fire_p50_s"] = median(ops_u)
        out["etl_fire_tail_s"] = tail(ops_u)
        status = [x for x, _ in wl.status_ms]
        out["status_p50_ms"] = median(status)
        out["status_tail_ms"] = tail(status)
        out["samples.status"] = len(status)
        out["http_api.poller_late_ms"] = median([x for x, _ in wl.late_ms])
        files, rows = [], 0
        per_bucket = []
        for branch in ("v", "t"):
            f, n_buckets = _live(os.path.join(wl.table_root, branch))
            files += f
            rows += _parquet_rows(f)
            per_bucket.append(len(f) / max(1, n_buckets))
        out["table_bytes_per_row"] = sum(map(os.path.getsize, files)) / rows
        out["upsert.files_per_bucket_live"] = statistics.mean(per_bucket)
    # ``upsert.lookup`` on etl_cron_merge, a ``read_table`` key filter on
    # analytic_queries
    out["lookup_p50_ms"] = median(reads_u)
    out["lookup_tail_ms"] = tail(reads_u)
    out["samples.op"] = len(ops_u)
    out["samples.read"] = len(reads_u)
    out["cached_mb_after"] = storage_mb(wl.spark)
    out["failed_frac"] = wl.log.failed / max(1, wl.log.attempted)
    ops_t = [d for d, tr in wl.ops if tr]
    reads_t = [d for d, tr in wl.reads if tr]
    out["trace.overhead_op_s"] = median(ops_t) - median(ops_u)
    out["trace.overhead_read_ms"] = median(reads_t) - median(reads_u)
    return {k: (float(v), units[k]) for k, v in out.items()}

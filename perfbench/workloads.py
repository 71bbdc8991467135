"""The benchmark workloads and their output checks.

Each workload has an untimed ``setup`` (inputs generated and written,
warm-up), a ``measure`` loop of repetitions that runs until the time is
up (and at least twice), and an untimed ``finish`` with the end-of-run
checks. Every timed
operation, every point read and every end-of-run check is one attempted
operation; one that raises or returns a wrong result is one failed
operation.

- ``etl_cron_merge``: a base table (the full-load create path, once,
  in set-up), then ~1% cron-fire deltas, each driven through
  ``EtlHttpServer`` (``POST /api/start-etl-force``) while one open-loop
  poller sends ``GET /api/etl-status``; point lookups of old and
  just-written keys between fires.
- ``analytic_queries``: five registry queries, one per operator family,
  over the ``sf0.01`` fixture data set that sits beside the package's
  default one (``sources.parquet.DEFAULT_SF_DIR``), in a seed-permuted
  order, each timed from build through a noop write, with a point read
  through ``sources.read_table`` after each.

Sizes are set by the benchmark's time budget (every run pays ~9 s of
JVM start and ~20 s of first-use codegen in its set-up): the ETL queue
is a tenth of the reference's 156,915 records (a full-size ``run_once``
takes ~30 s on 4 cores), and the queries run on ``sf0.01`` (on the
default ``sf0.1`` one run takes over two minutes, most of it in the
warm-up pass and the DuckDB oracle).
"""

from __future__ import annotations

import contextlib
import http.client
import json
import math
import os
import statistics
import sys
import threading
import time
import traceback

import numpy as np

import gen

N_QUEUE = gen.FULL_QUEUE // 10
ANALYTIC_SF = "sf0.01"
POLL_PERIOD_S = 0.05
# one per operator family: each query costs ~2 s of first-use codegen in
# the warm-up, which every run pays inside its set-up
QUERIES = [
    "q3_shipping_priority",     # TPC-H join/agg
    "dedup_cluster_assign",     # dedup/similarity
    "agg_percentiles_disc",     # rank/prefix-sum
    "resample_ffill_hourly",    # lag/temporal
    "tfidf_top_term",           # text
]
POINT_TABLES = {"orders": ("o_orderkey", "o_custkey"),
                "customer": ("c_custkey", "c_nationkey"),
                "part": ("p_partkey", "p_size")}


class OpLog:
    """Attempted/failed counts; prints the first few failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 5:
                print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def call(self, fn):
        """Run and time ``fn``. Returns ``(raised?, result, seconds)``;
        the caller records the op once it has checked the result."""
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception:  # noqa: BLE001 — a failed op is data here
            if self.failed < 5:
                traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        return ok, out, time.perf_counter() - t0


def summary_ok(summary: dict | None, expected: dict) -> bool:
    """Run-summary counts equal the generator's, and the warning sample
    names only refs the generator says have no entity rows."""
    if not summary:
        return False
    for k in ("processedVoucherCount", "skippedVoucherCount",
              "processedTransactionCount", "skippedTransactionCount"):
        if summary.get(k) != expected[k]:
            return False
    allowed = {f"No voucher data found for reference: {r}"
               for r in expected["missingVoucher"]}
    allowed |= {f"No transaction data found for reference: {r}"
                for r in expected["missingTransaction"]}
    sample = summary.get("warningSample") or []
    n_missing = len(expected["missingVoucher"]) + len(
        expected["missingTransaction"])
    return len(sample) == min(5, n_missing) and set(sample) <= allowed


class Workload:
    """Shared measurement loop; subclasses define ``setup`` and ``rep``."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 7])
        self.log = OpLog()
        self.session_start_s = 0.0
        # (seconds, traced?) per timed unit of work; point reads in ms
        self.ops: list[tuple[float, bool]] = []
        self.reads: list[tuple[float, bool]] = []
        self.traced = False

    #: The JVM keeps warming up over the first repetitions, so a run
    #: whose repetition count flips from run to run would mix a different
    #: share of that tail into its medians. Each run makes at least this
    #: many; at the benchmark's ``run_seconds`` that is exactly this many.
    min_reps = 2

    def measure(self, seconds: float) -> None:
        """Repeat until ``seconds`` have passed, and at least
        ``min_reps`` times. A traced run alternates traced and untraced
        repetitions, so the tracing overhead is measured inside one
        process."""
        deadline = time.perf_counter() + seconds
        i = 0
        while True:
            self.traced = self.tracer is not None and i % 2 == 0
            if self.tracer is not None:
                self.tracer.enabled, self.tracer.rep = self.traced, i
            self.rep(i)
            if self.traced:
                self.tracer.enabled = False
                self.tracer.harvest()
            i += 1
            if i >= self.min_reps and time.perf_counter() >= deadline:
                break
        if self.tracer is not None:
            self.tracer.enabled = False
        self.traced = False

    def _span(self, name: str, **attrs):
        """A tracer span around a timed operation (nothing untraced)."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def _op(self, seconds: float) -> None:
        self.ops.append((seconds, self.traced))

    def _read(self, seconds: float) -> None:
        self.reads.append((seconds * 1000.0, self.traced))

    def setup(self) -> None:
        raise NotImplementedError

    def rep(self, i: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def end_to_end(self) -> dict:
        # point reads are per-layer only (``lookup_*``): their run-to-run
        # spread on a shared 4-core host is close to the widest bound
        return {"op_p50_s": (statistics.median(s for s, _ in self.ops), "s")}


# ---------------------------------------------------------------------------
# ETL workload
# ---------------------------------------------------------------------------

class _Poller(threading.Thread):
    """Open-loop ``GET /api/etl-status`` at a fixed period; each request
    is timed from when it was due, and how late it was sent is kept."""

    def __init__(self, port: int, log: OpLog):
        super().__init__(daemon=True)
        self.port, self.log = port, log
        self.halt = threading.Event()
        self.latency_ms: list[float] = []
        self.late_ms: list[float] = []

    def run(self) -> None:
        start = time.perf_counter()
        k = 0
        while True:
            due = start + k * POLL_PERIOD_S
            if self.halt.wait(max(0.0, due - time.perf_counter())):
                return
            self.late_ms.append((time.perf_counter() - due) * 1000.0)
            status = None
            try:
                conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                  timeout=30)
                conn.request("GET", "/api/etl-status")
                resp = conn.getresponse()
                body = json.loads(resp.read())
                status = resp.status
                conn.close()
            except (OSError, ValueError):
                body = None
            self.latency_ms.append((time.perf_counter() - due) * 1000.0)
            self.log.record(status == 200 and "isRunning" in (body or {}),
                            f"status poll -> {status}")
            k += 1


class EtlCronMerge(Workload):
    """A base table, then ~1% cron-fire deltas through the HTTP control
    plane, with point lookups between fires: partial-merge path,
    manifest commit/retention and the per-run fixed cost."""

    def setup(self) -> None:
        from imp_etl_spark.plans.control import EtlController
        from imp_etl_spark.plans.http_api import EtlHttpServer

        self.gen = gen.EtlGenerator(self.seed, N_QUEUE)
        base = self.gen.base()
        self.inputs = os.path.join(self.work, "in")
        self.table_root = os.path.join(self.work, "table")
        self.base_v_keys = list(self.gen.v_state)
        self.base_t_keys = list(self.gen.t_state)
        # fires[i] is the batch of fire i (0 = the base load)
        self.fires = [base]
        self.current = gen.write_batch(base, self.inputs, "f000")
        self.controller = EtlController(self.spark)
        _, summary, self.base_load_s = self.log.call(
            lambda: self.controller.run_once(**self._inputs()))
        self.log.record(summary_ok(summary, base.expected),
                        f"base load summary {summary}")
        self.server = EtlHttpServer(
            self.controller, self._inputs,
            os.path.join(self.work, "etl.log")).start()
        self.port = self.server._httpd.server_address[1]
        self.status_ms: list[tuple[float, bool]] = []
        self.late_ms: list[tuple[float, bool]] = []
        # warm-up, untimed: one fire, and a lookup into each branch
        batch, _ = self._fire()
        self.lookups(self._pick(list(batch.v_written), self.gen.v_state, 1,
                                "v")
                     + self._pick(list(batch.t_written), self.gen.t_state,
                                  1, "t"))
        self.reads.clear()

    def _inputs(self) -> dict:
        """``run_once`` arguments, and the server's per-request input
        factory: the current fire's queue delta over the entity sources
        as they stand after that fire."""
        p = self.current
        return {"queue": self.spark.read.parquet(p["queue"]),
                "voucher": self.spark.read.parquet(p["voucher"]),
                "transaction": self.spark.read.parquet(p["txn"]),
                "voucher_path": os.path.join(self.table_root, "v"),
                "txn_path": os.path.join(self.table_root, "t")}

    def _fire(self):
        # made and written untimed, just before the fire: the generator's
        # expected state is then the state after this fire
        n = len(self.fires)
        batch = self.gen.fire(n)
        self.fires.append(batch)
        self.current = gen.write_batch(batch, self.inputs, f"f{n:03d}")
        poller = _Poller(self.port, self.log)
        poller.start()

        def post():
            conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                              timeout=170)
            conn.request("POST", "/api/start-etl-force")
            resp = conn.getresponse()
            body = json.loads(resp.read())
            conn.close()
            return resp.status, body

        with self._span("op.fire"):
            _, out, dt = self.log.call(post)
        poller.halt.set()
        poller.join(timeout=60)
        self.status_ms += [(x, self.traced) for x in poller.latency_ms]
        self.late_ms += [(x, self.traced) for x in poller.late_ms]
        status, body = out if out else (None, {})
        self.log.record(status == 200 and summary_ok(body.get("summary"),
                                                     batch.expected),
                        f"fire {n} -> {status} {body}")
        return batch, dt

    def lookups(self, picks: list) -> None:
        """Timed point lookups; ``picks`` = (branch, key, expected tag)."""
        from imp_etl_spark.plans import upsert

        for branch, key, want in picks:
            k0, tag = (("voucher_id", gen.V_TAG) if branch == "v"
                       else ("voucher_details_id", gen.T_TAG))
            path = os.path.join(self.table_root, branch)
            with self._span("read.lookup"):
                ok, rows, dt = self.log.call(lambda: upsert.lookup(
                    self.spark, path, {k0: key[0], "reference_no": key[1]}
                ).collect())
            self._read(dt)
            self.log.record(ok and len(rows) == 1 and rows[0][tag] == want,
                            f"lookup {branch} {key} -> {rows}")

    def _pick(self, keys: list, state: dict, n: int, branch: str) -> list:
        idx = self.rng.choice(len(keys), min(n, len(keys)), replace=False)
        return [(branch, keys[i], state[keys[i]]) for i in idx]

    def rep(self, i: int) -> None:
        batch, dt = self._fire()
        self._op(dt)
        # alternate the branches: one just-written key and one base key
        # per fire
        if i % 2:
            keys, state, branch = self.base_t_keys, self.gen.t_state, "t"
            new = list(batch.v_written)
            picks = self._pick(new, self.gen.v_state, 1, "v")
        else:
            keys, state, branch = self.base_v_keys, self.gen.v_state, "v"
            new = list(batch.t_written)
            picks = self._pick(new, self.gen.t_state, 1, "t")
        self.lookups(picks + self._pick(keys, state, 1, branch))

    def key_counts_ok(self) -> None:
        """Each branch table holds as many keys as the generator says."""
        from imp_etl_spark.plans import upsert

        expected = self.fires[-1].expected
        for branch, name in (("v", "Voucher"), ("t", "Transaction")):
            _, n, _ = self.log.call(lambda: upsert.read_target(
                self.spark, os.path.join(self.table_root, branch)).count())
            self.log.record(n == expected[f"table{name}Keys"],
                            f"{name} table holds {n} keys, expected "
                            f"{expected[f'table{name}Keys']}")

    def finish(self) -> None:
        self.server.close()
        self.key_counts_ok()


# ---------------------------------------------------------------------------
# analytic queries
# ---------------------------------------------------------------------------

def _norm(v):
    """``tests/test_oracle.py``'s value normalisation."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9) + 0.0
    return v


def _sorted_rows(rows):
    return sorted([tuple(_norm(v) for v in r) for r in rows],
                  key=lambda r: tuple((x is None, str(type(x)), str(x))
                                      for x in r))


class AnalyticQueries(Workload):
    """Registry queries over a fixture data set: operators, functions,
    sources, persist gates and cache plumbing; nothing is written to a
    sink."""

    min_reps = 3

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from imp_etl_spark.queries import REGISTRY
        from imp_etl_spark.sources.parquet import DEFAULT_SF_DIR

        self.sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR),
                                   ANALYTIC_SF)
        # expected point-read values, read without Spark
        self.points = {name: pq.read_table(
            os.path.join(self.sf_dir, f"{name}.parquet"), columns=list(kc))
            for name, kc in POINT_TABLES.items()}
        self.fns = {q: REGISTRY[q][0] for q in QUERIES}
        self.per_query: dict[str, list[tuple[float, bool]]] = {
            q: [] for q in QUERIES}
        # warm-up pass; its collected rows are checked against the
        # DuckDB oracle once, after timing
        self.warm_rows = {}
        for q in self.rng.permutation(QUERIES):
            def build_and_collect(q=q):
                df = self.fns[q](self.spark, self.sf_dir)
                return df.columns, df.collect()

            _, self.warm_rows[q], _ = self.log.call(build_and_collect)
        self._point_read()
        self.reads.clear()

    def _point_read(self) -> None:
        from pyspark.sql import functions as F

        from imp_etl_spark.sources.parquet import read_table

        name = str(self.rng.choice(list(POINT_TABLES)))
        key, col = POINT_TABLES[name]
        tbl = self.points[name]
        i = int(self.rng.integers(0, tbl.num_rows))
        k, want = tbl[key][i].as_py(), tbl[col][i].as_py()
        with self._span("read.point"):
            ok, rows, dt = self.log.call(lambda: read_table(
                self.spark, self.sf_dir, name).filter(F.col(key) == k)
                .collect())
        self._read(dt)
        self.log.record(ok and len(rows) == 1 and rows[0][col] == want,
                        f"point read {name}[{key}={k}] -> {rows}")

    def rep(self, i: int) -> None:
        total = 0.0
        for q in self.rng.permutation(QUERIES):
            fn = self.fns[q]
            with self._span("op.query", q=q) as span:
                ok, _, dt = self.log.call(lambda: fn(self.spark, self.sf_dir)
                                          .write.format("noop")
                                          .mode("overwrite").save())
                if span is not None:
                    from metrics import storage_mb

                    span.attrs["cached_mb"] = storage_mb(self.spark)
            self.log.record(ok, q)
            self.per_query[q].append((dt, self.traced))
            total += dt
            self._point_read()
        self._op(total)

    def finish(self) -> None:
        import duckdb

        from imp_etl_spark.queries import REGISTRY

        con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(self.sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                            f"SELECT * FROM read_parquet('{path}')")
        for q in QUERIES:
            out, sql = self.warm_rows[q], REGISTRY[q][1]
            if out is None or sql is None:
                # a raise, or no oracle: rows-only, as in the oracle test
                self.log.record(out is not None, f"{q} warm-up")
                continue
            spark_cols, rows = out
            rel = con.sql(sql)
            cols = [c.lower() for c in rel.columns]
            pos = [[c.lower() for c in spark_cols].index(c) if c in
                   [s.lower() for s in spark_cols] else None for c in cols]
            got = [tuple(r[p] if p is not None else None for p in pos)
                   for r in rows]
            self.log.record(
                sorted(c.lower() for c in spark_cols) == sorted(cols)
                and _sorted_rows(got) == _sorted_rows(rel.fetchall()),
                f"oracle {q}")


def make(name: str, spark, work: str, seed: int, tracer) -> Workload:
    cls = {"etl_cron_merge": EtlCronMerge,
           "analytic_queries": AnalyticQueries}[name]
    return cls(spark, work, seed, tracer)


def machine_context(spark) -> dict:
    """Machine state to pair runs by (ROADMAP's 1.2x calibration rule):
    ``bench.py``'s xxhash64 calibration job (one run, where ``bench.py``
    takes the best of two), the 1-minute load average, nproc and
    versions. Not a metric."""
    import platform

    import pyspark
    from pyspark.sql import functions as F

    load = os.getloadavg()[0]
    t0 = time.perf_counter()
    spark.range(200_000_000).select(F.try_sum(F.xxhash64("id"))).write \
        .format("noop").mode("overwrite").save()
    return {"calibration_s": time.perf_counter() - t0,
            "load_avg_1m": load, "nproc": os.cpu_count(),
            "spark": pyspark.__version__, "python": platform.python_version()}

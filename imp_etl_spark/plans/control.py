"""ETL control plane: the Express API's lifecycle verbs as driver calls.

The reference wraps its pipeline in an HTTP control plane (SURVEY.md §3):
``POST /api/start-etl`` (cron-schedule, ``index.js:46-112``),
``POST /api/start-etl-force`` (run now, ``index.js:114-164``),
``POST /api/stop-etl`` (``index.js:166-206``), ``GET /api/etl-status``
(``index.js:329-342``), guarded by a single ``isEtlRunning`` flag
(``index.js:25``) that does NOT prevent cron-fire overlap with a long run
(ST6 — interleaved runs visible at ``logs/RSBSAetl.log:10-13``). Here
every schedule fires from one wall-clock scheduler thread whose fires
serialize, and the run/schedule guard is atomic — the overlap bug is
structurally impossible:

- ``run_once``     = start-etl-force (one ``run_etl`` fire, blocks)
- ``schedule``     = start-etl (each scheduler fire runs one AvailableNow
  epoch of the same fire body on its queue slice, as the reference's
  cron calls ``runEtlProcess`` too)
- ``stop``         = stop-etl (in-flight epoch finishes, like task.stop())
- ``status``       = the state etl-status is built from: ``isRunning``,
  ``schedule``, ``startedAt``, ``uptimeSec``, ``epochsCompleted``,
  ``lastError``, ``lastSummary`` (plans/http_api.py renders the
  reference's keys from it)

HTTP itself stays out of engine scope (SURVEY §7.7) — any server can
wrap these four calls.
"""

from __future__ import annotations

import threading
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from imp_etl_spark.operators.util import release_query_caches
from imp_etl_spark.plans.cron import CronScheduler, parse_schedule
from imp_etl_spark.plans.runner import run_etl
from imp_etl_spark.streaming.etl_stream import run_etl_stream


class EtlController:
    """Lifecycle wrapper over the batch runner and the streaming epochs.

    ``run_once``/``schedule`` make their is_running check-and-start
    ATOMIC under an internal lock: two concurrent callers (e.g. the
    HTTP server's force and schedule verbs racing) cannot both pass the
    guard and write the same sink paths — the reference's isEtlRunning
    overlap hole (ST6) closed at the controller itself, not just in the
    transport above it.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._guard = threading.Lock()
        self._query = None
        self._cron = None
        self._schedule: str | None = None
        self._started_at: float | None = None
        self._last_summary: dict[str, Any] | None = None
        self.epoch_summaries: list[dict[str, Any]] = []

    # -- start-etl-force ---------------------------------------------------
    def run_once(self, queue: DataFrame, voucher: DataFrame,
                 transaction: DataFrame, voucher_path: str, txn_path: str,
                 **kwargs) -> dict[str, Any]:
        """Synchronous single run; returns the reference-shaped summary
        (etlService.js:576-583). ``kwargs`` go to ``run_etl``. Refuses
        while a schedule is active — the isEtlRunning guard, minus its
        overlap hole."""
        with self._guard:
            if self.is_running:
                raise RuntimeError("ETL is already running; stop it first")
            self._started_at = time.time()
        try:
            self._last_summary = run_etl(
                self.spark, queue, voucher, transaction,
                voucher_path, txn_path, **kwargs)
            return self._last_summary
        finally:
            self._started_at = None
            release_query_caches()

    # -- start-etl (scheduled) --------------------------------------------
    def schedule(self, queue_stream: DataFrame, voucher: DataFrame,
                 transaction: DataFrame, voucher_path: str, txn_path: str,
                 checkpoint_dir: str, every: str = "1 minute",
                 clock=None, tick: float = 1.0,
                 **kwargs) -> None:
        """Start the recurring schedule (start-etl, ST1). ``every`` is
        ANY valid node-cron pattern — incl. calendar shapes like
        ``0 9 * * 1-5`` the reference accepts via cron.validate /
        cron.schedule (index.js:30-37, 75-86) — or a Spark interval
        string (plans/cron.py ``parse_schedule``). It runs on a
        driver-side wall-clock scheduler (Asia/Manila like the
        reference, no fire at start): each fire executes ONE
        AvailableNow epoch of the streaming pipeline against the SAME
        checkpoint, and fires serialize (a long epoch absorbs missed
        matches — the overlap the reference's isEtlRunning hole
        allowed, ST6). ``kwargs`` are ``run_once``'s, minus
        ``watermark``. A failed epoch (``run_etl_stream``) is recorded
        as ``lastError`` and the next fire replays its slice.
        ``clock``/``tick`` inject a test clock into the scheduler."""
        pattern = parse_schedule(every)
        if pattern is None:
            raise ValueError(f"invalid schedule pattern: {every!r}")
        with self._guard:
            if self.is_running:
                raise RuntimeError("ETL is already scheduled")
            # claim the slot BEFORE the scheduler starts so a racing
            # run_once/schedule sees is_running immediately
            self._started_at = time.time()
            self._schedule = every
        self.epoch_summaries.clear()

        def _fire() -> None:
            q = run_etl_stream(
                self.spark, queue_stream, voucher, transaction,
                voucher_path, txn_path, checkpoint_dir,
                epoch_summaries=self.epoch_summaries, **kwargs)
            # register the fire's query on the controller while the
            # epoch runs: stop() can then q.stop() an epoch that
            # outlasts the scheduler thread's join instead of
            # abandoning it handleless
            with self._guard:
                self._query = q
            try:
                q.awaitTermination()
            finally:
                with self._guard:
                    if self._query is q:
                        self._query = None

        try:
            self._cron = CronScheduler(
                pattern, _fire, now_fn=clock, tick=tick).start()
        except BaseException:
            with self._guard:
                self._started_at = self._schedule = None
            raise

    # -- stop-etl ----------------------------------------------------------
    def stop(self) -> dict[str, Any]:
        """Stop the schedule; the in-flight epoch completes first (the
        reference's task.stop() likewise only halts FUTURE fires, ST5).

        Claim-aware: if no query exists but ``_started_at`` is set, a
        ``run_once``/``schedule`` start is IN FLIGHT (slot claimed under
        the guard, work not yet registered) — stop must not erase that
        claim, or a concurrent third caller could pass the guard and
        double-start (the ST6 hole through the back door). In that case
        this is a no-op on state; call again once the start completes.
        """
        with self._guard:
            q = self._query
            cr = self._cron
        if cr is not None:
            # halt FUTURE fires first (non-blocking), then pick up an
            # in-flight fire's registered query so the q.stop() below
            # ends its epoch instead of this thread blocking the full
            # join timeout behind it (an epoch outlasting the join
            # would keep running with no handle left to stop it)
            cr.signal_stop()
            if q is None:
                with self._guard:
                    q = self._query
        if q is not None:
            # stop BEFORE releasing the handle: if q.stop() raises (a
            # dying stream's py4j error), _query stays set and a retry
            # stop() can still succeed — popping first would strand the
            # controller with is_running=True and no recovery path.
            # q.stop() returns once the query has ended; no
            # awaitTermination here: it re-raises a failed epoch's
            # error, which the scheduler thread records as lastError
            q.stop()
        if cr is not None:
            # the scheduler thread exits promptly now that the epoch is
            # stopped; join it, then sweep for a fire that registered
            # its query BETWEEN the signal and the join (it ran — the
            # signal only stops future fires) and stop that one too
            cr.stop()
            with self._guard:
                q2 = self._query if self._query is not q else None
            if q2 is not None:
                q2.stop()
        out = self.status()  # uptime snapshot before the claim clears
        if q is not None or cr is not None:
            with self._guard:
                if self._query is q:
                    self._query = None
                if self._cron is cr:
                    self._cron = None
                self._schedule = None
                self._started_at = None
        return out

    # -- etl-status / health ----------------------------------------------
    @property
    def is_running(self) -> bool:
        if self._cron is not None:
            return self._cron.is_alive
        return self._started_at is not None

    def status(self) -> dict[str, Any]:
        """The controller state GET /api/etl-status is rendered from
        (index.js:329-342): ``startedAt`` is epoch seconds; ``lastError``
        is the schedule's most recent failed fire, if any."""
        started, cron = self._started_at, self._cron
        return {
            "isRunning": self.is_running,
            "schedule": self._schedule,
            "startedAt": started,
            "uptimeSec": round(time.time() - started, 3)
            if started else None,
            "epochsCompleted": len(self.epoch_summaries),
            "lastError": cron.last_error if cron is not None else None,
            "lastSummary": self._last_summary,
        }

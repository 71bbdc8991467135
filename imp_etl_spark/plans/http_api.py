"""HTTP/SSE control plane: the reference's Express API, stdlib-only.

The reference serves its lifecycle verbs over Express (``index.js``):
``POST /api/start-etl`` (cron schedule, index.js:46-112),
``POST /api/start-etl-force`` (run now, index.js:114-164),
``POST /api/stop-etl`` (index.js:166-206), ``GET /api/etl-status``
(index.js:329-342), ``GET /health`` (index.js:344-355), plus a log
surface: ``GET /api/logs`` (last 100, newest first, index.js:208-252),
``DELETE /api/logs`` (truncate + broadcast ``event: clear``,
index.js:254-276) and ``GET /api/logs/stream`` (SSE tail,
index.js:278-318). This module reproduces that surface with
``http.server.ThreadingHTTPServer`` — no third-party web framework —
wrapping :class:`~imp_etl_spark.plans.control.EtlController`, whose
scheduler serializes fires and therefore cannot reproduce the
reference's cron-overlap bug (ST6). Schedule state (pattern, start
time, last error) lives in the controller; every verb reads it there.

Design notes:
- The server is control-plane only: one driver-side thread pool taking
  JSON verbs; all data movement stays inside Spark jobs. Nothing here
  is on the 100 TB data path.
- Schedules: the reference validates ANY node-cron pattern
  (index.js:30-37) and schedules it in Asia/Manila (index.js:75-86).
  Every valid pattern ("* * * * *", "*/5 * * * *", "0 9 * * 1-5",
  6-field seconds shapes) and every Spark interval string
  ("30 seconds") runs on the driver-side wall-clock scheduler
  (plans/cron.py): fires at the schedule's matches, none at start, one
  AvailableNow epoch per fire against the same checkpoint. Only
  invalid patterns get the reference's 400 shape.
- SSE tail: each connection polls the log file by offset (the ``tail``
  package's fs.watch, minus the dependency). DELETE bumps a clear
  generation that every tail compares on each poll, so a clear surfaces
  as the same ``event: clear`` the reference broadcasts even when the
  file regrows past the tail's offset within one poll; an external
  truncation is detected by shrinkage.
"""

from __future__ import annotations

import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from typing import Any, Callable

from imp_etl_spark.plans.control import EtlController
from imp_etl_spark.plans.cron import parse_schedule

_TS_RE = re.compile(r"^\[(.*?)\]")
_TRIGGER = "wall-clock cron (Asia/Manila)"
_NOTE = ("cron schedule: fires at wall-clock matches (Asia/Manila); "
         "each fire runs one incremental epoch")


def format_uptime(seconds: float) -> str:
    """``XhYmZs`` — the reference's formatUptime (index.js:38-43)."""
    s = int(seconds)
    return f"{s // 3600}h {(s // 60) % 60}m {s % 60}s"


def parse_log_line(line: str) -> dict[str, str]:
    """``[ts] message`` -> {timestamp, message} (index.js:218-228)."""
    m = _TS_RE.match(line)
    if m:
        return {"timestamp": m.group(1),
                "message": line[m.end():].strip()}
    return {"timestamp": "", "message": line.strip()}


class _Handler(BaseHTTPRequestHandler):
    """Routes are thin delegates to the owning :class:`EtlHttpServer`."""

    protocol_version = "HTTP/1.1"

    # silence the default stderr access log
    def log_message(self, fmt, *args):  # noqa: D102
        pass

    @property
    def api(self) -> "EtlHttpServer":
        return self.server.api  # type: ignore[attr-defined]

    def _cors(self) -> None:
        """The reference's cors() config (index.js:14-19): a fixed
        allowed origin (configurable here), credentials, and the same
        method/header lists."""
        self.send_header("Access-Control-Allow-Origin",
                         self.api.cors_origin)
        self.send_header("Access-Control-Allow-Credentials", "true")
        self.send_header("Access-Control-Allow-Methods",
                         "GET, POST, DELETE, OPTIONS")
        self.send_header("Access-Control-Allow-Headers",
                         "Content-Type, Authorization")

    def _json(self, code: int, payload: dict[str, Any]) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self._cors()
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict[str, Any]:
        n = int(self.headers.get("Content-Length") or 0)
        if not n:
            return {}
        try:
            return json.loads(self.rfile.read(n) or b"{}")
        except json.JSONDecodeError:
            return {}

    def _route(self, method: str) -> None:
        try:
            # match the path component only (Express semantics): query
            # strings like /api/logs?limit=50 or dashboard cache-busters
            # must not 404 a route that exists
            path = self.path.split("?", 1)[0]
            handler = self.api.routes.get((method, path))
            if handler is None:
                self._json(404, {"message": "Not found"})
                return
            handler(self)
        except (BrokenPipeError, ConnectionResetError):
            pass
        except Exception as exc:  # the Express error middleware
            try:
                self._json(500, {"message": "Internal server error",
                                 "error": str(exc)})
            except (BrokenPipeError, ConnectionResetError):
                pass

    def do_GET(self) -> None:  # noqa: N802
        self._route("GET")

    def do_POST(self) -> None:  # noqa: N802
        self._route("POST")

    def do_DELETE(self) -> None:  # noqa: N802
        self._route("DELETE")

    def do_OPTIONS(self) -> None:  # noqa: N802
        # CORS preflight: Express's cors() answers 204 with the allow
        # headers for any route
        self.send_response(204)
        self._cors()
        self.send_header("Content-Length", "0")
        self.end_headers()


class EtlHttpServer:
    """The reference's control API over an :class:`EtlController`.

    ``workload`` is a zero-arg factory returning the frames/paths the
    controller verbs need — keys ``queue, voucher, transaction,
    voucher_path, txn_path`` for run-now, plus ``queue_stream,
    checkpoint_dir`` to allow scheduling. Built per request so each run
    reads fresh inputs (the reference re-queries MySQL each fire).
    """

    def __init__(self, controller: EtlController,
                 workload: Callable[[], dict[str, Any]],
                 log_path: str, host: str = "127.0.0.1", port: int = 0,
                 cors_origin: str = "http://localhost:3001"):
        self.controller = controller
        self.cors_origin = cors_origin  # reference default, index.js:15
        self.workload = workload
        self.log_path = Path(log_path)
        self.log_path.parent.mkdir(parents=True, exist_ok=True)
        self.log_path.touch(exist_ok=True)
        self._stopping = threading.Event()
        self._lock = threading.Lock()
        # guards appends, clears and each tail's (generation, read)
        # snapshot, so a tail never reads a regrown file as new lines
        self._log_write_lock = threading.Lock()
        self._log_generation = 0
        self._forcing = False
        # epoch completions log themselves into the served log file,
        # like the reference's per-run logger lines
        controller.epoch_summaries = EtlHttpServer._EpochLog(self)
        self._last_run: float | None = None
        self.routes: dict[tuple[str, str], Callable[[_Handler], None]] = {
            ("POST", "/api/start-etl"): self._start_etl,
            ("POST", "/api/start-etl-force"): self._start_etl_force,
            ("POST", "/api/stop-etl"): self._stop_etl,
            ("GET", "/api/etl-status"): self._etl_status,
            ("GET", "/health"): self._health,
            ("GET", "/api/logs"): self._get_logs,
            ("DELETE", "/api/logs"): self._clear_logs,
            ("GET", "/api/logs/stream"): self._stream_logs,
        }
        self._httpd = ThreadingHTTPServer((host, port), _Handler)
        self._httpd.daemon_threads = True
        self._httpd.api = self  # type: ignore[attr-defined]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> "EtlHttpServer":
        self._thread.start()
        return self

    @property
    def address(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def close(self) -> None:
        """Graceful shutdown (index.js:378-390): stop the schedule, let
        the in-flight epoch finish, then close the server."""
        self._stopping.set()
        self.controller.stop()  # a no-op unless a schedule is active
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)

    def __enter__(self) -> "EtlHttpServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.close()

    @staticmethod
    def _iso_at(ts: float | None) -> str | None:
        """Epoch seconds -> Manila-time ISO with explicit +08:00 offset
        and millis (None passes through) — the reference's
        getPHTTimestamp (utils/logger.js:22-42; PHT has no DST, so a
        fixed offset is exact). Status/stop responses use this so every
        timestamp the API emits has one shape (index.js:329-342 returns
        ISO strings or null, never raw epochs)."""
        if ts is None:
            return None
        t = time.gmtime(ts + 8 * 3600)
        ms = int((ts % 1) * 1000)
        return (time.strftime("%Y-%m-%dT%H:%M:%S", t)
                + f".{ms:03d}+08:00")

    def _now_iso(self) -> str:
        return self._iso_at(time.time())

    def log(self, message: str) -> None:
        """Append a ``[timestamp] message`` line to the log file — the
        reference's logger writes these for every lifecycle event and
        ETL run, and /api/logs + the SSE stream serve the same file
        (utils/logger via index.js). Appends are line-atomic enough for
        the tail's line-based parser; the SSE pollers pick the line up
        on their next offset check."""
        with self._log_write_lock:
            with self.log_path.open("a") as f:
                f.write(f"[{self._now_iso()}] {message}\n")

    class _EpochLog(list):
        """epoch_summaries list that also logs each completed epoch."""

        def __init__(self, server: "EtlHttpServer"):
            super().__init__()
            self._server = server

        def append(self, summary) -> None:  # noqa: D102
            super().append(summary)
            try:
                p = summary.get("processedVoucherCount", 0) \
                    + summary.get("processedTransactionCount", 0)
                s = summary.get("skippedVoucherCount", 0) \
                    + summary.get("skippedTransactionCount", 0)
                self._server.log(
                    f"ETL epoch completed: processed={p} skipped={s}")
            except Exception:
                pass

    # -- control verbs -----------------------------------------------------

    def _start_etl(self, h: _Handler) -> None:
        with self._lock:
            # _forcing joins the guard: a forced batch run executes
            # OUTSIDE the server lock (long Spark jobs must not block
            # status/log verbs), so between its claim and run_once
            # stamping the controller there is a window where
            # controller.is_running alone would let a schedule start
            # concurrently — the reference's isEtlRunning overlap hole
            # (ST6). The controller's own guard is the backstop; this
            # check gives the clean 400 instead of a 500.
            if self.controller.is_running or self._forcing:
                h._json(400, {
                    "message": "ETL scheduler is already running",
                    "currentSchedule": self.controller.status()["schedule"],
                })
                return
            pattern = str(h._body().get("schedule") or "* * * * *")
            if parse_schedule(pattern) is None:
                h._json(400, {
                    "message": "Invalid cron schedule pattern",
                    "validExample": "* * * * * (every minute)",
                })
                return
            w = self.workload()
            self.controller.schedule(
                w["queue_stream"], w["voucher"], w["transaction"],
                w["voucher_path"], w["txn_path"], w["checkpoint_dir"],
                every=pattern)
            self.log(f"ETL scheduler started (schedule: {pattern}, "
                     f"trigger: {_TRIGGER})")
            h._json(200, {
                "message": "ETL scheduler started successfully",
                "schedule": pattern,
                "trigger": _TRIGGER,
                "startTime": self._now_iso(),
                "note": _NOTE,
            })

    def _start_etl_force(self, h: _Handler) -> None:
        # guard under the lock, run outside it: a second force during a
        # long run must get the reference's 400, not queue behind it
        with self._lock:
            if self.controller.is_running or self._forcing:
                h._json(400, {
                    "message": "ETL process is already running. Stop the "
                               "scheduler first or wait for it to complete.",
                    "currentSchedule": self.controller.status()["schedule"],
                })
                return
            self._forcing = True
        try:
            t0 = time.time()
            self._last_run = t0
            self.log("Starting forced ETL process")
            w = self.workload()
            summary = self.controller.run_once(
                w["queue"], w["voucher"], w["transaction"],
                w["voucher_path"], w["txn_path"])
        finally:
            self._forcing = False
        self.log(
            "Forced ETL process completed: processed="
            f"{summary['processedVoucherCount'] + summary['processedTransactionCount']}"
            f" skipped="
            f"{summary['skippedVoucherCount'] + summary['skippedTransactionCount']}")
        h._json(200, {
            "message": "Forced ETL process completed successfully",
            "processed": summary["processedVoucherCount"]
            + summary["processedTransactionCount"],
            "skipped": summary["skippedVoucherCount"]
            + summary["skippedTransactionCount"],
            "summary": summary,
            "duration": format_uptime(time.time() - t0),
        })

    def _stop_etl(self, h: _Handler) -> None:
        with self._lock:
            if not self.controller.is_running:
                h._json(400, {"message": "ETL scheduler is not running"})
                return
            # a stop during a forced run is a claim-aware no-op that
            # reports schedule null, like the reference's 200 with
            # stoppedSchedule null when etlTask is null (index.js:166-206)
            st = self.controller.stop()
        stopped = st["schedule"]
        uptime = format_uptime(self._schedule_uptime(st))
        self.log(f"ETL scheduler stopped (was: {stopped}, uptime: "
                 f"{uptime})")
        h._json(200, {
            "message": "ETL scheduler stopped successfully",
            "stoppedSchedule": stopped,
            "stoppedAt": self._now_iso(),
            "lastRun": self._iso_at(self._last_run),
            "totalUptime": uptime,
        })

    @staticmethod
    def _schedule_uptime(st: dict[str, Any]) -> float:
        """Seconds since the schedule in controller status ``st``
        started; 0 when no schedule is set (a forced run has none)."""
        if st["schedule"] is None:
            return 0
        return st["uptimeSec"] or 0

    def _etl_status(self, h: _Handler) -> None:
        st = self.controller.status()
        scheduled = st["schedule"] is not None
        h._json(200, {
            "isRunning": st["isRunning"],
            "currentSchedule": st["schedule"],
            "lastRun": self._iso_at(self._last_run),
            "startTime": self._iso_at(st["startedAt"]) if scheduled
            else None,
            "uptime": format_uptime(self._schedule_uptime(st)
                                    if st["isRunning"] else 0),
            "epochsCompleted": st["epochsCompleted"],
            "lastError": st["lastError"],
        })

    def _health(self, h: _Handler) -> None:
        st = self.controller.status()
        h._json(200, {
            "status": "healthy",
            "etlScheduler": "running" if st["isRunning"] else "stopped",
            "uptime": format_uptime(self._schedule_uptime(st)
                                    if st["isRunning"] else 0),
        })

    # -- log surface -------------------------------------------------------

    def _get_logs(self, h: _Handler) -> None:
        # read only the tail (the reference readFileSync's the whole
        # file — fine for its rotation habits, unbounded for a
        # long-lived scheduler); 256 KiB >> 100 lines of log text
        size = self.log_path.stat().st_size
        with self.log_path.open("rb") as f:
            f.seek(max(0, size - 262144))
            chunk = f.read().decode(errors="replace")
        if size > 262144:
            chunk = chunk.split("\n", 1)[-1]  # drop the cut first line
        lines = [ln for ln in chunk.splitlines() if ln.strip()]
        last = [parse_log_line(ln) for ln in lines[-100:]][::-1]
        h._json(200, {
            "message": "Logs retrieved successfully",
            "logs": last,
            "count": len(last),
            "path": str(self.log_path),
        })

    def _clear_logs(self, h: _Handler) -> None:
        # the generation bump is the broadcast: every attached SSE tail
        # sees it on its next poll and emits `event: clear` (reference:
        # index.js:259-262). A truncate in place keeps the inode, so
        # shrinkage alone misses a file that regrew within one poll.
        with self._log_write_lock:
            self.log_path.write_text("")
            self._log_generation += 1
        h._json(200, {"message": "Logs cleared successfully"})

    def _stream_logs(self, h: _Handler) -> None:
        h.send_response(200)
        h._cors()
        h.send_header("Content-Type", "text/event-stream")
        h.send_header("Cache-Control", "no-cache")
        h.send_header("Connection", "keep-alive")
        h.end_headers()

        def emit(event: str, payload: dict[str, Any]) -> None:
            h.wfile.write(
                f"event: {event}\ndata: {json.dumps(payload)}\n\n".encode())
            h.wfile.flush()

        # tail from NOW, like Tail: take the offset BEFORE announcing the
        # connection, so a line appended right after `connected` streams
        with self._log_write_lock:
            gen = self._log_generation
            offset = self.log_path.stat().st_size
        emit("connected", {"message": "Connected to log stream"})
        last_write = time.monotonic()
        try:
            while not self._stopping.is_set():
                chunk = ""
                with self._log_write_lock:
                    size = self.log_path.stat().st_size
                    cleared = gen != self._log_generation or size < offset
                    gen = self._log_generation
                    if cleared:
                        offset = 0
                    if size > offset:
                        with self.log_path.open("r") as f:
                            f.seek(offset)
                            chunk = f.read()
                            offset = f.tell()
                if cleared:
                    emit("clear", {})
                for ln in chunk.splitlines():
                    if ln.strip():
                        emit("log", parse_log_line(ln))
                if cleared or chunk:
                    last_write = time.monotonic()
                    continue
                # idle heartbeat: an SSE comment every couple of seconds
                # makes writes to a dead socket fail, so a client that
                # disconnected during a quiet stretch tears this thread
                # down instead of polling the file forever (the
                # reference unwatches the tail on req 'close')
                if time.monotonic() - last_write >= 2.0:
                    h.wfile.write(b": ping\n\n")
                    h.wfile.flush()
                    last_write = time.monotonic()
                time.sleep(0.1)
        except (BrokenPipeError, ConnectionResetError, OSError):
            pass

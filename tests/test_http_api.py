"""HTTP/SSE control plane (plans/http_api.py) vs the reference's
Express API surface: lifecycle verbs, status/health, log tail + SSE."""

from __future__ import annotations

import json
import socket
import time
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from imp_etl_spark.plans.control import EtlController
from imp_etl_spark.plans.cron import CronPattern, FixedPeriod, parse_schedule
from imp_etl_spark.plans.http_api import (
    EtlHttpServer,
    format_uptime,
    parse_log_line,
)
from imp_etl_spark.sources.parquet import read_table
from tests.conftest import SF_DIR


def _call(base: str, method: str, path: str, body: dict | None = None):
    req = urllib.request.Request(
        base + path, method=method,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=300) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _workload(spark, tmp_path):
    def factory():
        queue = read_table(spark, SF_DIR, "orders").select(
            F.col("o_orderkey").alias("log_id"),
            F.col("o_custkey").cast("string").alias("reference_no"),
            F.lit("voucher").alias("table"))
        voucher = read_table(spark, SF_DIR, "customer").select(
            F.col("c_custkey").cast("string").alias("voucher_id"),
            F.col("c_custkey").cast("string").alias("reference_no"),
            F.col("c_name").alias("first_name"))
        txn = read_table(spark, SF_DIR, "lineitem").join(
            read_table(spark, SF_DIR, "orders")
            .select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey")).select(
            F.concat_ws("-", "l_orderkey", "l_linenumber")
            .alias("voucher_details_id"),
            F.col("o_custkey").cast("string").alias("reference_no"),
            F.col("l_quantity").cast("string").alias("quantity"))
        src = str(tmp_path / "qstream")
        queue.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "log_id BIGINT, reference_no STRING, table STRING").parquet(src)
        return {
            "queue": queue, "voucher": voucher, "transaction": txn,
            "queue_stream": stream,
            "voucher_path": str(tmp_path / "v"),
            "txn_path": str(tmp_path / "t"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
        }
    return factory


@pytest.fixture()
def server(spark, tmp_path):
    srv = EtlHttpServer(EtlController(spark), _workload(spark, tmp_path),
                        log_path=str(tmp_path / "logs" / "etl.log"))
    with srv:
        yield srv


def test_parse_schedule_shapes():
    """The shapes the /start-etl handler accepts, as it parses them."""
    for cal in ("* * * * *", "*/5 * * * *", "15 * * * *", "30 2 * * *",
                "* * * * 1", "1 2 3 4 5 6"):
        assert isinstance(parse_schedule(cal), CronPattern), cal
    assert parse_schedule("45 seconds") == FixedPeriod("45 seconds", 45_000)
    assert parse_schedule("2 seconds") == FixedPeriod("2 seconds", 2_000)
    for bad in ("nope", "61 * * * *", "*/0 * * * *"):
        assert parse_schedule(bad) is None, bad


def test_format_uptime_matches_reference_shape():
    assert format_uptime(0) == "0h 0m 0s"
    assert format_uptime(3723) == "1h 2m 3s"


def test_parse_log_line():
    assert parse_log_line("[2024-01-01T00:00:00] hello world") == {
        "timestamp": "2024-01-01T00:00:00", "message": "hello world"}
    assert parse_log_line("bare line")["message"] == "bare line"


def test_health_and_status_idle(server):
    code, health = _call(server.address, "GET", "/health")
    assert code == 200 and health["status"] == "healthy"
    assert health["etlScheduler"] == "stopped"
    code, st = _call(server.address, "GET", "/api/etl-status")
    assert code == 200 and st["isRunning"] is False
    assert st["uptime"] == "0h 0m 0s"
    code, _ = _call(server.address, "GET", "/api/nope")
    assert code == 404


def test_force_run_and_double_stop(server):
    code, out = _call(server.address, "POST", "/api/start-etl-force", {})
    assert code == 200 and out["processed"] > 0
    assert out["summary"]["processedVoucherCount"] > 0
    # not running afterwards; stop without a schedule is the 400 path
    code, out = _call(server.address, "POST", "/api/stop-etl", {})
    assert code == 400 and "not running" in out["message"]
    # lifecycle events land in the served log, reference-style
    code, logs = _call(server.address, "GET", "/api/logs")
    msgs = [entry["message"] for entry in logs["logs"]]
    assert any(m.startswith("Starting forced ETL process") for m in msgs)
    assert any(m.startswith("Forced ETL process completed") for m in msgs)


def test_invalid_schedule_is_400(server):
    code, out = _call(server.address, "POST", "/api/start-etl",
                      {"schedule": "not a cron"})
    assert code == 400 and "Invalid cron" in out["message"]


def test_schedule_status_conflict_stop_cycle(server):
    code, out = _call(server.address, "POST", "/api/start-etl",
                      {"schedule": "2 seconds"})
    assert code == 200 and out["schedule"] == "2 seconds"
    code, st = _call(server.address, "GET", "/api/etl-status")
    assert st["isRunning"] is True and st["currentSchedule"] == "2 seconds"
    # second start while running: the reference's 400 guard
    code, out = _call(server.address, "POST", "/api/start-etl",
                      {"schedule": "* * * * *"})
    assert code == 400 and "already running" in out["message"]
    code, out = _call(server.address, "POST", "/api/start-etl-force", {})
    assert code == 400
    # wait for >=1 epoch so the stop has something to have done
    deadline = time.time() + 120
    while time.time() < deadline:
        _, st = _call(server.address, "GET", "/api/etl-status")
        if st["epochsCompleted"] >= 1:
            break
        time.sleep(1)
    assert st["epochsCompleted"] >= 1
    code, out = _call(server.address, "POST", "/api/stop-etl", {})
    assert code == 200 and out["stoppedSchedule"] == "2 seconds"
    _, st = _call(server.address, "GET", "/api/etl-status")
    assert st["isRunning"] is False
    # the schedule's epochs logged themselves into the served file
    _, logs = _call(server.address, "GET", "/api/logs")
    msgs = [entry["message"] for entry in logs["logs"]]
    assert any(m.startswith("ETL scheduler started") for m in msgs)
    assert any(m.startswith("ETL epoch completed") for m in msgs)
    assert any(m.startswith("ETL scheduler stopped") for m in msgs)


def test_logs_roundtrip_last100_reversed(server):
    with open(server.log_path, "w") as f:
        for i in range(120):
            f.write(f"[2024-01-01T00:00:{i % 60:02d}] line {i}\n")
    code, out = _call(server.address, "GET", "/api/logs")
    assert code == 200 and out["count"] == 100
    assert out["logs"][0]["message"] == "line 119"   # newest first
    assert out["logs"][-1]["message"] == "line 20"   # tail-100 window
    code, _ = _call(server.address, "DELETE", "/api/logs")
    assert code == 200
    code, out = _call(server.address, "GET", "/api/logs")
    assert out["count"] == 0


def _read_sse_events(sock_file, want: int, timeout: float = 30):
    """Parse up to ``want`` SSE events from a socket file object.

    Returns as soon as ``want`` events arrive, so the deadline is pure
    headroom: 30 s matches the socket timeout (a 10 s default flaked
    once in round 9 when host-level contention — bench calibration
    7x its baseline — stretched the server's tail-poll past it)."""
    events, event, data = [], None, None
    deadline = time.time() + timeout
    while len(events) < want and time.time() < deadline:
        line = sock_file.readline().decode().rstrip("\n")
        if line.startswith("event: "):
            event = line[7:]
        elif line.startswith("data: "):
            data = json.loads(line[6:])
        elif line == "" and event is not None:
            events.append((event, data))
            event, data = None, None
    return events


def _sse_connect(server):
    """Open ``GET /api/logs/stream`` on a raw socket; returns the socket
    and a reader positioned after the response headers."""
    import urllib.parse
    u = urllib.parse.urlparse(server.address)
    sock = socket.create_connection((u.hostname, u.port), timeout=30)
    sock.sendall(b"GET /api/logs/stream HTTP/1.1\r\n"
                 b"Host: x\r\nAccept: text/event-stream\r\n\r\n")
    f = sock.makefile("rb")
    while f.readline().strip():
        pass
    return sock, f


def test_sse_stream_tail_and_clear(server):
    sock, f = _sse_connect(server)
    events = _read_sse_events(f, 1)
    assert events and events[0][0] == "connected"
    with open(server.log_path, "a") as lf:
        lf.write("[2024-01-01T00:00:00] streamed one\n")
        lf.write("plain line\n")
    events = _read_sse_events(f, 2)
    assert [e for e, _ in events] == ["log", "log"]
    assert events[0][1]["message"] == "streamed one"
    assert events[0][1]["timestamp"] == "2024-01-01T00:00:00"
    assert events[1][1]["message"] == "plain line"
    # truncation (DELETE /api/logs) surfaces as event: clear
    code, _ = _call(server.address, "DELETE", "/api/logs")
    assert code == 200
    with open(server.log_path, "a") as lf:
        lf.write("[2024-01-01T00:00:01] after clear\n")
    events = _read_sse_events(f, 2)
    assert [e for e, _ in events] == ["clear", "log"]
    assert events[1][1]["message"] == "after clear"
    sock.close()


def test_sse_clear_then_regrow_past_offset(server):
    """A clear followed at once by more bytes than the tail's old offset
    (the file regrows within one poll, so its size never shrinks under
    the tail) still streams ``clear`` and then every new line."""
    sock, f = _sse_connect(server)
    assert _read_sse_events(f, 1)[0][0] == "connected"
    with open(server.log_path, "a") as lf:
        lf.write("[2024-01-01T00:00:00] before\n")
    assert [e for e, _ in _read_sse_events(f, 1)] == ["log"]
    code, _ = _call(server.address, "DELETE", "/api/logs")
    assert code == 200
    with open(server.log_path, "a") as lf:
        for i in range(3):
            lf.write(f"[2024-01-01T00:00:0{i}] regrown {i} padding\n")
    events = _read_sse_events(f, 4)
    assert [e for e, _ in events] == ["clear", "log", "log", "log"]
    assert [p["message"] for _, p in events[1:]] == [
        f"regrown {i} padding" for i in range(3)]
    sock.close()


def test_cors_headers_and_preflight(server):
    req = urllib.request.Request(server.address + "/health")
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert resp.headers["Access-Control-Allow-Origin"] \
            == "http://localhost:3001"
        assert resp.headers["Access-Control-Allow-Credentials"] == "true"
    pre = urllib.request.Request(server.address + "/api/start-etl",
                                 method="OPTIONS")
    with urllib.request.urlopen(pre, timeout=30) as resp:
        assert resp.status == 204
        assert "POST" in resp.headers["Access-Control-Allow-Methods"]
        assert "Content-Type" in resp.headers[
            "Access-Control-Allow-Headers"]


def test_log_timestamps_are_manila_iso(server):
    code, _ = _call(server.address, "POST", "/api/start-etl-force", {})
    assert code == 200
    _, logs = _call(server.address, "GET", "/api/logs")
    import re
    ts = logs["logs"][0]["timestamp"]
    # reference format: 2024-01-01T12:34:56.789+08:00 (utils/logger.js)
    assert re.fullmatch(
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}\+08:00", ts), ts


def test_zero_interval_rejected():
    assert parse_schedule("0 seconds") is None
    assert parse_schedule("0 minutes") is None


def test_status_timestamps_iso_or_null(server):
    """lastRun/startTime are ISO strings or null, never raw epochs —
    shape parity with index.js:329-342."""
    import re
    _, st = _call(server.address, "GET", "/api/etl-status")
    assert st["lastRun"] is None and st["startTime"] is None
    code, _ = _call(server.address, "POST", "/api/start-etl-force", {})
    assert code == 200
    _, st = _call(server.address, "GET", "/api/etl-status")
    iso = r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}\+08:00"
    assert re.fullmatch(iso, st["lastRun"]), st["lastRun"]
    # force run finished -> startTime back to null
    assert st["startTime"] is None
    # stop response carries lastRun for shape parity too
    code, out = _call(server.address, "POST", "/api/start-etl",
                      {"schedule": "2 seconds"})
    assert code == 200
    code, out = _call(server.address, "POST", "/api/stop-etl", {})
    assert code == 200 and re.fullmatch(iso, out["lastRun"])


def test_cron_shape_start_routes_wall_clock(server):
    """Every schedule — cron shape or Spark interval — runs on the
    wall-clock scheduler, and the response says so the same way."""
    for pattern in ("*/5 * * * *", "2 seconds"):
        code, out = _call(server.address, "POST", "/api/start-etl",
                          {"schedule": pattern})
        assert code == 200
        assert out["trigger"] == "wall-clock cron (Asia/Manila)"
        assert "wall-clock" in out.get("note", "")
        code, out2 = _call(server.address, "POST", "/api/stop-etl", {})
        assert code == 200 and out2["stoppedSchedule"] == pattern


def test_start_etl_blocked_while_force_in_flight(server):
    """The ST6 overlap hole from ADVICE r4: while a forced run is in
    its pre-stamp window (_forcing set, controller not yet running), a
    schedule request must get the 400, not start a concurrent writer."""
    with server._lock:
        server._forcing = True
    try:
        code, out = _call(server.address, "POST", "/api/start-etl",
                          {"schedule": "2 seconds"})
        assert code == 400 and "already running" in out["message"]
        code, _ = _call(server.address, "POST", "/api/start-etl-force", {})
        assert code == 400
    finally:
        with server._lock:
            server._forcing = False


def test_controller_guard_is_atomic(spark, tmp_path, monkeypatch):
    """EtlController.run_once claim-and-check is atomic: with a slow
    run in flight, a concurrent schedule() (and a second run_once)
    refuses instead of double-starting — the backstop below the HTTP
    layer."""
    import threading

    from imp_etl_spark.plans import control as control_mod

    ctl = EtlController(spark)
    release = threading.Event()
    started = threading.Event()

    def slow_run_etl(*a, **k):
        started.set()
        release.wait(30)
        return {"ok": True}

    monkeypatch.setattr(control_mod, "run_etl", slow_run_etl)
    t = threading.Thread(
        target=lambda: ctl.run_once(None, None, None, "v", "t"))
    t.start()
    try:
        assert started.wait(10)
        assert ctl.is_running
        with pytest.raises(RuntimeError, match="already"):
            ctl.run_once(None, None, None, "v", "t")
        with pytest.raises(RuntimeError, match="already"):
            ctl.schedule(None, None, None, "v", "t", "ck")
        # stop() with no query but a claim in flight must NOT erase the
        # claim (else a third caller could double-start through the
        # stop-side of the ST6 hole)
        ctl.stop()
        assert ctl.is_running
        with pytest.raises(RuntimeError, match="already"):
            ctl.run_once(None, None, None, "v", "t")
    finally:
        release.set()
        t.join(30)
    assert not ctl.is_running


def test_sse_idle_heartbeat_reaches_client(server):
    """With no log activity the stream emits ': ping' comments, so a
    dead client socket fails a write and the handler thread exits
    rather than polling forever."""
    import urllib.parse
    u = urllib.parse.urlparse(server.address)
    sock = socket.create_connection((u.hostname, u.port), timeout=30)
    sock.sendall(b"GET /api/logs/stream HTTP/1.1\r\n"
                 b"Host: x\r\nAccept: text/event-stream\r\n\r\n")
    f = sock.makefile("rb")
    while f.readline().strip():
        pass
    deadline = time.time() + 15
    saw_ping = False
    while time.time() < deadline and not saw_ping:
        line = f.readline().decode()
        if line.startswith(": ping"):
            saw_ping = True
    assert saw_ping
    sock.close()


def test_calendar_cron_start_accepted(server):
    """r10: calendar patterns the reference accepts via cron.validate
    (index.js:30-37) — e.g. weekdays-at-9 — no longer 400: they start
    the driver-side wall-clock scheduler (plans/cron.py) and stop
    cleanly."""
    code, out = _call(server.address, "POST", "/api/start-etl",
                      {"schedule": "0 9 * * 1-5"})
    assert code == 200 and out["schedule"] == "0 9 * * 1-5"
    assert out["trigger"].startswith("wall-clock cron")
    assert "wall-clock" in out.get("note", "")
    code, st = _call(server.address, "GET", "/api/etl-status")
    assert code == 200 and st["isRunning"] is True
    # second start while the calendar schedule holds the slot: 400
    code, out2 = _call(server.address, "POST", "/api/start-etl",
                       {"schedule": "2 seconds"})
    assert code == 400 and "already running" in out2["message"]
    code, _ = _call(server.address, "POST", "/api/stop-etl", {})
    assert code == 200
    code, st = _call(server.address, "GET", "/api/etl-status")
    assert st["isRunning"] is False


class _FailedEpoch:
    """A fire's query whose epoch failed."""

    isActive = False

    def stop(self):
        pass

    def awaitTermination(self, timeout=None):
        raise RuntimeError("merge failed")


def test_status_reports_last_failed_fire(tmp_path, monkeypatch):
    """A schedule whose fires fail keeps running, and etl-status shows
    the last error next to ``isRunning: true``."""
    from imp_etl_spark.plans import control as control_mod

    monkeypatch.setattr(control_mod, "run_etl_stream",
                        lambda *a, **k: _FailedEpoch())
    keys = ("queue_stream", "voucher", "transaction", "voucher_path",
            "txn_path", "checkpoint_dir")
    with EtlHttpServer(EtlController(None), lambda: dict.fromkeys(keys),
                       log_path=str(tmp_path / "etl.log")) as srv:
        _, st = _call(srv.address, "GET", "/api/etl-status")
        assert st["lastError"] is None
        code, _ = _call(srv.address, "POST", "/api/start-etl",
                        {"schedule": "1 second"})
        assert code == 200
        deadline = time.time() + 30
        while st["lastError"] is None and time.time() < deadline:
            time.sleep(0.1)
            _, st = _call(srv.address, "GET", "/api/etl-status")
        assert st["isRunning"] is True and st["currentSchedule"] == "1 second"
        assert st["lastError"] == "RuntimeError: merge failed"
        code, out = _call(srv.address, "POST", "/api/stop-etl", {})
        assert code == 200 and out["stoppedSchedule"] == "1 second"

"""Schedules (plans/cron.py): the reference accepts ANY node-cron
pattern (index.js:30-37 cron.validate; index.js:75-86 cron.schedule in
Asia/Manila, runOnInit:false) — these tests pin the engine's pattern
grammar, next-fire search, node-cron AND field semantics, the Spark
interval period, the wall-clock scheduler (injectable clock), and the
controller integration every schedule shares."""

from __future__ import annotations

import time
from datetime import datetime, timedelta
from zoneinfo import ZoneInfo

import pytest
from pyspark.sql import functions as F

from imp_etl_spark.plans.cron import (
    CronPattern,
    CronScheduler,
    FixedPeriod,
    parse_schedule,
)

MNL = ZoneInfo("Asia/Manila")


def _dt(*args):
    return datetime(*args, tzinfo=MNL)


class FakeClock:
    """Injectable clock: each read advances by ``step`` seconds, so the
    scheduler's poll loop consumes simulated — not wall — time."""

    def __init__(self, start: datetime, step: float = 0.0):
        self.now, self.step = start, step

    def __call__(self) -> datetime:
        t = self.now
        self.now = t + timedelta(seconds=self.step)
        return t


class FakeQuery:
    """A fire's streaming query whose epoch runs until ``stop()`` (or
    ends at once with ``done=True``), optionally failing the way a
    failed epoch's ``awaitTermination`` does."""

    def __init__(self, done: bool = False, error: BaseException | None = None):
        import threading

        self._done = threading.Event()
        if done:
            self._done.set()
        self.error = error
        self.stop_calls = 0

    @property
    def isActive(self):
        return not self._done.is_set()

    def stop(self):
        self.stop_calls += 1
        self._done.set()

    def awaitTermination(self, timeout=None):
        self._done.wait(timeout)
        if self.error is not None:
            raise self.error
        return self._done.is_set()


def test_weekday_pattern_next_fire():
    # the verdict's canonical example: weekdays at 9 (Manila)
    pat = CronPattern.parse("0 9 * * 1-5")
    # Wed 2026-08-12 08:00 -> same day 09:00
    assert pat.next_fire(_dt(2026, 8, 12, 8, 0)) == _dt(2026, 8, 12, 9, 0)
    # Wed 09:00 exactly -> STRICTLY after -> Thu 09:00
    assert pat.next_fire(_dt(2026, 8, 12, 9, 0)) == _dt(2026, 8, 13, 9, 0)
    # Fri 09:30 -> skips the weekend -> Mon 09:00
    assert pat.next_fire(_dt(2026, 8, 14, 9, 30)) == _dt(2026, 8, 17, 9, 0)
    assert pat.matches(_dt(2026, 8, 17, 9, 0, 0))
    assert not pat.matches(_dt(2026, 8, 16, 9, 0, 0))  # Sunday


def test_names_lists_ranges_steps():
    pat = CronPattern.parse("30 12 * * mon,WED,fri")
    assert pat.dows == frozenset({1, 3, 5})
    pat = CronPattern.parse("0 0 1 jan,july *")
    assert pat.months == frozenset({1, 7})
    assert pat.next_fire(_dt(2026, 2, 2)) == _dt(2026, 7, 1, 0, 0)
    # dow 7 is Sunday, same as 0
    assert CronPattern.parse("0 0 * * 7").dows == frozenset({0})
    # step over a range
    pat = CronPattern.parse("10-40/15 * * * *")
    assert pat.minutes == frozenset({10, 25, 40})
    # every-2-hours day shape
    pat = CronPattern.parse("5 */6 * * *")
    assert pat.hours == frozenset({0, 6, 12, 18})
    assert pat.next_fire(_dt(2026, 8, 12, 6, 6)) == _dt(2026, 8, 12, 12, 5)


def test_seconds_field_six_fields():
    pat = CronPattern.parse("*/20 * * * * *")
    assert pat.seconds == frozenset({0, 20, 40})
    t = _dt(2026, 8, 12, 8, 0, 5)
    assert pat.next_fire(t) == _dt(2026, 8, 12, 8, 0, 20)
    assert pat.next_fire(_dt(2026, 8, 12, 8, 0, 40)) == \
        _dt(2026, 8, 12, 8, 1, 0)
    # 5-field patterns fire at second 0 (node-cron)
    assert CronPattern.parse("* * * * *").seconds == frozenset({0})


def test_dom_dow_are_ANDed_like_node_cron():
    """node-cron matches every field independently — '0 0 13 * fri'
    fires ONLY on Friday the 13th (vixie cron would OR and fire on
    every 13th AND every Friday; the reference's library is the
    contract)."""
    pat = CronPattern.parse("0 0 13 * fri")
    nxt = pat.next_fire(_dt(2026, 1, 1))
    assert nxt.day == 13 and (nxt.weekday() + 1) % 7 == 5
    # 2026-02-13 IS a Friday; an OR would have fired Jan 13 (Tuesday)
    assert nxt == _dt(2026, 2, 13, 0, 0)


def test_invalid_and_never_firing_patterns():
    for bad in ("61 * * * *", "* 24 * * *", "* * 0 * *", "* * * 13 *",
                "* * * * 8", "*/0 * * * *", "5-1 * * * *", "x * * * *",
                "* * * *", "1 2 3 4 5 6 7"):
        with pytest.raises(ValueError):
            CronPattern.parse(bad)
    # syntactically valid, semantically unreachable: Feb 30
    pat = CronPattern.parse("0 0 30 2 *")
    with pytest.raises(ValueError, match="never fires"):
        pat.next_fire(_dt(2026, 1, 1))


def test_classify_schedule_three_way():
    """One parser, three outcomes: a Spark interval string is a fixed
    period, every valid cron pattern (``* * * * *`` included) is a
    CronPattern, anything else is invalid."""
    assert parse_schedule("30 seconds") == FixedPeriod("30 seconds", 30_000)
    assert parse_schedule("2 hours") == FixedPeriod("2 hours", 7_200_000)
    for cal in ("* * * * *", "*/5 * * * *", "15 * * * *", "30 2 * * *",
                "0 9 * * 1-5", "0 0 1 * *", "0,30 9-17 * * *",
                "*/20 * * * * *", "0 0 13 * fri"):
        assert parse_schedule(cal) == CronPattern.parse(cal), cal
    for bad in ("nope", "61 * * * *", "0 seconds", "*/0 * * * *"):
        assert parse_schedule(bad) is None, bad


def test_fixed_period_fires_on_epoch_aligned_multiples():
    """A Spark interval fires at multiples of the period counted from
    the Unix epoch (Spark's processing-time phase), strictly after."""
    from datetime import timezone

    p = parse_schedule("1 minute")
    assert p.next_fire(_dt(2026, 8, 12, 8, 59, 30)) == _dt(2026, 8, 12, 9)
    assert p.next_fire(_dt(2026, 8, 12, 9)) == _dt(2026, 8, 12, 9, 1)
    # a day is aligned to UTC midnight: 08:00 in Manila
    d = parse_schedule("1 day").next_fire(_dt(2026, 8, 12, 9))
    assert d == _dt(2026, 8, 13, 8) and d.tzinfo is MNL
    assert d.astimezone(timezone.utc).hour == 0
    ms = parse_schedule("250 milliseconds")
    assert ms.next_fire(_dt(2026, 8, 12, 9, 0, 0, 100_000)) == \
        _dt(2026, 8, 12, 9, 0, 0, 250_000)


def test_scheduler_fires_with_fake_clock():
    clock = FakeClock(_dt(2026, 8, 12, 8, 59, 58), step=0.5)
    fires: list[datetime] = []
    sch = CronScheduler("0 9 * * 1-5", lambda: fires.append(clock.now),
                        now_fn=clock, tick=0.001).start()
    deadline = time.time() + 30
    while not fires and time.time() < deadline:
        time.sleep(0.01)
    sch.stop()
    assert sch.fired == 1 and len(fires) == 1
    assert not sch.is_alive
    # the fire happened at/after the 09:00 wall match, never before
    assert clock.now >= _dt(2026, 8, 12, 9, 0, 0)


def test_scheduler_keeps_firing_after_error():
    clock = FakeClock(_dt(2026, 8, 12, 8, 59, 59), step=2.0)
    calls: list[int] = []

    def boom():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("first fire fails")

    sch = CronScheduler("* * * * *", boom, now_fn=clock,
                        tick=0.001).start()
    deadline = time.time() + 30
    while len(calls) < 3 and time.time() < deadline:
        time.sleep(0.01)
    sch.stop()
    assert len(calls) >= 3 and sch.fired >= 3
    assert sch.error_count == 1
    assert sch.last_error == "RuntimeError: first fire fails"


def test_controller_calendar_schedule_runs_epochs(spark, tmp_path):
    """EtlController.schedule('0 9 * * 1-5'): a calendar pattern fires
    an AvailableNow epoch at the wall-clock match and stop() halts the
    scheduler (VERDICT r10 item 2's done-criterion)."""
    from imp_etl_spark.plans.control import EtlController
    from imp_etl_spark.sources.parquet import read_table
    from tests.conftest import SF_DIR

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

    clock = FakeClock(_dt(2026, 8, 12, 8, 59, 59), step=0.5)
    ctl = EtlController(spark)
    ctl.schedule(stream, voucher, txn, str(tmp_path / "v"),
                 str(tmp_path / "t"), str(tmp_path / "ckpt"),
                 every="0 9 * * 1-5", clock=clock, tick=0.005)
    assert ctl.status()["isRunning"] is True
    assert ctl.status()["schedule"] == "0 9 * * 1-5"
    with pytest.raises(RuntimeError, match="already"):
        ctl.schedule(stream, voucher, txn, "x", "y", "z")
    deadline = time.time() + 120
    while not ctl.epoch_summaries and time.time() < deadline:
        time.sleep(0.5)
    st = ctl.stop()
    assert st["epochsCompleted"] >= 1
    assert ctl.status()["isRunning"] is False
    assert ctl.epoch_summaries[0]["processedVoucherCount"] > 0
    assert ctl._cron is None  # stop released the scheduler handle

    # invalid pattern is rejected up front, slot stays free
    with pytest.raises(ValueError, match="invalid schedule"):
        ctl.schedule(stream, voucher, txn, "x", "y", "z",
                     every="*/0 * * * *")
    assert ctl.status()["isRunning"] is False


def test_stop_reaches_inflight_fire_epoch(spark, monkeypatch):
    """r11 (ADVICE): a calendar fire's AvailableNow query is registered
    on the controller while the epoch runs, so stop() can q.stop() an
    epoch that outlasts the scheduler join instead of reporting stopped
    while the query keeps running handleless. Uses a fake stream whose
    epoch blocks until stopped — with only the thread-join path, this
    test would hang for the full 120 s join timeout."""
    import threading

    from imp_etl_spark.plans import control as control_mod
    from imp_etl_spark.plans.control import EtlController

    fired = threading.Event()
    queries: list[FakeQuery] = []

    def fake_stream(*args, **kwargs):
        q = FakeQuery()
        queries.append(q)
        fired.set()
        return q

    monkeypatch.setattr(control_mod, "run_etl_stream", fake_stream)
    clock = FakeClock(_dt(2026, 8, 12, 8, 59, 59), step=0.5)
    ctl = EtlController(spark)
    ctl.schedule(None, None, None, "v", "t", "ckpt",
                 every="0 9 * * 1-5", clock=clock, tick=0.005)
    assert fired.wait(30), "fire never started"
    deadline = time.time() + 30
    while ctl._query is None and time.time() < deadline:
        time.sleep(0.01)
    assert ctl._query is queries[0]  # registered while epoch in flight
    assert ctl.status()["isRunning"] is True
    t0 = time.time()
    st = ctl.stop()
    took = time.time() - t0
    assert queries[0].stop_calls >= 1  # stop reached the epoch's query
    assert took < 60, f"stop blocked {took:.0f}s behind the epoch"
    assert st is not None
    assert ctl.status()["isRunning"] is False
    assert ctl._query is None and ctl._cron is None


def test_cron_next_fire_fuzz_vs_brute_force():
    """Seeded randomized differential for the next-fire search (the r10
    fuzz class for calendar-cron parsing): random patterns from the
    grammar vs an INDEPENDENT brute-force minute scan. Pins (a)
    strictly-after, (b) self-consistency (matches(next_fire)), and (c)
    no earlier match exists — the field-skipping search must never skip
    OVER a fire."""
    import random

    rng = random.Random(2026)

    def rand_field(lo, hi, names=None):
        kind = rng.randrange(6)
        if kind == 0:
            return "*"
        if kind == 1:
            return f"*/{rng.randint(1, hi)}"
        if kind == 2:
            a = rng.randint(lo, hi - 1)
            return f"{a}-{rng.randint(a, hi)}"
        if kind == 3:
            return ",".join(str(rng.randint(lo, hi))
                            for _ in range(rng.randint(1, 4)))
        if kind == 4 and names:
            return rng.choice(list(names))
        return str(rng.randint(lo, hi))

    months = ("jan feb mar apr may jun jul aug sep oct nov dec "
              "january february march").split()
    dows = "sun mon tue wed thu fri sat sunday monday friday".split()

    checked = 0
    for _ in range(300):
        # bias dom/month toward '*' so most draws fire within the
        # brute-scan horizon (sparse calendar shapes still drawn)
        pattern = " ".join([
            rand_field(0, 59), rand_field(0, 23),
            "*" if rng.random() < 0.6 else rand_field(1, 31),
            "*" if rng.random() < 0.7 else rand_field(1, 12, months),
            rand_field(0, 7, dows)])
        pat = CronPattern.parse(pattern)
        after = _dt(2026, rng.randint(1, 12), rng.randint(1, 28),
                    rng.randint(0, 23), rng.randint(0, 59),
                    rng.randint(0, 59))
        try:
            nxt = pat.next_fire(after)
        except ValueError:
            continue  # unreachable pattern (e.g. dom 31 in 30-day months)
        assert nxt > after, (pattern, after, nxt)
        assert pat.matches(nxt), (pattern, nxt)
        # brute scan: no earlier matching minute within the horizon
        cur = (after + timedelta(minutes=1)).replace(second=0,
                                                     microsecond=0)
        steps = 0
        while cur < nxt.replace(second=0) and steps < 20000:
            assert not pat._minute_ok(cur), (pattern, after, cur, nxt)
            cur += timedelta(minutes=1)
            steps += 1
        if steps < 20000:
            checked += 1
    assert checked >= 150  # the brute scan actually verified most draws


def test_scheduler_execution_fuzz_fake_clock():
    """r11 (VERDICT item 5): randomized SCHEDULER-EXECUTION differential
    with an injectable clock — beyond the next-fire parsing fuzz, this
    drives CronScheduler itself: every fire must land at-or-promptly-
    after a genuine pattern match (sandwich bound modulo clock reads),
    fires stay ordered, month/year-boundary starts are drawn
    explicitly, and 6-field seconds patterns run through the live
    loop."""
    import random

    rng = random.Random(1147)
    draws = 0
    while draws < 14:
        kind = rng.randrange(4)
        if kind == 0:  # minute-level, hour phase
            pattern = f"{rng.randint(0, 59)} * * * *"
        elif kind == 1:  # seconds field (6-field)
            pattern = f"*/{rng.randint(10, 30)} * * * * *"
        elif kind == 2:  # daily wall-clock phase
            pattern = f"{rng.randint(0, 59)} {rng.randint(0, 23)} * * *"
        else:  # weekday shape
            pattern = (f"{rng.randint(0, 59)} {rng.randint(0, 23)} "
                       f"* * {rng.randint(0, 6)}")
        pat = CronPattern.parse(pattern)
        if rng.random() < 0.4:
            # month/year boundary starts: last minutes of a month
            y, mo = 2026, rng.randint(1, 12)
            last_dom = {1: 31, 2: 28, 3: 31, 4: 30, 5: 31, 6: 30, 7: 31,
                        8: 31, 9: 30, 10: 31, 11: 30, 12: 31}[mo]
            start = _dt(y, mo, last_dom, 23, rng.randint(57, 59),
                        rng.randint(0, 59))
        else:
            start = _dt(2026, rng.randint(1, 12), rng.randint(1, 28),
                        rng.randint(0, 23), rng.randint(0, 59),
                        rng.randint(0, 59))
        e1 = pat.next_fire(start)
        e2 = pat.next_fire(e1)
        gap1 = (e1 - start).total_seconds()
        gap2 = (e2 - e1).total_seconds()
        step = max(0.5, max(gap1, gap2) / 250.0)
        if gap2 <= step * 20:  # dense vs step: sandwich would be vacuous
            continue
        draws += 1

        clock = FakeClock(start, step=step)
        fires: list[datetime] = []
        sch = CronScheduler(pat, lambda: fires.append(clock.now),
                            now_fn=clock, tick=0.001).start()
        deadline = time.time() + 60
        while len(fires) < 2 and time.time() < deadline:
            time.sleep(0.005)
        sch.stop()
        assert len(fires) >= 2, (pattern, start, step)
        assert fires == sorted(fires), (pattern, fires)
        slack = timedelta(seconds=step * 8)
        prev = start
        for t in fires[:2]:
            lo = pat.next_fire(prev)
            hi = pat.next_fire(prev + slack) + slack
            assert lo <= t <= hi, (pattern, prev, lo, t, hi, step)
            prev = t


def test_scheduler_stop_during_sleep_fires_nothing():
    """Stop while the scheduler sleeps toward a far-away match: no
    fire, thread exits promptly, zero errors (r11, VERDICT item 5)."""
    clock = FakeClock(_dt(2026, 8, 12, 9, 1, 0), step=0.25)
    fires: list = []
    # next fire ~24h of simulated time away
    sch = CronScheduler("0 9 * * *", lambda: fires.append(1),
                        now_fn=clock, tick=0.001).start()
    time.sleep(0.05)  # scheduler is mid-sleep toward tomorrow 09:00
    t0 = time.time()
    sch.stop()
    assert time.time() - t0 < 30
    assert fires == [] and sch.fired == 0 and sch.error_count == 0
    assert sch.last_error is None
    assert not sch.is_alive


def test_cron_dst_gap_and_fold_pins():
    """Pin the documented DST simplification on a real DST zone
    (America/New_York, spring-forward 2026-03-08 02:00->03:00 and
    fall-back 2026-11-01 02:00->01:00):

    - GAP: next_fire returns the skipped wall time (02:30 exists as a
      Python wall datetime); as a UTC instant it lands 30 real minutes
      after the clock jump — i.e. the fire is NOT lost, it happens at
      the phantom time's post-gap instant (03:30 EDT).
    - FOLD: the repeated wall hour matches ONCE (first fold); the next
      fire after it is the following day, not the second 01:30.
    """
    ny = ZoneInfo("America/New_York")
    pat = CronPattern.parse("30 2 * * *")
    before_gap = datetime(2026, 3, 8, 1, 59, tzinfo=ny)
    nxt = pat.next_fire(before_gap)
    assert (nxt.year, nxt.month, nxt.day, nxt.hour, nxt.minute) == \
        (2026, 3, 8, 2, 30)
    # the phantom wall time maps to 03:30 EDT = 07:30 UTC — 31 real
    # minutes after 01:59 EST (06:59 UTC): the fire survives the gap
    from datetime import timezone
    assert nxt.astimezone(timezone.utc) - before_gap.astimezone(
        timezone.utc) == timedelta(minutes=31)

    pat2 = CronPattern.parse("30 1 * * *")
    before_fold = datetime(2026, 11, 1, 0, 59, tzinfo=ny)
    first = pat2.next_fire(before_fold)
    assert (first.day, first.hour, first.minute, first.fold) == \
        (1, 1, 30, 0)  # the FIRST 01:30 (EDT)
    after = pat2.next_fire(first)
    assert (after.day, after.hour, after.minute) == (2, 1, 30)  # next day


def _schedule_fake(monkeypatch, fake_stream, every, clock):
    """A controller scheduled on ``every`` whose fires start
    ``fake_stream`` in place of the ETL query."""
    from imp_etl_spark.plans import control as control_mod
    from imp_etl_spark.plans.control import EtlController

    monkeypatch.setattr(control_mod, "run_etl_stream", fake_stream)
    ctl = EtlController(None)
    ctl.schedule(None, None, None, "v", "t", "ckpt", every=every,
                 clock=clock, tick=0.001)
    return ctl


def _wait_for(cond, seconds=20.0):
    deadline = time.time() + seconds
    while not cond() and time.time() < deadline:
        time.sleep(0.01)
    return cond()


def test_interval_schedule_keeps_firing_after_failed_epoch(monkeypatch):
    """An interval schedule is a wall-clock schedule like any other: a
    failed epoch is recorded, the next fire starts a new epoch on the
    same checkpoint, and a later one commits."""
    calls: list[dict] = []

    def fake_stream(*args, epoch_summaries=None, **kwargs):
        calls.append(kwargs)
        if len(calls) == 1:
            return FakeQuery(done=True, error=RuntimeError("epoch 0 lost"))
        epoch_summaries.append({"epochId": len(calls) - 1})
        return FakeQuery(done=True)

    clock = FakeClock(_dt(2026, 8, 12, 8, 59, 59), step=0.5)
    ctl = _schedule_fake(monkeypatch, fake_stream, "2 seconds", clock)
    assert _wait_for(lambda: len(ctl.epoch_summaries) >= 2)
    st = ctl.status()
    assert st["isRunning"] is True
    assert st["lastError"] == "RuntimeError: epoch 0 lost"
    ctl.stop()
    assert len(calls) >= 3 and ctl.epoch_summaries[0]["epochId"] >= 1
    assert all(k == {} for k in calls)  # no trigger option on any fire


def test_every_minute_schedule_waits_for_first_match(monkeypatch):
    """``* * * * *`` starts nothing before the first minute match (the
    reference's runOnInit:false)."""
    starts: list[datetime] = []
    clock = FakeClock(_dt(2026, 8, 12, 8, 59, 30), step=0.5)

    def fake_stream(*args, **kwargs):
        starts.append(clock.now)
        return FakeQuery(done=True)

    ctl = _schedule_fake(monkeypatch, fake_stream, "* * * * *", clock)
    assert _wait_for(lambda: starts)
    ctl.stop()
    assert starts[0] >= _dt(2026, 8, 12, 9, 0, 0), starts[0]


def test_stop_returns_while_failing_fire_in_flight(monkeypatch):
    """stop() on a fire whose epoch fails once stopped ends the epoch
    and returns the controller status without raising the epoch's
    error: the scheduler thread records that error as ``lastError``."""
    import threading

    fired = threading.Event()
    queries: list[FakeQuery] = []

    def failing_stream(*args, **kwargs):
        q = FakeQuery(error=RuntimeError("epoch failed"))
        queries.append(q)
        fired.set()
        return q

    clock = FakeClock(_dt(2026, 8, 12, 8, 59, 59), step=0.5)
    ctl = _schedule_fake(monkeypatch, failing_stream, "0 9 * * 1-5", clock)
    assert fired.wait(30), "fire never started"
    assert _wait_for(lambda: ctl._query is not None)
    assert queries[0].isActive  # the epoch runs until stopped
    st = ctl.stop()
    assert queries[0].stop_calls >= 1
    assert st["lastError"] == "RuntimeError: epoch failed"
    assert ctl.is_running is False


def test_failed_fires_keep_bounded_error_record(monkeypatch):
    """A schedule whose every fire fails keeps one error count and the
    last error, not one exception per fire, and status shows it while
    the schedule runs."""
    import sys

    def failing_stream(*args, **kwargs):
        return FakeQuery(done=True, error=RuntimeError("merge failed"))

    # each clock read is one second on: every read is a new match
    clock = FakeClock(_dt(2026, 8, 12, 8, 59, 59), step=1.0)
    ctl = _schedule_fake(monkeypatch, failing_stream, "* * * * * *", clock)
    cron = ctl._cron

    def size() -> int:
        return sum(sys.getsizeof(v) for v in vars(cron).values())

    assert _wait_for(lambda: cron.fired >= 1000)
    before = size()
    assert _wait_for(lambda: cron.fired >= 5000)
    after = size()
    st = ctl.status()
    ctl.stop()
    assert after == before
    assert st["isRunning"] is True
    assert st["lastError"] == "RuntimeError: merge failed"
    assert cron.error_count == cron.fired

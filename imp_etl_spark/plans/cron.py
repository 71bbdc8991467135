"""Schedules — the reference's node-cron surface.

The reference accepts ANY node-cron pattern: ``index.js:30-37`` rejects a
request only when ``cron.validate(schedule)`` fails, and ``index.js:75-86``
hands the pattern to ``cron.schedule(..., {timezone: 'Asia/Manila'})``
with ``runOnInit:false``. Every schedule takes one path here:

- :func:`parse_schedule` is the one parser (HTTP layer + controller). A
  node-cron pattern becomes a :class:`CronPattern`; a Spark interval
  string (``"30 seconds"``), still accepted, becomes a
  :class:`FixedPeriod`; anything else is invalid (``None``). Both parsed
  shapes answer ``next_fire(after)``.
- :class:`CronPattern` parses the node-cron field grammar (5 fields, or 6
  with a leading seconds field; ``*``, lists, ranges, steps, month and
  weekday names, dow 0/7 = Sunday) and computes wall-clock next-fire
  times in a target timezone.
- :class:`CronScheduler` is a driver-side stdlib thread that sleeps until
  the next fire and invokes a fire callback — never at start. Control
  plane only: the controller's fire callback runs one AvailableNow epoch
  of the checkpointed ETL stream (plans/control.py).

Field-matching semantics follow node-cron, the reference's library: every
field must match independently (a logical AND), INCLUDING day-of-month vs
day-of-week. Vixie cron famously ORs those two when both are restricted;
node-cron does not (it checks ``getDate()`` and ``getDay()`` separately
per tick), and the reference's dependency is the contract here.

Timezone: next-fire arithmetic is wall-clock (Python aware-datetime
timedelta arithmetic preserves wall fields), which is the cron contract.
The reference's fixed zone Asia/Manila has no DST; for DST zones a
skipped wall hour simply never matches and a repeated one matches once
(first fold), a documented simplification.
"""

from __future__ import annotations

import math
import re
import threading
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Any, Callable
from zoneinfo import ZoneInfo

_MONTHS = {m: i + 1 for i, m in enumerate(
    "january february march april may june july august september "
    "october november december".split())}
_MONTHS.update({m[:3]: v for m, v in _MONTHS.items()})
_DOWS = {d: i for i, d in enumerate(
    "sunday monday tuesday wednesday thursday friday saturday".split())}
_DOWS.update({d[:3]: v for d, v in _DOWS.items()})

#: (low, high, name-table) per field, in pattern order after the optional
#: seconds field. node-cron ranges: sec 0-59, min 0-59, hour 0-23,
#: dom 1-31, month 1-12 (+names), dow 0-7 (+names; 7 folds to 0=Sunday).
_FIELD_SPECS = [
    ("second", 0, 59, None),
    ("minute", 0, 59, None),
    ("hour", 0, 23, None),
    ("day-of-month", 1, 31, None),
    ("month", 1, 12, _MONTHS),
    ("day-of-week", 0, 7, _DOWS),
]

_INTERVAL_RE = re.compile(r"^\d+ (millisecond|second|minute|hour|day)s?$")
_UNIT_MS = {"millisecond": 1, "second": 1000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000}
#: the reference's schedule timezone (index.js:75-86)
_TZ = ZoneInfo("Asia/Manila")


def _parse_field(text: str, name: str, lo: int, hi: int,
                 names: dict[str, int] | None) -> frozenset[int]:
    """One cron field -> the set of matching values; ValueError on any
    token outside the node-cron grammar or the field's range."""
    def atom(tok: str) -> int:
        t = tok.strip().lower()
        if names and t in names:
            return names[t]
        if not re.fullmatch(r"\d+", t):
            raise ValueError(f"bad {name} value {tok!r}")
        v = int(t)
        if not lo <= v <= hi:
            raise ValueError(f"{name} value {v} outside {lo}-{hi}")
        return v

    out: set[int] = set()
    for part in text.split(","):
        part = part.strip()
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            if not re.fullmatch(r"\d+", step_s) or int(step_s) == 0:
                raise ValueError(f"bad {name} step {step_s!r}")
            step = int(step_s)
        if part == "*":
            a, b = lo, hi
        elif "-" in part and not part.lstrip().startswith("-"):
            a_s, b_s = part.split("-", 1)
            a, b = atom(a_s), atom(b_s)
            if a > b:
                raise ValueError(f"reversed {name} range {part!r}")
        else:
            a = b = atom(part)
        out.update(range(a, b + 1, step))
    if not out:
        raise ValueError(f"empty {name} field")
    return frozenset(out)


@dataclass(frozen=True)
class CronPattern:
    """A parsed node-cron pattern with wall-clock next-fire search."""

    pattern: str
    seconds: frozenset[int]
    minutes: frozenset[int]
    hours: frozenset[int]
    doms: frozenset[int]
    months: frozenset[int]
    dows: frozenset[int]
    #: True when the day-of-month / day-of-week field was ``*`` — kept
    #: only for introspection; matching is AND either way (node-cron).
    dom_star: bool = field(default=True, compare=False)
    dow_star: bool = field(default=True, compare=False)

    @classmethod
    def parse(cls, pattern: str) -> "CronPattern":
        fields = pattern.strip().split()
        if len(fields) == 5:
            fields = ["0", *fields]  # node-cron: no seconds field -> :00
        if len(fields) != 6:
            raise ValueError(
                f"cron pattern needs 5 or 6 fields, got {len(fields)}")
        sets = []
        for text, (name, lo, hi, names) in zip(fields, _FIELD_SPECS):
            sets.append(_parse_field(text, name, lo, hi, names))
        sec, minute, hour, dom, month, dow = sets
        if 7 in dow:  # both 0 and 7 are Sunday
            dow = dow - {7} | {0}
        return cls(pattern.strip(), sec, minute, hour, dom, month, dow,
                   dom_star=fields[3] == "*", dow_star=fields[5] == "*")

    # -- matching ----------------------------------------------------------
    def _day_ok(self, dt: datetime) -> bool:
        # Python weekday(): Monday=0..Sunday=6; cron: Sunday=0..Saturday=6
        cron_dow = (dt.weekday() + 1) % 7
        return dt.day in self.doms and cron_dow in self.dows

    def _minute_ok(self, dt: datetime) -> bool:
        return (dt.month in self.months and self._day_ok(dt)
                and dt.hour in self.hours and dt.minute in self.minutes)

    def matches(self, dt: datetime) -> bool:
        """Does this wall-clock second fire?"""
        return self._minute_ok(dt) and dt.second in self.seconds

    def next_fire(self, after: datetime) -> datetime:
        """First fire STRICTLY after ``after`` (aware or naive — the
        result carries the same tzinfo). Field-skipping search: a
        non-matching month jumps to the next month's first minute, a
        non-matching day to the next midnight, a non-matching hour to
        the next hour — so even sparse patterns resolve in at most a
        few thousand steps. Raises ValueError for patterns with no
        fire within 8 years (e.g. ``0 0 30 2 *``)."""
        base = (after + timedelta(seconds=1)).replace(microsecond=0)
        minute = base.replace(second=0)
        if self._minute_ok(minute):
            later = sorted(s for s in self.seconds if s >= base.second)
            if later:
                return minute.replace(second=later[0])
        dt = minute + timedelta(minutes=1)
        first_sec = min(self.seconds)
        horizon = base.year + 8  # covers any dow/dom/leap alignment
        while dt.year <= horizon:
            if dt.month not in self.months:
                y, m = dt.year + (dt.month == 12), dt.month % 12 + 1
                dt = dt.replace(year=y, month=m, day=1, hour=0, minute=0)
                continue
            if not self._day_ok(dt):
                dt = (dt + timedelta(days=1)).replace(hour=0, minute=0)
                continue
            if dt.hour not in self.hours:
                dt = (dt + timedelta(hours=1)).replace(minute=0)
                continue
            if dt.minute not in self.minutes:
                dt += timedelta(minutes=1)
                continue
            return dt.replace(second=first_sec)
        raise ValueError(f"pattern {self.pattern!r} never fires")


@dataclass(frozen=True)
class FixedPeriod:
    """A Spark interval string (``"30 seconds"``, ``"1 minute"``): fires
    at every multiple of the period counted from the Unix epoch — the
    phase Spark's interval trigger uses — but never at start."""

    pattern: str
    period_ms: int

    def next_fire(self, after: datetime) -> datetime:
        """First multiple of the period STRICTLY after ``after`` (same
        tzinfo as ``after``)."""
        ms = math.floor(after.timestamp() * 1000)
        nxt = (ms // self.period_ms + 1) * self.period_ms
        return datetime.fromtimestamp(nxt / 1000, after.tzinfo)


def parse_schedule(pattern: str) -> CronPattern | FixedPeriod | None:
    """The one schedule parser (HTTP layer + controller): a Spark
    interval string -> :class:`FixedPeriod`, any valid node-cron
    pattern -> :class:`CronPattern`, anything else (the reference's
    ``cron.validate`` failure -> 400) -> ``None``."""
    pattern = pattern.strip()
    m = _INTERVAL_RE.match(pattern)
    if m:
        n = int(pattern.split()[0])
        return FixedPeriod(pattern, n * _UNIT_MS[m.group(1)]) if n else None
    try:
        return CronPattern.parse(pattern)
    except ValueError:
        return None


class CronScheduler:
    """Wall-clock scheduler thread: fire a callback at each match.

    Mirrors the reference's ``cron.schedule(pattern, runETL, {timezone:
    'Asia/Manila', runOnInit: false})`` (index.js:75-86) as a daemon
    thread: the first fire is the first match after start. Fires run
    IN the scheduler thread, so they serialize — a fire still running
    when the next match passes simply absorbs it (next-fire is
    recomputed after the callback returns). A raising fire is counted
    and kept as ``last_error`` and scheduling continues (the
    reference's runETL catches per-run errors and the cron keeps
    firing, index.js:88-108); only the last error is kept, so a
    schedule that fails for the life of the driver holds one.

    ``now_fn``/``tick`` exist for tests: an injectable clock plus the
    poll granularity of the stop-aware wait (a real deployment keeps
    the defaults — Manila system time, 1 s tick).
    """

    def __init__(self, pattern: CronPattern | FixedPeriod | str,
                 fire: Callable[[], Any],
                 now_fn: Callable[[], datetime] | None = None,
                 tick: float = 1.0):
        if isinstance(pattern, str):
            parsed = parse_schedule(pattern)
            if parsed is None:
                raise ValueError(f"invalid schedule pattern: {pattern!r}")
            pattern = parsed
        self.pattern = pattern
        self._fire = fire
        self._now_fn = now_fn or (lambda: datetime.now(_TZ))
        self._tick = tick
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="imp-etl-cron", daemon=True)
        self.fired = 0
        self.error_count = 0
        self.last_error: str | None = None

    def start(self) -> "CronScheduler":
        self._thread.start()
        return self

    @property
    def is_alive(self) -> bool:
        return self._thread.is_alive()

    def signal_stop(self) -> None:
        """Halt FUTURE fires WITHOUT waiting for an in-flight one —
        the non-blocking half of :meth:`stop`, for callers that must
        first stop the in-flight fire's work themselves (the
        controller stops the fire's streaming query before joining
        this thread, plans/control.py)."""
        self._stop.set()

    def stop(self, timeout: float = 120.0) -> None:
        """Halt FUTURE fires; an in-flight fire completes first (the
        reference's task.stop() semantics, ST5) — the join waits for
        it up to ``timeout``."""
        self.signal_stop()
        if self._thread.is_alive():
            self._thread.join(timeout)

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                nxt = self.pattern.next_fire(self._now_fn())
            except ValueError:
                return  # pattern can never fire again
            while not self._stop.is_set():
                delay = (nxt - self._now_fn()).total_seconds()
                if delay <= 0:
                    break
                self._stop.wait(min(delay, self._tick))
            if self._stop.is_set():
                return
            try:
                self._fire()
            except BaseException as exc:  # noqa: BLE001 — keep firing
                self.error_count += 1
                self.last_error = f"{type(exc).__name__}: {exc}"
            self.fired += 1

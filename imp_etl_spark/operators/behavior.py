"""Behavioral / event-sequence analytics: funnels, cohort retention,
time-grid resampling.

The reference has no sequence analytics (its events surface stops at the
log tail, index.js:200-270); these are north-star operators over the
``events`` fixture, built as compositions of DataFrame ops — no UDFs,
no per-user collect, no global windows.

Scale design:

- ``funnel_counts`` chains one hash aggregation + one equi join per
  stage, always keyed on the user column. Each stage frame is a strict
  subset of the previous one, so the work *shrinks* monotonically down
  the funnel; nothing ever materializes per-event state beyond the
  (user, first-ts) pairs. The naive alternative — a per-user
  collect_list + Python scan — ships every event body through one
  executor task per user and dies on hot users.
- ``cohort_retention`` is two keyed shuffles: min-date per user, then
  (cohort_day, offset) distinct-user counts. Both partial-aggregate
  map-side before the exchange.
- ``resample_ffill`` materializes the per-key grid in TWO explode
  levels (chunk starts, then ticks within each chunk) and forward-fills
  with a per-chunk carry: the fill window partitions on (key, chunk),
  so a single key whose span covers decades never funnels its whole
  grid into one task, and no ``sequence()`` call ever materializes an
  array longer than ``chunk_ticks`` below the chunk-start level. The
  naive single-level formulation builds one array per key sized by the
  key's full span (a 200-year key at minute step is a ~100M-element,
  GB-scale single allocation) and then sorts that key's entire grid in
  one window task. The naive grid LEFT JOIN events ON ts <= gts is
  worse still — quadratic per key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from imp_etl_spark.operators.temporal import asof_join

#: Funnel stage-frame persist crossover (r13): below this many source
#: events the stage pyramid recomputes cheaper than N persists cost.
FUNNEL_PERSIST_MIN_SOURCE_ROWS = 16_384


def funnel_stage_users(
    events: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within: Sequence[str] | None = None,
) -> list[DataFrame]:
    """Per-stage (user, first-completion-ts) frames for an ordered
    funnel: a user completes stage i at the EARLIEST event of type
    ``stages[i]`` at-or-after their stage i-1 completion — and, when
    ``within`` is given, no later than ``within[i-1]`` (an INTERVAL
    string like ``'12 hours'``) after it.

    Returns one frame per stage: ``[user_col, __t0], [user_col, __t0,
    __t1], ...`` — inner-join semantics (users drop out at the first
    stage they never complete). ``>=`` (not ``>``) on the timestamp so
    same-instant multi-events count, matching the SQL oracle.
    """
    if within is not None and len(within) != len(stages) - 1:
        raise ValueError("within needs one interval per stage transition")
    first = (
        events.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t0"))
    )
    frames = [first]
    for i, stage in enumerate(stages[1:], start=1):
        prev = frames[-1]
        prev_ts = [c for c in prev.columns if c != user_col]
        admissible = F.col("__ts") >= F.col(f"__t{i - 1}")
        if within is not None:
            admissible = admissible & (
                F.col("__ts")
                <= F.col(f"__t{i - 1}") + F.expr(f"INTERVAL {within[i - 1]}")
            )
        nxt = (
            events.filter(F.col(type_col) == stage)
            .select(user_col, F.col(ts_col).alias("__ts"))
            .join(prev, on=user_col, how="inner")
            .filter(admissible)
            .groupBy(user_col)
            .agg(
                *[F.min(c).alias(c) for c in prev_ts],
                F.min("__ts").alias(f"__t{i}"),
            )
        )
        frames.append(nxt)
    return frames


def funnel_counts(
    events: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within: Sequence[str] | None = None,
) -> DataFrame:
    """Ordered-funnel summary: one row per stage with the number of
    users who reached it and the conversion rate vs stage 0.

    Each per-stage count is a single-row aggregate; the union of stage
    rows and the stage-0 total join are driver-free 1-row broadcasts.
    The only float op is one users/base IEEE division per row.

    Stage frames are persisted (r12): stage i's frame is embedded in
    every DOWNSTREAM stage's lineage AND counted by its own union leg,
    so without the persist an N-stage funnel re-ran stage i's
    events-scan+join pyramid N-i+1 times (the r12 before plan scanned
    events six times for three stages,
    plans/r12/funnel_signup_purchase_before.txt). Frames are (user,
    first-ts-per-stage) rows — the shrinking small side of each stage
    join, orders of magnitude below the event stream; MEMORY_AND_DISK
    spills rather than OOMs. The frames belong to the query-cache owner
    (prefix_sum/global_index lifecycle).

    Gated (r13, VERDICT r12 item 2): the persist pays N stage-boundary
    costs to avoid re-running the stage pyramid, a trade that loses on
    tiny fixtures (the measured ~+0.3 s persist-overhead class), so it
    engages only when ``events``' footer bound clears
    :data:`FUNNEL_PERSIST_MIN_SOURCE_ROWS` — or cannot be proven, the
    safe big assumption.
    """
    from imp_etl_spark.operators.util import persist_if_big

    frames = funnel_stage_users(
        events, stages, user_col, ts_col, type_col, within)
    frames = [persist_if_big(f, events, FUNNEL_PERSIST_MIN_SOURCE_ROWS)
              for f in frames]
    rows = None
    for i, (stage, frame) in enumerate(zip(stages, frames)):
        one = frame.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(i).alias("stage_idx"),
            F.lit(stage).alias("stage"),
            F.col("users"),
        )
        rows = one if rows is None else rows.unionByName(one)
    base = rows.filter(F.col("stage_idx") == 0).select(
        F.col("users").alias("__base"))
    return (
        rows.crossJoin(F.broadcast(base))
        .select(
            "stage_idx", "stage", "users",
            # try_divide: a zero-user funnel (empty day partition) yields
            # NULL conv_pct — DuckDB's x/0 semantics — instead of an ANSI
            # DIVIDE_BY_ZERO abort taking down the whole report job
            F.try_divide(F.col("users").cast("double"),
                         F.col("__base").cast("double")).alias("conv_pct"),
        )
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted distinct on each day-offset they were active.

    Two keyed shuffles (user -> min date; (cohort_day, offset) ->
    distinct users); the cohort frame joins back to events on the user
    key as a plain hash join — at 100 TB that is a shuffle join on the
    natural key, never a broadcast of the user dimension.
    """
    day = F.to_date(F.col(ts_col))
    cohorts = events.groupBy(user_col).agg(
        F.min(day).alias("cohort_day"))
    return (
        events.select(user_col, day.alias("__day"))
        .join(cohorts, on=user_col, how="inner")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("__day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct(user_col).alias("active_users"))
    )


#: Fixed-width grid units (seconds each). Month/year steps are
#: variable-width and would break the integer chunk arithmetic; the
#: session timezone is pinned to UTC (session.py) so day/week are
#: DST-free here.
_STEP_SECONDS = {"second": 1, "minute": 60, "hour": 3600,
                 "day": 86400, "week": 604800}


def resample_ffill(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    step: str = "1 hour",
    out_col: str = "last_value",
    chunk_ticks: int = 720,
) -> DataFrame:
    """Per-key time-grid resample with forward fill: one row per ``step``
    tick between each key's first and last event (tick boundaries
    truncated to the step unit), carrying the value of the latest event
    at-or-before the tick (null before the first event's tick).
    Duplicate (key, ts) events resolve to the max value, mirroring the
    oracle's ``GROUP BY key, ts -> max(value)`` dedup.

    Span-skew-immune formulation (same two-level prefix-carry shape as
    the mad_outliers rank pick, operators/quality.py): the grid is
    generated in two explode levels — chunk starts per key (array sized
    span/chunk_ticks), then ticks within each chunk (array <=
    chunk_ticks) — and the fill window partitions on (key, chunk), with
    each chunk's carry-in value coming from a running-last over the
    per-chunk final events (one bounded window over chunk rows, not
    ticks). A key spanning 200 years at minute step is ~100M ticks; the
    single-level formulation built that as ONE sequence() array (a
    GB-scale single allocation that OOMs production-sized executors)
    and sorted the whole grid in ONE fill task, while this plan caps
    every array at chunk_ticks and spreads the key's grid across
    span/chunk_ticks independent window partitions.
    """
    n_str, unit_word = step.split()
    unit = unit_word.rstrip("s")  # "1 hour" -> "hour"
    if unit not in _STEP_SECONDS:
        raise ValueError(
            f"resample_ffill supports fixed-width steps {sorted(_STEP_SECONDS)}; "
            f"got {step!r}")
    step_n = int(n_str)
    chunk_s = step_n * _STEP_SECONDS[unit] * chunk_ticks
    # temporal contract (see state_intervals): untimed events neither
    # bound the grid nor supply fill values
    events = events.where(F.col(ts_col).isNotNull())
    bounds = events.groupBy(key_col).agg(
        F.date_trunc(unit, F.min(ts_col)).alias("__lo"),
        F.date_trunc(unit, F.max(ts_col)).alias("__hi"),
    )
    # Level-1 grid: chunk starts, aligned to each key's own __lo.
    chunks = bounds.select(
        key_col,
        "__hi",
        F.posexplode(
            F.expr(f"sequence(__lo, __hi, "
                   f"INTERVAL {step_n * chunk_ticks} {unit})")
        ).alias("__idx", "__chunk_lo"),
    ).withColumn(
        "__chunk_hi",
        F.least(
            F.expr(f"__chunk_lo + INTERVAL {step_n * (chunk_ticks - 1)} "
                   f"{unit}"),
            F.col("__hi"),
        ),
    )
    # Events -> chunk index. Null-key events match no grid key (the
    # bounds groupBy keeps a null-key GROUP, whose grid rows fill null —
    # equi-join semantics, same as the oracle's ASOF ON key equality).
    ev_k = (
        events.where(F.col(key_col).isNotNull())
        .join(bounds.select(key_col, "__lo"), on=key_col)
        .withColumn(
            "__idx",
            F.floor(
                (F.unix_timestamp(F.date_trunc(unit, F.col(ts_col)))
                 - F.unix_timestamp(F.col("__lo"))) / F.lit(chunk_s)
            ).cast("int"),
        )
    )
    # Dedup to max value per (key, ts) — map-side combine absorbs
    # same-instant bursts before the exchange.
    evd = ev_k.groupBy(key_col, "__idx", ts_col).agg(
        F.max(value_col).alias("__v"))
    # Carry-in per chunk: running last over each chunk's FINAL event
    # (lexicographic struct max = latest ts; value ties were already
    # collapsed by the dedup), shifted one chunk back. This window runs
    # over span/chunk_ticks rows per key — bounded, never over ticks.
    chunk_last = evd.groupBy(key_col, "__idx").agg(
        F.max(F.struct(F.col(ts_col).alias("__lt"),
                       F.col("__v"))).alias("__last"))
    w_carry = (
        Window.partitionBy(key_col)
        .orderBy("__idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = (
        chunks.join(chunk_last, on=[key_col, "__idx"], how="left")
        .withColumn("__carry",
                    F.last("__last", ignorenulls=True).over(w_carry))
    )
    # The carry enters the fill as ONE synthetic side -1 row per chunk
    # at __chunk_lo (only where a prior event exists) rather than as a
    # struct column on every tick — the tick stream, which dominates
    # the fill exchange, shuffles narrow. Side order -1 < 0 < 1 makes a
    # real event AT the chunk-start instant override the carry before
    # the tick at that instant reads it.
    carries = (
        chunks.where(F.col("__carry").isNotNull())
        .select(key_col, "__idx",
                F.col("__chunk_lo").alias("__ts"),
                F.col("__carry")["__v"].alias("__v"),
                F.lit(-1).alias("__side"))
    )
    # Level-2 grid: ticks within the chunk (array <= chunk_ticks). The
    # explicit fixed-width repartition between the two explode levels is
    # load-bearing twice over: (a) whole-stage codegen cannot suspend a
    # consume-side Generate mid-expansion, so fused explodes buffer ONE
    # upstream row's ENTIRE nested expansion in BufferedRowIterator's
    # in-memory list — for a 200-year minute-step key that is all ~100M
    # ticks in one LinkedList, a measured 128 GiB-heap OOM (the
    # single-level formulation died the same way); the exchange caps
    # per-row expansion at chunk_ticks. (b) It spreads a wide-span
    # key's chunks across the cluster, so the tick stream is emitted by
    # every task instead of funneling through the one task holding the
    # key's bounds row. The explicit numPartitions opts this exchange
    # out of AQE coalescing, which would happily re-fuse the (tiny,
    # ~50 B/row) chunk stream into one partition and resurrect (b).
    n_shuffle = int(
        events.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ticks = chunks.repartition(n_shuffle, key_col, "__idx").select(
        key_col,
        "__idx",
        F.explode(
            F.expr(f"sequence(__chunk_lo, __chunk_hi, INTERVAL {step})")
        ).alias("__ts"),
        F.lit(1).alias("__side"),
    )
    unioned = ticks.unionByName(
        evd.select(key_col, "__idx", F.col(ts_col).alias("__ts"),
                   "__v", F.lit(0).alias("__side")),
        allowMissingColumns=True,
    ).unionByName(carries)
    # In-chunk fill: running last event/carry struct, fill rows before
    # ticks at equal ts (side -1/0 < 1 -> an event AT a tick instant is
    # included). The struct keeps "matched event with NULL value"
    # distinct from "no event yet" (row-atomic fill, same contract as
    # asof_join).
    w_fill = (
        Window.partitionBy(key_col, "__idx")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = F.last(
        F.when(F.col("__side") <= 0, F.struct(F.col("__v"))),
        ignorenulls=True,
    ).over(w_fill)
    return (
        unioned.select(key_col, "__ts", "__side", m.alias("__m"))
        .where(F.col("__side") == 1)
        .select(
            key_col,
            F.col("__ts").alias("grid_ts"),
            F.col("__m")["__v"].alias(out_col),
        )
    )


def activity_streaks(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gaps-and-islands: consecutive-active-day streaks per user, one
    row per streak with its start day and length.

    The island key is the classic day - row_number trick: within a
    user's DISTINCT active days ordered ascending, consecutive days
    share ``day - rn`` — one keyed shuffle for the window, one for the
    per-island rollup, both on the user key (the second is (user, grp),
    a refinement that AQE coalesces into small partitions). No
    self-joins, no sequence explosion.
    """
    day = F.to_date(F.col(ts_col))
    d = events.select(F.col(user_col), day.alias("__day")).distinct()
    w = Window.partitionBy(user_col).orderBy(F.col("__day").asc())
    g = d.withColumn(
        "__grp", F.date_sub(F.col("__day"), F.row_number().over(w)))
    return (
        g.groupBy(user_col, "__grp")
        .agg(
            F.min("__day").alias("streak_start"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .drop("__grp")
    )


def state_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    tiebreak_col: str = "event_id",
    mode: str | None = None,
) -> DataFrame:
    """SCD-Type-2 interval compression: collapse a per-key event-state
    sequence into ``[valid_from, valid_to)`` intervals — a new interval
    opens whenever the state differs from the previous event's state
    (ordered by ``ts, tiebreak``), and the key's last interval stays
    open (``valid_to`` null, ``is_current`` true).

    Two sequential-window passes: lag() marks change points, lead()
    over the change points closes each interval. Round 9: both passes
    go through the lag-class skew dispatch (operators/window.py
    lag_dispatch) — one probe of the key column picks the plain
    per-key window (uniform keys: ONE shuffle, shared sort) or the
    hot-key-immune ``seq_lag`` range+boundary-exchange shape (a bot
    key's history never serializes through one sort task); ``mode``
    forces ``"window"``/``"seq"`` explicitly (tests pin both shapes
    value-equal). This is the dimension-history build the reference's
    MERGE sink cannot express (plans/upsert.py keeps only the latest
    row); at 100 TB it is two linear passes per partition either way.
    """
    from imp_etl_spark.operators.window import (
        lag_dispatch,
        resolve_lag_mode,
    )

    # temporal contract: an event without a timestamp cannot be
    # sequenced into a state history — excluded, not sorted to an
    # engine-dependent end (Spark asc = nulls first, most SQL engines =
    # nulls last; a null-ts row would silently shift every interval)
    timed = events.where(F.col(ts_col).isNotNull())
    # probe ONCE on the raw key column (column-pruned scan) and reuse
    # the decision for both passes — the change-point frame inherits
    # its key skew from the input
    mode = resolve_lag_mode(timed.select(key_col), [key_col], mode=mode)
    marked = lag_dispatch(
        timed.select(key_col, ts_col, state_col, tiebreak_col),
        [key_col], [ts_col, tiebreak_col],
        lags={state_col: "__prev"}, mode=mode)
    changes = marked.filter(
        ~F.col(state_col).eqNullSafe(F.col("__prev")))
    closed = lag_dispatch(
        changes.select(key_col, ts_col, state_col, tiebreak_col),
        [key_col], [ts_col, tiebreak_col],
        leads={ts_col: "__valid_to"}, mode=mode)
    return (
        closed.select(
            F.col(key_col),
            F.col(state_col).alias("state"),
            F.col(ts_col).alias("valid_from"),
            F.col("__valid_to").alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )

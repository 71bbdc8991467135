"""Temporal join operators: as-of join and banded range join.

The reference has no temporal joins (SURVEY.md §2.3 "not present"); these
are north-star operators for the events fixture, built as compositions of
DataFrame ops — no UDFs, no per-key cartesian products.

Scale design (the whole point of these formulations):

- ``asof_join`` uses the union + ordered-running-last trick — tag build
  rows 0 and probe rows 1, union, order by (key, ts, side), carry the
  latest build row forward — but over a RANGE partitioning on
  (key, ts, side) rather than a hash partitioning on the key alone
  (round 8; same two-phase prefix-carry family as window.global_index /
  prefix_sum): a hot key's rows split across consecutive range
  partitions by time, each partition computes its running last in
  parallel, and partition-leading rows take a per-partition carry
  chained on the driver from one tiny per-partition summary collect
  (n_partitions rows). The r5–r7 shape — ``partitionBy(key)`` window —
  funneled a hot key's ENTIRE probe+build history into one sort task
  (a bot user with 10^8 events at 100 TB is a one-task straggler); the
  naive ``l JOIN r ON l.key = r.key AND r.ts <= l.ts`` + max-per-probe
  plan is worse still — |l_key|×|r_key| intermediate rows per key.
- ``range_join_binned`` converts the inequality join into an equi join on
  (key, time_bin): each probe row explodes to the (few) bins its
  admissible window overlaps, each build row lands in exactly one bin,
  then the exact predicate refines post-join. With bin width >= window
  width a probe hits <= 2 bins, so the blow-up factor is bounded and the
  shuffle is a plain hash exchange Catalyst can plan (vs a
  BroadcastNestedLoopJoin for a raw inequality condition).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: Sequence[str] | str,
    probe_ts: str,
    build_ts: str,
    build_cols: Mapping[str, str],
    tolerance: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Backward as-of join: for each probe row, attach the columns of the
    latest build row with the same key and ``build_ts <= probe_ts``
    (inclusive). Probe rows with no admissible build row keep nulls
    (left-join semantics, matching DuckDB's ``ASOF LEFT JOIN``).

    ``build_cols`` maps build column -> output name (output names must not
    collide with probe columns). ``tolerance`` (an INTERVAL string like
    ``'10 minutes'``) nulls out matches older than ``probe_ts - tolerance``.

    Build rows are deduplicated to the last one per (key, ts) — ordered by
    the ``build_cols`` keys, first key most significant — so the match is
    deterministic even with timestamp collisions. The dedup is a plain
    hash aggregation (map-side combine), so a same-instant burst on one
    (key, ts) never funnels through one window task.

    Hot-key-safe shape (round 8, module docstring): range-partition the
    probe∪build union on (key, ts, side), running-last WITHIN each range
    partition, then chain per-partition carries on the driver from one
    summary collect. Results are invariant to ``num_partitions`` (pinned
    by tests/test_temporal.py). The ranged union is persisted so the
    summary pass and the caller's action see the same partition
    boundaries; it belongs to the query-cache owner (same lifecycle as
    window.global_index).
    """
    on = [on] if isinstance(on, str) else list(on)
    out_names = list(build_cols.values())
    srcs = list(build_cols.keys())
    spark = probe.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism

    # temporal contract: an untimed build row can never be "the latest
    # at-or-before" anything — without this filter it sorts nulls-first
    # into the running-last order and leaks into every later probe row
    # (SQL's ts >= NULL comparison matches nothing). Untimed PROBE rows
    # keep left-join semantics: they sort before their key's builds,
    # find no prior build row, and surface with null build columns —
    # same as the oracle. Null-KEY build rows match nothing either
    # (equi-join semantics: NULL = NULL is not a match).
    build = build.where(F.col(build_ts).isNotNull())
    for k in on:
        build = build.where(F.col(k).isNotNull())
    # dedup to the lexicographic-max build payload per (key, ts): same
    # winner as the old per-(key,ts) row_number-by-first-src-desc
    # whenever the first src is unique at a tie, and fully deterministic
    # (ordered by ALL srcs) when it is not
    b = (
        build.groupBy(*on, F.col(build_ts).alias("__ts"))
        .agg(F.max(F.struct(*[F.col(s) for s in srcs])).alias("__w"))
        .select(
            *on,
            "__ts",
            *[F.col("__w")[src].alias(dst)
              for src, dst in build_cols.items()],
        )
        .withColumn("__side", F.lit(0))
    )
    p = probe.withColumn("__ts", F.col(probe_ts)).withColumn("__side", F.lit(1))
    # Null-KEY probe rows can never match; route them around the ranged
    # machinery entirely (they'd otherwise pile into one range and make
    # a synthetic hot partition out of, say, anonymous events).
    null_key = None
    for k in on:
        c = F.col(k).isNull()
        null_key = c if null_key is None else (null_key | c)
    p_null = p.where(null_key)
    p = p.where(~null_key)

    unioned = p.unionByName(b, allowMissingColumns=True)
    order_cols = [F.col(k).asc() for k in on] + [
        F.col("__ts").asc(), F.col("__side").asc()]
    d = (
        unioned.repartitionByRange(n, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    from imp_etl_spark.operators.util import persist

    d = persist(d)

    # ROW-ATOMIC fill struct: the whole matched build row as one value.
    # A per-column last(ignorenulls) would forward-fill each output
    # column independently, stitching a frankenrow from DIFFERENT build
    # rows whenever the latest one carries a NULL field (e.g. the
    # matched click's value is NULL but an older click's 0.0 leaks in).
    # The struct leads with the key fields so partition-leading rows can
    # check whether a running/carry value belongs to THEIR key.
    def _mstruct() -> Column:
        return F.struct(
            *[F.col(k).alias(f"__k{i}") for i, k in enumerate(on)],
            F.col("__ts").alias("__m_ts"),
            *[F.col(c) for c in out_names],
        )

    # Per-partition summaries: ONE tiny collect (n rows). Build rows are
    # unique per (key, ts) after the dedup, so max_by over (key, ts) is
    # deterministic; first/last key bound which key continues across
    # the partition boundary.
    key_struct = F.struct(*[F.col(k) for k in on])
    summaries = {
        r["__pid"]: r
        for r in d.groupBy("__pid").agg(
            F.max_by(
                F.when(F.col("__side") == 0, _mstruct()),
                F.when(F.col("__side") == 0,
                       F.struct(*[F.col(k) for k in on], F.col("__ts"))),
            ).alias("lb"),
            F.max(key_struct).alias("last_key"),
        ).collect()
    }
    # Driver chain over at most n summaries: the carry entering
    # partition p is the latest build row of the ONE key that continues
    # across the p-1 -> p boundary (keys are contiguous under range
    # order, so any other key's history is wholly inside later or
    # earlier partitions).
    carry_rows: list[tuple] = []
    cur = None  # latest build Row for the key continuing forward
    kf = [f"__k{i}" for i in range(len(on))]
    for pid in range(n):
        if cur is not None:
            carry_rows.append((pid, cur))
        s = summaries.get(pid)
        if s is None:  # empty range partition: carry passes through
            continue
        lb, last_key = s["lb"], s["last_key"]
        if lb is not None and tuple(lb[f] for f in kf) == tuple(last_key):
            cur = lb
        elif cur is not None and tuple(cur[f] for f in kf) == tuple(last_key):
            pass  # key spans the whole partition with no builds in it
        else:
            cur = None
    m_type = d.select(_mstruct().alias("__m")).schema["__m"].dataType
    carry_df = spark.createDataFrame(
        carry_rows,
        T.StructType([
            T.StructField("__pid", T.IntegerType(), False),
            T.StructField("__carry", m_type, True),
        ]),
    )

    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.last(
        F.when(F.col("__side") == 0, _mstruct()), ignorenulls=True
    ).over(w)
    filled = (
        d.join(F.broadcast(carry_df), on="__pid", how="left")
        .select("*", running.alias("__r"))
        .filter(F.col("__side") == 1)
    )
    # The running value is the latest build row at-or-before this row in
    # THIS partition — of any key. Keys are contiguous, so if its key
    # differs from the row's, the row's key has no in-partition builds
    # before it and the cross-partition carry (key-checked the same
    # way) is the only candidate.
    def _key_match(struct_col: Column) -> Column:
        cond = None
        for i, k in enumerate(on):
            c = struct_col[f"__k{i}"] == F.col(k)
            cond = c if cond is None else (cond & c)
        return struct_col.isNotNull() & cond

    m = (
        F.when(_key_match(F.col("__r")), F.col("__r"))
        .when(_key_match(F.col("__carry")), F.col("__carry"))
    )
    filled = filled.select(*probe.columns, "__ts", m.alias("__m"))

    keep: Column = F.col("__m").isNotNull()
    if tolerance is not None:
        keep = keep & (F.col("__m")["__m_ts"]
                       >= F.col("__ts") - F.expr(f"INTERVAL {tolerance}"))
    matched = [
        F.when(keep, F.col("__m")[c]).alias(c) for c in out_names
    ]
    out = filled.select(*probe.columns, *matched)
    null_fill = p_null.select(
        *probe.columns,
        *[F.lit(None).cast(dict(zip(out_names,
                                    [out.schema[c].dataType
                                     for c in out_names]))[c]).alias(c)
          for c in out_names],
    )
    return out.unionByName(null_fill)


def range_join_binned(
    probe: DataFrame,
    build: DataFrame,
    on: Sequence[str] | str,
    probe_ts: str,
    build_ts: str,
    lower: str,
    upper: str,
    bin_width_s: int,
) -> DataFrame:
    """Inner join of probe×build rows with equal keys and
    ``probe_ts + lower <= build_ts <= probe_ts + upper`` (both inclusive;
    intervals may be negative, e.g. ``lower='-10 minutes', upper='0
    seconds'`` = "build within the 10 minutes before probe").

    Returns probe columns + build columns suffixed ``_r`` on collision.
    ``bin_width_s`` (seconds) should be >= the window span so each probe
    row explodes to at most 2 bins.
    """
    on = [on] if isinstance(on, str) else list(on)
    lo = F.expr(f"INTERVAL {lower}")
    hi = F.expr(f"INTERVAL {upper}")
    bin_sec = F.lit(int(bin_width_s)).cast("long")

    def _epoch_s(c: Column) -> Column:
        # NTZ -> LTZ is identity under the engine's pinned-UTC sessions
        # (session.py); unix_seconds then yields epoch seconds.
        return F.unix_seconds(c.cast("timestamp"))

    p = probe.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(_epoch_s(F.col(probe_ts) + lo) / bin_sec),
                F.floor(_epoch_s(F.col(probe_ts) + hi) / bin_sec),
            )
        ),
    )
    collide = set(probe.columns)
    b = build.select(
        *[F.col(c).alias(f"{c}_r" if c in collide else c) for c in build.columns]
    )
    b_ts = f"{build_ts}_r" if build_ts in collide else build_ts
    b_on = [(f"{c}_r" if c in collide else c) for c in on]
    b = b.withColumn("__bin", F.floor(_epoch_s(F.col(b_ts)) / bin_sec))

    joined = p.join(
        b,
        on=[p["__bin"] == b["__bin"]]
        + [p[k] == b[bk] for k, bk in zip(on, b_on)],
        how="inner",
    ).drop(b["__bin"]).drop(p["__bin"])
    refined = joined.filter(
        (F.col(b_ts) >= F.col(probe_ts) + lo)
        & (F.col(b_ts) <= F.col(probe_ts) + hi)
    )
    return refined.drop(*b_on)

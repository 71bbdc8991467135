"""Window/ordering operators (SURVEY.md §2.6-2.7).

The reference's pagination (`ORDER BY log_id LIMIT ? OFFSET ?`,
models/EtlLogger.js:13) exists because Node must bound memory; Spark
partitions the scan instead, so ``paginate`` exists for literal
batch-window parity while production paths just process the whole frame
(the scalable incremental pattern is the ``log_id`` high-watermark in
``plans.runner``).

Scale notes: a naive global ``row_number()`` (Window with no
partitionBy) funnels ALL rows through one task — the classic 100 TB
killer. ``global_index`` does it distributed instead: range-partition on
the order column (ranges are ordered and non-overlapping), rank within
each partition in parallel, then add per-partition base offsets computed
from a partition-count pass. The only driver-side data is one count per
partition. Ranked-within-group windows (rank_in_group) shuffle once on
the partition key — the normal analytic shape.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from imp_etl_spark.operators.util import persist

#: ``global_index(unique_order=True)`` and ``prefix_sum`` rank a frame
#: of at most this many rows with ONE single-partition window instead
#: of the range/offset machinery (r13, VERDICT r12 item 6): the A/B
#: crossover of the machinery's fixed jobs against one task's sort.
PREFIX_SUM_MAX_SINGLE_SORT_ROWS = 1_048_576


def global_index(df: DataFrame, order_col: str, col_name: str = "__rn",
                 num_partitions: int | None = None,
                 use_id_projection: bool = True,
                 unique_order: bool = False) -> DataFrame:
    """Distributed 1-based global row index over a total order on
    ``order_col`` (ties broken arbitrarily but ranked consistently).

    Shape: ONE range exchange + in-partition sort, then a per-partition
    (count, base) collect — n tiny rows — and a pure projection for the
    output: ``rn = (mid - partition base) + partition offset + 1`` where
    ``mid`` is ``monotonically_increasing_id`` frozen at persist time
    (consecutive within a partition by construction). No single-task
    sort, no second shuffle, no window state anywhere.

    Persist lifecycle: two jobs consume the ranged frame (the stats
    collect here, then the caller's output action). It is persisted so
    both see the SAME materialized partitions — without that, range
    boundaries and any nondeterministic upstream (sample(), changed
    input files) would recompute between jobs and could duplicate or
    skip indices. Every frame it persists belongs to the query-cache
    owner (``operators.util.release_query_caches``).

    ``unique_order=True`` is the caller's certificate that
    ``order_col`` is a UNIQUE total order (every in-repo consumer packs
    a unique id into its sort key precisely so ranks are
    deterministic). It unlocks the r13 small-frame dispatch (VERDICT
    r12 item 6): persist + count the input, and at or under
    :data:`PREFIX_SUM_MAX_SINGLE_SORT_ROWS` rank with ONE
    single-partition row_number window — bit-identical ranks (the
    order is tie-free), none of the range-sampling/pid/offset jobs
    whose fixed cost dominated the sub-second bench rows. Ties-allowed
    callers keep the distributed machinery unconditionally: the two
    paths may rank ties differently, and this function promises only
    consistency within one plan.
    """
    if unique_order:
        d0 = persist(df)
        if d0.count() <= PREFIX_SUM_MAX_SINGLE_SORT_ROWS:
            w = Window.orderBy(F.col(order_col).asc())
            out = d0.withColumn(
                col_name, F.row_number().over(w).cast("long"))
            # persist the ranked result: multi-consumer callers (the
            # sorted-neighborhood join reads it as BOTH legs) would
            # otherwise re-run the single-partition sort per consumer
            return persist(out)
        df = d0  # big: fall through, range-sampling reads the cache
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    d = (df.repartitionByRange(n, F.col(order_col).asc())
         .sortWithinPartitions(F.col(order_col).asc())
         .select("*", F.monotonically_increasing_id().alias("__mid"),
                 F.spark_partition_id().alias("__pid")))
    d = persist(d)
    stats = {r["__pid"]: (r["c"], r["mn"], r["mx"]) for r in
             d.groupBy("__pid").agg(F.count(F.lit(1)).alias("c"),
                                    F.min("__mid").alias("mn"),
                                    F.max("__mid").alias("mx")).collect()}
    if unique_order:
        # the stats collect materialized the ranged cache; the
        # pre-exchange cache has no further consumer
        d0.unpersist()
    # The projection path requires mid to be CONSECUTIVE within each
    # partition. That is the current allocation behavior (per-partition
    # counter in the low 33 bits) but NOT the API contract
    # ("monotonically increasing and unique, but not consecutive"), so
    # verify it from the SAME stats collect — max-min+1 == count per
    # partition — and fall back to the row_number window (correct under
    # any allocation, one extra exchange) if allocation ever changes.
    # use_id_projection=False forces the window path — exposed so tests
    # exercise the fallback branch without having to fake a Spark whose
    # id allocation is non-consecutive
    consecutive = use_id_projection and all(
        mx - mn + 1 == c for c, mn, mx in stats.values())
    entries, acc = [], 0
    for pid in sorted(stats):
        c, mn, _mx = stats[pid]
        # fold the partition's id base and its global offset into ONE
        # per-pid constant: rn = mid - mn + acc + 1 = mid + adj[pid]
        entries.append((pid, acc - mn + 1) if consecutive else (pid, acc))
        acc += c
    if entries:
        adj = F.element_at(
            F.create_map(*[F.lit(x) for kv in entries for x in kv]),
            F.col("__pid"))
    else:
        adj = F.lit(1)
    if not consecutive and entries:
        w = Window.partitionBy("__pid").orderBy(F.col(order_col).asc(),
                                                F.col("__mid").asc())
        return (
            d.withColumn(col_name,
                         (F.row_number().over(w) + adj).cast("long"))
            .drop("__pid", "__mid")
        )
    return (
        d.withColumn(col_name, (F.col("__mid") + adj).cast("long"))
        .drop("__pid", "__mid")
    )


def paginate(df: DataFrame, order_col: str, offset: int,
             limit: int) -> DataFrame:
    """S2/O2 — deterministic batch window over a total order, built on
    the distributed ``global_index`` (no single-partition sort)."""
    return (
        global_index(df, order_col)
        .filter((F.col("__rn") > offset) & (F.col("__rn") <= offset + limit))
        .drop("__rn")
    )


def rank_in_group(df: DataFrame, partition: Sequence[str],
                  order: Sequence[Column], col_name: str = "rnk",
                  method: str = "rank") -> DataFrame:
    """Analytic ranking within groups (dense_rank/rank/row_number)."""
    fn = {"rank": F.rank, "dense_rank": F.dense_rank,
          "row_number": F.row_number}[method]
    w = Window.partitionBy(*partition).orderBy(*order)
    return df.withColumn(col_name, fn().over(w))


def running(df: DataFrame, partition: Sequence[str], order: Sequence[Column],
            agg: Column, col_name: str) -> DataFrame:
    """Running aggregate (cumulative) within a partition."""
    w = (Window.partitionBy(*partition).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(col_name, agg.over(w))


def lag_lead(w: WindowSpec, col: str, n: int = 1) -> tuple[Column, Column]:
    return F.lag(col, n).over(w), F.lead(col, n).over(w)


def _interval_us(spark, window: str) -> int:
    """Constant-fold a Spark INTERVAL string to microseconds via one
    literal row (a tiny driver-local job, no table scan)."""
    span_us = F.unix_micros(
        F.lit("1970-01-01 00:00:00").cast("timestamp")
        + F.expr(f"INTERVAL {window}"))
    return spark.range(1).select(span_us.alias("s")).collect()[0]["s"]


def rolling_time(df: DataFrame, key: Sequence[str] | str, ts_col: str,
                 window: str, aggs: dict[str, Column]) -> DataFrame:
    """Per-key rolling aggregates over a trailing TIME window (``ts -
    window, ts]`` inclusive both ends): e.g. each event's 24-hour
    trailing sum/count for its user.

    The frame is rangeBetween on the microsecond epoch (exact — no
    second-truncation aliasing), so Spark plans ONE shuffle on the key
    and a per-partition ordered scan with a sliding frame; state is the
    in-frame rows only, never the key's full history. ``window`` is a
    Spark INTERVAL string (e.g. ``'24' hours``); ``aggs`` maps output
    name -> aggregate Column over the frame's rows.
    """
    key = [key] if isinstance(key, str) else list(key)
    span = _interval_us(df.sparkSession, window)
    w = (Window.partitionBy(*key)
         .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
         .rangeBetween(-span, 0))
    return df.select(
        "*", *[expr.over(w).alias(name) for name, expr in aggs.items()])


def prefix_sum(df: DataFrame, order_cols: Sequence[str], value_col: str,
               out_col: str = "cum",
               num_partitions: int | None = None) -> DataFrame:
    """Distributed inclusive running sum of ``value_col`` over the total
    order given by ``order_cols`` (which must be a UNIQUE key — ties
    would make the intermediate sums order-dependent).

    Same two-phase shape as ``global_index``: range-partition on the
    order, cumsum within each partition in parallel, then add per-
    partition base offsets from a totals pass (one tiny collect of one
    sum per partition). The naive empty-partitionBy running-sum window
    funnels the entire table through one task; this never does.
    Every frame it persists belongs to the query-cache owner
    (``operators.util.release_query_caches``).

    r13 (VERDICT r12 item 6 — the machinery's fixed costs were the
    bench's worst scaling ratios): the INPUT is persisted and counted
    first. In practice every caller feeds an already-aggregated frame
    whose recompute is a full upstream pass, and ``repartitionByRange``
    alone executes its child TWICE (the range-sampling job, then the
    real exchange) — the input persist makes that one pass plus cache
    reads. The count then dispatches: a frame at or under
    :data:`PREFIX_SUM_MAX_SINGLE_SORT_ROWS` skips the whole
    range/offset machinery for one single-partition running-sum window
    (exact same values — the order is unique by contract — with zero
    extra exchanges, no pid bookkeeping and no second collect); bigger
    frames keep the skew-immune distributed shape, whose pre-exchange
    cache is dropped as soon as the ranged frame materializes.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c).asc() for c in order_cols]
    d0 = persist(df)
    if d0.count() <= PREFIX_SUM_MAX_SINGLE_SORT_ROWS:
        w = (Window.orderBy(*cols)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = d0.withColumn(
            out_col, F.sum(F.col(value_col)).over(w).cast("long"))
        # persist the RESULT too: rank-pick consumers read the cumsum
        # twice (offsets aggregate + the pick join), and without this
        # each consumer would re-run the single-partition sort — the
        # A/B measurement that set the crossover had exactly that
        # double-sort dominating the small path on wide count frames
        return persist(out)
    d = persist(d0.repartitionByRange(n, *cols)
                .withColumn("__pid", F.spark_partition_id()))
    totals = {r["__pid"]: r["t"] for r in
              d.groupBy("__pid").agg(
                  F.sum(F.col(value_col)).alias("t")).collect()}
    # the totals collect materialized the ranged cache; the
    # pre-exchange cache has no further consumer
    d0.unpersist()
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    if offsets:
        off = F.element_at(
            F.create_map(*[F.lit(x) for kv in sorted(offsets.items())
                           for x in kv]),
            F.col("__pid"))
    else:
        off = F.lit(0)
    w = (Window.partitionBy("__pid").orderBy(*cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        d.withColumn(out_col,
                     (F.sum(F.col(value_col)).over(w) + off).cast("long"))
        .drop("__pid")
    )


LagSpec = (dict[str, "str | tuple[str, int]"]
           | Sequence[tuple[str, str, int]] | None)


def _norm_specs(spec: LagSpec, k: int) -> list[tuple[str, str, int]]:
    """Normalize a lag/lead spec to ``[(src, dst, offset)]``.

    Accepts a dict src -> dst (offset ``k``) | (dst, offset), or a list
    of (src, dst, offset) triples — the form that takes SEVERAL offsets
    of one source (lag 1 and lag 2 of event_type in one pass)."""
    if spec is None:
        return []
    if not isinstance(spec, dict):
        return [(s, d, int(kk)) for s, d, kk in spec]
    out = []
    for src, v in spec.items():
        if isinstance(v, (tuple, list)):
            out.append((src, v[0], int(v[1])))
        else:
            out.append((src, v, k))
    return out


def seq_lag(df: DataFrame, keys: Sequence[str], order_cols: Sequence[str],
            lags: LagSpec = None,
            leads: LagSpec = None,
            k: int = 1,
            num_partitions: int | None = None) -> DataFrame:
    """Hot-key-immune ``lag(col, k)`` / ``lead(col, k)`` ``OVER
    (PARTITION BY keys ORDER BY order_cols)`` — the fourth machinery of
    the per-key sequential-window family (SCALING.md watch table):
    count-collapse/prefix_sum covers rank picks, chunked grids cover
    fills, range+carry covers as-of matches, and this covers the lag
    class (twap / event paths / transitions / SCD2 / order gaps), where
    a 10^8-event bot key would otherwise serialize its entire history
    through one ``partitionBy(key)`` window task.

    Shape: range-partition on ``(*keys, *order_cols)`` — a hot key's
    rows split across consecutive range partitions — then a plain
    per-``(partition, key)`` window computes every lag/lead in
    parallel. Only the k rows at each partition edge need a neighbor,
    so the fix is an exchange of ``n_partitions x k`` boundary rows,
    not a rebuild: per-partition head/tail candidates come back in ONE
    tiny collect, the driver chains them across empty/short partitions
    (the carry into partition p is the global last-k [first-k] rows of
    the prefix [suffix], which — because keys are contiguous under the
    range order — always contains exactly the ``min(k, available)``
    trailing [leading] rows of the one key that spans the boundary),
    and they re-enter as edge-tagged union rows that are dropped after
    the window pass.

    Contract: ``(*keys, *order_cols)`` must be a UNIQUE total order
    (same as ``prefix_sum``) — uniqueness is what makes edge rows sort
    strictly outside their neighbor partition's range. NULL keys form a
    real group (matching ``PARTITION BY``); NULL order values sort
    first in both the range partitioner and the window, so the global
    order is consistent. ``lags``/``leads`` map source column -> output
    name at offset ``k`` (dict values may be ``(output, offset)``), or
    are a list of ``(src, dst, offset)`` triples — the form that takes
    SEVERAL offsets of one source (lag 1 AND lag 2 of event_type in one
    pass); a source may also be a key or order column (the payload
    dedupes). The boundary exchange carries ``max(offsets)`` rows per
    edge and only in the requested directions (tails for lags, heads
    for leads). Results are invariant to ``num_partitions`` (pinned by
    tests). The persisted ranged frame belongs to the query-cache
    owner (same lifecycle as ``global_index``).
    """
    from collections import deque

    from pyspark.sql import types as T

    lag_specs = _norm_specs(lags, k)
    lead_specs = _norm_specs(leads, k)
    assert lag_specs or lead_specs, "need at least one of lags/leads"
    assert all(kk >= 1 for _, _, kk in lag_specs + lead_specs)
    km = max(kk for _, _, kk in lag_specs + lead_specs)
    srcs = sorted({s for s, _, _ in lag_specs + lead_specs})
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    order = [F.col(c).asc() for c in [*keys, *order_cols]]

    d = persist(df.repartitionByRange(n, *order)
                .withColumn("__pid", F.spark_partition_id())
                .withColumn("__edge", F.lit(0)))

    # a lag/lead source may itself be a key or order column — dedupe so
    # the payload struct (and its `__row.*` expansion) stays collision-free
    pay_cols = list(dict.fromkeys([*keys, *order_cols, *srcs]))
    payload = F.struct(*[F.col(c) for c in pay_cols])
    # one ascending rank + a whole-partition count: the count's
    # unordered frame reuses the rank's (pid, order) sort, so the
    # candidate pass costs ONE per-partition sort, not two (a
    # descending row_number for the tail rank would re-sort every
    # partition the other way); tail rank = __n - __h + 1. The count
    # (and the tail predicate) is only built when lags need it — a
    # lead-only call collects head rows alone, and vice versa.
    w_head = Window.partitionBy("__pid").orderBy(*order)
    w_cnt = Window.partitionBy("__pid")
    n_col = (F.count(F.lit(1)).over(w_cnt) if lag_specs
             else F.lit(0)).alias("__n")
    preds = []
    if lead_specs:
        preds.append(F.col("__h") <= km)
    if lag_specs:
        preds.append(F.col("__h") > F.col("__n") - km)
    pred = preds[0] if len(preds) == 1 else (preds[0] | preds[1])
    cand = (d.select(F.col("__pid"), payload.alias("__row"),
                     F.row_number().over(w_head).alias("__h"), n_col)
            .where(pred)
            .collect())
    heads: dict[int, list] = {}
    tails: dict[int, list] = {}
    for r in sorted(cand, key=lambda r: (r["__pid"], r["__h"])):
        if lead_specs and r["__h"] <= km:
            heads.setdefault(r["__pid"], []).append(r["__row"])
        if lag_specs and r["__h"] > r["__n"] - km:
            tails.setdefault(r["__pid"], []).append(r["__row"])

    carry: list[tuple] = []
    if lag_specs:
        dq: deque = deque(maxlen=km)  # global last-km of the prefix, asc
        for pid in sorted(tails):
            carry.extend((pid, row) for row in dq)
            dq.extend(tails[pid])
    if lead_specs:
        first_k: list = []  # global first-km of the suffix, asc
        for pid in sorted(heads, reverse=True):
            carry.extend((pid, row) for row in first_k)
            first_k = (heads[pid] + first_k)[:km]
    row_type = d.select(payload.alias("__row")).schema["__row"].dataType
    carry_df = spark.createDataFrame(
        carry,
        T.StructType([
            T.StructField("__pid", T.IntegerType(), False),
            T.StructField("__row", row_type, True),
        ]),
    ).select("__pid", F.lit(1).alias("__edge"), "__row.*")

    u = d.unionByName(carry_df, allowMissingColumns=True)
    w = Window.partitionBy("__pid", *keys).orderBy(*[F.col(c).asc()
                                                     for c in order_cols])
    outs = ([F.lag(src, kk).over(w).alias(dst)
             for src, dst, kk in lag_specs]
            + [F.lead(src, kk).over(w).alias(dst)
               for src, dst, kk in lead_specs])
    return (u.select("*", *outs)
            .where(F.col("__edge") == 0)
            .drop("__pid", "__edge"))


def group_rank(df: DataFrame, group_cols: Sequence[str],
               order_cols: Sequence[str],
               rank_col: str = "__grk", n_col: str = "__gn",
               num_partitions: int | None = None) -> DataFrame:
    """Per-group 1-based row rank over a UNIQUE (group + order) total
    order, plus the group size — WITHOUT a per-group window. This is
    the giant-group-safe replacement for
    ``row_number()/percent_rank() over (partition by group)`` when the
    group domain is small and the groups are therefore corpus-sized
    (source, returnflag, event_type...): a global ``prefix_sum`` of 1s
    over the (group, order) range partitioning spreads every group
    across tasks, and per-group offsets come back as one broadcast row
    per group (bounded by the group DOMAIN, not the data). Same
    two-phase machinery and persist lifecycle as
    ``prefix_sum``/``global_index``; the r8 mad_outliers rank-pick is
    the count-collapsed sibling of this per-row form.
    """
    cum = prefix_sum(df.withColumn("__one", F.lit(1)),
                     [*group_cols, *order_cols], "__one",
                     out_col="__cum", num_partitions=num_partitions)
    per_g = cum.groupBy(*group_cols).agg(
        (F.min("__cum") - 1).alias("__off"),
        F.count(F.lit(1)).alias(n_col))
    # NULL-SAFE group join: partitionBy/GROUP BY treat NULL as a real
    # group, so the offset lookup must too — a plain equi join would
    # silently drop every null-keyed group's rows (caught by fuzz seed
    # 501 before this ever shipped a round)
    per_g = per_g.select(
        *[F.col(g).alias(f"__g_{g}") for g in group_cols], "__off", n_col)
    cond = None
    for g in group_cols:
        c = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
        cond = c if cond is None else (cond & c)
    return (
        cum.join(F.broadcast(per_g), on=cond)
        .withColumn(rank_col, F.col("__cum") - F.col("__off"))
        .drop("__cum", "__off", "__one",
              *[f"__g_{g}" for g in group_cols])
    )


#: Probe memo (round 9): within one driver session several dispatch
#: consumers probe SEMANTICALLY IDENTICAL frames (twap /
#: top_event_paths / state_intervals all probe events.user_id under a
#: ts-not-null filter) — at 100 TB each redundant probe re-reads the
#: key column of the whole table. Keyed the way Spark's own
#: CacheManager keys cached plans: the analyzed plan's semanticHash,
#: confirmed by sameResult (expression ids are normalized there, so
#: two separate read_table calls over the same path DO hit). Staleness
#: is benign BY CONSTRUCTION: the memoized value only ever picks the
#: window-vs-seq plan, and both plans are value-exact — a stale hit
#: can cost a suboptimal shape for one run, never a wrong answer.
#: Released with the query caches (operators/util.release_query_caches,
#: called by the controller and the streaming epoch hook), and CAPPED
#: (r10, ADVICE): sessions that never hit those hooks (fuzzer sweeps,
#: ad-hoc drivers) must not pin unbounded py4j JVM plan references —
#: beyond ``_PROBE_MEMO_CAP`` distinct plan-hash slots the
#: oldest slot is evicted (dict preserves insertion order). An evicted
#: entry just re-probes on its next build; nothing can go stale-wrong.
_PROBE_MEMO: dict[int, list] = {}
_PROBE_MEMO_LOCK = threading.Lock()
_PROBE_MEMO_CAP = 64


def release_probe_memo() -> int:
    """Drop memoized top_key_share decisions (between-run hygiene for
    long-lived drivers); returns the number of entries released."""
    with _PROBE_MEMO_LOCK:
        n = sum(len(v) for v in _PROBE_MEMO.values())
        _PROBE_MEMO.clear()
    return n


def top_key_share(df: DataFrame, keys: Sequence[str],
                  support: float = 0.125,
                  memo: bool = False) -> tuple[float, object]:
    """Hottest key's (share, key) — thin wrapper over
    :func:`top_key_stats`, kept as the share-based probe surface the
    lag class dispatches on."""
    share, _cnt, key = top_key_stats(df, keys, support, memo=memo)
    return share, key


def top_key_stats(df: DataFrame, keys: Sequence[str],
                  support: float = 0.125,
                  memo: bool = False) -> tuple[float, int, object]:
    """Cheap exact-verified probe of the hottest key's row share AND
    absolute row count — ``(share, count, key)`` — for skew dispatch
    decisions. The count matters for the trailing-RANGE class (r10),
    whose one-task window cost is QUADRATIC in the hot key's in-frame
    rows, so the decision must key on absolute size, not share.

    Two passes over the key column(s) only (a column-pruned parquet
    scan when ``df`` is a bare ``read_table`` projection): (1)
    ``freqItems`` (Karp et al. one-pass heavy hitters — returns a
    superset of every item with share > ``support``, at most
    ceil(1/support) candidates, NO false negatives above support), then
    (2) one aggregation that exactly counts the candidates and the
    total, so the returned share is EXACT for any key whose true share
    exceeds ``support`` — false candidates just waste a counter. Both
    passes are map-side-combining aggregations; nothing shuffles by
    key, so the probe itself cannot skew.

    Composite keys are folded to one string (NULL folds to '' — the
    probe may merge a null key with an empty-string key, which only
    ever OVERSTATES the hot share: the conservative direction for a
    dispatch that picks the skew-immune shape on high shares).

    Returns ``(share, count, key_string)`` of the hottest verified
    candidate, or ``(0.0, 0, None)`` when no key exceeds ``support`` /
    df is empty. The guarantee is share-relative: any key with share >
    ``support`` is found (count exact); a key whose share is below
    ``support`` is invisible no matter its absolute size — callers
    dispatching on absolute count at extreme totals should lower
    ``support`` (cost: ceil(1/support) map-side counters).

    ``memo=True`` memoizes the result per analyzed plan for
    the life of the session — see ``_PROBE_MEMO`` above. The public
    default is ``memo=False`` (r10, ADVICE): a caller using the share
    as a MEASUREMENT over data that changed under the same plan within
    a run must see fresh values; only the dispatch path
    (:func:`resolve_lag_mode` / :func:`lag_dispatch`), where a stale
    hit can at worst mis-pick between two value-exact plans, opts in.
    Memo mechanics:
    hits are confirmed by Spark's own plan-equality (``semanticHash``
    + ``sameResult``, expression ids normalized), staleness can only
    mis-pick a plan (both are value-exact), and ``release_probe_memo``
    clears it with the rest of the between-run hygiene. The JVM plan
    introspection is guarded — any failure just means a probe run.
    """
    kc = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in keys])
    keyed = df.select(kc.alias("__k"))
    jplan = memo_key = None
    if memo:
        try:
            jplan = keyed._jdf.queryExecution().analyzed()
            memo_key = int(jplan.semanticHash())
            with _PROBE_MEMO_LOCK:
                for p, s, res in _PROBE_MEMO.get(memo_key, []):
                    # a LOWER-support probe searched a superset of the
                    # candidates this support would — its hottest-key
                    # answer serves any request at support >= s (r11,
                    # VERDICT item 6: the trailing class's fine probe
                    # feeds the lag class's coarse one within an epoch)
                    if s <= support and p.sameResult(jplan):
                        return res
        except Exception:  # noqa: BLE001 — connect/api drift: probe runs
            jplan = None
    cand = keyed.stat.freqItems(["__k"], support).collect()[0][0]
    res = (0.0, 0, None)
    if cand and len(cand) > 64:
        # derived-support probes (resolve_trailing_mode) can return
        # thousands of candidates — a per-candidate when-sum agg would
        # codegen one expression each, so count them through a tiny
        # hash aggregation instead (candidates collapse map-side to
        # <= len(cand)+1 partial rows per partition; __k is never NULL
        # — concat_ws folds all-null keys to '' — so the NULL group is
        # exactly the non-candidate remainder)
        rows = (keyed.groupBy(
            F.when(F.col("__k").isin(*[F.lit(c) for c in cand]),
                   F.col("__k")).alias("__k"))
            .agg(F.count(F.lit(1)).alias("__n")).collect())
        total = sum(r["__n"] for r in rows)
        top = max((r for r in rows if r["__k"] is not None),
                  key=lambda r: r["__n"], default=None)
        if total and top is not None:
            res = (top["__n"] / total, int(top["__n"]), top["__k"])
    elif cand:
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.sum(F.when(F.col("__k") == F.lit(c), 1).otherwise(0))
            .alias(f"__c{i}")
            for i, c in enumerate(cand)]
        r = keyed.agg(*aggs).collect()[0]
        if r["__n"]:
            share, cnt, key = max(
                ((r[f"__c{i}"] or 0) / r["__n"], r[f"__c{i}"] or 0, c)
                for i, c in enumerate(cand))
            res = (share, int(cnt), key)
    if jplan is not None:
        with _PROBE_MEMO_LOCK:
            _PROBE_MEMO.setdefault(memo_key, []).append(
                (jplan, float(support), res))
            while len(_PROBE_MEMO) > _PROBE_MEMO_CAP:
                _PROBE_MEMO.pop(next(iter(_PROBE_MEMO)))
    return res


#: Analyzed-plan node names through which Parquet footer row counts
#: remain a sound UPPER bound on the frame's cardinality: every node
#: here only removes or preserves rows (project/filter/limit/alias
#: over a file relation). Joins, aggregates, generates, unions etc.
#: can change cardinality in either direction and are deliberately
#: absent — any unlisted node disables the metadata bound entirely.
_SCAN_SAFE_NODES = frozenset({
    "Project", "Filter", "SubqueryAlias", "View", "Relation",
    "LogicalRelation", "GlobalLimit", "LocalLimit", "Sort",
    "Deduplicate", "Distinct",
    # NOT "Sample" (r11, ADVICE): sample(withReplacement=True,
    # fraction>1) can emit MORE rows than the input, so footer counts
    # stop being an upper bound — sampled plans fall back to the probe.
})


def _footer_row_bound(df: DataFrame, limit: int | None = None,
                      max_files: int = 512) -> int | None:
    """Driver-side, job-free UPPER bound on ``df``'s row count from
    Parquet footer metadata — or None when no bound is provable.

    A bound exists only when (a) the analyzed plan is a pure scan
    pipeline (every node in ``_SCAN_SAFE_NODES``, so file row counts
    upper-bound the output) and (b) every input file is a LOCAL
    parquet file whose footer pyarrow can read. Remote filesystems,
    scans with > ``max_files`` files, non-scan plans, and any
    introspection failure all return None: the caller falls back to
    the probe, which is always correct, just not free. None NEVER
    means "the frame is large" — only "not provable from metadata".

    ``limit`` early-exits the footer sweep once the sum crosses it
    (returning that partial sum, still a valid "> limit" witness) so
    a threshold check's footer cost is bounded by the answer, not the
    table size.
    """
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        for line in plan.splitlines():
            name = line.lstrip(" :+-").split(" ", 1)[0].split("[", 1)[0]
            if name and name not in _SCAN_SAFE_NODES:
                return None
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — connect/api drift: probe runs
        return None
    if len(files) > max_files:
        return None
    import urllib.parse

    import pyarrow.parquet as pq
    total = 0
    for f in files:
        u = urllib.parse.urlparse(f)
        if u.scheme not in ("file", "") or not f.endswith(".parquet"):
            return None
        try:
            total += pq.ParquetFile(u.path or f).metadata.num_rows
        except Exception:  # noqa: BLE001 — unreadable footer: probe runs
            return None
        if limit is not None and total > limit:
            return total
    return total


def _rows_at_most(df: DataFrame, limit: int,
                  max_files: int = 512) -> bool:
    """Is ``df``'s row count provably <= ``limit`` from Parquet footer
    metadata alone? False never means "large" — only "not provably
    small" (see :func:`_footer_row_bound`)."""
    bound = _footer_row_bound(df, limit=limit, max_files=max_files)
    return bound is not None and bound <= limit


#: Lag-class (and trailing-class) dispatch mode: ``"auto"`` probes the
#: data; ``"window"``/``"seq"`` force a shape and skip the probe (the
#: fuzzer's forced-shape axis monkeypatches this).
LAG_MODE = "auto"
#: Metadata row-count floor (r10, VERDICT item 1): below this many rows
#: the window shape wins at EVERY hot-key share (SCALING.md's crossover
#: sweep — at <=10M rows even a 100%-share key is a single task over
#: <=10M rows, a bounded few seconds, while seq_lag's two-phase tax is
#: unconditional), so a bare local-parquet probe whose footers prove it
#: this small takes the window shape without the probe's two jobs.
LAG_ROW_FLOOR = 10_000_000
#: Hot-share cutoff: the measured 25x crossover sits at a 32-40% share
#: (seq/window wall ratio 1.87 at ~0% share, 1.37 at 24%, 1.07 at 32%,
#: 0.83 at 40%, 0.42 at 96% — SCALING.md r9 table). Just below
#: crossover is the right bias: a false seq pick costs a bounded <=7%
#: there, while a false window pick at a genuinely hot key is an
#: unbounded single-task straggler whose penalty GROWS with the key's
#: absolute size.
LAG_THRESHOLD = 0.34
#: freqItems support of the lag probe; the probe runs at
#: ``min(LAG_SUPPORT, threshold)`` so the no-false-negatives guarantee
#: covers the cutoff.
LAG_SUPPORT = 0.125
#: Trailing-class seq trigger: the hottest key's ABSOLUTE row count.
#: The regret-minimizing point of the measured quadratic curve (r10): at
#: LOW frame occupancy a 50k-key window costs about the seq machinery's
#: fixed tax (false seq ~= free), while at high occupancy it is already
#: an order of magnitude past it and growing quadratically.
TRAILING_HOT_ROWS = 50_000
#: A fixed trailing-probe support, or None to derive it from the footer
#: bound (see :func:`resolve_trailing_mode`).
TRAILING_SUPPORT: float | None = None
#: Floor of the derived trailing-probe support — the probe-cost bound:
#: below it the counter map and the verification pass grow past the
#: point where probing is cheap, and a key that small a share of a
#: table that large is the documented residual blind spot.
TRAILING_MIN_SUPPORT = 1.0 / 4096


def resolve_lag_mode(probe: DataFrame, keys: Sequence[str],
                     mode: str | None = None,
                     threshold: float | None = None) -> str:
    """Resolve the lag-class dispatch decision to ``"window"`` or
    ``"seq"`` — the probe half of :func:`lag_dispatch`, exposed so a
    caller with SEVERAL window passes over one input (state_intervals:
    lag over the full frame, then lead over the change points) probes
    ONCE and reuses the decision.

    ``mode`` forces a shape (default :data:`LAG_MODE`). In auto mode a
    probe that Parquet footers prove at most :data:`LAG_ROW_FLOOR` rows
    takes the window shape with no Spark job (anything unprovable runs
    the probe); otherwise ``"seq"`` wins iff the probed hottest-key
    share reaches ``threshold`` (default :data:`LAG_THRESHOLD`; the
    EWMA class passes its own)."""
    mode = mode or LAG_MODE
    assert mode in ("auto", "window", "seq"), mode
    if mode != "auto":
        return mode
    if _rows_at_most(probe, LAG_ROW_FLOOR):
        return "window"
    threshold = LAG_THRESHOLD if threshold is None else threshold
    share, _ = top_key_share(probe, keys, min(LAG_SUPPORT, threshold),
                             memo=True)
    return "seq" if share >= threshold else "window"


def resolve_trailing_mode(probe: DataFrame, keys: Sequence[str],
                          mode: str | None = None) -> str:
    """Dispatch decision for the trailing-RANGE class
    (:func:`trailing_time_sums`) — by the hottest key's ABSOLUTE row
    count, not share: Spark's sliding-frame WindowExec re-evaluates
    the aggregate buffer per row (no retraction), so the one-task cost
    of a hot key is ~ hot_rows x in-frame rows — QUADRATIC at full
    occupancy (measured: 1.7 s at a 10k-row key, 5.5 s at 20k, 22.2 s
    at 40k at 20% occupancy, single task, local[32]; SCALING.md r10)
    while the seq shape stays flat. With ``hot_rows`` =
    :data:`TRAILING_HOT_ROWS`, the decision order is:

    1. forced mode (``mode=`` or :data:`LAG_MODE`);
    2. metadata floor: a pure local-scan probe provably < hot_rows
       TOTAL rows cannot contain a key reaching the seq trigger ->
       ``"window"`` (the same footer bound as the lag class, with the
       cap at hot_rows rather than the 10M lag floor — a sub-10M table
       can still hide a quadratically fatal trailing key; strictly
       below, because the probe rule fires AT hot_rows — r11, ADVICE);
    3. probe: ``"seq"`` iff the hottest key's exact count >= hot_rows.

    Probe support — AUTO-DERIVED from the footer bound (r11, VERDICT
    item 3): ``top_key_stats`` only guarantees detection of keys whose
    SHARE exceeds its support, so a fixed support is a blind spot at
    extreme totals (at 0.01, a sub-1%-share key above hot_rows is
    invisible). When the probe plan's Parquet footers yield a row
    upper bound ``ub``, any key with >= hot_rows rows has share >=
    hot_rows/ub, so support = 0.5*hot_rows/ub (the 0.5 is 2x detection
    margin) is sufficient AND necessary-scaled: it LOWERS support on
    big tables (closing the blind spot) and RAISES it on small ones
    (fewer heavy-hitter counters; capped at 0.5). The derived value is
    floored at :data:`TRAILING_MIN_SUPPORT`. A set
    :data:`TRAILING_SUPPORT` overrides derivation; the 0.01 default
    applies only when no footer bound exists.
    """
    mode = mode or LAG_MODE
    assert mode in ("auto", "window", "seq"), mode
    if mode != "auto":
        return mode
    hot_rows = TRAILING_HOT_ROWS
    ub = _footer_row_bound(probe)
    if ub is not None and ub < hot_rows:
        return "window"
    support = TRAILING_SUPPORT
    if support is None and ub:
        support = min(max(0.5 * hot_rows / ub, TRAILING_MIN_SUPPORT), 0.5)
    support = float(support if support is not None else 0.01)
    _share, cnt, _key = top_key_stats(probe, keys, support, memo=True)
    return "seq" if cnt >= hot_rows else "window"


def lag_dispatch(df: DataFrame, keys: Sequence[str],
                 order_cols: Sequence[str],
                 lags: LagSpec = None, leads: LagSpec = None, k: int = 1,
                 num_partitions: int | None = None,
                 mode: str | None = None,
                 probe: DataFrame | None = None) -> DataFrame:
    """Per-run skew dispatch for the lag class (SCALING.md watch
    table, decided round 9): compute ``lag/lead OVER (PARTITION BY
    keys ORDER BY order_cols)`` on whichever shape the DATA warrants —
    the plain per-key window (~2x cheaper on uniform keys: no second
    exchange, no persist, no boundary collect) or the hot-key-immune
    ``seq_lag`` (range partition + k-boundary-row exchange; the window
    shape pays ~2.9x at 96% one-key concentration and ~4.7x at 99%,
    trending to a multi-hour straggler at a 10^8-event bot key).

    The decision (:func:`resolve_lag_mode`; ``mode`` forces a shape)
    probes the hottest key's exact share via ``top_key_share`` (two
    map-side aggregation passes over the key column only) and picks
    ``seq_lag`` iff ``share >= LAG_THRESHOLD``, unless the footer row
    floor :data:`LAG_ROW_FLOOR` already proves the window shape. Both
    shapes are value-exact for lag/lead (picks, not sums), so the
    dispatch never changes results — pinned by tests either way.

    ``probe`` substitutes the probed frame (e.g. the raw table
    projection) when ``df`` already carries upstream work that the
    probe shouldn't recompute. Build-time jobs: in auto mode the probe
    runs 2 tiny jobs when the plan is BUILT (same eager-measurement
    rule as seq_lag) — once per distinct probe frame per session:
    repeat builds over a semantically identical frame hit the probe
    memo (``_PROBE_MEMO`` above) and run no jobs at all.
    """
    mode = resolve_lag_mode(probe if probe is not None else df, keys,
                            mode=mode)
    if mode == "seq":
        return seq_lag(df, keys, order_cols, lags=lags, leads=leads, k=k,
                       num_partitions=num_partitions)
    lag_specs = _norm_specs(lags, k)
    lead_specs = _norm_specs(leads, k)
    assert lag_specs or lead_specs, "need at least one of lags/leads"
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in order_cols])
    outs = ([F.lag(s, kk).over(w).alias(d) for s, d, kk in lag_specs]
            + [F.lead(s, kk).over(w).alias(d) for s, d, kk in lead_specs])
    return df.select("*", *outs)


def trailing_time_sums(df: DataFrame, key: Sequence[str] | str,
                       ts_col: str, window: str,
                       sums: dict[str, str] | None = None,
                       count_col: str | None = None,
                       mode: str | None = None,
                       num_partitions: int | None = None,
                       probe: DataFrame | None = None) -> DataFrame:
    """Per-key trailing TIME-window count/sums with a skew dispatch —
    the trailing-RANGE sibling of :func:`lag_dispatch` (VERDICT r10
    item 5). Semantics are exactly :func:`rolling_time`'s
    ``RANGE BETWEEN INTERVAL window PRECEDING AND CURRENT ROW`` frame
    (inclusive both ends, same-``ts`` rows are mutual peers, all
    null-``ts`` rows of a key are one peer group), restricted to the
    INVERTIBLE aggregates — ``count(*)`` and sums of EXACT-additive
    columns (integral / decimal; doubles are rejected because float
    sums reassociate and the two shapes would stop being bit-equal —
    quantize first, the package-wide convention).

    Shapes:
    - ``"window"``: the plain one-shuffle per-key RANGE frame
      (:func:`rolling_time`). A hot key funnels its entire history
      through ONE task — and worse than the lag class's linear
      straggler: Spark's sliding frame re-evaluates the aggregate
      buffer per row (no retraction), so the task is ~ hot_rows x
      in-frame rows — QUADRATIC at full occupancy (measured 4x cost
      per key-size doubling, SCALING.md r10).
    - ``"seq"``: hot-key-immune prefix-difference. Rows aggregate per
      (key, ts) instant (map-side combine — a same-instant burst
      count-collapses), instants get per-key running totals via the
      range-partitioned :func:`prefix_sum` machinery (global cumsum +
      per-key base correction broadcast, exact DECIMAL(38,s)
      accumulation — the ANSI wide-accumulate contract), the trailing
      boundary ``csum(ts - window - 1us)`` comes from a hot-key-safe
      :func:`~imp_etl_spark.operators.temporal.asof_join` of the
      instant frame against itself, and the answer is the difference —
      joined back on (key, ts) so a hot key spreads over its instants.
      Exact by construction: integer/decimal arithmetic end-to-end, so
      both shapes are bit-equal (pinned in tests/test_skew.py).

    Dispatch: ``mode=None`` resolves via :func:`resolve_trailing_mode`
    — :data:`LAG_MODE`, then the metadata row bound at
    :data:`TRAILING_HOT_ROWS`, then the exact hottest-key COUNT probe
    against it (rationale and the measured quadratic curve on the
    constant and the resolver's docstring).
    Keys may be NULL (real groups — struct-folded so every internal
    join is null-safe).
    """
    from pyspark.sql import types as T

    key = [key] if isinstance(key, str) else list(key)
    sums = dict(sums or {})
    assert sums or count_col, "need at least one of sums/count_col"
    for out, src in sums.items():
        dt = df.schema[src].dataType
        assert isinstance(dt, (T.DecimalType, T.LongType, T.IntegerType,
                               T.ShortType, T.ByteType)), (
            f"trailing_time_sums needs exact-additive types; {src} is "
            f"{dt.simpleString()} — quantize to decimal first")
    mode = resolve_trailing_mode(probe if probe is not None else
                                 df.select(*key), key, mode=mode)
    if mode == "window":
        aggs: dict[str, Column] = {}
        if count_col:
            aggs[count_col] = F.count(F.lit(1))
        for out, src in sums.items():
            aggs[out] = F.sum(F.col(src))
        out_cols = [*df.columns, *aggs]
        return rolling_time(df, key, ts_col, window, aggs).select(*out_cols)

    # ---- seq shape ----
    spark = df.sparkSession
    span = _interval_us(spark, window)
    n = num_partitions or spark.sparkContext.defaultParallelism
    # the window shape's output types: count(*) -> long; sum over
    # decimal(p,s) -> decimal(min(38,p+10),s); sum over integral -> long
    out_t: dict[str, str] = {}
    for out, src in sums.items():
        dt = df.schema[src].dataType
        if isinstance(dt, T.DecimalType):
            out_t[out] = f"decimal({min(38, dt.precision + 10)},{dt.scale})"
        else:
            out_t[out] = "bigint"
    wide_t = {out: (f"decimal(38,{df.schema[src].dataType.scale})"
                    if isinstance(df.schema[src].dataType, T.DecimalType)
                    else "decimal(38,0)")
              for out, src in sums.items()}

    d = df.withColumn("__k", F.struct(*[F.col(c) for c in key])) \
          .withColumn("__ep",
                      F.unix_micros(F.col(ts_col).cast("timestamp")))
    timed = d.where(F.col("__ep").isNotNull())
    untimed = d.where(F.col("__ep").isNull())

    # (1) per-(key, instant) partials — map-side combine collapses
    # same-instant bursts before anything shuffles. Two per-sum
    # accumulators (fuzz seeds 919-924): the coalesced-to-zero sum
    # (NULL partials would poison the running totals — SUM over a
    # window returns NULL until the first non-null) and the NON-NULL
    # VALUE COUNT, because a prefix DIFFERENCE cannot distinguish "no
    # values in frame" (the window shape's NULL) from "values summing
    # to zero" — presence has to ride along as its own prefix.
    s_cols = list(sums)
    g = timed.groupBy("__k", "__ep").agg(
        F.count(F.lit(1)).alias("__c"),
        *[F.coalesce(F.sum(F.col(sums[out]).cast(wide_t[out])),
                     F.lit(0).cast(wide_t[out])).alias(f"__s_{out}")
          for out in s_cols],
        *[F.count(F.col(sums[out])).alias(f"__m_{out}")
          for out in s_cols])
    val_cols = ["__c", *[f"__s_{out}" for out in s_cols],
                *[f"__m_{out}" for out in s_cols]]

    # (2) global running totals over the (key, instant) range order:
    # per-partition cumsum + driver-chained partition offsets (the
    # prefix_sum shape, generalized to several exact columns)
    cols = [F.col("__k").asc(), F.col("__ep").asc()]
    p = persist(g.repartitionByRange(n, *cols)
                .withColumn("__pid", F.spark_partition_id()))
    totals = (p.groupBy("__pid")
              .agg(*[F.sum(c).alias(c) for c in val_cols]).collect())
    acc = {c: 0 for c in val_cols}
    offs: dict[int, dict] = {}
    for r in sorted(totals, key=lambda r: r["__pid"]):
        offs[r["__pid"]] = dict(acc)
        for c in val_cols:
            acc[c] = acc[c] + (r[c] or 0)
    off_exprs = {}
    for c in val_cols:
        t = (wide_t[c.removeprefix("__s_")] if c.startswith("__s_")
             else "bigint")
        if offs:
            off_exprs[c] = F.element_at(
                F.create_map(*[x for pid in sorted(offs) for x in
                               (F.lit(pid),
                                F.lit(offs[pid][c]).cast(t))]),
                F.col("__pid"))
        else:
            off_exprs[c] = F.lit(0).cast(t)
    w = (Window.partitionBy("__pid").orderBy(*cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = p.select(
        "__k", "__ep", *val_cols,
        *[(F.sum(c).over(w) + off_exprs[c]).alias(f"__g{c}")
          for c in val_cols])

    # (3) per-key base = running total just BEFORE the key's first
    # instant (min_by, NOT min — sums can be negative); one broadcast
    # row per key, null-safe by the struct fold
    per_k = cum.groupBy("__k").agg(
        *[F.min_by(F.col(f"__g{c}") - F.col(c), F.col("__ep"))
          .alias(f"__b{c}") for c in val_cols])
    kc = cum.join(F.broadcast(
        per_k.select(F.col("__k").alias("__bk"),
                     *[f"__b{c}" for c in val_cols])),
        on=F.col("__k") == F.col("__bk")).select(
        "__k", "__ep",
        *[(F.col(f"__g{c}") - F.col(f"__b{c}")).alias(f"__kc{c}")
          for c in val_cols])

    # (4) trailing boundary: latest instant <= ts - window - 1us gives
    # the csum to subtract (frame [t-span, t] excludes ts' < t-span,
    # i.e. integer-microsecond ts' <= t-span-1)
    from imp_etl_spark.operators.temporal import asof_join
    build = kc.select(F.col("__k"), F.col("__ep").alias("__bts"),
                      *[F.col(f"__kc{c}").alias(f"__bb{c}")
                        for c in val_cols])
    probe_f = kc.withColumn("__bnd", F.col("__ep") - F.lit(span + 1))
    res = asof_join(
        probe_f, build, on="__k", probe_ts="__bnd", build_ts="__bts",
        build_cols={f"__bb{c}": f"__pb{c}" for c in val_cols},
        num_partitions=num_partitions)

    # frame sum = csum difference, but NULL when the frame holds zero
    # NON-NULL values (the window shape's SUM-of-empty semantics — the
    # non-null-count prefix difference carries presence)
    roll = res.select(
        "__k", "__ep",
        *([] if not count_col else
          [(F.col("__kc__c") - F.coalesce(F.col("__pb__c"), F.lit(0)))
           .alias(count_col)]),
        *[F.when(
            (F.col(f"__kc__m_{out}")
             - F.coalesce(F.col(f"__pb__m_{out}"), F.lit(0))) > 0,
            (F.col(f"__kc__s_{out}")
             - F.coalesce(F.col(f"__pb__s_{out}"),
                          F.lit(0).cast(wide_t[out])))
            .cast(out_t[out])).alias(out) for out in s_cols])

    out_names = ([count_col] if count_col else []) + s_cols
    timed_out = timed.join(
        roll.select(F.col("__k").alias("__jk"),
                    F.col("__ep").alias("__jep"), *out_names),
        on=(F.col("__k") == F.col("__jk"))
        & (F.col("__ep") == F.col("__jep")))

    # (5) null-ts rows: all of a key's untimed rows are mutual peers —
    # one per-key aggregate, broadcast back (same engine semantics as
    # the RANGE frame's null-ordering peer group)
    u_agg = untimed.groupBy(F.col("__k").alias("__jk")).agg(
        *([] if not count_col else
          [F.count(F.lit(1)).alias(count_col)]),
        *[F.sum(F.col(sums[out])).cast(out_t[out]).alias(out)
          for out in s_cols])
    untimed_out = untimed.join(F.broadcast(u_agg),
                               on=F.col("__k") == F.col("__jk"))

    final_cols = [*df.columns, *out_names]
    return (timed_out.select(*final_cols)
            .unionByName(untimed_out.select(*final_cols)))

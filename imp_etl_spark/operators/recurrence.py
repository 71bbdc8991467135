"""Distributed linear-recurrence scans (the EWMA class).

``s_i = alpha*x_i + (1-alpha)*s_{i-1}`` is the one per-key sequential
shape none of the round-8 machineries covers (SCALING.md watch table):
it is not a pick (count-collapse rank machinery), not a fill (chunked
grid), not a bounded-neighbor exchange (``seq_lag`` — every row depends
on ALL prior rows of its key). The classic parallel treatment is the
RESCALED SCAN: because the recurrence is linear with constant decay
``beta = 1-alpha``, the state factors as

    s_i = beta^e_i * RS_i + carry * beta^(e_i+1)

where ``RS`` is a plain running sum of ``coef_j * beta^(-e_j) * x_j``
inside a fixed-size chunk (``e`` = offset inside the chunk) and
``carry`` is the state entering the chunk. ``beta^(-e)`` overflows for
large ``e``, so the chunk size C is chosen from alpha to keep the
rescale factor inside double range — that per-chunk renormalization is
what makes the scan numerically viable (Blelloch-style scan literature
calls this segmented rescaling).

Shape at scale: the per-row work is ONE bounded window (<= C rows per
(key, chunk) group — giant-group-safe by construction, a 10^8-row bot
key becomes 10^8/C independent window groups); the sequential residue
is the per-key carry chain over CHUNK SUMMARIES, C-times compressed
(10^8 rows -> 10^5 summary rows), run as one Arrow-batched
``applyInPandas`` pass whose groups are tiny. For keys beyond ~10^10
rows the chain could recurse on itself (another C-fold compression per
level); one level covers every realistic entity today and the code
asserts nothing — the chain is exact at any depth, only its task gets
longer, linearly.

Reference parity note: the reference engine (SURVEY.md §2) has no
recursive analytics at all — this operator exists for the §7.8
training-data/analytics north star (trend smoothing, anomaly
baselines), same tier as seq_lag/group_rank.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: EWMA's hot-share cutoff for the rank dispatch (r9): its seq-rank tax
#: is steeper than the lag class's (group_rank's prefix_sum persists and
#: re-joins the whole frame: measured 2.8x at 100x uniform vs seq_lag's
#: ~2x) and its measured crossover sits at near-total shares on
#: test-scale keys — parity at a 96%-share 2.4M-row key, seq 0.74x ahead
#: at a 99%-share 10M-row key (SCALING.md r9) — moving lower as the hot
#: key's ABSOLUTE size grows (the window rank is a one-task sort, linear
#: in the key). High threshold = the bounded ~2.8x insurance only
#: engages where the unbounded straggler is plausible.
EWMA_THRESHOLD = 0.9
#: Largest chunk-summary frame whose carry chain runs on the driver
#: (r11, VERDICT item 1): a LIMIT cap+1 probe collects at most this
#: many rows; more means the distributed Arrow chain.
EWMA_DRIVER_CHAIN_ROWS = 100_000
#: ewma_scan's driver chain needs the chunked frame persisted (both
#: jobs must see one evaluation); inputs footer-proved above this many
#: rows take the distributed chain instead of a cache that large.
EWMA_PERSIST_ROWS = 10_000_000


def _chunk_size(alpha: float) -> int:
    """Largest chunk whose rescale factor beta^-(C-1) stays safely
    inside double range: C*(-log2 beta) <= 500, clamped to [1, 4096]
    (500 bits of headroom leaves ~2^523 for |x| before overflow)."""
    beta = 1.0 - alpha
    if beta <= 0.0:  # alpha == 1: s_i = x_i, no recursion at all
        return 1
    bits = -math.log2(beta)
    return max(1, min(4096, int(500.0 / max(bits, 1e-12))))


def _chunk_frame(df: DataFrame, keys: list[str], order_cols: list[str],
                 value_col: str, alpha: float, beta: float, c_size: int,
                 mode: str | None,
                 num_partitions: int | None) -> DataFrame:
    """Shared front half of the rescaled scan: per-key rank (skew
    dispatch), chunk/offset assignment, and the rescaled within-chunk
    running state ``__local`` — identical float ops in both rank modes.

    Dispatch: the lag class's resolver at EWMA's own hot-share cutoff,
    :data:`EWMA_THRESHOLD`.
    """
    from imp_etl_spark.operators.window import (
        group_rank,
        resolve_lag_mode,
    )

    mode = resolve_lag_mode(df.select(*keys), keys, mode=mode,
                            threshold=EWMA_THRESHOLD)
    if mode == "window":
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).asc() for c in order_cols])
        ranked = df.withColumn("__r", F.row_number().over(w))
    else:
        ranked = group_rank(df, keys, order_cols, rank_col="__r",
                            n_col="__gn",
                            num_partitions=num_partitions).drop("__gn")

    # ---- shared path: identical float ops in both modes ----
    d = (ranked
         .withColumn("__chunk", ((F.col("__r") - 1) / c_size)
                     .cast("long"))
         .withColumn("__e", (F.col("__r") - 1) % c_size))
    coef = F.when(F.col("__r") == 1, F.lit(1.0)).otherwise(F.lit(alpha))
    term = (coef * F.pow(F.lit(beta), -F.col("__e").cast("double"))
            * F.col(value_col).cast("double"))
    wc = (Window.partitionBy(*keys, "__chunk")
          .orderBy(*[F.col(c).asc() for c in order_cols])
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return d.withColumn(
        "__local",
        F.pow(F.lit(beta), F.col("__e").cast("double"))
        * F.sum(term).over(wc))


def _chunk_summaries(d: DataFrame, keys: list[str]) -> DataFrame:
    """Per-(key, chunk) end state + row count — the compressed frame
    the carry chain runs over. max_by on __e picks the chunk's last
    row (unique inside a chunk by construction)."""
    return d.groupBy(*keys, "__chunk").agg(
        F.max_by("__local", "__e").alias("__end"),
        F.count(F.lit(1)).alias("__len"))


def ewma_scan(df: DataFrame, keys: Sequence[str],
              order_cols: Sequence[str], value_col: str,
              alpha: float, out_col: str = "ewma",
              mode: str | None = None,
              num_partitions: int | None = None,
              chunk_size: int | None = None) -> DataFrame:
    """Per-row recursive EWMA over each key's ordered sequence:
    ``s_1 = x_1``; ``s_i = alpha*x_i + (1-alpha)*s_{i-1}`` (the
    pandas ``ewm(adjust=False)`` recursion; the ``adjust=True`` form
    is the ratio of two such scans with coef 1 and x=1 for the
    denominator). NULL values propagate the previous state unchanged
    is NOT implemented — rows with NULL ``value_col`` must be filtered
    by the caller (same temporal contract as the rest of the package:
    a valueless observation is no observation).

    Contract: ``(*keys, *order_cols)`` must be a UNIQUE total order
    (ties would make the recursion order-dependent). NULL keys form a
    real group. ``mode`` picks how the per-key rank is computed —
    ``"window"`` (plain ``row_number`` per key: one shuffle, but a hot
    key's rank sort runs in one task) or ``"seq"`` (``group_rank``'s
    distributed prefix-sum rank: hot-key-immune, two-phase tax); None
    resolves via the same probe dispatch as the lag class
    (``window.resolve_lag_mode``). EVERYTHING after the rank is
    shared code — identical float operations in identical order — so
    the two modes are bit-equal (pinned by tests), and both match the
    naive sequential recursion to ~1e-12 relative (also pinned; exact
    equality with the naive form is impossible for ANY reassociating
    parallel scheme).

    Overflow domain: |x| < ~1e140 (the rescale factor spends up to
    2^500 of double range; see ``_chunk_size``).
    """
    assert 0.0 < alpha <= 1.0, alpha
    beta = 1.0 - alpha
    # chunk_size override: tests force tiny chunks so the carry chain
    # and the chunk-boundary algebra are exercised on small fixtures
    c_size = min(chunk_size or _chunk_size(alpha), _chunk_size(alpha))
    keys = list(keys)
    order_cols = list(order_cols)

    d = _chunk_frame(df, keys, order_cols, value_col, alpha, beta,
                     c_size, mode, num_partitions)

    # chunk summaries (the carry chain's C-times-compressed frame;
    # per-key groups of key_rows/C rows, chained in one pass)
    summ = _chunk_summaries(d, keys)

    import pandas as pd

    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in summ.schema if f.name in keys)
    out_schema = (key_fields + ", __chunk long, __carry double")

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__chunk")
        carry, out = 0.0, []
        for end, ln in zip(pdf["__end"], pdf["__len"]):
            out.append(carry)
            carry = end + carry * (beta ** int(ln))
        pdf = pdf.assign(__carry=out)
        return pdf[[*keys, "__chunk", "__carry"]]

    # Carry-chain dispatch (r11, VERDICT item 1): at SCALE chunking the
    # summary frame is C-times compressed, so on anything but an
    # enormous corpus it is a few thousand rows — and the Arrow
    # applyInPandas stage costs ~2 s of per-group/worker overhead even
    # for an identity (measured at 1500 groups, local[32]), dominating
    # the whole scan at bench scale. A LIMIT cap+1 probe collects the
    # summaries when they are provably small and runs the chain on the
    # driver instead (the same bounded driver-side-aggregate class as
    # prefix_sum's partition offsets), broadcasting the result back;
    # cap+1 rows returned means "too big" and the distributed pandas
    # chain runs exactly as before — the 100 TB path is unchanged.
    # Gated to c_size >= 64: at tiny chunk sizes (the oracle-exact
    # chunk=1 config, boundary-algebra tests) summaries approach the
    # full frame and the probe would be a wasted pass. The driver
    # chain replays chain()'s float op sequence literally (same
    # CPython/libm mult-add-pow on the same doubles), so the two
    # paths are bit-equal (pinned in tests/test_recurrence.py).
    cap = EWMA_DRIVER_CHAIN_ROWS
    carries = None
    if c_size >= 64:
        # The probe and the final action are SEPARATE jobs over the
        # same rank+chunk-window subtree, so carries collected in job 1
        # joined against ranks recomputed in job 2 are only consistent
        # when that recomputation is pinned. The driver chain therefore
        # engages ONLY when the input is a footer-bounded parquet scan
        # small enough to persist — the persist fixes one evaluation
        # that both jobs share. Unprovable inputs (in-memory frames,
        # joins, non-parquet sources — where a nondeterministic
        # upstream like sample()/rand() could yield a DIFFERENT second
        # evaluation, ADVICE r11) and footer-bounded inputs past the
        # persist cap take the distributed chain, whose carry and
        # join-back evaluate inside one query — at 100 TB nothing
        # changes and no probe pass is wasted.
        from imp_etl_spark.operators.window import _footer_row_bound
        ub = _footer_row_bound(df)
        probe_rows = None
        if ub is not None and ub <= EWMA_PERSIST_ROWS:
            from imp_etl_spark.operators.util import persist
            d = persist(d)
            summ = _chunk_summaries(d, keys)
            probe_rows = summ.limit(cap + 1).collect()
        if probe_rows is not None and len(probe_rows) <= cap:
            groups: dict[tuple, list] = {}
            for r in probe_rows:
                groups.setdefault(tuple(r[k] for k in keys),
                                  []).append(r)
            out_rows = []
            for kv, rs in groups.items():
                rs.sort(key=lambda r: r["__chunk"])
                carry = 0.0
                for r in rs:
                    out_rows.append((*kv, r["__chunk"], carry))
                    carry = r["__end"] + carry * (beta ** int(r["__len"]))
            from pyspark.sql import types as T
            schema = T.StructType(
                [f for f in summ.schema.fields if f.name in keys]
                + [T.StructField("__chunk", T.LongType()),
                   T.StructField("__carry", T.DoubleType())])
            carries = F.broadcast(
                df.sparkSession.createDataFrame(out_rows, schema))
    if carries is None:
        carries = summ.groupBy(*keys).applyInPandas(chain, out_schema)

    # null-safe join back (NULL keys are real groups — the fuzz-501
    # class); keyed by (keys, chunk) so a hot key spreads over its
    # chunks, never one join task
    cj = carries.select(
        *[F.col(c).alias(f"__j_{c}") for c in keys], "__chunk",
        "__carry")
    cond = None
    for g in keys:
        c = F.col(g).eqNullSafe(F.col(f"__j_{g}"))
        cond = c if cond is None else (cond & c)
    joined = d.join(cj, on=cond & (d["__chunk"] == cj["__chunk"]),
                    how="left").drop(cj["__chunk"])
    return (joined
            .withColumn(
                out_col,
                F.col("__local")
                + F.coalesce(F.col("__carry"), F.lit(0.0))
                * F.pow(F.lit(beta), (F.col("__e") + 1).cast("double")))
            .drop("__r", "__chunk", "__e", "__local", "__carry",
                  *[f"__j_{g}" for g in keys]))


def ewma_final(df: DataFrame, keys: Sequence[str],
               order_cols: Sequence[str], value_col: str,
               alpha: float, out_col: str = "ewma_final",
               n_col: str = "n_events",
               mode: str | None = None,
               num_partitions: int | None = None,
               chunk_size: int | None = None) -> DataFrame:
    """Per-key FINAL state of the unbounded EWMA recursion (``s_N``
    over the key's full ordered history) plus the key's row count —
    WITHOUT materializing the per-row scan (r11, VERDICT item 1).

    The algebra: the carry entering chunk ``j+1`` is ``end_j + carry_j
    * beta^len_j``, and the state at the last row of the last chunk is
    exactly that same expression applied through the final chunk — so
    the terminal chain carry IS ``s_N``, and the whole answer falls out
    of the chunk summaries: ONE pass over the data (rank window ->
    chunk window -> per-(key, chunk) aggregate), no join-back, no
    per-row output. A final-state consumer that aggregated
    :func:`ewma_scan` with ``max_by`` instead pays the scan's
    summaries pass AND the carry join-back AND a full-frame final
    aggregation — ~2x the work for the same bits.

    Bit-equality: at ``chunk_size=1`` the terminal carry replays the
    sequential fold's exact IEEE op sequence (``beta**1`` is exact in
    every engine), so the result hashes identically to DuckDB's
    ``list_reduce`` oracle — the same contract as ewma_scan's chunk=1
    configuration. At larger chunks the ops are the same sequence the
    scan's chain performs; agreement with ewma_scan+max_by is pinned
    in tests (the one cross-engine wobble candidate is libm pow vs
    Math.pow at exponents > 1, which only enters the JOIN-BACK side).

    Chain placement: when a LIMIT cap+1 probe shows the summary frame
    is small (<= :data:`EWMA_DRIVER_CHAIN_ROWS`), the chain runs on
    the driver and the result is a literal local frame — total cost
    one distributed pass. Bigger summary
    frames run the distributed Arrow chain emitting one row per key
    (a 10^12-row corpus at default chunking is ~4x10^8 summary rows:
    far past any collect, exactly the applyInPandas shape).
    """
    assert 0.0 < alpha <= 1.0, alpha
    beta = 1.0 - alpha
    c_size = min(chunk_size or _chunk_size(alpha), _chunk_size(alpha))
    keys = list(keys)
    order_cols = list(order_cols)

    d = _chunk_frame(df, keys, order_cols, value_col, alpha, beta,
                     c_size, mode, num_partitions)
    summ = _chunk_summaries(d, keys)
    spark = df.sparkSession

    cap = EWMA_DRIVER_CHAIN_ROWS
    # Probe gate (ADVICE r11): at tiny chunk sizes the summary frame
    # approaches the full input, so an unconditional LIMIT cap+1 probe
    # on a large chunk=1 input collects up to `cap` rows and pays a
    # whole extra pass over the rank+window subtree before the
    # distributed chain evaluates it again. Probe only when chunking
    # actually compresses (c_size >= 64, same gate as ewma_scan) or
    # when a parquet footer bound PROVES the probe will succeed
    # (rows <= cap implies summaries <= cap), which keeps the fast
    # driver path for small chunk=1 fixtures. Unlike ewma_scan there
    # is no consistency hazard here: a successful probe builds the
    # entire answer from the collected rows (no join-back, no second
    # evaluation).
    from imp_etl_spark.operators.window import _footer_row_bound

    ub = _footer_row_bound(df)
    if c_size >= 64 or (ub is not None and ub <= cap):
        probe_rows = summ.limit(cap + 1).collect()
        if len(probe_rows) <= cap:
            groups: dict[tuple, list] = {}
            for r in probe_rows:
                groups.setdefault(tuple(r[k] for k in keys),
                                  []).append(r)
            out_rows = []
            for kv, rs in groups.items():
                rs.sort(key=lambda r: r["__chunk"])
                carry, n = 0.0, 0
                for r in rs:
                    carry = r["__end"] + carry * (beta ** int(r["__len"]))
                    n += int(r["__len"])
                out_rows.append((*kv, n, carry))
            from pyspark.sql import types as T
            schema = T.StructType(
                [f for f in summ.schema.fields if f.name in keys]
                + [T.StructField(n_col, T.LongType()),
                   T.StructField(out_col, T.DoubleType())])
            return spark.createDataFrame(out_rows, schema)

    import pandas as pd

    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in summ.schema if f.name in keys)
    out_schema = key_fields + f", {n_col} long, {out_col} double"

    def term_chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__chunk")
        carry = 0.0
        for end, ln in zip(pdf["__end"], pdf["__len"]):
            carry = end + carry * (beta ** int(ln))
        head = pdf.iloc[:1]
        return pd.DataFrame(
            {**{k: head[k].values for k in keys},
             n_col: [int(pdf["__len"].sum())],
             out_col: [carry]})

    return summ.groupBy(*keys).applyInPandas(term_chain, out_schema)

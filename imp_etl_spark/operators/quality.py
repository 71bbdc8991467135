"""Declarative data-quality rules: the reference's validity filter
(P4-P6, ``services/etlService.js:65-75``) generalized into a rule set.

The reference hand-codes one rule (composite key present, JS-falsy
semantics) and routes failures to a skip counter + warning log. Here a
rule is a named predicate Column; ``apply_rules`` splits any frame into
(good, bad) in ONE pass — bad rows carry the list of failed rule names
(the warnings side-output, queryable instead of log-scraped).

Scale notes: rules are Column expressions inside whole-stage codegen —
no UDFs, no extra scan; the split is two filters over one cached/shared
node, and per-rule violation counts ride ``observe()`` upstream if the
caller attaches them. Failed-rule names are built with array filtering,
not string concat loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Rule:
    """A named validity predicate (True = row passes)."""

    def __init__(self, name: str, predicate: Column):
        self.name = name
        self.predicate = predicate


def not_null(col: str) -> Rule:
    return Rule(f"{col}_not_null", F.col(col).isNotNull())


def non_blank(col: str) -> Rule:
    """Present and not empty/whitespace (the reference's falsy-key check
    minus the 0-is-missing quirk; compose with ``in_range`` for that)."""
    return Rule(f"{col}_non_blank",
                F.col(col).isNotNull() & (F.trim(F.col(col)) != ""))


def in_set(col: str, allowed: Sequence[str]) -> Rule:
    return Rule(f"{col}_in_set", F.col(col).isin(*allowed))


def in_range(col: str, lo, hi) -> Rule:
    return Rule(f"{col}_in_range",
                F.col(col).isNotNull() & F.col(col).between(lo, hi))


def matches(col: str, pattern: str) -> Rule:
    return Rule(f"{col}_matches", F.col(col).rlike(pattern))


def max_length(col: str, n: int) -> Rule:
    """VARCHAR(n) length as a data-quality rule (SURVEY.md §1.2 — Spark
    strings carry no length, so the DDL's bound becomes a check)."""
    return Rule(f"{col}_max_len", F.length(F.col(col)) <= n)


def apply_rules(df: DataFrame, rules: Sequence[Rule],
                failed_col: str = "failed_rules") -> tuple[DataFrame, DataFrame]:
    """Split into (good, bad). Bad rows gain ``failed_col``: the array of
    rule names they violate. One expression tree, evaluated once per row."""
    checks = F.array(*[
        F.struct(F.lit(r.name).alias("name"),
                 r.predicate.alias("ok"))
        for r in rules
    ])
    failed = F.transform(
        F.filter(checks, lambda c: ~F.coalesce(c["ok"], F.lit(False))),
        lambda c: c["name"])
    tagged = df.withColumn(failed_col, failed)
    good = tagged.filter(F.size(failed_col) == 0).drop(failed_col)
    bad = tagged.filter(F.size(failed_col) > 0)
    return good, bad


def violation_counts(bad: DataFrame,
                     failed_col: str = "failed_rules") -> DataFrame:
    """Per-rule violation counts from the bad side-output (A4 analog)."""
    return (
        bad.select(F.explode(failed_col).alias("rule"))
        .groupBy("rule").agg(F.count(F.lit(1)).alias("violations"))
    )


def profile_table(df, columns=None):
    """Long-format column profile: one row per column with total/null/
    exact-distinct counts and typed min/max (numeric columns fill
    min_num/max_num, strings fill min_str/max_str — no cross-engine
    number-to-string formatting ever happens).

    One aggregation job for the whole profile. Multiple exact DISTINCT
    aggregates compile to Catalyst's EXPAND strategy (input replicated
    once per distinct column) — the deterministic choice, priced at
    ~ncols x the scan; for wide tables at 100 TB swap the distinct
    column set for ``approx_count_distinct`` (the `agg_approx_stats`
    pattern) and keep everything else. The final stack runs on the
    single aggregate row.
    """
    from pyspark.sql import functions as F

    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        base = dtypes[c].split("(")[0]
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
        if base in numeric or base == "decimal":
            aggs.append(F.min(F.col(c)).cast("double").alias(f"mnn_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"mxn_{c}"))
        elif base == "string":
            aggs.append(F.min(F.col(c)).alias(f"mns_{c}"))
            aggs.append(F.max(F.col(c)).alias(f"mxs_{c}"))
    row = df.agg(*aggs)
    # ONE stack() over the single aggregate row — a union of per-column
    # selects would re-execute the aggregate once per column
    entries = []
    for c in cols:
        base = dtypes[c].split("(")[0]
        is_num = base in numeric or base == "decimal"
        entries += [
            f"'{c}'", "__n", f"__n - nn_{c}", f"nd_{c}",
            f"mnn_{c}" if is_num else "CAST(NULL AS DOUBLE)",
            f"mxn_{c}" if is_num else "CAST(NULL AS DOUBLE)",
            f"mns_{c}" if base == "string" else "CAST(NULL AS STRING)",
            f"mxs_{c}" if base == "string" else "CAST(NULL AS STRING)",
        ]
    stack = (f"stack({len(cols)}, {', '.join(entries)}) AS "
             "(column, n_rows, n_nulls, n_distinct, "
             "min_num, max_num, min_str, max_str)")
    return row.selectExpr(stack)


def zscore_outliers(df: DataFrame, group_col, value_col: str,
                    threshold: int = 3, scale: int = 2,
                    z_col: str = "zscore",
                    score_df: DataFrame | None = None) -> DataFrame:
    """Per-group z-score outlier detection with EXACT integer moments:
    keep rows where |value - mean(group)| > threshold * stddev_pop(group),
    and report the z-score.

    The reference has no statistical screening (its validity layer stops
    at presence checks, services/etlService.js:65-75); this is the
    anomaly-filter tier a training pipeline runs over numeric telemetry.

    Determinism: ``value`` is quantized to ``scale`` decimal digits via
    the pinned double->DECIMAL(18,s) cast (tests/test_quantize.py), then
    all moments (n, S1=sum v, S2=sum v^2) accumulate as exact
    DECIMAL(38,0) integers, and the outlier predicate is the pure
    integer comparison ``(v*n - S1)^2 > t^2 * (n*S2 - S1^2)`` — no
    float compares anywhere, so the kept set is partitioning- and
    fold-order-independent and reproducible in any engine. The reported
    z is computed with exactly three IEEE ops (two correctly-rounded
    decimal->double conversions feed one divide over one
    correctly-rounded sqrt), so it is bit-identical across engines at
    every magnitude the 38-digit moments can hold.

    Scale: one hash aggregation per group for the moments (map-side
    partial), then the tiny moment frame broadcasts back onto the fact —
    no second shuffle of the data. DECIMAL(38,0) holds n*S2 up to ~1e38:
    at micro-cent scale that is ~1e19 rows per group before overflow.
    """
    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    q = F.col(value_col).cast(f"decimal(18,{scale})")
    v_int = (q * F.lit(10 ** scale)).cast("long")
    d38 = "decimal(38,0)"
    # value-less rows carry no signal: excluded from the baseline (a
    # NULL would be skipped by the sums but still counted in n,
    # silently diluting the mean) and cannot be scored
    df = df.where(F.col(value_col).isNotNull())
    moments = (
        df.select(*groups, v_int.alias("__v"))
        .groupBy(*groups)
        .agg(
            F.count(F.lit(1)).cast(d38).alias("__n"),
            F.sum(F.col("__v").cast(d38)).alias("__s1"),
            # cast BEFORE squaring: a long*long square overflows i64
            # once |v| reaches ~3e9 quantized units; decimal(38,0)
            # multiply keeps the moment exact to ~1e19 units
            F.sum(F.col("__v").cast(d38) * F.col("__v").cast(d38))
            .alias("__s2"),
        )
    )
    dev = v_int.cast(d38) * F.col("__n") - F.col("__s1")
    den = F.col("__n") * F.col("__s2") - F.col("__s1") * F.col("__s1")
    # decimal -> double directly: the old BIGINT hop errored once |den|
    # passed 2^63; the direct cast is the same correctly-rounded IEEE
    # value (bit-equal to DuckDB's HUGEINT -> DOUBLE) at every scale
    z = (
        dev.cast("double")
        / F.sqrt(den.cast("double"))
    )
    target = df if score_df is None else score_df
    # den == 0 (zero-variance baseline) admits every non-member under
    # the bare predicate and divides by zero in z; such a degenerate
    # baseline cannot score anything. Self-scoring is unaffected
    # (members of a zero-variance group always have dev == 0).
    return (
        target.join(F.broadcast(moments), on=groups, how="inner")
        .filter((den > F.lit(0).cast(d38))
                & (dev * dev > F.lit(threshold * threshold).cast(d38) * den))
        .withColumn(z_col, z)
        .drop("__n", "__s1", "__s2")
    )


def mad_outliers(df: DataFrame, group_col: str, value_col: str,
                 tiebreak_col: str, k: int = 5,
                 scale: int = 2) -> DataFrame:
    """Robust per-group outlier detection via the median absolute
    deviation: keep rows where |value - median(group)| > k * MAD(group).
    The companion to ``zscore_outliers`` for heavy-tailed data, where
    the mean/stddev screen is itself dragged by the outliers it should
    catch (median/MAD have a 50% breakdown point vs 0%).

    Fully exact: values quantize through the pinned double->DECIMAL cast
    to integer units; median and MAD are DISCRETE rank-picked elements
    (value at rank ceil(n/2) over (value, tiebreak) order), and the
    outlier predicate compares integers — zero float ops anywhere, so
    membership is reproducible in any engine. (``tiebreak_col`` is kept
    for the row-level ORDER the contract is stated in, but the VALUE at
    a rank is tiebreak-independent — equal values are adjacent under
    any tiebreak — which is what lets the rank-pick run on counts.)

    Scale (r8, VERDICT r7 item 6): each rank-pick collapses rows to
    ``(group, value) -> count`` first — map-side combine absorbs
    duplicate values, so a point-massed group arrives as ONE row — then
    finds the rank-``ceil(n/2)`` element from a GLOBAL distributed
    prefix sum of the counts over (group, value) order
    (operators/window.prefix_sum: range exchange + per-partition
    cumsum + per-partition offsets; per-group start offsets come from a
    tiny one-row-per-group aggregate broadcast back). Range
    partitioning splits a dominant group's value domain across tasks,
    so a 90%-one-group corpus never funnels into a single sort task —
    the previous ``row_number() over (partition by group)`` shape paid
    a measured 2.3x skew penalty at 25x sf0.1 with ~97% of rows in one
    group (SCALING.md, tools/scale_experiment.py SCALE_MADSKEW25).
    Note the prefix sums run two tiny collects at plan-build time
    (bench/scale timers treat this query as EAGER_BUILD); the persisted
    intermediates belong to the query-cache owner (see ``global_index``).
    The tiny median/MAD frames broadcast back. Output adds
    ``dev``/``mad`` integer-unit columns.
    """
    from imp_etl_spark.operators.window import prefix_sum

    v_int = (F.col(value_col).cast(f"decimal(18,{scale})")
             * F.lit(10 ** scale)).cast("long")
    # a row without a value has no deviation: it can neither anchor the
    # median nor be scored (and a NULL __v would sort to an
    # engine-dependent end of the rank window, shifting the pick)
    q = df.where(F.col(value_col).isNotNull()).withColumn("__v", v_int)

    def _rank_pick(frame: DataFrame, col: str, alias: str) -> DataFrame:
        counts = frame.groupBy(group_col, col).agg(
            F.count(F.lit(1)).alias("__c"))
        cum = prefix_sum(counts, [group_col, col], "__c",
                         out_col="__gcum")
        # per-group start offset (global cum just before the group) and
        # group size: one tiny row per group, broadcast back
        per_g = cum.groupBy(group_col).agg(
            F.min(F.col("__gcum") - F.col("__c")).alias("__off"),
            F.sum("__c").alias("__n"))
        within = F.col("__gcum") - F.col("__off")
        target = F.ceil(F.col("__n") * F.lit(0.5))
        # exactly one (group, value) row straddles the target rank
        return (
            cum.join(F.broadcast(per_g), on=group_col)
            .filter((within >= target) & (within - F.col("__c") < target))
            .select(group_col, F.col(col).alias(alias))
        )

    med = _rank_pick(q, "__v", "__med")
    d = q.join(F.broadcast(med), on=group_col).withColumn(
        "dev", F.abs(F.col("__v") - F.col("__med")))
    mad = _rank_pick(d, "dev", "mad")
    return (
        d.join(F.broadcast(mad), on=group_col)
        .filter(F.col("dev") > F.lit(k) * F.col("mad"))
        .drop("__v", "__med")
    )

"""Driver-facing query registry.

Each entry maps one implemented operator (SURVEY.md §2 / §7.8) onto the
TPC-H-ish fixture tables (FIXTURES.md §A mapping: ``orders`` plays the
work queue, ``customer`` the entity table, ``lineitem`` the detail
table), paired with the ANSI-SQL oracle DuckDB runs on the same parquet.

Determinism rules (the driver hash-compares values):
- every aggregate/computed column is aliased identically on both sides;
- money/quantity aggregates go through DECIMAL casts
  (``SUM(CAST(x AS DECIMAL(18,2)))``) then one final cast to DOUBLE, so
  both engines do exact decimal arithmetic and one deterministic
  IEEE conversion — no float-summation-order flakiness;
- per-row float arithmetic (products, cosines) is identical IEEE ops on
  identical operands, hence bit-equal across engines;
- top-k orderings always carry a unique tie-break key.

``REGISTRY[name] = (spark_fn, oracle_sql_or_None)``; None means
non-SQL-expressible (streaming/stateful) -> driver runs rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imp_etl_spark.functions import cleanse
from imp_etl_spark.functions.text import (
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from imp_etl_spark.functions.vector import cosine
from imp_etl_spark.operators import dedup, join, similarity
from imp_etl_spark.operators.util import scratch_dir
from imp_etl_spark.sources.parquet import read_table

# registry core lives in the LEAF module imp_etl_spark.registry so the
# queries_* files can be imported directly without re-entering this
# module's full late-import chain; re-exported here for all existing
# entry points (__spark_entry__, tests, bench).
from imp_etl_spark.registry import REGISTRY, QueryFn, register  # noqa: F401


from imp_etl_spark.queries_sqlfrag import dec_sum as _dec_sum  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 shape) — scan -> filter -> partial+
# final agg. One shuffle of (flag,status) groups only.
# ---------------------------------------------------------------------------

@register("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(disc_price, "sum_disc_price", 6),
            _dec_sum(charge, "sum_charge", 6),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# S1/A1 — work-queue count with NOT NULL conjunction (EtlLogger.js:19-27)
# ---------------------------------------------------------------------------

@register("s1_workqueue_count", """
SELECT COUNT(*) AS total
FROM orders
WHERE o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL
""")
def s1_workqueue_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey").isNotNull() & F.col("o_orderstatus").isNotNull())
        .agg(F.count(F.lit(1)).alias("total"))
    )


# ---------------------------------------------------------------------------
# S2/O1/O2/P1 — paginated ordered scan (EtlLogger.js:6-17): project 3 cols,
# NOT NULL filter, total order on the log key, rows (offset, offset+limit].
# ---------------------------------------------------------------------------

@register("s2_paginated_scan", """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         ROW_NUMBER() OVER (ORDER BY o_orderkey ASC) AS rn
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL
)
WHERE rn > 100 AND rn <= 300
""")
def s2_paginated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination via the distributed global index (operators/window.py
    paginate) — range-partitioned ranking, never a single-task sort."""
    from imp_etl_spark.operators.window import paginate

    o = read_table(spark, sf_dir, "orders")
    filtered = o.filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderstatus").isNotNull()
    ).select("o_orderkey", "o_custkey", "o_orderstatus")
    return paginate(filtered, "o_orderkey", offset=100, limit=200)


# ---------------------------------------------------------------------------
# J1 — key-lookup join: entity rows for the deduped work-queue key set
# (etlService.js:446-449 as one broadcast semi join)
# ---------------------------------------------------------------------------

@register("j1_lookup_semi_join", """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer
WHERE c_custkey IN (
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000
)
""")
def j1_lookup_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    keys = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return join.semi_prune(cust, keys, "c_custkey")


# ---------------------------------------------------------------------------
# J3 — missing-match detection (left anti): queue keys with no entity rows
# (etlService.js:452-471 'No voucher data found' warnings)
# ---------------------------------------------------------------------------

@register("j3_anti_missing", """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
""")
def j3_anti_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return join.anti_missing(cust, orders, "c_custkey")


# ---------------------------------------------------------------------------
# J2 — composite-key existence semi join (the dead-code intent at
# etlService.js:25-34): lineitem rows whose (l_orderkey) exists among
# high-priority orders, on the two-column key shape (orderkey, linenumber)
# checked against itself after a filter.
# ---------------------------------------------------------------------------

@register("j2_exists_composite", """
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
FROM lineitem l
WHERE EXISTS (
  SELECT 1 FROM lineitem e
  WHERE e.l_quantity >= 45
    AND e.l_orderkey = l.l_orderkey AND e.l_suppkey = l.l_suppkey
)
""")
def j2_exists_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    existing = li.filter(F.col("l_quantity") >= 45).select("l_orderkey", "l_suppkey")
    return join.exists_keys(
        li, existing, ["l_orderkey", "l_suppkey"]
    ).select("l_orderkey", "l_linenumber", "l_quantity")


# ---------------------------------------------------------------------------
# §2.7 — latest-per-key dedup (last-writer-wins before MERGE)
# ---------------------------------------------------------------------------

@register("dedup_latest_per_key", """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
  FROM orders
)
WHERE rn = 1
""")
def dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return dedup.latest_per_key(o, ["o_custkey"], ["o_orderkey"], desc=True)


# ---------------------------------------------------------------------------
# T1-T5 cleanse suite on fixture columns (FIXTURES.md family-A mapping)
# ---------------------------------------------------------------------------

@register("t_cleanse_suite", """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_returnflag IS NOT NULL AND l_returnflag <> ''
            THEN TRIM(UPPER(l_returnflag)) ELSE l_returnflag END AS flag_norm,
       CASE WHEN l_linestatus IS NULL OR l_linestatus = '' THEN NULL
            WHEN TRIM(UPPER(l_linestatus)) IN ('O','F') THEN TRIM(UPPER(l_linestatus))
            ELSE NULL END AS status_enum,
       NULLIF(l_discount, 0.0) AS discount_q1,
       STRFTIME(l_shipdate, '%Y-%m-%d') AS shipdate_iso,
       CASE WHEN l_returnflag = '1' THEN '1' ELSE '0' END AS flag_char
FROM lineitem
""")
def t_cleanse_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        cleanse.upper_trim("l_returnflag").alias("flag_norm"),
        cleanse.enum_domain("l_linestatus", ["O", "F"]).alias("status_enum"),
        cleanse.zero_null("l_discount").alias("discount_q1"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("shipdate_iso"),
        cleanse.char_flag("l_returnflag").alias("flag_char"),
    )


@register("dq_rule_violations", """
WITH tagged AS (
  SELECT c_custkey,
         (CASE WHEN c_name IS NULL OR trim(c_name) = '' THEN 1 ELSE 0 END
          + CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY',
                                       'HOUSEHOLD','FURNITURE') THEN 0 ELSE 1 END
          + CASE WHEN c_acctbal IS NOT NULL
                      AND c_acctbal BETWEEN 0.0 AND 10000.0 THEN 0 ELSE 1 END
          + CASE WHEN length(c_name) <= 25 THEN 0 ELSE 1 END) AS n_failed
  FROM customer
)
SELECT COUNT(*) FILTER (WHERE n_failed = 0) AS good_rows,
       COUNT(*) FILTER (WHERE n_failed > 0) AS bad_rows
FROM tagged
""")
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule set (operators/quality.py) — the
    reference's validity filter generalized: one pass splits good/bad
    with per-row failed-rule names; the oracle recomputes the same
    predicates as CASE sums."""
    from imp_etl_spark.operators import quality as dq

    c = read_table(spark, sf_dir, "customer")
    good, bad = dq.apply_rules(c, [
        dq.non_blank("c_name"),
        dq.in_set("c_mktsegment", ["BUILDING", "AUTOMOBILE", "MACHINERY",
                                   "HOUSEHOLD", "FURNITURE"]),
        dq.in_range("c_acctbal", 0.0, 10000.0),
        dq.max_length("c_name", 25),
    ])
    return good.agg(F.count(F.lit(1)).alias("good_rows")).crossJoin(
        bad.agg(F.count(F.lit(1)).alias("bad_rows")))


def _profile_col_sql(c: str, kind: str) -> str:
    mn = (f"CAST(MIN({c}) AS DOUBLE)" if kind == "num"
          else "CAST(NULL AS DOUBLE)")
    mx = (f"CAST(MAX({c}) AS DOUBLE)" if kind == "num"
          else "CAST(NULL AS DOUBLE)")
    mns = f"MIN({c})" if kind == "str" else "CAST(NULL AS VARCHAR)"
    mxs = f"MAX({c})" if kind == "str" else "CAST(NULL AS VARCHAR)"
    return f"""SELECT '{c}' AS "column", COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       {mn} AS min_num, {mx} AS max_num,
       {mns} AS min_str, {mxs} AS max_str
FROM orders"""


@register("profile_orders", "\nUNION ALL\n".join(
    _profile_col_sql(c, k) for c, k in [
        ("o_orderkey", "num"), ("o_custkey", "num"),
        ("o_orderstatus", "str"), ("o_totalprice", "num"),
        ("o_orderpriority", "str")]))
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (operators/quality.profile_table): per-column
    total/null/exact-distinct counts and typed min/max in ONE
    aggregation job (stack over the single agg row; exact DISTINCTs use
    Catalyst's EXPAND — the deterministic profile; swap in
    approx_count_distinct for very wide 100 TB tables)."""
    from imp_etl_spark.operators.quality import profile_table

    o = read_table(spark, sf_dir, "orders")
    return profile_table(o, ["o_orderkey", "o_custkey", "o_orderstatus",
                             "o_totalprice", "o_orderpriority"])


@register("nested_types_suite", """
SELECT o_custkey,
       COALESCE(array_to_string(list_sort(COALESCE(list(o_orderstatus)
           FILTER (WHERE o_orderstatus IS NOT NULL), [])), '|'), '')
         AS statuses,
       COALESCE(array_to_string(list_sort(list_distinct(
           COALESCE(list(o_orderpriority)
               FILTER (WHERE o_orderpriority IS NOT NULL), []))), '|'), '')
         AS priorities,
       len(COALESCE(list(o_orderstatus)
           FILTER (WHERE o_orderstatus IS NOT NULL), [])) AS n_statuses,
       CAST(list_aggregate(list(o_totalprice_dec), 'sum') AS DOUBLE) AS total,
       COUNT(*) AS n, MIN(o_orderkey) AS first_key
FROM (SELECT o_custkey, o_orderstatus, o_orderpriority, o_orderkey,
             CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice_dec
      FROM orders WHERE o_custkey < 50)
GROUP BY o_custkey
""")
def nested_types_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation surface (absent from the reference — SURVEY.md
    §1.2 'not present'): sorted collect_list (sorting makes the unordered
    aggregation deterministic for the oracle), distinct collect, array
    length, and an array-fold sum on the oracle side. The arrays are
    built as real array<string> columns, then serialized with
    ``array_join`` for the comparison surface — the driver's pandas
    canonicalizer can't hash Python lists (round-1 red row), so both
    engines emit a '|'-joined deterministic rendering of the same sorted
    array. (Struct columns are exercised in rows-only queries — engines
    render them incomparably in the value hash.) Collected arrays hold
    the NON-NULL values — Spark's collect_list/collect_set semantics,
    stated in the oracle with FILTER clauses (DuckDB's bare list()
    keeps NULLs)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    statuses = F.array_sort(F.collect_list("o_orderstatus"))
    priorities = F.array_sort(F.collect_set("o_orderpriority"))
    return o.groupBy("o_custkey").agg(
        F.array_join(statuses, "|").alias("statuses"),
        F.array_join(priorities, "|").alias("priorities"),
        F.size(statuses).cast("long").alias("n_statuses"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("first_key"),
    )


@register("t_time_format_suite", """
SELECT event_id,
       strftime(ts + INTERVAL 8 HOUR, '%Y-%m-%dT%H:%M:%S.%g') || '+08:00' AS manila_ts,
       printf('%dh %dm %ds',
              CAST(floor(value * 1000) AS BIGINT) // 3600000,
              (CAST(floor(value * 1000) AS BIGINT) % 3600000) // 60000,
              (CAST(floor(value * 1000) AS BIGINT) % 60000) // 1000) AS dur
FROM events
""")
def t_time_format_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10/T11 — Asia/Manila-offset ISO rendering (utils/logger.js:22-42)
    and ms -> 'Xh Ym Zs' duration formatting (index.js:39-44)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        cleanse.manila_iso("ts").alias("manila_ts"),
        cleanse.duration_hms(F.floor(F.col("value") * 1000).cast("long"))
        .alias("dur"),
    )


# ---------------------------------------------------------------------------
# O3/A7 — deterministic top-k
# ---------------------------------------------------------------------------

@register("topk_orders", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""")
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# ---------------------------------------------------------------------------
# A2/A3 — processed/skipped accounting as grouped counters: per queue key,
# how many detail rows are valid vs skipped under the falsy-key rule
# (P4/P5, etlService.js:65-75) — the {processed, skipped} contract.
# ---------------------------------------------------------------------------

@register("a2_processed_skipped", """
SELECT o_orderstatus,
       COUNT(*) AS total,
       COUNT(*) FILTER (WHERE o_custkey IS NOT NULL AND CAST(o_custkey AS VARCHAR) <> ''
                          AND o_orderkey IS NOT NULL AND CAST(o_orderkey AS VARCHAR) <> '') AS processed,
       COUNT(*) FILTER (WHERE o_custkey IS NULL OR CAST(o_custkey AS VARCHAR) = ''
                           OR o_orderkey IS NULL OR CAST(o_orderkey AS VARCHAR) = '') AS skipped
FROM orders
GROUP BY o_orderstatus
""")
def a2_processed_skipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    valid = ~cleanse.any_falsy_key(["o_custkey"]) & ~cleanse.falsy_key("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(valid, 1)).alias("processed"),
        F.count(F.when(~valid, 1)).alias("skipped"),
    )


# ===========================================================================
# Analytics extension surface (SURVEY.md §7.8): multi-hop joins, grouped
# aggregation variants, window analytics, set ops, JSON extraction.
# ===========================================================================

@register("q3_shipping_priority", """
SELECT o.o_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
""")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim-filtered multi-join + agg + top-k. The customer
    side broadcasts (small after segment filter); lineitem/orders shuffle
    on the join key once, reused by the groupBy on the same key."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz"))
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "revenue", 6))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register("q5_local_supplier_volume", """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""")
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table snowflake join. region/nation/supplier/
    customer all broadcast (dimension-sized); the single shuffle is the
    lineitem->orders equi join."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "revenue", 6))
    )


def _sets_preagg(df: DataFrame, k1: str, k2: str, val_col: str,
                 val_alias: str, keep_gids: tuple[int, ...]) -> DataFrame:
    """CUBE/ROLLUP/GROUPING SETS over (k1, k2) via PRE-AGGREGATION, with
    ANSI empty-input semantics for the global ``()`` set.

    Two divergences from a naive ``df.cube(...)`` motivate this shape:

    - Scale: Spark plans the Expand operator BELOW the partial
      aggregate, so a native cube multiplies every raw scan row by the
      number of grouping sets before any combining. Pre-aggregating to
      the distinct (k1, k2) frame first (one ordinary groupBy — exact,
      since SUM/COUNT re-aggregate losslessly over decimal partials)
      means the Expand runs over |distinct key pairs| rows, not |table|
      rows. The two consumers of the partial aggregate share one scan:
      both branches contain the identical partial-agg exchange, which
      Spark's exchange reuse collapses (pinned by test).
    - Correctness (fuzz seed 36): on EMPTY input, ANSI grouping sets —
      and the DuckDB oracle — still emit one row for the ``()`` set
      (NULL keys, COUNT 0, SUM NULL), but Spark's cube/rollup emit
      nothing because every expanded set is keyed by grouping_id. The
      global row is therefore computed as a plain global aggregate
      (one row always) and unioned with the keyed sets, which come from
      the pre-aggregated cube filtered by grouping_id (for (k1, k2)
      keys: gid 0 = (k1,k2), 1 = (k1), 2 = (k2), 3 = ()).
    """
    t1, t2 = dict(df.dtypes)[k1], dict(df.dtypes)[k2]
    base = df.groupBy(k1, k2).agg(
        F.sum(F.col(val_col).cast("decimal(18,2)")).alias("__s"),
        F.count(F.lit(1)).alias("__c"))
    keyed = (
        base.cube(k1, k2)
        .agg(F.sum("__s").alias("__s"), F.sum("__c").alias("__c"),
             F.grouping_id().alias("__gid"))
        .where(F.col("__gid").isin(*keep_gids))
        .select(k1, k2, "__s", "__c"))
    glob = base.agg(
        F.sum("__s").alias("__s"),
        F.coalesce(F.sum("__c"), F.lit(0).cast("long")).alias("__c"),
    ).select(F.lit(None).cast(t1).alias(k1), F.lit(None).cast(t2).alias(k2),
             "__s", "__c")
    return keyed.unionByName(glob).select(
        k1, k2, F.col("__s").cast("double").alias(val_alias),
        F.col("__c").alias("cnt"))


@register("agg_rollup", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS cnt
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROLLUP sets ((f,s),(f),()): keyed gids 0 and 1 + the global row
    li = read_table(spark, sf_dir, "lineitem")
    return _sets_preagg(li, "l_returnflag", "l_linestatus",
                        "l_quantity", "sum_qty", keep_gids=(0, 1))


@register("agg_cube", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       COUNT(*) AS cnt
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUBE sets ((f,s),(f),(s),()): keyed gids 0-2 + the global row
    li = read_table(spark, sf_dir, "lineitem")
    return _sets_preagg(li, "l_returnflag", "l_linestatus",
                        "l_extendedprice", "sum_price", keep_gids=(0, 1, 2))


@register("agg_grouping_sets", """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""")
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sets ((status),(priority),()): keyed gids 1 and 2 + the global row
    o = read_table(spark, sf_dir, "orders")
    return _sets_preagg(o, "o_orderstatus", "o_orderpriority",
                        "o_totalprice", "sum_price", keep_gids=(1, 2))


@register("win_topn_per_group", """
SELECT c_custkey, o_orderkey, o_totalprice, rnk
FROM (
  SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
)
WHERE rnk <= 3
""")
def win_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.select(F.col("o_custkey").alias("c_custkey"), "o_orderkey",
                 "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


@register("win_rank_dense", """
SELECT o_custkey, o_orderkey,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_orderkey ASC) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderstatus ASC NULLS FIRST, o_orderkey ASC)
""")
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank (ties on the status key) + ntile bucketing —
    single shuffle on the partition key (operators/window.py
    rank_in_group is the generic form)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderstatus").asc(), F.col("o_orderkey").asc())
    w2 = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").asc())
    return o.select(
        "o_custkey", "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w2).alias("quartile"),
    )


@register("win_lag_lead", """
SELECT o_custkey, o_orderkey, o_totalprice,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC)
""")
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead via the lag-class skew dispatch (round 9): uniform
    keys plan the classic one-shuffle window; a probed hot custkey
    flips to the seq_lag range+boundary-exchange shape."""
    from imp_etl_spark.operators.window import lag_dispatch

    o = read_table(spark, sf_dir, "orders")
    return lag_dispatch(
        o.select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
        ["o_custkey"], ["o_orderdate", "o_orderkey"],
        lags={"o_totalprice": "prev_price"},
        leads={"o_totalprice": "next_price"},
    ).select("o_custkey", "o_orderkey", "o_totalprice",
             "prev_price", "next_price")


@register("win_running_sum", """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
""")
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").alias("running_total"),
    )


@register("setops_suite", """
SELECT 'union' AS op, c_custkey FROM (
  SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
  UNION
  SELECT o_custkey FROM orders WHERE o_totalprice > 250000
)
UNION ALL
SELECT 'intersect' AS op, c_custkey FROM (
  SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_totalprice > 250000
)
UNION ALL
SELECT 'except' AS op, c_custkey FROM (
  SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_totalprice > 250000
)
""")
def setops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey"))
    b = o.filter(F.col("o_totalprice") > 250000).select(
        F.col("o_custkey").alias("c_custkey"))
    return (
        a.union(b).distinct().select(F.lit("union").alias("op"), "c_custkey")
        .unionByName(a.intersect(b).select(F.lit("intersect").alias("op"), "c_custkey"))
        .unionByName(a.subtract(b).select(F.lit("except").alias("op"), "c_custkey"))
    )


@register("json_extract_props", """
WITH p AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS cnt,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM p
GROUP BY event_type
""")
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json over the JSON-ish props payload — the op the reference
    never does on additional_info MEDIUMTEXT (SURVEY.md §2.5 note)."""
    ev = read_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    # accumulate in DECIMAL(38,0), cast the FINAL to long: k is a
    # user-controlled bigint, and Spark's ANSI long SUM aborts the
    # job when any PARTIAL crosses int64 (same class as the r9 bench
    # calibration overflow) while the DuckDB oracle accumulates in
    # HUGEINT and only casts the final — this matches the oracle
    # exactly and turns an unbounded-scale abort into plain arithmetic
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(k.cast("decimal(38,0)")).cast("long").alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@register("log_parse_tail", """
SELECT ts_str, message FROM (
  SELECT regexp_extract(line, '^\\[(.*?)\\]', 1) AS ts_str,
         trim(regexp_replace(line, '^\\[.*?\\]', '')) AS message,
         event_id
  FROM (
    SELECT '[' || strftime(ts, '%Y-%m-%d %H:%M:%S') || '] ' || event_type ||
           ' user=' || CAST(user_id AS VARCHAR) AS line, event_id
    FROM events
  )
  ORDER BY ts_str DESC, event_id DESC
  LIMIT 100
)
""")
def log_parse_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/T9/A7: log-line regex parse + tail-100, exercised over synthetic
    '[ts] message' lines built from events (index.js:208-253 semantics)."""
    ev = read_table(spark, sf_dir, "events")
    lines = ev.select(
        F.concat(F.lit("["), F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
                 F.lit("] "), F.col("event_type"), F.lit(" user="),
                 F.col("user_id").cast("string")).alias("line"),
        "event_id",
    )
    parsed = lines.select(
        F.regexp_extract("line", r"^\[(.*?)\]", 1).alias("ts_str"),
        F.trim(F.regexp_replace("line", r"^\[.*?\]", "")).alias("message"),
        "event_id",
    )
    return (
        parsed.orderBy(F.col("ts_str").desc(), F.col("event_id").desc())
        .limit(100)
        .select("ts_str", "message")
    )


@register("j4_merge_preview", """
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice, 1 AS prio
  FROM orders WHERE o_orderstatus = 'O'
), tgt AS (
  SELECT o_orderkey, o_custkey, o_totalprice, 0 AS prio FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY prio DESC) AS rn
  FROM (SELECT * FROM batch UNION ALL SELECT * FROM tgt)
) WHERE rn = 1
""")
def j4_merge_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/S6: MERGE semantics (matched -> update, not-matched -> insert)
    as the windowed-union plan the parquet fallback sink executes
    (plans/upsert.py)."""
    from imp_etl_spark.plans.upsert import merge_preview

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    batch = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_custkey",
                (F.col("o_totalprice") + 1000).alias("o_totalprice"))
        .withColumn("__seq", F.lit(1))
    )
    return merge_preview(batch, o, ["o_orderkey"], "__seq").drop("__seq")


# ===========================================================================
# Event-time windowed aggregation (streaming surface, batch-checkable —
# SURVEY.md §2.8). The same builders run on readStream frames with
# watermarks (tests/test_streaming.py); batch mode makes them
# oracle-checkable here.
# ===========================================================================

@register("events_tumbling_1h", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
""")
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from imp_etl_spark.streaming.windows import tumbling

    ev = read_table(spark, sf_dir, "events")
    return tumbling(
        ev, "ts", "1 hour", keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("cnt"),
              F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value")],
    ).drop("window_end")


@register("events_sliding_1h_30m", """
WITH te AS (
  SELECT * FROM events WHERE ts IS NOT NULL
), shifted AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, * FROM te
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', * FROM te
)
SELECT window_start, COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM shifted
GROUP BY 1
""")
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h window, 30m slide): every event lands in two
    windows — the oracle materializes exactly those two shifted buckets."""
    from imp_etl_spark.streaming.windows import sliding

    ev = read_table(spark, sf_dir, "events")
    return sliding(
        ev, "ts", "1 hour", "30 minutes",
        aggs=[F.count(F.lit(1)).alias("cnt"),
              F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value")],
    ).drop("window_end")


@register("events_session_10m", """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '10 minutes' OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
), numbered AS (
  SELECT user_id, ts,
         -- event_id tiebreak: a ROWS running sum keyed on ts alone
         -- ranks same-instant peers by physical row position,
         -- splitting one burst-session nondeterministically
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '10 minutes' AS session_end,
       COUNT(*) AS cnt
FROM numbered
GROUP BY user_id, session_no
""")
def events_session_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, gap 10m. Spark's session_window closes gap-after-
    last-event; the oracle reproduces that with gaps-and-islands."""
    from imp_etl_spark.streaming.windows import session

    ev = read_table(spark, sf_dir, "events")
    return session(
        ev, "ts", "10 minutes", keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("cnt")],
    ).select("user_id", "session_start", "session_end", "cnt")


# ===========================================================================
# LLM-data-pipeline surface (SURVEY.md §7.8): dedup family, text analysis,
# similarity search. MinHash uses portable md5 hashing so even LSH is
# oracle-checked (functions/hashing.py).
# ===========================================================================

# the one tokenizer fragment every oracle shares (Spark tokens() and
# this DuckDB expression must stay semantically identical) — imported,
# not duplicated, so a tweak can never diverge this module's oracles
# from the rest of the suite
from imp_etl_spark.queries_sqlfrag import DUCK_TOKS as _DUCK_TOKS  # noqa: E402


@register("dedup_exact_group", """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1
""")
def dedup_exact_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic survivor (min doc_id per group)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source")
    return dedup.exact_dedup(docs, ["lang", "source"], keep_by="doc_id")


@register("dedup_exact_content", """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1
""")
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup (hash-groupBy on xxhash64(text) so the shuffle
    carries 8-byte keys, not bodies; the oracle partitions by the text
    itself — same survivors as long as xxhash64 is collision-free on the
    corpus, which the count equality verifies)."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.exact_content_dedup(docs, "text", "doc_id").select(
        "doc_id", "n_chars")


@register("stateful_user_stats", """
SELECT user_id, COUNT(*) AS events,
       COALESCE(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000
                          AS HUGEINT) AS BIGINT), 0) AS value_sum_micro,
       epoch_us(MAX(ts)) AS last_event_us
FROM events
GROUP BY user_id
""")
def stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): runs a
    real two-micro-batch stream to completion and returns the final
    per-user running stats. Oracle-checked even though the op is custom
    stateful code: the state accumulates value as exact micro-unit
    integers (order-independent, bit-equal to DuckDB's decimal SUM — see
    streaming/stateful.py); batch-equivalence also pinned in
    tests/test_streaming.py."""
    from imp_etl_spark.streaming.stateful import running_user_stats
    from imp_etl_spark.streaming.windows import stream_events

    tmp = scratch_dir("stateful_events_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    ev = read_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        src, mode="overwrite")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        src, mode="append")

    stream = stream_events(spark, src, spark.read.parquet(src).schema)
    name = "stateful_user_stats_sink"
    q = (running_user_stats(stream).writeStream.format("memory")
         .queryName(name).outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(f"""
        SELECT user_id, events, value_sum_micro, last_event_us FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY events DESC) AS rn FROM {name}
        ) WHERE rn = 1
    """)


@register("events_rollup_hour_day", """
SELECT date_trunc('day', ts) AS bucket_day, event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum,
       COUNT(*) AS cnt
FROM events
GROUP BY date_trunc('day', ts), event_type
""")
def events_rollup_hour_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: raw -> hourly -> daily,
    where the daily tier aggregates the HOURLY tier, not the raw events
    (the continuous-aggregate pattern — at 100 TB the coarse tiers read
    the fine tiers' few rows instead of rescanning the event log; the
    oracle computes daily directly, which must agree because decimal
    sums re-aggregate losslessly)."""
    ev = read_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
                   "event_type")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("val_sum_h"),
             F.count(F.lit(1)).alias("cnt_h"))
    )
    return (
        hourly.groupBy(F.date_trunc("day", F.col("bucket_hour"))
                       .cast("date").alias("bucket_day"), "event_type")
        .agg(F.sum("val_sum_h").cast("double").alias("val_sum"),
             F.sum("cnt_h").alias("cnt"))
    )


@register("events_value_histogram", """
WITH counts AS (
  SELECT CAST(GREATEST(0, LEAST(FLOOR((value - 0.0) / 25.0), 23)) AS INT)
           AS bucket,
         COUNT(*) AS cnt
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
)
SELECT bucket,
       0.0 + bucket * 25.0 AS lo,
       0.0 + (bucket + 1) * 25.0 AS hi,
       cnt,
       cnt / SUM(cnt) OVER () AS share
FROM counts
""")
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (operators/agg.
    fixed_width_histogram): the column-profiling primitive. One
    partial+final count aggregation — the shuffle carries <= nbins rows
    per partition and the share window runs over the nbins-row result,
    never the input."""
    from imp_etl_spark.operators.agg import fixed_width_histogram

    ev = read_table(spark, sf_dir, "events")
    return fixed_width_histogram(ev, "value", lo=0.0, width=25.0, nbins=24)


@register("salted_skew_agg", """
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum,
       COUNT(*) AS cnt
FROM events
GROUP BY event_type
""")
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py) over the
    low-cardinality (hence skew-prone) event_type key — semantically
    identical to the plain GROUP BY the oracle runs; physically the hot
    group fans out over 16 salt buckets before the final combine."""
    from imp_etl_spark.operators.skew import salted_agg

    ev = read_table(spark, sf_dir, "events")
    return salted_agg(
        ev, ["event_type"],
        partial=[F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
                 F.count(F.lit(1)).alias("c")],
        final=[F.sum("s").cast("double").alias("val_sum"),
               F.sum("c").alias("cnt")],
        buckets=16,
    )


@register("per_group_trend", """
WITH pts AS (
  SELECT user_id,
         CAST(epoch_us(ts) - 1704067200000000 AS HUGEINT) AS x,
         CAST(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,6))
              * 1000000 AS HUGEINT) AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
), s AS (
  SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
  FROM pts GROUP BY user_id
), m AS (
  SELECT user_id, n, sy,
         n*sxy - sx*sy AS a, n*sxx - sx*sx AS b, n*syy - sy*sy AS c
  FROM s
)
SELECT user_id, CAST(n AS BIGINT) AS n,
       CASE WHEN n < 2 OR b = 0 THEN 0.0
            ELSE CAST(a AS DOUBLE) / CAST(b AS DOUBLE) END AS slope,
       CASE WHEN n = 0 THEN 0.0
            ELSE CAST(sy AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) END AS intercept,
       CASE WHEN n < 2 OR b = 0 OR c = 0 THEN 0.0
            ELSE (CAST(a AS DOUBLE) * CAST(a AS DOUBLE))
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) END AS r2
FROM m
""")
def per_group_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value trend via grouped-map applyInPandas (operators/
    agg.py). Oracle-checked bit-exactly: both engines accumulate EXACT
    integer moments (x = epoch-µs offset, y = micro-quantized value) and
    perform identical single IEEE divisions — see per_group_trend's
    docstring. Closed-form equality also pinned in tests/test_streaming.py."""
    from imp_etl_spark.operators.agg import per_group_trend

    ev = read_table(spark, sf_dir, "events")
    return per_group_trend(ev)


@register("stream_dedup_events", """
SELECT event_id, user_id, event_type FROM events
""")
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark): the input
    stream delivers every event twice (two identical files); the output
    must contain each event_id exactly once — i.e. exactly the original
    events table, which IS the oracle (the duplicates are identical rows,
    so first-arrival-wins and the batch DISTINCT agree on every column).
    First-arrival-wins semantics are pinned in tests/test_etl_stream.py.

    Invariant the oracle depends on: ``within`` (90 days) EXCEEDS the
    events table's full time span (~30 days), so even if the file source
    splits the two files into separate micro-batches, no event's dedup
    state is watermark-evicted before its duplicate arrives — the
    row-for-row match does not hinge on both files landing in one batch.
    State is one entry per event_id either way."""
    from imp_etl_spark.streaming.etl_stream import dedup_stream
    from imp_etl_spark.streaming.windows import stream_events

    tmp = scratch_dir("dedup_stream_")
    src, name = f"{tmp}/src", "stream_dedup_events_sink"
    ev = read_table(spark, sf_dir, "events")
    ev.coalesce(1).write.parquet(src, mode="overwrite")
    ev.coalesce(1).write.parquet(src, mode="append")
    stream = stream_events(spark, src, spark.read.parquet(src).schema)
    q = (dedup_stream(stream, ["event_id"], "ts", within="90 days")
         .writeStream.format("memory").queryName(name)
         .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(f"SELECT event_id, user_id, event_type FROM {name}")


@register("stream_interval_join", """
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us, epoch_us(c.ts) AS click_us,
       c.value AS click_value
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts > p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
""")
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join with watermarks on both sides (clicks
    in the 10 minutes preceding each purchase): run on a real stream to
    completion; the batch-equivalent SQL is the oracle — streaming and
    batch answers agree because availableNow drains all data and the
    join condition is time-bounded."""
    from imp_etl_spark.streaming.etl_stream import interval_join_stream
    from imp_etl_spark.streaming.windows import stream_events

    tmp = scratch_dir("ij_stream_")
    src, name = f"{tmp}/src", "stream_interval_join_sink"
    read_table(spark, sf_dir, "events").coalesce(2).write.parquet(
        src, mode="overwrite")
    schema = spark.read.parquet(src).schema
    stream = stream_events(spark, src, schema)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value")
    joined = interval_join_stream(purchases, clicks, on="user_id",
                                  left_ts="ts", right_ts="ts",
                                  lower="interval 10 minutes")
    out = joined.select(
        "event_id", "user_id",
        F.unix_micros(F.col("__l_ts")).alias("purchase_us"),
        F.unix_micros(F.col("__r_ts")).alias("click_us"),
        F.col("value").alias("click_value"),
    )
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(f"SELECT * FROM {name}")


# ===========================================================================
# Temporal joins (operators/temporal.py): as-of + banded range join.
# Not in the reference (SURVEY.md §2.3 "not present"); north-star ops.
# ===========================================================================

@register("asof_click_before_purchase", """
WITH purchases AS (
  SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, event_id, value FROM (
    SELECT user_id, ts, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
SELECT p.event_id, p.ts, p.user_id, p.value,
       CASE WHEN p.ts IS NULL THEN NULL ELSE c.event_id END
         AS click_event_id,
       CASE WHEN p.ts IS NULL THEN NULL ELSE c.ts END AS click_ts,
       CASE WHEN p.ts IS NULL THEN NULL ELSE c.value END AS click_value
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase picks up the latest click at-or-before it
    by the same user. Range-partitioned union + per-partition carry
    (hot-key-immune — see operators/temporal.py scale notes)."""
    from imp_etl_spark.operators.temporal import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value")
    clicks = ev.filter(F.col("event_type") == "click")
    return asof_join(
        purchases, clicks, on="user_id", probe_ts="ts", build_ts="ts",
        build_cols={"event_id": "click_event_id", "ts": "click_ts",
                    "value": "click_value"},
    )


@register("range_clicks_before_purchase", """
SELECT p.event_id, p.user_id,
       COUNT(*) AS click_cnt,
       CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS click_value_sum
FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL '10 minutes'
 AND c.ts <= p.ts
GROUP BY p.event_id, p.user_id
""")
def range_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: clicks within the 10 minutes before each
    purchase, aggregated per purchase. The inequality join becomes an
    equi join on (user_id, 600s-bin) + exact refine — a hash exchange,
    not a nested loop (operators/temporal.py)."""
    from imp_etl_spark.operators.temporal import range_join_binned

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value")
    pairs = range_join_binned(
        purchases, clicks, on="user_id", probe_ts="ts", build_ts="ts",
        lower="'-10' minutes", upper="'0' seconds", bin_width_s=600,
    )
    return pairs.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("click_cnt"),
        _dec_sum(F.col("value"), "click_value_sum", 6),
    )


# late imports: populate REGISTRY with the LLM-data-pipeline and
# TPC-H-shaped analytics surfaces
from imp_etl_spark import queries_analytics as _queries_analytics  # noqa: E402,F401
from imp_etl_spark import queries_corpus as _queries_corpus  # noqa: E402,F401
from imp_etl_spark import queries_llm as _queries_llm  # noqa: E402,F401
from imp_etl_spark import queries_scalar as _queries_scalar  # noqa: E402,F401
from imp_etl_spark import queries_tpch as _queries_tpch  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver-window ordering. The correctness driver evaluates REGISTRY in
# insertion order and may budget-cap how many entries it runs (round 1
# stopped after the first 50, leaving 42 queries with no hard signal).
# This reorder changes NOTHING semantically — it only puts (a) entries that
# have no driver CORRECTNESS row yet and (b) entries whose implementation
# changed this round at the front, rotating round-1-green unchanged entries
# to the back, so that across rounds every query earns a hard row.
# ---------------------------------------------------------------------------
_DRIVER_WINDOW_FIRST = [
    # round-11 window: (a) the 10 entries whose implementation closure
    # changed this round (tools/staleness_audit.py vs cea47a5 — the
    # probe-memo/footer-bound rework rewires the 8 lag/trailing
    # dispatch consumers; ewma_unbounded_scale and ewma_scale_vs_exact
    # are NEW, never driver-rowed), then (b) the verdict's rotation
    # order — the 12 remaining r7-era greens (VERDICT r10 item 4),
    # then (c) oldest-first r8 backfill, alphabetical, until the
    # 50-slot window fills (28 of 45). After this rotation the
    # latest-green floor moves to r8.
    # -- (1) changed in round 11 / never rowed:
    "hll_distinct_users_daily", "hll_user_overlap_halves",
    "customer_order_gaps", "ewma_scale_vs_exact", "ewma_unbounded_scale",
    "ewma_unbounded_user", "peak_click_concurrency",
    "rolling_24h_user_value", "scd2_user_state", "top_event_paths",
    "twap_user_value", "win_lag_lead",
    # -- (2) the 12 remaining r7-era greens (VERDICT r10 item 4):
    "q3_shipping_priority", "q5_local_supplier_volume", "q9_product_profit",
    "s1_workqueue_count", "setops_suite", "split_hash_counts",
    "stream_dedup_events", "stream_interval_join", "t_cleanse_suite",
    "topk_orders", "win_topn_per_group", "word_counts_top50",
    # -- (3) r8-era fill, alphabetical (28 slots):
    "agg_percentiles_disc", "agg_stats_moments", "ann_cosine_topk",
    "asof_click_before_purchase", "attribution_last_touch",
    "corpus_curation_funnel", "doc_length_quartile_bins", "doc_token_rarity",
    "dup_rate_by_source", "embedding_near_dup", "events_inactivity_churn",
    "events_session_10m", "events_sliding_1h_30m", "events_tumbling_1h",
    "events_value_histogram", "events_wow_growth", "funnel_signup_purchase",
    "incremental_agg_merge", "ivf_cosine_topk", "ivf_indexed_topk",
    "j4_merge_preview", "jaccard_sampled_pairs", "lang_confusion_matrix",
    "nation_supplier_hhi", "ngram_novelty", "oov_rate_docs",
    # -- position 51+: the r11 backfill queue — the two permanently
    #    rows-only entries (no DuckDB oracle; last rowed r9), then the
    #    r8 remainder, then the r9 tier, then the r10-green tier:
    "agg_approx_stats", "math_transcendental", "orders_backlog_aging",
    "outlier_events_mad",
    "outlier_events_zscore", "passage_dedup_docs", "per_group_trend",
    "pivot_status_counts", "profile_orders", "q12_priority_class",
    "q20_bolt_suppliers", "q2_min_cost_supplier",
    "quality_percentile_filter", "resample_ffill_hourly",
    "s2_paginated_scan", "seasonal_anomaly_events",
    "shard_documents_balanced", "split_train_counts", "tfidf_top_term",
    "user_activity_streaks", "weighted_sample_docs", "agg_cube",
    "agg_distinct_customers", "agg_exact_median", "agg_grouping_sets",
    "agg_rollup", "bpe_token_count", "chunk_documents", "date_funcs_suite",
    "dq_rule_violations", "event_type_transitions", "events_dau_wau",
    "ewma_user_value", "fuzzy_part_pairs", "hof_array_suite",
    "j1_lookup_inner", "json_extract_props", "math_funcs_suite",
    "mixture_by_source", "multimodal_features", "multimodal_frame_sample",
    "nested_types_suite", "null_cond_suite", "pack_sequences",
    "parts_pareto_cumshare", "pii_redact_docs", "q4_order_priority",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "range_clicks_before_purchase", "regex_funcs_suite",
    "rfm_customer_segments", "salted_skew_agg", "simhash_docs",
    "simhash_near_dup", "skew_profile_orders_custkey", "snm_part_pairs",
    "srp_bucket_topk", "stateful_user_stats", "stream_incremental_view",
    "text_stats", "zorder_events_layout", "a2_processed_skipped",
    "basket_part_pairs_lift", "bpe_pair_counts", "cap_docs_per_source",
    "cohort_retention_daily", "contamination_overlap",
    "cross_corpus_survivors", "dedup_cluster_assign", "dedup_exact_content",
    "dedup_exact_group", "dedup_latest_per_key", "dedup_pipeline_survivors",
    "doc_quality", "events_rollup_hour_day", "explode_tokens",
    "fingerprint_docs", "j1_lookup_semi_join", "j2_exists_composite",
    "j3_anti_missing", "lang_id_docs", "log_parse_tail", "minhash_lsh_pairs",
    "q10_returned_items", "q11_important_balance",
    "q13_customer_distribution", "q14_promo_effect", "q15_top_supplier",
    "q16_supplier_variety", "q17_small_quantity", "q18_large_volume",
    "q19_disjunctive_bands", "q1_pricing_summary", "q21_sole_late_supplier",
    "q22_dormant_customers", "stratified_sample_langs", "string_funcs_suite",
    "t_time_format_suite", "text_quality_gopher", "unpivot_measures",
    "win_percentile_position", "win_rank_dense", "win_running_sum",
]


def _reorder_registry() -> None:
    missing = [n for n in _DRIVER_WINDOW_FIRST if n not in REGISTRY]
    assert not missing, f"unknown names in driver window: {missing}"
    front = {n: REGISTRY[n] for n in _DRIVER_WINDOW_FIRST}
    back = {n: v for n, v in REGISTRY.items() if n not in front}
    ordered = {**front, **back}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()


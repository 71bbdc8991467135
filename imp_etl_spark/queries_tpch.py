"""TPC-H-shaped analytics queries (registered into queries.REGISTRY).

SURVEY.md §7.8 directs the engine's analytics surface beyond the
reference's fixed dataflow: multi-way joins, semi/anti joins with
non-equi conditions, correlated-subquery shapes, conditional-aggregate
ratios, distinct aggregation, and exact percentiles. Each query here is
the standard TPC-H shape adapted to the slimmed fixture schemas
(TESTDATA.md — no partsupp/shipmode/commitdate columns, synthetic
NATION_* names).

Scale notes (the 100 TB plan, not the sf0.01 one):
- dimension sides (region/nation/part/supplier/customer-after-filter)
  are broadcast explicitly; the only shuffles left are lineitem<->orders
  equi joins and the final small-key aggregations;
- correlated-subquery shapes (q17) become a single window over the
  already-joined fact slice — one shuffle on the correlation key instead
  of a second scan + re-join of lineitem;
- ratio queries (q8/q14) compute numerator and denominator as
  conditional aggregates in ONE pass — never two scans unioned;
- determinism for the DuckDB oracle follows queries.py: decimal-exact
  sums surfaced as double, ties in top-k broken on a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from imp_etl_spark.operators.util import persist
from imp_etl_spark.queries_sqlfrag import dec_sum as _dec_sum
from imp_etl_spark.registry import register
from imp_etl_spark.sources.parquet import read_table


def _ts(lit: str):
    return F.lit(lit).cast("timestamp_ntz")


# ---------------------------------------------------------------------------
# Q4 shape: EXISTS semi join with a non-equi condition + priority rollup.
# (Adapted: no l_commitdate/l_receiptdate in the fixture; the "late line"
# predicate is l_shipdate > o_orderdate.)
# ---------------------------------------------------------------------------

@register("q4_order_priority", """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join keeps the probe side lean: lineitem is projected to the
    two columns the condition needs before the shuffle."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01")))
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey)
               & (li.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q6 shape: pure scan + tight filter + single aggregate. The whole query
# should collapse to one WholeStageCodegen span over the parquet scan with
# every predicate pushed down.
# ---------------------------------------------------------------------------

@register("q6_forecast_revenue", """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
""")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= _ts("1996-01-01"))
                  & (F.col("l_shipdate") < _ts("1997-01-01"))
                  & (F.col("l_discount") >= 0.03)
                  & (F.col("l_discount") <= 0.05)
                  & (F.col("l_quantity") < 24))
        .agg(_dec_sum(F.col("l_extendedprice") * F.col("l_discount"),
                      "revenue", 6))
    )


# ---------------------------------------------------------------------------
# Q7 shape: bidirectional nation-pair volume, two broadcast dims aliased
# twice, grouped by (supp_nation, cust_nation, year).
# ---------------------------------------------------------------------------

@register("q7_volume_shipping", """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l.l_shipdate) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
""")
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation broadcasts twice under different aliases; supplier and
    customer broadcast after the nation filter prunes them ~12x. The one
    shuffle is lineitem<->orders."""
    pair = F.lit("NATION_3"), F.lit("NATION_7")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    s = read_table(spark, sf_dir, "supplier")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01")))
    sn = s.join(F.broadcast(n1), s.s_nationkey == n1.n1_key).filter(
        F.col("supp_nation").isin(pair[0], pair[1]))
    cn = c.join(F.broadcast(n2), c.c_nationkey == n2.n2_key).filter(
        F.col("cust_nation").isin(pair[0], pair[1]))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .filter(((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
                | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0])))
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "revenue", 6))
    )


# ---------------------------------------------------------------------------
# Q8 shape: market share = conditional-sum / sum in ONE aggregation pass.
# ---------------------------------------------------------------------------

@register("q8_market_share", """
SELECT l_year,
       CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END
                     AS DECIMAL(18,6))) AS DOUBLE)
       / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o.o_orderdate) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
)
GROUP BY l_year
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerator and denominator in one groupBy — a second scan for the
    denominator would double the lineitem I/O at 100 TB."""
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    num = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .withColumn("l_year", F.year("o_orderdate").cast("long"))
        .groupBy("l_year")
        .agg(_dec_sum(num, "_num", 6), _dec_sum(vol, "_den", 6))
        .select("l_year", (F.col("_num") / F.col("_den")).alias("mkt_share"))
    )


# ---------------------------------------------------------------------------
# Q10 shape: returned-item revenue per customer, top 20.
# ---------------------------------------------------------------------------

@register("q10_returned_items", """
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-07-01")))
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "revenue", 6))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q13 shape: left outer join + two-level aggregation (orders-per-customer
# histogram). Keeps customers with zero orders via COUNT(non-null col).
# ---------------------------------------------------------------------------

@register("q13_customer_distribution", """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
""")
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First agg happens on the join key itself, so Catalyst reuses the
    join's hash partitioning — the histogram re-shuffle moves only
    (c_count) pairs."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q14 shape: promo revenue ratio — conditional aggregate over one join.
# ---------------------------------------------------------------------------

@register("q14_promo_effect", """
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate < TIMESTAMP '1996-10-01'
""")
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01")))
    p = read_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(_dec_sum(promo, "_num", 6), _dec_sum(vol, "_den", 6))
        .select((F.lit(100.0) * F.col("_num") / F.col("_den"))
                .alias("promo_revenue"))
    )


# ---------------------------------------------------------------------------
# Q17 shape: correlated scalar subquery (per-part average quantity) — in
# Spark the correlation collapses into a window over the joined slice.
# ---------------------------------------------------------------------------

@register("q17_small_quantity", """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13'
  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
""")
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brand filter prunes part to ~3%, broadcast-joins into lineitem;
    the correlated AVG becomes avg().over(partitionBy(l_partkey)) on the
    pruned slice — one shuffle, no second lineitem scan. (Per-part
    quantity sums are small exact integers in double, so the avg is
    bit-deterministic across engines.)"""
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    w = Window.partitionBy("l_partkey")
    return (
        li.join(F.broadcast(p.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"))
        .withColumn("_avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
              .cast("double") / F.lit(7.0)).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q18 shape: large-volume orders — HAVING on a grouped fact, joined back
# to its dimensions.
# ---------------------------------------------------------------------------

@register("q18_large_volume", """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""")
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HAVING subquery and the outer per-order sum are the same
    aggregation — compute it once, filter, then decorate with the
    dimensions (broadcast customer, equi-join orders)."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dec_sum(F.col("l_quantity"), "sum_qty"),
             F.sum("l_quantity").alias("_raw_qty"))
        .filter(F.col("_raw_qty") > 300)
        .drop("_raw_qty")
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
    )


# ---------------------------------------------------------------------------
# Q19 shape: disjunction of conjunctive band predicates across a join.
# ---------------------------------------------------------------------------

@register("q19_disjunctive_bands", """
SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""")
def q19_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-only conjuncts (brand, size) prune the broadcast side before
    the join; the mixed disjunction evaluates post-join inside codegen."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15)))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "revenue", 6))
    )


# ---------------------------------------------------------------------------
# Q21 shape (adapted — no l_commitdate/receiptdate): suppliers who were
# the SOLE late shipper on a multi-supplier order. Nested correlated
# EXISTS / NOT EXISTS collapse into two small aggregates joined back.
# ---------------------------------------------------------------------------

@register("q21_sole_late_supplier", """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate
  GROUP BY l.l_orderkey, l.l_suppkey
), all_supp AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY l_orderkey
), late_supp AS (
  SELECT l_orderkey, COUNT(*) AS n_late FROM late GROUP BY l_orderkey
)
SELECT s.s_name, COUNT(*) AS numwait
FROM late t
JOIN all_supp a ON a.l_orderkey = t.l_orderkey
JOIN late_supp ls ON ls.l_orderkey = t.l_orderkey
JOIN supplier s ON s.s_suppkey = t.l_suppkey
WHERE a.n_supp >= 2 AND ls.n_late = 1
GROUP BY s.s_name
""")
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXISTS (another supplier on the order) and NOT EXISTS (another
    LATE supplier) correlations become per-order counts computed once
    and joined back — three aggregations sharing the l_orderkey shuffle
    instead of two correlated rescans of lineitem."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = read_table(spark, sf_dir, "supplier")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_orderkey", "l_suppkey").agg(F.lit(1).alias("_x"))
        .drop("_x")
    )
    all_supp = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"))
    late_supp = late.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_late"))
    return (
        late.join(all_supp, "l_orderkey")
        .join(late_supp, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register("j1_lookup_inner", """
SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_acctbal > 9000
""")
def j1_lookup_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 inner form (operators/join.py lookup_join): the reference's N
    point lookups as one broadcast equi join with scan filters intact."""
    from imp_etl_spark.operators.join import lookup_join

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment")
    return lookup_join(c, o, on="o_custkey").select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# Q22 shape: anti join against orders for above-average-balance customers.
# (Adapted: no c_phone in the fixture — grouped by nation key instead of
# phone country code.)
# ---------------------------------------------------------------------------

@register("q22_dormant_customers", """
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
        FROM customer c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey
""")
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar threshold is a one-row aggregate collected once on the
    driver (decimal-exact, so both engines compute the identical double);
    the NOT EXISTS is a left anti join on the order keys."""
    c = read_table(spark, sf_dir, "customer")
    row = (c.filter(F.col("c_acctbal") > 0.0)
           .agg((F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                 / F.count(F.lit(1))).alias("t"))).collect()[0]
    threshold = row["t"]
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.filter(F.col("c_acctbal") > threshold)
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"),
             _dec_sum(F.col("c_acctbal"), "totacctbal"))
    )


# ---------------------------------------------------------------------------
# Distinct aggregation + exact percentile — the aggregation variants the
# reference never had (SURVEY.md §2.4 "not present" list).
# ---------------------------------------------------------------------------

@register("agg_distinct_customers", """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS uniq_cust,
       COUNT(*) AS cnt
FROM orders
GROUP BY o_orderstatus
""")
def agg_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("uniq_cust"),
        F.count(F.lit(1)).alias("cnt"),
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot — wide<->long reshaping. A pivot with an explicit value
# list is a single groupBy with conditional aggregates (no extra pass to
# discover the domain — at scale the implicit-domain form adds a full
# distinct scan, so the engine always pins the values).
# ---------------------------------------------------------------------------

@register("pivot_status_counts", """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS st_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS st_o,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS st_p
FROM orders
GROUP BY o_orderpriority
""")
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "st_f", "O": "st_o", "P": "st_p"})
    )
    # a priority group with zero rows of some status COUNTs to 0, not
    # NULL — pivot leaves an absent cell NULL, the filtered-count
    # oracle (and plain SQL semantics) says 0
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0).cast("long")).alias(c)
          for c in ("st_f", "st_o", "st_p")])


@register("unpivot_measures", """
SELECT l_orderkey, l_linenumber, measure, val
FROM lineitem
UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
""")
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt of the numeric measures; pure narrow op (no
    shuffle) — row count triples, bytes stay constant."""
    li = read_table(spark, sf_dir, "lineitem")
    # SQL-standard UNPIVOT excludes NULL measures; Spark's unpivot
    # keeps them — filter to state one contract
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure", "val",
    ).where(F.col("val").isNotNull())


@register("q15_top_supplier", """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: derived revenue view + scalar-max subquery.
    The view computes once (cached): the max is a driver-side scalar from
    the same frame, not a second lineitem scan."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01")))
    # tiny (one row per supplier); serves both max and filter
    revenue = persist(
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "total_revenue", 6)),
        StorageLevel.MEMORY_AND_DISK_DESER)
    max_rev = revenue.agg(F.max("total_revenue")).collect()[0][0]
    s = read_table(spark, sf_dir, "supplier")
    return (
        revenue.filter(F.col("total_revenue") == max_rev)
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register("agg_approx_stats", None)
def agg_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for the 100 TB tier: HLL++ count-distinct and
    t-digest-style percentile — O(1) state per group vs O(n) exact.
    Sketch values are engine-specific (rows-only check); the 5%% error
    envelope vs exact is pinned in tests/test_approx.py."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey").alias("approx_cust"),
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("approx_median"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register("agg_exact_median", """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty
FROM lineitem
GROUP BY l_returnflag
""")
def agg_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolated) percentiles — quantities are small integers so
    the interpolation arithmetic is bit-identical across engines."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.9)).alias("p90_qty"),
    )


@register("agg_percentiles_disc", """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
)
SELECT l_returnflag,
       MAX(n) AS n,
       MAX(CASE WHEN rn = CEIL(n * 0.25) THEN l_extendedprice END) AS p25,
       MAX(CASE WHEN rn = CEIL(n * 0.5) THEN l_extendedprice END) AS p50,
       MAX(CASE WHEN rn = CEIL(n * 0.75) THEN l_extendedprice END) AS p75,
       MAX(CASE WHEN rn = CEIL(n * 0.95) THEN l_extendedprice END) AS p95
FROM ranked
GROUP BY l_returnflag
""")
def agg_percentiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (element-picking) percentiles per group: the value at
    1-indexed rank ceil(p*n) in sort order. Returning an ACTUAL element
    makes the result deterministic with no interpolation-rule risk —
    duplicates in the order don't matter because the value at a fixed
    rank is unique even when the tie ORDER isn't. Value-less rows are
    no percentile candidates (a NULL would occupy an engine-dependent
    rank position).

    Giant-group-safe shape (r8, the mad_outliers rank-pick applied to
    multi-target percentiles): l_returnflag has a THREE-value domain,
    so the old ``row_number() over (partition by l_returnflag)`` sorted
    a third of lineitem in each of three tasks. Collapse to
    (group, value) -> count (map-side combine — prices are
    cents-quantized so the collapsed domain is small), distributed
    prefix_sum over (group, value) order, then each target rank
    ceil(p*n) falls in exactly ONE (group, value) row's cumulative
    span. Two tiny plan-build collects (EAGER_BUILD in bench)."""
    from imp_etl_spark.operators.window import prefix_sum

    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull())
    counts = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("__c"))
    cum = prefix_sum(counts, ["l_returnflag", "l_extendedprice"], "__c",
                     out_col="__cum")
    per_g = cum.groupBy("l_returnflag").agg(
        F.min(F.col("__cum") - F.col("__c")).alias("__off"),
        F.sum("__c").alias("n"))
    # null-safe: GROUP BY keeps a NULL returnflag group; a plain equi
    # join would drop it (fuzz seed 501)
    j = cum.join(
        F.broadcast(per_g.withColumnRenamed("l_returnflag", "__g")),
        on=F.col("l_returnflag").eqNullSafe(F.col("__g"))).drop("__g")
    within = F.col("__cum") - F.col("__off")

    def pick(p: float, name: str):
        target = F.ceil(F.col("n") * F.lit(p))
        return F.max(
            F.when((within >= target) & (within - F.col("__c") < target),
                   F.col("l_extendedprice"))).alias(name)

    return j.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        pick(0.25, "p25"), pick(0.5, "p50"),
        pick(0.75, "p75"), pick(0.95, "p95"),
    )


@register("agg_stats_moments", """
WITH pts AS (
  SELECT event_type,
         CAST((epoch_us(ts) - 1704067200000000) // 1000 AS HUGEINT) AS x,
         CAST(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,6))
              * 1000000 AS HUGEINT) AS y,
         value AS yraw
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), s AS (
  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy,
         MIN(yraw) AS min_value, MAX(yraw) AS max_value
  FROM pts GROUP BY event_type
), m AS (
  SELECT event_type, n, sy, min_value, max_value,
         n*sxy - sx*sy AS a, n*sxx - sx*sx AS b, n*syy - sy*sy AS c
  FROM s
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(sy AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS mean_value,
       CASE WHEN n < 2 THEN 0.0
            ELSE sqrt(CAST(c AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
                 / 1000000.0 END AS stddev_value,
       CASE WHEN n < 2 THEN 0.0
            ELSE CAST(a AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
                 / 1000000000.0 END AS covar_sec_value,
       CASE WHEN n < 2 OR b = 0 OR c = 0 THEN 0.0
            ELSE CAST(a AS DOUBLE)
                 / (sqrt(CAST(b AS DOUBLE)) * sqrt(CAST(c AS DOUBLE)))
            END AS corr_time_value,
       min_value, max_value
FROM m
""")
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer moment statistics per event type, fully JVM-side
    (operators/agg.group_moment_stats): mean/stddev/covar/corr from
    DECIMAL(38,0) moment sums with one IEEE chain per output — the
    codegen counterpart of per_group_trend's Pandas path, and a hard
    (bit-equal) oracle for statistics that other engines can only
    fuzzily compare."""
    from imp_etl_spark.operators.agg import group_moment_stats

    ev = read_table(spark, sf_dir, "events")
    return group_moment_stats(ev)


# ---------------------------------------------------------------------------
# Q9 shape: product-type profit by nation and year — the widest feasible
# join tree (lineitem + part + supplier + orders + nation). Adapted: the
# fixture has no partsupp, so supply cost is synthesized as 10% of
# p_retailprice (the shape under test is the 5-way join + two-key rollup,
# not the cost model).
# ---------------------------------------------------------------------------

@register("q9_product_profit", """
SELECT n.n_name AS nation,
       EXTRACT(year FROM o.o_orderdate) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * l.l_quantity * CAST(0.1 AS DOUBLE)
                     AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%ring%'
GROUP BY nation, o_year
""")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All dimension sides broadcast; the only shuffles are the
    lineitem<->orders equi join and the final (nation, year) rollup.
    The p_name filter lands on the broadcast build side, so the big
    probe scan skips non-matching parts row-by-row without a shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%ring%"))
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = read_table(spark, sf_dir, "nation")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"),
                F.year("o_orderdate").cast("long").alias("o_year"),
                profit.alias("_profit"))
        .groupBy("nation", "o_year")
        .agg(_dec_sum(F.col("_profit"), "sum_profit", 6))
    )


# ---------------------------------------------------------------------------
# Q11 shape: per-group sum filtered against a GLOBAL scalar threshold.
# Adapted: no partsupp, so the "important stock" becomes per-nation
# customer balance vs 4% of the worldwide balance. The scalar subquery
# becomes a broadcast nested-loop join of a 1-row aggregate — the
# distributed idiom for HAVING SUM(x) > (SELECT f(total)).
# ---------------------------------------------------------------------------

@register("q11_important_balance", """
SELECT n.n_name, CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
HAVING CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
     > CAST((SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
            AS DOUBLE) * CAST(0.04 AS DOUBLE)
""")
def q11_important_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both the per-group sums and the global sum are decimal-exact, so
    the threshold comparison is deterministic across engines. One scan
    feeds both aggregates' shuffles; the 1-row global total rides a
    broadcast cross join (no driver-side collect)."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    total = c.agg(_dec_sum(F.col("c_acctbal"), "_total", 2))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(_dec_sum(F.col("c_acctbal"), "bal", 2))
        .crossJoin(F.broadcast(total))
        .filter(F.col("bal") > F.col("_total") * F.lit(0.04))
        .select("n_name", "bal")
    )


# ---------------------------------------------------------------------------
# Q16 shape: grouped COUNT(DISTINCT ...) with dimension exclusion lists.
# Adapted: the supplier-complaint exclusion needs s_comment (absent), so
# the exclusions are the brand/type/size predicates only.
# ---------------------------------------------------------------------------

@register("q16_supplier_variety", """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p.p_brand, p.p_type, p.p_size
""")
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact distinct — Spark expands this to a two-phase
    aggregate (distinct shuffle on (group, suppkey), then count); the
    filtered part side broadcasts so lineitem never shuffles on the
    join key at all."""
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q12 shape: shipping-class vs order-priority cross-count. Adapted: the
# fixture lineitem has no l_shipmode/l_commitdate/l_receiptdate
# (TESTDATA.md), so the two "ship modes" are the A/R return classes and
# the late-delivery predicate becomes a 1996 ship-date window — the
# shape under test (fact->dim join + conditional counts per class) is
# Q12's.
# ---------------------------------------------------------------------------


@register("q12_priority_class", """
SELECT l.l_returnflag AS ship_class,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_returnflag IN ('A', 'R')
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
""")
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (see module doc on fixture adaptations): for
    each shipping class, how many 1996-shipped line items belong to
    high- vs low-priority orders. The ship-date + class predicates push
    into the lineitem scan; orders arrives projected to
    (o_orderkey, o_orderpriority); the two counts ride one exchange of
    2 groups after map-side partial aggregation."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(F.col("l_returnflag").isin("A", "R")
                 & (F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1997-01-01"))
        .select("l_orderkey", "l_returnflag")
        .join(orders.select("o_orderkey", "o_orderpriority"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"))
    )


# ---------------------------------------------------------------------------
# Q2 shape: best supplier per qualifying part — the correlated-MIN
# subquery, decorrelated into a per-part window. Adapted: no partsupp
# (module doc), so "suppliers offering a part" is the distinct
# (l_partkey, l_suppkey) pairs from lineitem, and the min-cost
# criterion is s_acctbal (supply cost synthesized from p_retailprice
# is constant per part, which would make every supplier tie).
# ---------------------------------------------------------------------------


@register("q2_min_cost_supplier", """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
cand AS (
  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
         n.n_name,
         row_number() OVER (PARTITION BY p.p_partkey
                            ORDER BY s.s_acctbal ASC, s.s_suppkey ASC)
           AS rn
  FROM ps
  JOIN part p ON p.p_partkey = ps.l_partkey
  JOIN supplier s ON s.s_suppkey = ps.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE p.p_type = 'ECONOMY' AND p.p_size < 15 AND r.r_name = 'ASIA'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM cand WHERE rn = 1
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (module doc on adaptations): for each ECONOMY
    part under size 15, the ASIA supplier with the lowest account
    balance among those who shipped it. The correlated MIN subquery of
    spec Q2 decorrelates into one row_number window partitioned by the
    part key (suppkey tiebreak keeps it deterministic).

    Scale shape: the distinct supplier-part pairs are ONE shuffle of
    two 8-byte keys; part/supplier/nation/region all broadcast; the
    window reuses the part-key partitioning; the final top-100 is a
    bounded TakeOrderedAndProject."""
    ps = (read_table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey").distinct())
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") < 15))
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA")
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc())
    return (
        ps.join(F.broadcast(part), part.p_partkey == ps.l_partkey)
        .join(F.broadcast(supp), supp.s_suppkey == ps.l_suppkey)
        .join(F.broadcast(nation),
              nation.n_nationkey == supp.s_nationkey)
        .join(F.broadcast(region),
              region.r_regionkey == nation.n_regionkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name",
                 "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q20 shape: suppliers with significant shipments of a part family —
# the nested EXISTS/IN chain as two semi joins. Adapted: no partsupp
# availqty (module doc), so "excess stock" becomes "shipped more than
# 50 units of '%bolt%' parts in 1996".
# ---------------------------------------------------------------------------


@register("q20_bolt_suppliers", """
WITH bolt_parts AS (
  SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%'
),
qual AS (
  SELECT l.l_suppkey,
         CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           AS bolt_qty
  FROM lineitem l
  JOIN bolt_parts b ON b.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l.l_suppkey
  HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 50
)
SELECT s.s_name, s.s_acctbal, q.bolt_qty
FROM supplier s JOIN qual q ON q.l_suppkey = s.s_suppkey
ORDER BY s.s_name
""")
def q20_bolt_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (module doc on adaptations): suppliers who
    shipped more than 50 units of '%bolt%'-named parts during 1996.
    The spec's nested IN (partsupp -> part, availqty subquery) chain
    becomes part-filter -> fact aggregation -> HAVING -> supplier join.

    Scale shape: the part family filter broadcasts into the lineitem
    scan (ship-date predicate pushed); the per-supplier aggregation is
    one exchange after map-side partials; the qualifying-supplier frame
    is tiny and joins the supplier dim by key."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(
        F.col("p_name").like("%bolt%")).select("p_partkey")
    supp = read_table(spark, sf_dir, "supplier")
    qty = F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    qual = (
        li.where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1997-01-01"))
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy("l_suppkey").agg(qty.alias("q"))
        .where(F.col("q") > 50)
        .select("l_suppkey", F.col("q").cast("double").alias("bolt_qty"))
    )
    return (
        supp.join(qual, qual.l_suppkey == supp.s_suppkey)
        .select("s_name", "s_acctbal", "bolt_qty")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Supplier concentration (HHI) per nation — exact-integer formulation:
# HHI = sum(share_i^2) = sum(rev_i^2) / (sum(rev_i))^2, so both sums
# accumulate as exact integers and ONE IEEE division closes it.
# ---------------------------------------------------------------------------


@register("nation_supplier_hhi", """
WITH r AS (
  SELECT s.s_nationkey,
         l.l_suppkey,
         CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(18,6))) * 1000000 AS HUGEINT)
              AS BIGINT) AS rev_micro
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
)
SELECT n.n_name AS nation,
       count(*) AS n_suppliers,
       CAST(SUM(rev_micro) AS BIGINT) AS total_micro,
       CAST(SUM(CAST(rev_micro AS HUGEINT) * rev_micro) AS DOUBLE)
         / NULLIF(CAST(SUM(rev_micro) AS DOUBLE)
                  * CAST(SUM(rev_micro) AS DOUBLE), 0.0)
         AS hhi
FROM r JOIN nation n ON n.n_nationkey = r.s_nationkey
GROUP BY n.n_name
""")
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation — 1/n_suppliers (perfect competition) up to 1.0
    (monopoly). The share-squared sum is algebraically rewritten as
    sum(rev^2)/total^2 so every accumulation is EXACT integer
    arithmetic (DECIMAL(38,0)/HUGEINT) and the only float ops are two
    int->double casts, one multiply, one divide — bit-equal across
    engines regardless of fold order.

    Scale shape: per-(nation, supplier) revenue partial-combines into
    one exchange (supplier dim broadcast); the nation rollup is
    |nations| groups; rev^2 <= ~1e24 sits comfortably in the 1e38
    headroom."""
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    rev = (F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .cast("decimal(18,6)")) * 1000000).cast("bigint")
    r = (li.join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
                 F.col("s_suppkey") == F.col("l_suppkey"))
         .groupBy("s_nationkey", "l_suppkey")
         .agg(rev.alias("rev_micro")))
    sq = F.sum(F.col("rev_micro").cast("decimal(38,0)")
               * F.col("rev_micro"))
    tot = F.sum("rev_micro")
    return (
        r.join(F.broadcast(nation),
               nation.n_nationkey == r.s_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"),
             tot.alias("total_micro"),
             sq.alias("__sq"))
        .select("nation", "n_suppliers", "total_micro",
                # try_divide: a nation whose revenues net to exactly
                # zero (refund-heavy books) has undefined concentration
                F.try_divide(
                    F.col("__sq").cast("double"),
                    F.col("total_micro").cast("double")
                    * F.col("total_micro").cast("double")).alias("hhi"))
    )


# ---------------------------------------------------------------------------
# Inter-order gap medians per customer: lag over order history, exact
# discrete median via the rank-pick pattern.
# ---------------------------------------------------------------------------


@register("customer_order_gaps", """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
  WHERE o_orderdate IS NOT NULL
),
g AS (
  SELECT o_custkey,
         date_diff('day', CAST(prev AS DATE), CAST(o_orderdate AS DATE))
           AS gap
  FROM o WHERE prev IS NOT NULL
),
r AS (
  SELECT o_custkey, gap,
         row_number() OVER (PARTITION BY o_custkey ORDER BY gap) AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS n
  FROM g
)
SELECT o_custkey,
       CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(min(gap) AS BIGINT) AS min_gap,
       CAST(max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                     THEN gap END) AS BIGINT) AS median_gap,
       CAST(max(gap) AS BIGINT) AS max_gap
FROM r GROUP BY o_custkey
""")
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer inter-order cadence: count, min, exact discrete
    median (rank-pick — the agg_percentiles_disc pattern), and max gap
    in days between consecutive orders.

    Scale shape: on uniform keys ONE customer-keyed exchange serves
    the order-history lag, the gap rank, and the final rollup (same
    partition key throughout, Catalyst shares the sort); the lag pass
    goes through the lag-class skew dispatch (round 9,
    operators/window.py lag_dispatch), so a probed hot custkey flips
    it to the seq_lag range+boundary-exchange shape (lagging the ORDER
    column — the payload-dedupe case). Per-customer state never
    exceeds the customer's own order count. Temporal contract: an
    undated order is no cadence step."""
    from imp_etl_spark.operators.window import lag_dispatch

    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull())
    g = (lag_dispatch(
            orders.select("o_custkey", "o_orderdate", "o_orderkey"),
            ["o_custkey"], ["o_orderdate", "o_orderkey"],
            lags={"o_orderdate": "prev"})
         .where(F.col("prev").isNotNull())
         .select("o_custkey",
                 F.datediff(F.to_date("o_orderdate"), F.to_date("prev"))
                 .cast("long").alias("gap")))
    wr = Window.partitionBy("o_custkey").orderBy("gap")
    wn = Window.partitionBy("o_custkey")
    r = (g.withColumn("rn", F.row_number().over(wr))
         .withColumn("n", F.count(F.lit(1)).over(wn)))
    med = F.max(F.when(
        F.col("rn") == F.ceil(F.col("n") * F.lit(0.5)).cast("bigint"),
        F.col("gap")))
    return r.groupBy("o_custkey").agg(
        F.max("n").alias("n_gaps"),
        F.min("gap").alias("min_gap"),
        med.alias("median_gap"),
        F.max("gap").alias("max_gap"))

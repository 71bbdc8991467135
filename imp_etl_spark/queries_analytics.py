"""Behavioral / fuzzy / statistical analytics queries (registered into
queries.REGISTRY).

The reference's events surface stops at a log tail (index.js:200-270);
this module is the north-star sequence-analytics tier over the same
fixtures: ordered funnels, cohort retention, time-grid resampling with
forward fill, exact z-score outlier screening, blocked fuzzy matching,
and length-balanced sharding. Every query here is fully oracle-backed.

Portability notes:
- funnel / cohort / sharding: pure integer counts + one IEEE division
  per output row -> bit-exact.
- resample: the filled value is copied (never computed), so doubles
  compare exactly; the grid is sequence()/generate_series with
  identical inclusive-bounds semantics.
- z-score: outlier membership is an exact DECIMAL(38,0)/HUGEINT integer
  comparison; the reported z is two int->double casts, one divide, one
  correctly-rounded sqrt — the same three IEEE ops in both engines.
- fuzzy: Spark's levenshtein and DuckDB's agree (pinned green in
  string_funcs_suite since round 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from imp_etl_spark.operators import behavior, join, quality, sampling
from imp_etl_spark.operators.util import persist, persist_if_big
from imp_etl_spark.registry import register
from imp_etl_spark.sources.parquet import read_table

# ---------------------------------------------------------------------------
# Ordered funnel with per-transition conversion windows
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ["signup", "click", "purchase"]
_FUNNEL_WITHIN = ["'12' hours", "'24' hours"]


@register("funnel_signup_purchase", """
WITH s0 AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s1 AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s0 USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts >= s0.t0 AND e.ts <= s0.t0 + INTERVAL '12 hours'
  GROUP BY e.user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts >= s1.t1 AND e.ts <= s1.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
),
counts AS (
  SELECT 0 AS stage_idx, 'signup' AS stage, count(*) AS users FROM s0
  UNION ALL
  SELECT 1, 'click', count(*) FROM s1
  UNION ALL
  SELECT 2, 'purchase', count(*) FROM s2
)
SELECT stage_idx, stage, users,
       CAST(users AS DOUBLE) /
       (SELECT CAST(users AS DOUBLE) FROM counts WHERE stage_idx = 0)
         AS conv_pct
FROM counts
""")
def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup->click->purchase funnel: a user converts a stage
    only within its window (click <=12h after signup, purchase <=24h
    after that click). 150 -> 28 -> 16 users on the sf0.01 fixture."""
    ev = read_table(spark, sf_dir, "events")
    return behavior.funnel_counts(ev, _FUNNEL_STAGES, within=_FUNNEL_WITHIN)


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------

@register("cohort_retention_daily", """
WITH c AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT c.cohort_day,
       CAST(datediff('day', c.cohort_day, CAST(e.ts AS DATE)) AS BIGINT)
         AS day_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN c USING (user_id)
GROUP BY 1, 2
""")
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix over the events fixture."""
    ev = read_table(spark, sf_dir, "events")
    out = behavior.cohort_retention(ev)
    return out.withColumn("day_offset", F.col("day_offset").cast("long"))


# ---------------------------------------------------------------------------
# Per-key time-grid resample + forward fill
# ---------------------------------------------------------------------------

@register("resample_ffill_hourly", """
WITH te AS (
  SELECT * FROM events WHERE ts IS NOT NULL
),
b AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS lo,
         date_trunc('hour', max(ts)) AS hi
  FROM te GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL '1 hour'))
           AS grid_ts
  FROM b
),
d AS (
  SELECT user_id, ts, max(value) AS value
  FROM te GROUP BY user_id, ts
)
SELECT g.user_id, g.grid_ts, d.value AS last_value
FROM grid g ASOF LEFT JOIN d
  ON g.user_id = d.user_id AND g.grid_ts >= d.ts
""")
def resample_ffill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user grid carrying the latest event value at-or-before
    each tick (null before the first event's tick — left semantics)."""
    ev = read_table(spark, sf_dir, "events")
    return behavior.resample_ffill(
        ev, key_col="user_id", ts_col="ts", value_col="value",
        step="1 hour", out_col="last_value")


# ---------------------------------------------------------------------------
# Exact-integer z-score outliers
# ---------------------------------------------------------------------------

@register("outlier_events_zscore", """
WITH q AS (
  SELECT event_id, event_type, value,
         CAST(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,2)) * 100
              AS HUGEINT) AS v
  FROM events
  WHERE value IS NOT NULL
),
m AS (
  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         sum(v) AS s1, sum(v * v) AS s2
  FROM q GROUP BY event_type
)
SELECT q.event_id, q.event_type, q.value,
       CAST(q.v * m.n - m.s1 AS DOUBLE) /
       sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE))
         AS zscore
FROM q JOIN m USING (event_type)
WHERE (q.v * m.n - m.s1) * (q.v * m.n - m.s1)
      > 9 * (m.n * m.s2 - m.s1 * m.s1)
""")
def outlier_events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value sits >3 population-sigmas from their type's
    mean — membership decided by exact integer arithmetic (DuckDB's
    HUGEINT sums mirror the Spark DECIMAL(38,0) moments)."""
    ev = read_table(spark, sf_dir, "events")
    out = quality.zscore_outliers(
        ev, group_col="event_type", value_col="value", threshold=3)
    return out.select("event_id", "event_type", "value", "zscore")


# ---------------------------------------------------------------------------
# Blocked edit-distance fuzzy matching
# ---------------------------------------------------------------------------

@register("fuzzy_part_pairs", """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
FROM names a JOIN names b
  ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
 AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
""")
def fuzzy_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part names: first-char blocking + Levenshtein<=3
    refine, self-pairs and symmetric duplicates removed by name_a <
    name_b inside the block join.

    Known oracle deviation (tests/test_adversarial_tpch.py): the
    engine's edit distance is CHARACTER-based (Spark levenshtein);
    DuckDB's counts BYTES, so a multibyte character substitution
    scores 2+ there. Character semantics are the intended contract;
    the oracle agrees on ASCII names (the fixture)."""
    names = read_table(spark, sf_dir, "part").select("p_name").distinct()
    pairs = join.fuzzy_join_blocked(
        names.select(F.col("p_name").alias("name_a")),
        names.select(F.col("p_name").alias("name_b")),
        "name_a", "name_b", max_dist=3)
    return pairs.filter(F.col("name_a") < F.col("name_b"))


# ---------------------------------------------------------------------------
# Length-balanced round-robin sharding
# ---------------------------------------------------------------------------

@register("shard_documents_balanced", """
WITH r AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
)
SELECT CAST((rn - 1) % 8 AS INTEGER) AS shard,
       count(*) AS doc_cnt,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM r GROUP BY 1
""")
def shard_documents_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deal documents longest-first round-robin into 8 shards and report
    each shard's doc count and char totals — the per-shard totals land
    within one max-doc of each other."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sharded = sampling.shard_balanced(
        docs, weight_col="n_chars", id_col="doc_id", num_shards=8)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands activity streaks
# ---------------------------------------------------------------------------

@register("user_activity_streaks", """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
g AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY day) AS INTEGER) AS grp
  FROM d
)
SELECT user_id, min(day) AS streak_start, count(*) AS streak_days
FROM g GROUP BY user_id, grp
""")
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-active-day streaks per user (gaps-and-islands via the
    day - row_number island key)."""
    ev = read_table(spark, sf_dir, "events")
    return behavior.activity_streaks(ev)


# ---------------------------------------------------------------------------
# SCD-Type-2 state-interval compression
# ---------------------------------------------------------------------------

@register("scd2_user_state", """
WITH c AS (
  SELECT user_id, ts, event_type, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
  WHERE ts IS NOT NULL
),
s AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM c WHERE prev IS DISTINCT FROM event_type
)
SELECT user_id, state, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM s
""")
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-history build: compress each user's event-type sequence
    into [valid_from, valid_to) intervals, last interval open."""
    ev = read_table(spark, sf_dir, "events")
    return behavior.state_intervals(ev)


# ---------------------------------------------------------------------------
# Trailing time-window rolling aggregates
# ---------------------------------------------------------------------------

@register("rolling_24h_user_value", """
SELECT event_id, user_id, ts,
       count(*) OVER w AS roll_cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS roll_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '24 hours' PRECEDING AND CURRENT ROW)
""")
def rolling_24h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event's trailing-24h per-user event count and decimal-exact
    value sum, through the trailing-RANGE skew dispatch (r10,
    operators/window.py trailing_time_sums): below the probed hot-key
    threshold this is the plain one-shuffle RANGE frame on the
    microsecond epoch; at a genuinely hot key it switches to the
    bit-equal prefix-difference machinery whose per-task work stays
    bounded in the key's absolute size."""
    from imp_etl_spark.operators.window import trailing_time_sums

    ev = read_table(spark, sf_dir, "events").withColumn(
        "__v6", F.col("value").cast("decimal(18,6)"))
    # probe over ev's own key projection (Catalyst prunes it to the
    # bare scan) instead of a second read_table — the events reader
    # runs a schema-inference pass per call, so re-reading just for
    # the probe frame paid that twice per build (r11)
    out = trailing_time_sums(
        ev, key="user_id", ts_col="ts", window="'24' hours",
        sums={"roll_sum": "__v6"}, count_col="roll_cnt",
        probe=ev.select("user_id"))
    return out.select(
        "event_id", "user_id", "ts", "roll_cnt",
        F.col("roll_sum").cast("double").alias("roll_sum"))


# ---------------------------------------------------------------------------
# Equal-frequency (quartile) feature binning
# ---------------------------------------------------------------------------

@register("doc_length_quartile_bins", """
WITH r AS (
  SELECT n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER () AS n
  FROM documents
),
c AS (
  SELECT max(CASE WHEN rn = CEIL(n * 0.25) THEN n_chars END) AS p25,
         max(CASE WHEN rn = CEIL(n * 0.5) THEN n_chars END) AS p50,
         max(CASE WHEN rn = CEIL(n * 0.75) THEN n_chars END) AS p75
  FROM r
)
SELECT CASE WHEN n_chars <= p25 THEN 0
            WHEN n_chars <= p50 THEN 1
            WHEN n_chars <= p75 THEN 2
            ELSE 3 END AS bin,
       count(*) AS doc_cnt,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents, c
GROUP BY 1
""")
def doc_length_quartile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning: quartile cutpoints picked discretely
    (value at rank ceil(p*n) over (n_chars, doc_id) order — an actual
    element, no interpolation), then value-based bin assignment so ties
    land deterministically. The rank comes from the distributed
    global_index, n from a count — the classic two 1-row driver scalars,
    never a single-partition window."""
    import math

    from imp_etl_spark.operators.window import global_index

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    packed = docs.withColumn(
        "__ord", F.col("n_chars") * F.lit(1 << 32) + F.col("doc_id"))
    n = docs.count()
    ranks = {p: math.ceil(n * p) for p in (0.25, 0.5, 0.75)}
    idx = global_index(packed, "__ord", unique_order=True)
    cuts = (
        idx.filter(F.col("__rn").isin(list(ranks.values())))
        .agg(*[
            F.max(F.when(F.col("__rn") == rn, F.col("n_chars")))
            .alias(name)
            for name, rn in zip(("p25", "p50", "p75"), ranks.values())
        ])
    )
    binned = docs.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("n_chars") <= F.col("p25"), 0)
        .when(F.col("n_chars") <= F.col("p50"), 1)
        .when(F.col("n_chars") <= F.col("p75"), 2)
        .otherwise(3).alias("bin"),
        "n_chars",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (piecewise-constant TWAP)
# ---------------------------------------------------------------------------

@register("twap_user_value", """
WITH s AS (
  SELECT user_id, ts, value,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
  WHERE ts IS NOT NULL
),
seg AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS v,
         CAST(epoch_us(nxt) - epoch_us(ts) AS HUGEINT) AS dur
  FROM s WHERE nxt IS NOT NULL
)
SELECT user_id, count(*) AS n_segments,
       CAST(SUM(v * dur) AS DOUBLE) /
       NULLIF(CAST(SUM(dur) * 100 AS DOUBLE), 0.0) AS twap
FROM seg GROUP BY user_id
""")
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value: each event's value holds
    until the next event (piecewise-constant; the open last segment is
    excluded), so twap = sum(v_i * dur_i) / sum(dur_i).

    Exactness: micro-cent values x microsecond durations accumulate as
    DECIMAL(38,0) integers (DuckDB HUGEINT mirror) — every product is
    taken in 38-digit arithmetic, never a 64-bit lane — and the final
    division converts decimal->double directly (correctly rounded,
    bit-equal to HUGEINT->DOUBLE; no BIGINT hop to overflow). The
    per-user lead goes through the lag-class skew dispatch (round 9,
    operators/window.py lag_dispatch): uniform keys keep the one-
    shuffle window + hash agg plan; a probed hot key (bot user) flips
    to the seq_lag range+boundary-exchange shape instead of
    serializing its history through one sort task. Temporal contract:
    untimed events hold no interval."""
    from imp_etl_spark.operators.window import lag_dispatch

    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    d38 = "decimal(38,0)"
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    seg = (
        lag_dispatch(
            ev.select("user_id", "ts", "event_id", "value"),
            ["user_id"], ["ts", "event_id"], leads={"ts": "nxt"})
        .filter(F.col("nxt").isNotNull())
        .select(
            "user_id",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            .alias("v"),
            (us("nxt") - us("ts")).alias("dur"),
        )
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        # try_divide: a user whose events all share one timestamp has
        # zero total duration — twap undefined (NULL), not a job abort
        F.try_divide(
            F.sum(F.col("v").cast(d38) * F.col("dur").cast(d38))
            .cast("double"),
            (F.sum(F.col("dur").cast(d38)) * 100)
            .cast("double")).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution (as-of join reuse)
# ---------------------------------------------------------------------------

@register("attribution_last_touch", """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts,
       CASE WHEN p.ts IS NULL THEN NULL ELSE c.ts END AS click_ts,
       CASE WHEN p.ts IS NULL THEN NULL ELSE c.click_value END
         AS click_value,
       CASE WHEN p.ts IS NULL THEN NULL
            ELSE (epoch_us(p.ts) - epoch_us(c.ts)) // 60000000 END
         AS gap_minutes
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute each purchase to the user's latest click at-or-before
    it (left semantics: unattributed purchases keep nulls). Reuses
    temporal.asof_join — range-partitioned union + running-last with a
    per-partition carry (hot-key-immune), no inequality join. Duplicate
    (user, ts) clicks resolve to the max value, mirrored in the
    oracle's pre-dedup."""
    from imp_etl_spark.operators.temporal import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value"))
    out = asof_join(
        purchases, clicks.withColumn("click_ts", F.col("ts")),
        on="user_id", probe_ts="ts", build_ts="ts",
        build_cols={"click_value": "click_value", "click_ts": "click_ts"},
    )
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    return out.select(
        "event_id", "user_id", "ts", "click_ts", "click_value",
        ((us(F.col("ts")) - us(F.col("click_ts")))
         .cast("long") / F.lit(60000000)).cast("long")
        .alias("gap_minutes"),
    )


# ---------------------------------------------------------------------------
# Per-source corpus caps (per-domain cap)
# ---------------------------------------------------------------------------

@register("cap_docs_per_source", """
WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, n_chars FROM r WHERE rk <= 10
""")
def cap_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most 10 documents per source, chosen by deterministic
    md5 rank (unbiased vs storage order) — the per-domain cap that stops
    one crawl domain from dominating a training mix (binds on every
    source of the 20x25-doc fixture)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    return sampling.cap_per_group(docs, "source", "doc_id", cap=10)


# ---------------------------------------------------------------------------
# Distribution-position windows (percent_rank / cume_dist)
# ---------------------------------------------------------------------------

@register("win_percentile_position", """
SELECT o_orderkey, o_orderstatus, o_totalprice,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(ntile(10) OVER w AS INTEGER) AS decile
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey)
""")
def win_percentile_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order's exact distribution position within its status group:
    percent_rank ((rank-1)/(n-1)), cume_dist (peers-inclusive fraction)
    and decile. Unique (price, key) order makes all three deterministic;
    the two ratios are single IEEE divisions of exact integers. One
    shuffle, all three windows share the sort."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).cast("int").alias("decile"),
    )


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier screening
# ---------------------------------------------------------------------------

@register("outlier_events_mad", """
WITH q AS (
  SELECT event_id, event_type, value,
         CAST(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,2)) * 100
              AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL
),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY v, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM q
),
med AS (
  SELECT event_type, max(CASE WHEN rn = CEIL(n * 0.5) THEN v END) AS med
  FROM r1 GROUP BY event_type
),
d AS (
  SELECT q.event_id, q.event_type, q.value,
         abs(q.v - med.med) AS dev
  FROM q JOIN med USING (event_type)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY dev, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
mad AS (
  SELECT event_type, max(CASE WHEN rn = CEIL(n * 0.5) THEN dev END) AS mad
  FROM r2 GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value, d.dev, mad.mad
FROM d JOIN mad USING (event_type)
WHERE d.dev > 5 * mad.mad
""")
def outlier_events_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events beyond 5 MADs from their type's median — the
    heavy-tail-robust twin of outlier_events_zscore; membership is pure
    integer comparison (rank-picked median/MAD in cent units)."""
    ev = read_table(spark, sf_dir, "events")
    out = quality.mad_outliers(
        ev, group_col="event_type", value_col="value",
        tiebreak_col="event_id", k=5)
    return out.select("event_id", "event_type", "value", "dev", "mad")


# ---------------------------------------------------------------------------
# Sorted-neighborhood fuzzy pairs
# ---------------------------------------------------------------------------

@register("snm_part_pairs", """
WITH names AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
r AS (SELECT p_name, row_number() OVER (ORDER BY p_name) AS rn FROM names)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
FROM r a JOIN r b ON b.rn - a.rn IN (1, 2)
WHERE levenshtein(a.p_name, b.p_name) <= 3
""")
def snm_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood pass over part names (window 3): each name
    compares only with its 2 sort-order successors — complements the
    first-char blocking pass (fuzzy_part_pairs) as the second
    record-linkage blocking family. Same character-vs-byte Levenshtein
    oracle deviation on non-ASCII as fuzzy_part_pairs."""
    names = read_table(spark, sf_dir, "part").select("p_name")
    return join.sorted_neighborhood_pairs(
        names, "p_name", window=3, max_dist=3)


# ---------------------------------------------------------------------------
# Top event paths (behavioral n-grams)
# ---------------------------------------------------------------------------

@register("top_event_paths", """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS p1,
         lag(event_type, 2) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS p2
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
)
SELECT p2 || '>' || p1 || '>' || event_type AS path, count(*) AS cnt
FROM s WHERE p2 IS NOT NULL
GROUP BY 1 ORDER BY cnt DESC, path LIMIT 10
""")
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step event-type paths across user histories (lag
    n-grams -> hash count -> bounded top-k with a unique (cnt, path)
    tiebreak). The per-user lags go through the lag-class skew
    dispatch (round 9, operators/window.py lag_dispatch): uniform keys
    keep the one-shuffle window plan; a probed hot key flips to
    seq_lag, whose triple-list spec computes lag 1 AND lag 2 of
    event_type in the same pass. Temporal contract: untimed or untyped
    events are no path step."""
    from imp_etl_spark.operators.window import lag_dispatch

    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    s = lag_dispatch(
        ev.select("user_id", "ts", "event_id", "event_type"),
        ["user_id"], ["ts", "event_id"],
        lags=[("event_type", "p1", 1), ("event_type", "p2", 2)],
    ).filter(F.col("p2").isNotNull())
    return (
        s.select(F.concat_ws(">", "p2", "p1", "event_type").alias("path"))
        .groupBy("path").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("path").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Sweep-line peak concurrency (distributed prefix sum)
# ---------------------------------------------------------------------------

@register("peak_click_concurrency", """
WITH c AS (
  SELECT user_id, ts, event_type, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
  WHERE ts IS NOT NULL
),
iv AS (
  SELECT user_id, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to,
         event_type AS state
  FROM c WHERE prev IS DISTINCT FROM event_type
),
b AS (
  SELECT valid_from AS ts, 1 AS delta FROM iv
  WHERE state = 'click' AND valid_to IS NOT NULL
  UNION ALL
  SELECT valid_to, -1 FROM iv
  WHERE state = 'click' AND valid_to IS NOT NULL
),
g AS (SELECT ts, delta, sum(delta) AS net FROM b GROUP BY ts, delta),
r AS (
  SELECT ts, CAST(SUM(net) OVER (ORDER BY ts, delta) AS BIGINT) AS conc
  FROM g
)
SELECT CAST(ts AS DATE) AS day, CAST(max(conc) AS BIGINT) AS peak
FROM r GROUP BY 1
""")
def peak_click_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak number of users simultaneously in a 'click' state
    (intervals from the SCD2 build; classic sweep-line: +1/-1 boundary
    deltas, running sum, max per day). The running sum is the
    DISTRIBUTED prefix_sum operator — range partition + per-partition
    cumsum + offsets, never an empty-partitionBy window. Ends sort
    before starts at equal ts (delta asc), mirrored in the oracle."""
    from imp_etl_spark.operators.window import prefix_sum

    ev = read_table(spark, sf_dir, "events")
    iv = behavior.state_intervals(ev).filter(
        (F.col("state") == "click") & F.col("valid_to").isNotNull())
    b = iv.select(F.col("valid_from").alias("ts"),
                  F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("valid_to").alias("ts"),
                  F.lit(-1).alias("delta")))
    g = b.groupBy("ts", "delta").agg(F.sum("delta").alias("net"))
    r = prefix_sum(g, ["ts", "delta"], "net", out_col="conc")
    return (
        r.groupBy(F.to_date("ts").alias("day"))
        .agg(F.max("conc").alias("peak"))
    )


# ---------------------------------------------------------------------------
# Exact-integer EWMA: half-life-decayed per-user engagement. Decay
# weights are powers of two over whole-day ages, so numerator and
# denominator are EXACT integer sums in both engines (the same trick as
# agg_stats_moments' micro-unit moments).
# ---------------------------------------------------------------------------


@register("ewma_user_value", """
WITH m AS (SELECT CAST(max(ts) AS DATE) AS md FROM events),
e AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS y,
         date_diff('day', CAST(ts AS DATE), md) AS age
  FROM events, m
  WHERE value IS NOT NULL AND ts IS NOT NULL
),
w AS (
  SELECT user_id, CAST(y AS HUGEINT) AS y,
         CAST(CAST(1 AS BIGINT) << (29 - age) AS HUGEINT) AS wt
  FROM e WHERE age BETWEEN 0 AND 29
)
SELECT user_id,
       CAST(SUM(y * wt) AS DOUBLE) AS num_milli_scaled,
       CAST(SUM(wt) AS BIGINT) AS weight_sum,
       CAST(SUM(y * wt) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE) / 1000.0
         AS ewma_value
FROM w GROUP BY user_id
""")
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event value with a 1-day half-life over the
    trailing 30 days: weight = 2^-(age_days), scaled by 2^29 so every
    weight is an exact BIGINT and the weighted sum is exact integer
    arithmetic end-to-end (value quantized to milli-units via the
    pinned double->DECIMAL cast, tests/test_quantize.py). The weighted
    sums accumulate as DECIMAL(38,0)/HUGEINT — every product in
    38-digit arithmetic, never a 64-bit lane — and surface through
    correctly-rounded decimal->double conversions (bit-equal across
    engines at every in-domain magnitude).

    Scale shape: the reference date is a 1-row broadcast (no window),
    weights are row-local bit shifts, and the single shuffle carries
    (user_id, partial decimal sums) — map-side combine absorbs
    everything. This bounded-horizon day-weighted form needs NO
    sequential scan; the genuinely recursive per-event EWMA
    (s_i = a*x_i + (1-a)*s_{i-1}, unbounded lookback) lives in
    operators/recurrence.py ewma_scan — the round-9 rescaled-scan
    machinery (chunked renormalized prefix sums + compressed carry
    chain; skew point in SCALING.md) that closed the last
    designated-but-unbuilt watch-table row.
    """
    ev = read_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("md"))
    age = F.datediff(F.col("md"), F.to_date("ts"))
    d38 = "decimal(38,0)"
    e = (ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull())
         .crossJoin(F.broadcast(mx))
         .select("user_id",
                 (F.col("value").cast("decimal(18,3)") * 1000
                  ).cast("bigint").alias("y"),
                 age.alias("age"))
         .where((F.col("age") >= 0) & (F.col("age") <= 29))
         .select("user_id", "y",
                 F.expr("shiftleft(cast(1 as bigint), 29 - age)")
                 .alias("wt")))
    return (
        e.groupBy("user_id")
        .agg(F.sum(F.col("y").cast(d38) * F.col("wt").cast(d38))
             .alias("__num"),
             F.sum("wt").alias("weight_sum"))
        .select("user_id",
                F.col("__num").cast("double").alias("num_milli_scaled"),
                "weight_sum",
                (F.col("__num").cast("double")
                 / F.col("weight_sum").cast("double") / F.lit(1000.0)
                 ).alias("ewma_value"))
    )


@register("ewma_unbounded_user", """
WITH e AS (
  SELECT user_id, CAST(value AS DOUBLE) AS x, ts, event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
l AS (
  SELECT user_id, list(x ORDER BY ts, event_id) AS xs
  FROM e GROUP BY user_id
)
SELECT user_id,
       len(xs) AS n_events,
       list_reduce(xs, (acc, x) -> 0.125 * x + 0.875 * acc)
         AS ewma_final
FROM l
""")
def ewma_unbounded_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final UNBOUNDED recursive EWMA per user (s_1 = x_1; s_i =
    0.125*x_i + 0.875*s_{i-1} over the full event history) — the
    production consumer of the round-9 rescaled-scan machinery
    (operators/recurrence.py ewma_scan; VERDICT r9 item 4). The
    oracle replays the recursion as DuckDB's sequential
    ``list_reduce`` fold (the first list element seeds the
    accumulator, matching s_1 = x_1).

    Float contract — BIT-EXACT by construction, not by rounding: this
    consumer pins ``chunk_size=1``, where ewma_scan's carry chain
    performs literally the fold's IEEE operation sequence — term =
    0.125*x (a power-of-two multiply, EXACT), then per element one
    rounded multiply (carry*0.875) and one rounded add, no FMA on any
    engine (Spark codegen'd Java, the chain's Python/numpy floats,
    DuckDB's vectorized mult-then-add) — so the unrounded double
    hashes identically cross-engine (verified over adversarial
    fuzzer-magnitude values). History: the first registration rounded
    a chunk_size=64 scan to a 1e-3 absolute grid; fuzz seed 713
    found a value within scan-error of a grid boundary within 15
    seed-runs (61914.4825) — ANY rounded reassociated float
    eventually straddles its grid, so the oracle had to become exact
    instead.

    Scale split, stated honestly: chunk_size=1 degenerates the carry
    chain to a per-key sequential fold (one Arrow-batched task per
    key, memory-bounded but O(key) time) — it is the ORACLE-EXACT
    configuration of the machinery, running the full production path
    (distributed rank dispatch, chunk windows, summary aggregation,
    applyInPandas chain, instant-level join-back). The SCALE
    configuration is the same code at default chunking (a 10^8-row
    key becomes 10^8/C bounded window groups + a C-compressed chain),
    pinned to <=1e-12 relative of this exact form and bit-equal
    across rank modes in tests/test_recurrence.py, with the measured
    hot-key point in SCALING.md. Finalization is a single
    map-side-combinable max_by((ts,event_id)) aggregation; n_events
    anchors exactly either way.
    """
    from imp_etl_spark.operators.recurrence import ewma_scan

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
          .select("user_id", "ts", "event_id",
                  F.col("value").cast("double").alias("x")))
    s = ewma_scan(ev, ["user_id"], ["ts", "event_id"], "x", 0.125,
                  chunk_size=1)
    return (s.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.expr("max_by(ewma, struct(ts, event_id))")
                 .alias("__f"))
            .select("user_id", "n_events",
                    F.col("__f").alias("ewma_final")))


@register("ewma_unbounded_scale", None)
def ewma_unbounded_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final unbounded EWMA per user at the machinery's DEFAULT (scale)
    chunking — the configuration a 100x deployment runs (VERDICT r10
    item 1: the driver/bench-exposed entry must be the plan users
    would run at scale, not the chunk=1 oracle pin). At default
    chunking (C = 2595 for alpha = 0.125) a 10^8-row key is 10^8/C
    independent bounded window groups plus a C-compressed Arrow carry
    chain — no O(key-history) single task anywhere.

    Registered ROWS-ONLY, with the float justification on record: any
    reassociated parallel scan differs from the sequential fold in
    final ulps, and fuzz seed 713 proved every rounding grid unsound
    (a value eventually lands within scan-error of a grid boundary),
    so the ewma_final column has no DuckDB-exact oracle. Its value
    correctness is pinned two ways instead: tests/test_recurrence.py
    (<= 1e-11 of the one-chunk form across chunk sizes and partition
    counts; rank modes bit-equal) and the oracle-backed sibling
    `ewma_scale_vs_exact`, whose ROW COUNT enforces per-user 1e-9
    relative agreement of THIS configuration against the bit-exact
    chunk=1 form the driver hash-checks via `ewma_unbounded_user`.

    Plan shape: final-state consumers go through
    :func:`~imp_etl_spark.operators.recurrence.ewma_final` — the
    terminal chain carry IS s_N, so the whole answer falls out of the
    chunk summaries in ONE pass (no per-row join-back, no full-frame
    final aggregation).
    """
    from imp_etl_spark.operators.recurrence import ewma_final

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
          .select("user_id", "ts", "event_id",
                  F.col("value").cast("double").alias("x")))
    return ewma_final(ev, ["user_id"], ["ts", "event_id"], "x", 0.125)


@register("ewma_scale_vs_exact", """
WITH e AS (
  SELECT user_id FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
)
SELECT user_id, count(*) AS n_events FROM e GROUP BY user_id
""")
def ewma_scale_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance anchor for the scale configuration (VERDICT r10 item
    1): runs ewma_scan BOTH at default chunking (the scale plan of
    `ewma_unbounded_scale`) and at chunk_size=1 (the bit-exact fold
    the driver hash-checks via `ewma_unbounded_user`), and emits a
    user's row ONLY when the two finals agree to 1e-9 relative
    (|a-b| <= 1e-9 * max(1, |exact|); exact equality and NaN==NaN
    also pass). The oracle is the plain per-user event count — so the
    driver's ROW-COUNT comparison is the tolerance gate (any
    out-of-tolerance user drops a row and the entry goes red), and
    the value hash pins the per-user counts exactly. This is how a
    float-reassociating configuration gets a hard driver row without
    an unsound rounding grid (fuzz seed 713).

    NULL user_id is a real group (null-safe join) — the fuzz-501
    class.
    """
    from imp_etl_spark.operators.recurrence import ewma_final

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
          .select("user_id", "ts", "event_id",
                  F.col("value").cast("double").alias("x")))

    fs = ewma_final(ev, ["user_id"], ["ts", "event_id"], "x",
                    0.125).select(
        F.col("user_id").alias("__u1"), "n_events",
        F.col("ewma_final").alias("__f1"))
    fe = ewma_final(ev, ["user_id"], ["ts", "event_id"], "x",
                    0.125, chunk_size=1).select(
        F.col("user_id").alias("__u2"),
        F.col("ewma_final").alias("__f2"))
    j = fs.join(fe, F.col("__u1").eqNullSafe(F.col("__u2")))
    ok = (F.col("__f1").eqNullSafe(F.col("__f2"))
          | (F.abs(F.col("__f1") - F.col("__f2"))
             <= F.lit(1e-9) * F.greatest(F.lit(1.0),
                                         F.abs(F.col("__f2"))))
          | (F.isnan(F.col("__f1")) & F.isnan(F.col("__f2"))))
    return j.where(ok).select(F.col("__u1").alias("user_id"),
                              "n_events")


@register("hll_distinct_users_daily", """
WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events)
SELECT day, COUNT(DISTINCT user_id) AS n_users_exact
FROM e GROUP BY day
""")
def hll_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (r11): per-day distinct users
    via Apache DataSketches HLL, built as TWO disjoint shard sketches
    and merged with ``hll_union_agg`` — the 100 TB pattern where each
    ingest batch sketches once (one map-side-combining pass, 16 KiB
    per group) and every rollup is a union over sketch rows instead of
    a COUNT(DISTINCT) re-scan of raw history.

    Oracle gate (the ewma_scale_vs_exact row-count technique): a day's
    row is emitted ONLY when the merged-sketch estimate is within
    max(4, 5%) of the exact distinct count, and the emitted value IS
    the exact count — so the driver's row-count comparison enforces
    the sketch's accuracy contract (lg_k=14 ~= 0.81% RSE; 5% is ~6
    sigma, never tripped by a healthy sketch) while the value hash
    stays exactly checkable. NULL days are real groups; NULL users are
    ignored on both engines (COUNT DISTINCT semantics)."""
    from imp_etl_spark.operators.agg import (
        sharded_distinct_sketch,
        union_distinct_estimate,
    )

    ev = (read_table(spark, sf_dir, "events")
          .select(F.to_date("ts").alias("day"), "user_id", "event_id"))
    sk = sharded_distinct_sketch(ev, ["day"], "user_id",
                                 shard=F.col("event_id") % 2)
    est = union_distinct_estimate(sk, ["day"])
    exact = ev.groupBy("day").agg(
        F.count_distinct("user_id").alias("n_users_exact"))
    j = est.join(exact.withColumnRenamed("day", "__d"),
                 F.col("day").eqNullSafe(F.col("__d")))
    ok = (F.abs(F.col("n_est") - F.col("n_users_exact"))
          <= F.greatest(F.lit(4.0),
                        F.col("n_users_exact") * F.lit(0.05)))
    return j.where(ok).select("day", "n_users_exact")


#: hll_user_overlap_halves' sketch-frame persist crossover (r13): the
#: sketch rebuild the persist saves is a cheap map-side-combined agg,
#: so the crossover sits far above the operator default — the row
#: measured 0.71x at sf0.1's 100k events with the persist
#: unconditional, and the fused 3-evaluation plan wins until the event
#: scan itself dominates.
SKETCH_PERSIST_MIN_SOURCE_ROWS = 1_048_576


@register("hll_user_overlap_halves", """
WITH e AS (
  SELECT event_type, user_id, CAST(ts AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
h1 AS (SELECT DISTINCT event_type, user_id FROM e WHERE day(d) <= 15),
h2 AS (SELECT DISTINCT event_type, user_id FROM e WHERE day(d) > 15),
both_types AS (
  SELECT event_type FROM h1 INTERSECT SELECT event_type FROM h2
),
ov AS (
  SELECT h1.event_type AS et, COUNT(*) AS n
  FROM h1 JOIN h2
    ON h1.event_type IS NOT DISTINCT FROM h2.event_type
   AND h1.user_id = h2.user_id
  GROUP BY h1.event_type
)
SELECT bt.event_type, COALESCE(ov.n, 0) AS n_overlap
FROM both_types bt
LEFT JOIN ov ON bt.event_type IS NOT DISTINCT FROM ov.et
""")
def hll_user_overlap_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set-algebra (r11): per event type, the estimated overlap of
    first-half-of-month vs second-half user sets via sketch
    inclusion-exclusion (operators/agg.py overlap_estimate) — the
    contamination/cross-corpus screening shape at 100 TB, where both
    sides stay 16 KiB-per-group sketch tables and the intersection
    needs no join of the raw user domains.

    Oracle gate (the row-count technique): a type's row is emitted
    only when the sketch overlap estimate is within max(8, 10% of the
    UNION estimate) of the exact intersection — the honest bound for
    a difference of estimates, whose absolute error scales with the
    union, not the overlap — and the emitted value is the EXACT
    count, so the value hash stays exactly checkable. Only types
    active in both halves appear (both engines agree via INTERSECT /
    the sketch frames' inner null-safe join); NULL event_type is a
    real group; NULL users are excluded on both engines."""
    from imp_etl_spark.operators.agg import (
        overlap_estimate,
        sharded_distinct_sketch,
    )

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
          .select("event_type", "user_id",
                  F.dayofmonth("ts").alias("__dom")))
    h1 = ev.where(F.col("__dom") <= 15)
    h2 = ev.where(F.col("__dom") > 15)
    # ONE pass builds both halves' sketches — the half indicator IS
    # the shard key (sharded_distinct_sketch's whole point); the two
    # sides are then row filters over the tiny sketch frame.
    # Persist that frame (r12): overlap_estimate consumes it THREE
    # times (side A, side B, union), and Catalyst pushes each side's
    # __shard filter below the sketch aggregation, so the three
    # subtrees canonicalize differently and exchange reuse never fires
    # — the r11 plan re-scanned events and re-built the sketches 4x
    # (plans/r12/hll_user_overlap_halves_before.txt: 6 parquet scans,
    # 0 ReusedExchange). The persisted frame is one row per
    # (event_type, half) at 16 KiB per sketch — exactly the persisted
    # "sketch table" the operator's 100 TB story assumes, gated at
    # SKETCH_PERSIST_MIN_SOURCE_ROWS.
    sk = persist_if_big(
        sharded_distinct_sketch(
            ev, ["event_type"], "user_id", shard=F.col("__dom") <= 15),
        ev, SKETCH_PERSIST_MIN_SOURCE_ROWS)
    sk1 = sk.where(F.col("__shard")).drop("__shard")
    sk2 = sk.where(~F.col("__shard")).drop("__shard")
    est = overlap_estimate(sk1, sk2, ["event_type"])
    exact = (h1.select("event_type", "user_id").distinct()
             .join(h2.select(F.col("event_type").alias("__t2"),
                             F.col("user_id").alias("__u2")).distinct(),
                   F.col("event_type").eqNullSafe(F.col("__t2"))
                   & (F.col("user_id") == F.col("__u2")))
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("__n")))
    # broadcast the per-type exact counts (one row per event type):
    # post-aggregation size estimates are unknown to the static
    # planner, which picked a SortMergeJoin for this tiny gate join
    # in the r11 plan (plans/r12/hll_user_overlap_halves_before.txt)
    j = est.join(F.broadcast(exact.withColumnRenamed(
                     "event_type", "__te")),
                 F.col("event_type").eqNullSafe(F.col("__te")), "left")
    n_overlap = F.coalesce(F.col("__n"), F.lit(0)).alias("n_overlap")
    ok = (F.abs(F.col("overlap_est") - F.coalesce(F.col("__n"), F.lit(0)))
          <= F.greatest(F.lit(8.0), F.col("union_est") * F.lit(0.1)))
    return j.where(ok).select("event_type", n_overlap)


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: partial aggs of a base snapshot and
# a delta batch merged WITHOUT touching base rows again; the oracle is
# the full recompute — merged == recomputed is the whole point.
# ---------------------------------------------------------------------------


@register("incremental_agg_merge", """
SELECT o_custkey,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price,
       min(o_orderdate) AS first_order,
       max(o_orderdate) AS last_order
FROM orders GROUP BY o_custkey
""")
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for per-customer order stats:
    count/sum/min/max are commutative monoids, so partials from the
    base snapshot (o_orderdate < 1998) and the delta batch (>= 1998)
    merge by add/least/greatest on a full-outer key join — the oracle
    recomputes from scratch and must agree exactly (decimal sums).

    Scale shape: at 100 TB the base partials are a stored table that is
    never rescanned; each arriving delta shuffles only its own partials
    (|delta| rows in, |affected keys| out) and the merge join is
    key-partitioned. This query demonstrates the merge path by
    splitting the fixture on a date pivot.
    """
    orders = read_table(spark, sf_dir, "orders")
    pivot = F.lit("1998-01-01").cast("timestamp")

    def partial(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")
                  ).alias(f"s_{tag}"),
            F.min("o_orderdate").alias(f"mn_{tag}"),
            F.max("o_orderdate").alias(f"mx_{tag}"))

    # the split must PARTITION the table: a NULL date satisfies neither
    # inequality and would silently vanish from the maintained view
    # while a full recompute counts it — route undated rows to base
    base = partial(orders.where((F.col("o_orderdate") < pivot)
                                | F.col("o_orderdate").isNull()), "b")
    delta = partial(orders.where(F.col("o_orderdate") >= pivot), "d")
    zero_n = F.lit(0).cast("bigint")
    zero_s = F.lit(0).cast("decimal(28,2)")
    merged = base.join(delta, "o_custkey", "full_outer")
    # SUM's monoid identity is NULL, not 0: a key whose prices are all
    # NULL recomputes to SUM = NULL, so the merged sum is NULL unless at
    # least one side saw a real value (coalescing both sides to 0 would
    # invent a 0.0 the recompute never produces)
    merged_sum = F.when(
        F.col("s_b").isNull() & F.col("s_d").isNull(),
        F.lit(None).cast("decimal(28,2)"),
    ).otherwise(F.coalesce(F.col("s_b"), zero_s)
                + F.coalesce(F.col("s_d"), zero_s))
    return merged.select(
        "o_custkey",
        (F.coalesce(F.col("n_b"), zero_n)
         + F.coalesce(F.col("n_d"), zero_n)).alias("n_orders"),
        merged_sum.cast("double").alias("sum_price"),
        F.least(F.col("mn_b"), F.col("mn_d")).alias("first_order"),
        F.greatest(F.col("mx_b"), F.col("mx_d")).alias("last_order"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout audit: interleave (user bits, minute bits)
# into one clustering key, cut it into 64 contiguous buckets, and report
# per-bucket locality — the data-layout primitive behind multi-column
# file skipping.
# ---------------------------------------------------------------------------


def _morton_terms(ux: str, tm: str, bits: int, shift_fmt, and_fmt) -> str:
    terms = []
    for b in range(bits):
        terms.append(shift_fmt(and_fmt(ux, b), 2 * b))
        terms.append(shift_fmt(and_fmt(tm, b), 2 * b + 1))
    return " + ".join(terms)


def _morton_sql(ux: str, tm: str, bits: int = 10) -> str:
    return _morton_terms(
        ux, tm, bits,
        lambda e, k: f"({e} << {k})",
        lambda c, b: f"((({c}) >> {b}) & 1)")


def _morton_spark(ux: str, tm: str, bits: int = 10) -> str:
    return _morton_terms(
        ux, tm, bits,
        lambda e, k: f"shiftleft({e}, {k})",
        lambda c, b: f"(shiftright(({c}), {b}) & 1)")


@register("zorder_events_layout", f"""
WITH d AS (
  SELECT event_id, user_id % 1024 AS ux,
         (epoch_us(ts) // 60000000) % 1024 AS tm
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
z AS (
  SELECT event_id, ux, tm,
         {_morton_sql('ux', 'tm')} AS morton
  FROM d
),
b AS (
  SELECT ux, tm, morton,
         ntile(64) OVER (ORDER BY morton, event_id) AS bucket
  FROM z
)
SELECT bucket,
       count(*) AS n_events,
       CAST(min(ux) AS BIGINT) AS ux_min, CAST(max(ux) AS BIGINT) AS ux_max,
       CAST(min(tm) AS BIGINT) AS tm_min, CAST(max(tm) AS BIGINT) AS tm_max,
       CAST(min(morton) AS BIGINT) AS z_min,
       CAST(max(morton) AS BIGINT) AS z_max
FROM b GROUP BY bucket
""")
def zorder_events_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering audit: interleave the low 10 bits of
    user_id and of the event minute into a 20-bit Z key, cut the corpus
    into 64 contiguous Z ranges, and report each range's (user, time)
    bounding box — tight boxes are exactly what makes parquet min/max
    stats skip files for BOTH `user_id = ?` and time-range predicates.

    Scale shape: the Z key is row-local bit math; production layout is
    `repartitionByRange(morton)` + sortWithinPartitions before the
    write, so the "bucket" is a physical file and this query is its
    audit. ntile over a global order stands in for the range
    partitioner's sampled boundaries to keep the oracle exact — the
    audit itself would run per-file from parquet footers, not via a
    global window. Rows missing the user or the timestamp have no Z
    key (and a NULL morton would land at an engine-dependent end of
    the ntile order) — excluded on both sides.
    """
    ev = read_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    d = ev.select(
        "event_id",
        (F.col("user_id") % 1024).alias("ux"),
        ((F.unix_micros(F.col("ts").cast("timestamp"))
          / F.lit(60000000)).cast("bigint") % 1024).alias("tm"))
    z = d.withColumn("morton", F.expr(_morton_spark("ux", "tm")))
    b = z.withColumn(
        "bucket",
        F.ntile(64).over(Window.orderBy("morton", "event_id")))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ux").alias("ux_min"), F.max("ux").alias("ux_max"),
        F.min("tm").alias("tm_min"), F.max("tm").alias("tm_max"),
        F.min("morton").alias("z_min"), F.max("morton").alias("z_max"),
    )


# ---------------------------------------------------------------------------
# Join-key skew profile: the pre-join diagnosis that decides whether a
# key needs salting / AQE skew handling before a 100 TB shuffle.
# ---------------------------------------------------------------------------


@register("skew_profile_orders_custkey", """
WITH c AS (
  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey
),
r AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt, o_custkey) AS rn,
         count(*) OVER () AS n_keys,
         sum(cnt) OVER () AS n_rows
  FROM c
)
SELECT CAST(max(n_keys) AS BIGINT) AS n_keys,
       CAST(max(n_rows) AS BIGINT) AS n_rows,
       CAST(min(cnt) AS BIGINT) AS min_mult,
       CAST(max(cnt) AS BIGINT) AS max_mult,
       CAST(max(CASE WHEN rn = CAST(ceil(n_keys * 0.5) AS BIGINT)
                     THEN cnt END) AS BIGINT) AS p50_mult,
       CAST(max(CASE WHEN rn = CAST(ceil(n_keys * 0.99) AS BIGINT)
                     THEN cnt END) AS BIGINT) AS p99_mult,
       CAST(max(n_rows) AS DOUBLE) / CAST(max(n_keys) AS DOUBLE)
         AS mean_mult,
       CAST(max(cnt) AS DOUBLE)
         / (CAST(max(n_rows) AS DOUBLE) / CAST(max(n_keys) AS DOUBLE))
         AS skew_ratio
FROM r
""")
def skew_profile_orders_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity profile of orders.o_custkey — the diagnosis that
    feeds the salting decision (operators/skew.py): key count, row
    count, min/max/p50/p99 per-key multiplicity, and the skew ratio
    (max multiplicity over mean). skew_ratio >> 1 at a large p99 gap
    means AQE skew-join splitting or salting before shuffling on this
    key.

    Scale shape: per-key counts are one map-side-combined exchange over
    8-byte keys; the discrete percentiles rank |keys| << |rows| rows
    via the DISTRIBUTED global index (operators/window.global_index —
    range partition + per-partition offsets, no single-task sort); the
    totals ride a 1-row broadcast. The sortkey packs (cnt, custkey)
    into one monotone BIGINT (exact while custkey < 1e7 — fixture-safe;
    widen the factor with the key domain).
    """
    from imp_etl_spark.operators.window import global_index

    orders = read_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt"))
    sk = counts.withColumn(
        "sortkey", F.col("cnt") * F.lit(10_000_000) + F.col("o_custkey"))
    idx = global_index(sk, "sortkey", "rn")
    tot = idx.agg(F.count(F.lit(1)).alias("n_keys"),
                  F.sum("cnt").alias("n_rows"))
    j = idx.crossJoin(F.broadcast(tot))

    def pick(p: float, name: str):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.col("n_keys") * F.lit(p))
                   .cast("bigint"), F.col("cnt"))).alias(name)

    mean = (F.max("n_rows").cast("double")
            / F.max("n_keys").cast("double"))
    return j.agg(
        F.max("n_keys").alias("n_keys"),
        F.max("n_rows").alias("n_rows"),
        F.min("cnt").alias("min_mult"),
        F.max("cnt").alias("max_mult"),
        pick(0.5, "p50_mult"),
        pick(0.99, "p99_mult"),
    ).select(
        "n_keys", "n_rows", "min_mult", "max_mult", "p50_mult",
        "p99_mult",
        (F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
         ).alias("mean_mult"),
        (F.col("max_mult").cast("double")
         / (F.col("n_rows").cast("double")
            / F.col("n_keys").cast("double"))).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# Seasonal anomaly screening: per (event_type, hour-of-day) baselines
# trained on the first half of the month, scored on the second half —
# the monitoring pattern, with the same exact-integer z machinery as
# outlier_events_zscore.
# ---------------------------------------------------------------------------


@register("seasonal_anomaly_events", """
WITH q AS (
  SELECT event_id, event_type,
         CAST(extract(hour FROM ts) AS INT) AS hod, value, ts,
         CAST(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,2)) * 100
              AS HUGEINT) AS v
  FROM events
  WHERE value IS NOT NULL
),
m AS (
  SELECT event_type, hod, CAST(count(*) AS HUGEINT) AS n,
         sum(v) AS s1, sum(v * v) AS s2
  FROM q WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1, 2
)
SELECT q.event_id, q.event_type, q.hod, q.value,
       CAST(q.v * m.n - m.s1 AS DOUBLE) /
       sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE))
         AS zscore
FROM q JOIN m USING (event_type, hod)
WHERE q.ts >= TIMESTAMP '2024-01-16'
  AND (m.n * m.s2 - m.s1 * m.s1) > 0
  AND (q.v * m.n - m.s1) * (q.v * m.n - m.s1)
      > 9 * (m.n * m.s2 - m.s1 * m.s1)
""")
def seasonal_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the back half of the month against per-(type, hour-of-day)
    baselines learned from the front half: an event is anomalous when
    its value sits >3 population-sigmas from what that type does at
    that hour. The temporal split is what makes it monitoring rather
    than retrospective screening — baselines never see scored data.

    Scale shape (operators/quality.zscore_outliers with a composite
    group and a score_df): moments are ONE map-side-combined hash
    aggregation over the training scan (|types| x 24 output rows),
    broadcast onto the scoring scan; membership is the exact integer
    predicate, z is the pinned 3-IEEE-op chain, and the date split
    pushes into both parquet scans.
    """
    from imp_etl_spark.operators.quality import zscore_outliers

    ev = read_table(spark, sf_dir, "events").withColumn(
        "hod", F.hour(F.col("ts")))
    split = F.lit("2024-01-16").cast("timestamp_ntz")
    out = zscore_outliers(
        ev.where(F.col("ts") < split), ["event_type", "hod"], "value",
        threshold=3, score_df=ev.where(F.col("ts") >= split))
    return out.select("event_id", "event_type", "hod", "value", "zscore")


# ---------------------------------------------------------------------------
# RFM segmentation: recency/frequency/monetary quintile bins per
# customer, segment rollup. Bins come from DISTRIBUTED global ranks
# (never an empty-partitionBy window), bin = 1 + (rn-1)*5 // n.
# ---------------------------------------------------------------------------


@register("rfm_customer_segments", """
WITH g AS (SELECT CAST(max(o_orderdate) AS DATE) AS gmax FROM orders),
c AS (
  SELECT o_custkey,
         date_diff('day', CAST(max(o_orderdate) AS DATE), g.gmax)
           AS recency_days,
         count(*) AS frequency,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders, g GROUP BY o_custkey, g.gmax
),
n AS (SELECT count(*) AS n FROM c),
r AS (SELECT o_custkey, row_number() OVER (ORDER BY recency_days
             NULLS FIRST, o_custkey) AS rn FROM c),
f AS (SELECT o_custkey, row_number() OVER (ORDER BY frequency
             NULLS FIRST, o_custkey) AS rn FROM c),
m AS (SELECT o_custkey, row_number() OVER (ORDER BY monetary_cents
             NULLS FIRST, o_custkey) AS rn FROM c)
SELECT CAST(1 + (r.rn - 1) * 5 // n.n AS BIGINT) AS r_bin,
       CAST(1 + (f.rn - 1) * 5 // n.n AS BIGINT) AS f_bin,
       CAST(1 + (m.rn - 1) * 5 // n.n AS BIGINT) AS m_bin,
       count(*) AS customers,
       CAST(SUM(c.monetary_cents) AS BIGINT) AS segment_cents
FROM c
JOIN r USING (o_custkey) JOIN f USING (o_custkey)
JOIN m USING (o_custkey), n
GROUP BY 1, 2, 3
""")
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/frequency/monetary quintile segmentation (bin 1 =
    smallest metric value; ties broken by customer key) rolled up to
    segment counts and value — the classic entity-scoring shape.

    Scale shape: per-customer metrics are one map-side-combined
    exchange (monetary accumulates as exact integer cents); each
    metric's rank comes from the DISTRIBUTED global index
    (operators/window.global_index — range partition + offsets, no
    single-task window; the oracle's row_number mirrors it exactly
    because the packed sortkey is unique); bins are row-local integer
    math against a 1-row broadcast count; the three rank frames rejoin
    on the customer key and the final rollup is <=125 groups.
    """
    from imp_etl_spark.operators.window import global_index

    orders = read_table(spark, sf_dir, "orders")
    gmax = orders.agg(F.max(F.to_date("o_orderdate")).alias("gmax"))
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100
             ).cast("bigint")
    c = (orders.crossJoin(F.broadcast(gmax))
         .groupBy("o_custkey")
         .agg(F.datediff(F.first("gmax"),
                         F.max(F.to_date("o_orderdate")))
              .alias("recency_days"),
              F.count(F.lit(1)).alias("frequency"),
              # DECIMAL(38,0) accumulate, final cast to long — the
              # oracle SUMs these per-row bigint cents in HUGEINT and
              # casts only the total; Spark's ANSI long SUM would
              # instead abort when a 1e11-cent/row bot customer's
              # PARTIAL crosses int64 (the r9 calibration-overflow
              # class)
              F.sum(cents.cast("decimal(38,0)")).cast("long")
              .alias("monetary_cents")))
    c = persist(c, StorageLevel.MEMORY_AND_DISK_DESER)
    n = c.agg(F.count(F.lit(1)).alias("n"))

    def rank_bin(metric: str, out: str) -> DataFrame:
        # NULL metric (a customer with no dated orders / no priced
        # orders) ranks LOWEST with the custkey tiebreak intact — the
        # sentinel keeps the packed key non-null so the rank inside the
        # unknown block stays deterministic (a NULL sortkey would sort
        # first but tie arbitrarily). Packing runs in DECIMAL(38,0):
        # any bigint metric times the 1e10 custkey stride tops out near
        # 9.2e28 << 1e38, so no value wraps; the sentinel sits one
        # below long-min so even a metric of exactly LONG_MIN stays
        # strictly above every NULL. Custkey headroom is 1e10
        # (TPC-H SF 66k); beyond that raise the stride — decimal has
        # 9 more orders of magnitude to give.
        sentinel = F.lit("-9223372036854775809").cast("decimal(38,0)")
        packed = c.select(
            "o_custkey",
            (F.coalesce(F.col(metric).cast("decimal(38,0)"), sentinel)
             * F.lit(10_000_000_000)
             + F.col("o_custkey")).alias("__sk"))
        idx = global_index(packed, "__sk", "rn", unique_order=True)
        return (idx.crossJoin(F.broadcast(n))
                .select("o_custkey",
                        F.expr("1 + ((rn - 1) * 5) div n")
                        .cast("bigint").alias(out)))

    r = rank_bin("recency_days", "r_bin")
    f = rank_bin("frequency", "f_bin")
    m = rank_bin("monetary_cents", "m_bin")
    return (
        c.join(r, "o_custkey").join(f, "o_custkey").join(m, "o_custkey")
        .groupBy("r_bin", "f_bin", "m_bin")
        .agg(F.count(F.lit(1)).alias("customers"),
             # same wide-accumulate contract as monetary_cents above
             F.sum(F.col("monetary_cents").cast("decimal(38,0)"))
             .cast("long").alias("segment_cents"))
    )


# ---------------------------------------------------------------------------
# DAU / WAU / stickiness: the standard engagement rollup, with the
# trailing-7-day distinct count computed by CONTRIBUTION EXPLODE (each
# active (day, user) feeds the 7 grid days it counts toward) — an
# equi-shaped shuffle instead of a range join.
# ---------------------------------------------------------------------------


@register("events_dau_wau", """
WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
g AS (SELECT DISTINCT day FROM d),
contrib AS (
  SELECT DISTINCT
         CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                     CAST(day AS TIMESTAMP)
                                       + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS grid_day,
         user_id
  FROM d
),
wau AS (
  SELECT c.grid_day AS day, count(DISTINCT c.user_id) AS wau
  FROM contrib c JOIN g ON g.day = c.grid_day
  GROUP BY c.grid_day
),
dau AS (SELECT day, count(*) AS dau FROM d GROUP BY day)
SELECT day, dau, wau, CAST(dau AS DOUBLE) / wau AS stickiness
FROM dau JOIN wau USING (day)
""")
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day weekly active users, and the
    DAU/WAU stickiness ratio, for every day with events.

    Scale shape: the trailing-distinct count uses contribution
    explode — each distinct (day, user) emits the 7 grid days it
    counts toward, so WAU is a plain hash aggregation on an 8-byte
    (day, user) key after a bounded 7x fan-out, NOT a range join
    (the range-join formulation plans a nested-loop probe per day and
    recounts each user's rows up to 7x; the explode dedups first, so
    fan-out is 7 x |distinct day-user|, independent of event volume).
    The day grid membership check is a broadcast semi join on <=|days|
    rows.
    """
    ev = read_table(spark, sf_dir, "events")
    d = persist(ev.select(F.to_date("ts").alias("day"), "user_id")
                .distinct(), StorageLevel.MEMORY_AND_DISK_DESER)
    g = d.select("day").distinct()
    contrib = (
        d.select(
            F.explode(F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6))).alias("grid_day"),
            "user_id")
        .distinct()
        .join(F.broadcast(g), F.col("grid_day") == F.col("day"), "left_semi"))
    wau = (contrib.groupBy(F.col("grid_day").alias("day"))
           .agg(F.count_distinct("user_id").alias("wau")))
    dau = d.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, "day")
        .select("day", "dau", "wau",
                # try_divide: a day active only through NULL users has
                # dau >= 1 but count_distinct-skips-nulls wau = 0 —
                # stickiness undefined (DuckDB's x/0), not a job abort
                F.try_divide(F.col("dau").cast("double"), F.col("wau"))
                .alias("stickiness"))
    )


# ---------------------------------------------------------------------------
# Market-basket affinity: part pairs co-purchased in one order, with
# support / confidence / lift. Pair fan-out is bounded by basket size.
# ---------------------------------------------------------------------------


@register("basket_part_pairs_lift", """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM d),
pc AS (SELECT l_partkey, count(*) AS part_orders FROM d GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS pair_orders
  FROM d a JOIN d b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, pair_orders,
       CAST(pair_orders AS DOUBLE) / n.n_orders AS support,
       CAST(pair_orders AS DOUBLE) / ca.part_orders AS confidence,
       CAST(pair_orders * n.n_orders AS DOUBLE)
         / CAST(ca.part_orders * cb.part_orders AS DOUBLE) AS lift
FROM pairs
JOIN pc ca ON ca.l_partkey = part_a
JOIN pc cb ON cb.l_partkey = part_b, n
WHERE pair_orders >= 3
ORDER BY lift DESC, part_a, part_b
LIMIT 50
""")
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-purchased part pairs by lift (support >= 3 orders) —
    the market-basket / recommendation primitive.

    Scale shape: the within-order self-join is bounded by basket size
    (<=7 line items per TPC-H order -> <=21 pairs), so the pair explode
    is a constant fan-out on an equi key, absorbed by map-side partial
    counts before one (part_a, part_b) exchange; the per-part counts
    broadcast back, totals are a 1-row broadcast, and the top-50 is a
    bounded heap. Lift stays deterministic: exact integer counts, one
    IEEE division each.
    """
    d = persist(read_table(spark, sf_dir, "lineitem")
                .select("l_orderkey", "l_partkey").distinct(),
                StorageLevel.MEMORY_AND_DISK_DESER)
    n = d.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    pc = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("part_orders"))
    a = d.alias("a")
    b = d.alias("b")
    pairs = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("part_a"),
                 F.col("b.l_partkey").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .where(F.col("pair_orders") >= 3))
    ca = pc.select(F.col("l_partkey").alias("part_a"),
                   F.col("part_orders").alias("ca"))
    cb = pc.select(F.col("l_partkey").alias("part_b"),
                   F.col("part_orders").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "pair_orders",
            (F.col("pair_orders").cast("double") / F.col("n_orders")
             ).alias("support"),
            (F.col("pair_orders").cast("double") / F.col("ca")
             ).alias("confidence"),
            ((F.col("pair_orders") * F.col("n_orders")).cast("double")
             / (F.col("ca") * F.col("cb")).cast("double")).alias("lift"))
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix: first-order Markov counts +
# probabilities over per-user ordered event sequences.
# ---------------------------------------------------------------------------


@register("event_type_transitions", """
WITH c AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
t AS (
  SELECT prev, event_type AS next, count(*) AS cnt
  FROM c WHERE prev IS NOT NULL GROUP BY 1, 2
)
SELECT prev, next, cnt,
       CAST(cnt AS DOUBLE)
         / sum(cnt) OVER (PARTITION BY prev) AS prob
FROM t
""")
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: counts and per-source-state probabilities — the
    compact companion to top_event_paths' full path mining.

    Scale shape (round 8): the per-user lag runs on the hot-key-immune
    ``seq_lag`` machinery (operators/window.py — range partitioning on
    (user, ts, event_id) + 1-boundary-row exchange with driver-chained
    carry) instead of a ``partitionBy(user_id)`` window, so a single
    bot user's 10^8-event history never serializes through one sort
    task; then the transition counts partial-combine into a
    |types|^2-group exchange and the probability normalizer is a
    window over <=|types|^2 rows. sum(cnt) is exact integer, so prob
    is one IEEE division. Temporal contract: untimed or untyped
    events are no transition. (user_id, ts, event_id) is a unique
    total order because event_id is unique.
    """
    from imp_etl_spark.operators.window import seq_lag

    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    c = seq_lag(ev.select("user_id", "ts", "event_id", "event_type"),
                ["user_id"], ["ts", "event_id"],
                lags={"event_type": "prev"})
    t = (c.where(F.col("prev").isNotNull())
         .groupBy("prev", F.col("event_type").alias("next"))
         .agg(F.count(F.lit(1)).alias("cnt")))
    wn = Window.partitionBy("prev")
    return t.select(
        "prev", "next", "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(wn)
         ).alias("prob"))


@register("stream_incremental_view", """
SELECT o_custkey,
       count(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS value_sum,
       min(o_orderdate) AS first_seen,
       max(o_orderdate) AS last_seen
FROM orders GROUP BY o_custkey
""")
def stream_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized view
    (streaming/incremental_view.py): orders arrive as two file waves;
    each epoch merges its partials into the snapshot sink reading back
    only the touched buckets. The oracle is the one-shot batch
    aggregation — the monoid-merge invariant (partials over any arrival
    split == full recompute) makes the streaming answer exactly
    SQL-expressible, epoch boundaries and all."""
    import shutil
    import tempfile

    from imp_etl_spark.plans.upsert import read_target
    from imp_etl_spark.streaming.incremental_view import (
        run_incremental_view,
    )

    tmp = tempfile.mkdtemp(prefix="inc_view_")
    try:
        src, view, ck = f"{tmp}/src", f"{tmp}/view", f"{tmp}/ck"
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        orders.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderkey") \
            .write.parquet(f"{src}/w1", mode="overwrite")
        stream = spark.readStream.schema(
            "o_custkey BIGINT, o_totalprice DOUBLE, "
            "o_orderdate TIMESTAMP_NTZ"
        ).option("recursiveFileLookup", "true").parquet(src)
        for wave in (1, 2):
            if wave == 2:
                orders.filter(F.col("o_orderkey") % 2 == 1) \
                    .drop("o_orderkey") \
                    .write.parquet(f"{src}/w2", mode="overwrite")
            q = run_incremental_view(spark, stream, view, ["o_custkey"],
                                     "o_totalprice", "o_orderdate", ck)
            # availableNow terminates on its own; False = still running
            # after the grace period, and reading now would return a
            # PARTIAL view as if it were the answer — fail loudly.
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    f"incremental-view wave {wave} did not drain in 300s")
        snap = read_target(spark, view)
        if snap is None:
            # zero source rows: no epoch ever merged, so the sink has no
            # snapshot — the view is well-defined and empty, not an error
            return spark.createDataFrame(
                [], "o_custkey BIGINT, n_rows BIGINT, value_sum DOUBLE, "
                    "first_seen TIMESTAMP_NTZ, last_seen TIMESTAMP_NTZ")
        out = snap.select(
            "o_custkey", "n_rows",
            F.col("value_sum").cast("double").alias("value_sum"),
            "first_seen", "last_seen")
        # pin the result off the scratch dir so it survives the cleanup
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Operational rollups: order-backlog aging and inactivity churn.
# ---------------------------------------------------------------------------


@register("orders_backlog_aging", """
WITH m AS (SELECT CAST(max(o_orderdate) AS DATE) AS asof FROM orders),
b AS (
  SELECT o_orderkey, o_totalprice,
         date_diff('day', CAST(o_orderdate AS DATE), m.asof) AS age
  FROM orders, m WHERE o_orderstatus = 'O'
)
SELECT CASE WHEN age <= 30 THEN '0-30'
            WHEN age <= 60 THEN '31-60'
            WHEN age <= 90 THEN '61-90'
            ELSE '90+' END AS age_band,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS open_value,
       CAST(min(age) AS BIGINT) AS min_age,
       CAST(max(age) AS BIGINT) AS max_age
FROM b GROUP BY 1
""")
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog bucketed by age band as of the latest order
    date — the operational aging report (the reference's work-queue
    'what is still pending' view, index.js:200-270, generalized to
    value-weighted bands).

    Scale shape: the status predicate pushes into the scan, the as-of
    date is a 1-row broadcast, banding is row-local, and the rollup is
    a 4-group exchange after map-side partials with exact decimal
    sums."""
    orders = read_table(spark, sf_dir, "orders")
    m = orders.agg(F.max(F.to_date("o_orderdate")).alias("asof"))
    age = F.datediff(F.col("asof"), F.to_date("o_orderdate"))
    band = (F.when(F.col("age") <= 30, "0-30")
            .when(F.col("age") <= 60, "31-60")
            .when(F.col("age") <= 90, "61-90")
            .otherwise("90+"))
    return (
        orders.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(m))
        .select("o_orderkey", "o_totalprice", age.alias("age"))
        .groupBy(band.alias("age_band"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("double").alias("open_value"),
             F.min("age").alias("min_age"),
             F.max("age").alias("max_age"))
    )


@register("events_inactivity_churn", """
WITH m AS (SELECT max(ts) AS mts FROM events),
u AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
         count(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT u.user_id, u.n_events,
       CAST(date_diff('day', CAST(u.first_ts AS DATE),
                      CAST(u.last_ts AS DATE)) AS BIGINT)
         AS tenure_days,
       CAST(date_diff('day', CAST(u.last_ts AS DATE),
                      CAST(m.mts AS DATE)) AS BIGINT) AS silent_days
FROM u, m
WHERE u.last_ts < m.mts - INTERVAL 1 DAY
""")
def events_inactivity_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn cohort: users silent for more than a day as of the
    latest event (the fixture's activity density makes one day the
    meaningful horizon; production tunes the interval), with tenure and activity volume — the inactivity
    screen that feeds re-engagement pipelines.

    Scale shape: one user-keyed exchange for the per-user bounds
    (map-side partials), the as-of timestamp is a 1-row broadcast, and
    the churn predicate + day math are row-local."""
    ev = read_table(spark, sf_dir, "events")
    m = ev.agg(F.max("ts").alias("mts"))
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"))
    return (
        u.crossJoin(F.broadcast(m))
        .where(F.col("last_ts") < F.col("mts") - F.expr("INTERVAL 1 DAY"))
        .select("user_id", "n_events",
                F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
                .cast("long").alias("tenure_days"),
                F.datediff(F.to_date("mts"), F.to_date("last_ts"))
                .cast("long").alias("silent_days"))
    )


# ---------------------------------------------------------------------------
# Reporting shapes: week-over-week growth and Pareto cumulative share.
# ---------------------------------------------------------------------------


@register("events_wow_growth", """
WITH w AS (
  SELECT event_type, date_trunc('week', CAST(ts AS DATE)) AS week,
         count(*) AS events,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000
                   AS HUGEINT) AS BIGINT) AS value_micro
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, week, events, value_micro,
       lag(events) OVER (PARTITION BY event_type ORDER BY week)
         AS prev_events,
       CASE WHEN lag(events) OVER (PARTITION BY event_type
                                   ORDER BY week) IS NULL THEN NULL
            ELSE CAST(events - lag(events) OVER (PARTITION BY event_type
                                                 ORDER BY week) AS DOUBLE)
                 / lag(events) OVER (PARTITION BY event_type ORDER BY week)
       END AS wow_growth
FROM w
""")
def events_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week event volume and growth rate per type — the
    standard reporting rollup with a lag over the weekly grain.

    Scale shape: the weekly rollup partial-combines into a
    (type, week)-group exchange (value as exact integer micro-units);
    the lag window then partitions on the bounded type key over
    |types| x |weeks| rows. Growth is one IEEE division on exact
    integer counts. Temporal contract: untimed events belong to no
    week (and a null week group would sort to an engine-dependent end
    of the lag window — Spark nulls first, DuckDB nulls last)."""
    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (ev.groupBy("event_type",
                    F.date_trunc("week", F.to_date("ts")).alias("week"))
         .agg(F.count(F.lit(1)).alias("events"),
              (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
              .cast("bigint").alias("value_micro")))
    win = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("events").over(win)
    return w.select(
        "event_type", F.col("week").cast("date").alias("week"),
        "events", "value_micro", prev.alias("prev_events"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise((F.col("events") - prev).cast("double") / prev)
        .alias("wow_growth"))


@register("parts_pareto_cumshare", """
WITH r AS (
  SELECT l_partkey,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6))) * 1000000 AS HUGEINT)
              AS BIGINT) AS rev_micro
  FROM lineitem GROUP BY l_partkey
),
o AS (
  SELECT l_partkey, rev_micro,
         row_number() OVER (ORDER BY rev_micro DESC NULLS LAST,
                            l_partkey) AS rnk,
         sum(rev_micro) OVER (ORDER BY rev_micro DESC NULLS LAST, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_micro,
         sum(rev_micro) OVER () AS total_micro,
         count(*) OVER () AS n_parts
  FROM r
)
SELECT l_partkey, rev_micro, CAST(rnk AS BIGINT) AS rnk,
       CAST(cum_micro AS DOUBLE) / total_micro AS cum_share,
       CAST(rnk AS DOUBLE) / n_parts AS part_pctile
FROM o
WHERE CAST(cum_micro AS DOUBLE) / total_micro <= 0.8
""")
def parts_pareto_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto cut: parts covering the first 80% of cumulative
    revenue, ranked by revenue, with each part's cumulative share and
    rank percentile — 'which 20% of the catalog carries 80% of the
    business'.

    Scale shape: per-part revenue partial-combines into one part-key
    exchange (exact integer micro-units); the cumulative sum and rank
    over the |parts| frame ride the DISTRIBUTED prefix_sum / global
    index machinery (operators/window.py — range partition + offsets,
    no single-task window; the packed sort key makes the oracle's
    row_number order exact); totals are a 1-row broadcast.
    """
    from imp_etl_spark.operators.window import prefix_sum

    li = read_table(spark, sf_dir, "lineitem")
    rev = (F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .cast("decimal(18,6)")) * 1000000).cast("bigint")
    r = (li.groupBy("l_partkey").agg(rev.alias("rev_micro"))
         .withColumn("__nullrev", F.col("rev_micro").isNull())
         .withColumn("__neg", -F.col("rev_micro"))
         .withColumn("__one", F.lit(1).cast("bigint")))
    # (rev desc NULLS LAST, partkey asc) ordering; the rank is just the
    # prefix sum of ones over the same order — both ride the distributed
    # two-phase prefix_sum, no packed key, no single-task window.
    # __nullrev leads the order key because prefix_sum sorts ASC with
    # Spark's nulls-first default, which would rank a NULL-revenue part
    # (no priceable lineitems) ABOVE every real earner while the oracle
    # ranks it last (fuzz seed 30: the two engines' rnk diverged by the
    # null-part count); false < true puts null-revenue parts last, where
    # cum_share ≥ 1 keeps them out of the 80% cut on both engines.
    o = prefix_sum(r, ["__nullrev", "__neg", "l_partkey"], "rev_micro",
                   out_col="cum_micro")
    o = prefix_sum(o, ["__nullrev", "__neg", "l_partkey"], "__one",
                   out_col="rnk")
    tot = r.agg(F.sum("rev_micro").alias("total_micro"),
                F.count(F.lit(1)).alias("n_parts"))
    # try_divide: a corpus whose revenues cancel to an exact 0 total
    # (fuzz seed 88 — pooled ±values) makes every share undefined; both
    # engines yield NULL there (DuckDB's double division by zero is
    # NULL, not inf) and the <= 0.8 cut drops all rows. n_parts needs
    # no guard — it is >= 1 whenever any row reaches the divide.
    share = F.try_divide(F.col("cum_micro").cast("double"),
                         F.col("total_micro"))
    return (
        o.crossJoin(F.broadcast(tot))
        .where(share <= 0.8)
        .select("l_partkey", "rev_micro", F.col("rnk").cast("bigint")
                .alias("rnk"),
                share.alias("cum_share"),
                (F.col("rnk").cast("double") / F.col("n_parts")
                 ).alias("part_pctile"))
    )

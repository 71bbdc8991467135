"""Unit tests for the behavioral analytics operators (funnel, cohort,
resample-ffill) plus the z-score / fuzzy / balanced-shard builders —
hand-built frames with known answers, covering the edge cases the
fixture-scale oracle comparison can't isolate.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from imp_etl_spark.operators import behavior, join, quality, sampling


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double")


TS = dt.datetime(2024, 1, 1, 0, 0, 0)


def _t(minutes):
    return TS + dt.timedelta(minutes=minutes)


class TestFunnel:
    def test_ordering_enforced(self, spark):
        # user 1 converts in order; user 2 clicked BEFORE signup -> drops
        ev = _ev(spark, [
            (1, _t(0), "signup", 0.0), (1, _t(5), "click", 0.0),
            (2, _t(10), "signup", 0.0), (2, _t(5), "click", 0.0),
        ])
        out = behavior.funnel_counts(ev, ["signup", "click"])
        got = {r["stage"]: r["users"] for r in out.collect()}
        assert got == {"signup": 2, "click": 1}

    def test_same_instant_counts(self, spark):
        ev = _ev(spark, [(1, _t(0), "signup", 0.0), (1, _t(0), "click", 0.0)])
        out = behavior.funnel_counts(ev, ["signup", "click"])
        assert {r["stage"]: r["users"] for r in out.collect()} == {
            "signup": 1, "click": 1}

    def test_within_window_drops_late(self, spark):
        ev = _ev(spark, [
            (1, _t(0), "signup", 0.0), (1, _t(30), "click", 0.0),
            (2, _t(0), "signup", 0.0), (2, _t(90), "click", 0.0),
        ])
        out = behavior.funnel_counts(
            ev, ["signup", "click"], within=["'1' hour"])
        assert {r["stage"]: r["users"] for r in out.collect()} == {
            "signup": 2, "click": 1}

    def test_earliest_admissible_not_earliest_overall(self, spark):
        # user clicked at t-5 (inadmissible) and t+20; stage ts must be
        # the earliest ADMISSIBLE one (t+20), and the next window
        # anchors there
        ev = _ev(spark, [
            (1, _t(10), "signup", 0.0),
            (1, _t(5), "click", 0.0), (1, _t(30), "click", 0.0),
            (1, _t(45), "purchase", 0.0),
        ])
        frames = behavior.funnel_stage_users(
            ev, ["signup", "click", "purchase"],
            within=["'1' hour", "'1' hour"])
        r = frames[2].collect()[0]
        assert r["__t1"] == _t(30) and r["__t2"] == _t(45)

    def test_conv_pct(self, spark):
        ev = _ev(spark, [
            (1, _t(0), "signup", 0.0), (2, _t(0), "signup", 0.0),
            (3, _t(0), "signup", 0.0), (4, _t(0), "signup", 0.0),
            (1, _t(1), "click", 0.0),
        ])
        rows = {r["stage"]: r for r in
                behavior.funnel_counts(ev, ["signup", "click"]).collect()}
        assert rows["signup"]["conv_pct"] == 1.0
        assert rows["click"]["conv_pct"] == 0.25


class TestCohortRetention:
    def test_matrix(self, spark):
        d0, d1 = dt.datetime(2024, 1, 1, 8), dt.datetime(2024, 1, 2, 9)
        ev = _ev(spark, [
            (1, d0, "view", 0.0), (1, d1, "view", 0.0),
            (2, d1, "view", 0.0),
            (1, d1 + dt.timedelta(hours=2), "click", 0.0),  # same day dup
        ])
        got = {(r["cohort_day"], r["day_offset"]): r["active_users"]
               for r in behavior.cohort_retention(ev).collect()}
        assert got == {
            (dt.date(2024, 1, 1), 0): 1,
            (dt.date(2024, 1, 1), 1): 1,
            (dt.date(2024, 1, 2), 0): 1,
        }


class TestResampleFfill:
    def test_fill_and_leading_null(self, spark):
        ev = _ev(spark, [
            (1, dt.datetime(2024, 1, 1, 0, 30), "view", 10.0),
            (1, dt.datetime(2024, 1, 1, 2, 15), "view", 20.0),
        ])
        out = behavior.resample_ffill(ev, step="1 hour").collect()
        got = {r["grid_ts"]: r["last_value"] for r in out}
        # grid = 00:00, 01:00, 02:00 (trunc bounds); 00:00 precedes the
        # first event -> null; 01:00 carries 10.0; 02:00 still 10.0
        assert got == {
            dt.datetime(2024, 1, 1, 0): None,
            dt.datetime(2024, 1, 1, 1): 10.0,
            dt.datetime(2024, 1, 1, 2): 10.0,
        }

    def test_duplicate_ts_takes_max(self, spark):
        t0 = dt.datetime(2024, 1, 1, 0, 0)
        ev = _ev(spark, [(1, t0, "a", 5.0), (1, t0, "b", 7.0)])
        out = behavior.resample_ffill(ev, step="1 hour").collect()
        assert len(out) == 1 and out[0]["last_value"] == 7.0

    def test_chunk_boundary_and_empty_chunk_carry(self, spark):
        # events 2000 ticks apart with chunk_ticks=720: four chunks,
        # two event-empty in the middle — carry must cross chunk
        # boundaries and survive empty chunks; the second event's fill
        # takes over at exactly its own tick
        lo = dt.datetime(2024, 1, 1, 0, 0)
        hi = lo + dt.timedelta(hours=2000)
        ev = _ev(spark, [(1, lo, "a", 3.0), (1, hi, "b", 9.0)])
        out = behavior.resample_ffill(ev, step="1 hour").collect()
        got = {r["grid_ts"]: r["last_value"] for r in out}
        assert len(got) == 2001
        assert got[lo] == 3.0
        assert got[lo + dt.timedelta(hours=719)] == 3.0   # chunk 0 end
        assert got[lo + dt.timedelta(hours=720)] == 3.0   # chunk 1 start
        assert got[lo + dt.timedelta(hours=1500)] == 3.0  # empty chunk
        assert got[hi - dt.timedelta(hours=1)] == 3.0
        assert got[hi] == 9.0

    def test_giant_span_key_resample(self, spark):
        # the 230-year span class that used to live in the adversarial
        # events fixture (2M-row full-value differential each run):
        # count + spot ticks only — value-exactness for this class was
        # proven once against the oracle (COVERAGE.md round 8), and the
        # chunked plan caps every sequence() array at chunk_ticks
        a = dt.datetime(1970, 1, 1, 0, 0, 1)
        b = dt.datetime(2200, 1, 1, 0, 0, 0)
        ev = _ev(spark, [(7, a, "click", 1.0), (7, b, "click", 2.0)])
        out = behavior.resample_ffill(ev, step="1 hour")
        n_hours = int((b - dt.datetime(1970, 1, 1)).total_seconds()
                      // 3600) + 1
        assert out.count() == n_hours
        spot = {r["grid_ts"]: r["last_value"] for r in out.where(
            F.col("grid_ts").isin(
                dt.datetime(1970, 1, 1, 0, 0),   # trunc'd first tick:
                dt.datetime(1970, 1, 1, 1, 0),   # event 00:00:01 > tick
                dt.datetime(2085, 6, 1, 12, 0),  # mid-span carry
                b,                               # final tick
            )).collect()}
        assert spot == {
            dt.datetime(1970, 1, 1, 0, 0): None,
            dt.datetime(1970, 1, 1, 1, 0): 1.0,
            dt.datetime(2085, 6, 1, 12, 0): 1.0,
            b: 2.0,
        }


class TestZscoreOutliers:
    def test_exact_membership(self, spark):
        # group a: nine 10.0s and one 110.0 -> mean 20, var_pop 900,
        # sd 30; dev(110)=90 = 3.0 sd exactly -> NOT > 3 sd (strict).
        rows = [("a", 10.0)] * 9 + [("a", 110.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = quality.zscore_outliers(df, "g", "v", threshold=3)
        assert out.count() == 0
        # threshold 2: 90 > 2*30 -> the single outlier, z = 3.0 exactly
        out2 = quality.zscore_outliers(df, "g", "v", threshold=2).collect()
        assert len(out2) == 1 and out2[0]["zscore"] == 3.0

    def test_groups_independent(self, spark):
        rows = ([("a", 10.0)] * 9 + [("a", 110.0)]
                + [("b", float(x)) for x in range(10)])
        df = spark.createDataFrame(rows, "g string, v double")
        out = quality.zscore_outliers(df, "g", "v", threshold=2)
        assert [r["g"] for r in out.collect()] == ["a"]


class TestFuzzyJoin:
    def test_block_and_refine(self, spark):
        left = spark.createDataFrame(
            [("red widget",), ("blue bolt",)], "a string")
        right = spark.createDataFrame(
            [("red widgets",), ("rad widget",), ("bed widget",),
             ("blue belt",), ("zzz",)], "b string")
        out = join.fuzzy_join_blocked(left, right, "a", "b", max_dist=2)
        got = {(r["a"], r["b"]): r["edit_dist"] for r in out.collect()}
        # 'bed widget' differs at position 0 -> different block, missed
        # by design even though dist 1
        assert got == {
            ("red widget", "red widgets"): 1,
            ("red widget", "rad widget"): 1,
            ("blue bolt", "blue belt"): 1,
        }


class TestShardBalanced:
    def test_balance_property(self, spark):
        df = spark.range(100).select(
            F.col("id").alias("doc_id"),
            (F.col("id") * 7 % 97 + 1).alias("w"))
        out = sampling.shard_balanced(df, "w", "doc_id", num_shards=4)
        assert out.count() == 100
        # every id exactly once
        assert out.select("doc_id").distinct().count() == 100
        totals = [r["t"] for r in out.groupBy("shard")
                  .agg(F.sum("w").alias("t")).collect()]
        assert len(totals) == 4
        # longest-first round-robin keeps shard totals within one
        # max-weight of each other
        assert max(totals) - min(totals) <= 97


class TestActivityStreaks:
    def test_islands(self, spark):
        def d(day, hour=1):
            return dt.datetime(2024, 1, day, hour)
        ev = _ev(spark, [
            # user 1: days 1,2,3 then 5 -> streaks (1..3) and (5)
            (1, d(1), "v", 0.0), (1, d(2), "v", 0.0), (1, d(2, 5), "v", 0.0),
            (1, d(3), "v", 0.0), (1, d(5), "v", 0.0),
            # user 2: single day
            (2, d(9), "v", 0.0),
        ])
        got = {(r["user_id"], r["streak_start"]): r["streak_days"]
               for r in behavior.activity_streaks(ev).collect()}
        assert got == {
            (1, dt.date(2024, 1, 1)): 3,
            (1, dt.date(2024, 1, 5)): 1,
            (2, dt.date(2024, 1, 9)): 1,
        }


class TestStateIntervals:
    def test_compression_and_open_interval(self, spark):
        rows = [
            (1, _t(0), "a", 1.0), (1, _t(1), "a", 2.0),  # run of a
            (1, _t(2), "b", 3.0),                        # change
            (1, _t(3), "a", 4.0),                        # back to a
        ]
        df = spark.createDataFrame(
            [(u, ts, et, v, i) for i, (u, ts, et, v) in enumerate(rows)],
            "user_id long, ts timestamp, event_type string, value double,"
            " event_id long")
        out = sorted(
            behavior.state_intervals(df).collect(),
            key=lambda r: r["valid_from"])
        assert [(r["state"], r["valid_from"], r["valid_to"], r["is_current"])
                for r in out] == [
            ("a", _t(0), _t(2), False),
            ("b", _t(2), _t(3), False),
            ("a", _t(3), None, True),
        ]

    def test_tiebreak_on_same_ts(self, spark):
        # two different states at the SAME ts: event_id orders them
        df = spark.createDataFrame(
            [(1, _t(0), "x", 0.0, 2), (1, _t(0), "y", 0.0, 1)],
            "user_id long, ts timestamp, event_type string, value double,"
            " event_id long")
        out = behavior.state_intervals(df).collect()
        by_state = {r["state"]: r for r in out}
        assert by_state["y"]["is_current"] is False  # event_id 1 first
        assert by_state["x"]["is_current"] is True


class TestRollingTime:
    def test_trailing_window_inclusive(self, spark):
        from imp_etl_spark.operators.window import rolling_time
        ev = _ev(spark, [
            (1, _t(0), "v", 1.0),
            (1, _t(60 * 24), "v", 2.0),        # exactly 24h later
            (1, _t(60 * 24 + 1), "v", 4.0),    # 24h01m after t0
        ])
        out = rolling_time(
            ev, "user_id", "ts", "'24' hours",
            {"s": F.sum(F.col("value").cast("decimal(18,6)"))})
        got = {r["ts"]: float(r["s"]) for r in out.collect()}
        # frame is inclusive: the 24h-later event still sees row 1;
        # one minute later row 1 has aged out
        assert got[_t(60 * 24)] == 3.0
        assert got[_t(60 * 24 + 1)] == 6.0


class TestCapPerGroup:
    def test_cap_binds_and_is_deterministic(self, spark):
        df = spark.range(300).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 3).cast("string").alias("src"))
        capped = sampling.cap_per_group(df, "src", "doc_id", cap=10)
        counts = {r["src"]: r["c"] for r in
                  capped.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
                  .collect()}
        assert counts == {"0": 10, "1": 10, "2": 10}
        # deterministic: same selection on re-run
        a = sorted(r["doc_id"] for r in capped.collect())
        b = sorted(r["doc_id"] for r in
                   sampling.cap_per_group(df, "src", "doc_id", cap=10)
                   .collect())
        assert a == b

    def test_under_cap_groups_pass_through(self, spark):
        df = spark.range(5).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("src"))
        assert sampling.cap_per_group(df, "src", "doc_id", 10).count() == 5

    def test_salt_changes_selection(self, spark):
        df = spark.range(200).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("src"))
        a = {r["doc_id"] for r in
             sampling.cap_per_group(df, "src", "doc_id", 20).collect()}
        b = {r["doc_id"] for r in
             sampling.cap_per_group(df, "src", "doc_id", 20, salt="s2")
             .collect()}
        assert a != b  # a different salt draws a different subset


class TestMadOutliers:
    def test_exact_boundary(self, spark):
        # values: 1..9 and 100 -> median pick at rank ceil(10*0.5)=5 -> 5
        # devs sorted: 0,1,1,2,2,3,3,4,4,95 -> MAD pick rank 5 -> 2
        rows = [("g", float(x), i) for i, x in enumerate(
            [1, 2, 3, 4, 5, 6, 7, 8, 9, 100])]
        df = spark.createDataFrame(rows, "g string, v double, id long")
        out = quality.mad_outliers(df, "g", "v", "id", k=5).collect()
        # outliers: dev > 5*MAD = 1000 cents -> devs in cents: 95*100
        # (value 100) and nothing else (max other dev 400)
        assert [(r["v"], r["dev"], r["mad"]) for r in out] == [
            (100.0, 9500, 200)]
        # strict inequality: dev == k*mad is NOT an outlier
        rows2 = [("g", 0.0, 1), ("g", 0.0, 2), ("g", 10.0, 3)]
        df2 = spark.createDataFrame(rows2, "g string, v double, id long")
        # median=0, devs 0,0,1000 -> MAD pick rank 2 -> 0; 1000 > 0 -> out
        assert quality.mad_outliers(df2, "g", "v", "id", k=5).count() == 1

    def test_robust_where_zscore_is_dragged(self, spark):
        # one huge outlier inflates sigma so the z-screen misses a
        # moderate one; MAD still catches both
        vals = [10.0] * 20 + [11.0] * 20 + [50.0, 100000.0]
        rows = [("g", v, i) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "g string, v double, id long")
        zs = quality.zscore_outliers(df, "g", "v", threshold=3)
        mads = quality.mad_outliers(df, "g", "v", "id", k=5)
        z_vals = {r["v"] for r in zs.collect()}
        mad_vals = {r["v"] for r in mads.collect()}
        assert 50.0 not in z_vals          # sigma dragged by 100000
        assert {50.0, 100000.0} <= mad_vals


class TestSortedNeighborhood:
    def test_neighbors_in_sort_order(self, spark):
        names = spark.createDataFrame(
            [("alpha",), ("alphb",), ("alphz",), ("beta",), ("betas",),
             ("gamma",)], "n string")
        out = join.sorted_neighborhood_pairs(names, "n", window=3,
                                             max_dist=2)
        got = {(r["name_a"], r["name_b"]) for r in out.collect()}
        # alpha-alphb (d1, adjacent), alpha-alphz (d1, offset 2),
        # alphb-alphz (d1), beta-betas (d1); gamma has no close neighbor
        assert got == {("alpha", "alphb"), ("alpha", "alphz"),
                       ("alphb", "alphz"), ("beta", "betas")}

    def test_window_bounds_comparisons(self, spark):
        # 'aaaa' and 'aaab' separated by >window-1 ranks -> never compared
        names = spark.createDataFrame(
            [("aaaa",), ("aaam",), ("aaan",), ("aaao",), ("aaab",)],
            "n string")
        out = join.sorted_neighborhood_pairs(names, "n", window=2,
                                             max_dist=1)
        got = {(r["name_a"], r["name_b"]) for r in out.collect()}
        # sort: aaaa,aaab,aaam,aaan,aaao; window 2 = adjacent only —
        # every adjacent pair here is a single substitution (dist 1)
        assert got == {("aaaa", "aaab"), ("aaab", "aaam"),
                       ("aaam", "aaan"), ("aaan", "aaao")}


class TestPrefixSum:
    def test_matches_naive_cumsum(self, spark):
        from imp_etl_spark.operators.window import prefix_sum
        df = spark.range(1000).select(
            F.col("id").alias("k"), ((F.col("id") * 37) % 11 - 5).alias("v"))
        out = {r["k"]: r["cum"] for r in
               prefix_sum(df, ["k"], "v", num_partitions=8).collect()}
        acc, want = 0, {}
        for k in range(1000):
            acc += (k * 37) % 11 - 5
            want[k] = acc
        assert out == want

    def test_no_single_partition_window_when_big(self, spark,
                                                 monkeypatch):
        """The skew-safety contract after the r13 small-frame dispatch:
        a frame NOT proven small (threshold forced to 0 here — stand-in
        for a corpus-scale input) must keep the distributed range/offset
        machinery, never a single-partition window. Provably small
        frames take the single-sort path by design (pinned value-equal
        in test_r13_optimizations)."""
        from imp_etl_spark.operators import window
        monkeypatch.setattr(window, "PREFIX_SUM_MAX_SINGLE_SORT_ROWS", 0)
        df = spark.range(100).select(
            F.col("id").alias("k"), F.lit(1).alias("v"))
        out = window.prefix_sum(df, ["k"], "v", num_partitions=8)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan


class TestGroupRank:
    def test_matches_window_rank_including_null_group(self, spark):
        """Fuzz seed 501 (round 8): group_rank's per-group offset join
        must be NULL-SAFE — partitionBy/GROUP BY treat NULL as a real
        group, and a plain equi join silently dropped every null-keyed
        group's rows (quality_percentile_filter lost the whole
        null-source tier; agg_percentiles_disc lost a returnflag
        group). Curated deterministic form so the class survives fuzz
        generator drift."""
        from pyspark.sql import Window

        from imp_etl_spark.operators.window import group_rank

        rows = [(g, i * 7 % 13, i) for g in ["a", "b", None, ""]
                for i in range(23)]
        df = spark.createDataFrame(rows, "g STRING, v INT, id INT")
        got = {(r["g"], r["id"]): (r["__grk"], r["__gn"])
               for r in group_rank(df, ["g"], ["v", "id"],
                                   num_partitions=7).collect()}
        w = Window.partitionBy("g").orderBy("v", "id")
        wn = Window.partitionBy("g")
        want = {(r["g"], r["id"]): (r["rk"], r["n"])
                for r in df.withColumn("rk", F.row_number().over(w))
                           .withColumn("n", F.count(F.lit(1)).over(wn))
                           .collect()}
        assert got == want
        assert (None, 0) in got  # the null group is present and ranked

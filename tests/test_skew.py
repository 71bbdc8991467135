"""Salted aggregation/join (operators/skew.py) must be semantically
invisible: same answer as the unsalted plan, skew or not."""

from __future__ import annotations

from unittest import mock

import pytest
from pyspark.sql import functions as F

from imp_etl_spark.operators.skew import salted_agg, salted_join
from imp_etl_spark.sources.parquet import read_table
from tests.conftest import SF_DIR


def _skewed(spark):
    """lineitem with 90% of rows forced onto one hot key."""
    li = read_table(spark, SF_DIR, "lineitem")
    return li.withColumn(
        "k", F.when(F.col("l_orderkey") % 10 != 0, F.lit(0))
              .otherwise(F.col("l_orderkey")))


def test_salted_agg_matches_plain(spark):
    df = _skewed(spark)
    got = salted_agg(
        df, ["k"],
        partial=[F.sum("l_quantity").alias("s"),
                 F.count(F.lit(1)).alias("c")],
        final=[F.sum("s").alias("s"), F.sum("c").alias("c")],
        buckets=16,
    )
    want = df.groupBy("k").agg(F.sum("l_quantity").alias("s"),
                               F.count(F.lit(1)).alias("c"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_matches_plain(spark):
    df = _skewed(spark).select("k", "l_orderkey", "l_quantity")
    dim = (read_table(spark, SF_DIR, "orders")
           .select(F.col("o_orderkey").alias("k"), "o_orderpriority")
           .limit(50))
    got = salted_join(df, dim, on="k", buckets=8)
    want = df.join(dim, on="k")
    assert got.count() == want.count()
    g = sorted(map(tuple, got.select("k", "l_orderkey", "o_orderpriority").collect()))
    w = sorted(map(tuple, want.select("k", "l_orderkey", "o_orderpriority").collect()))
    assert g == w


def test_top_key_share_probe(spark):
    """top_key_share: exact verified share for any key above support
    (freqItems has no false negatives there), (0, None) when nothing
    crosses support or the frame is empty."""
    from imp_etl_spark.operators.window import top_key_share

    rows = ([("hot", i) for i in range(700)]
            + [(f"u{i}", i) for i in range(300)])
    df = spark.createDataFrame(rows, "user STRING, x LONG")
    share, key = top_key_share(df, ["user"], support=0.125)
    assert key == "hot" and abs(share - 0.7) < 1e-12

    uni = spark.createDataFrame(
        [(f"u{i % 97}", i) for i in range(970)], "user STRING, x LONG")
    share, key = top_key_share(uni, ["user"], support=0.125)
    # ~1% shares: freqItems may surface false candidates, but exact
    # verification keeps the share tiny and never promotes one
    assert share < 0.125

    empty = df.where(F.lit(False))
    assert top_key_share(empty, ["user"]) == (0.0, None)


def test_top_key_share_memo(spark, tmp_path):
    """The probe memo (round 9): a semantically identical frame read
    SEPARATELY from the same path must hit (expression ids are
    normalized by semanticHash/sameResult), different supports must
    not cross-hit, the public memo=False default must bypass, and
    release_probe_memo
    must clear. Proven by poisoning: a sentinel planted under the
    first probe's memo slot comes back from the second, semantically
    equal probe — only a real lookup can return it."""
    from imp_etl_spark.operators.window import (
        _PROBE_MEMO,
        release_probe_memo,
        top_key_share,
    )

    p = str(tmp_path / "ev.parquet")
    spark.createDataFrame(
        [("hot" if i % 4 else f"u{i}", i) for i in range(400)],
        "user STRING, x LONG").write.parquet(p)
    release_probe_memo()

    probe1 = spark.read.parquet(p).select("user")
    share, key = top_key_share(probe1, ["user"], memo=True)
    assert key == "hot" and abs(share - 0.75) < 1e-12
    assert sum(len(v) for v in _PROBE_MEMO.values()) == 1

    # poison the stored result; a fresh, separately-read but
    # semantically identical probe must return the sentinel
    slot = next(iter(_PROBE_MEMO.values()))
    slot[0] = (slot[0][0], slot[0][1], (0.4242, 7, "sentinel"))
    probe2 = spark.read.parquet(p).select("user")
    assert top_key_share(probe2, ["user"],
                         memo=True) == (0.4242, "sentinel")

    # r11 (VERDICT item 6): a COARSER support request is served by the
    # finer stored probe (its candidate search was a superset)...
    assert top_key_share(probe2, ["user"], support=0.3,
                         memo=True) == (0.4242, "sentinel")
    # ...but a FINER request must re-probe (the stored probe could
    # have missed keys between the two supports)
    share3, key3 = top_key_share(probe2, ["user"], support=0.05,
                                 memo=True)
    assert key3 == "hot" and abs(share3 - 0.75) < 1e-12

    # memo=False (now the public default) bypasses the poisoned slot
    share4, key4 = top_key_share(probe2, ["user"])
    assert key4 == "hot" and abs(share4 - 0.75) < 1e-12

    # release clears; the next probe recomputes the true value
    assert release_probe_memo() >= 2
    assert top_key_share(probe2, ["user"], memo=True)[1] == "hot"
    release_probe_memo()


def test_lag_dispatch_modes_and_auto(spark, monkeypatch):
    """lag_dispatch: the window and seq shapes are value-identical;
    auto picks seq on a hot-key frame and window on a uniform one
    (resolve_lag_mode), and LAG_MODE forces either."""
    import random

    from imp_etl_spark.operators import window
    from imp_etl_spark.operators.window import (
        lag_dispatch,
        resolve_lag_mode,
    )

    rng = random.Random(7)
    hot = spark.createDataFrame(
        [("bot" if i % 10 else f"u{i}", rng.randint(0, 10**6), i,
          float(i % 13)) for i in range(1000)],
        "user STRING, ts LONG, eid LONG, v DOUBLE")
    uni = spark.createDataFrame(
        [(f"u{i % 50}", rng.randint(0, 10**6), i, float(i % 13))
         for i in range(1000)],
        "user STRING, ts LONG, eid LONG, v DOUBLE")

    assert resolve_lag_mode(hot.select("user"), ["user"]) == "seq"
    assert resolve_lag_mode(uni.select("user"), ["user"]) == "window"
    assert resolve_lag_mode(hot.select("user"), ["user"],
                            mode="window") == "window"

    for df in (hot, uni):
        outs = {}
        for mode in ("window", "seq"):
            outs[mode] = sorted(
                (tuple(r) for r in lag_dispatch(
                    df, ["user"], ["ts", "eid"],
                    lags={"v": "pv"}, leads={"ts": "nts"},
                    mode=mode).collect()),
                key=lambda t: t[2])
        assert outs["window"] == outs["seq"]

    # forced-mode constant path
    monkeypatch.setattr(window, "LAG_MODE", "seq")
    assert resolve_lag_mode(uni.select("user"), ["user"]) == "seq"


def test_state_intervals_dispatch_shapes_equal(spark):
    """state_intervals (SCD2) through the dispatch: forced window and
    forced seq produce identical interval sets, hot key included."""
    import random

    from imp_etl_spark.operators import behavior

    rng = random.Random(31)
    rows = [("bot" if i % 5 else f"u{i % 7}", rng.randint(0, 10**5), i,
             rng.choice("ab")) for i in range(600)]
    ev = spark.createDataFrame(
        rows, "user_id STRING, ts LONG, event_id LONG, event_type STRING")
    key = lambda t: tuple((x is None, str(x)) for x in t)  # noqa: E731
    got_w = sorted((tuple(r) for r in behavior.state_intervals(
        ev, mode="window").collect()), key=key)
    got_s = sorted((tuple(r) for r in behavior.state_intervals(
        ev, mode="seq").collect()), key=key)
    assert got_w == got_s and len(got_w) > 0


def test_lag_dispatch_row_floor(spark, tmp_path, monkeypatch):
    """r10 metadata row floor: a bare local parquet scan whose footers
    prove the frame small resolves to "window" WITHOUT running the
    probe (proven by poisoning top_key_share to raise); a floor below
    the row count (also one row below it) or a non-scan plan falls
    through to the probe; and lag_dispatch stays value-identical
    floor-on vs -off."""
    from imp_etl_spark.operators import window as W

    p = str(tmp_path / "hot.parquet")
    spark.createDataFrame(
        [("bot" if i % 4 else f"u{i}", i, float(i % 13))
         for i in range(400)],
        "user STRING, ts LONG, v DOUBLE").write.parquet(p)
    scan = spark.read.parquet(p)
    W.release_probe_memo()

    # floor engaged (default 10M >> 400 rows): probe must NOT run
    def boom(*a, **k):
        raise AssertionError("probe ran despite metadata floor")
    monkeypatch.setattr(W, "top_key_share", boom)
    assert W.resolve_lag_mode(scan.select("user"), ["user"]) == "window"
    # filters/limits keep the footer bound sound (only remove rows)
    assert W.resolve_lag_mode(
        scan.filter("ts >= 0").select("user"), ["user"]) == "window"
    monkeypatch.undo()

    # floor below the actual row count -> probe runs -> hot share wins
    monkeypatch.setattr(W, "LAG_ROW_FLOOR", 100)
    assert W.resolve_lag_mode(
        scan.select("user"), ["user"]) == "seq"
    W.release_probe_memo()

    # one row below the count: the footer bound no longer proves it
    monkeypatch.setattr(W, "LAG_ROW_FLOOR", 399)
    assert W.resolve_lag_mode(
        scan.select("user"), ["user"]) == "seq"
    monkeypatch.undo()
    W.release_probe_memo()

    # a cardinality-changing plan (union doubles rows) must not use
    # the footer bound -> probe runs -> seq on the hot key
    uni = scan.select("user").union(scan.select("user"))
    assert W.resolve_lag_mode(uni, ["user"]) == "seq"
    W.release_probe_memo()

    # floor-on vs floor-off value equality in auto mode (fuzz axis)
    outs = {}
    for floor in (10_000_000, 100):
        monkeypatch.setattr(W, "LAG_ROW_FLOOR", floor)
        outs[floor] = sorted(
            (tuple(r) for r in W.lag_dispatch(
                scan, ["user"], ["ts"], lags={"v": "pv"},
                leads={"ts": "nts"}).collect()),
            key=lambda t: t[1])
        W.release_probe_memo()
    assert outs[10_000_000] == outs[100]


def test_rows_at_most_bounds(spark, tmp_path):
    """_rows_at_most: sound True only under the limit on pure local
    scans; False (= unknown) for in-memory frames and crossed limits."""
    from imp_etl_spark.operators.window import _rows_at_most

    p = str(tmp_path / "t.parquet")
    spark.range(1000).write.parquet(p)
    scan = spark.read.parquet(p)
    assert _rows_at_most(scan, 1000) is True
    assert _rows_at_most(scan, 999) is False
    assert _rows_at_most(scan.limit(5), 1000) is True
    # in-memory frame: no files, nodes outside the scan allowlist
    mem = spark.createDataFrame([(1,)], "x LONG")
    assert _rows_at_most(mem, 10**9) is False
    # join can amplify cardinality -> never provable from footers
    assert _rows_at_most(scan.join(scan, "id"), 10**9) is False
    # sample(withReplacement=True, fraction>1) can EMIT more rows than
    # the input — footer counts are not an upper bound under any Sample
    # node (r11, ADVICE), so sampled plans fall back to the probe
    assert _rows_at_most(scan.sample(True, 2.0, seed=1), 10**9) is False
    assert _rows_at_most(scan.sample(False, 0.5, seed=1), 1000) is False


def test_footer_row_bound(spark, tmp_path):
    """_footer_row_bound: the exact footer sum on pure local scans,
    None when unprovable, early-exit witness when over the limit."""
    from imp_etl_spark.operators.window import _footer_row_bound

    p = str(tmp_path / "b.parquet")
    spark.range(1000).repartition(4).write.parquet(p)
    scan = spark.read.parquet(p)
    assert _footer_row_bound(scan) == 1000
    assert _footer_row_bound(scan.where("id > 990")) == 1000  # bound
    over = _footer_row_bound(scan, limit=10)
    assert over is not None and over > 10  # early-exit witness
    assert _footer_row_bound(scan.join(scan, "id")) is None


def test_trailing_dispatch_boundary_and_derived_support(spark, tmp_path,
                                                       monkeypatch):
    """r11: (a) ADVICE off-by-one — at total == hot_rows with one
    dominant key the metadata path and the probe must agree (seq);
    (b) VERDICT item 3 — the probe support auto-derives from the
    footer row bound, so a sub-1%-share key above hot_rows routes to
    seq where the fixed 0.01 default was blind."""
    from imp_etl_spark.operators import window as W

    # (a) 1000 rows, ONE key, hot_rows=1000: probe rule fires AT the
    # threshold, so the footer path must not claim 'window'
    pa = str(tmp_path / "edge.parquet")
    spark.createDataFrame([("k", i) for i in range(1000)],
                          "user STRING, x LONG").write.parquet(pa)
    W.release_probe_memo()
    probe = spark.read.parquet(pa).select("user")
    monkeypatch.setattr(W, "TRAILING_HOT_ROWS", 1000)
    assert W.resolve_trailing_mode(probe, ["user"]) == "seq"

    # (b) 100k rows, hot key 600 rows = 0.6% share, hot_rows=400:
    # fixed support 0.01 cannot see it (freqItems only guarantees
    # keys above support) -> window; the footer-derived support
    # (0.5*400/100000 = 0.002) finds and exactly counts it -> seq
    pb = str(tmp_path / "sub1pct.parquet")
    spark.range(100_000).select(
        F.when(F.col("id") < 600, "hot")
        .otherwise(F.concat(F.lit("u"), F.col("id"))).alias("user")) \
        .write.parquet(pb)
    probe_b = spark.read.parquet(pb).select("user")
    # the support that actually reaches the probe: a set
    # TRAILING_SUPPORT wins;
    # otherwise footer-derived (asserting 'window' under the 0.01
    # default would be flaky — freqItems returns a SUPERSET, so a
    # below-support key CAN get lucky; the guarantee is one-sided)
    seen: list[float] = []
    real_stats = W.top_key_stats

    def spying_stats(df, keys, support=0.125, memo=False):
        seen.append(support)
        return real_stats(df, keys, support, memo=memo)

    W.release_probe_memo()
    monkeypatch.setattr(W, "TRAILING_HOT_ROWS", 400)
    try:
        W.top_key_stats = spying_stats
        with monkeypatch.context() as m:
            m.setattr(W, "TRAILING_SUPPORT", 0.01)
            W.resolve_trailing_mode(probe_b, ["user"])
        W.release_probe_memo()
        assert W.resolve_trailing_mode(probe_b, ["user"]) == "seq"
    finally:
        W.top_key_stats = real_stats
    assert seen == [0.01, 0.5 * 400 / 100_000]
    W.release_probe_memo()


def test_probe_memo_cap(spark, tmp_path, monkeypatch):
    """_PROBE_MEMO stays bounded: beyond the cap the oldest slot is
    evicted (ADVICE r9 — sessions that never hit the release hooks
    must not pin unbounded JVM plan references)."""
    from imp_etl_spark.operators import window as W

    p = str(tmp_path / "m.parquet")
    spark.createDataFrame(
        [("k%d" % (i % 3), i) for i in range(64)],
        "user STRING, x LONG").write.parquet(p)
    scan = spark.read.parquet(p)
    W.release_probe_memo()
    monkeypatch.setattr(W, "_PROBE_MEMO_CAP", 2)
    # distinct FRAMES (the memo keys by plan hash since r11 — probes
    # over one plan at several supports share a slot by design)
    for i, sup in enumerate((0.11, 0.12, 0.13, 0.14)):
        W.top_key_share(scan.where(F.col("x") >= i).select("user"),
                        ["user"], support=sup, memo=True)
    assert len(W._PROBE_MEMO) == 2
    # the survivors are the NEWEST two slots (their stored supports)
    assert sorted(e[1] for v in W._PROBE_MEMO.values()
                  for e in v) == [0.13, 0.14]
    W.release_probe_memo()


def test_trailing_time_sums_modes_bitequal(spark):
    """trailing_time_sums (r10): the window RANGE frame and the
    prefix-difference seq machinery are bit-equal on adversarial data —
    hot key, NULL keys, NULL ts (peer group), NULL values (a frame of
    only-NULL values must sum to NULL, not 0 — the fuzz-919 class:
    presence rides as its own prefix), same-instant tie bursts,
    negative decimals — and reject non-exact (double) sum columns."""
    import random
    from decimal import Decimal

    from imp_etl_spark.operators.window import trailing_time_sums

    rng = random.Random(11)
    base = 1_700_000_000
    rows = []
    for i in range(2000):
        user = None if i % 97 == 0 else ("bot" if i % 3 else f"u{i % 40}")
        ts = None if i % 53 == 0 else base + rng.randint(0, 5 * 86400)
        if i % 7 == 0 and ts:
            ts = base + 1234  # same-instant burst
        v = (None if i % 11 == 0
             else Decimal(rng.randint(-10**6, 10**6)) / 1000)
        rows.append((user, ts, v, i))
    # a key whose values are ALL NULL: every frame must sum to NULL
    for j in range(20):
        rows.append(("nuller", base + j * 3600, None, 2000 + j))
    df = (spark.createDataFrame(
        rows, "user STRING, ep LONG, v DECIMAL(18,3), rid LONG")
        .withColumn("ts", F.timestamp_seconds("ep")).drop("ep"))

    outs = {}
    for mode in ("window", "seq"):
        r = trailing_time_sums(
            df, "user", "ts", "'24' hours",
            sums={"rsum": "v"}, count_col="rcnt", mode=mode)
        assert r.schema["rsum"].dataType.simpleString() == "decimal(28,3)"
        ridx = r.columns.index("rid")
        outs[mode] = sorted((tuple(x) for x in r.collect()),
                            key=lambda t: t[ridx])
    assert outs["window"] == outs["seq"] and len(outs["window"]) == 2020
    nul = [t for t in outs["seq"] if t[0] == "nuller"]
    assert nul and all(t[r.columns.index("rsum")] is None for t in nul)

    # empty input, both shapes
    for mode in ("window", "seq"):
        assert trailing_time_sums(
            df.limit(0), "user", "ts", "'24' hours",
            sums={"rsum": "v"}, mode=mode).count() == 0

    # float sums reassociate across the shapes -> rejected up front
    dd = df.withColumn("f", F.col("v").cast("double"))
    with pytest.raises(AssertionError, match="exact-additive"):
        trailing_time_sums(dd, "user", "ts", "'1' hour",
                           sums={"fs": "f"}, mode="seq")


def test_trailing_time_sums_auto_dispatch(spark):
    """auto mode picks seq when the hottest key's absolute count
    crosses TRAILING_HOT_ROWS and window otherwise (count-based —
    the quadratic sliding-frame cost depends on size, not share)."""
    from imp_etl_spark.operators import window as W

    base = 1_700_000_000
    hot = spark.createDataFrame(
        [("bot" if i % 10 else f"u{i}", base + i, i) for i in range(800)],
        "user STRING, ep LONG, rid LONG").withColumn(
        "ts", F.timestamp_seconds("ep")).withColumn(
        "one", F.lit(1).cast("long"))
    uni = spark.createDataFrame(
        [(f"u{i % 50}", base + i, i) for i in range(800)],
        "user STRING, ep LONG, rid LONG").withColumn(
        "ts", F.timestamp_seconds("ep")).withColumn(
        "one", F.lit(1).cast("long"))
    W.release_probe_memo()
    # the dispatch keys on the hottest key's ABSOLUTE count (the
    # window shape's one-task cost is quadratic in it): with the cap
    # lowered to 100, the 720-row hot key -> seq plan (no per-key
    # RANGE Window node) while the uniform frame (16 rows/key) ->
    # window plan (has one)
    with mock.patch.object(W, "TRAILING_HOT_ROWS", 100):
        plan_hot = W.trailing_time_sums(
            hot, "user", "ts", "'1' hour", sums={"s": "one"})._jdf \
            .queryExecution().optimizedPlan().toString()
        assert "specifiedwindowframe(RangeFrame" not in plan_hot
        plan_uni = W.trailing_time_sums(
            uni, "user", "ts", "'1' hour", sums={"s": "one"})._jdf \
            .queryExecution().optimizedPlan().toString()
        assert "specifiedwindowframe(RangeFrame" in plan_uni
    # default cap (50k): both tiny frames stay on the window shape
    plan_hot2 = W.trailing_time_sums(
        hot, "user", "ts", "'1' hour", sums={"s": "one"})._jdf \
        .queryExecution().optimizedPlan().toString()
    assert "specifiedwindowframe(RangeFrame" in plan_hot2
    W.release_probe_memo()

"""ewma_scan (operators/recurrence.py): the distributed rescaled scan
must match the naive per-key sequential recursion to float precision,
be BIT-equal between its window and seq (group_rank) rank modes, be
invariant to partition count and chunk size (within float tolerance),
and handle null keys, hot keys, single-row keys and alpha edge cases.
"""

from __future__ import annotations

import math
import random
from unittest import mock

import pytest
from pyspark.sql import functions as F  # noqa: F401

from imp_etl_spark.operators import recurrence
from imp_etl_spark.operators.recurrence import _chunk_size, ewma_scan


def _naive(rows, alpha):
    """rows: (key, ts, eid, v) — per-key sequential recursion."""
    out = {}
    by_key: dict = {}
    for k, ts, eid, v in sorted(
            rows, key=lambda r: ((r[0] is not None, r[0] or ""),
                                 r[1], r[2])):
        s = by_key.get(k)
        s = v if s is None or k not in by_key else alpha * v + (1 - alpha) * s
        by_key[k] = s
        out[eid] = s
    return out


def _mixed_rows(n=1200, seed=5):
    rng = random.Random(seed)
    rows = [("bot" if i % 3 else rng.choice([None, "u0", "u1", "u2", "u3"]),
             rng.randint(0, 10**6), i, rng.uniform(-50.0, 50.0))
            for i in range(n)]
    rows.append(("lone", 7, n + 1, 3.5))  # single-row key
    return rows


@pytest.mark.parametrize("alpha", [0.3, 0.9])
def test_ewma_scan_matches_naive_both_modes(spark, alpha):
    rows = _mixed_rows()
    df = spark.createDataFrame(
        rows, "user STRING, ts LONG, eid LONG, v DOUBLE")
    ref = _naive(rows, alpha)
    results = {}
    for mode in ("window", "seq"):
        got = {r["eid"]: r["ewma"] for r in ewma_scan(
            df, ["user"], ["ts", "eid"], "v", alpha, mode=mode).collect()}
        assert set(got) == set(ref)
        for eid in ref:
            assert got[eid] == pytest.approx(ref[eid], rel=1e-11, abs=1e-11)
        results[mode] = sorted(got.items())
    # the two rank modes share every float op after the rank — BIT-equal
    assert results["window"] == results["seq"]


def test_ewma_scan_chunk_boundaries_and_partition_invariance(spark):
    """Tiny chunks force the carry chain through many boundaries; the
    answer must stay at float tolerance of the one-chunk form and of
    the naive recursion, at several partition counts."""
    rows = _mixed_rows(n=400, seed=9)
    df = spark.createDataFrame(
        rows, "user STRING, ts LONG, eid LONG, v DOUBLE")
    alpha = 0.25
    ref = _naive(rows, alpha)
    for chunk, nparts in ((3, 5), (7, 32), (64, 1)):
        got = {r["eid"]: r["ewma"] for r in ewma_scan(
            df, ["user"], ["ts", "eid"], "v", alpha, mode="seq",
            num_partitions=nparts, chunk_size=chunk).collect()}
        for eid in ref:
            assert got[eid] == pytest.approx(ref[eid], rel=1e-11,
                                             abs=1e-11), (chunk, nparts)


def test_ewma_scan_alpha_one_is_identity(spark):
    df = spark.createDataFrame(
        [("a", 1, 1, 5.0), ("a", 2, 2, -7.0), ("b", 1, 3, 0.0)],
        "user STRING, ts LONG, eid LONG, v DOUBLE")
    got = {r["eid"]: r["ewma"] for r in ewma_scan(
        df, ["user"], ["ts", "eid"], "v", 1.0, mode="window").collect()}
    assert got == {1: 5.0, 2: -7.0, 3: 0.0}


def test_chunk_size_bounds():
    """The rescale factor beta^-(C-1) must stay inside double range."""
    for alpha in (0.001, 0.01, 0.1, 0.3, 0.5, 0.9, 0.999):
        c = _chunk_size(alpha)
        assert 1 <= c <= 4096
        assert (1.0 - alpha) ** -(c - 1) < math.inf
    assert _chunk_size(1.0) == 1


def test_ewma_chunk1_bitexact_vs_sequential_fold(spark):
    """Fuzz seed 713's class, pinned (r10): at chunk_size=1 the carry
    chain performs literally the sequential fold's IEEE op sequence
    (0.125*x is an exact power-of-two multiply; one rounded multiply +
    one rounded add per element; no FMA on any engine), so the
    UNROUNDED double must match DuckDB's list_reduce fold bit-for-bit
    even at adversarial fuzzer magnitudes — the property that makes
    ewma_unbounded_user's hash oracle sound. (The first registration
    rounded a chunk=64 scan to a 1e-3 grid; seed 713 found a value
    within scan-error of a boundary within 15 seed-runs.)"""
    import random

    import duckdb

    from imp_etl_spark.operators.recurrence import ewma_scan

    rng = random.Random(713)
    rows = [(f"u{i % 23}", 1_700_000_000 + rng.randint(0, 10**7), i,
             rng.choice([1, -1]) * round(10 ** rng.uniform(0, 9), 2))
            for i in range(3000)]
    df = spark.createDataFrame(
        rows, "user_id STRING, ep LONG, event_id LONG, x DOUBLE"
    ).withColumn("ts", F.timestamp_seconds("ep"))
    s = ewma_scan(df.select("user_id", "ts", "event_id", "x"),
                  ["user_id"], ["ts", "event_id"], "x", 0.125,
                  chunk_size=1)
    fin = s.groupBy("user_id").agg(
        F.expr("max_by(ewma, struct(ts, event_id))").alias("f"))
    got = {r["user_id"]: r["f"] for r in fin.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (user_id VARCHAR, ep BIGINT, "
                "event_id BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    want = dict(con.execute("""
        SELECT user_id,
               list_reduce(xs, (acc, e) -> 0.125*e + 0.875*acc)
        FROM (SELECT user_id, list(x ORDER BY ep, event_id) AS xs
              FROM t GROUP BY user_id)""").fetchall())
    con.close()
    assert got == want  # BIT-exact: == on raw doubles, no tolerance

def test_ewma_final_matches_scan_and_fold(spark):
    """ewma_final (r11, VERDICT item 1): the terminal chain carry IS
    s_N — per key it must (a) bit-match the sequential fold at
    chunk_size=1, (b) agree with aggregating ewma_scan's last row at
    default chunking to float tolerance, (c) count n_events exactly,
    (d) keep NULL keys as real groups, and (e) be identical between
    the driver chain and the distributed Arrow chain (cap toggled)."""
    rows = _mixed_rows(n=900, seed=11)
    df = spark.createDataFrame(
        rows, "user STRING, ts LONG, eid LONG, v DOUBLE")
    from imp_etl_spark.operators.recurrence import ewma_final

    alpha = 0.125
    ref = _naive(rows, alpha)
    # last eid / count per key from the raw rows
    last, cnt = {}, {}
    for k, ts, eid, v in sorted(
            rows, key=lambda r: ((r[0] is not None, r[0] or ""),
                                 r[1], r[2])):
        last[k] = eid
        cnt[k] = cnt.get(k, 0) + 1

    # (a) chunk=1: bit-exact vs the naive sequential fold
    got1 = {r["user"]: (r["n_events"], r["ewma_final"])
            for r in ewma_final(df, ["user"], ["ts", "eid"], "v",
                                alpha, chunk_size=1).collect()}
    assert set(got1) == set(cnt)  # incl. the None key
    for k in cnt:
        assert got1[k][0] == cnt[k]
        assert got1[k] == (cnt[k], ref[last[k]])  # == raw doubles

    # (b)+(e) default chunking: driver chain == distributed chain
    # bit-for-bit, and both at float tolerance of ewma_scan+max_by
    got_drv = {r["user"]: (r["n_events"], r["ewma_final"])
               for r in ewma_final(df, ["user"], ["ts", "eid"], "v",
                                   alpha).collect()}
    # a driver-chain cap of 0 rows: every non-empty summary frame
    # overflows the probe and takes the distributed chain
    with mock.patch.object(recurrence, "EWMA_DRIVER_CHAIN_ROWS", 0):
        got_dist = {r["user"]: (r["n_events"], r["ewma_final"])
                    for r in ewma_final(df, ["user"], ["ts", "eid"],
                                        "v", alpha).collect()}
    assert got_drv == got_dist  # raw-double equality
    s = ewma_scan(df, ["user"], ["ts", "eid"], "v", alpha)
    via_scan = {r["user"]: (r["n"], r["f"]) for r in
                s.groupBy("user").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.expr("max_by(ewma, struct(ts, eid))").alias("f"))
                .collect()}
    assert set(via_scan) == set(got_drv)
    for k in got_drv:
        assert via_scan[k][0] == got_drv[k][0] == cnt[k]
        assert got_drv[k][1] == pytest.approx(via_scan[k][1],
                                              rel=1e-11, abs=1e-11)
        assert got_drv[k][1] == pytest.approx(ref[last[k]],
                                              rel=1e-11, abs=1e-11)


def test_ewma_scan_driver_chain_bitequal_pandas_chain(spark, tmp_path):
    """r11: ewma_scan's carry chain runs on the driver when a LIMIT
    probe proves the summary frame small (and the footer bound allows
    the persist) — the driver chain must be bit-equal to the
    distributed pandas chain on the same data (identical op
    sequence), parquet-backed so the persist path engages too."""
    rows = _mixed_rows(n=700, seed=13)
    p = str(tmp_path / "ev.parquet")
    spark.createDataFrame(
        rows, "user STRING, ts LONG, eid LONG, v DOUBLE"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    alpha = 0.125  # default chunk 2595 -> c_size >= 64 gate open

    def run(chunk):
        return {r["eid"]: r["ewma"] for r in ewma_scan(
            df, ["user"], ["ts", "eid"], "v", alpha,
            chunk_size=chunk).collect()}

    for chunk in (64, None):
        a = run(chunk)
        with mock.patch.object(recurrence, "EWMA_DRIVER_CHAIN_ROWS", 0):
            b = run(chunk)
        assert a == b, chunk  # raw-double equality, every row

"""Incremental streaming ETL (streaming/etl_stream.py): foreachBatch
epochs + checkpoint = the reference's cron micro-batch loop (ST1-ST4)
with exactly-once queue consumption."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imp_etl_spark.plans.upsert import read_target
from imp_etl_spark.sources.parquet import read_table
from imp_etl_spark.streaming.etl_stream import (
    dedup_stream,
    interval_join_stream,
    run_etl_stream,
)
from imp_etl_spark.streaming.windows import stream_events
from tests.conftest import SF_DIR


def _queue_frames(spark):
    """Work-queue mapping (FIXTURES.md family A): orders -> queue."""
    return read_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("log_id"),
        F.col("o_custkey").cast("string").alias("reference_no"),
        F.lit("voucher").alias("table"),
    )


def _entities(spark):
    voucher = read_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").cast("string").alias("voucher_id"),
        F.col("c_custkey").cast("string").alias("reference_no"),
        F.col("c_name").alias("first_name"),
    )
    txn = read_table(spark, SF_DIR, "lineitem").join(
        read_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("voucher_details_id"),
        F.col("o_custkey").cast("string").alias("reference_no"),
        F.col("l_quantity").cast("string").alias("quantity"),
    )
    return voucher, txn


def test_streaming_etl_epochs_merge_and_checkpoint(spark, tmp_path):
    queue = _queue_frames(spark)
    voucher, txn = _entities(spark)
    src = str(tmp_path / "queue_stream")
    ckpt = str(tmp_path / "ckpt")
    vout, tout = str(tmp_path / "voucher"), str(tmp_path / "txn")

    # two files -> (up to) two epochs
    queue.filter(F.col("log_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite").parquet(src)
    queue.filter(F.col("log_id") % 2 == 1).coalesce(1).write.mode(
        "append").parquet(src)

    stream = spark.readStream.schema(
        "log_id BIGINT, reference_no STRING, table STRING").parquet(src)
    summaries: list[dict] = []
    q = run_etl_stream(spark, stream, voucher, txn, vout, tout, ckpt,
                       epoch_summaries=summaries)
    q.awaitTermination(180)

    assert len(summaries) >= 1
    total_v = sum(s["processedVoucherCount"] for s in summaries)
    assert total_v > 0
    # final voucher target = every customer referenced by any order
    target = read_target(spark, vout)
    expect = (queue.select("reference_no").distinct()
              .join(voucher, "reference_no", "left_semi").count())
    assert target.select("voucher_id").distinct().count() == expect

    # restart on the same checkpoint: no new epochs, target unchanged
    before = target.count()
    summaries2: list[dict] = []
    q2 = run_etl_stream(spark, stream, voucher, txn, vout, tout, ckpt,
                        epoch_summaries=summaries2)
    q2.awaitTermination(180)
    assert sum(s["processedVoucherCount"] for s in summaries2) == 0
    assert read_target(spark, vout).count() == before


def test_dedup_stream_drops_within_watermark(spark, tmp_path):
    ev = read_table(spark, SF_DIR, "events").limit(200)
    src = str(tmp_path / "dups")
    # write the same rows twice -> every key re-delivered once
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)

    stream = stream_events(spark, src, spark.read.parquet(src).schema)
    deduped = dedup_stream(stream, ["event_id"], "ts", within="2 hours")
    q = (deduped.writeStream.format("memory").queryName("dedup_stream_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select count(*) c, count(distinct event_id) d "
                    "from dedup_stream_t").collect()[0]
    assert got["c"] == got["d"] == 200


def test_interval_join_stream_matches_batch(spark, tmp_path):
    ev = read_table(spark, SF_DIR, "events")
    src = str(tmp_path / "ij_events")
    ev.coalesce(2).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def split(df):
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts")
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "value")
        return purchases, clicks

    sp, sc = split(stream_events(spark, src, schema))
    joined = interval_join_stream(sp, sc, on="user_id",
                                  left_ts="ts", right_ts="ts",
                                  lower="interval 10 minutes")
    q = (joined.writeStream.format("memory").queryName("ij_stream_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.sql("select count(*) c from ij_stream_t").collect()[0]["c"]

    bp, bc = split(read_table(spark, SF_DIR, "events"))
    want = (bp.alias("l").join(
        bc.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") > F.col("l.ts") - F.expr("interval 10 minutes"))
        & (F.col("r.ts") <= F.col("l.ts"))).count())
    assert got == want


def test_incremental_view_equals_batch_recompute(spark, tmp_path):
    """Streaming monoid view: after two file-arrival epochs, the
    maintained per-customer partials equal the one-shot batch
    aggregation of all delivered rows — and the second epoch's merge
    rewrote only the buckets its keys touch."""
    from imp_etl_spark.streaming.incremental_view import run_incremental_view

    orders = read_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate")
    src = str(tmp_path / "src")
    # two arrival waves -> the file source delivers them as it lists them
    orders.filter(F.col("o_orderkey") % 2 == 0).write.parquet(
        f"{src}/w1", mode="overwrite")
    view = str(tmp_path / "view")
    ck = str(tmp_path / "ck")

    stream = spark.readStream.schema(
        "o_custkey BIGINT, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ"
    ).option("recursiveFileLookup", "true").parquet(src)

    q = run_incremental_view(spark, stream, view, ["o_custkey"],
                             "o_totalprice", "o_orderdate", ck,
                             n_buckets=8)
    q.awaitTermination(120)
    orders.filter(F.col("o_orderkey") % 2 == 1).write.parquet(
        f"{src}/w2", mode="overwrite")
    q2 = run_incremental_view(spark, stream, view, ["o_custkey"],
                              "o_totalprice", "o_orderdate", ck,
                              n_buckets=8)
    q2.awaitTermination(120)

    got = {r["o_custkey"]: (r["n_rows"], float(r["value_sum"]))
           for r in read_target(spark, view).collect()}
    want = {r["o_custkey"]: (r["n"], float(r["s"]))
            for r in orders.groupBy("o_custkey").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("s")).collect()}
    assert got == want


def test_incremental_view_replayed_epoch_does_not_double_count(
        spark, tmp_path):
    """Genuine at-least-once replay: after epoch 0 commits the sink,
    delete the checkpoint's commit marker (the crash window between
    sink commit and offset-log commit) and restart. Spark re-runs batch
    0 with the same epoch id and the same data; without the txn fence
    the read-modify-write epoch would re-add partials that already
    contain the batch and double every count."""
    import os

    from imp_etl_spark.streaming.incremental_view import run_incremental_view

    orders = read_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate")
    src, view, ck = (str(tmp_path / d) for d in ("src", "view", "ck"))
    orders.write.parquet(f"{src}/w1", mode="overwrite")
    stream = spark.readStream.schema(
        "o_custkey BIGINT, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ"
    ).option("recursiveFileLookup", "true").parquet(src)

    q = run_incremental_view(spark, stream, view, ["o_custkey"],
                             "o_totalprice", "o_orderdate", ck,
                             n_buckets=8, view_id="replay-view")
    assert q.awaitTermination(120)
    # simulate the crash window: the checkpoint as it looked BEFORE the
    # offset-log commit of epoch 0 (offsets/0 written, commits/0 not) —
    # restarting from it replays batch 0 with the same epoch id and
    # data. A fresh copy sidesteps Spark's per-path commit-log cache;
    # the explicit view_id keeps the fence identity with the query.
    import shutil

    ck2 = str(tmp_path / "ck_replay")
    shutil.copytree(ck, ck2)
    os.remove(os.path.join(ck2, "commits", "0"))
    # drop the local-FS checksum shadow too, else Hadoop's checksum FS
    # chokes re-writing the commit marker it thinks it never wrote
    crc = os.path.join(ck2, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = run_incremental_view(spark, stream, view, ["o_custkey"],
                              "o_totalprice", "o_orderdate", ck2,
                              n_buckets=8, view_id="replay-view")
    assert q2.awaitTermination(120)

    got = {r["o_custkey"]: (r["n_rows"], float(r["value_sum"]))
           for r in read_target(spark, view).collect()}
    want = {r["o_custkey"]: (r["n"], float(r["s"]))
            for r in orders.groupBy("o_custkey").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("s")).collect()}
    assert got == want


def test_incremental_view_adopts_existing_bucket_count(spark, tmp_path):
    """A restart with a different n_buckets default adopts the
    manifest's bucket count instead of silently degrading every epoch
    to a full rewrite."""
    from imp_etl_spark.plans import upsert as U
    from imp_etl_spark.streaming.incremental_view import run_incremental_view

    orders = read_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate")
    src, view, ck = (str(tmp_path / d) for d in ("src", "view", "ck"))
    orders.filter(F.col("o_custkey") % 2 == 0).write.parquet(
        f"{src}/w1", mode="overwrite")
    stream = spark.readStream.schema(
        "o_custkey BIGINT, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ"
    ).option("recursiveFileLookup", "true").parquet(src)
    q = run_incremental_view(spark, stream, view, ["o_custkey"],
                             "o_totalprice", "o_orderdate", ck, n_buckets=8)
    assert q.awaitTermination(120)
    assert U.current_n_buckets(view) == 8

    orders.filter(F.col("o_custkey") % 2 == 1).write.parquet(
        f"{src}/w2", mode="overwrite")
    # restart with a DIFFERENT default: must adopt 8, not rebucket to 16
    q2 = run_incremental_view(spark, stream, view, ["o_custkey"],
                              "o_totalprice", "o_orderdate", ck,
                              n_buckets=16)
    assert q2.awaitTermination(120)
    assert U.current_n_buckets(view) == 8

    got = {r["o_custkey"]: r["n_rows"]
           for r in read_target(spark, view).collect()}
    want = {r["o_custkey"]: r["n"]
            for r in orders.groupBy("o_custkey").agg(
                F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_direct_stream_run_releases_dedup_caches(spark, tmp_path):
    """VERDICT r7 item 4: ``run_etl_stream`` called DIRECTLY (no
    controller) must release the query tier's tracked persists after
    each epoch. Seed the owner with a genuine tracked persist (what a
    dedup query leaves behind), run one epoch, and the owner must come
    back empty with the frame unpersisted."""
    from imp_etl_spark.operators import util

    util.release_query_caches(blocking=True)
    seeded = util.persist(spark.range(8).withColumnRenamed("id", "id_a"))
    seeded.count()  # materialize the cache entry
    assert len(util._QUERY_PERSISTS) == 1
    assert seeded.storageLevel.useMemory

    voucher, txn = _entities(spark)
    stream = _queue_stream(spark, _queue_frames(spark).limit(50), tmp_path)
    q = run_etl_stream(spark, stream, voucher, txn,
                       str(tmp_path / "voucher"), str(tmp_path / "txn"),
                       str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    assert util._QUERY_PERSISTS == []
    assert not seeded.storageLevel.useMemory  # actually unpersisted


# ---------------------------------------------------------------------------
# A scheduled epoch runs the forced run's body (plans/runner._run_etl)
# ---------------------------------------------------------------------------

def _queue_stream(spark, queue, tmp_path):
    """``queue`` written as one file and read back as a stream: one
    availableNow epoch."""
    src = str(tmp_path / "queue_stream")
    queue.coalesce(1).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(
        "log_id BIGINT, reference_no STRING, table STRING").parquet(src)


def _merge_failing_on(monkeypatch, path: str, failures: int | None):
    """Patch ``runner.merge_upsert`` so merges into ``path`` raise the
    first ``failures`` times (every time when None); returns the call
    counter and the real function."""
    import imp_etl_spark.plans.runner as runner

    real = runner.merge_upsert
    calls = {"n": 0}

    def flaky(spark_, path_, batch, key, order_col=None, **kw):
        if path_ == path:
            calls["n"] += 1
            if failures is None or calls["n"] <= failures:
                raise RuntimeError("sink is down")
        return real(spark_, path_, batch, key, order_col, **kw)

    monkeypatch.setattr(runner, "merge_upsert", flaky)
    return calls, real


def _expected_vouchers(queue, voucher) -> int:
    return (queue.select("reference_no").distinct()
            .join(voucher, "reference_no", "left_semi").count())


def test_epoch_retries_transient_merge_failure(spark, tmp_path,
                                               monkeypatch):
    """ST8 in a scheduled epoch: a voucher merge that fails twice and
    then succeeds is retried, and the epoch commits with the counts of
    its slice."""
    vout, tout = str(tmp_path / "voucher"), str(tmp_path / "txn")
    calls, _ = _merge_failing_on(monkeypatch, vout, failures=2)
    queue = _queue_frames(spark)
    voucher, txn = _entities(spark)
    summaries: list[dict] = []
    q = run_etl_stream(spark, _queue_stream(spark, queue, tmp_path),
                       voucher, txn, vout, tout, str(tmp_path / "ckpt"),
                       epoch_summaries=summaries)
    assert q.awaitTermination(180)
    assert q.exception() is None
    assert calls["n"] == 3                      # 2 failures + 1 success
    expect = _expected_vouchers(queue, voucher)
    assert [s["epochId"] for s in summaries] == [0]
    assert summaries[0]["processedVoucherCount"] == expect
    assert read_target(spark, vout).count() == expect
    assert (summaries[0]["processedTransactionCount"]
            == read_target(spark, tout).count() > 0)


def test_epoch_merge_failure_stops_query_and_replays(spark, tmp_path,
                                                     monkeypatch):
    """A voucher merge that fails on every retry fails the epoch: the
    query terminates with the error and records no summary, and the
    micro-batch's offsets stay uncommitted. A restart on the same
    checkpoint with a healthy sink processes the slice (the transaction
    branch, which did commit, is rewritten idempotently)."""
    from pyspark.errors import StreamingQueryException

    import imp_etl_spark.plans.runner as runner

    vout, tout = str(tmp_path / "voucher"), str(tmp_path / "txn")
    ckpt = str(tmp_path / "ckpt")
    calls, real = _merge_failing_on(monkeypatch, vout, failures=None)
    queue = _queue_frames(spark)
    voucher, txn = _entities(spark)
    stream = _queue_stream(spark, queue, tmp_path)
    summaries: list[dict] = []
    q = run_etl_stream(spark, stream, voucher, txn, vout, tout, ckpt,
                       epoch_summaries=summaries, _sleep=lambda _s: None)
    with pytest.raises(StreamingQueryException, match="sink is down"):
        q.awaitTermination(180)
    assert calls["n"] == runner.RETRY_LIMIT
    assert summaries == []
    txn_rows = read_target(spark, tout).count()

    monkeypatch.setattr(runner, "merge_upsert", real)
    q2 = run_etl_stream(spark, stream, voucher, txn, vout, tout, ckpt,
                        epoch_summaries=summaries)
    assert q2.awaitTermination(180)
    assert q2.exception() is None
    expect = _expected_vouchers(queue, voucher)
    assert [s["epochId"] for s in summaries] == [0]
    assert summaries[0]["processedVoucherCount"] == expect
    assert read_target(spark, vout).count() == expect
    assert read_target(spark, tout).count() == txn_rows


def test_epoch_summary_samples_missing_ref_warnings(spark, tmp_path):
    """J3 in a scheduled epoch: a queue ref with no entity rows shows up
    in the epoch summary's ``warningSample``, as in ``run_etl``'s."""
    voucher, txn = _entities(spark)
    # five refs with both voucher and transaction rows, plus one with
    # neither
    good = (_queue_frames(spark)
            .join(voucher.select("reference_no"), "reference_no",
                  "left_semi")
            .join(txn.select("reference_no"), "reference_no", "left_semi")
            .limit(5).select("log_id", "reference_no", "table"))
    gone = spark.createDataFrame([(10 ** 9, "REF-GONE", "voucher")],
                                 "log_id BIGINT, reference_no STRING, "
                                 "table STRING")
    summaries: list[dict] = []
    q = run_etl_stream(spark, _queue_stream(spark, good.unionByName(gone),
                                            tmp_path),
                       voucher, txn, str(tmp_path / "voucher"),
                       str(tmp_path / "txn"), str(tmp_path / "ckpt"),
                       epoch_summaries=summaries)
    assert q.awaitTermination(180)
    assert len(summaries) == 1
    assert sorted(summaries[0]["warningSample"]) == [
        "No transaction data found for reference: REF-GONE",
        "No voucher data found for reference: REF-GONE"]

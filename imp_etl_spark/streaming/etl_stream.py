"""Incremental streaming ETL: the reference's micro-batch loop as a
Structured Streaming query.

The reference IS a micro-batch incremental system (SURVEY.md §2.8): a
cron clock fires ``runEtlProcess``, which pages the work queue by
LIMIT/OFFSET (ST3, ``services/etlService.js:549-570``), re-processing the
full queue every run because nothing marks records consumed (ST4), with
idempotence coming from the upsert sink. Structured Streaming is the
exact-fit execution model:

- new work-queue files -> micro-batch epochs (``foreachBatch``), replacing
  the moving-table LIMIT/OFFSET pagination with per-epoch snapshots;
- the checkpoint directory replaces the missing consumed-marker — each
  queue record is processed exactly once across restarts (an improvement
  the reference documents the need for, SURVEY §2.8 ST4);
- the idempotent MERGE sink makes replayed epochs harmless, matching
  ``ON DUPLICATE KEY UPDATE`` semantics;
- ``trigger(availableNow=True)`` = the force-run endpoint (ST2);
  ``trigger(processingTime=...)`` = the cron schedule (ST1);
  ``query.stop()`` = ST5.

Scale notes: each epoch runs the same broadcast-semi-join + cleanse +
dedup + MERGE plan as the batch pipeline — per-epoch work is bounded by
the new queue slice, not the full queue, so steady-state cost tracks the
change rate (the reference's full-queue rescan cost tracked total
history).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from imp_etl_spark.operators.util import release_query_caches
from imp_etl_spark.plans.pipeline import build_pipeline
from imp_etl_spark.plans.upsert import merge_upsert, sink_layout


def run_etl_stream(spark: SparkSession, queue_stream: DataFrame,
                   voucher: DataFrame, transaction: DataFrame,
                   voucher_path: str, txn_path: str,
                   checkpoint_dir: str,
                   voucher_key: list[str] | None = None,
                   transaction_key: list[str] | None = None,
                   order_col: str = "reference_no",
                   compat: bool = True,
                   available_now: bool = True,
                   processing_time: str | None = None,
                   epoch_summaries: list[dict[str, Any]] | None = None,
                   on_epoch_end: Callable[[], Any] | None =
                   release_query_caches,
                   ) -> StreamingQuery:
    """Start the incremental ETL query over a streaming work queue.

    ``queue_stream`` is a streaming frame of (log_id, reference_no,
    table); each micro-batch drives one epoch of the batch pipeline
    against the (batch) entity frames and MERGEs both branches.
    ``epoch_summaries``, if given, collects one reference-shaped summary
    dict per epoch (driver-side list — test/observability hook).
    ``on_epoch_end`` runs driver-side after each epoch commits; its
    failure must not fail the epoch. It DEFAULTS to
    ``operators.util.release_query_caches`` (the same between-epoch
    hygiene the controller wires in), so direct callers get the bounded
    query-cache lifecycle without opting in; pass ``None`` to disable,
    or your own callable to replace it.
    """
    vkey = voucher_key or ["voucher_id", "reference_no"]
    tkey = transaction_key or ["voucher_details_id", "reference_no"]

    def _epoch(batch_queue: DataFrame, epoch_id: int) -> None:
        # fused dedup↔bucket layout in each table's own bucket count,
        # same as the batch runner (plans/runner.py)
        v_nb, v_fpb = sink_layout(spark, voucher_path)
        t_nb, t_fpb = sink_layout(spark, txn_path)
        result = build_pipeline(batch_queue, voucher, transaction,
                                voucher_key=vkey, transaction_key=tkey,
                                order_col=order_col, compat=compat,
                                sink_buckets=(v_nb, t_nb),
                                sink_files_per_bucket=(v_fpb, t_fpb))
        # the branches end in their own per-key dedup on the same keys,
        # so the merge's defensive re-dedup Window pass is skipped
        merge_upsert(spark, voucher_path, result.voucher.valid, vkey,
                     order_col, n_buckets=v_nb, files_per_bucket=v_fpb,
                     batch_is_unique=True, batch_pre_clustered=True)
        merge_upsert(spark, txn_path, result.transaction.valid, tkey,
                     order_col, n_buckets=t_nb, files_per_bucket=t_fpb,
                     batch_is_unique=True, batch_pre_clustered=True)
        # the merges executed both observed plans: mark the branches so
        # the counter reads below come free from observe() instead of
        # re-running two count() jobs per epoch (same contract as the
        # batch runner, plans/runner.py)
        result.voucher.executed = True
        result.transaction.executed = True
        pv = result.voucher.processed_count()
        pt = result.transaction.processed_count()
        sv = result.voucher.skipped_count()
        st = result.transaction.skipped_count()
        for branch in (result.voucher, result.transaction):
            if branch.cleansed is not None:
                branch.cleansed.unpersist()
        if epoch_summaries is not None:
            epoch_summaries.append({
                "epochId": epoch_id,
                "processedVoucherCount": pv,
                "processedTransactionCount": pt,
                "skippedVoucherCount": sv,
                "skippedTransactionCount": st,
            })
        if on_epoch_end is not None:
            try:
                on_epoch_end()
            except Exception:
                pass  # hygiene hook must never fail a committed epoch

    writer = (queue_stream.writeStream
              .foreachBatch(_epoch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(events: DataFrame, keys: list[str], ts_col: str = "ts",
                 within: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` arriving within
    the watermark delay (``dropDuplicatesWithinWatermark``) — the
    streaming analog of the idempotent-sink re-delivery tolerance (ST4).
    State is bounded: a key's fingerprint is evicted once the watermark
    passes it, so memory tracks the duplicate window, not the stream.
    """
    from pyspark.sql import functions as F

    cast = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return cast.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(keys)


def interval_join_stream(left: DataFrame, right: DataFrame, on: str,
                         left_ts: str, right_ts: str,
                         lower: str = "interval 10 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: match right rows within
    ``(left_ts - lower, left_ts]`` per key — e.g. clicks preceding a
    purchase. Both sides carry watermarks so the join state store evicts
    rows older than watermark + interval bound (unbounded without them).

    Output contract: alongside both sides' original columns, the frame
    carries ``__l_<left_ts>`` / ``__r_<right_ts>`` — the timestamp-cast
    copies the watermarks ride on. They are deliberately KEPT: when the
    two sides name their event time identically (the common case), the
    originals are ambiguous after the join and these copies are the
    only unambiguous per-side handles (see `stream_interval_join` in
    queries.py). Select/rename away what you don't need.
    """
    from pyspark.sql import functions as F

    lt, rt = f"__l_{left_ts}", f"__r_{right_ts}"
    lw = (left.withColumn(lt, F.col(left_ts).cast("timestamp"))
          .withWatermark(lt, watermark)
          .withColumnRenamed(on, "__l_key"))
    rw = (right.withColumn(rt, F.col(right_ts).cast("timestamp"))
          .withWatermark(rt, watermark)
          .withColumnRenamed(on, "__r_key"))
    cond = (
        (F.col("__l_key") == F.col("__r_key"))
        & (F.col(rt) > F.col(lt) - F.expr(lower))
        & (F.col(rt) <= F.col(lt))
    )
    return (lw.join(rw, cond, "inner")
            .withColumnRenamed("__l_key", on)
            .drop("__r_key"))

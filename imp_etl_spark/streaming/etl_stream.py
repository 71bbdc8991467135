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
- each epoch runs the forced run's own body (``plans/runner.py``
  ``_run_etl``) on its slice, as every reference cron fire re-enters
  ``runEtlProcess``: the same plan, concurrent branch merges, ST8 retry,
  J3 warning sample and sinks;
- the checkpoint directory replaces the missing consumed-marker — each
  queue record is processed exactly once across restarts (an improvement
  the reference documents the need for, SURVEY §2.8 ST4), so an epoch
  runs with no watermark;
- an epoch whose merge exhausts its retries raises, so the micro-batch's
  offsets are not committed and its slice is replayed (the run's
  watermark likewise holds back). The branch that did commit is replayed
  too, which the idempotent last-writer-wins sink makes harmless,
  matching ``ON DUPLICATE KEY UPDATE`` semantics;
- each query drains what has arrived (``trigger(availableNow=True)``)
  and stops: the wall-clock scheduler (plans/cron.py) starts one per
  schedule fire (ST1), and ``query.stop()`` = ST5.

Scale notes: per-epoch work is bounded by the new queue slice, not the
full queue, so steady-state cost tracks the change rate (the
reference's full-queue rescan cost tracked total history).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from imp_etl_spark.operators.util import release_query_caches
from imp_etl_spark.plans.runner import _run_etl


def run_etl_stream(spark: SparkSession, queue_stream: DataFrame,
                   voucher: DataFrame, transaction: DataFrame,
                   voucher_path: str, txn_path: str,
                   checkpoint_dir: str,
                   epoch_summaries: list[dict[str, Any]] | None = None,
                   **options: Any) -> StreamingQuery:
    """Start the incremental ETL query over a streaming work queue.

    ``queue_stream`` is a streaming frame of (log_id, reference_no,
    table); each micro-batch runs one ETL fire against the (batch)
    entity frames. ``options`` are the fire's keyword arguments
    (``plans.runner._run_etl``, the same set ``run_etl`` takes, minus
    ``watermark``). The query runs over the data available at start
    (``availableNow``) and then terminates.
    ``epoch_summaries``, if given, collects each committed epoch's
    run summary plus its ``epochId`` (driver-side list — test and
    observability hook). After every epoch, committed or not, the
    query tier's tracked persists are released
    (``operators.util.release_query_caches``). An epoch whose merge
    fails after its retries raises: the query stops with that error and
    its slice is replayed on the next start from the checkpoint.
    """
    def _epoch(batch_queue: DataFrame, epoch_id: int) -> None:
        try:
            summary, committed = _run_etl(
                spark, batch_queue, voucher, transaction, voucher_path,
                txn_path, watermark=None, **options)
            if not committed:
                raise RuntimeError(
                    f"ETL epoch {epoch_id} not committed: "
                    + "; ".join(summary["warningSample"]))
            if epoch_summaries is not None:
                epoch_summaries.append({**summary, "epochId": epoch_id})
        finally:
            release_query_caches()

    return (queue_stream.writeStream
            .foreachBatch(_epoch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(availableNow=True)
            .start())


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

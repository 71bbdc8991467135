"""ETL fire driver — parity with ``runEtlProcess``
(``services/etlService.js:526-583``) and the control-plane semantics the
Express API wraps around it (SURVEY.md §2.8).

One call = one fire over the current work queue: build the pipeline
plan, upsert both branches concurrently with the ST8 retry, return the
run summary dict the reference returns (processed/skipped counts,
durations, warnings sample). Every entry point runs this one body, as
the reference's force endpoint and cron both call ``runEtlProcess``
(``index.js:75-86,131``): ``run_etl`` is the forced run, and each
scheduled streaming epoch (``streaming/etl_stream.py``) runs
``_run_etl`` on its micro-batch. Improvements kept from SURVEY §7.6:

- **High-watermark** on ``log_id`` (ST4): the reference re-processes the
  entire queue every run because nothing marks records consumed; we
  filter ``log_id > watermark`` and return the new watermark. Pass
  ``watermark=None`` for full-reprocess parity (idempotent sink makes
  both correct); a streaming epoch passes None because its checkpoint
  is the consumed-marker.
- Counters come from DataFrame aggregation (exact, distributed), not
  driver-side increments; the skipped side-outputs are returned as
  frames so callers can persist warnings instead of log-scraping.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from imp_etl_spark.plans.pipeline import BranchResult, build_pipeline
from imp_etl_spark.plans.upsert import (_observed_count, merge_upsert,
                                        sink_layout, upserted_rows)

#: ST8 parity (services/etlService.js:13-14): 3 attempts, 1000 ms apart
RETRY_LIMIT = 3
RETRY_DELAY_S = 1.0


def retry_with_delay(fn: Callable[[], Any], label: str,
                     warnings_out: list[str],
                     sleep: Callable[[float], None] = time.sleep,
                     ) -> tuple[int, Any | None, bool]:
    """ST8 — the reference's sink retry loop (etlService.js:78-99): up to
    ``RETRY_LIMIT`` attempts with a fixed ``RETRY_DELAY_S`` between
    them; on final failure push the reference-shaped warning and return
    failure instead of raising (the run continues — rows get accounted
    as skipped by the caller). Returns (attempts_made, result,
    succeeded)."""
    attempts = 0
    while attempts < RETRY_LIMIT:
        try:
            result = fn()
            return attempts + 1, result, True
        except Exception as err:  # noqa: BLE001 — sink errors are data
            attempts += 1
            if attempts == RETRY_LIMIT:
                warnings_out.append(f"Failed to process {label} after "
                                    f"{RETRY_LIMIT} retries: {err}")
                return attempts, None, False
            sleep(RETRY_DELAY_S)
    return attempts, None, False


def run_etl(spark: SparkSession, queue: DataFrame, voucher: DataFrame,
            transaction: DataFrame, voucher_path: str, txn_path: str,
            **options: Any) -> dict[str, Any]:
    """Run one ETL fire; returns the reference-shaped run summary
    (etlService.js:576-583) plus the new high-watermark. ``options``
    are :func:`_run_etl`'s keyword arguments."""
    summary, _committed = _run_etl(spark, queue, voucher, transaction,
                                   voucher_path, txn_path, **options)
    return summary


def _run_etl(spark: SparkSession, queue: DataFrame, voucher: DataFrame,
             transaction: DataFrame, voucher_path: str, txn_path: str,
             voucher_key: list[str] | None = None,
             transaction_key: list[str] | None = None,
             order_col: str = "reference_no",
             watermark: int | None = None,
             sink: str = "manifest",
             jdbc_url: str | None = None,
             jdbc_options: dict[str, Any] | None = None,
             _sleep: Callable[[float], None] = time.sleep,
             ) -> tuple[dict[str, Any], bool]:
    """The fire body behind :func:`run_etl` and every scheduled epoch.
    Returns ``(summary, committed)``; ``committed`` is False when a
    branch's merge exhausted its ST8 retries.

    ``sink`` picks the write target (r11): ``"manifest"`` (default) is
    the engine's transactional bucketed-MERGE table at
    ``voucher_path``/``txn_path``; ``"jdbc"`` honors the reference's
    actual MySQL->MySQL deployment end-to-end — the two paths are then
    TABLE names and each branch upserts through
    :func:`~imp_etl_spark.sources.io.upsert_jdbc` (staging table + the
    database's own set-based keyed statement) against ``jdbc_url``
    with ``jdbc_options`` (driver, createTableColumnTypes, ...). Retry,
    counters, warnings and watermark semantics are identical in both
    modes. ``_sleep`` is the retry delay's test seam.
    """
    started = time.time()
    if watermark is not None:
        queue = queue.filter(F.col("log_id") > F.lit(watermark))

    result = build_pipeline(queue, voucher, transaction,
                            voucher_key=voucher_key,
                            transaction_key=transaction_key,
                            order_col=order_col)

    # MERGE first: the writes execute both branches and count the keys
    # they took (processed); the observe() attached in build_pipeline
    # records skipped in that same pass — zero count jobs (A2/A3).
    # The two branches are independent DAGs writing disjoint paths, so
    # submit them as concurrent Spark jobs: their scan/shuffle/write
    # phases interleave across the cluster instead of serializing (the
    # reference runs its two branch upserts sequentially per batch,
    # etlService.js:545-556).
    from concurrent.futures import ThreadPoolExecutor

    # The warning sample (one aggregate over the queue refs and the
    # persisted branch points, plans.pipeline.missing_ref_warnings) and
    # the high-watermark scan are independent of the sink writes —
    # submit them into the same pool so their jobs overlap the merges
    # instead of serializing after them (the persisted cleansed blocks
    # are computed once whichever consumer gets there first;
    # BlockManager serializes per-block computation).
    retry_warnings: list[str] = []
    if sink == "jdbc":
        assert jdbc_url, "sink='jdbc' needs jdbc_url"
        from imp_etl_spark.sources.io import upsert_jdbc

        jopts = dict(jdbc_options or {})

        def write(branch: BranchResult, table: str):
            obs = Observation()  # one per attempt: it attaches once
            upsert_jdbc(branch.valid.observe(
                obs, F.count(F.lit(1)).alias("n")), jdbc_url, table,
                keys=branch.key, **jopts)
            return _observed_count(obs)
    elif sink == "manifest":
        def write(branch: BranchResult, path: str):
            # the merge dedups the rows in the exchange of its write
            n_buckets, files_per_bucket = sink_layout(spark, path)
            version = merge_upsert(spark, path, branch.rows, branch.key,
                                   order_col, n_buckets=n_buckets,
                                   files_per_bucket=files_per_bucket)
            return upserted_rows(path, version)
    else:
        raise ValueError(f"unknown sink {sink!r}")

    def submit(fn, *args, **kwargs):
        # the pool's jobs carry the caller's job group and other local
        # properties; each wrap copies them, so no two threads share one
        return pool.submit(inheritable_thread_target(spark)(fn),
                           *args, **kwargs)

    with ThreadPoolExecutor(max_workers=4) as pool:
        fv = submit(retry_with_delay, lambda: write(result.voucher,
                                                    voucher_path),
                    "voucher records", retry_warnings, sleep=_sleep)
        ft = submit(retry_with_delay, lambda: write(result.transaction,
                                                    txn_path),
                    "transaction records", retry_warnings, sleep=_sleep)
        # sample 5, as the reference logs slice(0,5) (etlService.js:499-510);
        # neither picks a defined 5
        fw = submit(lambda: [
            r["warning"] for r in result.warnings.limit(5).collect()])
        fwm = submit(
            lambda: queue.agg(F.max("log_id").alias("wm")).collect()[0])
        _, v_processed, v_ok = fv.result()
        _, t_processed, t_ok = ft.result()
        missing_warnings = fw.result()
        new_wm_row = fwm.result()
    # a successful write executed the branch's observed plan and counted
    # its keys — counter reads are free; a failed branch (or a count
    # that empty-relation propagation compiled away) falls back to one
    # count() (needed to account its rows as skipped, matching
    # etlService.js:86-92)
    result.voucher.executed = v_ok
    result.transaction.executed = t_ok
    processed_voucher = (v_processed if v_processed is not None
                         else result.voucher.processed_count())
    skipped_voucher = result.voucher.skipped_count()
    processed_txn = (t_processed if t_processed is not None
                     else result.transaction.processed_count())
    skipped_txn = result.transaction.skipped_count()
    if not v_ok:
        # ST8 final-failure accounting: would-be-processed rows count as
        # skipped, nothing counts as processed
        skipped_voucher += processed_voucher
        processed_voucher = 0
    if not t_ok:
        skipped_txn += processed_txn
        processed_txn = 0

    # sink-retry failures (ST8) surface ahead of missing-ref warnings
    warning_sample = (retry_warnings + missing_warnings)[:5]

    for branch in (result.voucher, result.transaction):
        branch.cleansed.unpersist()

    # The watermark only advances when BOTH branches committed: a run
    # whose merge exhausted its retries must leave the failed rows
    # below the watermark so the next run reprocesses them (the
    # reference's full-queue rescan retries them on the next cron fire;
    # advancing here would silently drop them forever in watermark
    # mode — the idempotent sink makes the reprocess harmless).
    committed = v_ok and t_ok
    new_wm = new_wm_row["wm"] if new_wm_row["wm"] is not None else watermark
    summary = {
        "processedVoucherCount": processed_voucher,
        "processedTransactionCount": processed_txn,
        "skippedVoucherCount": skipped_voucher,
        "skippedTransactionCount": skipped_txn,
        "warningSample": warning_sample,
        "durationSec": round(time.time() - started, 3),
        "watermark": new_wm if committed else watermark,
    }
    return summary, committed

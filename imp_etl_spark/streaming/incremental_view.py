"""Streaming incremental materialized view: per-key monoid partials
(count / exact decimal sum / min / max) maintained by foreachBatch over
the manifest snapshot sink.

The batch counterpart is the `incremental_agg_merge` registry query
(partials merged == full recompute); this module is its streaming
production form — the thing the reference's cron loop approximates by
re-scanning the full queue every run (services/etlService.js:549-570):

- each micro-batch aggregates ONLY its own rows into partials;
- the current partials for the AFFECTED BUCKETS are read back
  (``upsert.read_touched``: path-level pruning via the manifest —
  untouched buckets are never listed — read with the recorded schema,
  so no footer is read to infer one), combined monoid-wise (add
  counts/sums, least/greatest bounds), and MERGEd — which rewrites
  exactly those buckets and carries the rest by reference;
- replays are fenced by a transaction stamp, NOT by last-writer-wins:
  foreachBatch is only at-least-once (a crash between the sink commit
  and the offset-log commit replays the epoch), and because this epoch
  is a read-modify-write, a replay would re-read partials that already
  include the batch and add it AGAIN — LWW only dedupes identical
  writes, and the replayed write would be a different, inflated one.
  So every merge carries (app_id = the checkpoint location, version =
  epoch_id), committed atomically with the data by the same
  ``_latest.json`` flip (plans/upsert.py, Exactly-once); a replayed
  epoch sees its own stamp in the manifest and no-ops. This is the
  Delta txnAppId/txnVersion idempotent-sink protocol.

Per-epoch cost is O(batch + touched buckets), never O(view): the
read-back rows are precisely the rows the merge rewrites, and the
merge is told so (``batch_replaces_touched_buckets``) — each touched
bucket is read ONCE per epoch and replaced wholesale, with
``expected_version`` pinning the commit to the snapshot version
``read_touched`` returned with the rows (OCC for the read-modify-write).

Dtype stability across epochs: the sum partial re-aggregates its own
column, which would widen DECIMAL precision every epoch and trip the
sink's schema-drift guard — the combine pins it back to DECIMAL(28,2)
each time, so every epoch writes the identical physical schema and the
partial-merge fast path stays engaged.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from imp_etl_spark.plans import upsert as U

_SUM_T = "decimal(28,2)"


def _partials(df: DataFrame, key: Sequence[str], value_col: str,
              order_col: str) -> DataFrame:
    return (df.groupBy(*key).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).cast("decimal(18,2)"))
        .cast(_SUM_T).alias("value_sum"),
        F.min(order_col).alias("first_seen"),
        F.max(order_col).alias("last_seen")))


def _combine(frames: list[DataFrame], key: Sequence[str]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return (out.groupBy(*key).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("value_sum").cast(_SUM_T).alias("value_sum"),
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen")))


def run_incremental_view(spark: SparkSession, stream: DataFrame,
                         path: str, key: Sequence[str], value_col: str,
                         order_col: str, checkpoint_dir: str,
                         n_buckets: int = U.DEFAULT_BUCKETS,
                         view_id: str | None = None,
                         ) -> StreamingQuery:
    """Maintain the per-key (n_rows, value_sum, first_seen, last_seen)
    view of ``stream`` at ``path``; the query drains what has arrived
    (``availableNow``) and then terminates. Invariant (tested): after any
    sequence of epochs — including at-least-once REPLAYS of an epoch —
    the view equals the one-shot batch aggregation of everything the
    stream has delivered. The view's identity for the replay fence is
    ``view_id``, defaulting to the checkpoint location (stable across
    restarts of the same query, distinct across different queries
    writing the same table); pass it explicitly if the checkpoint can
    move (the fence must follow the query, not the path).

    If the table already exists, its manifest's bucket count is adopted
    and ``n_buckets`` is ignored — a restart with a different default
    must not silently degrade every epoch's partial merge into a full
    O(view) rewrite (the bucket count only changes via an explicit
    ``rebucket``)."""
    key = list(key)
    app_id = view_id or f"incview:{os.path.abspath(checkpoint_dir)}"

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        applied = U.last_txn_version(path, app_id)
        if applied is not None and applied >= epoch_id:
            return  # at-least-once replay of a committed epoch: no-op
        if not batch.head(1):
            return
        sp = batch.sparkSession
        nb = U.current_n_buckets(path) or n_buckets
        part = _partials(batch, key, value_col, order_col)
        cur, base_v = U.read_touched(sp, path, part, key)
        merged = part if cur is None else _combine([part, cur], key)
        # `merged` holds EVERY surviving row of the buckets it touches
        # (cur was the full read-back of exactly those buckets), so the
        # merge replaces them wholesale — one bucket read per epoch, not
        # two — and `expected_version` pins the commit to the snapshot
        # `cur` came from (read-modify-write OCC: if another writer
        # slipped in, fail loudly rather than clobber its keys).
        U.merge_upsert(sp, path, merged, key, order_col="last_seen",
                       n_buckets=nb, txn_app_id=app_id,
                       txn_version=epoch_id,
                       batch_replaces_touched_buckets=True,
                       expected_version=base_v if base_v is not None
                       else -1)

    return (stream.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(_epoch)
            .trigger(availableNow=True)
            .start())

"""The reference's full ETL dataflow as one declarative DataFrame plan.

Reference lifecycle (SURVEY.md §3, ``services/etlService.js:416-520``):
work-queue scan -> per-record point lookups (voucher + transaction) ->
row-at-a-time cleanse -> falsy-key validity filter -> transactional bulk
upsert, with {processed, skipped, warnings} accounting.

Spark shape: instead of N point lookups at 4-way concurrency, each branch
is *one* broadcast-semi-joined scan; cleanse is one projection of SQL-text
rules inside whole-stage codegen; validity filtering splits into a kept
frame and a skipped side-output (the reference's warning lines). The
kept rows go to the MERGE-style sink as they are: ``merge_upsert`` owns
the last-writer-wins dedup. The J3 warnings (queue refs with no voucher
or no transaction rows) are one aggregate over the queue refs and both
branch points.

Scale notes: the queue's reference numbers are orders of magnitude fewer
than the entity rows -> broadcast as they are (no shuffle of either fact
table, and no dedup shuffle of the refs: duplicate build keys cannot
change a left semi join). A branch adds no exchange of its own: its only
payload shuffle is the merge's, one exchange on the sink's bucket
expression that dedups the batch, folds it over the touched buckets'
rows and clusters the write (``upsert.merge_upsert``). The warnings
aggregate shuffles only reference numbers. The skipped counter rides
``observe()``, and the merge's write counts the processed rows — zero
extra passes over the data.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from imp_etl_spark.functions import cleanse
from imp_etl_spark.operators.dedup import latest_per_key


def clean_queue(queue: DataFrame) -> DataFrame:
    """P2 + P6: drop work-queue rows with NULL reference_no/table
    (models/EtlLogger.js:10-12) and falsy reference_no
    (etlService.js:436-444)."""
    return queue.filter(
        F.col("reference_no").isNotNull()
        & F.col("`table`").isNotNull()
        & ~cleanse.falsy_key("reference_no")
    )


def cleanse_voucher(df: DataFrame) -> DataFrame:
    """processVoucherData (etlService.js:118-156) as one projection of
    the SQL-text rules (``functions/cleanse.py``).

    Rules apply only to columns present in the frame — the reference
    guards each field with existence checks, so a narrow source simply
    gets fewer rules. The rule lists are disjoint, so applying them in
    one ``withColumns`` equals applying them one by one.
    """
    cols = set(df.columns)
    rules = {}
    if "sex" in cols:
        rules["sex"] = cleanse.enum_domain("sex", ["MALE", "FEMALE"])
    for f_ in cleanse.VOUCHER_UPPER_FIELDS:
        if f_ in cols:
            rules[f_] = cleanse.upper_trim(f_)
    for f_ in cleanse.VOUCHER_NUMERIC_FIELDS:
        if f_ in cols:
            rules[f_] = cleanse.parse_float(f_)
    for f_ in cleanse.VOUCHER_DATE_FIELDS:
        if f_ in cols:
            rules[f_] = cleanse.date_norm_utc(f_)
    return df.withColumns(rules)


_NUMERIC_DTYPES = {"tinyint", "smallint", "int", "bigint", "float",
                   "double", "decimal"}


def _is_numeric_dtype(dtype: str) -> bool:
    # match the BASE type exactly — a prefix test would classify
    # 'interval day to second' as numeric via startswith('int')
    return dtype.split("(")[0] in _NUMERIC_DTYPES


def cleanse_transaction(df: DataFrame) -> DataFrame:
    """processTransactionData (etlService.js:259-297).

    The bool fields (ishold/isremove/isretransact) branch on the column's
    *static* dtype: numeric sources (the reference's MySQL TINYINTs,
    schemas.py declares them INT) use JS number falsiness (0 -> 0), string
    sources keep quirk Q3 ("0" -> 1) — matching what the JS
    ``record[field] ? 1 : 0`` sees from each driver type.
    """
    dtypes = dict(df.dtypes)
    rules = {}
    for f_ in cleanse.TXN_NUMERIC_FIELDS:
        if f_ in dtypes:
            rules[f_] = cleanse.parse_float(f_)
    if "payout" in dtypes:
        rules["payout"] = cleanse.char_flag("payout")
    for f_ in cleanse.TXN_BOOL_FIELDS:
        if f_ in dtypes:
            rules[f_] = cleanse.truthy_int(
                f_, numeric=_is_numeric_dtype(dtypes[f_]))
    for f_ in cleanse.TXN_DATE_FIELDS:
        if f_ in dtypes:
            rules[f_] = cleanse.date_norm_utc(f_)
    for f_ in cleanse.TXN_UPPER_FIELDS:
        if f_ in dtypes:
            rules[f_] = cleanse.upper_trim(f_)
    return df.withColumns(rules)


@dataclass
class BranchResult:
    """One entity branch (voucher or transaction): frames, not numbers —
    callers trigger actions; the sink's write counts the processed rows
    (runner), the skipped ones ride observe()."""
    rows: DataFrame           # cleansed, key-valid, NOT deduped (the MERGE batch)
    cleansed: DataFrame       # persisted branch point (unpersist me)
    key: list[str]
    order_col: str
    # observe() metric (A2/A3) -> {"skipped": n}: recorded for free during
    # the first action that executes the branch (normally the MERGE).
    obs_cleansed: Observation | None = None
    # Observation.get blocks until SOME action executes the observed plan:
    # until the runner marks the branch executed (after the MERGE),
    # skipped_count falls back to one count().
    executed: bool = False

    @property
    def skipped(self) -> DataFrame:
        """Falsy-key rejects (the P4/P5 side-output)."""
        return self.cleansed.filter(cleanse.any_falsy_key(self.key))

    @property
    def valid(self) -> DataFrame:
        """The last row per key of ``rows`` (by ``order_col``): the batch
        of a sink that needs unique keys (JDBC's keyed MERGE)."""
        return latest_per_key(self.rows, self.key, [self.order_col],
                              desc=True)

    def processed_count(self) -> int:
        """Distinct valid keys by one count() — which also fulfills the
        skipped observation. For a branch a sink wrote, the sink's own
        count of the same number is free (runner)."""
        n = self.rows.select(*self.key).distinct().count()
        self.executed = True
        return n

    def skipped_count(self) -> int:
        if self.executed and self.obs_cleansed is not None:
            try:
                return int(self.obs_cleansed.get["skipped"] or 0)
            except Exception:
                # A provably/runtime-empty branch can have its inner
                # CollectMetrics node ELIMINATED by empty-relation
                # propagation (observed with the r13 lag-window dedup:
                # Window-over-empty folds to an empty relation and the
                # metrics row comes back arity-0, raising in toPyRow).
                # The exact fallback is one count() over the (empty)
                # side output — trivially cheap precisely in the case
                # that triggers this.
                pass
        return self.skipped.count()


@dataclass
class PipelineResult:
    voucher: BranchResult
    transaction: BranchResult
    queued: DataFrame         # the work queue's rows that name a ref
    extras: dict = field(default_factory=dict)

    @property
    def warnings(self) -> DataFrame:
        """J3 lines, one ``warning`` column, no order; planned on access
        (the runner plans it in its pool, beside the merges). An entity's
        refs all survive the semi prune and cleanse, so the warnings read
        the cached branch points instead of re-running the entity scans."""
        return missing_ref_warnings(self.queued, self.voucher.cleansed,
                                    self.transaction.cleansed)


def _branch(entity: DataFrame, refs: DataFrame, pk: list[str],
            cleanse_fn, order_col: str) -> BranchResult:
    # a left semi join emits each entity row once however often its
    # ref repeats, so the refs broadcast as they are: no dedup shuffle
    pruned = entity.join(F.broadcast(refs), "reference_no", "left_semi")
    invalid = cleanse.any_falsy_key(pk)
    # skipped side-output, missing-ref warnings and the MERGE all
    # consume this node; persist turns the recomputation of
    # scan->semi-join->cleanse into one pass (MEMORY_AND_DISK: spills
    # rather than OOMs)
    cleansed = cleanse_fn(pruned).persist(StorageLevel.MEMORY_AND_DISK)
    # the skipped counter rides the data (A2): recorded when the MERGE
    # executes the branch — no dedicated count job. The observation sits
    # ON TOP of the persisted node, on the merge-bound lineage ONLY: the
    # side-consumers (skipped sample, missing-ref warnings — possibly
    # partial actions like limit()) share the cache underneath without
    # ever executing the observed node, so they can run concurrently
    # with the merge and cannot fulfill the observation with partial
    # metrics. The filter(~invalid) is DOWNSTREAM of the observe, so
    # the metric still sees every cleansed row.
    tag = uuid.uuid4().hex[:8]
    obs_cleansed = Observation(f"cleansed_{tag}")
    observed = cleansed.observe(
        obs_cleansed, F.sum(invalid.cast("long")).alias("skipped"))
    return BranchResult(rows=observed.filter(~invalid), cleansed=cleansed,
                        key=pk, order_col=order_col,
                        obs_cleansed=obs_cleansed)


def missing_ref_warnings(queue: DataFrame, voucher: DataFrame,
                         transaction: DataFrame) -> DataFrame:
    """J3 (etlService.js:499-510): one ``warning`` row for every
    ``reference_no`` of ``queue`` with no ``voucher`` rows and one for
    every one with no ``transaction`` rows, in no defined order.

    One aggregate instead of an anti join per entity: the three ref
    columns are unioned with a source flag each and grouped by ref, so
    the sample costs one shuffle of reference numbers."""
    def flagged(df: DataFrame, q: int, v: int, t: int) -> DataFrame:
        return df.select("reference_no", F.lit(q).alias("q"),
                         F.lit(v).alias("v"), F.lit(t).alias("t"))

    def line(flag: str, entity: str) -> str:
        return (f"CASE WHEN q = 1 AND {flag} = 0 THEN concat("
                f"'No {entity} data found for reference: ', reference_no) "
                "END")

    return (
        flagged(queue, 1, 0, 0)
        .unionByName(flagged(voucher, 0, 1, 0))
        .unionByName(flagged(transaction, 0, 0, 1))
        .groupBy("reference_no")
        .agg(F.max("q").alias("q"), F.max("v").alias("v"),
             F.max("t").alias("t"))
        .selectExpr(f"explode(filter(array({line('v', 'voucher')}, "
                    f"{line('t', 'transaction')}), w -> w IS NOT NULL)) "
                    "AS warning"))


def build_pipeline(queue: DataFrame, voucher: DataFrame,
                   transaction: DataFrame,
                   voucher_key: list[str] | None = None,
                   transaction_key: list[str] | None = None,
                   order_col: str = "reference_no",
                   ) -> PipelineResult:
    """Assemble the full dataflow. All lazy — nothing executes here
    (the branch points are only marked for caching; the caller
    unpersists ``BranchResult.cleansed`` after its writes). Each
    branch's ``rows`` may repeat a key: ``merge_upsert`` keeps the last
    row per key by ``order_col`` in the exchange that lays out its
    write, and ``BranchResult.valid`` dedups for a sink that cannot."""
    queued = clean_queue(queue)
    refs = queued.select("reference_no")
    vb = _branch(voucher, refs, voucher_key or ["voucher_id", "reference_no"],
                 cleanse_voucher, order_col)
    tb = _branch(transaction, refs,
                 transaction_key or ["voucher_details_id", "reference_no"],
                 cleanse_transaction, order_col)
    return PipelineResult(voucher=vb, transaction=tb, queued=queued)

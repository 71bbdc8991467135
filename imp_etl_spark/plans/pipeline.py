"""The reference's full ETL dataflow as one declarative DataFrame plan.

Reference lifecycle (SURVEY.md §3, ``services/etlService.js:416-520``):
work-queue scan -> per-record point lookups (voucher + transaction) ->
row-at-a-time cleanse -> falsy-key validity filter -> transactional bulk
upsert, with {processed, skipped, warnings} accounting.

Spark shape: instead of N point lookups at 4-way concurrency, each branch
is *one* broadcast-semi-joined scan; cleanse is one projection of SQL-text
rules inside whole-stage codegen; validity filtering splits into a kept
frame and a skipped side-output (the reference's warning lines);
last-writer-wins dedup prepares unique keys for the MERGE-style sink.
The J3 warnings (queue refs with no voucher or no transaction rows) are
one aggregate over the queue refs and both branch points.

Scale notes: the deduped reference-key set is orders of magnitude smaller
than the entity tables -> broadcast (no shuffle of either fact table).
Each branch's dedup exchanges its rows once, on the sink's own bucket
expression, so a table-creating write needs no second exchange. A partial
merge into an existing table adds one more exchange on that same
expression: the batch and the touched buckets' rows fold together there
(``upsert.merge_upsert``). The warnings aggregate shuffles only reference
numbers. Counters ride ``observe()`` — zero extra passes over the data.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from imp_etl_spark.functions import cleanse
from imp_etl_spark.operators.join import semi_prune
from imp_etl_spark.operators.util import spread_small_scan
from imp_etl_spark.plans.upsert import DEFAULT_BUCKETS, _dedup_in_bucket_layout


def clean_queue(queue: DataFrame) -> DataFrame:
    """P2 + P6: drop work-queue rows with NULL reference_no/table
    (models/EtlLogger.js:10-12) and falsy reference_no
    (etlService.js:436-444)."""
    return queue.filter(
        F.col("reference_no").isNotNull()
        & F.col("`table`").isNotNull()
        & ~cleanse.falsy_key("reference_no")
    )


def reference_keys(queue: DataFrame) -> DataFrame:
    """The deduplicated key set driving both lookup branches (J1)."""
    return clean_queue(queue).select("reference_no").dropDuplicates(["reference_no"])


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
    callers trigger actions; counts come from one .count() per frame or
    from observe() in the runner."""
    valid: DataFrame          # cleansed, key-valid, deduped (ready to MERGE)
    skipped: DataFrame        # falsy-key rejects (P4/P5 side-output)
    cleansed: DataFrame       # persisted branch point (unpersist me)
    # observe() metrics (A2/A3): recorded for free during the first action
    # that executes the branch (normally the MERGE write) — zero extra
    # passes. obs_cleansed -> {"skipped": n}; obs_valid -> {"processed": n}.
    obs_cleansed: Observation | None = None
    obs_valid: Observation | None = None
    # Observation.get blocks until SOME action executes the observed plan,
    # so the free-counter path is only taken once the runner marks the
    # branch executed (after the MERGE). Before that, fall back to one
    # count() — which is itself an action on the observed plan, so it both
    # returns the number and fulfills the observation for later reads.
    executed: bool = False

    def processed_count(self) -> int:
        """Post-dedup valid rows: free from observe() once the merge has
        run, else one count() (which also fulfills the observation)."""
        if self.executed and self.obs_valid is not None:
            try:
                return int(self.obs_valid.get["processed"])
            except Exception:
                pass  # metrics node compiled away — see skipped_count
        n = self.valid.count()
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
    keys: DataFrame
    warnings: DataFrame       # J3 lines, one ``warning`` column, no order
    extras: dict = field(default_factory=dict)


def _branch(entity: DataFrame, keys: DataFrame, pk: list[str],
            cleanse_fn, order_col: str, sink_buckets: int,
            sink_files_per_bucket: int) -> BranchResult:
    # cleanse is CPU-bound (regex/timestamp parsing); widen few-partition
    # local scans to all cores first (no-op on real multi-split tables).
    # probe=entity: the partition decision reads the raw scan, so the
    # semi join's broadcast isn't eagerly built just to count partitions
    pruned = spread_small_scan(semi_prune(entity, keys, "reference_no"),
                               probe=entity)
    invalid = cleanse.any_falsy_key(pk)
    # skipped side-output, missing-ref warnings and the MERGE all
    # consume this node; persist turns the recomputation of
    # scan->semi-join->cleanse into one pass (MEMORY_AND_DISK: spills
    # rather than OOMs)
    cleansed = cleanse_fn(pruned).persist(StorageLevel.MEMORY_AND_DISK)
    # counters ride the data (A2): recorded when the MERGE executes the
    # branch — no dedicated count jobs. The observation sits ON TOP of
    # the persisted node, on the merge-bound lineage ONLY: the
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
    skipped = cleansed.filter(invalid)
    obs_valid = Observation(f"valid_{tag}")
    # dedup fused into the sink's bucket layout (r13): one exchange
    # instead of hash(pk) + hash(bucket). The observe sits ON the
    # post-dedup node, so "processed" counts exactly the deduped rows
    # the MERGE writes (A2/A3 semantics).
    deduped = _dedup_in_bucket_layout(observed.filter(~invalid), pk,
                                      order_col, sink_buckets,
                                      sink_files_per_bucket)
    valid = deduped.observe(obs_valid,
                            F.count(F.lit(1)).alias("processed"))
    return BranchResult(valid=valid, skipped=skipped, cleansed=cleansed,
                        obs_cleansed=obs_cleansed, obs_valid=obs_valid)


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
                   sink_buckets: int | tuple[int, int] = DEFAULT_BUCKETS,
                   sink_files_per_bucket: int | tuple[int, int] = 1,
                   ) -> PipelineResult:
    """Assemble the full dataflow. All lazy — nothing executes here
    (the branch points are only marked for caching; the caller
    unpersists ``BranchResult.cleansed`` after its writes).

    ``sink_buckets``: the bucket count of the MERGE sink the branches
    feed. Each branch's last-writer-wins dedup is fused into the sink's
    bucket layout (one exchange on the bucket expression instead of
    hash(pk) followed by the sink's hash(bucket); see
    ``_dedup_in_bucket_layout``), so the caller should pass
    ``batch_pre_clustered=True`` with the SAME ``n_buckets`` (and
    ``files_per_bucket``) to ``merge_upsert``. A sink that ignores
    clustering (JDBC) takes the same shape. Either value may be a
    ``(voucher, transaction)`` pair when the two tables' layouts
    differ."""
    def per_branch(x):
        return x if isinstance(x, tuple) else (x, x)

    (v_nb, t_nb), (v_fpb, t_fpb) = (per_branch(sink_buckets),
                                    per_branch(sink_files_per_bucket))
    keys = reference_keys(queue)
    vb = _branch(voucher, keys, voucher_key or ["voucher_id", "reference_no"],
                 cleanse_voucher, order_col, v_nb, v_fpb)
    tb = _branch(transaction, keys,
                 transaction_key or ["voucher_details_id", "reference_no"],
                 cleanse_transaction, order_col, t_nb, t_fpb)
    # a key present in an entity always survives the semi prune and
    # cleanse never rewrites reference_no, so the persisted branch
    # points hold the same refs as the entities — the warnings then read
    # cached blocks instead of re-running the entity scans.
    warnings = missing_ref_warnings(clean_queue(queue), vb.cleansed,
                                    tb.cleansed)
    return PipelineResult(voucher=vb, transaction=tb, keys=keys,
                          warnings=warnings)

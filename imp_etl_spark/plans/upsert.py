"""Idempotent composite-key upsert sink (S6/S7/J4, SURVEY.md §2.3/§7.5).

The reference's sink is MySQL ``INSERT ... ON DUPLICATE KEY UPDATE``
(``services/etlService.js:36-53``, ``:177-194``): matched keys update,
new keys insert, re-runs are harmless. The idiomatic Spark equivalent is
``MERGE INTO`` on a transactional table format (Delta/Iceberg); this
container has plain parquet only, so the sink implements the documented
fallback: **bucketed snapshot merge with a manifest-pointer commit** —
the same shape those formats use internally.

Layout: each merge writes its new/rewritten buckets into a fresh
``data_<uuid>/__bucket=k`` directory (hash-bucketed on the merge key,
``__bucket = pmod(xxhash64(key), n_buckets)``). A snapshot version is a
MANIFEST file (``_manifest_v{N}.json``) mapping every bucket id to the
directory that holds its current files — untouched buckets are carried
into the new manifest BY REFERENCE (a path string), touched buckets
point at the freshly written directory. The commit is one atomic
single-file publish of ``_latest.json`` (written LAST via
write-temp-then-replace); readers resolve ``_latest.json`` ->
manifest -> bucket paths and always see a complete snapshot.

Why manifest-pointer instead of directory rename + hard links (the
round-2 design): object stores — the realistic 100 TB substrate — have
no atomic directory rename and no hard links, but a single-object PUT
*is* atomic, which is exactly what the ``_latest.json`` flip needs.
The protocol uses only (a) write new files, (b) overwrite one small
object last; both are portable to S3/GCS/HDFS. Crash at any point
before (b) leaves the previous version live; orphaned data dirs and
dangling manifests are swept on the next merge. Writers are serialized
by the scheduler's overlap guard (ST6, plans/control.py) — the
single-writer assumption the reference's cron loop also makes — and a
version CAS backstops it: the commit re-reads ``_latest.json``
immediately before the flip and, if another writer advanced it since
this merge began, discards the prepared snapshot and retries the whole
merge against the new version (optimistic concurrency, the portable
approximation of a conditional PUT; on S3/GCS the flip itself would be
an If-Match/generation-precondition PUT, making check+flip one atomic
request). Merges, compaction and re-bucketing all publish through this
one commit (``_commit``) and write through one bucket clustering
(``_bucket_exchange``).

Exactly-once for read-modify-write streaming writers: a merge may carry
a transaction stamp (``txn_app_id``, ``txn_version`` — the shape of
Delta's txnAppId/txnVersion). The stamp rides IN the manifest, so it is
published by the same single-object ``_latest.json`` flip as the data
it describes. The incremental view (``streaming/incremental_view.py``)
reads back the buckets an epoch touches with :func:`read_touched` and
stamps its merges: a foreachBatch replay of an epoch that already
committed sees its own stamp and becomes a no-op instead of adding its
partials twice. The ETL epoch (``streaming/etl_stream.py``) carries no
stamp: it relies on the sink's idempotent last-writer-wins upsert, so a
replayed slice rewrites the same rows with the same values.

Scale notes: a batch touching b of N buckets rewrites b/N of the table
(plus the batch), not 100% of it, the way Delta/Iceberg rewrite only the
files whose keys match. b/N is small only when the batch's keys land in
few buckets. Keys hash uniformly, so a random-key delta of more than
about N·ln N rows touches every bucket (the coupon-collector bound; a 1%
cron-fire delta touched 16 of 16 buckets, measured) and the merge then
rewrites the whole table; that cost model wants merge-on-read deltas,
not more buckets. A partial merge reads ONLY the touched buckets'
directories (path-level pruning — stronger than a partition filter:
untouched dirs are never even listed) with the manifest's recorded
schema (no footer read to infer it), and folds batch and target rows in
ONE exchange on the bucket expression (``_dedup_in_bucket_layout``,
batch over target); the write takes that clustering as it is. The
merge owns the batch's last-writer-wins dedup too: one window keeps
each key's newest batch row over its target row, so a cron fire
shuffles each branch's rows once, and a batch may carry duplicate
keys. Schema-evolving batches (added/removed/retyped columns — the dtype
check against the recorded schema catches silent type drift, not just
new names) fall back to one full bucketed rewrite through the same fold,
so every directory a manifest references carries the identical schema.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from imp_etl_spark.operators.dedup import latest_per_key

_LATEST = "_latest.json"
_MANIFEST_FMT = "_manifest_v{}.json"
_DATA_PREFIX = "data_"
DEFAULT_BUCKETS = 16
#: Snapshot versions a commit retains (the newest, always including the
#: one just committed); older ones stop being readable by time travel.
KEEP_VERSIONS = 2
#: Re-merges a plain merge makes after losing the commit race.
_COMMIT_RETRIES = 3


# ---------------------------------------------------------------------------
# manifest plumbing
# ---------------------------------------------------------------------------

def _atomic_write_json(dest: str, obj) -> None:
    """Single-file atomic publish: write a temp object, then one
    replace. On POSIX this is ``os.replace``; on an object store the
    equivalent is a single PUT — no directory rename, no links."""
    tmp = f"{dest}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, dest)


def _create_exclusive_json(dest: str, obj) -> bool:
    """Create-if-absent publish: succeeds only if ``dest`` does not
    exist (POSIX O_EXCL; on S3/GCS the equivalent single request is a
    conditional PUT with If-None-Match:*/generation=0). Used for
    manifest files so two racing writers that picked the same version
    number can never clobber each other — exactly one wins the name,
    the other sees False and retries against the new snapshot."""
    try:
        fd = os.open(dest, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)
    return True


def _manifest_versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("_manifest_v") and d.endswith(".json"):
            try:
                out.append(int(d[len("_manifest_v"):-len(".json")]))
            except ValueError:
                pass
    return sorted(out)


def _latest_version(path: str) -> int | None:
    try:
        with open(os.path.join(path, _LATEST)) as f:
            return int(json.load(f)["version"])
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _read_manifest(path: str, version: int) -> dict:
    with open(os.path.join(path, _MANIFEST_FMT.format(version))) as f:
        return json.load(f)


def last_txn_version(path: str, app_id: str) -> int | None:
    """Highest committed ``txn_version`` for ``app_id`` at this table,
    or None. Read from the CURRENT manifest — the stamp is republished
    with every commit, so it survives unrelated merges, compaction and
    re-bucketing."""
    latest = _latest_version(path)
    if latest is None:
        return None
    try:
        v = _read_manifest(path, latest).get("txn", {}).get(app_id)
    except (OSError, ValueError):
        return None
    return int(v) if v is not None else None


def upserted_rows(path: str, version: int) -> int | None:
    """Rows (distinct batch keys) the merge that committed ``version``
    wrote, as its write counted them, like Delta's operation metrics;
    None for maintenance commits and an uncounted write."""
    return _read_manifest(path, version).get("upserted")


def current_n_buckets(path: str) -> int | None:
    """Bucket count of the current snapshot, or None if the table does
    not exist yet (callers adopt this instead of guessing, so a restart
    with a different default never degrades merges to full rewrites)."""
    latest = _latest_version(path)
    if latest is None:
        return None
    try:
        nb = _read_manifest(path, latest).get("n_buckets")
    except (OSError, ValueError):
        return None
    return int(nb) if nb else None


def sink_layout(spark: SparkSession, path: str) -> tuple[int, int]:
    """``(n_buckets, files_per_bucket)`` for an ETL fire into the table
    at ``path``: the table's own bucket count (:data:`DEFAULT_BUCKETS`
    for a new table, so a fire never undoes a ``rebucket``), and each
    bucket sub-split so the fused dedup sort uses the session's full
    parallelism instead of funneling a big epoch through ``n_buckets``
    tasks (the bucket dirs then hold that many files each — the
    documented wide-bucket layout)."""
    n = current_n_buckets(path) or DEFAULT_BUCKETS
    return n, max(1, spark.sparkContext.defaultParallelism // n)


def _schema_ddl(schema: dict) -> str:
    return ", ".join(f"`{c.replace('`', '``')}` {t}"
                     for c, t in schema.items())


def _read_buckets(spark: SparkSession, path: str, rels: Sequence[str],
                  schema: dict) -> DataFrame:
    """Read bucket directories with the manifest's recorded schema, so
    no parquet footer is read (one Spark job) just to infer it; no
    directory yields an empty frame of that schema. The internal
    ``__bucket`` partition column never escapes."""
    if not rels:
        return spark.createDataFrame([], schema=_schema_ddl(schema))
    df = spark.read.schema(_schema_ddl(schema)).parquet(
        *[os.path.join(path, r) for r in rels])
    return df.drop("__bucket") if "__bucket" in df.columns else df


def _manifest_df(spark: SparkSession, path: str,
                 manifest: dict) -> DataFrame:
    """Every bucket directory a manifest references, as one frame."""
    return _read_buckets(spark, path, list(manifest["buckets"].values()),
                         manifest["schema"])


def _scan_bucket_dirs(path: str, data_rel: str) -> dict[str, str]:
    """Bucket dirs actually written under ``data_rel`` (absent buckets
    simply hold no rows), as {bucket_id: relative_path}."""
    out: dict[str, str] = {}
    d = os.path.join(path, data_rel)
    if not os.path.isdir(d):
        return out
    for entry in os.listdir(d):
        if entry.startswith("__bucket="):
            out[entry.split("=", 1)[1]] = f"{data_rel}/{entry}"
    return out


# ---------------------------------------------------------------------------
# GC
# ---------------------------------------------------------------------------

def _referenced_data_dirs(path: str) -> set[str]:
    refs: set[str] = set()
    for v in _manifest_versions(path):
        try:
            man = _read_manifest(path, v)
        except (OSError, ValueError):
            continue
        refs |= {rel.split("/", 1)[0] for rel in man["buckets"].values()}
    return refs


#: Debris younger than this is spared by the GC sweeps. A racing
#: writer's snapshot passes through states that LOOK like crash debris
#: (data dirs written before their manifest exists; a manifest created
#: ahead of its ``_latest.json`` flip) — deleting those out from under
#: it would let the racer flip ``_latest`` onto a manifest/data dir
#: that no longer exists, bricking the table. Age-gating makes the
#: advertised CAS backstop real: genuine crash debris ages past the
#: threshold and is swept by a later writer, while anything younger is
#: presumed in-flight. (Same rule object-store table formats apply to
#: orphan-file cleanup.)
_GC_MIN_AGE_S = 300.0


def _older_than_gc_age(p: str) -> bool:
    try:
        return (os.path.getmtime(p) + _GC_MIN_AGE_S) < time.time()
    except OSError:
        return False  # vanished mid-scan: nothing to sweep


def _gc_orphans(path: str, latest: int | None) -> None:
    """Sweep debris from crashed writers: manifests written after the
    last successful ``_latest.json`` flip, and data dirs no manifest
    references — each only once older than ``_GC_MIN_AGE_S`` (younger
    entries may belong to a concurrent writer between its data write
    and its commit flip)."""
    if not os.path.isdir(path):
        return
    for v in _manifest_versions(path):
        if latest is None or v > latest:
            mp = os.path.join(path, _MANIFEST_FMT.format(v))
            if _older_than_gc_age(mp):
                try:
                    os.remove(mp)
                except OSError:
                    pass
    refs = _referenced_data_dirs(path)
    for d in os.listdir(path):
        if (d.startswith(_DATA_PREFIX) and d not in refs
                and _older_than_gc_age(os.path.join(path, d))):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def _apply_retention(path: str, new_v: int) -> None:
    """Keep the newest :data:`KEEP_VERSIONS` snapshot versions (always
    including the one just committed), then drop the data dirs those
    removed manifests were the last to reference. The before/after
    reference diff removes EXACTLY the dirs this retention orphaned —
    never a dir some concurrent writer wrote but has not published a
    manifest for yet (that is presumed in flight; genuine crash debris
    is ``_gc_orphans``' job, age-gated)."""
    all_vs = sorted(set(_manifest_versions(path)) | {new_v})
    retained = set(all_vs[-KEEP_VERSIONS:]) | {new_v}
    refs_before = _referenced_data_dirs(path)
    for v in _manifest_versions(path):
        if v not in retained:
            try:
                os.remove(os.path.join(path, _MANIFEST_FMT.format(v)))
            except OSError:
                pass
    for d in refs_before - _referenced_data_dirs(path):
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)


# ---------------------------------------------------------------------------
# public surface
# ---------------------------------------------------------------------------

def bucket_paths(path: str, version: int | None = None) -> dict[int, str]:
    """Absolute bucket-id -> directory map of a snapshot (the current
    one by default). Exposed for plan tests and debugging."""
    v = _latest_version(path) if version is None else version
    if v is None:
        return {}
    man = _read_manifest(path, v)
    return {int(b): os.path.join(path, rel)
            for b, rel in man["buckets"].items()}


def read_target(spark: SparkSession, path: str,
                version: int | None = None) -> DataFrame | None:
    """Read the current snapshot, or a retained older one (time travel —
    ``version`` from the ``merge_upsert`` return value; the newest
    :data:`KEEP_VERSIONS` stay readable). The internal ``__bucket``
    partition column never escapes — callers see exactly the table
    schema."""
    latest = _latest_version(path)
    if version is None:
        version = latest
        if version is None:
            return None
    elif (latest is None or version > latest
          or version not in _manifest_versions(path)):
        raise ValueError(f"version {version} not retained at {path}; "
                         f"have {_manifest_versions(path)}")
    return _manifest_df(spark, path, _read_manifest(path, version))


def _bucket_expr(key: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in key]),
                  F.lit(n_buckets)).cast("int")


def _touched_ids(batch: DataFrame, key: Sequence[str],
                 n_buckets: int) -> set[int]:
    """The bucket ids ``batch``'s keys hash to: one small job, a partial
    aggregate of bucket ids — no window, no payload shuffle."""
    return {r["b"] for r in batch.select(
        _bucket_expr(key, n_buckets).alias("b")).distinct().collect()}


def read_touched(spark: SparkSession, path: str, batch: DataFrame,
                 key: Sequence[str], version: int | None = None,
                 ) -> tuple[DataFrame | None, int | None]:
    """The rows of the snapshot's buckets that ``batch``'s ``key``
    hashes to, and that snapshot's version (the current one by
    default) — the read half of a read-modify-write. Only the touched
    buckets' directories are read (path-level pruning: untouched dirs
    are never listed), with the recorded schema (no footer read). A
    table keyed on other columns has every bucket touched. The rows are
    None when no touched bucket holds any; both are None when there is
    no table."""
    v = _latest_version(path) if version is None else version
    if v is None:
        return None, None
    man = _read_manifest(path, v)
    if man["key"] == list(key):
        touched = _touched_ids(batch, key, man["n_buckets"])
        rels = [man["buckets"][s] for s in (str(t) for t in touched)
                if s in man["buckets"]]
    else:
        rels = list(man["buckets"].values())
    if not rels:
        return None, v
    return _read_buckets(spark, path, rels, man["schema"]), v


def _layout_exprs(key: Sequence[str], n_buckets: int,
                  files_per_bucket: int) -> list:
    """The sink's clustering: the bucket id, then a second key hash
    that splits one bucket over ``files_per_bucket`` writer tasks."""
    exprs = [_bucket_expr(key, n_buckets)]
    if files_per_bucket > 1:
        exprs.append(F.pmod(F.xxhash64(*[F.col(k) for k in key],
                                       F.lit("sub")),
                            F.lit(files_per_bucket)))
    return exprs


def _bucket_exchange(df: DataFrame, key: Sequence[str], n_buckets: int,
                     files_per_bucket: int = 1) -> DataFrame:
    """ONE exchange of ``df`` on the sink's bucket layout, after which
    ``_write_bucketed`` lands each bucket as one directory without
    re-partitioning.

    ``files_per_bucket > 1`` widens each bucket to that many writer
    tasks and files (sub-split by a second key hash), which keeps task
    size bounded when a bucket holds gigabytes at 100 TB, and keeps a
    big batch's sort from funneling through ``n_buckets`` tasks
    (measured at 100x sf0.1: 45.7M rows through 16 tasks left half of
    local[32] idle); ETL fires derive it from the session's parallelism
    (:func:`sink_layout`). The sub-split fixes the partition count at
    ``n_buckets * files_per_bucket``, so adaptive execution cannot
    coalesce a small batch's (bucket, sub) tasks back into one file per
    bucket. Readers are unaffected (a bucket is a directory either
    way), and the merge cost model is unchanged: touched BUCKETS
    rewrite whole."""
    exprs = _layout_exprs(key, n_buckets, files_per_bucket)
    if files_per_bucket > 1:
        return df.repartition(n_buckets * files_per_bucket, *exprs)
    return df.repartition(*exprs)


def _dedup_in_bucket_layout(df: DataFrame, pk: list[str],
                            order: Sequence[str], n_buckets: int,
                            files_per_bucket: int = 1) -> DataFrame:
    """Last-writer-wins dedup fused INTO the sink's bucket layout (r13,
    VERDICT r12 item 3 — the dedup↔bucket-write double exchange).

    ``latest_per_key`` exchanges the full payload on hash(pk) and the
    bucketed write then re-exchanges it on hash(bucket) — two wide
    shuffles of every row to answer one clustering question, because
    ``__bucket`` IS a pure function of pk. Instead: the one
    ``_bucket_exchange``, then a lag-based first-row-of-key filter
    inside a window PARTITIONED BY that same layout (same clustering —
    Catalyst inserts no second exchange; per-key dedup stays valid
    under the sub-split because the sub key is a pure function of pk).
    Sorting by (pk asc, each ``order`` column desc) makes the first row
    of each key block the max-``order`` row — the same winner
    ``latest_per_key``'s row_number pick selects (ties within a key
    share the order values and are arbitrary in both shapes).
    ``merge_upsert`` runs every write through it: the batch alone
    (order = the batch's order column) or the batch folded over target
    rows (order = ``__prio`` then the order column, so batch rows beat
    target rows and the newest batch row wins).
    """
    from pyspark.sql import Window

    ks = F.struct(*[F.col(k) for k in pk])
    w = Window.partitionBy(*_layout_exprs(pk, n_buckets, files_per_bucket)
                           ).orderBy(*[F.col(k).asc() for k in pk],
                                     *[F.col(c).desc() for c in order])
    return (
        _bucket_exchange(df, pk, n_buckets, files_per_bucket)
        .withColumn("__first", ~F.lag(ks).over(w).eqNullSafe(ks))
        .filter(F.col("__first"))
        .drop("__first")
    )


def _write_bucketed(df: DataFrame, key: Sequence[str], n_buckets: int,
                    data_dir: str) -> None:
    """Write rows clustered by ``_bucket_exchange`` as one ``__bucket=k``
    directory per bucket (individually addressable by manifests).
    Correctness never depends on the clustering (the dynamic
    partitioned write routes rows by the ``__bucket`` VALUE); rows
    clustered otherwise only cost extra files per directory."""
    (df.withColumn("__bucket", _bucket_expr(key, n_buckets))
     .write.mode("overwrite").partitionBy("__bucket").parquet(data_dir))


def _new_data_rel() -> str:
    return f"{_DATA_PREFIX}{uuid.uuid4().hex[:12]}"


def _upsert_rows(batch: DataFrame, target: DataFrame | None,
                 key: list[str], order: list[str], n_buckets: int,
                 files_per_bucket: int) -> tuple[DataFrame, Observation]:
    """The newest batch row per key (by ``order``), over ``target``'s
    rows when given (``__prio`` 1 beats 0; columns missing on one side
    fill with null), deduped by one exchange and one window in the
    table's bucket layout. The fresh observation (one attaches once)
    counts the batch rows that win: the batch's distinct keys."""
    obs = Observation()
    if target is None:
        rows = _dedup_in_bucket_layout(batch, key, order, n_buckets,
                                       files_per_bucket)
        return rows.observe(obs, F.count(F.lit(1)).alias("n")), obs
    both = batch.withColumn("__prio", F.lit(1)).unionByName(
        target.withColumn("__prio", F.lit(0)), allowMissingColumns=True)
    rows = _dedup_in_bucket_layout(both, key, ["__prio", *order],
                                   n_buckets, files_per_bucket)
    return (rows.observe(obs, F.sum("__prio").alias("n")).drop("__prio"),
            obs)


def _observed_count(obs: Observation) -> int | None:
    """``n`` of an observation whose plan ran; None when empty-relation
    propagation removed its metrics node (the row comes back empty)."""
    try:
        return int(obs.get["n"] or 0)
    except Exception:  # noqa: BLE001 — see docstring
        return None


class ConcurrentWriteError(RuntimeError):
    """Another writer advanced ``_latest.json`` while a merge or a
    maintenance rewrite was in flight, and it cannot (or may no longer)
    retry."""


# Test injection point: ``_commit`` calls it once per attempt of a merge,
# compaction or re-bucketing, right before the CAS check. Lets tests
# interleave a competing writer at the worst possible moment without
# threads. Never set in production code.
_pre_commit_hook = None


def _commit(path: str, latest: int | None, data_rel: str,
            manifest: dict) -> bool:
    """Publish ``manifest`` (whose new buckets live in ``data_rel``) as
    the version after ``latest``. Version CAS, two portable checks: (1)
    the manifest name for the new version must be ours alone
    (create-if-absent — a same-version racer can never clobber a
    committed manifest); (2) the snapshot the caller read must still be
    current, else a committed writer's buckets would be dropped. Either
    failure removes the prepared data dir and any manifest just created
    (a surviving one would reference deleted dirs) and returns False.
    Otherwise the one atomic ``_latest.json`` flip commits, retention
    runs, and the result is True."""
    if _pre_commit_hook is not None:
        _pre_commit_hook()
    new_v = 0 if latest is None else latest + 1
    man_path = os.path.join(path, _MANIFEST_FMT.format(new_v))
    won = _create_exclusive_json(man_path, manifest)
    if won and _latest_version(path) != latest:
        os.remove(man_path)
        won = False
    if not won:
        shutil.rmtree(os.path.join(path, data_rel), ignore_errors=True)
        return False
    # THE commit point: one atomic single-object publish, written last
    _atomic_write_json(os.path.join(path, _LATEST), {"version": new_v})
    _apply_retention(path, new_v)
    return True


def merge_upsert(spark: SparkSession, path: str, batch: DataFrame,
                 key: Sequence[str], order_col: str | None = None,
                 n_buckets: int = DEFAULT_BUCKETS,
                 files_per_bucket: int = 1,
                 txn_app_id: str | None = None,
                 txn_version: int | None = None,
                 batch_replaces_touched_buckets: bool = False,
                 expected_version: int | None = None) -> int:
    """Upsert ``batch`` into the bucketed snapshot table at ``path`` on
    ``key``.

    Last-writer-wins within the batch (ordered by ``order_col`` when
    given, mirroring the reference's VALUES-order semantics — SURVEY.md
    §2.7); batch rows beat target rows on key collision (the UPDATE arm
    of ON DUPLICATE KEY). Rewrites only the buckets the batch touches;
    untouched buckets carry into the new manifest by reference (module
    doc). A random-key batch of more than ~N·ln N rows touches all N
    buckets, so this bounds the rewrite only for small or clustered
    batches. Partial merges additionally require the batch's column set
    AND dtypes to match the manifest's recorded schema exactly — a
    same-name column with a changed type would otherwise split the
    snapshot across two physical schemas. Returns the new snapshot
    version number; its manifest records how many distinct batch keys
    the merge wrote (:func:`upserted_rows`).

    Partial-merge shape: ``read_touched`` reads the touched buckets'
    rows (one small job collects the batch's bucket ids); batch
    (``__prio`` 1) and target rows (``__prio`` 0) fold through one
    exchange on the bucket expression and one window ordered by
    (``__prio``, ``order_col``) desc, which dedups the batch and lets it
    beat the target at once (``_upsert_rows``); the write keeps that
    clustering, and ``files_per_bucket`` sub-splits it
    (``_bucket_exchange``). Every touched bucket holds a batch row, so
    the write replaces each of them, and the new manifest is the old
    one with the written buckets overlaid. The full rewrite folds over
    the whole target; table creation and replace writes dedup the batch
    alone the same way.

    ``txn_app_id``/``txn_version`` (both or neither): idempotence stamp
    for at-least-once callers (foreachBatch epochs). If the current
    manifest already records ``txn_version`` (or newer) for this app
    id, the merge is a no-op returning the current version — the replay
    guard. The stamp commits atomically with the data (same
    ``_latest.json`` flip). A merge that loses the commit race re-reads
    the then-current snapshot and re-merges (module doc), up to
    ``_COMMIT_RETRIES`` times, so no committed writer's buckets are
    lost.

    ``batch_replaces_touched_buckets``: caller's promise that the batch
    holds EVERY surviving row of every bucket it touches (the
    read-modify-write shape: the caller already read those buckets back
    with :func:`read_touched` and folded them in). The merge then skips
    re-reading the touched buckets — each epoch reads them exactly once
    instead of twice — and rows absent from the batch are dropped from
    touched buckets (on the fallback full rewrite too). Meaningless
    without the schema/bucket preconditions of a partial merge holding
    OR a full rewrite.

    ``expected_version``: optimistic concurrency for read-modify-write
    callers — the snapshot version the caller's read was based on (-1
    for "table must not exist yet"). If the table has moved past it by
    commit time, the prepared snapshot would clobber a committed write
    the caller never read, so the merge raises ``ConcurrentWriteError``
    WITHOUT retrying (a blind re-merge can't help: the caller must
    re-read and recompute). Plain merges leave it None and keep the
    re-merge retry loop.
    """
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version go together")
    key = list(key)
    order = [order_col] if order_col else []

    os.makedirs(path, exist_ok=True)
    for _attempt in range(_COMMIT_RETRIES + 1):
        latest = _latest_version(path)
        if expected_version is not None:
            base = latest if latest is not None else -1
            if base != expected_version:
                raise ConcurrentWriteError(
                    f"{path} moved to version {base} but the caller's "
                    f"read-modify-write was based on {expected_version}; "
                    "re-read and recompute")
        _gc_orphans(path, latest)

        carried: dict[str, str] = {}
        prev_txn: dict[str, int] = {}
        target = None  # the rows the batch folds over; None: batch alone
        if latest is not None:
            man = _read_manifest(path, latest)
            prev_txn = man["txn"]
            if (txn_app_id is not None
                    and prev_txn.get(txn_app_id) is not None
                    and int(prev_txn[txn_app_id]) >= txn_version):
                return latest  # replayed epoch: already applied
            # exact column-set + dtype equality: anything else (new,
            # dropped, or RETYPED columns) forces the full rewrite so
            # all referenced dirs share one physical schema
            if (man["n_buckets"] == n_buckets and man["key"] == key
                    and dict(batch.dtypes) == man["schema"]):
                # every touched bucket holds a batch row, so the write
                # replaces each one: its dirs overlay the carried map
                carried = man["buckets"]
                # with batch_replaces_touched_buckets the caller already
                # folded the touched buckets' rows in: the batch IS
                # those buckets' content, no second read
                if not batch_replaces_touched_buckets:
                    target, _ = read_touched(spark, path, batch, key, latest)
            else:
                # bucket-count change or schema evolution: one full
                # rewrite into the bucketed layout. Schema evolution
                # keeps ALL columns from both sides — a new batch column
                # backfills null on historical rows, a dropped one stays
                # (null on updated rows), so readers never break.
                target = _manifest_df(spark, path, man)
                if batch_replaces_touched_buckets:
                    # replace semantics under a full rewrite: target rows
                    # in batch-touched buckets are superseded wholesale
                    target = target.filter(~_bucket_expr(key, n_buckets).isin(
                        list(_touched_ids(batch, key, n_buckets))))

        merged, upserted = _upsert_rows(batch, target, key, order,
                                        n_buckets, files_per_bucket)
        data_rel = _new_data_rel()
        _write_bucketed(merged, key, n_buckets, os.path.join(path, data_rel))
        manifest = {
            "n_buckets": n_buckets,
            "key": key,
            "schema": dict(merged.dtypes),
            "buckets": {**carried, **_scan_bucket_dirs(path, data_rel)},
            "txn": ({**prev_txn, txn_app_id: txn_version}
                    if txn_app_id is not None else prev_txn),
            "upserted": _observed_count(upserted),
        }
        if _commit(path, latest, data_rel, manifest):
            return 0 if latest is None else latest + 1
    raise ConcurrentWriteError(
        f"lost the commit race at {path} {_COMMIT_RETRIES + 1} times; "
        "writers are expected to be serialized (ST6 overlap guard)")


def merge_preview(batch: DataFrame, target: DataFrame,
                  key: Sequence[str], order_col: str) -> DataFrame:
    """Pure-DataFrame MERGE semantics (no filesystem): what the target
    looks like after applying ``batch``. Used by the SQL-oracle check —
    expressible as a windowed union in ANSI SQL."""
    key = list(key)
    common = [c for c in batch.columns if c in set(target.columns)]
    b = latest_per_key(batch, key, [order_col], desc=True).select(
        *common).withColumn("__prio", F.lit(1))
    t = target.select(*common).withColumn("__prio", F.lit(0))
    return latest_per_key(
        b.unionByName(t), key, ["__prio"], desc=True
    ).drop("__prio")


# ---------------------------------------------------------------------------
# maintenance: compaction + re-bucketing
# ---------------------------------------------------------------------------

def _bucket_file_counts(path: str, manifest: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for b, rel in manifest["buckets"].items():
        d = os.path.join(path, rel)
        try:
            out[b] = sum(1 for f in os.listdir(d)
                         if f.endswith(".parquet"))
        except OSError:
            out[b] = 0
    return out


def _rewrite(spark: SparkSession, path: str, latest: int, man: dict,
             buckets: dict[str, str], n_buckets: int) -> int:
    """Maintenance's tail: re-cluster the rows of ``buckets`` (a subset
    of ``man``'s, the snapshot at ``latest``) into ``n_buckets`` buckets
    of one file each in a fresh data dir, carry the manifest's other
    buckets by reference, and commit. Maintenance runs under the same
    single-writer rule as merges; the commit's version CAS is the
    backstop, not the lock — if another writer committed first, it
    raises ``ConcurrentWriteError`` (re-run it against the new
    snapshot)."""
    key = man["key"]
    data_rel = _new_data_rel()
    rows = _read_buckets(spark, path, list(buckets.values()), man["schema"])
    _write_bucketed(_bucket_exchange(rows, key, n_buckets), key, n_buckets,
                    os.path.join(path, data_rel))
    manifest = {
        "n_buckets": n_buckets,
        "key": key,
        "schema": man["schema"],
        "buckets": {**{b: rel for b, rel in man["buckets"].items()
                       if b not in buckets},
                    **_scan_bucket_dirs(path, data_rel)},
        "txn": man["txn"],  # maintenance keeps the stamps
    }
    if not _commit(path, latest, data_rel, manifest):
        raise ConcurrentWriteError(
            f"maintenance lost the commit race at {path}; re-run it")
    return latest + 1


def compact_snapshot(spark: SparkSession, path: str) -> int:
    """Compact fragmented buckets of the current snapshot: any bucket
    holding more than one parquet file (e.g. written wide via
    ``files_per_bucket`` > 1, or whose writer task count drifted) is
    rewritten into a fresh data dir at one file; every other bucket
    carries into the new manifest BY REFERENCE, unread and unmoved.
    Publishes a new snapshot version through the same commit as
    ``merge_upsert`` — readers never see a half-compacted table, and
    time travel to the pre-compaction version keeps working until
    retention drops it.

    Returns the committed version (the CURRENT version unchanged if
    nothing is fragmented — compaction is a no-op then, not an empty
    commit).

    Scale notes: this is the OPTIMIZE/rewrite-data-files half of what
    table formats run as table maintenance. Cost is proportional to the
    fragmented fraction only (path-level pruning: untouched dirs are
    never listed, let alone read), the rewrite reuses the key->bucket
    function so no rows change buckets, and the single-writer rule
    (scheduler overlap guard, ST6) serializes it against merges.
    """
    latest = _latest_version(path)
    if latest is None:
        raise ValueError(f"no snapshot at {path}")
    man = _read_manifest(path, latest)
    counts = _bucket_file_counts(path, man)
    frag = {b: rel for b, rel in man["buckets"].items()
            if counts.get(b, 0) > 1}
    if not frag:
        return latest
    return _rewrite(spark, path, latest, man, frag, man["n_buckets"])


def rebucket(spark: SparkSession, path: str, n_buckets: int) -> int:
    """Re-hash the current snapshot into ``n_buckets`` buckets of one
    file each (one full rewrite + the same commit as ``merge_upsert``).
    The growth path for the merge cost model: buckets are sized at
    table creation, and when the table outgrows them (bucket dirs
    exceeding a healthy task size even at ``files_per_bucket`` fan-out),
    doubling ``n_buckets`` here restores the b/N partial-rewrite
    economics — subsequent ``merge_upsert(..., n_buckets=<new>)`` calls
    take the partial path against the new layout. Single full shuffle
    on the new bucket id; idempotent under re-run (a crash before the
    ``_latest.json`` flip leaves the old version live)."""
    latest = _latest_version(path)
    if latest is None:
        raise ValueError(f"no snapshot at {path}")
    man = _read_manifest(path, latest)
    return _rewrite(spark, path, latest, man, man["buckets"], n_buckets)


def _key_bucket(spark: SparkSession, values: list, dtypes: list[str],
                n_buckets: int) -> int:
    """``_bucket_expr`` of one key on the driver: Spark's interpreted
    hash, one JVM call per column chained from seed 42 as ``xxhash64``
    chains them (a null leaves the hash as it is). ``hash`` picks its
    function by the value's class and a small Python int arrives as an
    Integer, so a bigint calls ``hashLong``. Other key types take a
    one-row Spark job."""
    if not set(dtypes) <= {"string", "int", "bigint"}:
        row = spark.createDataFrame(
            [tuple(values)],
            _schema_ddl({f"k{i}": t for i, t in enumerate(dtypes)}))
        return row.select(_bucket_expr(row.columns, n_buckets)).head()[0]
    jvm = spark._jvm
    fns = jvm.org.apache.spark.sql.catalyst.expressions
    h = 42
    for v, t in zip(values, dtypes):
        if v is None:
            continue
        if t == "bigint":
            h = fns.XXH64.hashLong(v, h)
            continue
        if t == "string":
            v = jvm.org.apache.spark.unsafe.types.UTF8String.fromString(v)
        h = fns.XxHash64Function.hash(
            v, jvm.org.apache.spark.sql.types.DataType.fromDDL(t), h)
    return h % n_buckets  # Python's % is Spark's pmod for n_buckets > 0


def lookup(spark: SparkSession, path: str, key_values: dict,
           version: int | None = None) -> DataFrame:
    """Indexed point lookup against the snapshot: the bucket id is a
    pure function of the key, so an equality probe on the FULL merge
    key resolves to exactly one bucket directory — the read lists and
    scans 1/N of the table (path-level pruning, the sink-side analog of
    the reference's indexed point scans, index.js:46-140) and the
    residual equality filter pushes into that scan.

    ``key_values`` must bind every column of the table's merge key
    (order-insensitive); extra non-key columns are applied as plain
    pushed filters after the prune. The bucket dir is read with the
    manifest's recorded schema, so the lookup reads no footer to infer
    one, and the bucket id is hashed on the driver (``_key_bucket``), so
    no Spark job runs before the read.
    """
    v = _latest_version(path) if version is None else version
    if v is None:
        raise ValueError(f"no snapshot at {path}")
    man = _read_manifest(path, v)
    key = list(man["key"])
    missing = [k for k in key if k not in key_values]
    if missing:
        raise ValueError(f"point lookup must bind the full key {key}; "
                         f"missing {missing}")
    b = _key_bucket(spark, [key_values[k] for k in key],
                    [man["schema"][k] for k in key], int(man["n_buckets"]))
    rel = man["buckets"].get(str(b))
    # a bucket never materialized holds no key: an empty frame
    df = _read_buckets(spark, path, [rel] if rel else [], man["schema"])
    for col, val in key_values.items():
        df = df.filter(F.col(col) == F.lit(val))
    return df

"""Shared physical-layout helpers for CPU-bound operators.

Spark sizes scan partitions by *bytes* (``spark.sql.files.maxPartitionBytes``),
which is right for I/O-bound plans but wrong for compute-bound ones: a
1 MB parquet file of 5k documents arrives as ONE partition, and every
downstream shingle/hash/cosine expression then runs on one core while 31
idle. ``spread_small_scan`` widens such inputs to the cluster's
parallelism — and is a structural no-op at scale, where any real table
already scans as hundreds of splits (the guard keeps the extra shuffle
out of big-data plans).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def spread_small_scan(df: DataFrame, min_partitions: int | None = None,
                      probe: DataFrame | None = None) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` (default: the session's
    default parallelism) iff it currently has fewer partitions.

    Use before per-row CPU-heavy work (hashing, shingling, vector math).
    The partition count probe compiles the plan but runs no job — on a
    PLAIN SCAN. On a plan containing a broadcast join the ``.rdd``
    conversion eagerly builds the broadcast relation (a real job), so
    callers that have already joined ``df`` should pass the pre-join
    scan as ``probe``: its partition count decides, and the decision is
    identical because a broadcast join preserves the probe side's
    partitioning.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if (probe if probe is not None else df).rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# The one owner of every frame the operators and registered queries
# persist. Spark's CacheManager keeps a cache entry until an explicit
# unpersist (ContextCleaner never collects a cached plan), so a
# long-lived driver — the HTTP/cron controller, a streaming query —
# would otherwise hold every query's intermediates until it exits.
# ``release_query_caches`` is the single release path: the controller
# calls it after every run, and ``run_etl_stream`` after every epoch.
# Nothing on a query's own path releases, so one-shot drivers see plain
# session-lifetime caches. (The ETL's branch-point persist is NOT
# here: the runner unpersists it after its own merge.)
_QUERY_PERSISTS: list[DataFrame] = []
_QUERY_PERSISTS_LOCK = threading.Lock()


def persist(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """Persist ``df`` (default MEMORY_AND_DISK) and hand it to the
    query-cache owner; :func:`release_query_caches` unpersists it.
    Returns the persisted frame. The registered queries' ad-hoc
    multi-consumer frames pass ``MEMORY_AND_DISK_DESER``, the
    ``DataFrame.persist()`` default."""
    d = df.persist(level)
    with _QUERY_PERSISTS_LOCK:
        _QUERY_PERSISTS.append(d)
    return d


def release_query_caches(blocking: bool = False) -> int:
    """Unpersist every frame :func:`persist` registered, clear the
    registry, and drop the lag-dispatch probe memo (a scheduled driver
    sees new data every run, and a fresh probe is two map-side passes);
    returns the number of frames plus memo entries released.
    Idempotent. The dedup tier's shared MinHash signature artifact is a
    DISK parquet memo keyed on corpus mtime, not a block-manager
    persist, so it is not touched."""
    from imp_etl_spark.operators.window import release_probe_memo

    with _QUERY_PERSISTS_LOCK:
        frames, _QUERY_PERSISTS[:] = list(_QUERY_PERSISTS), []
    for d in frames:
        try:
            d.unpersist(blocking=blocking)
        except Exception:
            pass  # session already stopped — nothing to release
    return len(frames) + release_probe_memo()


# One scratch root per process holds every directory a query writes for
# itself (stream sources and checkpoints, on-disk indexes); it is made on
# first use and removed at interpreter exit, so a long-lived driver or a
# test run leaves nothing in the system temp directory.
_SCRATCH_ROOT: str | None = None
_SCRATCH_LOCK = threading.Lock()


def _remove_scratch_root(root: str, pid: int) -> None:
    if os.getpid() == pid:  # a forked child inherits the hook, not the root
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A new empty directory named ``<prefix>...`` under this process's
    scratch root, which is removed with everything in it at interpreter
    exit."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="imp_etl_scratch_")
            atexit.register(_remove_scratch_root, _SCRATCH_ROOT, os.getpid())
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


#: The operator-level persist crossover (r12): a multi-consumer frame
#: whose source is provably below this many rows keeps the fused
#: no-persist plan (see :func:`persist_if_big`).
PERSIST_MIN_SOURCE_ROWS = 16_384


def persist_if_big(df: DataFrame, source: DataFrame, min_rows: int,
                   max_rows: int | None = None) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) unless ``source`` is PROVABLY
    tiny from parquet footer bounds (r12).

    The multi-consumer persists this round added (banded simhash
    signatures, candidate gramsets) trade N recomputations of a
    CPU-bound pass for one computation plus cache reads. That trade
    wins as soon as the pass covers more than a handful of rows, but
    LOSES on tiny fixtures: the persist's fixed overhead (extra stage
    boundaries, block writes, per-block read locks) measured ~+0.3 s
    at sf0.1's 500-doc corpus, where 4x recompute of the pass is
    nearly free. So: a footer bound BELOW ``min_rows`` keeps the
    fused no-persist plan; anything bigger — or any input whose size
    cannot be proven (joins, in-memory frames, non-parquet sources,
    where the safe assumption is big) — persists. The persisted frame
    belongs to the query-cache owner (:func:`release_query_caches`).

    ``max_rows`` (r13, ADVICE r12): an optional UPPER crossover for
    frames whose materialized size grows with the source (a token
    stream is ~corpus bytes). A source PROVABLY at/above the cap keeps
    the streaming two-pass plan — re-reading a compressed parquet scan
    twice beats spilling a corpus-scale cache to local disk. With a
    cap, an UNPROVABLE source streams too: its size may be anything,
    and a corpus-sized cache is the side of the trade that does not
    survive 100 TB.

    Callers pass their crossovers as values — each is a named module
    constant beside its consumer (e.g. :data:`PERSIST_MIN_SOURCE_ROWS`).
    """
    from imp_etl_spark.operators.window import _footer_row_bound

    ub = _footer_row_bound(source)
    if ub is None:
        return df if max_rows is not None else persist(df)
    if ub < min_rows or (max_rows is not None and ub >= max_rows):
        return df
    return persist(df)


def fs_write_text(spark, path: str, content: str) -> None:
    """Write a small text file through the Hadoop FileSystem API so
    index sidecars (_params.json and friends) work on ANY scheme the
    cluster can reach (file://, hdfs://, s3a://...) — a driver-local
    ``open()`` silently restricts an artifact documented as shared to
    the driver's own disk. Driver-side only; never on the data path."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(spark, path: str) -> str:
    """Read a small text file through the Hadoop FileSystem API (the
    counterpart of :func:`fs_write_text`)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")

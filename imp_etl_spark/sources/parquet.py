"""Parquet sources for the test fixtures (TESTDATA.md).

The reference reads MySQL through two connection pools (``config/db.js``);
in this harness Parquet stands in as the primary storage format and the
JDBC reader (``sources/jdbc.py``) keeps the reference's deployment shape
available behind the same interface.

Scale notes: we read with the *declared* schema (no footer-merge or
inference job), so column pruning and filter pushdown flow straight to the
parquet scan — ``.explain`` shows ReadSchema limited to selected columns
and PushedFilters for every comparison/null predicate used by the
operators in this package.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from imp_etl_spark import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: events is the one fixture read WITHOUT a declared schema (its ts
#: physical type differs between driver-generated nanos fixtures and
#: engine-written tables), so every read_table('events') paid a footer
#: schema-inference pass (~0.1 s of driver/job overhead per call —
#: queries read events 2-3x while BUILDING). Cache the inferred schema
#: per (path, inventory): an overwritten fixture changes its key and
#: re-infers; everything else skips straight to the scan. (r11)
#:
#: r13 (ADVICE r12): the key covers the LEAF files too — a directory
#: table whose files are replaced in place (or within mtime
#: granularity) changes its (file count, max leaf mtime) inventory
#: even when the top-level mtime survives — and the dict is CAPPED:
#: beyond _EVENTS_SCHEMA_CACHE_CAP distinct keys the oldest entry is
#: evicted (insertion order), so a long-lived driver overwriting its
#: events fixture never grows the cache unboundedly. An evicted entry
#: just re-infers on its next read; nothing can go stale-wrong.
_EVENTS_SCHEMA_CACHE: dict[tuple, object] = {}
_EVENTS_SCHEMA_CACHE_CAP = 8


def _events_schema_key(path: str) -> tuple | None:
    """Cache key: abspath + top mtime + leaf-file inventory (count and
    max leaf mtime for directory tables). None = no caching: the path
    is unstattable, or it is a partitioned layout, whose leaves sit in
    subdirectories where a file added to an existing partition changes
    neither the top mtime nor the top-level inventory."""
    try:
        apath = os.path.abspath(path)
        top = os.path.getmtime(apath)
        if os.path.isdir(apath):
            entries = list(os.scandir(apath))
            if any(e.is_dir() for e in entries):
                return None
            leaves = [e for e in entries if e.name.endswith(".parquet")]
            inv = (len(leaves),
                   max((e.stat().st_mtime for e in leaves), default=0.0))
        else:
            inv = (1, top)
        return (apath, top, inv)
    except OSError:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which the Spark reader
        # rejects outright (PARQUET_TYPE_ILLEGAL). Read nanos as long
        # (legacy conf), integer-truncate to micros (identical to
        # DuckDB's ns->us handling), and surface as NTZ. The ltz->ntz
        # cast is only identity under UTC, so pin the session tz — the
        # engine's documented convention (session.py) — here too for
        # sessions we didn't build.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from pyspark.sql import functions as F

        key = _events_schema_key(path)
        cached = _EVENTS_SCHEMA_CACHE.get(key) if key else None
        if cached is not None:
            raw = spark.read.schema(cached).parquet(path)
        else:
            raw = spark.read.parquet(path)
            if key is not None:
                while len(_EVENTS_SCHEMA_CACHE) >= _EVENTS_SCHEMA_CACHE_CAP:
                    _EVENTS_SCHEMA_CACHE.pop(
                        next(iter(_EVENTS_SCHEMA_CACHE)))
                _EVENTS_SCHEMA_CACHE[key] = raw.schema
        # only nanos-as-long needs the conversion: an events table this
        # engine itself wrote (scale experiments, sinks) already carries
        # a timestamp ts and must pass through unchanged
        if dict(raw.dtypes).get("ts") == "bigint":
            raw = raw.withColumn(
                "ts",
                F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
        else:
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return raw.select("event_id", "ts", "user_id", "event_type",
                          "value", "props")
    schema = schemas.FIXTURE_TABLES.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def load_fixtures(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                  names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the fixture tables as a dict and register temp views."""
    out: dict[str, DataFrame] = {}
    for name in names or schemas.FIXTURE_TABLES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

"""Round-trip tests for the unified source/sink interface (sources/io.py).

JDBC itself needs a database + driver jar this container doesn't ship, so
the JDBC tests cover the option-validation logic only; the read/write
paths are exercised against file formats.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from imp_etl_spark.sources.io import read_jdbc, read_source, write_sink
from imp_etl_spark.sources.parquet import read_table
from tests.conftest import SF_DIR

CSV_SCHEMA = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"


def test_csv_round_trip(spark, tmp_path):
    nation = read_table(spark, SF_DIR, "nation")
    out = str(tmp_path / "nation_csv")
    write_sink(nation, "csv", out, mode="overwrite", header=True)
    back = read_source(spark, "csv", out, schema=CSV_SCHEMA, header=True)
    assert sorted(back.columns) == sorted(nation.columns)
    assert back.count() == nation.count()
    a = {tuple(r) for r in nation.select("n_nationkey", "n_name").collect()}
    b = {tuple(r) for r in back.select("n_nationkey", "n_name").collect()}
    assert a == b


def test_json_round_trip_and_partitioning(spark, tmp_path):
    region = read_table(spark, SF_DIR, "region")
    out = str(tmp_path / "region_json")
    write_sink(region, "json", out, mode="overwrite",
               partition_by=["r_regionkey"])
    back = read_source(
        spark, "json", out,
        schema="r_name STRING, r_regionkey BIGINT",
    )
    assert back.count() == region.count()
    # partition pruning: a key filter must reach the scan as a PartitionFilter
    pruned = back.filter(F.col("r_regionkey") == 1)
    assert pruned.count() == 1
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "r_regionkey" in plan.split("PartitionFilters")[1].split("]")[0]


def test_orc_round_trip(spark, tmp_path):
    nation = read_table(spark, SF_DIR, "nation")
    out = str(tmp_path / "nation_orc")
    write_sink(nation, "orc", out, mode="overwrite")
    back = read_source(spark, "orc", out)
    assert sorted(back.columns) == sorted(nation.columns)
    a = {tuple(r) for r in nation.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_dynamic_partition_overwrite(spark, tmp_path):
    from imp_etl_spark.sources.io import overwrite_partitions

    nation = read_table(spark, SF_DIR, "nation")
    out = str(tmp_path / "nation_dyn")
    write_sink(nation, "parquet", out, mode="overwrite",
               partition_by=["n_regionkey"])
    # restate ONE region's rows; the other partitions must survive
    restated = (nation.filter(F.col("n_regionkey") == 2)
                .withColumn("n_name", F.lit("RESTATED")))
    overwrite_partitions(restated, "parquet", out, ["n_regionkey"])
    back = read_source(spark, "parquet", out)
    assert back.count() == nation.count()
    assert back.filter((F.col("n_regionkey") == 2)
                       & (F.col("n_name") != "RESTATED")).count() == 0
    assert back.filter(F.col("n_regionkey") != 2).count() == \
        nation.filter(F.col("n_regionkey") != 2).count()


def test_text_round_trip(spark, tmp_path):
    p = tmp_path / "log.txt"
    p.write_text("alpha\nbeta\n")
    df = read_source(spark, "text", str(p))
    assert sorted(r.value for r in df.collect()) == ["alpha", "beta"]


def test_schema_required_for_csv_json(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_source(spark, "csv", str(tmp_path))
    with pytest.raises(ValueError, match="explicit schema"):
        read_source(spark, "json", str(tmp_path))
    with pytest.raises(ValueError, match="unknown source format"):
        read_source(spark, "avro", str(tmp_path))


def test_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="bounds"):
        read_jdbc(spark, "jdbc:mysql://example/db", "voucher",
                  partition_column="log_id")


def test_csv_corrupt_record_side_output(spark, tmp_path):
    """PERMISSIVE mode routes malformed rows to _corrupt_record instead
    of failing the 100 TB job on one bad line."""
    p = tmp_path / "dirty"
    p.mkdir()
    (p / "data.csv").write_text("1,alpha\n2,beta\nnot_an_int,gamma\n")
    df = read_source(
        spark, "csv", str(p),
        schema="id BIGINT, name STRING, _corrupt_record STRING",
        mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record")
    df = df.cache()  # corrupt-record column requires materialized parse
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert bad.collect()[0]["_corrupt_record"].startswith("not_an_int")
    df.unpersist()


def test_compact_parquet_preserves_rows_and_reduces_files(spark, tmp_path):
    import glob

    from imp_etl_spark.sources.io import compact_parquet

    src = str(tmp_path / "shards")
    li = read_table(spark, SF_DIR, "lineitem")
    li.repartition(24).write.mode("overwrite").parquet(src)
    before_files = len(glob.glob(src + "/*.parquet"))
    before_rows = spark.read.parquet(src).count()

    n = compact_parquet(spark, src, target_mb=128)
    after_files = len(glob.glob(src + "/*.parquet"))
    assert after_files == n < before_files
    assert spark.read.parquet(src).count() == before_rows


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    """Compacting a partitionBy-written directory must keep the
    col=value layout (pruning + physical schema), not flatten the
    partition key into a data column."""
    import glob
    import os

    from pyspark.sql import functions as F

    from imp_etl_spark.sources.io import compact_parquet

    src = str(tmp_path / "part_shards")
    li = read_table(spark, SF_DIR, "lineitem").withColumn(
        "rf", F.col("l_returnflag"))
    li.repartition(8).write.mode("overwrite").partitionBy("rf").parquet(src)
    before_rows = spark.read.parquet(src).count()
    before_files = len(glob.glob(src + "/rf=*/*.parquet"))

    compact_parquet(spark, src, target_mb=128)
    part_dirs = sorted(d for d in os.listdir(src) if d.startswith("rf="))
    assert part_dirs == ["rf=A", "rf=N", "rf=R"]
    assert not glob.glob(src + "/*.parquet")  # no flattened files at root
    after_files = len(glob.glob(src + "/rf=*/*.parquet"))
    assert after_files < before_files
    after = spark.read.parquet(src)
    assert after.count() == before_rows
    assert "rf" in after.columns  # still a partition column, still readable


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Live JDBC round trip through write_jdbc/read_jdbc against the
    embedded Derby engine that ships on Spark's own classpath (the
    Hive-metastore dependency) — no external database or network. Covers
    the S13 connector path end-to-end: batched multi-connection write,
    plain read-back, and the partitioned (bounded-column) parallel read.
    VERDICT r4 "What's missing" item 4."""
    import py4j

    from imp_etl_spark.sources.io import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/smokedb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        spark._jvm.java.lang.Class.forName(driver)
    except py4j.protocol.Py4JError:
        pytest.skip("embedded Derby driver not on the classpath")

    df = spark.range(0, 100).selectExpr(
        "id AS log_id", "CAST(id % 7 AS STRING) AS reference_no")
    write_jdbc(df, url, "work_queue", mode="overwrite",
               num_partitions=4, driver=driver)

    back = read_jdbc(spark, url, "work_queue", driver=driver)
    assert back.count() == 100
    assert {r["log_id"] for r in back.collect()} == set(range(100))

    # partitioned parallel read: 4 bounded slices over log_id
    part = read_jdbc(spark, url, "work_queue",
                     partition_column="log_id", lower_bound=0,
                     upper_bound=100, num_partitions=4, driver=driver)
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100

    # pushdown subquery (the reference's filtered work-queue scan);
    # Spark creates quoted (case-exact) columns, so the hand-written
    # subquery must quote them too — Derby folds bare identifiers to
    # uppercase
    sub = read_jdbc(
        spark, url,
        '(SELECT "log_id" FROM work_queue WHERE "log_id" < 10) t',
        driver=driver)
    assert sub.count() == 10


def test_jdbc_upsert_embedded_derby(spark, tmp_path):
    """upsert_jdbc (r11, VERDICT item 2 — the reference's MySQL
    ``INSERT ... ON DUPLICATE KEY UPDATE`` deployment shape,
    etlService.js:36-53): live staging-table + ANSI MERGE round trip
    against embedded Derby. Covers insert+update semantics on a
    COMPOSITE key, staging cleanup, transactional failure (bad
    statement rolls back, target untouched), and row-contract parity
    with the manifest sink's merge_preview."""
    import py4j
    import pytest as _pytest

    from imp_etl_spark.plans.upsert import merge_preview
    from imp_etl_spark.sources.io import read_jdbc, upsert_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/upsertdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        spark._jvm.java.lang.Class.forName(driver)
    except py4j.protocol.Py4JError:
        _pytest.skip("embedded Derby driver not on the classpath")

    # target: composite PK (ref_no, detail_id), one value column.
    # createTableColumnTypes: Spark's JDBC writer maps StringType to
    # CLOB on Derby, and CLOBs are not comparable in a MERGE ON clause;
    # the upsert's staging table clones the TARGET's types, so only
    # this pre-create needs the option
    coltypes = "ref_no VARCHAR(64), payload VARCHAR(128)"
    target = spark.createDataFrame(
        [("r1", 1, "old-a"), ("r1", 2, "old-b"), ("r2", 1, "old-c")],
        "ref_no STRING, detail_id INT, payload STRING")
    write_jdbc(target, url, "txn", mode="overwrite", driver=driver,
               createTableColumnTypes=coltypes)

    # batch: updates (r1,1) and (r2,1), inserts (r3,9)
    batch = spark.createDataFrame(
        [("r1", 1, "new-a"), ("r2", 1, "new-c"), ("r3", 9, "ins-d")],
        "ref_no STRING, detail_id INT, payload STRING")
    n = upsert_jdbc(batch, url, "txn", keys=["ref_no", "detail_id"],
                    driver=driver)
    assert n >= 3  # 2 updates + 1 insert touched

    back = read_jdbc(spark, url, "txn", driver=driver)
    got = {(r["ref_no"], r["detail_id"]): r["payload"]
           for r in back.collect()}
    assert got == {("r1", 1): "new-a", ("r1", 2): "old-b",
                   ("r2", 1): "new-c", ("r3", 9): "ins-d"}

    # parity with the manifest sink's row contract: the same batch
    # through merge_preview yields the same final rows
    want = {(r["ref_no"], r["detail_id"]): r["payload"]
            for r in merge_preview(
                batch.withColumn("__seq", F.lit(1)), target,
                ["ref_no", "detail_id"], "__seq").collect()}
    assert got == want

    # staging table dropped: nothing but txn (and Derby's own) remains
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    rs = conn.getMetaData().getTables(None, "APP", None, None)
    tables = set()
    while rs.next():
        tables.add(rs.getString("TABLE_NAME"))
    assert not [t for t in tables if "STAGE" in t.upper()], tables

    # transactional failure: a duplicate-key batch makes ANSI MERGE
    # raise (two matches for one target row) -> rollback, target
    # untouched, staging still cleaned up
    dup = spark.createDataFrame(
        [("r1", 1, "x"), ("r1", 1, "y")],
        "ref_no STRING, detail_id INT, payload STRING")
    with _pytest.raises(Exception):
        upsert_jdbc(dup, url, "txn", keys=["ref_no", "detail_id"],
                    driver=driver)
    back2 = {(r["ref_no"], r["detail_id"]): r["payload"]
             for r in read_jdbc(spark, url, "txn",
                                driver=driver).collect()}
    assert back2 == got  # unchanged
    rs2 = conn.getMetaData().getTables(None, "APP", None, None)
    tables2 = set()
    while rs2.next():
        tables2.add(rs2.getString("TABLE_NAME"))
    conn.close()
    assert not [t for t in tables2 if "STAGE" in t.upper()], tables2

    # explicit dialect strings build without a live server: the SQL
    # text is the reference's own statement family
    with _pytest.raises(ValueError, match="unknown upsert dialect"):
        upsert_jdbc(batch, url, "txn", keys=["ref_no"],
                    dialect="sqlite", driver=driver)


def test_jdbc_upsert_edge_semantics(spark, tmp_path):
    """Post-closing r11 pins for upsert_jdbc edges: (a) an EMPTY batch
    is a clean no-op (0 affected, staging cleaned up, target
    untouched); (b) NULL-valued key columns follow SQL MERGE
    semantics — a NULL key never matches, so such rows INSERT on
    every run (documented: dedupe/filter NULL keys upstream exactly
    like the reference's NOT NULL work-queue contract)."""
    import py4j

    from imp_etl_spark.sources.io import read_jdbc, upsert_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/edgedb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        spark._jvm.java.lang.Class.forName(driver)
    except py4j.protocol.Py4JError:
        pytest.skip("embedded Derby driver not on the classpath")

    target = spark.createDataFrame(
        [("k1", "v1")], "ref_no STRING, payload STRING")
    write_jdbc(target, url, "t_edge", mode="overwrite", driver=driver,
               createTableColumnTypes="ref_no VARCHAR(64), "
                                      "payload VARCHAR(64)")

    # (a) empty batch
    empty = target.limit(0)
    n = upsert_jdbc(empty, url, "t_edge", keys=["ref_no"],
                    driver=driver)
    assert n == 0
    back = read_jdbc(spark, url, "t_edge", driver=driver)
    assert [(r["ref_no"], r["payload"]) for r in back.collect()] == \
        [("k1", "v1")]

    # (b) NULL key: inserts every run (never matches)
    nullkey = spark.createDataFrame(
        [(None, "x")], "ref_no STRING, payload STRING")
    upsert_jdbc(nullkey, url, "t_edge", keys=["ref_no"], driver=driver)
    upsert_jdbc(nullkey, url, "t_edge", keys=["ref_no"], driver=driver)
    rows = read_jdbc(spark, url, "t_edge", driver=driver).collect()
    assert len(rows) == 3  # k1 + two NULL-key inserts
    assert sum(1 for r in rows if r["ref_no"] is None) == 2


def test_events_declared_schema_read_is_neutral(spark, tmp_path):
    """r12 groundwork (pinned ahead of the change — see COVERAGE r11
    'The reverted cache, named for r12'): read_table('events') today
    runs a schema-INFERENCE pass per call because the ts physical
    type varies by producer. The planned r12 fix reads with a
    declared/cached schema instead. This test pins the neutrality
    claim that fix will rely on, for BOTH producers: reading the same
    file with the schema inference returns, explicitly declared,
    yields an IDENTICAL schema and identical rows.

    (a) driver-generated fixtures: ts is parquet TIMESTAMP(NANOS),
        surfaced as bigint under the legacy nanosAsLong conf;
    (b) engine-written tables: ts is a real timestamp column.
    """
    from imp_etl_spark.sources.parquet import read_table
    from tests.conftest import SF_DIR

    # (a) nanos fixture: declared re-read of the RAW file
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_path = f"{SF_DIR}/events.parquet"
    inferred = spark.read.parquet(raw_path)
    declared = spark.read.schema(inferred.schema).parquet(raw_path)
    assert declared.schema == inferred.schema
    # (the inferred flavor depends on session state/Spark version —
    # bigint under nanosAsLong, timestamp_ntz when read natively;
    # neutrality must hold for WHICHEVER inference returns)
    a = sorted(map(tuple, inferred.limit(500).collect()))
    b = sorted(map(tuple, declared.limit(500).collect()))
    assert a == b

    # (b) engine-written events (timestamp ts): the read_table output
    # round-trips through a declared re-read bit-identically
    ev = read_table(spark, SF_DIR, "events").limit(500)
    p = str(tmp_path / "engine_events")
    ev.write.parquet(f"{p}/events.parquet")
    back_inferred = read_table(spark, p, "events")
    raw2 = spark.read.parquet(f"{p}/events.parquet")
    declared2 = spark.read.schema(raw2.schema).parquet(
        f"{p}/events.parquet")
    assert declared2.schema == raw2.schema
    x = sorted(map(tuple, back_inferred.collect()))
    y = sorted(map(tuple, ev.collect()))
    assert x == y


def test_events_schema_cache_bounded_and_inventory_keyed(tmp_path, spark):
    import os
    import shutil
    import time

    from imp_etl_spark.sources import parquet as P

    src = os.path.join(SF_DIR, "events.parquet")
    P._EVENTS_SCHEMA_CACHE.clear()
    # cap: more distinct keys than the cap never grows the dict past it
    for i in range(P._EVENTS_SCHEMA_CACHE_CAP + 3):
        d = tmp_path / ("sf_%d" % i)
        d.mkdir()
        shutil.copy(src, d / "events.parquet") if os.path.isfile(src) \
            else shutil.copytree(src, d / "events.parquet")
        P.read_table(spark, str(d), "events")
    assert len(P._EVENTS_SCHEMA_CACHE) <= P._EVENTS_SCHEMA_CACHE_CAP

    # leaf-inventory key: an in-place leaf change (same top-level mtime)
    # still changes the key for directory tables
    d = tmp_path / "inv"
    d.mkdir()
    tbl = d / "events.parquet"
    if os.path.isfile(src):
        tbl.mkdir()
        shutil.copy(src, tbl / "part-000.parquet")
    else:
        shutil.copytree(src, tbl)
    k1 = P._events_schema_key(str(tbl))
    time.sleep(0.02)
    # touch a leaf without touching the directory mtime
    leaves = [p for p in os.listdir(tbl) if p.endswith(".parquet")]
    os.utime(tbl / leaves[0])
    k2 = P._events_schema_key(str(tbl))
    assert k1 != k2


def test_events_schema_not_cached_for_partitioned_layout(tmp_path, spark):
    """A file added inside an EXISTING partition directory changes
    neither the table's top-level mtime nor its top-level inventory, so
    a cached schema would go stale: the new file's column must be
    readable on the next read_table."""
    from pyspark.sql.utils import AnalysisException

    from imp_etl_spark.sources import parquet as P

    sf = tmp_path / "sf"
    part = sf / "events.parquet" / "part=1"
    rows = [(1, "2024-01-01 00:00:00", "u1", "click", 1.5)]
    cols = "event_id long, ts string, user_id string, event_type string, " \
        "value double"
    ev = spark.createDataFrame(rows, cols).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    ev.write.parquet(str(part))          # no props column yet
    merge = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(merge, None)
    spark.conf.set(merge, "true")
    try:
        with pytest.raises(AnalysisException):
            read_table(spark, str(sf), "events")   # props missing
        ev.withColumn("event_id", F.lit(2).cast("long")).withColumn(
            "props", F.lit("{}")).write.mode("append").parquet(str(part))
        got = read_table(spark, str(sf), "events")
        assert sorted((r["event_id"], r["props"]) for r in got.collect()) \
            == [(1, None), (2, "{}")]
    finally:
        if old is None:
            spark.conf.unset(merge)
        else:
            spark.conf.set(merge, old)
    assert P._events_schema_key(str(sf / "events.parquet")) is None

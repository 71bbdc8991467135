"""Lifecycle of the query tier's cached frames (VERDICT r5 item 4): every
frame an operator or registered query persists goes through
``operators.util.persist``, and ``release_query_caches()`` unpersists
every one of them — the hook a long-lived driver (controller, scheduled
runs, streaming epochs) calls between runs. Also pins the per-family
persist gates (which frames are cached at all). The dedup tier's shared
MinHash signature artifact is a DISK parquet memo (no block-manager
footprint) and is governed by its mtime-keyed invalidation instead.
The directories queries write for themselves (stream sources and
checkpoints, on-disk indexes) live under one per-process scratch root
that is removed at interpreter exit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from imp_etl_spark.operators import util
from imp_etl_spark.operators.util import release_query_caches
from imp_etl_spark.queries import REGISTRY
from tests.conftest import ORACLE_SF_DIR, SF_DIR


def _persisted_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
               .toArray())


def test_release_query_caches_unpersists_tracked_frames(spark):
    # start from a clean registry so the assertions are about THIS run
    release_query_caches(blocking=True)
    assert util._QUERY_PERSISTS == []

    fn, _sql = REGISTRY["dedup_cluster_assign"]
    fn(spark, ORACLE_SF_DIR).count()

    tracked = list(util._QUERY_PERSISTS)
    assert tracked, "dedup_cluster_assign should register its persists"
    # every tracked frame really is persisted (MEMORY_AND_DISK)
    assert all(d.storageLevel.useMemory or d.storageLevel.useDisk
               for d in tracked)

    released = release_query_caches(blocking=True)
    assert released == len(tracked)
    assert util._QUERY_PERSISTS == []
    # unpersist really took: storage level reverts to NONE on each frame
    assert all(not (d.storageLevel.useMemory or d.storageLevel.useDisk)
               for d in tracked)


def test_release_is_idempotent_and_reentrant(spark):
    release_query_caches(blocking=True)
    assert release_query_caches() == 0
    # a released tier can be rebuilt: the query still answers afterward
    fn, _sql = REGISTRY["dedup_pipeline_survivors"]
    assert fn(spark, ORACLE_SF_DIR).count() >= 0
    assert release_query_caches(blocking=True) >= 1


def test_controller_runs_hold_dedup_persists_bounded(spark, tmp_path):
    """VERDICT r6 item 3: a LONG-LIVED controller that interleaves dedup
    queries with scheduled runs must not grow the query-cache registry
    without bound — ``run_once`` releases it after every run (and the
    scheduled path after every epoch via ``on_epoch_end``), so the
    registry returns to empty between runs regardless of how many
    dedup queries ran since the last one."""
    from imp_etl_spark.plans.control import EtlController
    from imp_etl_spark.sources.parquet import read_table

    release_query_caches(blocking=True)
    queue = read_table(spark, ORACLE_SF_DIR, "orders").limit(20).select(
        F.col("o_orderkey").alias("log_id"),
        F.col("o_custkey").cast("string").alias("reference_no"),
        F.lit("voucher").alias("table"))
    voucher = read_table(spark, ORACLE_SF_DIR, "customer").select(
        F.col("c_custkey").cast("string").alias("voucher_id"),
        F.col("c_custkey").cast("string").alias("reference_no"),
        F.col("c_name").alias("first_name"))
    txn = voucher.select(
        F.col("voucher_id").alias("voucher_details_id"),
        "reference_no",
        F.lit("1").alias("quantity"))

    ctl = EtlController(spark)
    fn, _sql = REGISTRY["dedup_cluster_assign"]
    sizes = []
    for epoch in range(3):
        fn(spark, ORACLE_SF_DIR).count()   # a dedup query between runs
        assert util._QUERY_PERSISTS  # it really tracked persists
        ctl.run_once(queue, voucher, txn,
                     str(tmp_path / "v"), str(tmp_path / "t"))
        sizes.append(len(util._QUERY_PERSISTS))
    # bounded = returns to EMPTY after every controller run, never grows
    assert sizes == [0, 0, 0]


def test_release_query_caches_empties_the_cache_manager(spark):
    """One release after a query leaves NOTHING cached in the session:
    every persist on the query paths (rank machinery, dedup pair tables,
    funnel stages, ad-hoc multi-consumer frames) has the one owner."""
    spark.catalog.clearCache()
    release_query_caches(blocking=True)
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached_before_release = []
    for name in ("agg_percentiles_disc", "dedup_cluster_assign",
                 "funnel_signup_purchase", "rfm_customer_segments",
                 "q15_top_supplier"):
        fn, _sql = REGISTRY[name]
        fn(spark, ORACLE_SF_DIR).write.format("noop").mode(
            "overwrite").save()
        if not cm.isEmpty():
            cached_before_release.append(name)
        release_query_caches(blocking=True)
        assert cm.isEmpty(), name
    # not vacuous: the queries really cached frames before the release
    assert cached_before_release


def test_global_index_small_path_frames_are_released(spark):
    """The small single-sort path of ``global_index(unique_order=True)``
    persists both its input and its ranked output; both belong to the
    owner, so a release leaves no persistent RDD behind."""
    from imp_etl_spark.operators.window import global_index

    release_query_caches(blocking=True)
    before = _persisted_rdd_ids(spark)
    df = spark.range(0, 300).select((F.col("id") * 7 % 301).alias("ord"))
    global_index(df, "ord", "rn", unique_order=True).write.format(
        "noop").mode("overwrite").save()
    assert _persisted_rdd_ids(spark) - before
    release_query_caches(blocking=True)
    assert _persisted_rdd_ids(spark) - before == set()


# ---------------------------------------------------------------------------
# Gated query-level persists (VERDICT r12 item 2)
# ---------------------------------------------------------------------------

def test_funnel_persist_gated_off_on_tiny_source(spark):
    """A provably tiny events source keeps the fused (no-persist)
    funnel plan; an unprovable in-memory source persists as before."""
    from imp_etl_spark.operators.behavior import funnel_counts

    rows = [(i, "u%d" % (i % 5), "signup" if i % 3 == 0 else "click",
             "2024-01-0%d 00:00:00" % (i % 9 + 1)) for i in range(30)]
    ev = spark.createDataFrame(
        rows, "event_id int, user_id string, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    release_query_caches(blocking=True)
    out = funnel_counts(ev, ["signup", "click"])
    out.collect()
    # in-memory frame: unprovable -> persisted (the safe big assumption)
    assert util._QUERY_PERSISTS, \
        "unprovable source should persist stage frames"
    release_query_caches()

    from imp_etl_spark.sources.parquet import read_table
    ev_parq = read_table(spark, SF_DIR, "events")  # sf0.001: 1000 rows
    out2 = funnel_counts(ev_parq, ["signup", "click"])
    assert util._QUERY_PERSISTS == [], \
        "footer-tiny source must keep the fused plan"
    plan = out2._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan


def test_hll_sketch_persist_gated_off_at_fixture_scale(spark):
    release_query_caches()
    fn, _ = REGISTRY["hll_user_overlap_halves"]
    df = fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # events at every test SF is far below the 1M-row sketch crossover:
    # the fused (re-evaluating) plan must be kept
    assert "InMemoryTableScan" not in plan
    assert not util._QUERY_PERSISTS


def test_verify_tier_persists_stay_on_at_fixture_scale(spark):
    """The driver-confirmed r12 wins (verified-pair persists) must stay
    engaged at the 500-doc fixtures — their crossover is ~256 docs."""
    release_query_caches()
    fn, _ = REGISTRY["dedup_pipeline_survivors"]
    fn(spark, SF_DIR)
    assert util._QUERY_PERSISTS, \
        "verified/cands persists should engage at 500 docs"
    release_query_caches()


def test_scratch_root_is_removed_at_exit(tmp_path):
    """A process that makes a scratch directory and exits leaves nothing
    in its temp directory."""
    import os
    import subprocess
    import sys

    code = ("import os\n"
            "from imp_etl_spark.operators.util import scratch_dir\n"
            "d = scratch_dir('probe_')\n"
            "open(os.path.join(d, 'f'), 'w').write('x')\n"
            "print(d)\n")
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=repo,
                         capture_output=True, text=True, timeout=120,
                         check=True).stdout.strip()
    assert out.startswith(str(tmp_path)) and "probe_" in out
    assert not os.path.exists(out)
    assert os.listdir(tmp_path) == []


def test_ivf_index_not_left_in_temp_dir(spark):
    """``ivf_indexed_topk`` builds its index under the scratch root, not
    as a new entry directly in the system temp directory."""
    import glob
    import os
    import tempfile

    pattern = os.path.join(tempfile.gettempdir(), "ivf_idx_*")
    before = set(glob.glob(pattern))
    fn, _sql = REGISTRY["ivf_indexed_topk"]
    assert fn(spark, ORACLE_SF_DIR).count() > 0
    assert set(glob.glob(pattern)) == before

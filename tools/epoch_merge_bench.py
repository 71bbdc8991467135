"""Measure the read-modify-write epoch shapes of the manifest sink.

The incremental view's epoch is: read back the touched buckets' rows,
fold the batch in, merge. Before round 4's late change the merge then
re-read the same buckets for its own LWW union (two bucket reads +
an extra keyed shuffle per epoch); with
``batch_replaces_touched_buckets`` the caller's promise removes both.
This bench times ONE epoch both ways against the same snapshot —
same batch, same touched bucket — so the delta is exactly the second
read + union shuffle.

Run from the repo root:
    PYTHONPATH=. python tools/epoch_merge_bench.py
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from imp_etl_spark.operators.dedup import latest_per_key
from imp_etl_spark.plans import upsert as U
from imp_etl_spark.session import get_spark
from imp_etl_spark.sources.parquet import read_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_BUCKETS = 16


def one_epoch(spark, path: str, version: int, replace: bool) -> float:
    """The view's epoch against the snapshot at `version`: 1-key batch,
    read-back of its bucket, fold, merge. Returns wall seconds."""
    t0 = time.perf_counter()
    target = U.read_target(spark, path)
    batch = target.limit(1).select(
        "k", (F.col("n") + 1).alias("n"), (F.col("ord") + 1).alias("ord"))
    # read back the touched bucket's rows and fold the batch in (the
    # read-modify-write half every variant pays)
    cur, _ = U.read_touched(spark, path, batch, ["k"], version)
    folded = latest_per_key(
        batch.unionByName(cur), ["k"], ["ord"], desc=True)
    U.merge_upsert(spark, path, folded, ["k"], "ord",
                   n_buckets=N_BUCKETS,
                   batch_replaces_touched_buckets=replace,
                   expected_version=version if replace else None)
    return time.perf_counter() - t0


def main() -> None:
    spark = get_spark("epoch-merge-bench")
    spark.sparkContext.setLogLevel("ERROR")
    base = read_table(spark, SF_DIR, "lineitem").select(
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("k"),
        F.col("l_quantity").alias("n"),
        F.col("l_orderkey").alias("ord"))
    rows = base.count()
    print(f"| epoch shape ({rows} target rows, 1/{N_BUCKETS} touched) "
          "| wall (s) |")
    print("|---|---|")
    for label, replace in (("two-read LWW union (replace=False)", False),
                           ("single-read replace (replace=True)", True)):
        walls = []
        for _ in range(3):
            d = tempfile.mkdtemp(prefix="epochs_")
            path = f"{d}/t"
            v0 = U.merge_upsert(spark, path, base, ["k"], "ord",
                                n_buckets=N_BUCKETS)
            walls.append(one_epoch(spark, path, v0, replace))
            shutil.rmtree(d, ignore_errors=True)
        print(f"| {label} | {min(walls):.2f} |")


if __name__ == "__main__":
    main()

"""Plan dump and timing harness for the headline queries.

For each query: write ``explain("formatted")`` to
``<out_dir>/<name>_<tag>.txt`` and time the noop-sink write best-of-N
(same timed region as bench.py, including EAGER_BUILD semantics), also
recording how many Spark jobs each build+write triggers (eager probes /
collects show up here).

Usage:
    PYTHONPATH=. python tools/plan_dump.py <out_dir> <tag> [query ...]

With no query names, runs the full bench HEADLINE list. ``REPEATS``
(environment, default 4) sets N. Two checkouts' dumps of the same
queries diff to prove a change leaves every plan alone: normalise
expression ids (``#\\d+``), ``plan_id=\\d+`` and temp directory names
first.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from imp_etl_spark.session import get_spark  # noqa: E402
from imp_etl_spark.sources.parquet import DEFAULT_SF_DIR as SF_DIR  # noqa: E402

REPEATS = int(os.environ.get("REPEATS", "4"))


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    plan_dir, tag = sys.argv[1], sys.argv[2]
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    from imp_etl_spark.queries import REGISTRY
    from imp_etl_spark.sources.parquet import read_table

    names = sys.argv[3:] or list(bench.HEADLINE)

    # same warmups as bench.py
    read_table(spark, SF_DIR, "lineitem").limit(1000).write.format(
        "noop").mode("overwrite").save()
    from imp_etl_spark.operators.dedup import minhash_stacked

    minhash_stacked(read_table(spark, SF_DIR, "documents").limit(64)) \
        .write.format("noop").mode("overwrite").save()
    read_table(spark, SF_DIR, "documents").write.format(
        "noop").mode("overwrite").save()
    if any(n in bench.EAGER_BUILD or n.startswith("minhash")
           or "dedup" in n or "cross_corpus" in n for n in names):
        from imp_etl_spark.queries_llm import _shared_minhash_stacked

        stacked = _shared_minhash_stacked(spark, SF_DIR)
        stacked.write.format("noop").mode("overwrite").save()

    os.makedirs(plan_dir, exist_ok=True)

    tracker = spark.sparkContext.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        fn, _ = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"plan-dump:{name}")
        best, times, jobs = None, [], None
        for attempt in range(REPEATS):
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter() if name in bench.EAGER_BUILD else None
            df = fn(spark, SF_DIR)
            if attempt == 0:
                with open(os.path.join(plan_dir, f"{name}_{tag}.txt"),
                          "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            if t0 is None:
                t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            times.append(round(dt, 3))
            jobs = len(tracker.getJobIdsForGroup(None) or []) - j0
            best = dt if best is None else min(best, dt)
        out[name] = {"best": round(best, 3), "times": times,
                     "jobs_last_attempt": jobs}
        spark.sparkContext.setJobDescription(None)
        print(f"{name:32s} best={best:7.3f} jobs={jobs} times={times}", flush=True)

    print(json.dumps({"tag": tag, "sf_dir": SF_DIR, "results": out}))


if __name__ == "__main__":
    main()

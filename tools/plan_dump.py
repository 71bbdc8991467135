"""Plan dump and timing harness for the ETL fire and the headline queries.

ETL fire (always first): ``run_etl`` on the ``tests/fixtures_b`` frames,
once to create the two tables and once more into them (a cron fire's
partial merge). Each branch write's optimized logical plan goes to
``<out_dir>/etl_<create|fire>_<voucher|transaction>[_<n>]_<tag>.txt``
(table paths shown as ``<root>``), and the Spark jobs each ``run_etl``
call ran are the ``jobs_last_attempt`` of ``etl_create``/``etl_fire`` in
the JSON line.

For each query: write ``explain("formatted")`` to
``<out_dir>/<name>_<tag>.txt`` and time the noop-sink write best-of-N
(same timed region as bench.py, including EAGER_BUILD semantics), also
recording how many Spark jobs each build+write triggers (eager probes /
collects show up here).

Usage:
    PYTHONPATH=. python tools/plan_dump.py <out_dir> <tag> [query ... | etl]

With no query names, runs the full bench HEADLINE list; ``etl`` alone
dumps the ETL fire only. ``REPEATS`` (environment, default 4) sets N.
Two checkouts' dumps diff to prove a change leaves every plan alone:
normalise expression ids (``#\\d+``), ``plan_id=\\d+``, temp directory
names and the ETL's 8-hex observation tags (``cleansed_``/``valid_``)
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


def dump_etl(spark, plan_dir: str, tag: str) -> dict[str, dict]:
    """Run the ETL fire twice on the fixture frames (table creation,
    then one fire into the existing tables); write each branch write's
    optimized plan and return the job count of each run."""
    import shutil
    import tempfile

    from pyspark.sql.readwriter import DataFrameWriter

    from imp_etl_spark.plans.runner import run_etl
    from tests.fixtures_b import make_frames

    root = tempfile.mkdtemp(prefix="plan_dump_etl_")
    paths = {"voucher": os.path.join(root, "v"),
             "transaction": os.path.join(root, "t")}
    plans: list[tuple[str, str]] = []  # the branches write concurrently
    real_parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        for branch, p in paths.items():
            if str(path).startswith(p + os.sep):
                plan = self._df._jdf.queryExecution().optimizedPlan()
                plans.append((branch, plan.toString()))
        return real_parquet(self, path, *args, **kwargs)

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    queue, voucher, txn = make_frames(spark)
    out: dict[str, dict] = {}
    DataFrameWriter.parquet = capture
    try:
        for run in ("create", "fire"):
            plans.clear()
            job0 = dag.nextJobId()
            t0 = time.perf_counter()
            run_etl(spark, queue, voucher, txn, paths["voucher"],
                    paths["transaction"])
            dt = time.perf_counter() - t0
            jobs = dag.nextJobId() - job0
            seen: dict[str, int] = {}
            for branch, plan in sorted(plans):
                n = seen[branch] = seen.get(branch, 0) + 1
                suffix = "" if n == 1 else f"_{n}"
                with open(os.path.join(
                        plan_dir, f"etl_{run}_{branch}{suffix}_{tag}.txt"),
                        "w") as fh:
                    fh.write(plan.replace(root, "<root>"))
            out[f"etl_{run}"] = {"best": round(dt, 3), "times": [round(dt, 3)],
                                 "jobs_last_attempt": jobs}
            print(f"etl_{run:28s} best={dt:7.3f} jobs={jobs} "
                  f"writes={len(plans)}", flush=True)
    finally:
        DataFrameWriter.parquet = real_parquet
        shutil.rmtree(root, ignore_errors=True)
    return out


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
    os.makedirs(plan_dir, exist_ok=True)
    out: dict[str, dict] = dump_etl(spark, plan_dir, tag)
    if names == ["etl"]:
        print(json.dumps({"tag": tag, "sf_dir": SF_DIR, "results": out}))
        return

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

    tracker = spark.sparkContext.statusTracker()
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

"""The benchmark's own self-test: its checks pass on the program's real
outputs and fail on deliberately corrupted ones.

Usage, from the root of a checkout (takes a few minutes)::

    python3 perfbench/selftest.py

Each workload runs briefly and must finish with no failed operation
(the ETL at a tiny queue; the queries on their usual data set). Then
each check is shown a corrupted output and must count a failure:

- ``etl_cron_merge``: one row dropped from a bucket file of the written
  table (the key-count check), and a lookup of a key a fire updated
  that returns the writer tag of the row the update replaced (what a
  merge that never applies updates would return).
- ``analytic_queries``: one row dropped from a query's result before
  the oracle comparison.

Exits 0 when every case behaves, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

import run  # noqa: E402


def _caught(wl, corrupt, what: str, results: list) -> None:
    """Run ``corrupt`` (which feeds a check a bad output); the check must
    record one more failure."""
    before = wl.log.failed
    corrupt()
    ok = wl.log.failed > before
    results.append(ok)
    print(f"selftest: {'ok  ' if ok else 'MISS'} check catches {what}",
          flush=True)


def _drop_one_row(table_path: str) -> None:
    import pyarrow.parquet as pq

    from imp_etl_spark.plans import upsert

    for d in upsert.bucket_paths(table_path).values():
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, f))
                if t.num_rows:
                    pq.write_table(t.slice(1), os.path.join(d, f))
                    crc = os.path.join(d, f".{f}.crc")  # now stale
                    if os.path.exists(crc):
                        os.remove(crc)
                    return


def main() -> int:
    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    run._prepare_env(work)
    import gen
    import workloads

    from imp_etl_spark.plans import upsert
    from imp_etl_spark.session import get_spark

    workloads.N_QUEUE = 600
    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    results: list[bool] = []
    try:
        for name in run.WORKLOADS:
            wl = workloads.make(name, spark, os.path.join(work, name), 3,
                                None)
            wl.setup()
            wl.measure(0.1)
            wl.finish()
            ok = wl.log.failed == 0 and wl.log.attempted > 0
            results.append(ok)
            print(f"selftest: {'ok  ' if ok else 'FAIL'} {name}: "
                  f"{wl.log.attempted} ops, {wl.log.failed} failed",
                  flush=True)
            if name == "etl_cron_merge":
                _drop_one_row(os.path.join(wl.table_root, "v"))
                _caught(wl, wl.key_counts_ok,
                        "one row dropped from the table", results)
                # a key some fire updated, and the tag it had before
                key, old = next(
                    ((k, t) for b in wl.fires[1:]
                     for k, t in b.v_replaced.items()
                     if t != wl.gen.v_state[k]), (None, None))
                real = upsert.lookup

                def stale(spark_, path, key_values, version=None):
                    from pyspark.sql import functions as F
                    df = real(spark_, path, key_values, version)
                    return df.withColumn(gen.V_TAG, F.lit(old))

                def lookup_stale():
                    if key is None:
                        return  # no updated key: counts as a miss
                    upsert.lookup = stale
                    try:
                        wl.lookups([("v", key, wl.gen.v_state[key])])
                    finally:
                        upsert.lookup = real

                _caught(wl, lookup_stale,
                        "a lookup of an updated key returning its old tag",
                        results)
            else:
                q = next(q for q in workloads.QUERIES
                         if wl.warm_rows[q] and wl.warm_rows[q][1])
                cols, rows = wl.warm_rows[q]
                wl.warm_rows = {q: (cols, rows[1:])}
                keep = workloads.QUERIES
                workloads.QUERIES = [q]
                try:
                    _caught(wl, wl.finish,
                            f"one row dropped from {q}", results)
                finally:
                    workloads.QUERIES = keep
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"selftest: {sum(results)}/{len(results)} cases ok")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())

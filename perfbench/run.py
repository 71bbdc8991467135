"""Benchmark entry point: one seeded workload, timed, checked, one JSON line.

Usage, from the root of a checkout of the repository::

    python3 perfbench/run.py --workload etl_cron_merge --seed 1 \
        --seconds 10 --trace 0

Workloads (``perfbench/workloads.py``): ``etl_cron_merge`` and
``analytic_queries``. The ETL inputs are generated from ``--seed`` into
``.bench_work/`` under the current directory and written to parquet
before timing starts; the queries read the ``sf0.01`` fixture data set
beside the package's default one (``sources.parquet.DEFAULT_SF_DIR``)
in a seed-permuted order.
The program runs with its shipped configuration on ``local[<nproc>]``:
``SPARK_GRAFT_EXTRA_CONF`` is removed from the environment and no
``spark.imp_etl.*`` key is set.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced and untraced repetitions, prints the per-layer metrics
(``perfbench/metrics.py``, ``perfbench/tracing.py``) and writes every
span and Spark status-store record to
``.bench_work/trace-<workload>-<seed>.json``.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the machine-state context
(calibration job, load average, nproc, versions), which is not a
metric. Without the package next to this directory the run exits 2
without a result.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("etl_cron_merge", "analytic_queries")


def _prepare_env(work: str) -> None:
    """Shipped conf on all cores, and every scratch file inside ``work``."""
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [root, os.path.dirname(os.path.abspath(__file__))]
    try:
        import imp_etl_spark  # noqa: F401
    except ImportError as err:
        print(f"perfbench: the package under test is missing: {err}",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    import workloads
    from tracing import Tracer

    from imp_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.range(1).count()
        tracer = Tracer(spark, f"{args.workload}-{args.seed}") \
            if args.trace else None
        wl = workloads.make(args.workload, spark, work, args.seed, tracer)
        wl.session_start_s = time.perf_counter() - T0
        wl.setup()
        setup_s = time.perf_counter() - T0
        wl.measure(args.seconds)
        wl.finish()
        context = workloads.machine_context(spark)
        if tracer is None:
            metrics = {"setup_s": (setup_s, "s"), **wl.end_to_end()}
        else:
            from metrics import per_layer

            metrics = per_layer(tracer, wl)
            tracer.dump(os.path.join(
                root, ".bench_work",
                f"trace-{args.workload}-{args.seed}.json"), context)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    attempted, failed = wl.log.attempted, wl.log.failed
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""5x fact scale-up experiment (SCALING.md's table).

Duplicates the sf0.1 fact tables 5x with key offsets (orders/lineitem/
events/documents/embeddings; dimensions held fixed), then times the
headline queries at 1x vs 5x on the same warm session (best of 2), plus
the bucketed-merge partial-rewrite path: a 1-key batch merged into the
1x and 5x tables, reporting wall time and the rewritten-bucket fraction.

Run from the repo root:
    PYTHONPATH=. python tools/scale_experiment.py
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from imp_etl_spark.operators import window as W
from imp_etl_spark.session import get_spark
from imp_etl_spark.sources.parquet import read_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 5
OFFSET = 100_000_000
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q18_large_volume",
    "dedup_latest_per_key", "win_topn_per_group", "ann_cosine_topk",
    "minhash_lsh_pairs", "dedup_pipeline_survivors", "srp_bucket_topk",
    "simhash_near_dup",
    "dedup_cluster_assign", "passage_dedup_docs", "agg_stats_moments",
    "funnel_signup_purchase", "resample_ffill_hourly",
    "outlier_events_zscore", "rolling_24h_user_value", "scd2_user_state",
    "twap_user_value", "attribution_last_touch", "user_activity_streaks",
    "shard_documents_balanced",
    "ngram_novelty", "bpe_pair_counts", "ewma_user_value",
    "incremental_agg_merge", "q12_priority_class",
    "events_dau_wau", "basket_part_pairs_lift", "event_type_transitions",
    "seasonal_anomaly_events", "rfm_customer_segments",
    "parts_pareto_cumshare", "corpus_curation_funnel", "oov_rate_docs",
]
# fact table -> columns shifted by the copy offset (joins stay aligned:
# orderkey moves on both sides; custkey/user_id reference fixed dims)
FACTS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "customer", "supplier", "part"]


def build_5x(spark, out_dir: str) -> None:
    for t, keys in FACTS.items():
        base = read_table(spark, SF_DIR, t)
        parts = [base]
        for i in range(1, COPIES):
            shifted = base
            for k in keys:
                shifted = shifted.withColumn(
                    k, F.col(k) + F.lit(i * OFFSET))
            parts.append(shifted)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
    for t in DIMS:
        read_table(spark, SF_DIR, t).write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet")


EAGER_BUILD = {"dedup_cluster_assign", "shard_documents_balanced",
               "doc_length_quartile_bins", "outlier_events_mad",
               "rfm_customer_segments",
               # r8-late: seq_lag's range exchange + persist + boundary
               # collect run at build time
               "event_type_transitions"}  # same rule as bench.py


def time_query(fn, spark, sf_dir: str, name: str = "",
               eager: bool = False) -> float:
    best = None
    for _ in range(2):
        # write-only timing, except eager iterative ops (their
        # convergence loop runs jobs at build time) — mirrors bench.py
        t0 = (time.perf_counter()
              if eager or name in EAGER_BUILD else None)
        df = fn(spark, sf_dir)
        if t0 is None:
            t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def time_etl(spark, sf_dir: str) -> tuple[float, int]:
    from imp_etl_spark.plans.runner import run_etl

    queue = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("log_id"),
        F.col("o_custkey").cast("string").alias("reference_no"),
        F.lit("voucher").alias("table"))
    voucher = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("voucher_id"),
        F.col("c_custkey").cast("string").alias("reference_no"),
        F.col("c_name").alias("first_name"),
        F.col("c_mktsegment").alias("voucher_status"),
        F.col("c_acctbal").cast("string").alias("farm_area"))
    txn = (read_table(spark, sf_dir, "lineitem")
           .join(read_table(spark, sf_dir, "orders")
                 .select("o_orderkey", "o_custkey"),
                 F.col("l_orderkey") == F.col("o_orderkey"))
           .select(F.concat_ws("-", "l_orderkey", "l_linenumber")
                   .alias("voucher_details_id"),
                   F.col("o_custkey").cast("string").alias("reference_no"),
                   F.col("l_quantity").cast("string").alias("quantity"),
                   F.col("l_returnflag").alias("payout"),
                   F.col("l_linestatus").alias("ishold"),
                   F.col("l_shipdate").cast("string").alias("transac_date")))
    # best-of-2 like time_query: the first execution pays one-time
    # codegen/broadcast warm-up that showed up as a 2x-noisy 5x etl row
    best = recs = None
    for _ in range(2):
        out = tempfile.mkdtemp(prefix="scale_etl_")
        t0 = time.perf_counter()
        summary = run_etl(spark, queue, voucher, txn,
                          os.path.join(out, "voucher"),
                          os.path.join(out, "txn"))
        dt = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        recs = (summary["processedVoucherCount"]
                + summary["processedTransactionCount"])
        best = dt if best is None else min(best, dt)
    return best, recs


def time_partial_merge(spark, sf_dir: str) -> tuple[float, float, str]:
    """Initial full merge of lineitem-as-table, then a 1-key batch:
    wall of the partial merge + fraction of buckets rewritten."""
    from imp_etl_spark.plans.upsert import (
        bucket_paths,
        merge_upsert,
        read_target,
    )

    path = tempfile.mkdtemp(prefix="scale_merge_") + "/t"
    base = read_table(spark, sf_dir, "lineitem").select(
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("k"),
        F.col("l_quantity").alias("v"),
        F.col("l_orderkey").alias("ord"))
    t0 = time.perf_counter()
    v0 = merge_upsert(spark, path, base, ["k"], "ord")
    full_s = time.perf_counter() - t0
    # one-key batch with dtypes IDENTICAL to the target (else the dtype
    # guard correctly forces a full rewrite and we'd measure that)
    dt = dict(base.dtypes)
    one = base.limit(1).select(
        "k", (F.col("v") * 0 + 999).cast(dt["v"]).alias("v"),
        (F.col("ord") * 0 + 10 ** 9).cast(dt["ord"]).alias("ord"))
    t0 = time.perf_counter()
    v1 = merge_upsert(spark, path, one, ["k"], "ord")
    part_s = time.perf_counter() - t0
    m0, m1 = bucket_paths(path, v0), bucket_paths(path, v1)
    rewritten = sum(1 for b in m1 if m0.get(b) != m1[b])
    frac = f"{rewritten}/{len(m1)}"
    n = read_target(spark, path).count()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return full_s, part_s, f"{frac} buckets, {n} rows"


def build_25x_dedup(spark, out_dir: str, copies: int = 25) -> None:
    """Nx documents corpus that scales the WORKLOAD, not the dup rate:
    each copy's text is passed through a per-copy SEEDED LETTER
    PERMUTATION (``translate`` with a shuffled alphabet; copy 0 is the
    identity). A permutation is a character bijection that never
    touches whitespace, so within a copy every token/shingle equality —
    and therefore every Jaccard value and near-dup pair — is preserved
    exactly, while tokens from different copies land in (effectively)
    disjoint string spaces and band-collide only at the random md5
    rate. Seeded permutations rather than rotations because rotations
    only admit 26 distinct bijections — beyond 26 copies, rotation
    classes would repeat and every doc would gain exact cross-copy
    duplicates, silently raising the dup rate the build is supposed to
    hold fixed; 26! permutations never repeat at any copy count. Plain
    id-shifted copies would instead make every doc an N-way exact
    duplicate (output pairs O(copies² · corpus) — a dup-rate stress
    test, which tools/dup_cap_experiment.py already covers); this build
    answers the judge's actual question: does the staged dedup tier
    hold when the corpus is Nx with the SAME near-dup structure."""
    import random as _random

    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    base = read_table(spark, SF_DIR, "documents")
    parts = []
    for i in range(copies):
        shifted = base.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * OFFSET))
        if i:
            perm = list(lower)
            _random.Random(i).shuffle(perm)
            perm = "".join(perm)
            shifted = shifted.withColumn(
                "text", F.translate("text", lower + upper,
                                    perm + perm.upper()))
        parts.append(shifted)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def main_25x() -> None:
    """The r6 25x scale point (VERDICT r5 item 5): dedup tier + ETL.

    Dedup rows time the CONSUME phase against a pre-built warm
    signature artifact at both scales (same methodology as bench.py's
    build/consume split); the build is its own row. ETL reuses the
    plain-copy build (the MERGE asymptote is rows-per-bucket, which
    plain copies scale correctly)."""
    from imp_etl_spark.operators.util import release_query_caches
    from imp_etl_spark.queries import REGISTRY
    from imp_etl_spark.queries_llm import _shared_minhash_stacked

    spark = get_spark("scale-experiment-25x")
    spark.sparkContext.setLogLevel("ERROR")
    # SCALE_COPIES overrides the default 25x (e.g. SCALE_COPIES=100 for
    # the 100x point); the permutation build is valid at any count
    copies = int(os.environ.get("SCALE_COPIES", "25"))
    big = tempfile.mkdtemp(prefix="scale25x_")
    build_25x_dedup(spark, big, copies)
    # the ETL tables: plain shifted copies, dims fixed (same build as
    # the 5x table, just deeper)
    global COPIES
    old_copies, COPIES = COPIES, copies
    for t in DIMS:
        read_table(spark, SF_DIR, t).write.mode("overwrite").parquet(
            f"{big}/{t}.parquet")
    # only the tables the three target workloads read (orders/lineitem
    # for the ETL; documents built above; dims fixed)
    for t, keys in {"orders": FACTS["orders"],
                    "lineitem": FACTS["lineitem"]}.items():
        base = read_table(spark, SF_DIR, t)
        parts = [base]
        for i in range(1, copies):
            shifted = base
            for k in keys:
                shifted = shifted.withColumn(
                    k, F.col(k) + F.lit(i * OFFSET))
            parts.append(shifted)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{big}/{t}.parquet")
    COPIES = old_copies

    # warm codegen, then pre-build both signature artifacts (timed as
    # their own rows; consumers below run against the warm artifact)
    from imp_etl_spark.operators.dedup import minhash_stacked

    minhash_stacked(read_table(spark, SF_DIR, "documents").limit(64)) \
        .write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    _shared_minhash_stacked(spark, SF_DIR)
    b1 = time.perf_counter() - t0
    t0 = time.perf_counter()
    _shared_minhash_stacked(spark, big)
    b25 = time.perf_counter() - t0

    print(f"| workload | 1x (s) | {copies}x (s) | ratio |")
    print("|---|---|---|---|")
    print(f"| minhash_index_build | {b1:.2f} | {b25:.2f} "
          f"| {b25 / b1:.2f} |")
    for name in ("minhash_lsh_pairs", "dedup_pipeline_survivors",
                 "dedup_cluster_assign", "cross_corpus_survivors"):
        fn, _ = REGISTRY[name]
        s1 = time_query(fn, spark, SF_DIR, name)
        s25 = time_query(fn, spark, big, name)
        print(f"| {name} | {s1:.2f} | {s25:.2f} | {s25 / s1:.2f} |")
        release_query_caches(blocking=True)
    e1, r1 = time_etl(spark, SF_DIR)
    e25, r25 = time_etl(spark, big)
    print(f"| etl_pipeline ({r1} -> {r25} recs) | {e1:.2f} | {e25:.2f} "
          f"| {e25 / e1:.2f} |")
    rate1, rate25 = r1 / e1, r25 / e25
    print(f"| etl rec/s | {rate1:,.0f} | {rate25:,.0f} "
          f"| {rate25 / rate1:.2f} |")
    shutil.rmtree(big, ignore_errors=True)


def main_prefix25x() -> None:
    """The r7 25x point for the rank/prefix-sum tier (VERDICT r6 item
    6): the distributed ``global_index``/``prefix_sum`` primitive
    (operators/window.py) backs ``rfm_customer_segments``,
    ``parts_pareto_cumshare`` and ``s2_paginated_scan``, which had no
    measured scale row. Build: 25x orders+lineitem via key-shifted
    copies (the primitive's cost drivers are fact-row count and rank
    cardinality; customers/parts stay fixed, so per-entity depth grows
    25x — the harder direction for a rank, since the ordered domain
    keeps the same entity count while every prefix sum spans 25x rows).
    Target (verdict): <=6x wall at 25x."""
    from imp_etl_spark.queries import REGISTRY

    spark = get_spark("scale-experiment-prefix25x")
    spark.sparkContext.setLogLevel("ERROR")
    copies = int(os.environ.get("SCALE_COPIES", "25"))
    big = tempfile.mkdtemp(prefix="scale_prefix_")
    global COPIES
    old_copies, COPIES = COPIES, copies
    try:
        for t, keys in {"orders": FACTS["orders"],
                        "lineitem": FACTS["lineitem"]}.items():
            base = read_table(spark, SF_DIR, t)
            parts = [base]
            for i in range(1, copies):
                shifted = base
                for k in keys:
                    shifted = shifted.withColumn(
                        k, F.col(k) + F.lit(i * OFFSET))
                parts.append(shifted)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            df.write.mode("overwrite").parquet(f"{big}/{t}.parquet")
        for t in DIMS:
            read_table(spark, SF_DIR, t).write.mode("overwrite").parquet(
                f"{big}/{t}.parquet")
        n1 = read_table(spark, SF_DIR, "orders").count()
        n25 = read_table(spark, big, "orders").count()
        print(f"orders rows: {n1:,} -> {n25:,} ({n25 / n1:.0f}x); "
              f"lineitem {copies}x likewise; dims fixed")
        print(f"| workload | 1x (s) | {copies}x (s) | ratio |")
        print("|---|---|---|---|")
        for name in ("rfm_customer_segments", "parts_pareto_cumshare",
                     "s2_paginated_scan"):
            fn, _ = REGISTRY[name]
            # ALL three run their phase-1 pass (global_index stats /
            # prefix_sum totals — a full scan + persist + tiny collect)
            # eagerly inside fn(), so the timer must start BEFORE the
            # plan build or the row measures only the residual filter.
            s1 = time_query(fn, spark, SF_DIR, name, eager=True)
            s25 = time_query(fn, spark, big, name, eager=True)
            print(f"| {name} | {s1:.2f} | {s25:.2f} | {s25 / s1:.2f} |")
    finally:
        COPIES = old_copies
        shutil.rmtree(big, ignore_errors=True)


def main_madskew25x() -> None:
    """The r8 skew point for the MAD/median tier (VERDICT r7 item 6):
    ``mad_outliers`` (operators/quality.py) runs two full
    ``row_number().over(partitionBy(event_type))`` rank-picking passes.
    On the fixture the five event types are uniform (~20% each), so no
    SCALING.md row ever exercised the shape that actually hurts a
    per-group sort at cluster scale: ONE group holding ~90%+ of rows,
    funneling its sort into however many tasks hold that key's shuffle
    partition. Three rows isolate the skew cost from the scale cost:

    - 1x: sf0.1 events as-is (uniform types, baseline);
    - 25x uniform: 25 key-shifted copies, type mix preserved;
    - 25x skewed: same 25 copies but copies 1..24 remapped to a single
      dominant type ('click'), which then holds (24 + 0.2)/25 = ~97%
      of rows — strictly harder than the 90% the verdict asked for.

    The comparison that matters is 25x-skewed vs 25x-uniform at EQUAL
    row count: that ratio is pure skew penalty."""
    from imp_etl_spark.queries import REGISTRY

    spark = get_spark("scale-experiment-madskew25x")
    spark.sparkContext.setLogLevel("ERROR")
    copies = int(os.environ.get("SCALE_COPIES", "25"))
    big = tempfile.mkdtemp(prefix="scale_madskew_")
    base = read_table(spark, SF_DIR, "events")
    for flavor, skew in (("uniform", False), ("skewed", True)):
        parts = [base]
        for i in range(1, copies):
            shifted = base.withColumn(
                "event_id", F.col("event_id") + F.lit(i * OFFSET))
            if skew:
                shifted = shifted.withColumn("event_type", F.lit("click"))
            parts.append(shifted)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(
            f"{big}/{flavor}/events.parquet")
    fn, _ = REGISTRY["outlier_events_mad"]
    # warm codegen off the small fixture before timing
    fn(spark, SF_DIR).limit(1).write.format("noop").mode(
        "overwrite").save()
    n1 = base.count()
    nbig = read_table(spark, f"{big}/skewed", "events").count()
    dom = (read_table(spark, f"{big}/skewed", "events")
           .filter(F.col("event_type") == "click").count())
    print(f"events rows: {n1:,} -> {nbig:,} ({nbig / n1:.0f}x); "
          f"dominant type holds {dom / nbig:.1%} of skewed rows")
    print(f"| outlier_events_mad | wall (s) | vs 1x | vs {copies}x "
          f"uniform |")
    print("|---|---|---|---|")
    s1 = time_query(fn, spark, SF_DIR, "outlier_events_mad")
    print(f"| 1x uniform | {s1:.2f} | 1.00 | — |")
    su = time_query(fn, spark, f"{big}/uniform", "outlier_events_mad")
    print(f"| {copies}x uniform | {su:.2f} | {su / s1:.2f} | 1.00 |")
    ss = time_query(fn, spark, f"{big}/skewed", "outlier_events_mad")
    print(f"| {copies}x skewed (~97% one type) | {ss:.2f} "
          f"| {ss / s1:.2f} | {ss / su:.2f} |")
    shutil.rmtree(big, ignore_errors=True)


def main_lagskew25x() -> None:
    """The r8 skew point for the lag class (SCALING.md watch table):
    ``event_type_transitions`` ran ``lag() over (partition by
    user_id)`` — fine on the fixture's uniform users, but a single
    bot user holding ~97% of a 25x corpus funnels its entire ordered
    history through one window task. Round 8 rewired the query onto
    ``seq_lag`` (operators/window.py: range partitioning on
    (user, ts, event_id) + 1-boundary-row exchange, driver-chained
    carry). Rows isolate skew cost from scale cost for BOTH shapes:

    - 1x / 25x uniform: fixture user mix (scale cost);
    - 25x skewed: copies 1..24 remapped to one user id (~97% of rows
      on one key; the old shape's single sort task vs seq_lag's
      range-spread — the ratio between the shapes on THIS row is the
      machinery's whole justification)."""
    from pyspark.sql import Window

    from imp_etl_spark.queries import REGISTRY

    spark = get_spark("scale-experiment-lagskew25x")
    spark.sparkContext.setLogLevel("ERROR")
    copies = int(os.environ.get("SCALE_COPIES", "25"))
    big = tempfile.mkdtemp(prefix="scale_lagskew_")
    base = read_table(spark, SF_DIR, "events")
    for flavor, skew in (("uniform", False), ("skewed", True)):
        parts = [base]
        for i in range(1, copies):
            shifted = base.withColumn(
                "event_id", F.col("event_id") + F.lit(i * OFFSET))
            if skew:
                shifted = shifted.withColumn("user_id", F.lit(424242))
            parts.append(shifted)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(
            f"{big}/{flavor}/events.parquet")

    def old_shape(spark, sf_dir):
        # the pre-r8 per-user window form, verbatim
        ev = read_table(spark, sf_dir, "events").where(
            F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        c = ev.select("user_id", "event_type",
                      F.lag("event_type").over(w).alias("prev"))
        t = (c.where(F.col("prev").isNotNull())
             .groupBy("prev", F.col("event_type").alias("next"))
             .agg(F.count(F.lit(1)).alias("cnt")))
        wn = Window.partitionBy("prev")
        return t.select(
            "prev", "next", "cnt",
            (F.col("cnt").cast("double") / F.sum("cnt").over(wn)
             ).alias("prob"))

    new_fn, _ = REGISTRY["event_type_transitions"]
    new_fn(spark, SF_DIR).limit(1).write.format("noop").mode(
        "overwrite").save()  # warm codegen
    n1 = base.count()
    sk = read_table(spark, f"{big}/skewed", "events")
    nbig = sk.count()
    dom = sk.filter(F.col("user_id") == 424242).count()
    print(f"events rows: {n1:,} -> {nbig:,} ({nbig / n1:.0f}x); "
          f"hot user holds {dom / nbig:.1%} of skewed rows")
    print("| event_type_transitions | window shape (s) | seq_lag "
          "shape (s) | seq_lag vs window |")
    print("|---|---|---|---|")
    for label, d in (("1x uniform", SF_DIR),
                     (f"{copies}x uniform", f"{big}/uniform"),
                     (f"{copies}x skewed (~{dom / nbig:.0%} one user)",
                      f"{big}/skewed")):
        # eager=True for BOTH shapes: seq_lag runs its range exchange +
        # persist + boundary-candidate collect at BUILD time (same rule
        # as the EAGER_BUILD queries), so lazy timing would silently
        # exclude most of its cost and flatter the new shape
        so = time_query(old_shape, spark, d, eager=True)
        sn = time_query(new_fn, spark, d, eager=True)
        print(f"| {label} | {so:.2f} | {sn:.2f} | {sn / so:.2f} |")
    shutil.rmtree(big, ignore_errors=True)


def main() -> None:
    from imp_etl_spark.queries import REGISTRY

    spark = get_spark("scale-experiment")
    spark.sparkContext.setLogLevel("ERROR")
    big = tempfile.mkdtemp(prefix="scale5x_")
    build_5x(spark, big)
    # warm
    read_table(spark, SF_DIR, "lineitem").limit(1000).write.format(
        "noop").mode("overwrite").save()

    print(f"| query | 1x (s) | {COPIES}x (s) | ratio |")
    print("|---|---|---|---|")
    tot1 = tot5 = 0.0
    for name in QUERIES:
        fn, _ = REGISTRY[name]
        s1 = time_query(fn, spark, SF_DIR, name)
        s5 = time_query(fn, spark, big, name)
        tot1 += s1
        tot5 += s5
        print(f"| {name} | {s1:.2f} | {s5:.2f} | {s5 / s1:.2f} |")
    e1, r1 = time_etl(spark, SF_DIR)
    e5, r5 = time_etl(spark, big)
    tot1 += e1
    tot5 += e5
    print(f"| etl_pipeline ({r1} -> {r5} recs) | {e1:.2f} | {e5:.2f} "
          f"| {e5 / e1:.2f} |")
    print(f"| **total** | **{tot1:.2f}** | **{tot5:.2f}** "
          f"| **{tot5 / tot1:.2f}** |")

    f1, p1, note1 = time_partial_merge(spark, SF_DIR)
    f5, p5, note5 = time_partial_merge(spark, big)
    print()
    print("| merge path | 1x (s) | 5x (s) | ratio | rewritten |")
    print("|---|---|---|---|---|")
    print(f"| initial full write | {f1:.2f} | {f5:.2f} | {f5 / f1:.2f} "
          f"| 16/16 |")
    print(f"| 1-key partial merge | {p1:.2f} | {p5:.2f} | {p5 / p1:.2f} "
          f"| {note1} vs {note5} |")

    shutil.rmtree(big, ignore_errors=True)


def main_lagdispatch25x() -> None:
    """Round-9 crossover sweep for the lag-class skew dispatch
    (operators/window.py lag_dispatch): the r8 rows measured only the
    endpoints (uniform, ~96%/99% one key); the dispatch needs the
    CROSSOVER, so this sweeps intermediate hot-key shares by remapping
    m of the 25 copies to one user (share ~= m/copies) and times a
    production dispatch consumer (twap_user_value) under forced
    window, forced seq, and auto (probe included — its overhead is
    auto minus the picked shape). The threshold default in
    lag_dispatch is set from this table."""
    from imp_etl_spark.operators.window import (
        release_probe_memo,
        top_key_share,
    )
    from imp_etl_spark.queries import REGISTRY

    spark = get_spark("scale-experiment-lagdispatch25x")
    spark.sparkContext.setLogLevel("ERROR")
    # This sweep calibrates the probe threshold, so BOTH probe
    # bypasses must be off: the metadata row floor (25x sf0.1 events
    # sits under the 10M default and would skip the probe entirely)
    # and the probe memo (released before every timed auto run below —
    # a memo hit would report probe overhead as ~0; ADVICE r9).
    W.LAG_ROW_FLOOR = 0
    copies = int(os.environ.get("SCALE_COPIES", "25"))
    big = tempfile.mkdtemp(prefix="scale_lagdisp_")
    base = read_table(spark, SF_DIR, "events")
    hot_env = os.environ.get("SCALE_HOTMS")
    hot_ms = ([int(x) for x in hot_env.split(",")] if hot_env
              else [0, copies // 2, (3 * copies) // 5,
                    (4 * copies) // 5, copies - 1])
    fixtures = []
    for m in dict.fromkeys(hot_ms):
        name = f"hot{m}"
        parts = [base]
        for i in range(1, copies):
            shifted = base.withColumn(
                "event_id", F.col("event_id") + F.lit(i * OFFSET))
            if i <= m:
                shifted = shifted.withColumn("user_id", F.lit(424242))
            parts.append(shifted)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{big}/{name}/events.parquet")
        fixtures.append((name, f"{big}/{name}"))

    fn, _ = REGISTRY["twap_user_value"]
    fn(spark, SF_DIR).limit(1).write.format("noop").mode(
        "overwrite").save()  # warm codegen
    print(f"| fixture ({copies}x) | top share | window (s) | seq (s) "
          "| auto (s) | auto picked |")
    print("|---|---|---|---|---|---|")
    for name, d in fixtures:
        ev = read_table(spark, d, "events").where(F.col("ts").isNotNull())
        # memo=False (the public default): this share is a REPORTED
        # MEASUREMENT and must never seed the dispatch memo — the
        # timed auto run below has to pay its own probe jobs
        share, _k = top_key_share(ev.select("user_id"), ["user_id"],
                                  memo=False)
        times = {}
        for mode in ("window", "seq", "auto"):
            W.LAG_MODE = mode
            release_probe_memo()
            try:
                # eager: both the probe (auto) and seq_lag run jobs at
                # build time — lazy timing would exclude them
                times[mode] = time_query(fn, spark, d, eager=True)
            finally:
                W.LAG_MODE = "auto"
        picked = "seq" if share >= W.LAG_THRESHOLD else "window"
        print(f"| {name} | {share:.1%} | {times['window']:.2f} "
              f"| {times['seq']:.2f} | {times['auto']:.2f} | {picked} |")
    shutil.rmtree(big, ignore_errors=True)


def main_ewmascan25x() -> None:
    """Round-9 skew point for the EWMA rescaled scan
    (operators/recurrence.py ewma_scan) — the last designated-but-
    unbuilt watch-table fix. Same fixture recipe as the lag rows
    (25x events; skewed = 24 of 25 copies remapped to one user,
    ~96% of rows on one key): the window-rank mode funnels the hot
    key's rank sort through one task, the seq mode ranks on
    group_rank's distributed prefix sum. Both modes then share the
    bounded chunk window + compressed carry chain, so the delta is
    pure rank machinery. Timed eager (both modes run build-time jobs:
    the probe-free forced modes still persist inside group_rank)."""
    from imp_etl_spark.operators.recurrence import ewma_scan

    spark = get_spark("scale-experiment-ewmascan25x")
    spark.sparkContext.setLogLevel("ERROR")
    copies = int(os.environ.get("SCALE_COPIES", "25"))
    big = tempfile.mkdtemp(prefix="scale_ewma_")
    base = read_table(spark, SF_DIR, "events")
    for flavor, skew in (("uniform", False), ("skewed", True)):
        parts = [base]
        for i in range(1, copies):
            shifted = base.withColumn(
                "event_id", F.col("event_id") + F.lit(i * OFFSET))
            if skew:
                shifted = shifted.withColumn("user_id", F.lit(424242))
            parts.append(shifted)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(
            f"{big}/{flavor}/events.parquet")

    def run(mode):
        def fn(spark, sf_dir):
            ev = read_table(spark, sf_dir, "events").where(
                F.col("ts").isNotNull() & F.col("value").isNotNull())
            return ewma_scan(
                ev.select("user_id", "ts", "event_id", "value"),
                ["user_id"], ["ts", "event_id"], "value", 0.125,
                mode=mode).select(
                    "user_id", "event_id", "ewma")
        return fn

    run("window")(spark, SF_DIR).limit(1).write.format("noop").mode(
        "overwrite").save()  # warm codegen
    print(f"| ewma_scan ({copies}x) | window-rank (s) | seq-rank (s) "
          "| seq vs window |")
    print("|---|---|---|---|")
    rows = [("1x uniform", SF_DIR), (f"{copies}x uniform",
                                     f"{big}/uniform")]
    sk = read_table(spark, f"{big}/skewed", "events")
    nbig = sk.count()
    dom = sk.filter(F.col("user_id") == 424242).count()
    rows.append((f"{copies}x skewed (~{dom / nbig:.0%} one user)",
                 f"{big}/skewed"))
    for label, d in rows:
        tw = time_query(run("window"), spark, d, eager=True)
        ts_ = time_query(run("seq"), spark, d, eager=True)
        print(f"| {label} | {tw:.2f} | {ts_:.2f} | {ts_ / tw:.2f} |")
    shutil.rmtree(big, ignore_errors=True)


def main_rollingtime25x() -> None:
    """Round-10 crossover sweep for the trailing-RANGE class
    (operators/window.py trailing_time_sums — VERDICT r9 item 5: the
    last per-key sequential shape without a measured hot-key point).
    Same fixture recipe as the lag sweep: 25x events with m of the
    copies remapped to one user (share ~= m/25), timing the
    rolling_24h consumer under forced window, forced seq, and auto.
    The window shape's hot key runs its whole history in ONE task —
    QUADRATICALLY (Spark's sliding frame re-evaluates the aggregate
    buffer per row, no retraction), which is why the default hot-m
    sweep stops at m=3: at sf0.1 events (100k rows/copy, 30-day span,
    ~3% frame occupancy) m=1/2/3 are 100k/200k/300k-row hot keys ~=
    3e8/1.3e9/3e9 single-task products; larger m is hours. seq is the
    prefix-difference machinery (flat). The trailingAgg.hotRows
    default is set from this table plus the single-key occupancy
    ladder in SCALING.md."""
    from imp_etl_spark.operators.window import (
        release_probe_memo,
        top_key_stats,
        trailing_time_sums,
    )

    spark = get_spark("scale-experiment-rollingtime25x")
    spark.sparkContext.setLogLevel("ERROR")
    copies = int(os.environ.get("SCALE_COPIES", "25"))
    big = tempfile.mkdtemp(prefix="scale_rolltime_")
    base = read_table(spark, SF_DIR, "events")
    hot_env = os.environ.get("SCALE_HOTMS")
    hot_ms = ([int(x) for x in hot_env.split(",")] if hot_env
              else [0, 1, 2, 3])
    fixtures = []
    for m in dict.fromkeys(hot_ms):
        name = f"hot{m}"
        parts = [base]
        for i in range(1, copies):
            shifted = base.withColumn(
                "event_id", F.col("event_id") + F.lit(i * OFFSET))
            if i <= m:
                shifted = shifted.withColumn("user_id", F.lit(424242))
            parts.append(shifted)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{big}/{name}/events.parquet")
        fixtures.append((name, f"{big}/{name}"))

    def fn(spark, sf_dir):
        ev = read_table(spark, sf_dir, "events").withColumn(
            "__v6", F.col("value").cast("decimal(18,6)"))
        return trailing_time_sums(
            ev, key="user_id", ts_col="ts", window="'24' hours",
            sums={"roll_sum": "__v6"}, count_col="roll_cnt",
            probe=read_table(spark, sf_dir, "events").select("user_id"))

    W.LAG_MODE = "window"
    fn(spark, SF_DIR).limit(1).write.format("noop").mode(
        "overwrite").save()  # warm codegen
    W.LAG_MODE = "auto"
    print(f"| fixture ({copies}x) | top share | top rows | window (s) "
          "| seq (s) | auto (s) | auto picked |")
    print("|---|---|---|---|---|---|---|")
    for name, d in fixtures:
        ev = read_table(spark, d, "events")
        share, cnt, _k = top_key_stats(ev.select("user_id"),
                                       ["user_id"], support=0.01,
                                       memo=False)
        times = {}
        for mode in ("window", "seq", "auto"):
            W.LAG_MODE = mode
            release_probe_memo()
            try:
                # eager: the seq shape's prefix/asof machinery runs
                # jobs at build time
                times[mode] = time_query(fn, spark, d, eager=True)
            finally:
                W.LAG_MODE = "auto"
        picked = "seq" if cnt >= W.TRAILING_HOT_ROWS else "window"
        print(f"| {name} | {share:.1%} | {cnt} | {times['window']:.2f} "
              f"| {times['seq']:.2f} | {times['auto']:.2f} | {picked} |")
    shutil.rmtree(big, ignore_errors=True)




def main_ewmadefault25x() -> None:
    """Round-11 hot-key point for the unbounded-EWMA SCALE
    configuration (VERDICT r10 item 1's done-criterion): same 25x
    fixture recipe as the ewmascan25x sweep (~96% of rows on one
    user), timing the three final-EWMA plans a consumer can run —
    the chunk=1 oracle pin (per-key sequential Arrow fold; the shape
    the r10 bench row exposed), ewma_scan at DEFAULT chunking + a
    max_by final aggregation, and ewma_final at default chunking (the
    registered/benched r11 entry: terminal chain carry, no per-row
    join-back). Eager timing throughout (probes/persists/driver
    chains run at build)."""
    from imp_etl_spark.operators.recurrence import ewma_final, ewma_scan
    from imp_etl_spark.operators.window import release_probe_memo

    spark = get_spark("scale-experiment-ewmadefault25x")
    spark.sparkContext.setLogLevel("ERROR")
    copies = int(os.environ.get("SCALE_COPIES", "25"))
    big = tempfile.mkdtemp(prefix="scale_ewmadef_")
    base = read_table(spark, SF_DIR, "events")
    for flavor, skew in (("uniform", False), ("skewed", True)):
        parts = [base]
        for i in range(1, copies):
            shifted = base.withColumn(
                "event_id", F.col("event_id") + F.lit(i * OFFSET))
            if skew:
                shifted = shifted.withColumn("user_id", F.lit(424242))
            parts.append(shifted)
        df = parts[0]
        for p_ in parts[1:]:
            df = df.unionByName(p_)
        df.write.mode("overwrite").parquet(
            f"{big}/{flavor}/events.parquet")

    def ev_of(sf_dir):
        return (read_table(spark, sf_dir, "events")
                .where(F.col("value").isNotNull()
                       & F.col("ts").isNotNull())
                .select("user_id", "ts", "event_id",
                        F.col("value").cast("double").alias("x")))

    def scan_cfg(chunk):
        def fn(spark, sf_dir):
            s_ = ewma_scan(ev_of(sf_dir), ["user_id"],
                           ["ts", "event_id"], "x", 0.125,
                           chunk_size=chunk)
            return (s_.groupBy("user_id")
                    .agg(F.count(F.lit(1)).alias("n_events"),
                         F.expr("max_by(ewma, struct(ts, event_id))")
                         .alias("ewma_final")))
        return fn

    def final_cfg(spark, sf_dir):
        return ewma_final(ev_of(sf_dir), ["user_id"],
                          ["ts", "event_id"], "x", 0.125)

    final_cfg(spark, SF_DIR).limit(1).write.format("noop").mode(
        "overwrite").save()  # warm codegen
    print(f"| fixture ({copies}x) | scan chunk=1 + max_by (s) "
          "| scan default + max_by (s) | ewma_final default (s) |")
    print("|---|---|---|---|")
    for label, d in (("1x", SF_DIR), (f"{copies}x uniform",
                                      f"{big}/uniform"),
                     (f"{copies}x skewed (~96% one user)",
                      f"{big}/skewed")):
        release_probe_memo()
        t1 = time_query(scan_cfg(1), spark, d, eager=True)
        release_probe_memo()
        td = time_query(scan_cfg(None), spark, d, eager=True)
        release_probe_memo()
        tf = time_query(final_cfg, spark, d, eager=True)
        print(f"| {label} | {t1:.2f} | {td:.2f} | {tf:.2f} |")
    shutil.rmtree(big, ignore_errors=True)


def main_trailsupport() -> None:
    """Round-11 detection point for the footer-DERIVED trailing-probe
    support (VERDICT r10 item 3's done-criterion): a 100x events
    fixture (10M rows) with one user holding ~0.6% of rows but >
    trailingAgg.hotRows (60k rows) — below the legacy fixed support
    (0.01), so the old probe was BLIND to it by contract (freqItems
    guarantees detection only above support); the derived support
    (0.5 * hotRows / footer_bound = 0.0025) must find it, count it
    exactly, and route the trailing dispatch to seq."""
    from imp_etl_spark.operators.window import (
        release_probe_memo,
        resolve_trailing_mode,
        top_key_stats,
    )

    spark = get_spark("scale-experiment-trailsupport")
    spark.sparkContext.setLogLevel("ERROR")
    copies = int(os.environ.get("SCALE_COPIES", "100"))
    big = tempfile.mkdtemp(prefix="scale_trailsup_")
    base = read_table(spark, SF_DIR, "events")
    parts = [base]
    for i in range(1, copies):
        shifted = base.withColumn(
            "event_id", F.col("event_id") + F.lit(i * OFFSET))
        if i == 1:  # 60% of one copy -> ~60k-row key at ~0.6% share
            shifted = shifted.withColumn(
                "user_id", F.when(F.col("event_id") % 10 < 6,
                                  F.lit(424242))
                .otherwise(F.col("user_id")))
        parts.append(shifted)
    df = parts[0]
    for p_ in parts[1:]:
        df = df.unionByName(p_)
    df.write.mode("overwrite").parquet(f"{big}/events.parquet")

    probe = read_table(spark, big, "events").select("user_id")
    n = read_table(spark, big, "events").count()
    hot = read_table(spark, big, "events").filter(
        F.col("user_id") == 424242).count()
    print(f"fixture: {n} rows, hot key {hot} rows = {hot / n:.2%} share; "
          f"hot-rows threshold {W.TRAILING_HOT_ROWS}")

    release_probe_memo()
    t0 = time.perf_counter()
    W.TRAILING_SUPPORT = 0.01
    try:
        fixed = resolve_trailing_mode(probe, ["user_id"])
    finally:
        W.TRAILING_SUPPORT = None
    t_fixed = time.perf_counter() - t0
    release_probe_memo()
    t0 = time.perf_counter()
    share, cnt, key = top_key_stats(probe, ["user_id"],
                                    support=0.5 * W.TRAILING_HOT_ROWS / n,
                                    memo=False)
    t0 = time.perf_counter()
    release_probe_memo()
    auto = resolve_trailing_mode(probe, ["user_id"])
    t_auto = time.perf_counter() - t0
    print(f"| probe support | routed | probe wall (s) | hot count seen |")
    print(f"|---|---|---|---|")
    print(f"| fixed 0.01 (legacy) | {fixed} | {t_fixed:.2f} | "
          "(not guaranteed) |")
    print(f"| derived {0.5 * 50000 / n:.4f} | {auto} | {t_auto:.2f} | "
          f"{cnt} exact ({share:.2%}) |")
    assert auto == "seq", "derived support must route the 60k key to seq"
    shutil.rmtree(big, ignore_errors=True)


if __name__ == "__main__":
    if os.environ.get("SCALE_EWMADEFAULT25"):
        main_ewmadefault25x()
    elif os.environ.get("SCALE_TRAILSUPPORT"):
        main_trailsupport()
    elif os.environ.get("SCALE_ROLLINGTIME25"):
        main_rollingtime25x()
    elif os.environ.get("SCALE_EWMASCAN25"):
        main_ewmascan25x()
    elif os.environ.get("SCALE_LAGDISPATCH25"):
        main_lagdispatch25x()
    elif os.environ.get("SCALE_LAGSKEW25"):
        main_lagskew25x()
    elif os.environ.get("SCALE_MADSKEW25"):
        main_madskew25x()
    elif os.environ.get("SCALE_PREFIX25"):
        main_prefix25x()
    elif os.environ.get("SCALE_X25"):
        main_25x()
    else:
        main()

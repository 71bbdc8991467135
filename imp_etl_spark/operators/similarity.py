"""Similarity search over embedding columns (north-star, SURVEY.md §7.8).

Two tiers:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus, score with ``functions.vector.cosine`` (pure
  built-ins, whole-stage codegen), rank per query. Cost O(|Q|·N·d) with
  no shuffle of the corpus — the correctness baseline and perfectly
  adequate whenever |Q| is bounded.

- ``srp_bucket_topk`` — the scale path: signed-random-projection LSH.
  Each vector gets a ``planes``-bit bucket signature from deterministic
  pseudo-random hyperplanes (±1 components seeded from md5("p:i") parity,
  shipped as literals — no stored model, reproducible across runs and
  engines, so the bucket assignment is DuckDB-oracle-checkable). Candidates =
  corpus vectors sharing a bucket with the query (multi-probe over exact
  bucket); exact cosine re-ranks candidates. The corpus is scored only
  where buckets collide, turning O(|Q|·N) into O(|Q|·N/2^planes) expected
  — the shuffle is on the 32-bit bucket id, not the vectors.

Embedding-cosine near-duplicate detection reuses the same machinery:
``embedding_near_dup_pairs`` self-joins on the SRP bucket and keeps pairs
with cosine >= threshold.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from imp_etl_spark.functions.vector import cosine
from imp_etl_spark.operators.util import spread_small_scan

#: Vectors per file of the IVF index write (r12): bounds each writer
#: task; small corpora land one file per inverted list.
IVF_INDEX_ROWS_PER_FILE = 250_000


@lru_cache(maxsize=None)
def srp_plane_components(planes: int, dim: int) -> tuple[tuple[float, ...], ...]:
    """±1 hyperplane components, seeded from md5("p:i") parity.

    Computed driver-side ONCE and shipped as literals: deterministic
    across runs/engines with no RNG state, and — because the same Python
    matrix also generates the DuckDB oracle SQL — the whole SRP bucket
    computation is oracle-checkable (and cheaper at runtime than the old
    per-element xxhash64 derivation: planes*dim constants vs planes*dim
    hashes per row).
    """
    return tuple(
        tuple(
            1.0 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:8],
                       16) & 1 else -1.0
            for i in range(dim)
        )
        for p in range(planes)
    )


def _srp_bucket(vec: Column, planes: int, dim: int) -> Column:
    """Signed-random-projection bucket id (`planes` bits).

    dot(plane, vec) >= 0 sets bit p. The fold is the sequential
    left-to-right double sum (0.0 + v1 + v2 + ...), bit-identical to the
    oracle's list_reduce chain — see queries_llm._srp_bucket_sql.
    """
    comps = srp_plane_components(planes, dim)
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        w = F.array(*[F.lit(x) for x in comps[p]])
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, ww: x.cast("double") * ww),
            F.lit(0).cast("double"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(2 ** p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k per query.

    Returns (query_id, vec_id, cos, rnk<=k), rank ties broken by vec_id
    (deterministic). Self-matches (same id) are excluded by the caller's
    query frame if desired.
    """
    q = F.broadcast(
        queries.select(F.col(query_id_col),
                       F.col(vec_col).alias("__qvec"))
    )
    scored = (
        spread_small_scan(corpus.select(F.col(id_col), F.col(vec_col)))
        .crossJoin(q)
        .withColumn("cos", cosine(F.col(vec_col), F.col("__qvec")))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos", "rnk")
    )


def _probe_buckets(bucket: Column, planes: int, flip_bits: int) -> Column:
    """Multi-probe bucket set: the exact bucket plus (for flip_bits>=1)
    every bucket one plane-flip away. A vector near a hyperplane falls on
    the wrong side of exactly that plane's bit, so probing Hamming-1
    neighbors recovers most near-boundary misses at (1+planes)x the
    candidate cost — still O(N/2^planes) per probe, never all-pairs."""
    probes = [bucket]
    if flip_bits >= 1:
        probes += [bucket.bitwiseXOR(F.lit(1 << p)) for p in range(planes)]
    return F.array(*probes)


def srp_bucket_topk(corpus: DataFrame, queries: DataFrame, k: int, dim: int,
                    planes: int = 4, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    probe_bits: int = 1) -> DataFrame:
    """Approximate top-k: candidates share an SRP bucket, re-ranked by
    exact cosine. Recall grows as ``planes`` shrinks (coarser buckets) or
    as ``probe_bits`` rises (multi-probe: probe_bits=1 also probes every
    Hamming-1 bucket). Defaults favor recall over candidate pruning —
    the old bare default (planes=8, probe_bits=0) measured recall@10 of
    only 0.12 at fixture scale.

    Recall/cost presets (recall@10 measured at fixture scale, see
    SCALING.md; candidate fraction is the expected corpus share scored
    per query = (1 + probe_bits*planes) / 2**planes):

    ==============  =========  ==================
    setting         recall@10  candidate fraction
    ==============  =========  ==================
    planes=4 p=1    ~0.6-0.8   5/16  (default)
    planes=6 p=1    ~0.4-0.6   7/64
    planes=8 p=1    ~0.3-0.5   9/256 (scale tier)
    planes=8 p=0    ~0.1       1/256 (NOT advised)
    ==============  =========  ==================

    Pick ``planes`` so 2**planes ≈ corpus_size / desired_candidates; at
    100 TB prefer IVF (``ivf_topk``) whose recall tunes smoothly via
    nprobe without re-bucketing."""
    cb = spread_small_scan(corpus).withColumn(
        "__bkt", _srp_bucket(F.col(vec_col), planes, dim))
    qb = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    ).withColumn(
        "__bkt",
        F.explode(_probe_buckets(_srp_bucket(F.col("__qvec"), planes, dim),
                                 planes, probe_bits)))
    # a corpus vector owns ONE bucket and the probe set is distinct, so
    # each (query, corpus) candidate appears at most once — no dedup pass
    cand = cb.join(F.broadcast(qb), on="__bkt")
    scored = cand.withColumn("cos", cosine(F.col(vec_col), F.col("__qvec")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos", "rnk")
    )


def _lits(vecs):
    return [F.array(*[F.lit(x) for x in v]) for v in vecs]


def _cent_scores(vec: Column, cent_lits) -> Column:
    return F.array(*[cosine(vec, c) for c in cent_lits])


def _argmax(scores: Column) -> Column:
    # first index achieving the max — deterministic tie-break
    return F.array_position(scores, F.array_max(scores)).cast("int") - 1


def train_ivf_centroids(corpus: DataFrame, nlist: int = 16,
                        kmeans_iters: int = 2, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> list[list[float]]:
    """Distributed Lloyd training, EXACTLY deterministic: ``nlist``
    centroids seeded from a deterministic corpus sample (lowest
    md5(id) — portable ordering), refined with ``kmeans_iters`` steps.
    Assign = codegen argmax over centroid literals; update = per-
    dimension EXACT INTEGER micro-unit sums (components quantized via
    the double->decimal(18,6) cast, summed as longs — integer addition
    is associative, so the centroid is independent of partitioning and
    row order, unlike a float ``avg()`` which drifts at the ulp level)
    followed by one IEEE division per component. Only nlist*dim rows
    ever reach the driver, and — because DuckDB's decimal cast applies
    the identical shortest-repr half-away rounding (tests/
    test_quantize.py) — the whole training loop is reproducible in the
    SQL oracle (queries_llm._ivf_sql). At 100 TB, train on a sample."""
    # Vectors without usable geometry are dropped from training
    # (dirty-corpus reality; well-formed embeddings are unaffected):
    # - null vectors seed nothing and score NULL against every centroid;
    # - NaN/Inf components poison the centroid means;
    # - |x| >= 1e12 overflows the decimal(18,6) exact-quantization
    #   domain the oracle-reproducible integer Lloyd update relies on
    #   (and no real embedding lives there).
    bad = lambda x: (F.isnan(x.cast("double"))
                     | (F.abs(x.cast("double")) >= F.lit(1e12)))
    corpus = corpus.where(F.col(vec_col).isNotNull()
                          & ~F.exists(F.col(vec_col), bad))
    cents = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")).asc(),
                 F.col(id_col).asc())
        .limit(nlist)
        .collect()
    )
    cent_vecs = [[float(x) for x in row[vec_col]] for row in cents]
    if not cent_vecs:  # empty corpus: no seeds, nothing to refine
        return []
    micro = F.transform(
        F.col(vec_col),
        lambda x: (x.cast("double").cast("decimal(18,6)")
                   * 1_000_000).cast("long"))
    for _ in range(kmeans_iters):
        assigned = corpus.withColumn(
            "__list", _argmax(_cent_scores(F.col(vec_col), _lits(cent_vecs))))
        sums = (
            assigned.select("__list", F.posexplode(micro))
            .groupBy("__list", "pos")
            .agg(F.sum("col").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for r in sums:
            by_list.setdefault(r["__list"], {})[r["pos"]] = (
                float(r["s"]) / float(r["n"] * 1_000_000))
        cent_vecs = [
            [by_list[i][p] for p in range(len(cent_vecs[i]))]
            if i in by_list else cent_vecs[i]  # empty list keeps its seed
            # a corpus smaller than nlist seeds fewer centroids — the
            # update must walk the seeds it HAS, not the nlist it wanted
            for i in range(len(cent_vecs))
        ]
    return cent_vecs


def assign_ivf_lists(corpus: DataFrame, centroids: list[list[float]],
                     vec_col: str = "embedding") -> DataFrame:
    """Attach each vector's inverted-list id (nearest centroid)."""
    return spread_small_scan(corpus).withColumn(
        "__list", _argmax(_cent_scores(F.col(vec_col), _lits(centroids))))


def _probe_lists(scores: Column, nlist: int, nprobe: int) -> Column:
    """Indices of the nprobe best centroids, deterministic tie-break.

    NULL scores (a zero-norm centroid — possible when a zero vector is
    md5-picked as a seed) rank LAST via the -inf coalesce: the pairwise
    comparator would otherwise see NULL as tied with every real score
    and order it by index, probing a dead list ahead of better ones
    (and diverging from SQL's NULLS LAST under ORDER BY cos DESC)."""
    ranked = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.lit(nlist - 1)),
            lambda i: F.struct(
                F.coalesce(scores[i],
                           F.lit(float("-inf"))).alias("s"),
                i.alias("idx")),
        ),
        lambda l, r: F.when(l["s"] > r["s"], -1)
        .when(l["s"] < r["s"], 1)
        .otherwise(l["idx"] - r["idx"])
        .cast("int"),
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda x: x["idx"])


def _probe_and_rank(assigned: DataFrame, queries: DataFrame,
                    centroids: list[list[float]], k: int, nprobe: int,
                    id_col: str, vec_col: str,
                    query_id_col: str) -> DataFrame:
    cent_lits = _lits(centroids)
    qb = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    ).withColumn(
        "__list",
        F.explode(_probe_lists(_cent_scores(F.col("__qvec"), cent_lits),
                               len(centroids), nprobe)))
    cand = assigned.join(F.broadcast(qb), on="__list")
    scored = cand.withColumn("cos", cosine(F.col(vec_col), F.col("__qvec")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos", "rnk")
    )


def _empty_topk(ids_from: DataFrame, queries: DataFrame,
                id_col: str, query_id_col: str) -> DataFrame:
    """Zero-row (query_id, id, cos, rnk) frame with types inherited from
    the real sources — the well-formed answer when there is nothing to
    probe (empty corpus / untrained index)."""
    return (
        queries.select(query_id_col).limit(0)
        .crossJoin(ids_from.select(id_col).limit(0))
        .select(query_id_col, id_col,
                F.lit(0.0).alias("cos"),
                F.lit(0).cast("int").alias("rnk"))
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             nlist: int = 16, nprobe: int = 4, kmeans_iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id") -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine, trained inline.

    Every corpus vector lands in one inverted list; queries probe their
    ``nprobe`` nearest lists and exact-score only those:
    O(Q*N*nprobe/nlist) instead of O(Q*N), and the only exchange is the
    broadcast of the (tiny) query set. For the persisted-index variant
    with partition-pruned probes see ``build_ivf_index``/``ivf_topk_indexed``.
    """
    cent_vecs = train_ivf_centroids(corpus, nlist, kmeans_iters,
                                    id_col, vec_col)
    if not cent_vecs:  # empty corpus: no lists, no candidates
        return _empty_topk(corpus, queries, id_col, query_id_col)
    assigned = assign_ivf_lists(corpus, cent_vecs, vec_col)
    return _probe_and_rank(assigned, queries, cent_vecs, k, nprobe,
                           id_col, vec_col, query_id_col)


def _coalesce_list_write(assigned: DataFrame, source: DataFrame,
                         id_col: str, nlist: int) -> DataFrame:
    """Bound the IVF index's output file count (r12, guide §6 — same
    small-files fix as the MinHash signature table): without it the
    partitioned write lands scan-tasks x nlist tiny files that every
    probe re-opens. One exchange on (__list, sub) lays each list out
    as ``ceil(vectors / IVF_INDEX_ROWS_PER_FILE)`` files — one per
    list for small corpora, growing with the footer-proved row bound
    at scale. The shuffle moves (id, vector, list) rows once, the
    standard price of a hash-distributed write layout; unprovable
    inputs keep the spread write (blind coalescing could funnel a huge
    build through ``nlist`` tasks)."""
    import math

    from imp_etl_spark.operators.window import _footer_row_bound

    ub = _footer_row_bound(source)
    if ub is None:
        return assigned
    fpl = max(1, math.ceil(ub / IVF_INDEX_ROWS_PER_FILE))
    sub = F.pmod(F.xxhash64(F.col(id_col)), F.lit(fpl))
    return assigned.repartition(nlist * fpl, F.col("__list"), sub)


def build_ivf_index(corpus: DataFrame, path: str, nlist: int = 16,
                    kmeans_iters: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> list[list[float]]:
    """Persist the IVF index: corpus parquet PARTITIONED BY the inverted
    list, centroids as JSON alongside. Probing then prunes partitions at
    the scan — a query touching nprobe of nlist lists reads only
    nprobe/nlist of the bytes (the disk-backed ANN layout for 100 TB).

    The index holds EXACTLY (id, vector, list) — the columns probing
    reads — regardless of what else the corpus carries: one physical
    schema shared with every future ``ivf_index_append`` batch (mixed
    parquet footers under one directory resolve nondeterministically),
    and no payload bytes riding along in every probe scan; hydrate
    payloads by joining the returned ids back to the corpus."""
    import json

    from imp_etl_spark.operators.util import fs_write_text

    cent_vecs = train_ivf_centroids(corpus, nlist, kmeans_iters,
                                    id_col, vec_col)
    narrow = corpus.select(id_col, vec_col)
    if cent_vecs:
        assigned = assign_ivf_lists(narrow, cent_vecs, vec_col)
        assigned = _coalesce_list_write(assigned, corpus, id_col, nlist)
    else:  # empty corpus: an empty index with the declared layout
        assigned = narrow.withColumn("__list", F.lit(0).cast("int")).limit(0)
    assigned.write.mode("overwrite").partitionBy("__list").parquet(path)
    # sidecars through the Hadoop FS API: the parquet write above works
    # on any scheme (hdfs://, s3a://...), so the sidecars must too
    spark = corpus.sparkSession
    fs_write_text(spark, path.rstrip("/") + "/_centroids.json",
                  json.dumps(cent_vecs))
    # declared read schema: probes skip footer inference, and an empty
    # index (zero part files after the partitioned write) stays readable
    fs_write_text(spark, path.rstrip("/") + "/_schema.json",
                  json.dumps(assigned.schema.jsonValue()))
    return cent_vecs


def ivf_topk_indexed(spark, path: str, queries: DataFrame, k: int,
                     nprobe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Query a persisted IVF index. The ``__list IN (probed lists)``
    filter is a partition predicate — the scan reads only the probed
    list directories (verify via PartitionFilters in .explain)."""
    import json

    from imp_etl_spark.operators.util import fs_read_text

    cent_vecs = json.loads(fs_read_text(
        spark, path.rstrip("/") + "/_centroids.json"))
    reader = spark.read
    try:
        schema_json = json.loads(fs_read_text(
            spark, path.rstrip("/") + "/_schema.json"))
    except Exception:  # pre-schema-sidecar index: fall back to inference
        schema_json = None
    if schema_json is not None:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(schema_json))
    assigned = reader.parquet(path)
    if not cent_vecs:  # index built over an empty corpus
        return _empty_topk(assigned, queries, id_col, query_id_col)
    # prune the scan to the union of all queries' probe lists first
    # (partition pruning), then route per-query via the join on __list
    probe_rows = queries.select(
        F.explode(_probe_lists(
            _cent_scores(F.col(vec_col), _lits(cent_vecs)),
            len(cent_vecs), nprobe)).alias("__list")).distinct().collect()
    probed = [r["__list"] for r in probe_rows]
    assigned = assigned.filter(F.col("__list").isin(probed))
    return _probe_and_rank(assigned, queries, cent_vecs, k, nprobe,
                           id_col, vec_col, query_id_col)


def ivf_index_append(spark, path: str, batch: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list[list[float]]:
    """Incrementally ingest ``batch`` into a persisted IVF index: assign
    each new vector to its nearest EXISTING centroid and append to that
    list's partition directory — no retrain, no rewrite of resident
    vectors, and queries prune partitions exactly as before. Returns
    the (unchanged) centroid set.

    The fast-ingest half of IVF maintenance: cost is O(|batch| * nlist)
    assignment plus a partitioned append of |batch| rows. Centroids are
    frozen, so recall degrades only as far as the batch distribution
    drifts from the training distribution — rebuild via
    ``build_ivf_index`` (the OPTIMIZE analog) when list sizes skew.
    Single-writer assumption as elsewhere (plans/control.py ST6);
    the parquet append is not transactional on object stores — route
    bulk loads through the manifest sink pattern (plans/upsert.py) if
    concurrent readers need snapshot isolation during ingest.
    """
    import json

    from imp_etl_spark.operators.util import fs_read_text

    cent_vecs = json.loads(fs_read_text(
        spark, path.rstrip("/") + "/_centroids.json"))
    if not cent_vecs:
        raise ValueError(
            f"IVF index at {path} was trained on an empty corpus and has "
            "no centroids to assign against — rebuild with build_ivf_index "
            "once the corpus is non-empty")
    assigned = assign_ivf_lists(batch.select(id_col, vec_col),
                                cent_vecs, vec_col)
    assigned = _coalesce_list_write(assigned, batch, id_col,
                                    len(cent_vecs))
    assigned.write.mode("append").partitionBy("__list").parquet(path)
    return cent_vecs


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float, dim: int,
                             planes: int = 8, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             probe_bits: int = 1) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t).

    Bucketed self-join (SRP) then exact cosine — near-identical vectors
    land in the same bucket with high probability; ``probe_bits=1``
    additionally probes every Hamming-1 bucket on one side of the join
    (sufficient: a pair split across neighboring buckets is found from
    whichever side probes), raising recall without an all-pairs join.
    """
    b = spread_small_scan(corpus.select(
        F.col(id_col), F.col(vec_col)
    )).withColumn("__bkt0", _srp_bucket(F.col(vec_col), planes, dim))
    a = b.withColumn(
        "__bkt", F.explode(_probe_buckets(F.col("__bkt0"), planes,
                                          probe_bits))).drop("__bkt0") \
         .alias("a")
    c = b.withColumnRenamed("__bkt0", "__bkt").alias("c")
    # pairs stay unique without a dedup pass: c owns exactly one bucket
    # and a's probe set holds distinct values, so each (a,c) orientation
    # matches at most one probe; the id_a < id_b filter then keeps one
    # orientation of every pair
    return (
        a.join(c, on="__bkt")
        .filter(F.col(f"a.{id_col}") < F.col(f"c.{id_col}"))
        .withColumn("cos", cosine(F.col(f"a.{vec_col}"), F.col(f"c.{vec_col}")))
        .filter(F.col("cos") >= threshold)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"c.{id_col}").alias("id_b"), "cos")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame,
                query_id_col: str = "query_id",
                id_col: str = "vec_id") -> float:
    """Measured recall@k: |approx ∩ exact| / |exact| per query, averaged
    over queries. ``exact`` is the brute-force top-k frame. Driver-side
    scalar (one tiny agg) — measurement utility, not a pipeline op."""
    hits = exact.select(query_id_col, id_col).join(
        approx.select(query_id_col, id_col), on=[query_id_col, id_col],
        how="left_semi").groupBy(query_id_col).count()
    totals = exact.groupBy(query_id_col).count().withColumnRenamed(
        "count", "total")
    per_q = totals.join(hits, on=query_id_col, how="left").select(
        (F.coalesce(F.col("count"), F.lit(0)) / F.col("total")).alias("r"))
    row = per_q.agg(F.avg("r").alias("recall")).collect()[0]
    return float(row["recall"])

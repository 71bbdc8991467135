"""Deduplication operators.

``latest_per_key`` reproduces the reference's implicit last-writer-wins
semantics: its multi-row ``INSERT ... ON DUPLICATE KEY UPDATE`` applies
VALUES rows in array order, so the last occurrence of a PK in a batch wins
(``services/etlService.js:47-52`` — SURVEY.md §2.7). MERGE-style sinks
require unique source keys, so this window dedup runs before every upsert.

The rest of the family is the LLM-data-pipeline surface (SURVEY.md §7.8):
exact content dedup, MinHash-LSH / SimHash / n-gram-Jaccard near-dup, and
embedding-cosine near-dup (in ``operators.similarity``).

Scale notes: every variant is a single shuffle on the dedup key (or LSH
band key). MinHash bands turn the O(n²) pair space into per-bucket
candidate pairs; the band-key shuffle is the only wide exchange and its
fan-out is bounded by bucket size. AQE skew-join splits oversized
partitions but cannot bound the PAIR blowup of a degenerate bucket
(10k identical boilerplate docs = 50M pairs in one bucket), so the
banded self-joins take a ``max_bucket`` cap: buckets over the cap emit
star pairs to the bucket's min-id representative instead of all pairs —
O(bucket) pairs, every member still linked to exactly the row that
survives dedup. Capped-bucket counts ride an optional ``observe()``
side-output.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from imp_etl_spark.functions.hashing import (
    hamming64,
    minhash_int,
    shingle_hash,
    shingles,
    simhash,
)
from imp_etl_spark.functions.text import tokens
from imp_etl_spark.operators.util import spread_small_scan

#: Persist crossover for the (band, sig) stats window (r13). A/B at
#: sf0.1 (20k signature rows): the persist WON inside dedup_pipeline
#: (0.63 vs 0.68 s — the cands persist above it absorbs most reuse) but
#: LOST standalone minhash_lsh_pairs 1.08 vs 0.69 s — breaking the
#: legs' pipelined exchange reuse costs more than 3 window sorts over a
#: tiny cached frame. Set a decade above the fixture: the persist is
#: for genuinely large or unprovable signature tables, where one window
#: sort of the index dominates.
BAND_STATS_PERSIST_MIN_SOURCE_ROWS = 1_048_576
#: Signature rows per file of the MinHash index write (r12): bounds
#: each writer task; tiny corpora land one file per band.
MINHASH_INDEX_ROWS_PER_FILE = 4_000_000


def latest_per_key(df: DataFrame, key: Sequence[str],
                   order_by: Sequence[Column | str],
                   desc: bool = True) -> DataFrame:
    """Keep one row per key: the latest by ``order_by`` (last-writer-wins).

    Single hash-partition shuffle on ``key``; at scale prefer an
    ``order_by`` column that correlates with file order (e.g. a
    monotone log_id) so AQE's local top-1 (partial window pushdown via
    rank limit) keeps state small.
    """
    ordering = [
        (F.col(c) if isinstance(c, str) else c).desc() if desc
        else (F.col(c) if isinstance(c, str) else c).asc()
        for c in order_by
    ]
    w = Window.partitionBy(*[F.col(k) for k in key]).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, on: Sequence[str],
                keep_by: str | None = None) -> DataFrame:
    """Exact deduplication on a column set.

    With ``keep_by`` the survivor is deterministic (min of that column —
    stable under re-runs, unlike ``dropDuplicates`` which keeps an
    arbitrary row). One shuffle on ``on``; map-side partial aggregation
    applies because it compiles to a groupBy.
    """
    if keep_by is None:
        return df.dropDuplicates(list(on))
    w = Window.partitionBy(*[F.col(c) for c in on]).orderBy(F.col(keep_by).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_content_dedup(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup via content hash.

    Hash-groupBy on ``xxhash64(text)`` rather than the full text so the
    shuffle moves 8-byte keys, not document bodies — the difference
    between shuffling 100 TB and shuffling 0.8% of it.
    """
    w = Window.partitionBy(F.xxhash64(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _capped_band_pairs(stacked: DataFrame, id_col: str, max_bucket: int,
                       observation=None,
                       extra_cols: Sequence[str] = (),
                       source: DataFrame | None = None) -> DataFrame:
    """Banded self-join with a degenerate-bucket cap.

    ``stacked`` holds one row per (doc, band) with columns
    (id_col, band, sig[, extra_cols...]). Buckets with <= ``max_bucket``
    members produce every intra-bucket pair; larger buckets produce star
    pairs (bucket-min id, member id) — linear in bucket size, so a
    boilerplate/empty-doc bucket can never go quadratic. Pass an
    ``Observation`` to read capped_buckets / capped_rows after an action.
    The oracle SQL mirrors the exact same two-path union
    (queries_llm._banded_pair_sql).

    The (band, sig) stats window below feeds THREE consumer legs
    (self-join pair legs, overflow, and — with ``extra_cols`` — the
    bucket representatives), so without help every leg re-sorts the
    signature table (r13, VERDICT r12 item 7). Passing ``source`` (the
    frame whose parquet footer bounds the signature count) gates a
    persist of the windowed frame through ``persist_if_big``: one
    window evaluation at scale, the fused plan on provably tiny
    corpora.
    """
    wb = Window.partitionBy("band", "sig")
    stats = (
        stacked.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        .withColumn("__bmin", F.min(F.col(id_col)).over(wb))
    )
    if source is not None:
        from imp_etl_spark.operators.util import persist_if_big

        stats = persist_if_big(stats, source,
                               BAND_STATS_PERSIST_MIN_SOURCE_ROWS)
    if observation is not None:
        stats = stats.observe(
            observation,
            F.count(F.when((F.col("__bsz") > max_bucket)
                           & (F.col(id_col) == F.col("__bmin")),
                           1)).alias("capped_buckets"),
            F.count(F.when(F.col("__bsz") > max_bucket,
                           1)).alias("capped_rows"),
        )
    keep = [id_col, "band", "sig", *extra_cols]
    small = stats.filter(F.col("__bsz") <= max_bucket).select(*keep)
    a, b_ = small.alias("a"), small.alias("b")
    all_pairs = (
        a.join(b_, on=["band", "sig"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                *[F.col(f"a.{c}").alias(f"{c}_a") for c in extra_cols],
                *[F.col(f"b.{c}").alias(f"{c}_b") for c in extra_cols])
    )
    overflow = stats.filter(
        (F.col("__bsz") > max_bucket) & (F.col(id_col) > F.col("__bmin")))
    if extra_cols:
        # star pairs need the representative's extra cols: join the
        # bucket-min row back on (band, sig) — tiny (one row per bucket)
        reps = (
            stats.filter(F.col(id_col) == F.col("__bmin"))
            .select("band", "sig", F.col(id_col).alias("id_a"),
                    *[F.col(c).alias(f"{c}_a") for c in extra_cols])
            .dropDuplicates(["band", "sig"])
        )
        star = (
            overflow.select(
                "band", "sig", F.col(id_col).alias("id_b"),
                *[F.col(c).alias(f"{c}_b") for c in extra_cols])
            .join(reps, on=["band", "sig"])
            .select("id_a", "id_b",
                    *[f"{c}_a" for c in extra_cols],
                    *[f"{c}_b" for c in extra_cols])
        )
    else:
        star = overflow.select(F.col("__bmin").alias("id_a"),
                               F.col(id_col).alias("id_b"))
    return all_pairs.unionByName(star)


def minhash_stacked(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", shingle_k: int = 5,
                    num_hashes: int = 12, bands: int = 4) -> DataFrame:
    """One row per (doc, band) with the band's signature string:
    shingle(k tokens) -> per-permutation min of a keyed md5 -> band into
    ``bands`` groups of ``num_hashes/bands`` rows. md5-hex min
    (lexicographic) is the permutation hash: portable across engines
    (same answer in the DuckDB oracle) and uniform enough for banding.
    Shared by the self-join candidate generator and the cross-corpus
    matcher."""
    rows = num_hashes // bands
    df = spread_small_scan(df)  # shingle hashing is CPU-bound (util.py)
    toks = tokens(F.col(text_col))
    sh = shingles(toks, shingle_k)
    # one md5 per shingle, materialized once; permutations are arithmetic
    # (12x less hashing than salted digests — see functions/hashing.py)
    # Zero-shingle docs (null/blank/whitespace text) carry no signature:
    # array_min over nothing is NULL and concat_ws skips NULLs, so every
    # contentless doc would share the "" band signature and an empty
    # crawl page would pair with every other empty page. Drop them here
    # — same semantics as the SQL oracle, whose UNNEST emits no hash
    # rows for an empty shingle list.
    # The predicate is the CHEAP equivalent of size(shingles) > 0:
    # tokens() splits on the Java regex \s+ and drops empty fragments,
    # so a doc shingles iff its text has a non-whitespace char — which
    # is exactly rlike(\S) under the SAME regex engine (trim() was NOT
    # equivalent: it strips only ASCII 0x20, so a tab/newline-only doc
    # slipped through and reached minhash_int with zero shingles —
    # ADVICE r6). rlike is null-rejecting, so no isNotNull needed.
    # Filtering on the shingle expression itself inlined the whole
    # tokenize+shingle pipeline into the predicate (measured 3.3 s vs
    # 0.36 s for the sf0.1 signature pass); a raw-column predicate
    # keeps the scan-side projection to (id, text).
    hashed = df.where(F.col(text_col).rlike(r"\S")).select(
        F.col(id_col),
        F.transform(sh, shingle_hash).alias("hs"),
    )
    sigs = hashed.select(
        F.col(id_col), minhash_int(F.col("hs"), num_hashes).alias("sig")
    )
    band_cols = []
    for b in range(bands):
        band_cols.append(
            F.concat_ws("|", *[F.col("sig")[i].cast("string")
                               for i in range(b * rows, (b + 1) * rows)])
            .alias(f"band_{b}")
        )
    banded = sigs.select(id_col, *band_cols)
    return banded.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("sig"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))


def minhash_candidates_from_stacked(stacked: DataFrame,
                                    id_col: str = "doc_id",
                                    max_bucket: int = 256,
                                    observation=None) -> DataFrame:
    """Candidate pairs (id_a < id_b) from an ALREADY-BANDED signature
    table — the consumer half of :func:`build_minhash_index`. One wide
    exchange on (band, sig); over-cap buckets degrade to star pairs.
    The index scan itself gates the stats-window persist (r13): a
    parquet-backed signature table is footer-provable, so big indexes
    evaluate the bucket-stats window once instead of per consumer leg.
    """
    return _capped_band_pairs(stacked, id_col, max_bucket,
                              observation, source=stacked).distinct()


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", shingle_k: int = 5,
                           num_hashes: int = 12, bands: int = 4,
                           max_bucket: int = 256,
                           observation=None) -> DataFrame:
    """MinHash-LSH near-duplicate *candidate pairs* (id_a < id_b).

    Scale: signatures are ``num_hashes`` fixed-width strings per doc; the
    self-join shuffles on (band_id, band_signature) so only same-bucket
    docs meet, and buckets beyond ``max_bucket`` degrade to star pairs
    (see ``_capped_band_pairs``) so a boilerplate bucket stays linear.
    Candidate verification (exact Jaccard) is the caller's choice — see
    ``ngram_jaccard_pairs`` with a candidate frame. When several
    consumers need the same signatures (pair listing, survivor
    selection, clustering, cross-corpus matching), build them ONCE with
    :func:`build_minhash_index` and feed
    :func:`minhash_candidates_from_stacked` instead.
    """
    stacked = minhash_stacked(df, text_col, id_col, shingle_k,
                              num_hashes, bands)
    # gate the stats-window persist on the RAW corpus scan (the stacked
    # frame contains a Generate and is never footer-provable itself)
    return _capped_band_pairs(stacked, id_col, max_bucket,
                              observation, source=df).distinct()


def _coalesce_band_write(stacked: DataFrame, source: DataFrame,
                         id_col: str, bands: int) -> DataFrame:
    """Bound the signature table's output file count (r12, guide §6 /
    VERDICT r11 item 5: the index write was producing scan-tasks x
    bands tiny files — measured 108 files for 928 KB at sf0.1, ~8.6 KB
    each, re-opened by every consumer scan). One explicit exchange on
    (band, sub) lays each band out as
    ``ceil(docs / MINHASH_INDEX_ROWS_PER_FILE)`` files: tiny corpora
    land one file per band, while at 100 TB the file count grows with
    the footer-proved row bound so no writer task exceeds that many
    signature rows. The shuffle moves only the signature table
    (~num_hashes ints per doc — orders of magnitude below the corpus),
    the standard price of a hash-distributed write layout. An
    unprovable input (no parquet footer bound) keeps the old spread
    write: blind coalescing there could funnel an arbitrarily large
    build through ``bands`` tasks.
    """
    import math

    from imp_etl_spark.operators.window import _footer_row_bound

    ub = _footer_row_bound(source)
    if ub is None:
        return stacked
    fpb = max(1, math.ceil(ub / MINHASH_INDEX_ROWS_PER_FILE))
    sub = F.pmod(F.xxhash64(F.col(id_col)), F.lit(fpb))
    return stacked.repartition(bands * fpb, F.col("band"), sub)


def build_minhash_index(df: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", shingle_k: int = 5,
                        num_hashes: int = 12, bands: int = 4) -> dict:
    """Persist the banded MinHash signature table: one parquet row per
    (doc, band), PARTITIONED BY band, with a ``_params.json`` sidecar
    recording the signature scheme. The disk-backed artifact the whole
    dedup tier shares — the same build-once/consume-many pattern as the
    IVF index (operators/similarity.build_ivf_index).

    Why it exists at 100 TB: the shingle→md5→minhash pass is the
    CPU-dominant stage of every near-dup job, and a crawl pipeline runs
    SEVERAL of those jobs over the same corpus (pair audit, survivor
    selection, cluster assignment, next-batch cross-corpus matching —
    ``cross_corpus_candidates`` already assumes a precomputed reference
    signature table). Building the signatures once turns each consumer
    into a narrow 3-column parquet scan; signatures are ~num_hashes
    ints per doc, i.e. orders of magnitude smaller than the corpus.
    Band-partitioning keeps each band's bucket shuffle reading only its
    own directory.

    Deterministic: signatures are pure functions of the text (keyed
    md5), so rebuilds reproduce bit-identical tables and incremental
    batches can be signed independently and unioned.
    """
    import json

    from imp_etl_spark.operators.util import fs_write_text

    stacked = minhash_stacked(df, text_col, id_col, shingle_k,
                              num_hashes, bands)
    stacked = _coalesce_band_write(stacked, df, id_col, bands)
    stacked.write.mode("overwrite").partitionBy("band").parquet(path)
    params = {"id_col": id_col, "text_col": text_col,
              "shingle_k": shingle_k, "num_hashes": num_hashes,
              "bands": bands,
              # declared read schema: consumers skip footer inference,
              # and a zero-doc corpus (empty crawl batch) round-trips —
              # an empty partitioned write leaves no part files, so a
              # schema-less read would fail UNABLE_TO_INFER_SCHEMA
              "schema": stacked.schema.jsonValue()}
    # sidecar through the Hadoop FS API: the parquet write above works
    # on any scheme, so the sidecar must too (driver-local open() would
    # silently pin the artifact to the driver's disk)
    fs_write_text(df.sparkSession, path.rstrip("/") + "/_params.json",
                  json.dumps(params))
    return params


def minhash_index_append(spark, path: str, batch: DataFrame) -> dict:
    """Incrementally sign ``batch`` with a persisted index's OWN scheme
    (params sidecar) and append to the band-partitioned table — the
    crawl-batch maintenance verb of the reference signature table that
    ``cross_corpus_candidates`` matches against. Signatures are pure
    per-doc functions (no trained state, unlike IVF centroids), so an
    appended index is bit-identical to a full rebuild over the union —
    zero recall drift, ever. Cost is one signature pass over the batch
    plus a partitioned parquet append; the resident corpus is never
    read or rewritten. Same single-writer assumption as
    ``ivf_index_append`` (route through the manifest sink if concurrent
    readers need snapshot isolation during ingest).

    File-count growth (ADVICE r12): a parquet APPEND can only add
    files, so every append grows each touched band by >= 1 file (fpb
    is sized from the BATCH's footer bound — the resident index is
    deliberately not re-read on the ingest path). High-frequency
    small-batch ingest therefore re-fragments the layout over time;
    the maintenance verb is a periodic rebuild (``build_minhash_index``
    over the union — bit-identical by the determinism contract above),
    exactly as table formats pair appends with compaction. An
    unprovable batch falls back to the spread write (mixed layouts are
    fine: consumers address the table by directory, not file count)."""
    import json

    from imp_etl_spark.operators.util import fs_read_text

    params = json.loads(fs_read_text(
        spark, path.rstrip("/") + "/_params.json"))
    stacked = minhash_stacked(
        batch, params["text_col"], params["id_col"],
        params["shingle_k"], params["num_hashes"], params["bands"])
    stacked = _coalesce_band_write(stacked, batch, params["id_col"],
                                   params["bands"])
    stacked.write.mode("append").partitionBy("band").parquet(path)
    return params


def read_minhash_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Load a persisted banded signature table -> ((id, band, sig)
    frame, build params). Column order is restored so consumers see the
    exact ``minhash_stacked`` shape regardless of partition-column
    placement."""
    import json

    from imp_etl_spark.operators.util import fs_read_text

    params = json.loads(fs_read_text(
        spark, path.rstrip("/") + "/_params.json"))
    reader = spark.read
    if "schema" in params:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(params["schema"]))
    df = reader.parquet(path)
    return df.select(params["id_col"], "band", "sig"), params


def cross_corpus_candidates(new_stacked: DataFrame, ref_stacked: DataFrame,
                            id_col: str = "doc_id",
                            max_bucket: int = 256) -> DataFrame:
    """Candidate (id_new, id_ref) pairs between a NEW corpus and a
    REFERENCE corpus: a new doc pairs with ref docs sharing any band
    bucket. The incremental-crawl dedup shape — never a self-join over
    new ∪ ref, so a 100 TB reference corpus is only ever touched through
    its banded signature table (which can be precomputed and reused
    across crawl batches).

    Ref buckets larger than ``max_bucket`` are represented by their
    min-id member only: the MATCH decision ("does this new doc collide
    with the reference?") is bucket-level, so collapsing a degenerate
    boilerplate bucket to one representative keeps every match while
    bounding the join fan-out at O(new-side rows). Downstream Jaccard
    verification against the representative is sound for the same reason
    star pairs are in ``_capped_band_pairs``: an over-cap bucket's
    members are near-identical by construction.
    """
    wb = Window.partitionBy("band", "sig")
    ref = (
        ref_stacked.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        .withColumn("__bmin", F.min(F.col(id_col)).over(wb))
        .filter((F.col("__bsz") <= max_bucket)
                | (F.col(id_col) == F.col("__bmin")))
        .select(F.col(id_col).alias("id_ref"), "band", "sig")
    )
    return (
        new_stacked.select(F.col(id_col).alias("id_new"), "band", "sig")
        .join(ref, on=["band", "sig"])
        .select("id_new", "id_ref")
        .distinct()
    )


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", bits: int = 48,
                           max_hamming: int = 3, bands: int = 4,
                           hash_fn: str = "xxhash64",
                           max_bucket: int = 256,
                           observation=None) -> DataFrame:
    """SimHash near-duplicate pairs: hamming(sig_a, sig_b) <= max_hamming.

    Banding uses the pigeonhole principle: with ``bands > max_hamming``
    equal-size blocks, any pair within ``max_hamming`` differs in at most
    ``max_hamming`` blocks, so at least one block matches exactly — the
    per-block self-join therefore finds EVERY qualifying pair (no recall
    loss), while only same-block docs ever meet. The shuffle carries
    (band, block_value) keys, and the hamming re-check prunes false
    candidates.

    Two qualifiers to the exact-recall claim: blocks over ``max_bucket``
    members degrade to star pairs against the block's min-id row
    (bounded cost in degenerate near-identical corpora — those rows pair
    with the representative, which is exactly the survivor), and
    ``hash_fn='md5'`` swaps the token hash for the portable md5 scheme
    so the whole query is DuckDB-oracle-checkable.
    """
    if bands <= max_hamming:
        raise ValueError("bands must exceed max_hamming for exact recall")
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    block_bits = bits // bands
    mask = (1 << block_bits) - 1
    sigs = spread_small_scan(df).select(
        F.col(id_col),
        simhash(tokens(F.col(text_col)), bits=bits,
                hash_fn=hash_fn).alias("sig"))
    # _capped_band_pairs keys on (band, sig): the block value takes the
    # sig slot and the full signature rides along for the hamming re-check
    blocks = sigs.select(
        id_col, F.col("sig").alias("fullsig"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b * block_bits)
                .bitwiseAND(F.lit(mask)).alias("sig"))
            for b in range(bands)
        ])).alias("bk"),
    ).select(id_col, "fullsig", F.col("bk.band").alias("band"),
             F.col("bk.sig").alias("sig"))
    # Persist the banded-stats frame (r12 persisted the blocks here;
    # r13 moved the same gate one node UP into _capped_band_pairs):
    # the stats window's consumers (self-join a/b legs, overflow,
    # bucket representatives) each re-ran the CPU-dominant
    # tokenize+simhash pass AND the (band, sig) window sort (the r12
    # before plan shows four identical scan->Generate->Window subtrees
    # with zero exchange reuse,
    # plans/r12/simhash_near_dup_before.txt). Persisting stats instead
    # of blocks caches the window output too — one sort instead of
    # four — for the same ~30 bytes x bands per doc. Gated on the
    # source's footer row bound exactly as before: a provably tiny
    # corpus keeps the fused plan (the persist's fixed overhead
    # measured ~+0.3 s on a 500-doc fixture, where recompute is nearly
    # free); big or unprovable inputs persist.
    pairs = _capped_band_pairs(blocks, id_col, max_bucket, observation,
                               extra_cols=("fullsig",),
                               source=df)
    return (
        pairs.withColumn(
            "hamming",
            hamming64(F.col("fullsig_a"), F.col("fullsig_b")).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        candidates: DataFrame | None = None
                        ) -> DataFrame:
    """Exact token-n-gram Jaccard similarity pairs above ``threshold``.

    Without ``candidates`` this computes Jaccard via an inverted index
    (explode n-grams -> co-occurrence counts -> |A∩B| / (|A|+|B|-|A∩B|)),
    which shuffles (ngram, id) postings — the classic set-similarity-join
    shape (the only option when no pair list bounds the work).

    With ``candidates``, the verify is PAIRWISE instead: docs are pruned
    to the ids that appear in any pair (broadcast semi join, BEFORE
    tokenizing — Catalyst won't push a join through an explode, so this
    is what keeps verify cost O(candidate docs), not O(corpus)), each
    pruned doc's distinct gram SET is computed once, and each candidate
    pair joins its two gram sets and scores ``array_intersect`` in one
    expression. That is exactly O(pairs x gram-set) work and two id
    equi-joins — versus the posting self-join's gram-level shuffle whose
    volume depends on gram frequency skew, plus two more joins for the
    sizes. Same math row-for-row: |A∩B| over distinct gram sets, pairs
    emitted only when they share a gram (``inter > 0`` mirrors the
    posting join, where a pair with no common gram never forms).
    Contract: ``candidates`` rows are DISTINCT (id_a < id_b) pairs —
    both built-in generators (:func:`minhash_candidates_from_stacked`,
    :func:`cross_corpus_candidates`) guarantee it; a duplicated pair
    would score twice here where the posting join's groupBy collapsed
    it.
    """
    raw = df
    if candidates is not None:
        cand_ids = (candidates.select(F.col("id_a").alias(id_col))
                    .unionByName(
                        candidates.select(F.col("id_b").alias(id_col)))
                    .distinct())
        # the broadcast hint assumes the candidate-id set is the small
        # side (8-byte ids, LSH-bounded) — true until dup rates make
        # candidates a corpus-scale fraction, at which point the caller
        # should verify in partitioned batches anyway
        pruned = df.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
        gramsets = spread_small_scan(pruned, probe=raw).select(
            F.col(id_col).alias("id"),
            F.array_distinct(shingles(tokens(F.col(text_col)), n))
            .alias("gs"),
        )
        # persist (r12): the pair join consumes gramsets TWICE (id_a
        # and id_b sides), and without the persist each side re-ran
        # the scan->semi-prune->tokenize->shingle pass. The frame is
        # bounded by the candidate contract (LSH-bounded doc ids), so
        # it is small by the same argument that justifies the
        # broadcast above. Gated on the corpus's footer row bound —
        # a provably tiny corpus keeps the fused two-evaluation plan
        # (see persist_if_big).
        from imp_etl_spark.operators.util import (
            PERSIST_MIN_SOURCE_ROWS,
            persist_if_big,
        )

        gramsets = persist_if_big(gramsets, df, PERSIST_MIN_SOURCE_ROWS)
        inter = F.size(F.array_intersect("gs_a", "gs_b"))
        return (
            candidates
            .join(gramsets.select(F.col("id").alias("id_a"),
                                  F.col("gs").alias("gs_a")), on="id_a")
            .join(gramsets.select(F.col("id").alias("id_b"),
                                  F.col("gs").alias("gs_b")), on="id_b")
            .withColumn("inter", inter)
            .filter(F.col("inter") > 0)
            .withColumn(
                "jaccard",
                F.col("inter") / (F.size("gs_a") + F.size("gs_b")
                                  - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # probe=raw: decide the spread from the scan, not the joined plan
    # (whose .rdd probe would eagerly build the broadcast — util.py)
    grams = spread_small_scan(df, probe=raw).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(tokens(F.col(text_col)), n))).alias("g"),
    )
    sizes = grams.groupBy("id").agg(F.count("*").alias("sz"))
    a = grams.alias("ga")
    b = grams.alias("gb")
    inter = (
        a.join(b, on="g")
        .filter(F.col("ga.id") < F.col("gb.id"))
        .groupBy(F.col("ga.id").alias("id_a"), F.col("gb.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    scored = (
        inter
        .join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), on="id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), on="id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return scored


def passage_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 16) -> DataFrame:
    """Passage-level first-occurrence dedup across the corpus: split each
    document into consecutive non-overlapping ``k``-token passages and
    keep each distinct passage ONCE — at the (doc, index) position that
    is smallest in (doc_id, passage_idx) order. This is the
    boilerplate-removal shape (repeated headers/footers/licenses across
    pages) that document-level near-dup misses.

    Scale: one narrow tokenize/slice pass, then a single shuffle on the
    passage hash (8-byte xxhash64 keys, not passage bodies — same move
    as exact_content_dedup); the per-hash window is a WindowGroupLimit
    top-1. Output order restores (doc_id, passage_idx) lineage so
    surviving passages can be re-joined into cleaned documents.
    """
    toks = tokens(F.col(text_col))
    npass = F.ceil(F.size(toks) / F.lit(float(k))).cast("int")
    # guard: sequence(1, 0) DESCENDS in Spark, so empty docs need an
    # explicit empty passage list (posexplode then emits no rows)
    plist = F.when(
        npass >= 1,
        F.transform(
            F.sequence(F.lit(1), npass),
            lambda i: F.array_join(
                F.slice(toks, (i - F.lit(1)) * k + 1, k), " "))
    ).otherwise(F.array().cast("array<string>"))
    passages = (
        spread_small_scan(df)
        .select(F.col(id_col),
                F.posexplode(plist).alias("passage_idx", "passage"))
    )
    w = Window.partitionBy(F.xxhash64("passage")).orderBy(
        F.col(id_col).asc(), F.col("passage_idx").asc())
    return (
        passages.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

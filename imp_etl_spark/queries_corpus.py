"""Corpus-curation tier 2 (registered into queries.REGISTRY).

Second batch of training-data curation analytics over the ``documents``
fixture: n-gram novelty (the inverted-index "have we seen this text
before" primitive), first-iteration BPE pair statistics, a language-ID
confusion matrix (evaluation harness for lang_id), per-source duplicate
rates, and source-relative quality percentile filtering.

The reference has no corpus tier (its documents surface stops at CRUD,
index.js:46-140); this module extends SURVEY §7.8's north-star
LLM-pipeline tier. Every query is fully oracle-backed.

Portability strategy:
- n-gram novelty / BPE pairs: shingle construction is mirrored
  token-for-token (functions/hashing.shingles semantics); all outputs
  are integer counts plus one IEEE division.
- lang confusion: reuses the exact `_lang_sql()` oracle of the green
  `lang_id_docs` row, aggregated.
- dup rate: Spark shuffles 8-byte xxhash64(text) keys, the oracle
  groups by the text itself — identical counts unless xxhash64
  collides, which the count equality itself would expose.
- quality percentile: reuses doc_quality's score expression; the
  percentile is percent_rank over a fully deterministic key
  (quality, doc_id), so membership is exact.

100 TB notes are per-query in the docstrings: every shape here is a
token-explode -> partial-agg -> single shuffle of (small key, count)
pairs, or a window partitioned by a bounded key (source). Nothing
shuffles document bodies except the dup-rate text oracle path, whose
production form is the hash variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from imp_etl_spark.functions.hashing import shingles
from imp_etl_spark.functions.text import lang_id, quality_score, tokens
from imp_etl_spark.operators.util import persist
from imp_etl_spark.operators.window import group_rank
from imp_etl_spark.registry import register
from imp_etl_spark.queries_sqlfrag import DUCK_TOKS as _DUCK_TOKS
from imp_etl_spark.queries_sqlfrag import lang_sql as _lang_sql
from imp_etl_spark.sources.parquet import read_table

# ---------------------------------------------------------------------------
# N-gram novelty: fraction of a doc's distinct 5-gram shingles whose
# FIRST corpus occurrence (min doc_id) is this doc. The core "how much
# of this document is new text" curation signal.
# ---------------------------------------------------------------------------

_DUCK_SHINGLES5 = """
CASE WHEN len(t) >= 5
     THEN list_transform(range(1, len(t) - 3),
                         i -> array_to_string(list_slice(t, i, i + 4), ' '))
     WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
     ELSE [] END
"""


@register("ngram_novelty", f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES5} AS gs FROM toks),
g AS (SELECT DISTINCT doc_id, gram
      FROM (SELECT doc_id, unnest(gs) AS gram FROM sh)),
f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*) AS novelty
FROM g JOIN f USING (gram)
GROUP BY g.doc_id
""")
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 5-gram novelty vs the whole corpus (first occurrence
    = min doc_id, i.e. ingest order).

    Scale shape: explode distinct shingles ONCE (persisted as
    (doc_id, xxhash64(gram)) pairs — 16 bytes/row, so both downstream
    shuffles carry 8-byte keys, never the ~30-byte gram strings), then
    two hash aggregations: per-doc gram counts, and per-gram min doc
    whose OWN regroup by first_doc yields the per-doc novel counts —
    no sort-window, no self-join, and the final join is |docs|-sized.
    The oracle keys by the gram string itself; its count equality is
    also the hash-collision guard. First-occurrence order is ingest
    order (doc_id) — at 100 TB, whatever monotone ingest id the
    pipeline carries.
    """
    docs = read_table(spark, sf_dir, "documents")
    g = (docs.select(
            "doc_id",
            F.explode(F.array_distinct(shingles(tokens(F.col("text")), 5))
                      ).alias("gram"))
         .select("doc_id", F.xxhash64("gram").alias("gh")))
    g = persist(g, StorageLevel.MEMORY_AND_DISK_DESER)
    per_doc = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (g.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
             .groupBy("first_doc").agg(F.count(F.lit(1)).alias("novel")))
    return (
        per_doc.join(novel, per_doc.doc_id == novel.first_doc, "left")
        .select("doc_id", "n_grams",
                F.coalesce(F.col("novel"), F.lit(0)).cast("bigint")
                .alias("n_novel"))
        .select("doc_id", "n_grams", "n_novel",
                (F.col("n_novel").cast("double") / F.col("n_grams")
                 ).alias("novelty"))
    )


# ---------------------------------------------------------------------------
# First BPE merge iteration: corpus-wide adjacent-token pair counts.
# ---------------------------------------------------------------------------


@register("bpe_pair_counts", f"""
WITH toks AS (SELECT {_DUCK_TOKS} AS t FROM documents),
p AS (SELECT unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS pair
      FROM toks WHERE len(t) >= 2)
SELECT pair, count(*) AS cnt
FROM p GROUP BY pair
ORDER BY cnt DESC, pair ASC
LIMIT 50
""")
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair frequencies — the counting step of one BPE
    merge iteration, corpus-wide, top 50 (ties broken by pair text so
    the LIMIT boundary is deterministic).

    Scale shape: identical to word_counts_top50 — the pair explode is
    absorbed by map-side partial aggregation, the exchange carries
    distinct (pair, partial-count) rows, and the top-k is a
    TakeOrderedAndProject (per-partition heap + driver merge of 50
    rows), never a global sort. A full BPE trainer is this query in a
    loop with the current merge table broadcast.
    """
    docs = read_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(F.col("t")) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)))
    return (
        docs.select(t.alias("t"))
        .where(F.size(F.col("t")) >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix of predicted vs labeled lang.
# ---------------------------------------------------------------------------


@register("lang_confusion_matrix", f"""
SELECT lang_label, lang_pred, count(*) AS docs
FROM ({_lang_sql()})
GROUP BY lang_label, lang_pred
""")
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the marker-word language classifier against
    the fixture's lang label — the evaluation-harness companion of the
    green `lang_id_docs` row (its oracle is literally `_lang_sql()`
    aggregated, so the two rows can never drift apart).

    Scale shape: classification is pure JVM builtins per row; the only
    shuffle carries (label, pred) pairs — at most |langs|² groups.
    """
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.col("lang").alias("lang_label"),
                    lang_id("text").alias("lang_pred"))
        .groupBy("lang_label", "lang_pred")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


# ---------------------------------------------------------------------------
# Per-source duplicate rate: how much of each source is exact-dup text.
# ---------------------------------------------------------------------------


@register("dup_rate_by_source", """
WITH d AS (SELECT source, text FROM documents WHERE text IS NOT NULL),
c AS (SELECT text, count(*) AS cnt FROM d GROUP BY text)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_rate
FROM d JOIN c USING (text)
GROUP BY source
""")
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate contamination rate per source — the per-corpus
    health metric layered on dedup_exact_content's grouping.

    Scale shape: Spark groups on ``xxhash64(text)`` so the multiplicity
    shuffle carries 8-byte keys (the oracle groups by the body itself;
    identical counts unless the hash collides, which the count equality
    would expose). The join back is hash-key -> count, and the final
    exchange is |sources| rows. Rate is over docs that HAVE text: a
    null body is no content, so it neither duplicates another null nor
    dilutes the denominator (the oracle's equi-join on the body would
    drop nulls anyway; xxhash64 would fuse them into one fake group).
    """
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull())
    h = F.xxhash64(F.col("text"))
    c = (docs.select(h.alias("h"))
         .groupBy("h").agg(F.count(F.lit(1)).alias("cnt")))
    dup = F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
    return (
        docs.select("source", h.alias("h"))
        .join(c, "h")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), dup.alias("n_dup_docs"))
        .select("source", "n_docs", "n_dup_docs",
                (F.col("n_dup_docs").cast("double") / F.col("n_docs")
                 ).alias("dup_rate"))
    )


# ---------------------------------------------------------------------------
# Source-relative quality filter: keep each source's top half by score.
# ---------------------------------------------------------------------------


@register("quality_percentile_filter", f"""
WITH q AS (
  SELECT d.doc_id, d.source, s.quality
  FROM documents d JOIN (
    WITH s0 AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS t FROM documents
    ), r AS (
      SELECT doc_id,
             least(length(text) / 500.0, 1.0) AS len_band,
             CASE WHEN len(t) > 0
                  THEN CAST(len(list_filter(t, x -> list_contains(
                       ['the','a','an','and','or','of','to','in','on','for',
                        'with','is','are','was','be','this','that','it','as',
                        'at','by'], x))) AS DOUBLE) / len(t)
                  ELSE 0.0 END AS sr,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text,
                       '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
                       / length(text)
                  ELSE 0.0 END AS pr
      FROM s0
    )
    SELECT doc_id,
           floor((0.4 * len_band + 0.3 * least(sr * 4, 1.0)
                  + 0.3 * greatest(1.0 - pr * 5, 0.0)) * 1000000 + 0.5)
             / 1000000.0 AS quality
    FROM r
  ) s USING (doc_id)
), ranked AS (
  SELECT doc_id, source, quality,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY quality, doc_id) AS pctile
  FROM q
)
SELECT doc_id, source, quality, pctile
FROM ranked WHERE pctile >= 0.5
""")
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each source's top-half documents by heuristic quality score
    — source-relative filtering, the standard guard against one noisy
    source dominating a global threshold.

    Scale shape (r8 — the skew caveat this docstring used to carry is
    retired): per-row ranks come from operators/window.group_rank — a
    distributed prefix sum over the (source, quality, doc_id) range
    order with one broadcast offset row per source — so a single giant
    source spreads across tasks instead of serializing through one.
    percent_rank = (rank-1)/(n-1), pinned 0.0 for single-doc sources
    (the SQL definition), keeps membership deterministic.
    """
    docs = read_table(spark, sf_dir, "documents")
    q = docs.select("doc_id", "source",
                    quality_score("text").alias("quality"))
    r = group_rank(q, ["source"], ["quality", "doc_id"],
                   rank_col="__rk", n_col="__n")
    # percent_rank = (rank-1)/(n-1), defined 0.0 for single-row groups
    pctile = F.when(F.col("__n") > 1,
                    (F.col("__rk") - 1) / (F.col("__n") - 1)
                    ).otherwise(F.lit(0.0))
    return (
        r.withColumn("pctile", pctile)
        .where(F.col("pctile") >= 0.5)
        .select("doc_id", "source", "quality", "pctile")
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage: per-doc out-of-vocabulary rate against
# the corpus top-1000 vocab — the coverage check run before committing
# to a tokenizer/vocab size.
# ---------------------------------------------------------------------------


@register("oov_rate_docs", f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
    ORDER BY cnt DESC, tok ASC LIMIT 1000
  )
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS oov_rate
FROM tok t LEFT JOIN vocab v USING (tok)
GROUP BY t.doc_id
""")
def oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary token rate against the corpus
    top-1000 vocabulary (ties at the cutoff broken by token text, so
    the vocab set is deterministic).

    Scale shape: the vocab build is the canonical word count (map-side
    partial agg -> one exchange -> bounded TakeOrdered heap of 1000);
    the coverage pass re-explodes tokens but joins them against the
    BROADCAST 1000-row vocab map-side — no token ever shuffles for the
    membership test, and the per-doc counts partial-aggregate before
    their exchange.
    """
    docs = read_table(spark, sf_dir, "documents")
    # shared tokenize pass (r13): the vocab build and the coverage join
    # are two consumers of one token stream — same two-sided gated
    # persist as tfidf_top_term / doc_token_rarity (queries_llm)
    from imp_etl_spark.queries_llm import _persist_if_token_scale

    tok = _persist_if_token_scale(
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("tok")),
        docs)
    vocab = (tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
             .orderBy(F.col("cnt").desc(), F.col("tok").asc())
             .limit(1000)
             .select("tok", F.lit(1).alias("__in_vocab")))
    oov = F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), oov.alias("n_oov"))
        .select("doc_id", "n_tokens", "n_oov",
                (F.col("n_oov").cast("double") / F.col("n_tokens")
                 ).alias("oov_rate"))
    )


# ---------------------------------------------------------------------------
# The curation funnel: the whole training-data pipeline as ONE
# declarative plan — raw -> source-relative quality filter -> exact
# dedup -> per-source cap — reporting per-stage doc/token survival.
# ---------------------------------------------------------------------------


_DUCK_QUALITY = f"""
  SELECT doc_id,
         floor((0.4 * least(length(text) / 500.0, 1.0)
               + 0.3 * least(CASE WHEN len(t) > 0
                    THEN CAST(len(list_filter(t, x -> list_contains(
                         ['the','a','an','and','or','of','to','in','on','for',
                          'with','is','are','was','be','this','that','it','as',
                          'at','by'], x))) AS DOUBLE) / len(t)
                    ELSE 0.0 END * 4, 1.0)
               + 0.3 * greatest(1.0 - CASE WHEN length(text) > 0
                    THEN CAST(length(regexp_replace(text,
                         '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
                         / length(text)
                    ELSE 0.0 END * 5, 0.0)) * 1000000 + 0.5)
           / 1000000.0 AS quality
  FROM s0
"""


@register("corpus_curation_funnel", f"""
WITH s0 AS (SELECT doc_id, source, text, {_DUCK_TOKS} AS t FROM documents),
q AS ({_DUCK_QUALITY}),
s1 AS (
  SELECT * FROM (
    SELECT s0.doc_id, s0.source, s0.text, s0.t,
           percent_rank() OVER (PARTITION BY s0.source
                                ORDER BY q.quality, s0.doc_id) AS pr
    FROM s0 JOIN q USING (doc_id)
  ) WHERE pr >= 0.5
),
s2 AS (
  SELECT * FROM (
    SELECT doc_id, source, t,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM s1
  ) WHERE rn = 1
),
s3 AS (
  SELECT * FROM (
    SELECT doc_id, source, t,
           row_number() OVER (PARTITION BY source
                              ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
    FROM s2
  ) WHERE rk <= 10
),
counts AS (
  SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS docs,
         CAST(sum(len(t)) AS BIGINT) AS tokens FROM s0
  UNION ALL
  SELECT 1, 'quality_top_half', count(*),
         CAST(sum(len(t)) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, 'exact_dedup', count(*),
         CAST(sum(len(t)) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'cap_10_per_source', count(*),
         CAST(sum(len(t)) AS BIGINT) FROM s3
)
SELECT stage_idx, stage, docs, tokens,
       CAST(docs AS DOUBLE) /
       (SELECT CAST(docs AS DOUBLE) FROM counts WHERE stage_idx = 0)
         AS retained_pct
FROM counts
""")
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation pipeline as one declarative funnel:
    raw corpus -> keep each source's top quality half -> exact content
    dedup (first doc per text wins) -> unbiased 10-doc cap per source;
    per-stage surviving docs, token volume, and retention vs raw.

    Scale shape per stage: quality is row-local; the percentile window
    and the cap window partition on the bounded ``source`` key; the
    dedup window partitions on ``xxhash64(text)`` so no body ever
    shuffles (the oracle partitions by the text itself — count equality
    doubles as the collision guard); stage counts are partial-agg
    4-row unions and the retention divisor is a 1-row broadcast. At
    100 TB each stage is exactly one keyed exchange over the shrinking
    survivor frame — the base frame is persisted so the four stage
    counts share one tokenization pass.
    """
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", "text",
        F.size(tokens(F.col("text"))).alias("ntok"),
        quality_score("text").alias("q"))
    base = persist(base, StorageLevel.MEMORY_AND_DISK_DESER)
    # stage-1 quality gate: distributed per-source rank (group_rank —
    # giant-source-safe, r8) instead of a per-source percent_rank
    # window; percent_rank is 0.0 for a single-doc source by definition
    r1 = group_rank(base, ["source"], ["q", "doc_id"],
                    rank_col="__rk", n_col="__n")
    s1 = (r1.where((F.col("__n") > 1)
                   & ((F.col("__rk") - 1) / (F.col("__n") - 1) >= 0.5))
          .drop("__rk", "__n"))
    wd = Window.partitionBy(F.xxhash64("text")).orderBy("doc_id")
    s2 = s1.withColumn("rn", F.row_number().over(wd)).where(F.col("rn") == 1)
    wc = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    s3 = s2.withColumn("rk", F.row_number().over(wc)).where(F.col("rk") <= 10)

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return (df.agg(F.count(F.lit(1)).alias("docs"),
                       F.sum("ntok").alias("tokens"))
                .select(F.lit(idx).alias("stage_idx"),
                        F.lit(name).alias("stage"), "docs", "tokens"))

    counts = (stage(base, 0, "raw")
              .unionByName(stage(s1, 1, "quality_top_half"))
              .unionByName(stage(s2, 2, "exact_dedup"))
              .unionByName(stage(s3, 3, "cap_10_per_source")))
    raw = counts.where(F.col("stage_idx") == 0).select(
        F.col("docs").alias("__raw_docs"))
    return (
        counts.crossJoin(F.broadcast(raw))
        .select("stage_idx", "stage", "docs", "tokens",
                # try_divide: an empty corpus yields NULL retention
                # (DuckDB's x/0 semantics), not an ANSI abort
                F.try_divide(F.col("docs").cast("double"),
                             F.col("__raw_docs").cast("double"))
                .alias("retained_pct"))
    )

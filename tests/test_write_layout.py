"""r12 write-layout pins: the persisted index artifacts must land a
BOUNDED number of parquet files (guide §6 small-files fix) without
changing a single consumer-visible row.

The coalesce only engages when the source is footer-bounded (a parquet
scan); in-memory frames keep the old spread write — the equality tests
in test_dedup_cap/test_similarity cover that branch.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F


def _parquet_files(path: str) -> list[str]:
    return [p for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                 recursive=True)]


@pytest.fixture()
def docs_parquet(spark, tmp_path):
    rows = [(i, f"the quick brown fox number {i % 7} jumps over the "
             f"lazy dog {i % 3} again and again tail {i % 5}")
            for i in range(60)]
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(p)
    return spark.read.parquet(p)


def test_minhash_index_write_is_coalesced(spark, tmp_path, docs_parquet):
    """A footer-bounded build lands exactly one file per band at the
    default rowsPerFile, with contents identical to the inline pass."""
    from imp_etl_spark.operators.dedup import (
        build_minhash_index,
        minhash_stacked,
        read_minhash_index,
    )

    path = str(tmp_path / "mh_index")
    build_minhash_index(docs_parquet, path, "text", "doc_id",
                        shingle_k=3, num_hashes=12, bands=4)
    files = _parquet_files(path)
    assert len(files) == 4, files  # one per band, not scan-tasks x bands
    stacked, _ = read_minhash_index(spark, path)
    inline = minhash_stacked(docs_parquet, "text", "doc_id", shingle_k=3,
                             num_hashes=12, bands=4)
    assert (sorted(map(tuple, stacked.collect()))
            == sorted(map(tuple, inline.collect())))


def test_minhash_index_files_scale_with_row_bound(spark, tmp_path,
                                                  docs_parquet,
                                                  monkeypatch):
    """MINHASH_INDEX_ROWS_PER_FILE drives files-per-band: forcing it
    tiny must split each band into ceil(docs / rows per file) files (the
    100 TB growth path), still bit-identical to the inline
    signatures."""
    from imp_etl_spark.operators import dedup
    from imp_etl_spark.operators.dedup import (
        build_minhash_index,
        minhash_stacked,
        read_minhash_index,
    )

    path = str(tmp_path / "mh_index_split")
    monkeypatch.setattr(dedup, "MINHASH_INDEX_ROWS_PER_FILE", 20)
    build_minhash_index(docs_parquet, path, "text", "doc_id",
                        shingle_k=3, num_hashes=12, bands=4)
    # 60 docs / 20 rows per file = 3 sub-files per band (hash split — a
    # hash-empty sub would drop a file, so allow <=, require > 1)
    for band in range(4):
        n = len(_parquet_files(os.path.join(path, f"band={band}")))
        assert 1 < n <= 3, (band, n)
    stacked, _ = read_minhash_index(spark, path)
    inline = minhash_stacked(docs_parquet, "text", "doc_id", shingle_k=3,
                             num_hashes=12, bands=4)
    assert (sorted(map(tuple, stacked.collect()))
            == sorted(map(tuple, inline.collect())))


def test_minhash_index_append_coalesced_equals_rebuild(spark, tmp_path):
    """The append path coalesces too, and the appended table stays
    bit-identical to a full rebuild over the union."""
    from imp_etl_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_append,
        minhash_stacked,
        read_minhash_index,
    )

    def corpus(lo, hi):
        return spark.createDataFrame(
            [(i, f"shared boilerplate header words {i % 4} "
              f"then body text number {i} with tail {i % 6}")
             for i in range(lo, hi)], ["doc_id", "text"])

    base_p = str(tmp_path / "base.parquet")
    batch_p = str(tmp_path / "batch.parquet")
    corpus(0, 40).write.parquet(base_p)
    corpus(40, 60).write.parquet(batch_p)

    path = str(tmp_path / "mh_index")
    build_minhash_index(spark.read.parquet(base_p), path, "text",
                        "doc_id", shingle_k=3, num_hashes=12, bands=4)
    minhash_index_append(spark, path, spark.read.parquet(batch_p))
    files = _parquet_files(path)
    assert len(files) == 8, files  # build + append: 2 files per band
    stacked, _ = read_minhash_index(spark, path)
    rebuilt = minhash_stacked(corpus(0, 60), "text", "doc_id",
                              shingle_k=3, num_hashes=12, bands=4)
    assert (sorted(map(tuple, stacked.collect()))
            == sorted(map(tuple, rebuilt.collect())))


def test_ivf_index_write_is_coalesced(spark, tmp_path):
    """Footer-bounded IVF build lands at most one file per list and
    probes identically to the inline path."""
    import random

    from imp_etl_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(200)]
    corpus_p = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(rows, ["vec_id", "embedding"]).write.parquet(
        corpus_p)
    corpus = spark.read.parquet(corpus_p)
    queries = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:3]], ["query_id", "qvec"]
    ).select(F.col("query_id"), F.col("qvec").alias("embedding"))

    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, nlist=4, kmeans_iters=1)
    files = _parquet_files(path)
    # one file per non-empty list (a list can be empty under kmeans)
    assert 0 < len(files) <= 4, files
    got = ivf_topk_indexed(spark, path, queries, k=5, nprobe=2)
    want = ivf_topk(corpus, queries, k=5, nlist=4, nprobe=2,
                    kmeans_iters=1)
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, want.collect())))


def test_persist_if_big_gates_on_footer_bound(spark, tmp_path):
    """persist_if_big: a provably tiny parquet source keeps the
    unpersisted plan; a big (or unprovable) source persists — and the
    threshold is the caller's."""
    from imp_etl_spark.operators import util
    from imp_etl_spark.operators.util import (
        PERSIST_MIN_SOURCE_ROWS,
        persist_if_big,
        release_query_caches,
    )

    p = str(tmp_path / "tiny.parquet")
    spark.createDataFrame([(i,) for i in range(100)], ["id"]) \
        .write.parquet(p)
    src = spark.read.parquet(p)
    derived = src.select((F.col("id") * 2).alias("x"))

    # 100 rows < default 16384: no persist
    out = persist_if_big(derived, src, PERSIST_MIN_SOURCE_ROWS)
    assert out.storageLevel.useMemory is False

    # force the threshold below the bound: persists + owner-tracked
    release_query_caches()
    try:
        out2 = persist_if_big(derived, src, 10)
        assert out2.storageLevel.useMemory is True
        assert util._QUERY_PERSISTS == [out2]
    finally:
        release_query_caches()

    # unprovable source (in-memory frame): safe assumption is big
    mem = spark.createDataFrame([(1,)], ["id"])
    out3 = persist_if_big(mem.select("id"), mem, PERSIST_MIN_SOURCE_ROWS)
    assert out3.storageLevel.useMemory is True
    out3.unpersist()


def test_token_gate_streams_unprovable_corpus(spark, tmp_path):
    """The token-stream gate never caches a corpus whose size cannot be
    proven (an in-memory or joined ``docs``): that frame is ~corpus
    bytes, so the two-pass streaming plan is the side of the trade that
    survives any size. A footer-provable corpus inside the crossover
    window still persists."""
    from imp_etl_spark.operators import util
    from imp_etl_spark.queries_llm import _persist_if_token_scale

    def toks(docs):
        return docs.select("doc_id", F.explode(
            F.split("text", " ")).alias("tok"))

    mem = spark.createDataFrame(
        [(i, f"w{i} w{i % 7}") for i in range(5000)],
        "doc_id LONG, text STRING")
    util.release_query_caches()
    for docs in (mem, mem.join(mem.select("doc_id"), "doc_id")):
        out = _persist_if_token_scale(toks(docs), docs)
        assert out.storageLevel.useMemory is False
    assert util._QUERY_PERSISTS == []

    p = str(tmp_path / "docs.parquet")
    mem.write.parquet(p)
    on_disk = spark.read.parquet(p)
    try:
        out = _persist_if_token_scale(toks(on_disk), on_disk)
        assert util._QUERY_PERSISTS == [out]
    finally:
        util.release_query_caches()

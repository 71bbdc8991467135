"""End-to-end pipeline + upsert-sink semantics on family-B fixtures."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from imp_etl_spark.plans.pipeline import build_pipeline, clean_queue
from imp_etl_spark.plans.runner import run_etl
from imp_etl_spark.plans.upsert import merge_upsert, read_target
from tests.fixtures_b import make_frames


def test_reference_keys_filters_queue(spark):
    queue, _, _ = make_frames(spark)
    keys = {r["reference_no"]
            for r in clean_queue(queue).select("reference_no").collect()}
    # NULL/empty refs and NULL table rows dropped; duplicates collapsed
    assert keys == {"REF-1", "REF-2", "REF-GONE"}


def test_pipeline_branches(spark):
    queue, voucher, txn = make_frames(spark)
    res = build_pipeline(queue, voucher, txn,
                         voucher_key=["voucher_id", "reference_no"],
                         transaction_key=["voucher_details_id", "reference_no"])

    valid = res.voucher.valid.collect()
    # V9 (not queued) pruned; falsy-key rows skipped; V1 dup deduped
    ids = sorted((r["voucher_id"], r["reference_no"]) for r in valid)
    assert ids == [("V1", "REF-1"), ("V2", "REF-1"), ("V3", "REF-2")]
    assert res.voucher.skipped.count() == 2  # None key + '' key

    v1 = next(r for r in valid if r["voucher_id"] == "V1")
    # cleanse applied: T1 upper, T2 enum, Q1 zero->null, Q4 day shift
    assert v1["first_name"] in ("JUAN", "JUAN UPDATED")
    v2 = next(r for r in valid if r["voucher_id"] == "V2")
    assert v2["sex"] == "FEMALE"
    assert v2["farm_area"] is None           # '0.00' -> Q1 null
    assert v2["birthday"] == "1988-01-14"    # Q4 UTC shift
    v3 = next(r for r in valid if r["voucher_id"] == "V3")
    assert v3["farm_area"] == 12.0           # prefix parse
    assert v3["birthday"] is None

    # missing refs: REF-GONE has no voucher and no txn rows
    assert sorted(r["warning"] for r in res.warnings.collect()) == [
        "No transaction data found for reference: REF-GONE",
        "No voucher data found for reference: REF-GONE"]

    t = {r["voucher_details_id"]: r for r in res.transaction.valid.collect()}
    assert t["T1"]["ishold"] == 1            # Q3: '0' truthy
    assert t["T2"]["quantity"] is None       # Q1
    assert t["T1"]["payout"] == "1" and t["T2"]["payout"] == "0"
    assert t["T1"]["transac_date"] == "2024-03-01"


def test_merge_upsert_idempotent_and_lww(spark, tmp_path):
    path = str(tmp_path / "voucher_tgt")
    df1 = spark.createDataFrame(
        [("V1", "R1", "a", 1), ("V2", "R1", "b", 1)],
        "voucher_id string, reference_no string, payload string, seq int")
    v0 = merge_upsert(spark, path, df1, ["voucher_id", "reference_no"], "seq")
    assert v0 == 0
    assert read_target(spark, path).count() == 2

    # batch with an update (V1) + an insert (V3) + intra-batch dup (V3 twice,
    # higher seq wins)
    df2 = spark.createDataFrame(
        [("V1", "R1", "a2", 2), ("V3", "R1", "c1", 1), ("V3", "R1", "c2", 2)],
        "voucher_id string, reference_no string, payload string, seq int")
    merge_upsert(spark, path, df2, ["voucher_id", "reference_no"], "seq")
    state = {r["voucher_id"]: r["payload"] for r in read_target(spark, path).collect()}
    assert state == {"V1": "a2", "V2": "b", "V3": "c2"}

    # idempotence: re-applying the same batch changes nothing (ST4)
    merge_upsert(spark, path, df2, ["voucher_id", "reference_no"], "seq")
    state2 = {r["voucher_id"]: r["payload"] for r in read_target(spark, path).collect()}
    assert state2 == state


def test_merge_batch_is_unique_matches_default_path(spark, tmp_path):
    """A pre-deduped batch commits the identical sink state as the raw
    batch it came from: the merge's own last-writer-wins window keeps
    the same row per key, on table creation and on a partial merge."""
    from imp_etl_spark.operators.dedup import latest_per_key

    raw = spark.createDataFrame(
        [("V1", "R1", "old", 1), ("V1", "R1", "new", 2),
         ("V2", "R1", "only", 1), ("V3", "R2", "x1", 3),
         ("V3", "R2", "x0", 1)],
        "voucher_id string, reference_no string, payload string, seq int")
    key = ["voucher_id", "reference_no"]

    p_default = str(tmp_path / "via_default")
    merge_upsert(spark, p_default, raw, key, "seq")
    p_flagged = str(tmp_path / "via_flag")
    merge_upsert(spark, p_flagged,
                 latest_per_key(raw, key, ["seq"], desc=True), key, "seq")

    rows = lambda p: sorted(map(tuple, read_target(spark, p).collect()))
    assert rows(p_flagged) == rows(p_default)
    assert {r[2] for r in rows(p_flagged)} == {"new", "only", "x1"}

    # and the partial-merge path (existing target) agrees too
    upd = spark.createDataFrame(
        [("V2", "R1", "upd", 5)],
        "voucher_id string, reference_no string, payload string, seq int")
    merge_upsert(spark, p_default, raw.unionByName(upd), key, "seq")
    merge_upsert(spark, p_flagged, upd, key, "seq")
    assert rows(p_flagged) == rows(p_default)


def test_run_etl_summary_and_watermark(spark, tmp_path):
    queue, voucher, txn = make_frames(spark)
    summary = run_etl(spark, queue, voucher, txn,
                      str(tmp_path / "v"), str(tmp_path / "t"))
    assert summary["processedVoucherCount"] == 3
    assert summary["skippedVoucherCount"] == 2
    assert summary["processedTransactionCount"] == 3
    assert summary["skippedTransactionCount"] == 1
    assert summary["watermark"] == 8
    assert any("REF-GONE" in w for w in summary["warningSample"])

    # incremental run with watermark: empty queue -> nothing reprocessed
    summary2 = run_etl(spark, queue, voucher, txn,
                       str(tmp_path / "v"), str(tmp_path / "t"),
                       watermark=summary["watermark"])
    assert summary2["processedVoucherCount"] == 0
    assert summary2["watermark"] == 8
    assert read_target(spark, str(tmp_path / "v")).count() == 3


def test_st8_retry_transient_failure_then_success(spark, tmp_path, monkeypatch):
    """ST8 (etlService.js:78-99): a sink write that fails twice then
    succeeds is retried with the fixed delay and the run ends normally."""
    import imp_etl_spark.plans.runner as runner

    real = runner.merge_upsert
    calls = {"n": 0}

    def flaky(spark_, path, batch, key, order_col=None, **kw):
        if path.endswith("/v"):
            calls["n"] += 1
            if calls["n"] <= 2:
                raise RuntimeError("transient sink outage")
        return real(spark_, path, batch, key, order_col, **kw)

    monkeypatch.setattr(runner, "merge_upsert", flaky)
    sleeps: list[float] = []
    queue, voucher, txn = make_frames(spark)
    summary = run_etl(spark, queue, voucher, txn,
                      str(tmp_path / "v"), str(tmp_path / "t"),
                      _sleep=sleeps.append)
    assert calls["n"] == 3                      # 2 failures + 1 success
    # fixed delay between tries
    assert sleeps == [runner.RETRY_DELAY_S] * 2
    assert summary["processedVoucherCount"] == 3
    assert summary["skippedVoucherCount"] == 2
    assert read_target(spark, str(tmp_path / "v")).count() == 3


def test_st8_retry_final_failure_counts_skipped_with_warning(
        spark, tmp_path, monkeypatch):
    """ST8 final-failure parity: after 3 failed attempts the branch's
    would-be-processed rows count as SKIPPED, a reference-shaped warning
    surfaces, and the other branch still commits."""
    import imp_etl_spark.plans.runner as runner

    real = runner.merge_upsert
    attempts = {"n": 0}

    def dead(spark_, path, batch, key, order_col=None, **kw):
        if path.endswith("/v"):
            attempts["n"] += 1
            raise RuntimeError("sink is down")
        return real(spark_, path, batch, key, order_col, **kw)

    monkeypatch.setattr(runner, "merge_upsert", dead)
    queue, voucher, txn = make_frames(spark)
    sleeps: list[float] = []
    summary = run_etl(spark, queue, voucher, txn,
                      str(tmp_path / "v"), str(tmp_path / "t"),
                      _sleep=sleeps.append)
    assert attempts["n"] == runner.RETRY_LIMIT == 3
    assert sleeps == [runner.RETRY_DELAY_S] * 2
    assert summary["processedVoucherCount"] == 0
    # 2 falsy-key skips + the 3 valid rows the dead sink never took
    assert summary["skippedVoucherCount"] == 5
    assert any("after 3 retries" in w and "voucher" in w
               for w in summary["warningSample"])
    # transaction branch unaffected
    assert summary["processedTransactionCount"] == 3
    assert read_target(spark, str(tmp_path / "t")).count() == 3
    # the watermark must NOT advance past rows a failed sink never
    # took — the next incremental run has to see them again (advancing
    # would silently drop them forever in watermark mode)
    assert summary["watermark"] is None

    # with both sinks healthy the same run advances the watermark
    monkeypatch.setattr(runner, "merge_upsert", real)
    summary2 = run_etl(spark, queue, voucher, txn,
                       str(tmp_path / "v2"), str(tmp_path / "t2"),
                       _sleep=lambda _s: None)
    assert summary2["watermark"] == 8


def test_upsert_time_travel_and_staging_cleanup(spark, tmp_path):
    """Retained snapshot versions stay readable (time travel); the data
    dirs and manifests crashed writers left are swept on the next
    merge."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from imp_etl_spark.plans.upsert import merge_upsert, read_target

    path = str(tmp_path / "tt")
    base = spark.range(5).select(
        F.col("id").alias("k"), F.lit("a").alias("v"),
        F.col("id").alias("ord"))
    v0 = merge_upsert(spark, path, base, ["k"], "ord")
    upd = spark.range(2).select(
        F.col("id").alias("k"), F.lit("b").alias("v"),
        (F.col("id") + 10).alias("ord"))
    # simulate crashed writers before merging again: an unreferenced
    # data dir, and a manifest written after the last _latest.json flip
    # (crash between manifest and commit).
    # Backdate their mtimes past the GC age gate — fresh entries are
    # presumed to belong to an in-flight concurrent writer and spared.
    import time as _time

    from imp_etl_spark.plans.upsert import _GC_MIN_AGE_S
    stale = _time.time() - (_GC_MIN_AGE_S + 60)
    os.makedirs(os.path.join(path, "data_deadbeef"))
    with open(os.path.join(path, "_manifest_v99.json"), "w") as f:
        f.write('{"n_buckets": 16, "key": ["k"], "buckets": {}}')
    for debris in ("data_deadbeef", "_manifest_v99.json"):
        os.utime(os.path.join(path, debris), (stale, stale))
    v1 = merge_upsert(spark, path, upd, ["k"], "ord")

    assert not os.path.isdir(os.path.join(path, "data_deadbeef"))
    assert not os.path.exists(os.path.join(path, "_manifest_v99.json"))
    cur = {r["k"]: r["v"] for r in read_target(spark, path).collect()}
    assert cur[0] == "b" and cur[4] == "a"
    old = {r["k"]: r["v"] for r in read_target(spark, path, version=v0).collect()}
    assert old[0] == "a"
    with pytest.raises(ValueError, match="not retained"):
        read_target(spark, path, version=99)
    assert v1 == v0 + 1


def test_upsert_retention_keep_one(spark, tmp_path, monkeypatch):
    """KEEP_VERSIONS = 1 keeps ONLY the newest snapshot: one manifest
    file, and no data directory that isn't referenced by it."""
    import os

    from imp_etl_spark.plans import upsert as U
    from imp_etl_spark.plans.upsert import _manifest_versions, _read_manifest

    monkeypatch.setattr(U, "KEEP_VERSIONS", 1)
    path = str(tmp_path / "keep1")
    for i in range(3):
        batch = spark.createDataFrame([(1, f"v{i}", i)], "k INT, v STRING, ord INT")
        merge_upsert(spark, path, batch, ["k"], "ord")
    assert _manifest_versions(path) == [2]
    referenced = {rel.split("/")[0] for rel in
                  _read_manifest(path, 2)["buckets"].values()}
    data_dirs = {d for d in os.listdir(path) if d.startswith("data_")}
    assert data_dirs == referenced
    assert [r["v"] for r in read_target(spark, path).collect()] == ["v2"]


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path,
                                                     monkeypatch):
    """The 100 TB merge cost model: a batch touching one key rewrites
    the key's bucket only; every other bucket carries into the new
    MANIFEST by reference — the same path string as the previous
    version, no data copied, rewritten, or linked."""
    from imp_etl_spark.plans import upsert as U
    from imp_etl_spark.plans.upsert import _read_manifest

    monkeypatch.setattr(U, "KEEP_VERSIONS", 5)
    path = str(tmp_path / "bucketed")
    base = spark.createDataFrame(
        [(k, f"v{k}", k) for k in range(200)], "k INT, v STRING, ord INT")
    v0 = merge_upsert(spark, path, base, ["k"], "ord", n_buckets=8)
    man0 = _read_manifest(path, v0)["buckets"]
    assert len(man0) == 8

    one = spark.createDataFrame([(7, "updated", 999)], "k INT, v STRING, ord INT")
    v1 = merge_upsert(spark, path, one, ["k"], "ord", n_buckets=8)
    man1 = _read_manifest(path, v1)["buckets"]

    rewritten = [b for b in man0 if man1[b] != man0[b]]
    carried = [b for b in man0 if man1[b] == man0[b]]
    assert len(rewritten) == 1, f"expected 1 rewritten bucket, got {rewritten}"
    assert len(carried) == 7

    # semantics unchanged: the update landed, everything else intact
    state = {r["k"]: r["v"] for r in read_target(spark, path).collect()}
    assert state[7] == "updated" and state[3] == "v3" and len(state) == 200
    # and time travel still reads the pre-update bucketed snapshot
    old = {r["k"]: r["v"] for r in read_target(spark, path, version=v0).collect()}
    assert old[7] == "v7"


def test_merge_commit_needs_no_rename_or_links(spark, tmp_path,
                                               monkeypatch):
    """Object-store portability: the whole merge+commit protocol must
    work on a filesystem with NO hard links and NO atomic rename —
    only new-file writes and single-FILE replace (= one PUT). The shim
    makes os.link/os.rename raise and restricts os.replace to files."""
    import os

    real_replace = os.replace

    def no_link(*a, **kw):
        raise OSError("links not supported (object store)")

    def no_rename(*a, **kw):
        raise OSError("rename not supported (object store)")

    def file_only_replace(src, dst, **kw):
        if os.path.isdir(src):
            raise OSError("directory rename not supported (object store)")
        return real_replace(src, dst, **kw)

    monkeypatch.setattr(os, "link", no_link)
    monkeypatch.setattr(os, "rename", no_rename)
    monkeypatch.setattr(os, "replace", file_only_replace)

    path = str(tmp_path / "objstore")
    base = spark.createDataFrame(
        [(k, f"v{k}", k) for k in range(50)], "k INT, v STRING, ord INT")
    v0 = merge_upsert(spark, path, base, ["k"], "ord", n_buckets=4)
    one = spark.createDataFrame([(3, "upd", 99)], "k INT, v STRING, ord INT")
    v1 = merge_upsert(spark, path, one, ["k"], "ord", n_buckets=4)
    state = {r["k"]: r["v"] for r in read_target(spark, path).collect()}
    assert state[3] == "upd" and len(state) == 50 and v1 == v0 + 1


def test_files_per_bucket_widens_write_parallelism(spark, tmp_path):
    """files_per_bucket=4 must produce multiple data files per bucket
    dir (bounded task size at 100 TB) without changing semantics or the
    manifest's bucket-level addressing."""
    import os

    from imp_etl_spark.plans.upsert import bucket_paths

    path = str(tmp_path / "wide")
    base = spark.createDataFrame(
        [(k, f"v{k}", k) for k in range(2000)], "k INT, v STRING, ord INT")
    merge_upsert(spark, path, base, ["k"], "ord", n_buckets=4,
                 files_per_bucket=4)
    paths = bucket_paths(path)
    assert len(paths) == 4
    files = [f for f in os.listdir(paths[0]) if f.endswith(".parquet")]
    assert len(files) > 1, "expected multiple files in one bucket"
    assert read_target(spark, path).count() == 2000

    one = spark.createDataFrame([(7, "upd", 9999)], "k INT, v STRING, ord INT")
    merge_upsert(spark, path, one, ["k"], "ord", n_buckets=4,
                 files_per_bucket=4)
    state = {r["k"]: r["v"] for r in read_target(spark, path).collect()}
    assert state[7] == "upd" and len(state) == 2000


def test_partial_merge_rejects_retyped_column(spark, tmp_path):
    """A batch whose column keeps its NAME but changes TYPE must not
    take the partial path (mixed physical schemas across referenced
    dirs); the full rewrite unifies the type for every bucket."""
    from imp_etl_spark.plans.upsert import _read_manifest

    path = str(tmp_path / "retype")
    base = spark.createDataFrame(
        [(k, k, k) for k in range(40)], "k INT, v INT, ord INT")
    merge_upsert(spark, path, base, ["k"], "ord", n_buckets=4)
    widened = spark.createDataFrame(
        [(1, 2.5, 99)], "k INT, v DOUBLE, ord INT")
    v1 = merge_upsert(spark, path, widened, ["k"], "ord", n_buckets=4)

    man1 = _read_manifest(path, v1)
    # full rewrite: every bucket points into ONE fresh data dir
    parents = {rel.split("/")[0] for rel in man1["buckets"].values()}
    assert len(parents) == 1
    assert man1["schema"]["v"] == "double"
    out = {r["k"]: r["v"] for r in read_target(spark, path).collect()}
    assert out[1] == 2.5 and out[2] == 2.0 and len(out) == 40


def test_bucketed_merge_bucket_count_change_full_rewrite(spark, tmp_path):
    """Changing n_buckets can't silently mix layouts: the merge detects
    the spec mismatch and does one full rewrite into the new layout."""
    import os

    from imp_etl_spark.plans.upsert import _read_manifest

    path = str(tmp_path / "rebucket")
    base = spark.createDataFrame(
        [(k, "a", k) for k in range(50)], "k INT, v STRING, ord INT")
    merge_upsert(spark, path, base, ["k"], "ord", n_buckets=4)
    upd = spark.createDataFrame([(1, "b", 99)], "k INT, v STRING, ord INT")
    v1 = merge_upsert(spark, path, upd, ["k"], "ord", n_buckets=8)
    man = _read_manifest(path, v1)
    assert man["n_buckets"] == 8 and len(man["buckets"]) == 8
    # full rewrite into the new layout: one fresh data dir holds all
    assert len({rel.split("/")[0] for rel in man["buckets"].values()}) == 1
    state = {r["k"]: r["v"] for r in read_target(spark, path).collect()}
    assert state[1] == "b" and len(state) == 50


def test_branch_counts_before_any_action_do_not_block(spark):
    """processed_count()/skipped_count() called BEFORE the merge runs must
    fall back to a count() instead of blocking on Observation.get
    (round-1 advice: the unconditional .get hung the driver)."""
    import threading

    queue, voucher, txn = make_frames(spark)
    res = build_pipeline(queue, voucher, txn,
                         voucher_key=["voucher_id", "reference_no"],
                         transaction_key=["voucher_details_id", "reference_no"])
    out: dict[str, int] = {}

    def _read():
        out["p"] = res.voucher.processed_count()
        out["s"] = res.voucher.skipped_count()

    t = threading.Thread(target=_read, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "count read blocked without an action"
    assert out == {"p": 3, "s": 2}
    # after the fallback action ran, the observation path agrees
    assert res.voucher.processed_count() == 3
    for b in (res.voucher, res.transaction):
        b.cleansed.unpersist()


def test_upsert_schema_evolution(spark, tmp_path):
    """A batch with a NEW column merges cleanly: historical rows backfill
    null, updated rows carry the new value, and no column is lost."""
    from pyspark.sql import functions as F

    from imp_etl_spark.plans.upsert import merge_upsert, read_target

    path = str(tmp_path / "evolve")
    base = spark.createDataFrame(
        [(k, "old", k) for k in range(4)], "k INT, v STRING, ord INT")
    merge_upsert(spark, path, base, ["k"], "ord")
    evolved = spark.createDataFrame(
        [(0, "new", 10, "extra0")], "k INT, v STRING, ord INT, note STRING")
    merge_upsert(spark, path, evolved, ["k"], "ord")

    out = {r["k"]: (r["v"], r["note"]) for r in read_target(spark, path).collect()}
    assert out[0] == ("new", "extra0")
    assert out[1] == ("old", None) and len(out) == 4


def test_compact_snapshot_merges_fragmented_buckets_only(spark, tmp_path,
                                                         monkeypatch):
    """Table maintenance (OPTIMIZE half): after a wide write
    (files_per_bucket=3) fragments some buckets, compaction rewrites
    ONLY those buckets down to one file each, carries the rest by
    reference, and publishes a new version — data identical, old
    version still time-travelable."""
    from imp_etl_spark.plans import upsert as U
    from imp_etl_spark.plans.upsert import (
        _bucket_file_counts, _read_manifest, compact_snapshot)

    monkeypatch.setattr(U, "KEEP_VERSIONS", 5)
    path = str(tmp_path / "compact")
    base = spark.createDataFrame(
        [(k, f"v{k}", k) for k in range(400)], "k INT, v STRING, ord INT")
    merge_upsert(spark, path, base, ["k"], "ord", n_buckets=4)
    # fragment a subset: a partial merge written wide rewrites only the
    # touched buckets at 3 files each
    upd = spark.createDataFrame(
        [(7, "updated", 999)], "k INT, v STRING, ord INT")
    v1 = merge_upsert(spark, path, upd, ["k"], "ord", n_buckets=4,
                      files_per_bucket=3)
    man1 = _read_manifest(path, v1)
    counts1 = _bucket_file_counts(path, man1)
    fragged = [b for b, c in counts1.items() if c > 1]
    assert len(fragged) == 1  # only bucket(7) was rewritten wide

    v2 = compact_snapshot(spark, path)
    assert v2 == v1 + 1
    man2 = _read_manifest(path, v2)
    counts2 = _bucket_file_counts(path, man2)
    assert all(c == 1 for c in counts2.values()), counts2
    # untouched buckets carried by reference (identical path strings)
    for b in man1["buckets"]:
        if b not in fragged:
            assert man2["buckets"][b] == man1["buckets"][b]
        else:
            assert man2["buckets"][b] != man1["buckets"][b]
    # data identical, and the pre-compaction version is still readable
    state = {r["k"]: r["v"] for r in read_target(spark, path).collect()}
    assert len(state) == 400 and state[7] == "updated" and state[3] == "v3"
    old = {r["k"]: r["v"]
           for r in read_target(spark, path, version=v1).collect()}
    assert old == state
    # idempotent: nothing fragmented now -> no-op, same version
    assert compact_snapshot(spark, path) == v2


def test_rebucket_grows_layout_and_partial_merges_resume(spark, tmp_path,
                                                         monkeypatch):
    """The growth path: doubling n_buckets restores b/N partial-rewrite
    economics; a follow-up merge at the new count takes the PARTIAL
    path (one rewritten bucket, 15 carried)."""
    from imp_etl_spark.plans import upsert as U
    from imp_etl_spark.plans.upsert import _read_manifest, rebucket

    monkeypatch.setattr(U, "KEEP_VERSIONS", 5)
    path = str(tmp_path / "rebucket")
    base = spark.createDataFrame(
        [(k, f"v{k}", k) for k in range(400)], "k INT, v STRING, ord INT")
    merge_upsert(spark, path, base, ["k"], "ord", n_buckets=8)
    v1 = rebucket(spark, path, 16)
    man1 = _read_manifest(path, v1)
    assert man1["n_buckets"] == 16 and len(man1["buckets"]) == 16
    state = {r["k"]: r["v"] for r in read_target(spark, path).collect()}
    assert len(state) == 400 and state[5] == "v5"

    upd = spark.createDataFrame(
        [(5, "updated", 999)], "k INT, v STRING, ord INT")
    v2 = merge_upsert(spark, path, upd, ["k"], "ord", n_buckets=16)
    man2 = _read_manifest(path, v2)["buckets"]
    rewritten = [b for b in man1["buckets"] if man2[b] != man1["buckets"][b]]
    assert len(rewritten) == 1
    state = {r["k"]: r["v"] for r in read_target(spark, path).collect()}
    assert state[5] == "updated" and len(state) == 400


def test_run_etl_keeps_the_tables_bucket_count(spark, tmp_path):
    """A cron fire after ``rebucket`` merges in the table's new bucket
    count: the voucher manifest keeps ``n_buckets == 8`` and the
    buckets the second fire does not touch carry by reference."""
    from imp_etl_spark.plans.upsert import (
        _latest_version,
        _read_manifest,
        rebucket,
    )

    queue, voucher, txn = make_frames(spark)
    v_path, t_path = str(tmp_path / "v"), str(tmp_path / "t")
    summary = run_etl(spark, queue, voucher, txn, v_path, t_path)
    man1 = _read_manifest(v_path, rebucket(spark, v_path, 8))
    # the second fire sees only the last queue row (REF-2's V3)
    run_etl(spark, queue, voucher, txn, v_path, t_path,
            watermark=summary["watermark"] - 1)
    man2 = _read_manifest(v_path, _latest_version(v_path))
    assert man2["n_buckets"] == 8
    carried = [b for b, rel in man1["buckets"].items()
               if man2["buckets"].get(b) == rel]
    assert carried and len(carried) == len(man1["buckets"]) - 1, (
        man1["buckets"], man2["buckets"])
    assert read_target(spark, v_path).count() == 3


def test_point_lookup_reads_single_bucket_dir(spark, tmp_path):
    """lookup() prunes at the path level: the scan's input files all
    come from the one bucket directory the key hashes to, and the
    result is the exact row."""
    from imp_etl_spark.plans.upsert import lookup

    path = str(tmp_path / "lookup")
    base = spark.createDataFrame(
        [(k, f"v{k}", k) for k in range(300)], "k INT, v STRING, ord INT")
    merge_upsert(spark, path, base, ["k"], "ord", n_buckets=8)

    df = lookup(spark, path, {"k": 42})
    rows = df.collect()
    assert [(r["k"], r["v"]) for r in rows] == [(42, "v42")]
    files = df.inputFiles()
    assert files and len({f.split("__bucket=")[1].split("/")[0]
                          for f in files}) == 1
    # equality residual reaches the parquet scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,42)]" in plan

    import pytest as _pytest
    with _pytest.raises(ValueError, match="full key"):
        lookup(spark, path, {"v": "v42"})


def test_merge_upsert_txn_replay_is_noop(spark, tmp_path):
    """Transaction stamps make at-least-once callers exactly-once: a
    merge replayed with an already-committed (app_id, version) is a
    no-op even when its PAYLOAD differs (the read-modify-write replay
    that last-writer-wins alone cannot dedupe), and the stamp survives
    unrelated merges and compaction."""
    from imp_etl_spark.plans import upsert as U

    path = str(tmp_path / "txn_tgt")
    base = spark.createDataFrame([("K1", 10, 1), ("K2", 20, 1)],
                                 "k string, n int, ord int")
    v0 = merge_upsert(spark, path, base, ["k"], "ord",
                      txn_app_id="app", txn_version=0)
    assert v0 == 0
    assert U.last_txn_version(path, "app") == 0

    # the dangerous replay: same epoch, INFLATED payload (as a replayed
    # read-modify-write epoch would produce) -> must not apply
    inflated = spark.createDataFrame([("K1", 20, 2), ("K2", 40, 2)],
                                     "k string, n int, ord int")
    v_again = merge_upsert(spark, path, inflated, ["k"], "ord",
                           txn_app_id="app", txn_version=0)
    assert v_again == v0
    state = {r["k"]: r["n"] for r in read_target(spark, path).collect()}
    assert state == {"K1": 10, "K2": 20}

    # a NEW epoch applies; an unrelated (stampless) merge and a
    # compaction both preserve the recorded stamp
    nxt = spark.createDataFrame([("K1", 11, 3)], "k string, n int, ord int")
    merge_upsert(spark, path, nxt, ["k"], "ord",
                 txn_app_id="app", txn_version=1)
    other = spark.createDataFrame([("K9", 99, 1)], "k string, n int, ord int")
    merge_upsert(spark, path, other, ["k"], "ord")
    U.compact_snapshot(spark, path)
    assert U.last_txn_version(path, "app") == 1
    state = {r["k"]: r["n"] for r in read_target(spark, path).collect()}
    assert state == {"K1": 11, "K2": 20, "K9": 99}
    # and the replay fence still holds after maintenance
    merge_upsert(spark, path, inflated, ["k"], "ord",
                 txn_app_id="app", txn_version=1)
    state2 = {r["k"]: r["n"] for r in read_target(spark, path).collect()}
    assert state2 == state


def test_merge_upsert_concurrent_writer_cas(spark, tmp_path):
    """Two interleaved writers: B commits between A's merge and A's
    _latest.json flip. The version CAS makes A discard its prepared
    snapshot and re-merge, so the final table holds BOTH writers' rows
    — no lost buckets — and exactly one version per commit."""
    from imp_etl_spark.plans import upsert as U

    path = str(tmp_path / "cas_tgt")
    base = spark.createDataFrame([(f"K{i}", 0, 1) for i in range(8)],
                                 "k string, n int, ord int")
    merge_upsert(spark, path, base, ["k"], "ord", n_buckets=4)

    b_batch = spark.createDataFrame([("K1", 100, 2)],
                                    "k string, n int, ord int")
    fired = {"n": 0}

    def sneak_in_writer_b():
        # fire only on A's FIRST attempt; A's retry must run clean
        if fired["n"] == 0:
            fired["n"] += 1
            merge_upsert(spark, path, b_batch, ["k"], "ord", n_buckets=4)

    a_batch = spark.createDataFrame([("K2", 200, 2)],
                                    "k string, n int, ord int")
    U._pre_commit_hook = sneak_in_writer_b
    try:
        merge_upsert(spark, path, a_batch, ["k"], "ord", n_buckets=4)
    finally:
        U._pre_commit_hook = None
    assert fired["n"] == 1

    state = {r["k"]: r["n"] for r in read_target(spark, path).collect()}
    assert state["K1"] == 100        # B's write survived A's retry
    assert state["K2"] == 200        # A's write landed
    assert len(state) == 8
    # three committed versions: base, B, A-after-retry
    assert U._latest_version(path) == 2


@pytest.mark.parametrize("maintenance", ["compact", "rebucket"])
def test_maintenance_loses_commit_race_cleanly(spark, tmp_path, maintenance):
    """Compaction and re-bucketing commit through the merge's commit: a
    writer that advances ``_latest.json`` between their rewrite and
    their flip makes them raise ``ConcurrentWriteError``, and they
    leave that writer's snapshot as it committed it — the same
    ``_latest.json`` and rows, and no manifest or data dir of theirs."""
    from imp_etl_spark.plans import upsert as U

    path = str(tmp_path / "race")
    latest_file = os.path.join(path, U._LATEST)
    base = spark.createDataFrame([(k, f"v{k}", k) for k in range(60)],
                                 "k INT, v STRING, ord INT")
    # written wide: every bucket holds several files, so compaction has
    # buckets to rewrite
    merge_upsert(spark, path, base, ["k"], "ord", n_buckets=4,
                 files_per_bucket=3)
    racer = spark.createDataFrame([(7, "racer", 99)],
                                  "k INT, v STRING, ord INT")
    before = set(os.listdir(path))
    seen: dict = {}

    def race():
        if seen:
            return  # the racer's own commit
        seen["mine"] = set(os.listdir(path)) - before
        merge_upsert(spark, path, racer, ["k"], "ord", n_buckets=4)
        with open(latest_file) as f:
            seen["latest"] = f.read()
        seen["entries"] = set(os.listdir(path))
        seen["rows"] = _rows(read_target(spark, path))

    U._pre_commit_hook = race
    try:
        with pytest.raises(U.ConcurrentWriteError):
            if maintenance == "compact":
                U.compact_snapshot(spark, path)
            else:
                U.rebucket(spark, path, 8)
    finally:
        U._pre_commit_hook = None
    # the rewrite had written its data dir when the racer committed
    assert len(seen["mine"]) == 1
    assert next(iter(seen["mine"])).startswith("data_")
    with open(latest_file) as f:
        assert f.read() == seen["latest"]
    assert set(os.listdir(path)) == seen["entries"] - seen["mine"]
    assert _rows(read_target(spark, path)) == seen["rows"]
    assert (7, "racer", 99) in seen["rows"]


def test_merge_replace_touched_buckets_and_expected_version(spark, tmp_path):
    """Replace semantics: a batch declared to hold its touched buckets'
    full content replaces them wholesale (stale keys in those buckets
    drop; other buckets untouched, carried by reference), and
    expected_version raises instead of clobbering when the table moved
    past the caller's read."""
    import pytest

    from imp_etl_spark.plans import upsert as U

    path = str(tmp_path / "repl_tgt")
    base = spark.createDataFrame([(f"K{i}", i, 1) for i in range(12)],
                                 "k string, n int, ord int")
    v0 = merge_upsert(spark, path, base, ["k"], "ord", n_buckets=4)

    # find two keys in the same bucket; replace that bucket with ONE
    from pyspark.sql import functions as F
    buck = {r["k"]: r["b"] for r in base.select(
        "k", U._bucket_expr(["k"], 4).alias("b")).collect()}
    by_bucket = {}
    for k, b in buck.items():
        by_bucket.setdefault(b, []).append(k)
    b_id, keys = next((b, ks) for b, ks in by_bucket.items()
                      if len(ks) >= 2)
    keep, drop = keys[0], keys[1]
    repl = spark.createDataFrame([(keep, 999, 2)],
                                 "k string, n int, ord int")
    merge_upsert(spark, path, repl, ["k"], "ord", n_buckets=4,
                 batch_replaces_touched_buckets=True,
                 expected_version=v0)
    state = {r["k"]: r["n"] for r in read_target(spark, path).collect()}
    assert state[keep] == 999
    assert drop not in state                    # replaced wholesale
    others = set(buck) - set(keys)
    assert others <= set(state)                 # untouched buckets intact

    # stale expected_version: the table moved -> loud failure, no write
    before = dict(state)
    with pytest.raises(U.ConcurrentWriteError):
        merge_upsert(spark, path, repl, ["k"], "ord", n_buckets=4,
                     batch_replaces_touched_buckets=True,
                     expected_version=v0)       # table is at v0+1 now
    after = {r["k"]: r["n"] for r in read_target(spark, path).collect()}
    assert after == before
    # expected_version=-1 means "table must not exist": it does -> raise
    with pytest.raises(U.ConcurrentWriteError):
        merge_upsert(spark, path, repl, ["k"], "ord", n_buckets=4,
                     expected_version=-1)


def test_run_etl_jdbc_sink_end_to_end(spark, tmp_path):
    """r11 (VERDICT item 2, end-to-end): run_etl with sink='jdbc'
    honors the reference's actual MySQL->MySQL deployment — both
    branches upsert through upsert_jdbc into live Derby tables.
    Counters/warnings/watermark match the manifest mode; a second
    full-reprocess run is idempotent (same rows, updated in place);
    an updated queue row overwrites its target row."""
    import py4j
    import pytest

    from imp_etl_spark.plans.pipeline import build_pipeline
    from imp_etl_spark.sources.io import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/etldb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        spark._jvm.java.lang.Class.forName(driver)
    except py4j.protocol.Py4JError:
        pytest.skip("embedded Derby driver not on the classpath")

    queue, voucher, txn = make_frames(spark)
    # pre-create the targets with VARCHAR key/string columns (Derby
    # maps Spark strings to CLOB, which a MERGE ON clause cannot
    # compare) — deployment-wise these tables pre-exist in MySQL
    shape = build_pipeline(queue, voucher, txn)

    def coltypes(df):
        return ", ".join(f"{c} VARCHAR(256)" for c, t in df.dtypes
                         if t == "string")

    v_types = coltypes(shape.voucher.valid)
    t_types = coltypes(shape.transaction.valid)
    write_jdbc(shape.voucher.valid.limit(0), url, "voucher",
               mode="overwrite", driver=driver,
               createTableColumnTypes=v_types)
    write_jdbc(shape.transaction.valid.limit(0), url, "txn",
               mode="overwrite", driver=driver,
               createTableColumnTypes=t_types)

    summary = run_etl(
        spark, queue, voucher, txn, "voucher", "txn",
        sink="jdbc", jdbc_url=url, jdbc_options={"driver": driver})
    assert summary["processedVoucherCount"] == 3
    assert summary["skippedVoucherCount"] == 2
    assert summary["processedTransactionCount"] == 3
    assert summary["watermark"] == 8
    assert any("REF-GONE" in w for w in summary["warningSample"])

    back_v = read_jdbc(spark, url, "voucher", driver=driver)
    back_t = read_jdbc(spark, url, "txn", driver=driver)
    assert back_v.count() == 3 and back_t.count() == 3

    # idempotence: full reprocess (no watermark) upserts the same keys
    summary2 = run_etl(
        spark, queue, voucher, txn, "voucher", "txn",
        sink="jdbc", jdbc_url=url, jdbc_options={"driver": driver})
    assert summary2["processedVoucherCount"] == 3
    assert read_jdbc(spark, url, "voucher", driver=driver).count() == 3
    assert read_jdbc(spark, url, "txn", driver=driver).count() == 3

    # update-in-place: a restated voucher row (same key, new name)
    # overwrites rather than duplicates
    restated = voucher.withColumn(
        "first_name", F.when(F.col("voucher_id") == "V1",
                             F.lit("renamed")).otherwise(
                                 F.col("first_name")))
    run_etl(spark, queue, restated, txn, "voucher", "txn",
            sink="jdbc", jdbc_url=url, jdbc_options={"driver": driver})
    rows = {r["voucher_id"]: r["first_name"] for r in read_jdbc(
        spark, url, "voucher", driver=driver).collect()}
    assert len(rows) == 3
    assert rows["V1"] in ("RENAMED", "renamed")  # cleanse may upcase

    # unknown sink rejected up front
    with pytest.raises(ValueError, match="unknown sink"):
        run_etl(spark, queue, voucher, txn, "v", "t", sink="delta")


# ---------------------------------------------------------------------------
# Fused dedup↔bucket layout (plans/upsert._dedup_in_bucket_layout)
# ---------------------------------------------------------------------------

def _rows(df):
    return sorted(map(tuple, df.collect()))


def _dup_frame(spark):
    rows = [(f"K{i % 7}", f"R{i % 5}", i, f"p{i}") for i in range(300)]
    return spark.createDataFrame(
        rows, "voucher_id string, reference_no string, seq int, p string")


def test_fused_dedup_matches_latest_per_key(spark):
    from imp_etl_spark.operators.dedup import latest_per_key
    from imp_etl_spark.plans.upsert import _dedup_in_bucket_layout

    df = _dup_frame(spark)
    fused = _dedup_in_bucket_layout(
        df, ["voucher_id", "reference_no"], ["seq"], 16)
    plain = latest_per_key(
        df, ["voucher_id", "reference_no"], ["seq"], desc=True)
    assert _rows(fused) == _rows(plain)


def test_fused_dedup_single_exchange(spark):
    """The whole point of the fusion: ONE exchange covers dedup + the
    sink's bucket clustering (the r12 plan paid hash(pk) AND
    hash(bucket))."""
    from imp_etl_spark.plans.upsert import _dedup_in_bucket_layout

    df = _dup_frame(spark)
    plan = _dedup_in_bucket_layout(
        df, ["voucher_id", "reference_no"], ["seq"], 16
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pre_clustered_merge_equals_replanned_merge(spark, tmp_path):
    """merge_upsert over a batch already deduped in the bucket layout
    commits the exact table it commits from a latest_per_key batch,
    with one file per bucket dir; rows clustered by ``_bucket_exchange``
    alone land the same way when written as they are."""
    from imp_etl_spark.operators.dedup import latest_per_key
    from imp_etl_spark.plans.upsert import (
        _bucket_exchange,
        _dedup_in_bucket_layout,
        _write_bucketed,
    )
    from imp_etl_spark.plans.upsert import merge_upsert, read_target

    df = _dup_frame(spark)
    key = ["voucher_id", "reference_no"]
    fused = _dedup_in_bucket_layout(df, key, ["seq"], 16)
    plain = latest_per_key(df, key, ["seq"], desc=True)

    p_fused = str(tmp_path / "fused")
    p_plain = str(tmp_path / "plain")
    merge_upsert(spark, p_fused, fused, key, "seq")
    merge_upsert(spark, p_plain, plain, key, "seq")
    assert _rows(read_target(spark, p_fused)) == \
        _rows(read_target(spark, p_plain))
    # layout: one directory per non-empty bucket, one file each
    dirs = glob.glob(os.path.join(p_fused, "data_*", "__bucket=*"))
    files = glob.glob(os.path.join(p_fused, "data_*", "__bucket=*",
                                   "*.parquet"))
    assert dirs and len(files) == len(dirs)

    p_exchanged = str(tmp_path / "exchanged")
    _write_bucketed(_bucket_exchange(plain, key, 16), key, 16, p_exchanged)
    dirs = glob.glob(os.path.join(p_exchanged, "__bucket=*"))
    files = glob.glob(os.path.join(p_exchanged, "__bucket=*", "*.parquet"))
    assert dirs and len(files) == len(dirs)
    assert _rows(spark.read.parquet(p_exchanged).drop("__bucket")
                 .select(*plain.columns)) == _rows(plain)


def test_fused_dedup_sub_split_matches_and_single_exchange(spark, tmp_path):
    """files_per_bucket > 1 (the scale-adaptive sub-split that keeps a
    big epoch's dedup sort from funneling through n_buckets tasks):
    same rows as latest_per_key, still ONE exchange, and the
    wide merge commits the identical table from either batch."""
    from imp_etl_spark.operators.dedup import latest_per_key
    from imp_etl_spark.plans.upsert import (
        _bucket_exchange,
        _dedup_in_bucket_layout,
        _write_bucketed,
    )
    from imp_etl_spark.plans.upsert import merge_upsert, read_target

    df = _dup_frame(spark)
    key = ["voucher_id", "reference_no"]
    fused = _dedup_in_bucket_layout(df, key, ["seq"], 16,
                                    files_per_bucket=3)
    plain = latest_per_key(df, key, ["seq"], desc=True)
    assert _rows(fused) == _rows(plain)
    # AQE reprints the pre-execution plan under "== Initial Plan ==";
    # count only the final plan's exchanges
    plan = fused._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan

    p_fused = str(tmp_path / "fused_wide")
    p_plain = str(tmp_path / "plain")
    merge_upsert(spark, p_fused, fused, key, "seq", files_per_bucket=3)
    merge_upsert(spark, p_plain, plain, key, "seq")
    assert _rows(read_target(spark, p_fused)) == \
        _rows(read_target(spark, p_plain))

    # the exchange alone fixes n_buckets * files_per_bucket partitions,
    # and its write lands at most files_per_bucket files per bucket
    wide = _bucket_exchange(plain, key, 16, files_per_bucket=3)
    assert wide.rdd.getNumPartitions() == 48
    p_wide = str(tmp_path / "exchanged_wide")
    _write_bucketed(wide, key, 16, p_wide)
    per_dir = [len(glob.glob(os.path.join(d, "*.parquet")))
               for d in glob.glob(os.path.join(p_wide, "__bucket=*"))]
    assert per_dir and max(per_dir) <= 3 and sum(per_dir) > len(per_dir)


def test_run_etl_plan_has_single_branch_exchange(spark, tmp_path):
    """End-to-end pin of VERDICT r12 item 3 on the create path: each
    branch's table-creating write shuffles its rows once, on the bucket
    expression that dedups the batch and lays out the write. The branch
    adds no exchange of its own: no hash(pk) dedup, no round-robin
    spread, no dedup shuffle of the queue refs under the semi join's
    broadcast."""
    queue, voucher, txn = make_frames(spark)
    store = _SqlStore(spark)
    after_id = store.last_id()
    summary = run_etl(spark, queue, voucher, txn, str(tmp_path / "v"),
                      str(tmp_path / "t"))
    assert summary["processedVoucherCount"] == 3
    assert summary["processedTransactionCount"] == 3
    writes = store.exchanges_per_write(after_id, str(tmp_path))
    assert len(writes) == 2, writes
    for exchanges in writes:
        assert len(exchanges) == 1, exchanges
        assert exchanges[0].startswith("Exchange hashpartitioning(cast("
                                       "pmod(xxhash64("), exchanges


# ---------------------------------------------------------------------------
# Fire cost: jobs and shuffles of a cron fire into an existing table
# ---------------------------------------------------------------------------

def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


class _SqlStore:
    """The SQL status store read as JSON, one JVM call per object (the
    way perfbench/tracing.py reads it). It retains only the newest
    executions, so executions are found by id, not by list offset."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())

    def _json(self, obj):
        import json

        return json.loads(self._mapper.writeValueAsString(obj))

    def _newest(self, k: int) -> list[dict]:
        self._bus.waitUntilEmpty()
        n = self._store.executionsCount()
        if n == 0:
            return []
        return self._json(self._store.executionsList(max(0, n - k),
                                                     min(n, k)))

    def last_id(self) -> int:
        newest = self._newest(1)
        return newest[-1]["executionId"] if newest else -1

    def exchanges_per_write(self, after_id: int, under: str):
        """For every SQL execution after ``after_id`` that writes below
        ``under``: its shuffle ``Exchange`` nodes (of any partitioning;
        broadcasts are ``BroadcastExchange`` nodes and left out)."""
        out = []
        for e in self._newest(200):
            if e["executionId"] <= after_id:
                continue
            nodes = self._json(
                self._store.planGraph(e["executionId"]).allNodes())
            if any("InsertIntoHadoopFsRelationCommand" in nd["name"]
                   and under in nd["desc"] for nd in nodes):
                out.append([nd["desc"] for nd in nodes
                            if nd["desc"].startswith("Exchange ")])
        return out


def test_partial_merge_fire_cost(spark, tmp_path):
    """A cron fire into an existing table (the partial-merge path) stays
    within its measured job count, and each branch's write shuffles its
    rows exactly once: the merge's one exchange on the bucket expression
    dedups the batch and folds it over the touched buckets' rows. The
    job bound is the count measured on this fixture."""
    queue, voucher, txn = make_frames(spark)
    v_path, t_path = str(tmp_path / "v"), str(tmp_path / "t")
    run_etl(spark, queue, voucher, txn, v_path, t_path)      # create
    store = _SqlStore(spark)
    after_id = store.last_id()
    job0 = _next_job_id(spark)
    summary = run_etl(spark, queue, voucher, txn, v_path, t_path)
    jobs = _next_job_id(spark) - job0
    assert summary["processedVoucherCount"] == 3
    assert summary["processedTransactionCount"] == 3
    assert jobs <= 18, jobs

    writes = store.exchanges_per_write(after_id, str(tmp_path))
    assert len(writes) == 2, writes
    for exchanges in writes:
        assert len(exchanges) == 1, exchanges
        assert exchanges[0].startswith("Exchange hashpartitioning(cast("
                                       "pmod(xxhash64("), exchanges


def test_lookup_reads_recorded_schema(spark, tmp_path):
    """A point lookup reads its bucket dir with the manifest's recorded
    schema, so it runs no footer-inference job, and hashes the key's
    bucket on the driver, so it runs no hash job: at most two Spark
    jobs, and the lookup still finds the row."""
    from imp_etl_spark.plans.upsert import lookup

    path = str(tmp_path / "tbl")
    merge_upsert(spark, path, spark.createDataFrame(
        [(k, f"R{k % 3}", f"p{k}") for k in range(40)],
        "k int, ref string, p string"), ["k", "ref"])
    for _ in range(2):  # the first call also pays first-use codegen
        job0 = _next_job_id(spark)
        rows = lookup(spark, path, {"k": 7, "ref": "R1"}).collect()
        assert _next_job_id(spark) - job0 <= 2
        assert [r["p"] for r in rows] == ["p7"]


def test_key_bucket_matches_bucket_expr(spark):
    """The lookup's driver-side bucket id equals ``_bucket_expr`` on
    int, bigint and string keys — empty, non-ASCII, past 32 bits — and
    on null key columns, alone and chained across a composite key."""
    from imp_etl_spark.plans.upsert import _bucket_expr, _key_bucket

    rows = [(7, 7, "R1"), (-3, 2 ** 40, ""), (None, -1, "ñé漢字"),
            (2 ** 31 - 1, None, None), (0, 0, "voucher-0001")]
    df = spark.createDataFrame(rows, "i int, l bigint, s string")
    dtypes = dict(df.dtypes)
    for key in (["i"], ["l"], ["s"], ["i", "l", "s"], ["s", "l"]):
        for n in (16, 7):
            want = [r["b"] for r in df.select(
                _bucket_expr(key, n).alias("b")).collect()]
            got = [_key_bucket(spark, [r[k] for k in key],
                               [dtypes[k] for k in key], n)
                   for r in df.collect()]
            assert got == want, (key, n)


def _lww_batch(spark, extra: bool = False):
    """Duplicate keys with differing, tied (identical rows) and null
    order values, three of them in ``_lww_target`` and one new;
    ``extra`` adds a column the target lacks."""
    rows = [("K1", "R1", "a", 1), ("K1", "R1", "c", 3), ("K1", "R1", "b", 2),
            ("K2", "R1", "t", 5), ("K2", "R1", "t", 5),
            ("K3", "R2", "x", 1), ("K3", "R2", "n", None),
            ("K90", "R1", "z", 1)]
    df = spark.createDataFrame(
        rows, "voucher_id string, reference_no string, p string, seq int")
    return df.withColumn("note", F.concat(F.lit("n-"), "p")) if extra else df


def _lww_target(spark):
    return spark.createDataFrame(
        [(f"K{i}", "R1" if i <= 2 else "R2", f"old{i}", 0)
         for i in range(1, 40)],
        "voucher_id string, reference_no string, p string, seq int")


def test_merge_fold_matches_preview(spark, tmp_path):
    """One window dedups the batch and lets it beat the target: on the
    create, partial-merge, schema-evolving full-rewrite and
    replace-touched-buckets paths the committed table equals
    ``merge_preview`` of the same batch, and the commit records the
    batch's four distinct keys as upserted."""
    from imp_etl_spark.plans.upsert import (
        _bucket_expr,
        _latest_version,
        merge_preview,
        upserted_rows,
    )

    key = ["voucher_id", "reference_no"]
    batch, target = _lww_batch(spark), _lww_target(spark)
    cols = target.columns

    def committed(path):
        return _rows(read_target(spark, path).select(*cols))

    def check(path, base):
        assert committed(path) == _rows(
            merge_preview(batch, base, key, "seq").select(*cols)), path
        assert upserted_rows(path, _latest_version(path)) == 4, path

    created = str(tmp_path / "create")
    merge_upsert(spark, created, batch, key, "seq", n_buckets=4)
    check(created, target.limit(0))

    for name, fpb in (("partial", 1), ("partial_wide", 3)):
        path = str(tmp_path / name)
        merge_upsert(spark, path, target, key, "seq", n_buckets=4)
        merge_upsert(spark, path, batch, key, "seq", n_buckets=4,
                     files_per_bucket=fpb)
        check(path, target)

    evolved = str(tmp_path / "evolve")
    merge_upsert(spark, evolved, target, key, "seq", n_buckets=4)
    merge_upsert(spark, evolved, _lww_batch(spark, extra=True), key, "seq",
                 n_buckets=4)
    check(evolved, target)
    notes = {r["voucher_id"]: r["note"]
             for r in read_target(spark, evolved).collect()}
    assert len(notes) == 40
    assert [notes[k] for k in ("K1", "K2", "K3", "K90", "K4")] == [
        "n-c", "n-t", "n-x", "n-z", None]

    replaced = str(tmp_path / "replace")
    merge_upsert(spark, replaced, target, key, "seq", n_buckets=4)
    merge_upsert(spark, replaced, batch, key, "seq", n_buckets=4,
                 batch_replaces_touched_buckets=True)
    touched = [r["b"] for r in batch.select(
        _bucket_expr(key, 4).alias("b")).distinct().collect()]
    check(replaced, target.filter(~_bucket_expr(key, 4).isin(touched)))


def test_processed_exact_across_cas_retry(spark, tmp_path):
    """A competing commit between a fire's write and its version check
    makes that merge re-plan and write again; the processed counters
    still equal the branches' distinct valid keys."""
    import threading

    from imp_etl_spark.plans import upsert as U

    queue, voucher, txn = make_frames(spark)
    v_path, t_path = str(tmp_path / "v"), str(tmp_path / "t")
    run_etl(spark, queue, voucher, txn, v_path, t_path)
    # re-entrant: the rebuckets' own commits call the hook as well
    lock, calls = threading.RLock(), {"n": 0, "busy": False}

    def competing_commits():
        with lock:
            if calls["busy"]:
                return  # a rebucket below committing
            calls["n"] += 1
            if calls["n"] == 1:
                calls["busy"] = True
                for p in (v_path, t_path):
                    U.rebucket(spark, p, U.current_n_buckets(p))
                calls["busy"] = False

    U._pre_commit_hook = competing_commits
    try:
        summary = run_etl(spark, queue, voucher, txn, v_path, t_path)
    finally:
        U._pre_commit_hook = None
    assert calls["n"] >= 3  # two branches, at least one retried
    assert summary["processedVoucherCount"] == 3
    assert summary["processedTransactionCount"] == 3
    assert summary["skippedVoucherCount"] == 2
    assert read_target(spark, v_path).count() == 3
    assert read_target(spark, t_path).count() == 3


def test_fire_jobs_run_in_callers_job_group(spark, tmp_path):
    """Every Spark job a fire runs, the warning sample's and the
    watermark's from its thread pool included, carries the caller's
    job group."""
    queue, voucher, txn = make_frames(spark)
    sc = spark.sparkContext
    group = "fire-under-test"
    sc.setJobGroup(group, "run_etl")
    try:
        job0 = _next_job_id(spark)
        run_etl(spark, queue, voucher, txn, str(tmp_path / "v"),
                str(tmp_path / "t"))
        jobs = _next_job_id(spark) - job0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs > 0

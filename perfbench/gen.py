"""Seeded input generators and the expected results the checks compare to.

Everything here is NumPy/pyarrow/pandas only: the expected counts are
computed independently of Spark and of the package under test.

ETL inputs are shaped like the reference's MySQL tables: the work queue
(``etl_logger_voucher``), the 70-column ``voucher`` table and the
32-column ``voucher_transaction`` table, with column names and types
from ``imp_etl_spark.schemas``. The columns the cleanse rules parse as
numbers or dates are VARCHAR-held strings, so unparsable values can
occur. The quirk mix (SURVEY §2.9):

- queue: duplicate refs, NULL and empty refs, NULL ``table``
- entities: NULL and empty key parts (falsy keys), duplicate primary
  keys, refs the queue never names, queue refs with no entity rows
- cleanse targets: mixed-case padded strings, ``'0'``/``'0.00'``/
  ``'12abc'``/empty numbers, ISO+08:00 / slash / garbage dates

Every entity row carries a writer tag (``control_no`` on vouchers,
``batch_id`` on transactions; neither is touched by a cleanse rule), so
a looked-up row tells which source row won the upsert.

The entity sources behave like the reference's MySQL tables: a cron
fire that updates a key replaces that key's row in the source, so each
key has exactly one source version and one expected writer tag. Rows
duplicated within one batch share the batch's tag, so either may win.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from imp_etl_spark import schemas
from imp_etl_spark.functions import cleanse

#: The reference's production queue size (BASELINE.md).
FULL_QUEUE = 156_915

V_TAG = "control_no"
T_TAG = "batch_id"

_WORDS = ("maria", " Juan", "santos ", "dela cruz", "REYES", "bautista",
          "Garcia", "mendoza ", "  torres", "ramos", "Villanueva", "cruz")
_UPPER_VOCAB = list(_WORDS) + ["", None, "   "]
_SEX = ["male", "Female", " MALE ", "M", "unknown", None, "FEMALE", ""]
_NUM = ["12.5", "0", "0.00", "12abc", "", None, "  3.75", "1e3", "0.5",
        "250", "-7.25", "abc", "1,000", "99.99"]
_DATE = ["2024-03-05", "2024-03-05T01:30:00+08:00", "2024/03/05",
         "garbage", None, "", "2023-12-31T23:59:59+08:00", "2024-02-29",
         "2024-13-45", "2025-01-01T00:00:00Z"]
_CAT = ["A", "B", "C", "claimed", "pending", None]


def _ids(prefix: str, ints: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        pa.scalar(prefix), pa.array(ints, pa.int64()).cast(pa.string()), "")


def _pick(rng: np.random.Generator, vocab: list, n: int) -> pa.Array:
    return pa.array(vocab, pa.string()).take(
        pa.array(rng.integers(0, len(vocab), n)))


def _falsify(rng: np.random.Generator, arr: pa.Array, p_null: float,
             p_empty: float) -> pa.Array:
    u = rng.random(len(arr))
    out = pc.if_else(pa.array(u < p_empty), pa.scalar(""), arr)
    return pc.if_else(pa.array(u > 1 - p_null), pa.scalar(None, pa.string()),
                      out)


def _entity_table(rng: np.random.Generator, schema, key0: str,
                  ids: pa.Array, refs: pa.Array, tag: str,
                  tag_col: str, numeric: list[str], dates: list[str],
                  upper: list[str]) -> pa.Table:
    """One entity table with every column of ``schema``: the key columns
    and writer tag as given, cleanse targets with quirks, the rest
    plain typed filler."""
    n = len(ids)
    cols = {}
    for f in schema.fields:
        name, t = f.name, f.dataType.simpleString()
        if name == key0:
            cols[name] = ids
        elif name == "reference_no":
            cols[name] = refs
        elif name == tag_col:
            cols[name] = pa.array(np.full(n, tag, dtype=object), pa.string())
        elif name == "sex":
            cols[name] = _pick(rng, _SEX, n)
        elif name in numeric:
            cols[name] = _pick(rng, _NUM, n)
        elif name in dates:
            cols[name] = _pick(rng, _DATE, n)
        elif name in upper:
            cols[name] = _pick(rng, _UPPER_VOCAB, n)
        elif t in ("int", "bigint"):
            v = rng.integers(0, 18, n)
            cols[name] = pa.array(v, pa.int32() if t == "int" else pa.int64())
        elif t.startswith("timestamp"):
            base = np.datetime64("2024-01-01T00:00:00", "us")
            cols[name] = pa.array(
                base + rng.integers(0, 365 * 86400, n).astype(
                    "timedelta64[s]"))
        else:
            cols[name] = _pick(rng, _CAT, n)
    return pa.table(cols)


def _frame(tbl: pa.Table, k0: str, tag: str) -> pd.DataFrame:
    return pd.DataFrame({"k0": tbl[k0].to_pandas(),
                         "ref": tbl["reference_no"].to_pandas(),
                         "tag": tbl[tag].to_pandas()})


def _valid(f: pd.DataFrame) -> pd.Series:
    """Rows whose key is not falsy (the pipeline skips the others)."""
    return f["k0"].notna() & (f["k0"] != "")


@dataclass
class Batch:
    """One run's inputs plus what the pipeline must report for them."""
    queue: pa.Table
    voucher: pa.Table           # the whole voucher source for this run
    txn: pa.Table               # the whole transaction source
    expected: dict = field(default_factory=dict)
    # key tuple -> the writer tag that must win
    v_written: dict = field(default_factory=dict)
    t_written: dict = field(default_factory=dict)
    # keys this batch updated -> the tag their replaced row carried
    v_replaced: dict = field(default_factory=dict)
    t_replaced: dict = field(default_factory=dict)


class EtlGenerator:
    """Base load plus a sequence of cron-fire deltas over one source.
    Deltas are about 1% of the queue: new ``log_id``s naming a mix of
    new refs (new keys) and existing refs whose rows get a new version
    (updates to existing keys, which replace the old source row)."""

    def __init__(self, seed: int, n_queue: int):
        self.rng = np.random.default_rng(seed)
        self.n_queue = n_queue
        self.next_log = 1
        self.next_ref = 0
        self.next_vid = 0
        self.next_tid = 0
        # the sources as they stand, and their (key, ref, tag) columns
        self.v_src: pa.Table | None = None
        self.t_src: pa.Table | None = None
        self._v = pd.DataFrame(columns=["k0", "ref", "tag"])
        self._t = pd.DataFrame(columns=["k0", "ref", "tag"])
        self.v_state: dict = {}   # key -> expected tag after the last run
        self.t_state: dict = {}
        self._refs_with_rows = np.empty(0, dtype=np.int64)

    # -- building blocks -------------------------------------------------
    def _queue(self, ref_ints: np.ndarray) -> pa.Table:
        rng, n = self.rng, len(ref_ints)
        refs = _falsify(rng, _ids("R", ref_ints), 0.015, 0.007)
        table = _falsify(rng, _pick(rng, ["voucher", "voucher_transaction"],
                                    n), 0.015, 0.0)
        log = np.arange(self.next_log, self.next_log + n, dtype=np.int64)
        self.next_log += n
        return pa.table({"log_id": log, "reference_no": refs,
                         "table": table})

    def _rows(self, ref_ints: np.ndarray, per_ref: list[float],
              key_prefix: str, existing: pd.DataFrame | None
              ) -> tuple[np.ndarray, np.ndarray]:
        """Key ints and ref ints for the rows of ``ref_ints``: a draw of
        new keys per ref (``per_ref`` = P(0), P(1), ...), plus, for refs
        that already have rows, a new version of most of their keys."""
        rng = self.rng
        counts = rng.choice(len(per_ref), size=len(ref_ints), p=per_ref)
        refs = np.repeat(ref_ints, counts)
        nxt = self.next_vid if key_prefix == "V" else self.next_tid
        keys = np.arange(nxt, nxt + len(refs), dtype=np.int64)
        if key_prefix == "V":
            self.next_vid += len(refs)
        else:
            self.next_tid += len(refs)
        if existing is not None and len(existing):
            names = _ids("R", ref_ints).to_pylist()
            old = existing[existing["ref"].isin(names)]
            old = old[old["k0"].notna() & (old["k0"] != "")]
            old = old.drop_duplicates(["k0", "ref"])
            old = old[rng.random(len(old)) < 0.7]
            keys = np.concatenate(
                [keys, old["k0"].str[1:].astype(np.int64).to_numpy()])
            refs = np.concatenate(
                [refs, old["ref"].str[1:].astype(np.int64).to_numpy()])
        # duplicate primary keys within the batch
        dup = rng.random(len(keys)) < 0.005
        return (np.concatenate([keys, keys[dup]]),
                np.concatenate([refs, refs[dup]]))

    def _entities(self, ref_ints: np.ndarray, tag: str,
                  update: bool) -> tuple[pa.Table, pa.Table]:
        rng = self.rng
        vk, vr = self._rows(ref_ints, [0.08, 0.85, 0.07], "V",
                            self._v if update else None)
        tk, tr = self._rows(ref_ints, [0.15, 0.5, 0.25, 0.1], "D",
                            self._t if update else None)
        v = _entity_table(
            rng, schemas.VOUCHER, "voucher_id",
            _falsify(rng, _ids("V", vk), 0.012, 0.006),
            _falsify(rng, _ids("R", vr), 0.002, 0.0), tag, V_TAG,
            cleanse.VOUCHER_NUMERIC_FIELDS, cleanse.VOUCHER_DATE_FIELDS,
            cleanse.VOUCHER_UPPER_FIELDS)
        t = _entity_table(
            rng, schemas.VOUCHER_TRANSACTION, "voucher_details_id",
            _falsify(rng, _ids("D", tk), 0.012, 0.006),
            _falsify(rng, _ids("R", tr), 0.002, 0.0), tag, T_TAG,
            cleanse.TXN_NUMERIC_FIELDS, cleanse.TXN_DATE_FIELDS,
            cleanse.TXN_UPPER_FIELDS)
        return v, t

    @staticmethod
    def _replace(src: pa.Table | None, frame: pd.DataFrame, rows: pa.Table,
                 k0: str, tag: str) -> tuple[pa.Table, pd.DataFrame, dict]:
        """The source with ``rows`` written into it: a source row whose
        (key, ref) a valid new row carries is replaced. Returns the new
        source, its frame and the replaced keys with their old tags."""
        new = _frame(rows, k0, tag)
        ok = _valid(new) & new["ref"].notna()
        keys = set(zip(new["k0"][ok], new["ref"][ok]))
        old_keys = list(zip(frame["k0"], frame["ref"]))
        drop = np.array([k in keys for k in old_keys], dtype=bool)
        replaced = {k: t for k, t, d in zip(old_keys, frame["tag"], drop)
                    if d}
        src = rows if src is None else pa.concat_tables(
            [src.filter(pa.array(~drop)), rows])
        return (src, pd.concat([frame[~drop], new], ignore_index=True),
                replaced)

    def _write(self, batch: Batch, v: pa.Table, t: pa.Table) -> None:
        """Write the batch's entity rows into the sources, then compute
        what one run over its queue must report."""
        self.v_src, self._v, batch.v_replaced = self._replace(
            self.v_src, self._v, v, "voucher_id", V_TAG)
        self.t_src, self._t, batch.t_replaced = self._replace(
            self.t_src, self._t, t, "voucher_details_id", T_TAG)
        batch.voucher, batch.txn = self.v_src, self.t_src
        q = batch.queue.to_pandas()
        clean = q[q["reference_no"].notna() & (q["reference_no"] != "")
                  & q["table"].notna()]
        keys = set(clean["reference_no"])
        exp = {}
        for name, src, state, written in (
                ("Voucher", self._v, self.v_state, batch.v_written),
                ("Transaction", self._t, self.t_state, batch.t_written)):
            rows = src[src["ref"].isin(keys)]
            bad = ~_valid(rows)
            u = rows[~bad].drop_duplicates(["k0", "ref", "tag"])
            # one source version per key: duplicates within a batch
            # share its tag, and an update replaced the older row
            if u.duplicated(["k0", "ref"]).any():
                raise AssertionError("a key has two source versions")
            written.update(zip(zip(u["k0"], u["ref"]), u["tag"]))
            state.update(written)
            exp[f"processed{name}Count"] = len(written)
            exp[f"skipped{name}Count"] = int(bad.sum())
            exp[f"missing{name}"] = sorted(keys - set(rows["ref"]))
            exp[f"table{name}Keys"] = len(state)
        batch.expected = exp

    # -- public ----------------------------------------------------------
    def base(self) -> Batch:
        """The full load: ``n_queue`` queue rows over ~96% distinct refs,
        entity rows for most of them, and orphan entity rows for refs the
        queue never names."""
        rng, n = self.rng, self.n_queue
        n_refs = int(n * 0.96)
        refs = np.arange(n_refs, dtype=np.int64)
        self.next_ref = n_refs + n_refs // 20
        q_refs = np.concatenate([refs, rng.choice(refs, n - n_refs)])
        rng.shuffle(q_refs)
        orphans = np.arange(n_refs, self.next_ref, dtype=np.int64)
        v, t = self._entities(np.concatenate([refs, orphans]), "B", False)
        b = Batch(self._queue(q_refs), v, t)
        self._write(b, v, t)
        self._refs_with_rows = refs
        return b

    def fire(self, i: int) -> Batch:
        """Cron-fire delta ``i``: ~1% of the queue, 60% new refs and 40%
        existing refs whose keys get new versions (plus a few new keys)."""
        rng = self.rng
        n = max(8, self.n_queue // 100)
        n_new = int(n * 0.6)
        new = np.arange(self.next_ref, self.next_ref + n_new, dtype=np.int64)
        self.next_ref += n_new
        old = rng.choice(self._refs_with_rows, n - n_new, replace=False)
        tag = f"F{i:03d}"
        v_new, t_new = self._entities(new, tag, False)
        v_upd, t_upd = self._entities(old, tag, True)
        v = pa.concat_tables([v_new, v_upd])
        t = pa.concat_tables([t_new, t_upd])
        b = Batch(self._queue(rng.permutation(np.concatenate([new, old]))),
                  v, t)
        self._write(b, v, t)
        self._refs_with_rows = np.concatenate([self._refs_with_rows, new])
        return b


def write_batch(b: Batch, root: str, name: str) -> dict[str, str]:
    """Write a batch's three tables as parquet files under ``root``."""
    os.makedirs(root, exist_ok=True)
    out = {}
    for part, tbl in (("queue", b.queue), ("voucher", b.voucher),
                      ("txn", b.txn)):
        out[part] = os.path.join(root, f"{part}_{name}.parquet")
        pq.write_table(tbl, out[part])
    return out

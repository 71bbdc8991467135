"""Seeded randomized differential fuzzer: generate a dirty-but-in-domain
random fixture for every table, run ALL oracle-backed registry queries on
Spark AND DuckDB over it, and report any row-count/value mismatch or
crash.

The curated adversarial suites (tests/test_adversarial_*.py) pin the
KNOWN degenerate classes; this tool hunts unknown-unknowns by random
composition — random null placement, random unicode, random FK validity
mix, random cardinalities (including empty tables). Values stay inside
the documented numeric domain (SEMANTICS.md): finite, |value| <= 1e9.

Usage (repo root):
    PYTHONPATH=. python tools/fuzz_differential.py --seeds 1 2 3

Exit code 1 if any seed produced a mismatch. Each finding should become
a curated case in the adversarial suites once fixed.
"""

from __future__ import annotations

import argparse
import datetime
import math
import os
import random
import shutil
import sys
import tempfile

from imp_etl_spark import schemas
from imp_etl_spark.session import get_spark

# Word pool: stays inside the engine-portable case-mapping set
# (SEMANTICS.md) — do NOT add U+0130, Greek capitals, ß, Latin
# ligatures or other chars whose JVM full case mapping differs from
# utf8proc's simple mapping; lower()/upper() would diverge from the
# DuckDB oracle by ENGINE design, not by an engine bug of ours.
WORDS = ["the", "quick", "brown", "fox", "data", "pipeline", "spark",
         "query", "森林", "数据", "حقل", "naïve", "café", "🎉", "x" * 50,
         "", "a​b", "line\nbreak", "tab\tsep", "quote\"d", "O'Neil"]
LANGS = ["en", "de", "fr", "es", "zh", "ar", "und", None]
SOURCES = ["web", "books", "code", "wiki", None, ""]
ETYPES = ["click", "purchase", "signup", "view", None, ""]


#: Whitespace-only texts beyond plain spaces (ADVICE r6): trim() strips
#: only ASCII 0x20 while tokens() splits on \s+, so tab/newline-only
#: docs are exactly the class where a trim-based zero-shingle filter
#: diverges from the oracle's UNNEST. Restricted to chars BOTH Java
#: regex and RE2 class as \s ( \t \n \r \f ) — \x0B and U+3000 are
#: engine-divergent regex classes, not fixture material.
WS_ONLY = ["\t", "\n", "\r", "\f", "\t\t", " \t", "\n\n", " \t\n\r ",
           "\t \t", "\r\n"]

#: Quantization-tie bait (VERDICT r7 item 3, the seed-224 class):
#: quality_score composes ratios of SMALL INTEGER counts (char length /
#: 500, stopwords / tokens, punct / chars), which land on exact 7-digit
#: decimal ties at a rate arbitrary prose never does — seed 224's
#: 0.5051625 came from exactly such a ratio. This pool builds short
#: texts from stopwords, tiny words and punctuation so those counts
#: stay small and commensurable, concentrating draws near the
#: floor(x*1e6+0.5) tie boundaries on every engine-pair run.
RATIO_WORDS = ["the", "of", "and", "a", "in", "is", "it",
               "fox", "run", "data", "x", "xy", "xyz",
               ".", ",", "!", "?", ";", "..", "a.", "the."]


def _ratio_text(rng: random.Random) -> str:
    return " ".join(rng.choice(RATIO_WORDS)
                    for _ in range(rng.randint(1, 25)))


def _text(rng: random.Random) -> str | None:
    r = rng.random()
    if r < 0.05:
        return None
    if r < 0.10:
        return ""
    if r < 0.13:
        return " " * rng.randint(1, 5)
    if r < 0.16:
        return rng.choice(WS_ONLY)
    n = rng.randint(1, 60)
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _val(rng: random.Random) -> float | None:
    r = rng.random()
    if r < 0.08:
        return None
    if r < 0.16:
        return 0.0
    # boundary-free values: 2-decimal "money" magnitudes (or exact
    # powers of ten for the small range) never sit on a .5 quantization
    # tie at any scale the engine uses (2/3/6), so the documented
    # cross-engine quantization caveat (SEMANTICS.md — a double within
    # one binary ulp of a tie rounds ±1 unit apart, ~1/4000 arbitrary
    # values, and the offset cascades into rank/cumshare space) cannot
    # produce fixture artifacts here. Real telemetry/money is 2dp.
    if r < 0.25:
        mag = 10.0 ** rng.randint(-6, -1)
    else:
        mag = round(10 ** rng.uniform(0, 9), 2)
    return rng.choice([1, -1]) * mag


def _ts(rng: random.Random):
    if rng.random() < 0.05:
        return None
    # span a YEAR BOUNDARY (2023-12-01 .. ~2024-03-30): week/month/year
    # truncation and extraction behave convention-dependently exactly
    # there, and a Jan-anchored window never exercised it
    base = datetime.datetime(2023, 12, 1)
    return base + datetime.timedelta(seconds=rng.randint(0, 120 * 86400))


def gen_fixture(spark, rng: random.Random, d: str, scale: int = 1,
                hot: bool = False, edge: bool = False,
                embhot: bool = False) -> None:
    # scale > 1 ("big seeds"): every LIMIT/OFFSET/cap boundary in the
    # registry is dead code at the default cardinalities — the paginated
    # scan pages at offset=100/limit=200 over <=80 orders, the top-100 /
    # top-50 cuts never truncate, and the LSH max_bucket=256 cap never
    # engages. Multiplying cardinalities (while KEEPING the small tie
    # pools, so the tie mass grows with n) pushes heavy tie groups
    # straight onto those cut boundaries — exactly where an engine pair
    # without a total-order tie-break would diverge.
    n_region = rng.randint(0, 4)
    n_nation = rng.randint(0, 6)
    n_cust = rng.randint(0, 40 * scale)
    n_supp = rng.randint(0, 8 * scale)
    n_part = rng.randint(0, 20 * scale)
    n_ord = rng.randint(0, 80 * scale)
    n_docs = rng.randint(0, 60 * scale)
    n_emb = rng.randint(0, 40 * scale)
    n_ev = rng.randint(0, 150 * scale)
    dim = 64

    region = [(i, rng.choice(WORDS)) for i in range(n_region)]
    nation = [(i, rng.choice(WORDS), rng.randint(0, max(n_region, 1)))
              for i in range(n_nation)]
    customer = [(i + 1, f"Customer#{i}", rng.randint(0, max(n_nation, 1)),
                 _val(rng), rng.choice(["BUILDING", "AUTOMOBILE", "", None]))
                for i in range(n_cust)]
    supplier = [(i + 1, rng.choice(WORDS), rng.randint(0, max(n_nation, 1)),
                 _val(rng)) for i in range(n_supp)]
    part = [(i + 1, _text(rng), f"B{i % 5}", f"TYPE {i % 3}",
             rng.randint(-5, 200), _val(rng)) for i in range(n_part)]
    # TIE POOLS: ranking/ordering bugs only surface when distinct rows
    # COLLIDE on the sort metric (fuzz seed 30's null-rank finding was
    # exactly an ordering-class bug) — purely random draws almost never
    # tie, so a slice of every metric/timestamp draw comes from a small
    # shared pool. Every query must already be tie-proof (deterministic
    # tie-break keys); a divergence here is a real bug, not fixture
    # noise.
    val_pool = [v for v in (_val(rng) for _ in range(6)) if v is not None]
    ts_pool = [t for t in (_ts(rng) for _ in range(6)) if t is not None]

    def _pval(rng):
        if val_pool and rng.random() < 0.30:
            return rng.choice(val_pool)
        return _val(rng)

    def _pts(rng):
        if ts_pool and rng.random() < 0.30:
            return rng.choice(ts_pool)
        return _ts(rng)

    # HOT-KEY MODE (round 8, --hotkey; seed namespace 3001+): the r8
    # skew rewrites (seq_lag / asof range+carry / chunked resample /
    # rank prefix sums) changed the physical shape of every per-key
    # sequential operator, but the standard generator draws user_id /
    # custkey nearly uniformly, so no fuzz fixture ever concentrated a
    # key the way the machinery exists for. Under hot=True one user
    # holds ~70% of events (and one customer ~70% of orders) with a
    # 10% null-user mass riding along — combined with the tie pools
    # this piles same-instant bursts onto ONE key's ordered history,
    # exactly the boundary-carry paths the rewrites added. Flag-gated
    # so existing seed streams stay byte-reproducible.
    # hot-only draws are GUARDED so the hot=False rng-call sequence is
    # byte-identical to the pre-hotkey generator: standard seeds keep
    # regenerating their exact fixtures (the r8 advice flagged
    # unguarded stream drift on the dangling-FK change; not repeating
    # that)
    # EDGE MODE (round 9, --edge; seed namespace 4001+): the class r8's
    # machinery CREATED — a hot key whose rows straddle range-partition
    # edges with DUPLICATE order-column values adjacent to the edge.
    # seq_lag's uniqueness contract (satisfied by the consumers' id
    # tie-breaks, not by distinct timestamps), asof's carry chain and
    # group_rank's offset join all have edge logic exactly there; the
    # r8 --hotkey class concentrated keys but drew near-distinct
    # timestamps, so a partition cut almost never fell INSIDE a run of
    # equal order values. Under edge=True the hot user's events (and
    # the null-user mass, itself a real seq_lag group) draw timestamps
    # from a 3-instant pool, and the hot customer's order dates
    # likewise (customer_order_gaps lags o_orderdate) — with 32 range
    # partitions over the hot key's run, every cut lands in a tie
    # burst. edge implies the hot concentration. All new draws are
    # flag-guarded: hot/standard streams stay byte-identical.
    hot = hot or edge
    hot_user = rng.randint(1, 29) if hot else None
    hot_cust = rng.randint(1, max(n_cust, 1)) if hot else None
    edge_ts = edge_dates = None
    if edge:
        edge_ts = [t for t in (_ts(rng) for _ in range(8))
                   if t is not None][:3] \
            or [datetime.datetime(2024, 1, 15)]
        edge_dates = [t for t in (_ts(rng) for _ in range(8))
                      if t is not None][:3] \
            or [datetime.datetime(2024, 1, 20)]

    def _uid(rng):
        if not hot:
            return rng.choice([None] + list(range(1, 30)))
        r = rng.random()
        if r < 0.70:
            return hot_user
        if r < 0.80:
            return None
        return rng.randint(1, 29)

    def _ck(rng):
        if hot and rng.random() < 0.70:
            return hot_cust
        return rng.randint(1, max(n_cust, 1) + 2)

    def _src(rng):
        # hot documents source: one source holding ~70% of docs is the
        # giant-group shape the r8 rank rewrites (group_rank /
        # percentile prefix sums) and the cap/shard WindowGroupLimit
        # tier exist for
        if hot and rng.random() < 0.70:
            return "web"
        return rng.choice(SOURCES)

    # fact-side FK draws overshoot the dim key range by 2: the fixture
    # class "dangling reference" (order -> missing customer, lineitem ->
    # missing part/supplier) otherwise occurs ONLY on empty-dim seeds,
    # leaving the anti-join / missing-reference guards under-fuzzed —
    # the region/nation level already had this mix, the fact level
    # didn't (gap found in r7)
    orders, lineitem = [], []
    for i in range(n_ord):
        ok = i + 1
        odate = _pts(rng)
        ck = _ck(rng)
        if edge and ck == hot_cust and rng.random() < 0.85:
            odate = rng.choice(edge_dates)
        orders.append((ok, ck,
                       rng.choice(["O", "F", "P", "", None]), _pval(rng),
                       odate, rng.choice(["1-URGENT", "5-LOW", "", None])))
        for ln in range(1, rng.randint(1, 4)):
            lineitem.append((ok, rng.randint(1, max(n_part, 1) + 2),
                             rng.randint(1, max(n_supp, 1) + 2), ln,
                             _pval(rng), _pval(rng),
                             rng.choice([0.0, 0.05, 0.1, 0.5, 1.0]),
                             rng.choice([0.0, 0.08]),
                             rng.choice(["A", "N", "R", "", None]),
                             rng.choice(["O", "F", "", None]),
                             _pts(rng)))
    # document dup injection: exact copies and one-word mutations of
    # earlier docs drive the dedup/fingerprint/jaccard tiers with REAL
    # collisions (random word soup almost never repeats a text)
    documents = []
    for i in range(n_docs):
        r = rng.random()
        if documents and r < 0.12:
            text = rng.choice(documents)[1]  # exact duplicate
        elif documents and r < 0.20:
            src = rng.choice(documents)[1]   # near duplicate
            toks = (src or "").split(" ")
            if toks:
                toks[rng.randrange(len(toks))] = rng.choice(WORDS)
            text = " ".join(toks)
        elif r < 0.32:
            text = _ratio_text(rng)  # small-integer-ratio tie bait
        else:
            text = _text(rng)
        documents.append((i + 1, text, rng.choice(LANGS),
                          _src(rng), rng.randint(0, 10000)))
    # EMBEDDINGS-HOT MODE (round 9, --embhot; seed namespace 5001+):
    # all-near-identical vectors — ~80% of the table is one base vector
    # or a 1e-3 perturbation of it, so the ENTIRE mass lands in ONE SRP
    # bucket / ONE IVF cell with razor-thin cosine margins and heavy
    # exact ties. The r8 hotkey generator never reached the similarity
    # tier (its duplicate-vector rate is 10% and uncorrelated); this is
    # the similarity-tier analogue of a bot key: bucket caps, top-k
    # tie-breaks and the brute/LSH/IVF candidate sets all get their
    # degenerate single-bucket shape. Draws are flag-guarded as above.
    emb_base = [rng.uniform(-1, 1) for _ in range(dim)] if embhot else None
    embeddings = []
    for i in range(n_emb):
        r = rng.random()
        if r < 0.05:
            vec = None
        elif r < 0.10:
            vec = [0.0] * dim
        elif embeddings and r < 0.20 and embeddings[-1][1] is not None:
            vec = list(embeddings[-1][1])  # duplicate vector: cosine ties
        elif embhot and r < 0.30:
            vec = list(emb_base)           # exact hot duplicate
        elif embhot and r < 0.90:
            vec = [b + rng.uniform(-1e-3, 1e-3) for b in emb_base]
        else:
            vec = [rng.uniform(-1, 1) for _ in range(dim)]
        embeddings.append((i + 1, vec, rng.randint(0, 3)))
    # props pool stays inside the engine-AGREED JSON region
    # (SEMANTICS.md "JSON"): strictly-valid syntax, integer-literal /
    # absent / null / non-scalar k. Quoted numbers, floats, bools,
    # exponents, duplicate keys and single quotes extract DIFFERENTLY
    # by engine design (typed Jackson vs coercing TRY_CAST) — pinned in
    # test_adversarial_events, not fixture material.
    events = []
    for i in range(n_ev):
        ts = _pts(rng)
        uid = _uid(rng)
        if edge and (uid == hot_user or uid is None) \
                and rng.random() < 0.85:
            ts = rng.choice(edge_ts)
        events.append((i + 1, ts, uid,
                       rng.choice(ETYPES), _pval(rng),
                       rng.choice(['{"k": 1}', '{"k": 2, "u": "x"}', "{}",
                                   "[]", "garbage", "", None,
                                   ' {"k":4} ', '{"K": 3}', '{"k": [1,2]}',
                                   '{"k": null}', '{"k": 2147483648}',
                                   '{"k": 9999999999999999999}'])))

    data = {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "documents": documents,
            "embeddings": embeddings, "events": events}
    for name, rows in data.items():
        spark.createDataFrame(rows, schemas.FIXTURE_TABLES[name]) \
            .write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9) + 0.0
    return v


def _rows(recs):
    return sorted(
        [tuple(_norm(v) for v in r) for r in recs],
        key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


def _close(a, b) -> bool:
    """Equality modulo the DOCUMENTED quantization caveat (SEMANTICS.md):
    a computed double sitting within one binary ulp of a .5 tie may
    quantize one decimal unit apart between engines (~1/4000 values).
    Micro/cent integer columns may therefore differ by 1 at large
    magnitude, and doubles derived from them by the relative epsilon of
    one unit-in-the-last-quantum. Anything beyond that is a real bug."""
    if a == b:
        return True
    if isinstance(a, bool) or isinstance(b, bool):
        return False
    if isinstance(a, int) and isinstance(b, int):
        return abs(a - b) <= 1 and max(abs(a), abs(b)) >= 10 ** 6
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-9 + 3e-9 * max(abs(a), abs(b))
    return False


def _rows_match(sn, dn) -> list:
    return [(a, b) for a, b in zip(sn, dn)
            if len(a) != len(b) or not all(_close(x, y)
                                           for x, y in zip(a, b))]


def run_seed(spark, seed: int, workers: int = 8,
             scale: int = 1, hot: bool = False, edge: bool = False,
             embhot: bool = False) -> list[tuple]:
    import duckdb

    from imp_etl_spark.queries import REGISTRY

    rng = random.Random(seed)
    d = tempfile.mkdtemp(prefix=f"sf_fuzz_{seed}_")
    try:
        gen_fixture(spark, rng, d, scale=scale, hot=hot, edge=edge,
                    embhot=embhot)
        con = duckdb.connect()
        for t in schemas.FIXTURE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{d}/{t}.parquet/*.parquet', "
                "hive_partitioning=false)")
        # documented oracle deviation (SEMANTICS.md, fuzzy_part_pairs
        # docstring): the engine's edit distance is character-based,
        # DuckDB's levenshtein counts bytes on multibyte/zero-width
        # input — checked by direct assertion in the curated suite
        skip = {"fuzzy_part_pairs", "snm_part_pairs"}
        items = [(name, fn, sql) for name, (fn, sql) in REGISTRY.items()
                 if sql is not None and name not in skip]

        # Concurrent checking: the per-query cost on a tiny fuzz fixture
        # is dominated by job-scheduling latency, not compute, so a small
        # thread pool overlaps it (Spark job submission is thread-safe;
        # the dedup tier's shared-artifact memo is lock-serialized for
        # exactly this caller shape). Each worker gets its own DuckDB
        # cursor — cursors share the connection's view catalog.
        def _check(item):
            name, fn, sql = item
            cur = con.cursor()
            try:
                sdf = fn(spark, d)
                rel = cur.sql(sql)
                dcols = [c.lower() for c in rel.columns]
                srows = [tuple(r.asDict()[c] for c in dcols)
                         for r in sdf.collect()]
                drows = [tuple(r) for r in rel.fetchall()]
                if len(srows) != len(drows):
                    return (name, "rowcount", len(srows), len(drows))
                sn, dn = _rows(srows), _rows(drows)
                mm = _rows_match(sn, dn)
                if mm:
                    return (name, "values", repr(mm[0])[:200], "")
                return None
            except Exception as exc:  # noqa: BLE001 — report, keep going
                return (name, "error", type(exc).__name__,
                        str(exc).splitlines()[0][:140] if str(exc) else "")
            finally:
                cur.close()

        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=workers) as pool:
            return [r for r in pool.map(_check, items) if r is not None]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1])
    ap.add_argument("--workers", type=int, default=8)
    ap.add_argument("--scale", type=int, default=1,
                    help="cardinality multiplier: >1 engages the "
                         "LIMIT/OFFSET/cap boundaries (big seeds)")
    ap.add_argument("--hotkey", action="store_true",
                    help="concentrate ~70%% of events on one user, ~70%% "
                         "of orders on one customer, and ~70%% of docs "
                         "on one source (skew class for the r8 "
                         "range+carry and rank-prefix machineries)")
    ap.add_argument("--edge", action="store_true",
                    help="hot-key concentration PLUS tie-burst order "
                         "columns: the hot user's event timestamps and "
                         "the hot customer's order dates draw from a "
                         "3-instant pool, so range-partition cuts land "
                         "inside runs of duplicate order values — the "
                         "seq_lag/asof/group_rank edge-logic class")
    ap.add_argument("--embhot", action="store_true",
                    help="~80%% of embedding vectors are one base "
                         "vector or a 1e-3 perturbation of it — the "
                         "single-SRP-bucket / single-IVF-cell class "
                         "for the similarity tier")
    ap.add_argument("--lag-mode", choices=("auto", "window", "seq"),
                    default="auto",
                    help="set window.LAG_MODE: 'seq' on "
                         "STANDARD (near-uniform) fixtures drives "
                         "seq_lag's multi-key carry chain — many short "
                         "keys straddling each range-partition edge, "
                         "the opposite degenerate shape from --edge's "
                         "one hot key (seed namespace 901+)")
    ap.add_argument("--row-floor", type=int, default=None,
                    help="set window.LAG_ROW_FLOOR: '0' makes the r10 "
                         "metadata row-count floor prove nothing, so "
                         "auto-mode dispatch PROBES even tiny fuzz "
                         "fixtures (floor-off) instead of taking the "
                         "window fast path (floor-on, the default) — "
                         "the two runs must be value-identical vs the "
                         "oracle (seed namespace 1101+)")
    ap.add_argument("--trailing-hotrows", type=int, default=None,
                    help="set window.TRAILING_HOT_ROWS: "
                         "a SMALL value (e.g. '200') makes random fuzz "
                         "fixtures cross the trailing-RANGE seq "
                         "trigger, driving the r11 footer-DERIVED "
                         "probe support (0.5*hotRows/footer_bound) and "
                         "the prefix-difference seq shape under random "
                         "data — both value-checked vs the oracle "
                         "(seed namespace 6001+)")
    args = ap.parse_args()
    spark = get_spark("fuzz-differential")
    spark.sparkContext.setLogLevel("FATAL")
    from imp_etl_spark.operators import window

    window.LAG_MODE = args.lag_mode
    if args.row_floor is not None:
        window.LAG_ROW_FLOOR = args.row_floor
    if args.trailing_hotrows is not None:
        window.TRAILING_HOT_ROWS = args.trailing_hotrows
    failed = False
    for seed in args.seeds:
        bad = run_seed(spark, seed, workers=args.workers,
                       scale=args.scale, hot=args.hotkey,
                       edge=args.edge, embhot=args.embhot)
        print(f"seed {seed}: {'CLEAN' if not bad else f'{len(bad)} findings'}")
        for b in bad:
            print("  " + " | ".join(str(x) for x in b))
        failed = failed or bool(bad)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

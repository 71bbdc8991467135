"""Seeded randomized differential as a regression test: the four
finding-bearing seeds of tools/fuzz_differential.py (random dirty-but-in-domain
fixtures, all oracle-backed queries compared Spark-vs-DuckDB
value-for-value, modulo the documented quantization tolerance).
Deterministic per generator VERSION: each seed reproduces its fixture
exactly for as long as the generator code is unchanged, but the
generator stream has evolved (r7 added the dangling-FK overshoot, r8
the small-integer-ratio quality pool), so the pinned seeds below no
longer regenerate the fixtures that ORIGINALLY exposed their findings.
That is fine for what the pins are — diverse randomized-fixture
differentials holding the whole oracle surface green — because every
historical finding ALSO has a curated deterministic regression that
survives generator drift: seed 30 (pareto null-rank) and seed 88
(zero-total cumulative share) in test_adversarial_tpch.py, seed 36
(grouping-sets global row on empty input) in test_empty_inputs.py,
seed 224 (exact 6dp quantization tie) in test_quantize.py, seed 501
(null-keyed group dropped by group_rank's offset equi-join, round 8 —
caught the SAME DAY the operator landed, before any driver round) in
test_behavior.py::TestGroupRank. Pin policy
per VERDICT r6 item 7: every finding-bearing seed joins the pins,
capped to hold the suite inside the 20 min budget (the ad-hoc
campaign has run 300+ seeds clean per round).

Ad-hoc exploration runs more seeds:
    PYTHONPATH=. python tools/fuzz_differential.py --seeds 1 2 3 ...
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "tools")


@pytest.mark.parametrize("seed", [30, 36, 88, 224, 501, 713])
def test_randomized_differential_seed_is_clean(spark, seed):
    # seeds 30, 36 and 88 are the round-6 finding-bearers (pareto
    # null-rank ordering; grouping-sets global row on empty input;
    # zero-total cumulative share under the tie-heavy generator);
    # seed 224 is the round-7 finding-bearer (quality_score landed on
    # an EXACT 6dp rounding tie, 0.5051625, where Spark's BigDecimal
    # half-up and DuckDB's scaled-double round diverge — the score now
    # quantizes via IEEE floor(x*1e6+0.5), identical on both engines)
    # — pinned so the fixes regress loudly. Seed 713 is the round-10
    # finding-bearer (ewma_unbounded_user's 1e-3 absolute rounding
    # grid straddled by scan error at fuzzer magnitudes — the oracle
    # is now bit-exact via the chunk_size=1 fold; curated regression
    # in test_recurrence.py).
    # Round 8 consolidation (VERDICT r7 item 7 — profile & consolidate
    # before adding): the two never-finding placeholder seeds 1 and 3
    # (~80 s/run combined) are dropped; they were the same differential
    # machinery on two more random fixtures, coverage the per-round
    # ad-hoc campaign provides at 50x the volume (300+ seeds/round,
    # COVERAGE.md), while every HISTORICAL finding keeps both its
    # finding-bearing seed here and a curated generator-drift-proof
    # regression (module docstring).
    from fuzz_differential import run_seed

    # workers=16: the per-query cost on a tiny fixture is Spark
    # job-submission latency, and the suite runs tests sequentially so
    # the threads have the machine to themselves — measured ~12% faster
    # per seed than the tool's default 8, keeping six pins inside the
    # suite budget
    bad = run_seed(spark, seed, workers=16)
    assert not bad, f"seed {seed}: {bad[:5]}"


def test_randomized_differential_seed919_forced_seq_is_clean(spark,
                                                            monkeypatch):
    """Round-10 finding-bearer, forced-seq class: seeds 919-924 all
    caught rolling_24h_user_value's seq shape mishandling NULL values
    (a prefix DIFFERENCE cannot distinguish "no values in frame" from
    "values summing to zero", and NULL partials poisoned the running
    totals). Fixed by carrying the non-null count as its own prefix
    and coalescing sum partials; curated regression (all-NULL key) in
    test_skew.py. Pinned under the same forced mode that surfaced it."""
    from fuzz_differential import run_seed

    from imp_etl_spark.operators import window

    monkeypatch.setattr(window, "LAG_MODE", "seq")
    bad = run_seed(spark, 919, workers=16)
    assert not bad, f"seed 919 (forced seq): {bad[:5]}"

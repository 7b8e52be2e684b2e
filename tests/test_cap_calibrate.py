"""Cap-calibration pre-flight (r13, VERDICT r12 #1).

The simhash default cap is calibrated never to bind at the oracle-gate
scales, but on low-entropy (boilerplate/perturbed-clone) corpora it BINDS
and the registered query would emit a capped subset. The pre-flight makes
that boundary self-announcing: one linear groupBy per pigeonhole front,
then proceed-exact (default cap proven not to bind, or the cheapest
complete geometry run uncapped within a pair budget) or refuse with the
measured boundary in the error — never a silent 49%-recall answer.

These tests drive a crafted LOW-ENTROPY fixture (perturbed clones of one
base sentence — every doc lands in the same chunk buckets) through the
shared pre-flight (``calibrate.preflight`` over the simhash chunks and
combos fronts) and pin all three decisions plus the measurement
arithmetic fixes (NULL-safe aggregates on degenerate corpora, integer
pair counts).
"""

from __future__ import annotations

import logging

import pytest

from video_data_pipeline_spark.calibrate import (
    CapBoundError,
    measure_front,
    preflight,
)
from video_data_pipeline_spark.queries.dedup import (
    DEFAULT_SIMHASH_MAX_BUCKET_SIZE,
    chunk_keys,
    combo_keys,
    exact_dup_representatives,
    pigeonhole_front,
    q_simhash_near_pairs,
    simhash_near_pairs_capped,
    simhash_signatures,
)

SF_DIR = "/root/testdata/sf0.001"


def _simhash_preflight(docs, cap, default=DEFAULT_SIMHASH_MAX_BUCKET_SIZE, **kw):
    """The registered simhash pre-flight over an in-memory corpus:
    (plan, the rep-level signature frame the join then consumes)."""
    sig = simhash_signatures(exact_dup_representatives(docs))
    fronts = {
        "chunks": lambda: pigeonhole_front(chunk_keys(sig)),
        "combos": lambda: pigeonhole_front(combo_keys(sig)),
    }
    return preflight("simhash", fronts, cap, default, **kw), sig

@pytest.fixture(scope="module")
def low_entropy_docs(spark):
    """40 rotations of one 60-word sentence: distinct content (so rep
    collapse keeps all 40) but the distinct-WORD-SET — hence the simhash —
    is identical, so every chunk bucket holds all 40 docs. This is the
    boilerplate-clique shape (reordered/templated near-copies) that makes
    the default cap bind on real crawls."""
    words = [f"word{i:03d}" for i in range(60)]
    rows = [
        (i, " ".join(words[i:] + words[:i]))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_no_bind_keeps_registered_default(spark, low_entropy_docs):
    # with the production cap (2048 >> 40 docs) nothing binds: the plan is
    # the registered default and only the chunks front was measured
    plan, _ = _simhash_preflight(low_entropy_docs, DEFAULT_SIMHASH_MAX_BUCKET_SIZE)
    assert plan.decision == "default"
    assert plan.geometry == "chunks"
    assert plan.max_bucket_size == DEFAULT_SIMHASH_MAX_BUCKET_SIZE
    assert not plan.stats["chunks"].binds
    assert "combos" not in plan.stats


def test_bind_within_budget_auto_selects_exact_plan(spark, low_entropy_docs, caplog):
    # force the bind with a small cap: the pre-flight must announce it and
    # pick an UNCAPPED complete geometry whose workload fits the budget
    with caplog.at_level(logging.WARNING, "video_data_pipeline_spark.calibrate"):
        plan, _ = _simhash_preflight(low_entropy_docs, 8, 8, pair_budget=10**6)
    assert plan.decision == "exact_uncapped"
    assert plan.max_bucket_size is None
    assert plan.stats["chunks"].binds
    assert plan.stats["chunks"].max_bucket > 8
    # the engine NAMES the bind (not a silent capped subset)
    assert any("BINDS" in r.message for r in caplog.records)
    assert any(str(plan.stats["chunks"].max_bucket) in r.message for r in caplog.records)


def test_calibrated_output_is_oracle_exact_when_cap_would_bind(
    spark, low_entropy_docs
):
    # the capped default on this corpus is a strict subset; the calibrated
    # path must instead equal the uncapped (oracle) answer row-for-row
    capped = _rows(simhash_near_pairs_capped(low_entropy_docs, max_bucket_size=8))
    exact = _rows(simhash_near_pairs_capped(low_entropy_docs, max_bucket_size=None))
    assert len(capped) < len(exact), "fixture must actually bind the cap"
    plan, sig = _simhash_preflight(low_entropy_docs, 8, 8, pair_budget=10**6)
    calibrated = _rows(
        simhash_near_pairs_capped(
            low_entropy_docs, max_bucket_size=plan.max_bucket_size,
            geometry=plan.geometry, signatures=sig,
        )
    )
    assert calibrated == exact


def test_bind_over_budget_refuses_by_name(spark, low_entropy_docs):
    with pytest.raises(CapBoundError) as ei:
        _simhash_preflight(low_entropy_docs, 8, 8, pair_budget=10)
    msg = str(ei.value)
    assert "BINDS" in msg
    assert "pair_budget=10" in msg
    assert "max_bucket_size=None" in msg  # the documented escapes are named
    assert "partial recall" in msg
    # the measurements ride along for artifacts/operators — every
    # measured front, not just the first
    assert ei.value.stats["chunks"].oversized > 0
    assert ei.value.stats["chunks"].uncapped_pairs > 10
    assert ei.value.stats["combos"].uncapped_pairs > 10


def test_registered_calibrate_knob_matches_default_on_standard_fixture(spark):
    # on a fixture where the default cap has headroom, calibrate=True is a
    # no-op on the output (decision: default) — one linear agg of insurance
    base = _rows(q_simhash_near_pairs(spark, SF_DIR))
    calibrated = _rows(q_simhash_near_pairs(spark, SF_DIR, calibrate=True))
    assert calibrated == base


def test_measure_front_null_safe_on_empty_corpus(spark):
    # ADVICE r12: NULL max/p99/sums on an empty front raised TypeError
    empty = spark.createDataFrame([], "key string")
    s = measure_front(empty, 64, "empty")
    assert (s.n_buckets, s.max_bucket, s.p99_bucket) == (0, 0, 0)
    assert (s.uncapped_pairs, s.capped_pairs) == (0, 0)
    assert not s.binds


def test_measure_front_integer_pair_arithmetic(spark):
    # ADVICE r12: pair counts must be integral (n*(n-1) div 2), not a
    # float product cast back to long
    keys = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)], "key string"
    )
    s = measure_front(keys, 4, "toy")
    assert s.n_buckets == 3
    assert s.max_bucket == 5
    assert s.oversized == 1
    assert s.uncapped_pairs == 10 + 3 + 0
    assert s.capped_pairs == 6 + 3 + 0  # bucket a capped 5 -> 4
    assert isinstance(s.uncapped_pairs, int)


def test_explicit_uncapped_request_skips_preflight(
    spark, low_entropy_docs, monkeypatch, tmp_path
):
    # ADVICE r13: calibrate + an EXPLICIT max_bucket_size=None used to map
    # None back to the default cap, so the pre-flight could refuse with
    # advice to "pass max_bucket_size=None" — the thing already passed.
    # Explicit None now means the caller chose the uncapped exact join:
    # no pre-flight, no measurement, no possible refusal, even with a
    # hostile budget.
    from video_data_pipeline_spark import calibrate

    calls = []
    monkeypatch.setattr(calibrate, "preflight", lambda *a, **kw: calls.append(a))
    low_entropy_docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = _rows(
        q_simhash_near_pairs(
            spark, str(tmp_path), max_bucket_size=None, calibrate=True,
            pair_budget=1,
        )
    )
    assert calls == []  # nothing was measured
    exact = _rows(simhash_near_pairs_capped(low_entropy_docs, max_bucket_size=None))
    assert got == exact


def test_registered_calibrate_with_explicit_none_runs_uncapped(spark):
    # the registered-query spelling of the same contract: calibrate=True +
    # max_bucket_size=None must run (uncapped) rather than raise, and
    # equal the plain uncapped answer
    exact = _rows(q_simhash_near_pairs(spark, SF_DIR, max_bucket_size=None))
    got = _rows(
        q_simhash_near_pairs(
            spark, SF_DIR, max_bucket_size=None, calibrate=True, pair_budget=1
        )
    )
    assert got == exact

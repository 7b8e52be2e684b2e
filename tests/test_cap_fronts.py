"""One front per family, counted one way (fast tier).

Each capped family has exactly one front-key builder (``band_front``,
``pigeonhole_front``, ``prefix_front``, ``posting_front``): the registered
``calibrate=True`` pre-flight measures it and ``calibrate.standard_fronts``
(the CLI / bench matrix) reuses it, so the two cannot drift. And the cap
observation every capped core auto-attaches (``calibrate.observe_cap``)
counts candidate pairs with ``measure_front``'s arithmetic, so the
pre-flight and the run-time telemetry report one workload one number.
"""

from __future__ import annotations

import dataclasses

import pytest

from video_data_pipeline_spark import calibrate
from video_data_pipeline_spark.calibrate import (
    clear_plan_cache,
    measure_front,
    standard_fronts,
)
from video_data_pipeline_spark.queries.dedup import (
    band_front,
    chunk_keys,
    exact_dup_representatives,
    lsh_pairs_from_bands,
    minhash_bands,
    pigeonhole_front,
    q_minhash_lsh_pairs_calibrated,
    q_simhash_near_pairs_calibrated,
    simhash_near_pairs_capped,
    simhash_signatures,
)
from video_data_pipeline_spark.queries.simjoin import (
    containment_pairs_capped,
    hashed_shingle_sets,
    posting_front,
    prefix_filter_pairs,
    prefix_front,
    q_containment_pairs_calibrated,
    q_prefix_filter_join_calibrated,
)

SF_DIR = "/root/testdata/sf0.001"


def test_calibrated_twins_measure_the_standard_fronts(spark, monkeypatch):
    standard = {
        name: measure_front(build(), cap, name)
        for name, cap, build in standard_fronts(spark, SF_DIR)
    }
    measured = []
    real = calibrate.measure_front

    def spy(keys, cap, name="front"):
        s = real(keys, cap, name)
        measured.append(s)
        return s

    monkeypatch.setattr(calibrate, "measure_front", spy)
    twins = [
        (q_minhash_lsh_pairs_calibrated, "minhash_bands"),
        (q_simhash_near_pairs_calibrated, "simhash_chunks"),
        (q_prefix_filter_join_calibrated, "prefix_buckets"),
        (q_containment_pairs_calibrated, "containment_postings"),
    ]
    try:
        for fn, front in twins:
            clear_plan_cache()
            measured.clear()
            fn(spark, SF_DIR)
            # no cap binds on the fixture: one front measured per twin
            assert len(measured) == 1, fn.__name__
            got = dataclasses.replace(measured[0], name=front)
            assert got == standard[front], fn.__name__
    finally:
        clear_plan_cache()


@pytest.fixture(scope="module")
def near_clone_docs(spark):
    """40 rotations of one 60-word sentence: every family's hot buckets
    hold ~40 docs, so a cap of 8 binds on all four fronts."""
    words = [f"word{i:03d}" for i in range(60)]
    rows = [(i, " ".join(words[i:] + words[:i])) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _auto_observed(df, family):
    """Run ``df`` and return the metrics of its auto-attached
    ``cap:<family>#n`` observation."""
    df.collect()
    it = df._jdf.queryExecution().observedMetrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1().startswith(f"cap:{family}#"):
            row = kv._2()
            return {f: row.get(i) for i, f in enumerate(row.schema().fieldNames())}
    raise AssertionError(f"no auto-attached cap:{family} observation")


def test_auto_observation_counts_like_measure_front(spark, near_clone_docs):
    cap = 8
    reps = exact_dup_representatives(near_clone_docs)
    bands = minhash_bands(reps)
    sets = hashed_shingle_sets(near_clone_docs)
    cases = [
        ("minhash_bands", lsh_pairs_from_bands(bands, cap), band_front(bands)),
        (
            "simhash_chunks",
            simhash_near_pairs_capped(near_clone_docs, cap),
            pigeonhole_front(chunk_keys(simhash_signatures(reps))),
        ),
        ("prefix_buckets", prefix_filter_pairs(near_clone_docs, cap, sets=sets),
         prefix_front(sets)),
        (
            "containment_postings",
            containment_pairs_capped(near_clone_docs, cap, sets=sets),
            posting_front(sets),
        ),
    ]
    for family, df, front in cases:
        observed = _auto_observed(df, family)
        s = measure_front(front, cap, family)
        assert s.binds, f"{family}: the fixture must bind the cap"
        assert observed["uncapped_candidate_pairs"] == s.uncapped_pairs, family
        assert observed["capped_candidate_pairs"] == s.capped_pairs, family
        assert observed["uncapped_candidate_pairs"] > observed["capped_candidate_pairs"]

"""Semantic tests for the sketch-accuracy audits (queries/audit.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark.queries.audit import q_minhash_estimate
from video_data_pipeline_spark.queries.dedup import _BAND_ROWS, _N_HASHES

_BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen green "
    "turtles carry heavy stones across the wide muddy river before sunset "
    "every single day"
)


@pytest.fixture()
def fixture_dir(spark, tmp_path):
    near = _BASE.replace("heavy stones", "heavy bricks")
    title = " ".join(w.capitalize() for w in _BASE.split())  # exact dup by fingerprint
    far = "unrelated words entirely distinct from anything else repeated " * 4
    rows = [(1, _BASE), (2, title), (3, near), (4, far.strip())]
    d = (
        spark.createDataFrame(rows, "doc_id long, text string")
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("fx"))
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    d.write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_estimate_band_floor_invariant(spark, sf_dir):
    """Every LSH candidate pair shares at least one FULL band, so its
    signature agreement is at least one band's worth of components —
    a structural invariant of banding, checked on the real testdata."""
    out = q_minhash_estimate(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["est_matches"] >= _BAND_ROWS).all()
    assert (out["est_matches"] <= _N_HASHES).all()
    assert ((out["jaccard"] > 0) & (out["jaccard"] <= 1)).all()


def test_estimate_on_crafted_near_dup(spark, fixture_dir):
    """The case-variant clique collapses to its rep; the surviving
    candidate pair is the true near-dup (1, 3) with a high-but-not-1
    jaccard and a calibrated estimate; the unrelated doc 4 pairs with
    nothing."""
    out = q_minhash_estimate(spark, fixture_dir).toPandas()
    pairs = set(zip(out["doc_a"], out["doc_b"]))
    assert pairs == {(1, 3)}
    row = out.iloc[0]
    assert _BAND_ROWS <= row["est_matches"] <= _N_HASHES
    assert 0.5 < row["jaccard"] < 1.0


# ----------------------------------------------------- hard-negative mining


def test_hard_negatives_semihard_band_properties(spark, sf_dir):
    """FaceNet semi-hard contract per anchor: every negative is strictly
    less similar than the weakest positive but within the margin band, and
    positives are exactly the top-k."""
    from video_data_pipeline_spark.queries.similarity import (
        _HN_NEG,
        _HN_POS,
        _HN_QUERIES,
        q_hard_negatives,
    )

    out = q_hard_negatives(spark, sf_dir).toPandas()
    assert set(out["q_id"]) == set(range(_HN_QUERIES))
    for q_id, grp in out.groupby("q_id"):
        pos = grp[grp.role == "pos"].sort_values("rank")
        neg = grp[grp.role == "neg"].sort_values("rank")
        assert len(pos) == _HN_POS
        assert len(neg) <= _HN_NEG
        t = pos["cosine"].min()
        if len(neg):
            assert (neg["cosine"] <= t).all(), (q_id, t, neg["cosine"].tolist())
            assert (neg["cosine"] >= t - 0.15 - 1e-12).all()
        # roles are disjoint candidate sets
        assert not set(pos["vec_id"]) & set(neg["vec_id"])
        # anchors never mine themselves
        assert q_id not in set(grp["vec_id"])


def test_simhash_calibration_rides_checkpointed_pairs(spark, sf_dir):
    # r16 opt: _calibration_from_pairs lazily localCheckpoints the candidate
    # frame (measured 0.78x, tools/exp_simhash_ckpt.py at 79da2d5). r17
    # goes further (VERDICT r16 #3): signature and shingle set come from ONE
    # checkpointed corpus pass (_calibration_corpus), so the final query
    # plan must carry NO corpus relation at all — the front reads the pair
    # checkpoint and both Jaccard sides read slices of the corpus
    # checkpoint (0.85x, tools/exp_cal_corpus.py, reproduces at 79da2d5).
    from video_data_pipeline_spark.queries.audit import q_simhash_calibration

    plan = (
        q_simhash_calibration(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan[:2000]
    assert plan.count("Relation") == 0, plan[:2000]

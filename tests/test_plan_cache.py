"""Pre-flight measurement cache (r14, VERDICT r13 #8).

A front's measurement depends only on the corpus bytes and the cap, so
calibrated queries memoize ``{geometry: FrontStats}`` by (family,
stat-based corpus fingerprint, cap): repeat runs on an unchanged table
skip the measurement shuffle, a rewritten table changes the fingerprint
(structural staleness, no TTL), and the decision — refusals included —
re-derives from the cached measurement without re-measuring.
"""

from __future__ import annotations

import shutil

import pytest

from video_data_pipeline_spark import calibrate
from video_data_pipeline_spark.calibrate import (
    CapBoundError,
    cached_plan,
    clear_plan_cache,
    corpus_fingerprint,
    preflight,
)
from video_data_pipeline_spark.queries.dedup import (
    q_minhash_lsh_pairs,
    q_simhash_near_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def fresh_cache():
    clear_plan_cache()
    yield
    clear_plan_cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _count_measurements(monkeypatch):
    calls = {"n": 0}
    real = calibrate.measure_front

    def counting(keys, cap, name="front"):
        calls["n"] += 1
        return real(keys, cap, name)

    monkeypatch.setattr(calibrate, "measure_front", counting)
    return calls


def test_cached_plan_memoizes_and_bypasses_on_none_key():
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return "decision"

    assert cached_plan(("k",), compute) == "decision"
    assert cached_plan(("k",), compute) == "decision"
    assert calls["n"] == 1
    assert cached_plan(None, compute) == "decision"  # bypass
    assert calls["n"] == 2


def _toy_preflight(spark, corpus, fronts, pair_budget):
    # cap 4 == the family default; a "hot" front (10 members of one key)
    # binds it with 46 exact pairs, a "narrow" one (5 members) has 10
    frames = {
        "hot": spark.createDataFrame(
            [("hot",)] * 10 + [("b",)] * 2, "key string"
        ),
        "narrow": spark.createDataFrame([("x",)] * 5, "key string"),
    }
    table = corpus / "documents.parquet"  # fingerprinted: write it once
    if not table.exists():
        table.write_bytes(b"corpus")
    return preflight(
        "toy", {g: (lambda f=frames[kind]: f) for g, kind in fronts.items()},
        4, 4, pair_budget=pair_budget, sf_dir=str(corpus),
    )


def test_cached_plan_reraises_stored_refusal(spark, tmp_path, monkeypatch):
    # in process, a repeated refusal re-derives from the cached measurement
    calls = _count_measurements(monkeypatch)
    with pytest.raises(CapBoundError, match="pair_budget=10") as first:
        _toy_preflight(spark, tmp_path, {"wide": "hot"}, 10)
    with pytest.raises(CapBoundError, match="no exact plan") as again:
        _toy_preflight(spark, tmp_path, {"wide": "hot"}, 10)
    assert calls["n"] == 1, "a cached refusal must not re-measure"
    assert str(again.value) == str(first.value)
    assert again.value.stats == first.value.stats


def test_fingerprint_changes_when_table_rewritten(tmp_path):
    src = f"{SF_DIR}/documents.parquet"
    dst = tmp_path / "documents.parquet"
    shutil.copy(src, dst)
    a = corpus_fingerprint(str(tmp_path))
    assert a is not None
    dst.write_bytes(dst.read_bytes() + b"x")
    b = corpus_fingerprint(str(tmp_path))
    assert a != b
    assert corpus_fingerprint("/nonexistent") is None


def test_fingerprint_sees_nested_part_rewrite(tmp_path):
    # ADVICE r14: a partitioned layout (key=val subdirs) can have a nested
    # part file rewritten IN PLACE — same top-level names, same subdir
    # size, and the subdir mtime does not change on child-content
    # modification — so the fingerprint must walk to the leaves
    import os

    table_dir = tmp_path / "documents.parquet" / "year=2026"
    table_dir.mkdir(parents=True)
    part = table_dir / "part-00000.parquet"
    part.write_bytes(b"AAAA")
    a = corpus_fingerprint(str(tmp_path))
    assert a is not None
    # in-place rewrite: same path, same size, different mtime
    part.write_bytes(b"BBBB")
    os.utime(part, ns=(1, 1))
    os.utime(table_dir, ns=(2, 2))  # pin dir mtimes so only the leaf moved
    b = corpus_fingerprint(str(tmp_path))
    assert a != b


def test_registered_calibrated_queries_hit_cache_on_repeat(spark, monkeypatch):
    # count actual front measurements through the real query surface
    calls = _count_measurements(monkeypatch)
    first = _rows(q_simhash_near_pairs(spark, SF_DIR, calibrate=True))
    n_first = calls["n"]
    assert n_first >= 1
    second = _rows(q_simhash_near_pairs(spark, SF_DIR, calibrate=True))
    assert calls["n"] == n_first, "repeat run must skip the measurement"
    assert second == first

    calls["n"] = 0
    _rows(q_minhash_lsh_pairs(spark, SF_DIR, calibrate=True))
    assert calls["n"] == 1
    _rows(q_minhash_lsh_pairs(spark, SF_DIR, calibrate=True))
    assert calls["n"] == 1


def test_registered_refusal_rederives_without_remeasuring(
    spark, monkeypatch, tmp_path
):
    # a calibrated query on a corpus where the default cap binds and no
    # exact plan fits the budget refuses by name; repeating it re-derives
    # the refusal from the cached MEASUREMENT — zero measure_front calls
    from video_data_pipeline_spark.queries.simjoin import q_prefix_filter_join

    # 80 rotations of one 100-word sentence: near-identical shingle sets,
    # so the rarity-prefix buckets hold ~80 > 64 (the default cap) members
    words = [f"word{i:03d}" for i in range(100)]
    rows = [(i, " ".join(words[i:] + words[:i])) for i in range(80)]
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    corpus = str(tmp_path)
    calls = _count_measurements(monkeypatch)

    def refused():
        with pytest.raises(CapBoundError, match="pair_budget=10") as ei:
            q_prefix_filter_join(spark, corpus, calibrate=True, pair_budget=10)
        assert ei.value.stats["prefix_buckets"].binds
        return str(ei.value)

    first = refused()
    assert calls["n"] == 1
    assert refused() == first
    assert calls["n"] == 1, "an in-process repeat must not re-measure"


def test_cache_key_includes_knobs(spark, monkeypatch):
    # a different cap is a different measurement; a different budget is
    # the same measurement under a re-derived decision
    calls = _count_measurements(monkeypatch)
    q_minhash_lsh_pairs(spark, SF_DIR, calibrate=True).count()
    q_minhash_lsh_pairs(
        spark, SF_DIR, calibrate=True, max_bucket_size=128
    ).count()
    assert calls["n"] == 2
    q_minhash_lsh_pairs(spark, SF_DIR, calibrate=True, pair_budget=10).count()
    assert calls["n"] == 2

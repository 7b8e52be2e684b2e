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
    monkeypatch.delenv("SPARK_GRAFT_PLAN_CACHE", raising=False)
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
    # the refusal from the cached MEASUREMENT — zero measure_front calls —
    # in this process and, through the sidecar, in a new one
    from video_data_pipeline_spark.queries.simjoin import q_prefix_filter_join

    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
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
    clear_plan_cache()  # a NEW process: memory gone, sidecar stays
    assert refused() == first
    assert calls["n"] == 1, "a new process must re-derive from the sidecar"


# ----------------------------------- cross-process persistence (r15,
# VERDICT r14 #2): with $SPARK_GRAFT_PLAN_CACHE set, measurements
# round-trip a JSON sidecar so a NEW process on the unchanged corpus skips
# the measurement shuffle; staleness stays structural (fingerprint keys)


def _toy_stats():
    from video_data_pipeline_spark.calibrate import FrontStats

    return {"toy": FrontStats("toy", 4, 2, 10, 10, 1, 46, 7)}


def test_persisted_frontplan_roundtrip_across_processes(
    spark, tmp_path, monkeypatch
):
    # the plan a new process derives from the persisted measurement is
    # the one the measuring process derived, including a non-first
    # geometry choice
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
    (tmp_path / "documents.parquet").write_bytes(b"corpus")  # fingerprinted
    calls = _count_measurements(monkeypatch)
    hot = spark.createDataFrame([("hot",)] * 10 + [("b",)] * 2, "key string")
    narrow = spark.createDataFrame([("x",)] * 5, "key string")

    def run():
        return preflight(
            "toy", {"wide": lambda: hot, "narrow": lambda: narrow}, 4, 4,
            pair_budget=1000, sf_dir=str(tmp_path),
        )

    plan = run()
    assert calls["n"] == 2
    assert plan.decision == "exact_uncapped" and plan.max_bucket_size is None
    assert plan.geometry == "narrow"  # 10 exact pairs beat the wide 46
    clear_plan_cache()  # simulate a NEW process: memory gone, sidecar stays
    got = run()
    assert calls["n"] == 2, "persisted measurement must skip the measurement"
    assert got == plan
    assert got.stats["wide"].uncapped_pairs == 46


def test_persisted_refusal_reraises_in_new_process(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
    calls = _count_measurements(monkeypatch)
    with pytest.raises(CapBoundError) as first:
        _toy_preflight(spark, tmp_path, {"wide": "hot"}, 10)
    assert calls["n"] == 1
    clear_plan_cache()  # a NEW process: memory gone, sidecar stays
    with pytest.raises(CapBoundError, match="no exact plan") as again:
        _toy_preflight(spark, tmp_path, {"wide": "hot"}, 10)
    assert calls["n"] == 1, "a persisted refusal must re-raise without re-measuring"
    assert str(again.value) == str(first.value)


def test_simhash_plan_persists_decision_not_signatures(
    spark, tmp_path, monkeypatch
):
    # chunks binds, combos fits: the second geometry survives a new process
    # while the sidecar holds only the measurement, never a session-bound
    # frame (the checkpointed signatures stay with the caller)
    import json

    side = tmp_path / "pc.json"
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(side))
    fronts = {"chunks": "hot", "combos": "narrow"}
    plan = _toy_preflight(spark, tmp_path, fronts, 1000)
    assert plan.decision == "exact_uncapped" and plan.geometry == "combos"
    assert plan.stats["chunks"].binds
    entries = json.loads(side.read_text())["entries"]
    assert [e["entry"]["kind"] for e in entries] == ["fronts"]
    assert set(entries[0]["entry"]["stats"]) == {"chunks", "combos"}
    clear_plan_cache()
    monkeypatch.setattr(
        calibrate, "measure_front",
        lambda *a, **k: pytest.fail("must hit sidecar"),
    )
    got = _toy_preflight(spark, tmp_path, fronts, 1000)
    assert got.geometry == "combos" and got.max_bucket_size is None
    assert got == plan and not hasattr(got, "signatures")


def test_corrupt_or_mismatched_sidecar_is_ignored(tmp_path, monkeypatch):
    side = tmp_path / "pc.json"
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(side))
    side.write_text("{not json")
    clear_plan_cache()
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return "fresh"

    assert cached_plan(("k",), compute) == "fresh"
    assert calls["n"] == 1
    # and a future-format file is skipped, not crashed on
    side.write_text('{"format": 99, "entries": []}')
    clear_plan_cache()
    assert cached_plan(("k2",), compute) == "fresh"
    # as is a format-1 sidecar of cached decisions: never misread as stats
    side.write_text(
        '{"format": 1, "entries": [{"key": ["k3"], "entry": {"kind": '
        '"FrontPlan", "decision": "default", "max_bucket_size": 64, '
        '"reason": "r", "stats": {}}}]}'
    )
    clear_plan_cache()
    assert cached_plan(("k3",), compute) == "fresh"


def test_sidecar_caps_entries_dropping_oldest(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
    monkeypatch.setattr(calibrate, "_CACHE_MAX_ENTRIES", 3)
    clear_plan_cache()
    plan = _toy_stats()
    for i in range(5):
        cached_plan(("front", f"corpus{i}"), lambda: plan)
    clear_plan_cache()
    # only the NEWEST 3 survive; the 2 oldest re-measure
    calls = {"n": 0}

    def recompute():
        calls["n"] += 1
        return plan

    for i in range(5):
        cached_plan(("front", f"corpus{i}"), recompute)
    assert calls["n"] == 2


def test_front_stats_roundtrip_sidecar(tmp_path, monkeypatch):
    # the cache holds the raw MEASUREMENT — {geometry: FrontStats} must
    # survive the sidecar exactly
    from video_data_pipeline_spark.calibrate import FrontStats

    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
    clear_plan_cache()
    key = ("simhash", ("/corpus", 1, 2), 64)
    s = {
        "chunks": FrontStats("chunks", 64, 1000, 99, 80, 12, 123_456, 7_890),
        "combos": FrontStats("combos", 64, 5000, 70, 20, 3, 45_000, 2_000),
    }
    cached_plan(key, lambda: s)
    clear_plan_cache()
    got = cached_plan(key, lambda: pytest.fail("must hit sidecar"))
    assert got == s


def test_concurrent_persists_keep_both_entries(tmp_path):
    # r16 (VERDICT r15 #5): _persist's read-merge-replace runs under an
    # exclusive flock, so two processes persisting simultaneously cannot
    # lose each other's entries (the old unlocked merge dropped one on a
    # last-writer-wins race)
    import json
    import os
    import subprocess
    import sys

    side = tmp_path / "pc.json"
    script = r"""
import os, sys
sys.path.insert(0, ".")
from video_data_pipeline_spark.calibrate import FrontStats, cached_plan
tag = sys.argv[1]
for i in range(40):
    s = FrontStats(f"{tag}{i}", 4, 2, 10, 10, 1, 46, 7)
    cached_plan((tag, f"corpus{i}"), lambda s=s: {s.name: s})
"""
    env = dict(os.environ, SPARK_GRAFT_PLAN_CACHE=str(side))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, tag],
            env=env, cwd="/root/repo",
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        for tag in ("a", "b")
    ]
    for p in procs:
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[-500:]
    with open(side) as f:
        doc = json.load(f)
    keys = {tuple(rec["key"]) for rec in doc["entries"]}
    assert keys == {
        (tag, f"corpus{i}") for tag in ("a", "b") for i in range(40)
    }, f"lost {80 - len(keys)} entries to a persist race"


def test_one_bad_sidecar_entry_does_not_discard_the_rest(tmp_path, monkeypatch):
    # ADVICE r15 low: a single unknown-kind record (e.g. written by a
    # newer version) must skip THAT record, not the whole sidecar
    import json

    side = tmp_path / "pc.json"
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(side))
    clear_plan_cache()
    plan = _toy_stats()
    cached_plan(("front", "good-corpus"), lambda: plan)
    doc = json.loads(side.read_text())
    doc["entries"].insert(
        0, {"key": ["front", "future-corpus"],
            "entry": {"kind": "HologramPlan", "v": 1}},
    )
    side.write_text(json.dumps(doc))
    clear_plan_cache()
    got = cached_plan(
        ("front", "good-corpus"), lambda: pytest.fail("must hit sidecar")
    )
    assert got == plan
    # and a later persist drops only what it can't re-serialize... the raw
    # merge keeps the unknown record for NEWER readers
    cached_plan(("front", "another"), lambda: plan)
    doc = json.loads(side.read_text())
    kinds = {rec["entry"]["kind"] for rec in doc["entries"]}
    assert "HologramPlan" in kinds, "a rewrite must not destroy newer entries"


def test_age_out_env_expires_old_entries(tmp_path, monkeypatch):
    # r16 (VERDICT r15 #7): SPARK_GRAFT_PLAN_CACHE_MAX_AGE_DAYS drops
    # entries older than N days on read and on the next save; unset means
    # no age limit (staleness stays structural)
    import json
    import time

    side = tmp_path / "pc.json"
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(side))
    clear_plan_cache()
    plan = _toy_stats()
    cached_plan(("front", "old-corpus"), lambda: plan)
    cached_plan(("front", "new-corpus"), lambda: plan)
    # backdate one entry 10 days
    doc = json.loads(side.read_text())
    for rec in doc["entries"]:
        if rec["key"] == ["front", "old-corpus"]:
            rec["saved_at"] = time.time() - 10 * 86400
    side.write_text(json.dumps(doc))

    # without the env: both served
    clear_plan_cache()
    calls = {"n": 0}

    def recompute():
        calls["n"] += 1
        return plan

    cached_plan(("front", "old-corpus"), recompute)
    cached_plan(("front", "new-corpus"), recompute)
    assert calls["n"] == 0

    # with a 7-day limit: the old entry re-measures, the new one is served
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE_MAX_AGE_DAYS", "7")
    clear_plan_cache()
    cached_plan(("front", "new-corpus"), recompute)
    assert calls["n"] == 0
    cached_plan(("front", "old-corpus"), recompute)
    assert calls["n"] == 1
    # ... and the save above aged it out of the file entirely
    doc = json.loads(side.read_text())
    stamps = {tuple(rec["key"]): rec.get("saved_at") for rec in doc["entries"]}
    assert all(time.time() - s < 86400 for s in stamps.values())


def test_unset_env_keeps_cache_process_local(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PLAN_CACHE", raising=False)
    clear_plan_cache()
    cached_plan(("k",), lambda: "decision")
    clear_plan_cache()
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return "decision"

    cached_plan(("k",), compute)
    assert calls["n"] == 1, "no sidecar without the env var"


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

"""Generic cap pre-flight for the single-front pair generators (r14,
VERDICT r13 #5): minhash-LSH bands, prefix-filter buckets, containment
postings.

These fronts have one geometry each, so the shared ladder
(``calibrate.preflight``) measures one front (one linear groupBy, no pair
expansion) → proceed default (cap proven not to bind, exact) / proceed
uncapped (measured workload fits the budget, exact) / refuse by name.
A crafted near-clone corpus (rotations: distinct content, near-identical
shingle sets, hence identical signatures) drives the bind.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark.calibrate import (
    CapBoundError,
    preflight,
)
from video_data_pipeline_spark.queries.dedup import (
    band_front,
    lsh_pairs_from_bands,
    minhash_bands,
    q_minhash_lsh_pairs,
    q_minhash_lsh_pairs_calibrated,
    exact_dup_representatives,
)
from video_data_pipeline_spark.queries.simjoin import (
    q_containment_pairs,
    q_prefix_filter_join,
)

pytestmark = pytest.mark.slow  # r17 fast-tier: see conftest/pytest.ini

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def near_clone_docs(spark):
    """40 rotations of one 60-word sentence: distinct content (no exact-dup
    collapse) but near-identical shingle SETS, so the min-hash over each
    band is identical and every band bucket holds all 40 docs — a small
    cap BINDS. The boilerplate-clique shape of real crawls."""
    words = [f"word{i:03d}" for i in range(60)]
    rows = [(i, " ".join(words[i:] + words[:i])) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _single(name, keys, cap, default=None, **kw):
    """The one-front ladder over a ready ``key`` frame; ``default``
    defaults to ``cap`` (the family-default ladder, not an explicit cap)."""
    return preflight(
        name, {name: lambda: keys}, cap, cap if default is None else default, **kw
    )


# ---------------------------------------------------------- unit ladder


def test_front_plan_default_when_cap_has_headroom(spark):
    keys = spark.createDataFrame([("a",)] * 3 + [("b",)] * 2, "key string")
    plan = _single("toy", keys, 64)
    assert plan.decision == "default"
    assert plan.max_bucket_size == 64
    assert not plan.stats["toy"].binds


def test_front_plan_uncapped_within_budget(spark):
    keys = spark.createDataFrame([("hot",)] * 10 + [("b",)] * 2, "key string")
    plan = _single("toy", keys, 4, pair_budget=1000)
    assert plan.decision == "exact_uncapped"
    assert plan.max_bucket_size is None
    assert plan.stats["toy"].binds
    assert plan.stats["toy"].uncapped_pairs == 45 + 1


def test_front_plan_refuses_over_budget_naming_escapes(spark):
    keys = spark.createDataFrame([("hot",)] * 10, "key string")
    with pytest.raises(CapBoundError) as ei:
        _single(
            "containment_postings", keys, 4, pair_budget=10,
            escape_arg="max_posting_size",
        )
    msg = str(ei.value)
    assert "containment_postings" in msg and "BINDS" in msg
    assert "pair_budget=10" in msg
    assert "max_posting_size=None" in msg  # the family's OWN escape knob
    assert ei.value.stats["containment_postings"].uncapped_pairs == 45


# ----------------------------------------------------- minhash, end-to-end


def test_minhash_calibrated_exact_when_cap_would_bind(spark, near_clone_docs):
    reps = exact_dup_representatives(near_clone_docs)
    bands = minhash_bands(reps)
    capped = _rows(lsh_pairs_from_bands(bands, max_bucket_size=8))
    exact = _rows(lsh_pairs_from_bands(bands, max_bucket_size=None))
    assert len(capped) < len(exact), "fixture must actually bind the cap"
    # the pre-flight on the same front must pick the uncapped exact plan
    plan = _single("minhash_bands", band_front(bands), 8, pair_budget=10**6)
    assert plan.decision == "exact_uncapped"
    assert _rows(lsh_pairs_from_bands(bands, plan.max_bucket_size)) == exact


def test_minhash_refusal_on_clone_corpus_tiny_budget(spark, near_clone_docs):
    bands = minhash_bands(exact_dup_representatives(near_clone_docs))
    with pytest.raises(CapBoundError) as ei:
        _single("minhash_bands", band_front(bands), 8, pair_budget=10)
    assert "minhash_bands" in str(ei.value)


# ------------------------------------- bytes-weighted workload model (r15,
# VERDICT r14 #4): staged verification made verified-family per-candidate
# shuffle bytes a constant, so the proceed test budgets candidates x bytes
# — the count proxy refused affordable short-set corpora


def test_byte_budget_proceeds_where_count_budget_refused(spark):
    from video_data_pipeline_spark.calibrate import STAGED_CANDIDATE_BYTES

    # one hot bucket of 12,650 members: ~80M in-bucket candidate pairs —
    # over the old 50M verified count budget, but 80M x 160 B = 12.8 GiB,
    # comfortably inside the 128 GiB byte budget
    keys = spark.range(12_650).select(F.lit("hot").alias("key"))
    with pytest.raises(CapBoundError):
        _single("prefix_buckets", keys, 64, pair_budget=50_000_000)
    plan = _single(
        "prefix_buckets", keys, 64, bytes_per_candidate=STAGED_CANDIDATE_BYTES
    )
    assert plan.decision == "exact_uncapped"
    assert plan.max_bucket_size is None
    assert "GiB" in plan.reason


def test_byte_budget_refuses_over_byte_bound_naming_gib(spark, monkeypatch):
    from video_data_pipeline_spark import calibrate

    keys = spark.range(12_650).select(F.lit("hot").alias("key"))
    one_gib = calibrate.ResolvedByteBudget(1 << 30, 1 << 30, 1, None, "stub 1 GiB")
    monkeypatch.setattr(calibrate, "resolve_byte_budget", lambda s: one_gib)
    with pytest.raises(CapBoundError) as ei:
        _single(
            "containment_postings", keys, 64, bytes_per_candidate=160,
            escape_arg="max_posting_size",
        )
    msg = str(ei.value)
    assert "GiB" in msg and "byte budget" in msg
    assert "max_posting_size=None" in msg


def test_cluster_scaled_byte_budget(spark, monkeypatch):
    # r15 (ROADMAP r16 #3 pulled forward): the 128 GiB byte bound is a
    # single-node constant; declaring N executors scales the refusal
    # boundary with the cluster (the staged filter's shuffle spreads
    # uniformly over executors)
    from video_data_pipeline_spark import calibrate
    from video_data_pipeline_spark.calibrate import (
        DEFAULT_CANDIDATE_BYTE_BUDGET,
        resolve_byte_budget,
    )

    # plenty of disk, so the probe-anchored constant is the per-node bound
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes",
        lambda s=None: (1 << 40, "/tmp"),
    )
    # local mode: no executor count declared -> the measured single-node bound
    assert resolve_byte_budget(spark).total == DEFAULT_CANDIDATE_BYTE_BUDGET

    # executor.instances is a STARTUP conf (Spark refuses runtime set),
    # so the conf-read path is pinned via a stub session
    class _FakeConf:
        def get(self, key, default=None):
            return "4" if key == "spark.executor.instances" else default

    class _FakeSpark:
        conf = _FakeConf()

    rb = resolve_byte_budget(_FakeSpark())
    assert rb.total == 4 * DEFAULT_CANDIDATE_BYTE_BUDGET
    assert rb.n_executors == 4 and "x 4 executor(s)" in rb.provenance

    # and the ladder consults the scaled bound: a 60k-member hot bucket
    # (1.8B candidates x 160 B = 268 GiB) refuses on one node, proceeds
    # inside a 4-node budget (512 GiB)
    keys = spark.range(60_000).select(F.lit("hot").alias("key"))
    with pytest.raises(CapBoundError):
        _single("prefix_buckets", keys, 64, bytes_per_candidate=160)
    monkeypatch.setattr(
        calibrate, "resolve_byte_budget",
        lambda s: resolve_byte_budget(_FakeSpark()),
    )
    plan = _single("prefix_buckets", keys, 64, bytes_per_candidate=160)
    assert plan.decision == "exact_uncapped"


def test_registered_verified_families_use_byte_model_by_default(spark, monkeypatch):
    # the registered calibrate branch must run the bytes-weighted decision
    # (STAGED_CANDIDATE_BYTES, no pair_budget) when no explicit
    # pair_budget is given, and the count budget when one is
    from video_data_pipeline_spark import calibrate
    from video_data_pipeline_spark.calibrate import (
        STAGED_CANDIDATE_BYTES,
        clear_plan_cache,
    )

    calls = []
    real = calibrate.preflight

    def spy(family, fronts, cap, default, **kw):
        calls.append((family, kw))
        return real(family, fronts, cap, default, **kw)

    monkeypatch.setattr(calibrate, "preflight", spy)
    clear_plan_cache()
    try:
        q_prefix_filter_join(spark, SF_DIR, calibrate=True).count()
        q_containment_pairs(spark, SF_DIR, calibrate=True).count()
        q_prefix_filter_join(
            spark, SF_DIR, calibrate=True, pair_budget=10**9
        ).count()
        assert [f for f, _ in calls] == [
            "prefix_buckets", "containment_postings", "prefix_buckets"
        ]
        byted = [kw for _, kw in calls if kw.get("pair_budget") is None]
        assert len(byted) == 2
        assert all(
            kw["bytes_per_candidate"] == STAGED_CANDIDATE_BYTES for kw in byted
        )
        # an explicit count budget takes over from the byte model
        assert calls[2][1]["pair_budget"] == 10**9
    finally:
        clear_plan_cache()


def test_byte_decision_rederives_against_current_budget(
    spark, monkeypatch, tmp_path
):
    # ADVICE r15 medium, the exact scenario: a measurement cached by an
    # N-executor process (large budget -> proceed) must NOT replay as a
    # verbatim proceed in a single-node process whose own budget refuses —
    # the byte paths cache only the budget-invariant measurement and
    # re-derive the decision per process
    from video_data_pipeline_spark import calibrate
    from video_data_pipeline_spark.calibrate import (
        CapBoundError,
        clear_plan_cache,
    )

    # a corpus where the default prefix cap (64) BINDS: 80 rotations of
    # one 100-word sentence share near-identical shingle sets, so their
    # rarity-prefix buckets hold ~80 > 64 members (the near_clone_docs
    # shape, sized past the production cap), persisted so the registered
    # query can fingerprint it
    words = [f"word{i:03d}" for i in range(100)]
    rows = [(i, " ".join(words[i % 100:] + words[: i % 100])) for i in range(80)]
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    corpus = str(tmp_path)

    calls = {"n": 0}
    real = calibrate.measure_front

    def counting(keys, cap, name="front"):
        calls["n"] += 1
        return real(keys, cap, name)

    monkeypatch.setattr(calibrate, "measure_front", counting)
    clear_plan_cache()
    try:
        # big-budget process: measures once, proceeds uncapped
        big = calibrate.ResolvedByteBudget(
            512 << 30, 128 << 30, 4, None, "stub 4-executor budget"
        )
        monkeypatch.setattr(calibrate, "resolve_byte_budget", lambda s: big)
        q_prefix_filter_join(spark, corpus, calibrate=True).count()
        assert calls["n"] == 1
        # "new" small-budget process on the same corpus: the measurement
        # is served from cache (0 new measure_front), but the decision is
        # THIS budget's — a refusal, not the cached proceed
        small = calibrate.ResolvedByteBudget(
            1024, 1024, 1, 8192, "stub single-node tiny budget"
        )
        monkeypatch.setattr(calibrate, "resolve_byte_budget", lambda s: small)
        with pytest.raises(CapBoundError) as ei:
            q_prefix_filter_join(spark, corpus, calibrate=True).count()
        assert calls["n"] == 1, "the measurement must come from the cache"
        assert "stub single-node tiny budget" in str(ei.value)
    finally:
        clear_plan_cache()


# --------------------------------- measured-headroom byte budget (r16,
# VERDICT r15 #4): the per-node bound is min(probe-anchored constant,
# statvfs free bytes x SPILL_HEADROOM_FACTOR) — the budget no longer
# assumes every executor has the probe machine's disk profile


def test_resolve_byte_budget_floors_at_measured_headroom(spark, monkeypatch):
    from video_data_pipeline_spark import calibrate
    from video_data_pipeline_spark.calibrate import (
        DEFAULT_CANDIDATE_BYTE_BUDGET,
        SPILL_HEADROOM_FACTOR,
        resolve_byte_budget,
    )

    # plenty of disk: the probe-anchored constant is the bound
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes",
        lambda s=None: (1 << 40, "/tmp"),
    )
    rb = resolve_byte_budget(spark)
    assert rb.per_node == DEFAULT_CANDIDATE_BYTE_BUDGET
    assert rb.total == DEFAULT_CANDIDATE_BYTE_BUDGET  # local mode: 1 executor
    assert "not binding" in rb.provenance

    # small disk: the headroom floor binds and the provenance names the
    # measured free GiB
    free = 1 << 30  # 1 GiB free -> 8 GiB budget
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes",
        lambda s=None: (free, "/small"),
    )
    rb = resolve_byte_budget(spark)
    assert rb.per_node == free * SPILL_HEADROOM_FACTOR
    assert rb.free_bytes == free
    assert "BINDS" in rb.provenance and "1.0 GiB" in rb.provenance

    # unmeasurable: degrade to the constant, saying so
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes", lambda s=None: None
    )
    rb = resolve_byte_budget(spark)
    assert rb.per_node == DEFAULT_CANDIDATE_BYTE_BUDGET
    assert "unmeasurable" in rb.provenance


def test_small_disk_refuses_where_constant_would_proceed(spark, monkeypatch):
    # VERDICT r15 #4's acceptance shape: a workload the 128 GiB constant
    # would accept refuses on a mocked small disk, naming the measured
    # free space in the refusal
    from video_data_pipeline_spark import calibrate
    from video_data_pipeline_spark.calibrate import STAGED_CANDIDATE_BYTES

    keys = spark.range(12_650).select(F.lit("hot").alias("key"))  # ~12.8 GiB
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes",
        lambda s=None: (1 << 30, "/small"),  # 1 GiB free -> 8 GiB budget
    )
    with pytest.raises(CapBoundError) as ei:
        _single(
            "prefix_buckets", keys, 64,
            bytes_per_candidate=STAGED_CANDIDATE_BYTES,
        )
    msg = str(ei.value)
    assert "free 1.0 GiB" in msg and "BINDS below the probe-anchored" in msg
    # and with a healthy disk the same workload proceeds (the r15 behavior)
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes",
        lambda s=None: (1 << 40, "/tmp"),
    )
    plan = _single(
        "prefix_buckets", keys, 64,
        bytes_per_candidate=STAGED_CANDIDATE_BYTES,
    )
    assert plan.decision == "exact_uncapped"
    assert "not binding" in plan.reason


# ------------------------------------------- registered knobs, no-bind sf


def test_registered_calibrate_knobs_match_default_on_standard_fixture(spark):
    # on fixtures where the caps have headroom, calibrate=True is a no-op
    # on the output for all three families (decision: default)
    for fn in (q_minhash_lsh_pairs, q_prefix_filter_join, q_containment_pairs):
        base = _rows(fn(spark, SF_DIR))
        calibrated = _rows(fn(spark, SF_DIR, calibrate=True))
        assert calibrated == base, fn.__name__


def test_registered_calibrated_twin_matches_base(spark):
    base = _rows(q_minhash_lsh_pairs(spark, SF_DIR))
    assert _rows(q_minhash_lsh_pairs_calibrated(spark, SF_DIR)) == base


def test_explicit_uncapped_skips_preflight_all_families(spark):
    # ADVICE-r13 contract, applied to the new knobs: calibrate=True with
    # the family's explicit uncapped escape must run uncapped, never
    # refuse — even with a hostile budget
    exact = _rows(q_minhash_lsh_pairs(spark, SF_DIR, max_bucket_size=None))
    got = _rows(
        q_minhash_lsh_pairs(
            spark, SF_DIR, max_bucket_size=None, calibrate=True, pair_budget=1
        )
    )
    assert got == exact
    exact = _rows(q_containment_pairs(spark, SF_DIR, max_posting_size=None))
    got = _rows(
        q_containment_pairs(
            spark, SF_DIR, max_posting_size=None, calibrate=True, pair_budget=1
        )
    )
    assert got == exact


# ------------------------------------- explicit non-default cap (r15,
# ADVICE r14 medium): an accepted partial-recall choice must MEASURE and
# proceed, never refuse the caller back into the escape they already took


def test_explicit_cap_measures_and_never_refuses(spark):
    keys = spark.createDataFrame([("hot",)] * 10 + [("b",)] * 2, "key string")
    # cap 4 under a family default of 64, and a budget that would refuse
    plan = _single("toy", keys, 4, default=64, pair_budget=1)
    assert plan.decision == "explicit_capped"
    assert plan.max_bucket_size == 4
    s = plan.stats["toy"]
    assert s.binds and s.uncapped_pairs == 46 and s.capped_pairs == 6 + 1
    # the reason carries the measured recall arithmetic (VERDICT r14 #8)
    assert "7" in plan.reason and "46" in plan.reason


def test_explicit_cap_under_calibrate_proceeds_all_families(spark):
    # the CapBoundError escape's own advice must terminate: an explicit
    # non-default cap with calibrate=True proceeds with that cap (same
    # rows as the plain capped run), even under a hostile budget that
    # would otherwise refuse
    for fn, knob in (
        (q_minhash_lsh_pairs, "max_bucket_size"),
        (q_prefix_filter_join, "max_bucket_size"),
        (q_containment_pairs, "max_posting_size"),
    ):
        plain = _rows(fn(spark, SF_DIR, **{knob: 3}))
        got = _rows(fn(spark, SF_DIR, calibrate=True, pair_budget=1, **{knob: 3}))
        assert got == plain, fn.__name__


def test_explicit_cap_under_calibrate_proceeds_simhash(spark):
    from video_data_pipeline_spark.queries.dedup import q_simhash_near_pairs

    plain = _rows(q_simhash_near_pairs(spark, SF_DIR, max_bucket_size=3))
    got = _rows(
        q_simhash_near_pairs(
            spark, SF_DIR, max_bucket_size=3, calibrate=True, pair_budget=1
        )
    )
    assert got == plain


def test_explicit_cap_terminates_on_binding_corpus(spark, near_clone_docs):
    # the full loop the ADVICE described: refusal names the escape, the
    # caller follows it, the second run must SUCCEED (capped) — before
    # r15 it re-refused (and the decision cache made the loop infinite)
    bands = minhash_bands(exact_dup_representatives(near_clone_docs))
    front = band_front(bands)
    with pytest.raises(CapBoundError):
        _single("minhash_bands", front, 8, pair_budget=10)
    plan = _single("minhash_bands", front, 8, default=64, pair_budget=10)
    assert plan.decision == "explicit_capped"
    capped = _rows(lsh_pairs_from_bands(bands, plan.max_bucket_size))
    assert capped == _rows(lsh_pairs_from_bands(bands, max_bucket_size=8))

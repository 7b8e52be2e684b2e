"""Stage-metrics telemetry (video_data_pipeline_spark/telemetry.py, r12).

Pins the contract tools/scale_probe.py and tools/bench_e2e.py rely on:
cumulative counters are readable from a plain driver session, a
StageMetricsDelta around a shuffle job sees that job's shuffle bytes, the
delta also lands when the body raises (a dying query's spill is the datum
the probe wants), and the spill warning fires on threshold crossing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark.telemetry import (
    StageMetricsDelta,
    codegen_compile_count,
    cumulative_stage_metrics,
)

_KEYS = {
    "disk_spill_bytes",
    "memory_spill_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
}


def test_cumulative_metrics_shape(spark):
    m = cumulative_stage_metrics(spark)
    assert set(m) == _KEYS
    assert all(isinstance(v, int) and v >= 0 for v in m.values())


def test_delta_sees_shuffle_bytes(spark):
    df = spark.range(200_000).select((F.col("id") % 97).alias("k"))
    with StageMetricsDelta(spark) as m:
        df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    assert set(m.delta) == _KEYS | {"codegen_compiles"}
    assert m.delta["shuffle_write_bytes"] > 0, "groupBy wrote no shuffle bytes?"
    assert m.warning is None, "healthy job must not warn"


def test_delta_counts_only_window_stages(spark):
    # deltas sum stages NEWER than the window start (r13: immune to the
    # status store evicting pre-window stages mid-window, which zeroed
    # the old cumulative-diff form on long sessions) — so work done
    # BEFORE the window must not leak in, and an empty window reads zero
    df = spark.range(50_000).select((F.col("id") % 13).alias("k"))
    df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    with StageMetricsDelta(spark) as m:
        pass
    assert all(v == 0 for v in m.delta.values()), m.delta


def test_delta_lands_on_exception(spark):
    with pytest.raises(Exception, match="boom"):
        with StageMetricsDelta(spark) as m:
            spark.range(10).count()
            raise RuntimeError("boom")
    assert m.delta, "delta must be populated even when the body raises"


def test_spill_warning_threshold(spark):
    df = spark.range(100_000).select((F.col("id") % 7).alias("k"))
    # warn_bytes=-1: ANY job crosses — exercises the warning path without
    # having to force a real multi-GiB spill in CI
    with StageMetricsDelta(spark, warn_bytes=-1) as m:
        df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    assert m.warning is not None and "SPILL WARNING" in m.warning


def test_degraded_enter_scan_reports_zeros_not_history(spark, monkeypatch):
    # ADVICE r13: if the ENTER scan degrades (returns anchor -1) but the
    # exit scan succeeds, the delta summed the session's entire retained
    # stage history — an overcount. A degraded window must read all-zero.
    from video_data_pipeline_spark import telemetry

    # ensure there IS history that a -1 anchor would otherwise sweep up
    df = spark.range(50_000).select((F.col("id") % 11).alias("k"))
    df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    real = telemetry._scan_stages
    calls = {"n": 0}

    def flaky(s, min_stage_id=-1):
        calls["n"] += 1
        if calls["n"] == 1:  # the enter scan fails
            return dict.fromkeys(telemetry._METRICS.values(), 0), min_stage_id, False
        return real(s, min_stage_id)

    monkeypatch.setattr(telemetry, "_scan_stages", flaky)
    with telemetry.StageMetricsDelta(spark, warn_bytes=-1) as m:
        df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    assert m.degraded
    assert all(v == 0 for v in m.delta.values()), m.delta
    assert m.warning is None, "a degraded window must not warn"


def test_listener_degraded_anchor_reanchors_without_overcount(spark):
    # same contract on the listener path: a failed anchor scan makes the
    # next window re-anchor and SKIP its check instead of summing history
    from video_data_pipeline_spark.telemetry import _QueryWarningListener

    events = []
    listener = _QueryWarningListener(spark, -1, lambda m, c: events.append(m))
    listener._since, listener._since_ok = -1, False  # simulate failed anchor
    spark.range(10_000).select((F.col("id") % 5).alias("k")).groupBy(
        "k"
    ).count().write.format("noop").mode("overwrite").save()
    listener._check_spill("save")
    assert events == [], "degraded-anchor window must skip, not warn"
    assert listener._since_ok and listener._since >= 0
    # and the NEXT window works normally (warn_bytes=-1 => any job warns)
    spark.range(10_000).select((F.col("id") % 5).alias("k")).groupBy(
        "k"
    ).count().write.format("noop").mode("overwrite").save()
    listener._check_spill("save")
    assert events, "re-anchored listener must resume warning"


def test_installed_registry_does_not_pin_or_alias_sessions():
    # ADVICE r13: id()-keyed _INSTALLED let a new session reuse a dead
    # session's CPython id and fetch the stale handle. The registry is now
    # weak-keyed and its values hold the session weakly, so entries vanish
    # with the session instead of pinning it.
    import gc
    import weakref

    from video_data_pipeline_spark import telemetry

    assert isinstance(telemetry._INSTALLED, weakref.WeakKeyDictionary)

    class FakeSession:  # weakref-able stand-in
        pass

    fake = FakeSession()
    handle = telemetry.QueryWarningsHandle(fake, listener=None)
    telemetry._INSTALLED[fake] = handle
    assert fake in telemetry._INSTALLED
    ref = weakref.ref(fake)
    del fake
    gc.collect()
    assert ref() is None, "handle/registry must not keep the session alive"


def _fresh_shape(spark):
    # a literal per call: Spark inlines it into the generated source, so
    # the plan's classes are new to this JVM's codegen cache
    import uuid

    salt = uuid.uuid4().int % 1_000_003 + 7
    return (
        spark.range(20_000)
        .select(((F.col("id") * salt) % 31).alias("k"))
        .groupBy("k")
        .count()
    )


def test_codegen_compiles_counts_then_reads_zero_on_repeat(spark):
    df = _fresh_shape(spark)
    rounds = []
    for _ in range(2):
        with StageMetricsDelta(spark) as m:
            df.write.format("noop").mode("overwrite").save()
        rounds.append(m.delta["codegen_compiles"])
    assert rounds[0] > 0 and rounds[1] == 0, rounds


class _NoCodegenMetricsJvm:
    """The session's JVM view with every ``org.*`` lookup failing, as
    after a rename of ``CodegenMetrics``; ``java.*`` still resolves."""

    def __init__(self, jvm):
        self._real = jvm

    def __getattr__(self, name):
        if name == "org":
            raise RuntimeError("no CodegenMetrics")
        return getattr(self._real, name)


class _Proxy:
    def __init__(self, real, **overrides):
        self._real = real
        self.__dict__.update(overrides)

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_codegen_compiles_degrade_to_zero_on_py4j_failure(spark):
    sc = _Proxy(spark.sparkContext, _jvm=_NoCodegenMetricsJvm(spark.sparkContext._jvm))
    stub = _Proxy(spark, sparkContext=sc)
    assert codegen_compile_count(stub) is None
    with StageMetricsDelta(stub) as m:
        _fresh_shape(spark).write.format("noop").mode("overwrite").save()
    assert not m.degraded, "the stage scan does not depend on CodegenMetrics"
    assert m.delta["codegen_compiles"] == 0
    assert m.delta["shuffle_write_bytes"] > 0

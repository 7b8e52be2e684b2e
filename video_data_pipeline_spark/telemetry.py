"""Driver-side stage-metrics telemetry: spill / shuffle bytes per query,
plus the classes the JVM compiled from generated code.

Motivation (r10/r11 VERDICT #5): the sfp30 probe's uncapped pair joins
died as *disk exhaustion five minutes in* — the only observable was the OS
filling up. The metric that names the pathology before the disk fills is
``diskBytesSpilled`` (and its memory twin), which Spark already tracks per
stage; this module surfaces it driver-side so ``tools/perf_probe.py`` and
``tools/bench_e2e.py`` can record a per-query spill/shuffle budget and
WARN while the job is still healthy.

Why not a ``SparkListener``: a Python listener needs the py4j callback
server (an extra socket + thread, and a hard dependency on gateway
lifecycle). The driver's ``AppStatusStore`` — the store the Spark UI reads
— already aggregates task metrics per stage, so we read it directly
through the existing py4j gateway: zero setup, works on any driver
session, and survives query failures (the partial stages are still in the
store, so a killed probe cell still reports how much it had spilled).

Caveats, by construction:
- totals are CUMULATIVE across the session; use :class:`StageMetricsDelta`
  around a unit of work for per-query numbers.
- the store retains ``spark.ui.retainedStages`` (default 1000) stages.
  Deltas are therefore computed BY STAGE ID (sum over stages newer than
  the window start), not as a difference of cumulative totals — the
  cumulative diff went to zero whenever eviction removed pre-window
  stages during the window (observed on a long pytest session, r13). A
  window only undercounts if >1000 stages complete INSIDE it and its own
  early stages get evicted — far beyond any single measured query here.
"""

from __future__ import annotations

import threading
import warnings
import weakref

#: AppStatusStore StageData getter -> snake_case key in our records, summed
#: over the window's stages; the ``None`` getter counts the stages themselves
_METRICS = {
    "diskBytesSpilled": "disk_spill_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "inputBytes": "input_bytes",
    "executorRunTime": "executor_run_time_ms",
    "numCompleteTasks": "n_tasks",
    None: "n_stages",
}

#: default WARN threshold: 8 GiB of disk spill in one query is the scale of
#: the sfp30 pathology's opening minutes, far above every healthy query's
#: measured spill (0 across the r12 probe matrix at sf0.01-sf10)
SPILL_WARN_BYTES = 8 << 30


_DEGRADED_WARNED = False


def _scan_stages(
    spark, min_stage_id: int = -1
) -> tuple[dict[str, int], int, bool]:
    """(metrics summed over retained stages with stageId > min_stage_id,
    max stageId seen, scan-succeeded flag). Degrades to
    (zeros, min_stage_id, False) with a one-time warning on any py4j
    failure. The flag lets window
    anchors distinguish "no stages yet" (-1, ok) from "scan failed" (-1,
    degraded): summing a later window from a FAILED anchor would count the
    session's entire retained history — an overcount the never-overcount
    contract forbids (ADVICE r13)."""
    global _DEGRADED_WARNED
    out = dict.fromkeys(_METRICS.values(), 0)
    max_id = min_stage_id
    try:
        sc = spark.sparkContext
        jvm, gw = sc._jvm, sc._gateway
        store = sc._jsc.sc().statusStore()
        # full Scala signature (no py4j default-arg support):
        # stageList(statuses, details, withSummaries, unsortedQuantiles, taskStatus)
        stages = store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            sid = int(s.stageId())
            if sid > max_id:
                max_id = sid
            if sid <= min_stage_id:
                continue
            for getter, key in _METRICS.items():
                out[key] += int(getattr(s, getter)()) if getter else 1
    except Exception as e:  # noqa: BLE001 — Spark API drift / dead session
        if not _DEGRADED_WARNED:
            _DEGRADED_WARNED = True
            warnings.warn(
                "stage-metrics telemetry degraded to zeros (AppStatusStore "
                f"read failed: {e!r}) — spill/shuffle numbers will be "
                "missing, the measured job is unaffected",
                RuntimeWarning,
                stacklevel=2,
            )
        return dict.fromkeys(_METRICS.values(), 0), min_stage_id, False
    return out, max_id, True


def codegen_compile_count(spark) -> int | None:
    """Classes this JVM has compiled from generated code so far: the count
    of Spark's ``CodegenMetrics`` compilation-time histogram, which gets
    one update per codegen cache miss. Only the count is exact; the
    histogram's time values are a sampled reservoir, so their sum is not.
    None on any py4j failure, so callers degrade instead of raising."""
    try:
        metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())
    except Exception:  # noqa: BLE001 — Spark API drift / dead session
        return None


class StageMetricsDelta:
    """Context manager: per-unit-of-work spill/shuffle bytes.

    >>> with StageMetricsDelta(spark) as m:
    ...     df.write.format("noop").mode("overwrite").save()
    >>> m.delta  # {'disk_spill_bytes': 0, 'shuffle_write_bytes': 1234, ...}
    >>> m.warning  # None, or a human-readable spill warning string

    ``delta``/``warning`` are also populated when the body RAISES — the
    spill of a dying query is exactly the number the probe wants.
    ``degraded`` is True when either status-store scan failed; the stage
    sums are then zeros, not measurements.

    ``delta["codegen_compiles"]`` counts the classes this JVM compiled from
    generated code during the window (:func:`codegen_compile_count`): 0 on
    a repeat of plan shapes the codegen cache still holds. In local mode
    that covers the executors too; on a cluster, driver-side compiles only."""

    def __init__(self, spark, warn_bytes: int = SPILL_WARN_BYTES):
        self._spark = spark
        self._warn_bytes = warn_bytes
        self.delta: dict[str, int] = {}
        self.warning: str | None = None
        self.degraded = False

    def __enter__(self) -> "StageMetricsDelta":
        # record the newest stage id, NOT a cumulative snapshot: summing
        # only stages newer than this is immune to the store evicting
        # pre-window stages mid-window (which zeroed cumulative diffs on
        # long sessions — r13 fix)
        _, self._since, ok = _scan_stages(self._spark)
        # a FAILED enter scan anchors at -1, which a succeeding exit scan
        # would read as "sum every retained stage" — an overcount. Report
        # zeros for the window instead (ADVICE r13): telemetry degrades,
        # never overstates.
        self.degraded = not ok
        self._compiles = codegen_compile_count(self._spark)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self.degraded:
            self.delta = dict.fromkeys([*_METRICS.values(), "codegen_compiles"], 0)
            return
        try:
            after, _, ok = _scan_stages(self._spark, self._since)
        except Exception:  # noqa: BLE001 — a dead session shouldn't mask exc
            return
        # a failed exit scan reads as zeros; flag it so nobody takes them
        # for a window that did no work
        self.degraded = not ok
        self.delta = {k: max(0, v) for k, v in after.items()}
        compiles = codegen_compile_count(self._spark)
        self.delta["codegen_compiles"] = (
            max(0, compiles - self._compiles)
            if compiles is not None and self._compiles is not None
            else 0
        )
        spilled = self.delta.get("disk_spill_bytes", 0) + self.delta.get(
            "memory_spill_bytes", 0
        )
        if spilled > self._warn_bytes:
            self.warning = (
                f"SPILL WARNING: {self.delta['disk_spill_bytes'] >> 20} MiB disk "
                f"+ {self.delta['memory_spill_bytes'] >> 20} MiB memory spilled "
                f"(> {self._warn_bytes >> 30} GiB threshold) — pathological "
                "corpus shape (hot bucket / skewed key); check the operator's "
                "cap telemetry before the spill disk fills"
            )


# --------------------------------------------------- session-level warnings
#
# r13 (VERDICT r12 #6 + ADVICE): the probe tools wrap units of work in
# StageMetricsDelta by hand; production use of the registered queries had
# no equivalent, so a binding cap announced itself only through an
# Observation the caller had to pass AND read. The opt-in listener below
# gives EVERY query on the session both warnings for free:
#
# - cap divergence: every capped pair generator now auto-attaches a named
#   observation ("cap:<family>#<n>") when the caller passes none; the
#   listener scans each finished query's observed metrics and WARNS when
#   any `oversized_*` counter is nonzero — a capped-subset answer can no
#   longer be mistaken for oracle-exact.
# - spill: per-query stage-metric deltas against the 8 GiB threshold —
#   the same early warning the probes get, without the manual wrapper.
#   (Under concurrent actions the delta attribution is approximate: the
#   counters are session-cumulative, so a warning names the query that
#   OBSERVED the spill crossing, which on a busy session may include a
#   concurrent query's bytes. The binary signal — "this session is
#   spilling past the pathology threshold" — is exact.)


class CapDivergenceWarning(UserWarning):
    """A registered query's hot-bucket cap BOUND: the result is a capped
    subset, not the oracle-exact answer."""


class SpillWarning(UserWarning):
    """A query spilled past the pathology threshold."""


_OBS_SEQ = iter(range(1 << 62))


def cap_observation_name(family: str) -> str:
    """Unique name for an auto-attached cap observation. Uniqueness
    matters: two capped generators composed into ONE query would
    otherwise collide on the CollectMetrics name at analysis time. The
    ``cap:`` prefix is a NAMING convention for readability of the warning
    text; the listener matches on the observation's FIELDS (any nonzero
    ``oversized_*`` counter), not the name — deliberately, so a
    caller-supplied Observation with its own name still trips the
    cap-divergence warning (ADVICE r13: the docstring used to claim a
    prefix match that never existed)."""
    return f"cap:{family}#{next(_OBS_SEQ)}"


class _QueryWarningListener:
    """py4j-callback QueryExecutionListener behind
    :func:`install_query_warnings`. Every callback body is exception-
    proof: telemetry must never fail the listener bus."""

    def __init__(self, spark, spill_warn_bytes: int, emit):
        # weak: py4j's callback pool keeps THIS object alive for the
        # gateway's lifetime (JVM-side unregister never matches — see
        # below), so a strong session ref here would pin every stopped
        # session forever and defeat _INSTALLED's weak keying
        self._spark_ref = weakref.ref(spark)
        self._spill_warn_bytes = spill_warn_bytes
        self._emit = emit
        self._lock = threading.Lock()
        _, self._since, self._since_ok = _scan_stages(spark)
        # py4j wraps the Python object in a NEW Java proxy per call, so
        # listenerManager().unregister(self) never matches the proxy that
        # register() created (identity equals) — the JVM-side registration
        # is effectively permanent. Deactivation is therefore PYTHON-side:
        # uninstall flips this flag and the callbacks become no-ops
        # (measured: without it, an uninstalled listener kept emitting
        # into its old sink on every later query).
        self.active = True

    # -- QueryExecutionListener interface -------------------------------
    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java name)
        try:
            if self.active:
                self._check(funcName, qe)
        except Exception:  # noqa: BLE001
            pass

    def onFailure(self, funcName, qe, exception):  # noqa: N802 (Java name)
        try:
            # the spill of a dying query is the number that names the
            # pathology — check failed executions too
            if self.active:
                self._check(funcName, qe)
        except Exception:  # noqa: BLE001
            pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    # -- internals -------------------------------------------------------
    def _check(self, func_name, qe) -> None:
        self._check_observed(qe)
        self._check_spill(func_name)

    def _check_observed(self, qe) -> None:
        m = qe.observedMetrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            name, row = kv._1(), kv._2()
            fields = list(row.schema().fieldNames())
            vals = {f: row.get(i) for i, f in enumerate(fields)}
            oversized = sum(
                int(v) for f, v in vals.items()
                if f.startswith("oversized") and v is not None
            )
            if oversized <= 0:
                continue
            seen = {
                f: int(v) for f, v in vals.items()
                if f.startswith("max_") and v is not None
            }
            # recall arithmetic (r15, VERDICT r14 #8): when the capped
            # families attach their in-bucket workload sums, the warning
            # carries the MEASURED recall, not just that the cap engaged
            up = vals.get("uncapped_candidate_pairs")
            cp = vals.get("capped_candidate_pairs")
            recall = ""
            if up is not None and cp is not None:
                pct = 100.0 * int(cp) / max(int(up), 1)
                recall = (
                    f" Emitted in-bucket candidate workload: {int(cp):,} "
                    f"of {int(up):,} ({pct:.1f}%)."
                )
            self._emit(
                f"CAP DIVERGENCE [{name}]: {oversized} bucket(s) exceeded "
                f"the hot-bucket cap ({seen or 'sizes n/a'}) — this result "
                f"is a CAPPED SUBSET, not the oracle-exact answer.{recall} "
                "Re-run with calibrate=True (exact plan or named refusal) "
                "or max_bucket_size=None (exact, quadratic workload), or "
                "accept documented partial recall.",
                CapDivergenceWarning,
            )

    def _check_spill(self, func_name) -> None:
        spark = self._spark_ref()
        if spark is None:  # session collected; nothing to measure
            return
        with self._lock:
            since, since_ok = self._since, self._since_ok
            delta, new_since, ok = _scan_stages(spark, since)
            self._since, self._since_ok = new_since, ok
            if not since_ok:
                # the PREVIOUS anchor scan failed, so this window spans
                # the session's whole retained history — an overcount.
                # Re-anchor (done above) and skip the check (ADVICE r13).
                return
        spilled = delta.get("disk_spill_bytes", 0) + delta.get(
            "memory_spill_bytes", 0
        )
        if spilled > self._spill_warn_bytes:
            self._emit(
                f"SPILL WARNING [{func_name}]: {spilled >> 20} MiB spilled "
                f"since the previous query (> "
                f"{max(self._spill_warn_bytes, 0) >> 20} MiB threshold) — "
                "pathological corpus shape (hot bucket / skewed key); check "
                "the operator's cap telemetry before the spill disk fills",
                SpillWarning,
            )


class QueryWarningsHandle:
    """Returned by :func:`install_query_warnings`; keeps the Python
    callback object alive (py4j requirement) and supports uninstall."""

    def __init__(self, spark, listener):
        # weak, like the listener's ref: the handle lives in _INSTALLED's
        # VALUES, so a strong session ref would pin the weak KEY forever
        self._spark_ref = weakref.ref(spark)
        self.listener = listener

    def uninstall(self) -> None:
        # deactivate FIRST (the authoritative off-switch — see the
        # listener's proxy-identity note), then best-effort unregister
        self.listener.active = False
        spark = self._spark_ref()
        if spark is None:  # session already collected — entry gone too
            return
        try:
            spark._jsparkSession.listenerManager().unregister(self.listener)
        except Exception:  # noqa: BLE001
            pass
        _INSTALLED.pop(spark, None)


# Weak-keyed by the live SparkSession object (ADVICE r13): an id()-keyed
# dict let a NEW session that reused a garbage-collected session's CPython
# id fetch the dead session's handle and silently skip installing the
# listener on the live one. Weak keys make dead-session entries vanish
# with the session, and identity keying cannot alias while the key lives.
_INSTALLED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _ensure_callback_server(spark) -> None:
    """Start py4j's callback server (JVM→Python calls) once per gateway,
    on an ephemeral port, and point the JVM's callback client at it —
    the documented dance for port-0 callback servers."""
    from py4j.java_gateway import CallbackServerParameters

    gw = spark.sparkContext._gateway
    # pyspark's pinned-thread gateway (ClientServer) creates callback
    # CONNECTION threads with the daemon flag from its python_parameters,
    # NOT from the CallbackServerParameters below — with the stock False
    # those non-daemon threads outlive the main thread and block
    # interpreter exit (measured: a bench run with warnings enabled hung
    # >3 min after completing). Flip them before any connection exists;
    # a telemetry callback dropped at exit is the correct trade.
    pp = getattr(gw, "python_parameters", None)
    if pp is not None:
        pp.daemonize = True
        pp.daemonize_connections = True
    started = gw.start_callback_server(
        CallbackServerParameters(
            port=0, daemonize=True, daemonize_connections=True
        )
    )
    if started:
        jgws = gw.java_gateway_server
        jgws.resetCallbackClient(
            jgws.getCallbackClient().getAddress(),
            gw.get_callback_server().get_listening_port(),
        )


def install_query_warnings(
    spark,
    spill_warn_bytes: int = SPILL_WARN_BYTES,
    emit=None,
) -> QueryWarningsHandle:
    """Attach the session-level warning listener (idempotent per
    session). ``emit(message, category)`` defaults to ``warnings.warn``;
    tests inject a collector (listener-bus callbacks run on a JVM-driven
    thread, so a plain list sidesteps cross-thread warning capture).

    This call is the one switch: ``get_spark`` never installs it. The py4j
    callback server it needs is an extra socket + daemon thread — the
    reason it is not unconditionally on (see module docstring)."""
    if spark in _INSTALLED:
        return _INSTALLED[spark]
    if emit is None:
        def emit(message, category):  # pragma: no cover - default path
            warnings.warn(message, category, stacklevel=2)
    _ensure_callback_server(spark)
    listener = _QueryWarningListener(spark, spill_warn_bytes, emit)
    spark._jsparkSession.listenerManager().register(listener)
    handle = QueryWarningsHandle(spark, listener)
    _INSTALLED[spark] = handle
    return handle

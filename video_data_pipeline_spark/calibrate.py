"""Hot-bucket cap calibration: measure a corpus BEFORE the pair joins run.

Every pair generator ships its 100 TB hot-bucket guard ON by default
(r12): minhash-LSH bands, prefix-filter buckets, containment postings,
and the simhash pigeonhole front each cap their candidate buckets. The
caps are calibrated never to bind on non-degenerate corpora — but on a
boilerplate-heavy crawl they CAN bind, and a bound cap means the
registered query returns a capped SUBSET, not the oracle answer
(measured: the simhash default emits 3.28M of 6.64M oracle pairs on the
10x-perturbed sfp1 corpus, CORRECTNESS_sfp1_r12.json).

All four capped fronts share the two pieces of this module:

- :func:`preflight`, the one decision ladder behind every
  ``calibrate=True`` branch. It takes a family's ordered fronts (one for
  minhash, prefix and containment; chunks then combos for simhash),
  measures each with ONE linear groupBy (:func:`measure_front` — no pair
  expansion, so it is safe on corpora whose joins would not be), and
  decides:

  - the default cap does not bind → proceed with the registered default
    (exact, bounded; the measurement cost was one cheap agg);
  - the cap binds but some measured geometry's EXACT (uncapped)
    candidate workload fits the budget → proceed uncapped on the
    cheapest such geometry (on low-entropy corpora that is typically the
    Manku-style 20x30-bit simhash combo keys: measured 58M vs 148M
    candidates at sfp1 — both geometries are complete for hamming <= 3,
    so the output is oracle-exact either way);
  - every exact plan exceeds the budget → raise :class:`CapBoundError`
    naming the boundary and the measured workload, instead of silently
    emitting a 49%-recall subset. The caller can re-run with an explicit
    cap (accepting documented partial recall — the pre-flight then
    measures and reports it, and never refuses) or a cap of ``None``
    (accepting the quadratic workload; no pre-flight runs).

  Only the measurement is memoized, in process (``{geometry:
  FrontStats}`` keyed by family, corpus fingerprint and cap); the
  decision is driver arithmetic re-derived on every call, so a refusal
  or a budget change never re-measures. The retired cross-process JSON
  sidecar and ``tools/plan_cache_probe.py`` reproduce at commit
  ``27207c8``.

- :func:`observe_cap`, the one cap telemetry the four capped cores
  attach to their bucket frames: five metrics, auto-named, with the same
  pair arithmetic as :func:`measure_front`, so the pre-flight and the
  run-time observation count one workload one way.

The same measurement core backs ``python -m video_data_pipeline_spark
calibrate`` (the manual pre-flight CLI; ``tools/cap_calibrate.py`` ran the
same loop and reproduces at commit ``296c966``) through
:func:`standard_fronts`, which builds each front with the family's own key
builder — the frame the registered pre-flight measures.

At 100 TB the measurement is one shuffle over the corpus per front —
~the cost of a distinct-count — and the decision it buys is the
difference between a silent recall hole and a named, budgeted plan.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger("video_data_pipeline_spark.calibrate")

#: Default candidate-pair budget for an auto-selected EXACT plan. Sized
#: from measured runs: 148M uncapped simhash candidates at sfp1 verified
#: in 31.8 s on local[32] (TRENDS r12), and the sfp30 capped cells sit
#: near 50M pairs at ~20 s — 200M keeps auto-exact plans in the
#: tens-of-seconds-per-node class while refusing the truly quadratic
#: regimes (sfp30 chunks: ~4.6B candidates) that exhaust spill disk.
DEFAULT_PAIR_BUDGET = 200_000_000

#: r15 (VERDICT r14 #4+#5): the verified families (prefix-filter,
#: containment) verify in STAGES — candidates attach a fixed-size
#: packed-histogram summary (8 BIGINTs + n + sat per side) and a safe
#: intersection upper bound prunes them before the full arrays join
#: (``simjoin.py::summary_table``). That makes the per-candidate bytes
#: through the heavy shuffle a measured CONSTANT (~160 B: two 72 B
#: summaries + ids), independent of set length — so the workload model
#: budgets candidates x bytes instead of a count proxy (which refused
#: affordable short-set corpora and accepted expensive long-set ones).
#: Anchored to two live runs on local[32]/128 GiB:
#: PROBE_PREFIX_STAGED_SFP10_r15 — 151.2M candidates (22.5 GiB logical)
#: through the staged filter, 1.38 GB disk spill, 220 s;
#: PROBE_CONTAINMENT_STAGED_SFP10_r15 — 601M candidates (89.5 GiB
#: logical), 2.5 GB disk spill, 200 s (the packed summaries compress
#: ~30x in the shuffle, so logical bytes overstate the I/O). 128 GiB sits
#: just above the heavier measured run and well below the r14 count
#: proxy's pathology (PROBE_PREFIX_CAL_SFP10_r14: a 151.2M-candidate
#: unstaged proceed spilled 36 GB disk); sfp30's fronts (193 GiB prefix /
#: 768 GiB containment) still refuse.
STAGED_CANDIDATE_BYTES = 160
DEFAULT_CANDIDATE_BYTE_BUDGET = 128 << 30

#: r16 (VERDICT r15 #4): maps LOGICAL candidate bytes to worst-case node
#: disk spill for the headroom floor below. Both staged sfp10 probes
#: spilled well under 1/16 of their logical workload (1.38 GB of
#: 22.5 GiB = 6.1%; 2.5 GB of 89.5 GiB = 2.8% — the packed summaries
#: compress ~30x in the shuffle), so assuming a node may spill up to
#: budget/8 of real disk bounds both measurements with 2x margin.
SPILL_HEADROOM_FACTOR = 8


def declared_executor_count(spark) -> int:
    """``spark.executor.instances`` as an int, degrading to 1 (local mode,
    dynamic allocation without a fixed count, or a non-numeric value)."""
    try:
        return max(1, int(spark.conf.get("spark.executor.instances", "1")))
    except (ValueError, TypeError):
        return 1


def measured_local_headroom_bytes(spark=None) -> tuple[int, str] | None:
    """``statvfs`` free bytes of the shuffle spill directory — the first
    entry of ``spark.local.dir`` (falling back to ``$SPARK_LOCAL_DIRS``,
    then the system tmpdir, which is Spark's own default). Measured on
    the DRIVER: a proxy floor for executor disk headroom — exact in
    local mode, honest-best-effort on a heterogeneous cluster (the
    refusal/decision text names the measured number and the knob).
    Returns ``(free_bytes, path)`` or None when nothing can be statted."""
    import tempfile

    local = None
    if spark is not None:
        try:
            local = spark.conf.get("spark.local.dir", None)
        except Exception:  # noqa: BLE001 — conf access must never fail the query
            local = None
    path = (
        local or os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
    ).split(",")[0].strip()
    try:
        st = os.statvfs(path)
        return st.f_bavail * st.f_frsize, path
    except OSError:
        return None


@dataclass
class ResolvedByteBudget:
    """Runtime byte budget for the staged verified-family pre-flights
    (r16, VERDICT r15 #4): per node, the LOWER of the probe-anchored
    constant (:data:`DEFAULT_CANDIDATE_BYTE_BUDGET`) and measured
    local-disk headroom (free bytes x :data:`SPILL_HEADROOM_FACTOR` —
    the probe machine's ~disk profile is no longer assumed), scaled by
    the declared executor count. ``provenance`` is the human-readable
    arithmetic, carried into every decision/refusal message so the
    artifact names the measured free space alongside the workload."""

    total: int
    per_node: int
    n_executors: int
    free_bytes: int | None
    provenance: str


def resolve_byte_budget(spark) -> ResolvedByteBudget:
    """The per-node bound scales by ``spark.executor.instances`` (via
    :func:`declared_executor_count`; absent degrades to 1, the measured
    single-node bound): the staged filter's shuffle keys on uniform ids,
    so it spreads evenly and an N-executor cluster tolerates ~N x the
    bytes before any one node spills past its disk. A dynamic-allocation
    operator should pass ``pair_budget`` explicitly instead."""
    n = declared_executor_count(spark)
    measured = measured_local_headroom_bytes(spark)
    gib = 1 << 30
    if measured is None:
        per_node = DEFAULT_CANDIDATE_BYTE_BUDGET
        prov = (
            f"byte budget {per_node / gib:.0f} GiB/node (probe-anchored "
            f"constant; local-disk headroom unmeasurable) x {n} executor(s)"
        )
        return ResolvedByteBudget(per_node * n, per_node, n, None, prov)
    free, path = measured
    floor = free * SPILL_HEADROOM_FACTOR
    per_node = min(DEFAULT_CANDIDATE_BYTE_BUDGET, floor)
    if floor < DEFAULT_CANDIDATE_BYTE_BUDGET:
        prov = (
            f"byte budget {per_node / gib:.1f} GiB/node — measured spill-dir "
            f"headroom BINDS below the probe-anchored constant: {path!r} free "
            f"{free / gib:.1f} GiB x {SPILL_HEADROOM_FACTOR} (measured "
            f"spill-to-logical margin) = {floor / gib:.1f} GiB < "
            f"{DEFAULT_CANDIDATE_BYTE_BUDGET / gib:.0f} GiB; x {n} executor(s)"
        )
    else:
        prov = (
            f"byte budget {per_node / gib:.0f} GiB/node (probe-anchored "
            f"constant; measured spill-dir {path!r} free {free / gib:.1f} GiB "
            f"x {SPILL_HEADROOM_FACTOR} headroom floor not binding) x "
            f"{n} executor(s)"
        )
    return ResolvedByteBudget(per_node * n, per_node, n, free, prov)


# ------------------------------------------------ measurement + telemetry


@dataclass
class FrontStats:
    """Bucket-size distribution of one pair-generator front, measured by
    one linear groupBy (no pair expansion). ``uncapped_pairs`` /
    ``capped_pairs`` are the in-bucket candidate workloads sum(n*(n-1)/2)
    — computed with INTEGER arithmetic (``div``), not float division, so
    the degenerate regimes this tool exists to measure don't lose
    precision past 2^53."""

    name: str
    default_cap: int
    n_buckets: int
    max_bucket: int
    p99_bucket: int
    oversized: int
    uncapped_pairs: int
    capped_pairs: int

    @property
    def binds(self) -> bool:
        return self.oversized > 0

    def as_dict(self) -> dict:
        return {
            "default_cap": self.default_cap,
            "n_buckets": self.n_buckets,
            "max": self.max_bucket,
            "p99": self.p99_bucket,
            "oversized": self.oversized,
            "uncapped_pairs": self.uncapped_pairs,
            "capped_pairs": self.capped_pairs,
            "binds": self.binds,
        }


def _cap_aggs(n: str, cap: int):
    """(oversized, max, uncapped pairs, capped pairs) aggregates over the
    bucket-size expression ``n`` — the ONE arithmetic behind both the
    pre-flight (:func:`measure_front`) and the run-time observation
    (:func:`observe_cap`)."""
    capped = f"least({n}, {cap})"
    return (
        F.sum(F.expr(f"{n} > {cap}").cast("long")),
        F.max(F.expr(n)),
        F.expr(f"sum({n} * ({n} - 1) div 2)"),
        F.expr(f"sum({capped} * ({capped} - 1) div 2)"),
    )


def measure_front(keys: DataFrame, default_cap: int, name: str = "front") -> FrontStats:
    """Measure one front's bucket-size distribution. ``keys`` is a
    one-column (``key``) DataFrame with one row per (doc, bucket-key)
    membership; the measurement is a single groupBy + agg — linear in the
    corpus, never quadratic. NULL aggregates (an empty or single-bucket
    corpus returns NULL max/p99) default to 0 instead of raising."""
    sizes = keys.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    oversized, largest, uncapped, capped = _cap_aggs("n", default_cap)
    r = (
        sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            largest.alias("max_bucket"),
            F.expr("percentile_approx(n, 0.99)").alias("p99_bucket"),
            oversized.alias("oversized"),
            uncapped.alias("uncapped_pairs"),
            capped.alias("capped_pairs"),
        )
        .collect()[0]
        .asDict()
    )
    return FrontStats(
        name=name,
        default_cap=default_cap,
        **{k: int(v) if v is not None else 0 for k, v in r.items()},
    )


def observe_cap(
    buckets: DataFrame,
    family: str,
    cap: int | None,
    size: str,
    observation=None,
    unit: str = "bucket",
) -> DataFrame:
    """Attach the cap telemetry to a capped core's grouped bucket frame
    (one row per bucket, ``size`` the SQL expression of its UNCAPPED
    member count). With no caller ``observation`` and a cap set, a named
    one is auto-attached (:func:`telemetry.cap_observation_name`) so the
    session listener can warn when the cap BINDS — a capped subset must
    never read as exact; uncapped and unobserved, the frame is returned
    as is. Metrics: ``n_{unit}s``, ``oversized_{unit}s``,
    ``max_{unit}_size_seen`` (``unit`` is ``"posting"`` for containment,
    ``"bucket"`` for the rest — the names the listener and the headroom
    gates read), plus the recall arithmetic ``uncapped_candidate_pairs``
    / ``capped_candidate_pairs`` (r15, VERDICT r14 #8): a capped run
    self-reports "emitted ~X of Y in-bucket candidates", counted exactly
    as :func:`measure_front` counts them."""
    if observation is None:
        if cap is None:
            return buckets
        from video_data_pipeline_spark.telemetry import cap_observation_name

        observation = cap_observation_name(family)
    oversized, largest, uncapped, capped = _cap_aggs(
        size, cap if cap is not None else 1 << 62
    )
    return buckets.observe(
        observation,
        F.count(F.lit(1)).alias(f"n_{unit}s"),
        oversized.alias(f"oversized_{unit}s"),
        largest.alias(f"max_{unit}_size_seen"),
        uncapped.alias("uncapped_candidate_pairs"),
        capped.alias("capped_candidate_pairs"),
    )


# ---------------------------------------------------------- the pre-flight


class CapBoundError(RuntimeError):
    """The default cap binds on this corpus AND no exact plan fits the
    budget: refusing is the honest answer (a silent capped subset reads
    as oracle-exact). Carries the per-geometry :class:`FrontStats` so the
    caller/artifact can record the named boundary."""

    def __init__(self, message: str, stats: dict[str, FrontStats]):
        super().__init__(message)
        self.stats = stats


@dataclass
class FrontPlan:
    """Outcome of :func:`preflight`: the geometry to run, with which cap,
    and the measurements that justify it. ``decision`` is

    - ``"default"``: the family default cap was measured not to bind —
      the registered plan, exact;
    - ``"exact_uncapped"``: the default binds; the cheapest measured
      geometry whose exact workload fits the budget runs uncapped —
      exact;
    - ``"explicit_capped"``: the caller's own non-default cap (accepted
      partial recall); ``reason`` reports the measured recall.

    A binding default with no geometry inside the budget raises
    :class:`CapBoundError` instead."""

    decision: str
    geometry: str
    max_bucket_size: int | None
    reason: str
    stats: dict[str, FrontStats]


def preflight(
    family: str,
    fronts: dict[str, Callable[[], DataFrame]],
    cap: int,
    default: int,
    pair_budget: int | None = None,
    bytes_per_candidate: int | None = None,
    escape_arg: str = "max_bucket_size",
    sf_dir: str | None = None,
) -> FrontPlan:
    """The cap pre-flight of every capped pair family.

    ``fronts`` maps each geometry, in preference order, to a builder of
    its one-column ``key`` frame (one row per (doc, bucket-key)
    membership — the family's own front-key builder over the checkpointed
    frame the join then consumes). Builders are called only for the
    fronts actually measured. A cap of None needs no pre-flight: the
    caller already chose the uncapped exact join, so the registered
    queries skip this call (ADVICE r13 — nothing can refuse it).

    - ``cap != default``: an explicit cap is accepted partial recall (the
      escape a refusal names, r15 / ADVICE r14): the first front is
      measured at that cap, the recall arithmetic is reported, and the
      plan proceeds with the caller's cap — never a refusal.
    - otherwise the first front is measured; if the default does not
      bind, the plan is ``default``. If it binds, every other front is
      measured too, and the cheapest geometry whose exact (uncapped)
      workload fits the budget runs uncapped, else :class:`CapBoundError`
      lists every measured front.

    Budget model: with ``bytes_per_candidate`` set (the verified families
    pass :data:`STAGED_CANDIDATE_BYTES`) and no ``pair_budget``, the
    proceed test is bytes-weighted against :func:`resolve_byte_budget`
    (r15, VERDICT r14 #4 — bytes are what a node spills); otherwise it
    counts pairs against ``pair_budget`` (default
    :data:`DEFAULT_PAIR_BUDGET`). ``uncapped_pairs`` upper-bounds the real
    candidates of the length-filtered/asymmetric fronts, so a proceed is
    always safe and a refusal conservative by at most that slack.

    With ``sf_dir`` the measurement is memoized under
    ``(family, corpus_fingerprint(sf_dir), cap)`` (:func:`cached_plan`);
    the decision is re-derived on every call."""
    geometry = next(iter(fronts))
    fp = None if sf_dir is None else corpus_fingerprint(sf_dir)
    key = None if fp is None else (family, fp, cap)

    def measure():
        stats = {geometry: measure_front(fronts[geometry](), cap, geometry)}
        if cap == default and stats[geometry].binds:
            for g, build in list(fronts.items())[1:]:
                stats[g] = measure_front(build(), cap, g)
        return stats

    stats = cached_plan(key, measure)
    first = stats[geometry]
    if cap != default:
        if not first.binds:
            reason = (
                f"explicit cap {cap} does not bind (measured max bucket "
                f"{first.max_bucket}) — output is exact here"
            )
        else:
            pct = 100.0 * first.capped_pairs / max(first.uncapped_pairs, 1)
            reason = (
                f"explicit cap {cap} BINDS (max bucket {first.max_bucket}, "
                f"{first.oversized} oversized buckets): proceeding with the "
                f"caller's accepted partial recall — in-bucket candidate "
                f"workload {first.capped_pairs:,} of {first.uncapped_pairs:,} "
                f"({pct:.1f}%)"
            )
        (log.warning if first.binds else log.info)(
            "%s calibration (explicit cap): %s", family, reason
        )
        return FrontPlan("explicit_capped", geometry, cap, reason, stats)
    if not first.binds:
        reason = (
            f"default cap {cap} does not bind (measured max bucket "
            f"{first.max_bucket}) — registered default is exact here"
        )
        log.info("%s calibration: %s", family, reason)
        return FrontPlan("default", geometry, cap, reason, stats)

    gib = 1 << 30
    if bytes_per_candidate is not None and pair_budget is None:
        rb = resolve_byte_budget(SparkSession.active())
        unit, budget, note = bytes_per_candidate, rb.total, f" [{rb.provenance}]"
        budget_text = f"the candidate byte budget ({budget / gib:.0f} GiB)"

        def workload(s):
            return (
                f"{s.uncapped_pairs:,} candidates x {unit} B = "
                f"{s.uncapped_pairs * unit / gib:.1f} GiB"
            )
    else:
        unit, note = 1, ""
        budget = DEFAULT_PAIR_BUDGET if pair_budget is None else pair_budget
        budget_text = f"pair_budget={budget:,}"

        def workload(s):
            return f"{s.uncapped_pairs:,} exact candidate pairs"

    affordable = [s for s in stats.values() if s.uncapped_pairs * unit <= budget]
    if affordable:
        best = min(affordable, key=lambda s: s.uncapped_pairs)
        reason = (
            f"default cap {cap} BINDS on this corpus ({geometry} max bucket "
            f"{first.max_bucket}, {first.oversized} oversized buckets) — "
            f"running geometry={best.name!r} UNCAPPED instead: its exact "
            f"workload {workload(best)} fits {budget_text}; output stays "
            f"oracle-exact{note}"
        )
        log.warning("%s calibration: %s", family, reason)
        return FrontPlan("exact_uncapped", best.name, None, reason, stats)
    measured = "; ".join(
        f"{s.name} front max bucket {s.max_bucket} ({s.oversized} oversized, "
        f"{workload(s)})"
        for s in stats.values()
    )
    count_override = " (a count budget overrides the byte model)" if note else ""
    raise CapBoundError(
        f"{family} default cap {cap} BINDS on this corpus and no exact plan "
        f"fits {budget_text}: {measured}{note}. Refusing rather than "
        f"silently emitting a capped subset. Escapes: raise pair_budget"
        f"{count_override} and re-calibrate; pass {escape_arg}=None to "
        "accept the quadratic exact workload; or pass an explicit "
        f"non-default {escape_arg} to accept DOCUMENTED partial recall — "
        "under calibrate=True the pre-flight then MEASURES the recall "
        "(emitted-vs-total candidate workload) and proceeds with your cap "
        "instead of refusing again.",
        stats,
    )


# ------------------------------------------------ pre-flight measurement cache
#
# r14 (VERDICT r13 #8): a front's MEASUREMENT depends only on the corpus
# bytes and the cap, so repeated calibrated runs on an unchanged corpus
# skip the measurement shuffle. The cache stores plain
# ``{geometry: FrontStats}`` dicts — never DataFrames, so entries are
# session-independent — keyed by (family, stat-based corpus fingerprint
# (realpath + per-file mtime_ns + size), cap): any rewrite of the parquet
# changes the key, so staleness is structural, not timed. Decisions are
# NOT cached: they depend on the budget (pair_budget, executor count,
# measured disk headroom), and re-deriving one from the stats is
# microseconds of driver arithmetic — so a proceed computed under one
# budget is never replayed under another, and a repeated refusal re-raises
# without re-measuring.


_PLAN_CACHE: dict[tuple, object] = {}


def clear_plan_cache() -> None:
    _PLAN_CACHE.clear()


def corpus_fingerprint(sf_dir: str, table: str = "documents"):
    """Stat-based fingerprint of one parquet table (file or directory of
    part files). Walks the FULL tree (ADVICE r14): a partitioned layout
    (key=val subdirs) can have a nested part file rewritten in place
    without changing top-level names or subdir sizes — and directory
    mtime does not change on child-CONTENT modification — so every leaf
    file's (relpath, mtime_ns, size) enters the key. Returns None when
    the path can't be statted — callers then bypass the cache rather
    than guess."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            entries = []
            for dirpath, dirnames, filenames in os.walk(path):
                dirnames.sort()
                rel = os.path.relpath(dirpath, path)
                for name in sorted(filenames):
                    st = os.stat(os.path.join(dirpath, name))
                    entries.append(
                        (os.path.join(rel, name), st.st_mtime_ns, st.st_size)
                    )
            return (os.path.realpath(path), tuple(entries))
        st = os.stat(path)
        return (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def cached_plan(key, compute):
    """Memoized pre-flight measurement: return/compute the value under
    ``key`` (None bypasses the cache entirely). The memo lives in this
    process only; a new driver process measures again."""
    if key is None:
        return compute()
    if key in _PLAN_CACHE:
        log.info("calibration cache hit for %s", key[0])
        return _PLAN_CACHE[key]
    _PLAN_CACHE[key] = compute()
    return _PLAN_CACHE[key]


# ------------------------------------------------------------- CLI fronts


def standard_fronts(spark, sf_dir: str):
    """(name, default_cap, key-DataFrame builder) for every capped front
    in the engine, over the documents table at ``sf_dir`` — the
    measurement matrix ``python -m video_data_pipeline_spark calibrate``
    reports. Each builder is the family's own front-key builder, the one
    its ``calibrate=True`` pre-flight measures; builders are lazy so the
    CLI can flush per-front."""
    from video_data_pipeline_spark.queries.dedup import (
        DEFAULT_LSH_MAX_BUCKET_SIZE,
        DEFAULT_SIMHASH_MAX_BUCKET_SIZE,
        band_front,
        chunk_keys,
        combo_keys,
        exact_dup_representatives,
        minhash_bands,
        pigeonhole_front,
        simhash_signatures,
    )
    from video_data_pipeline_spark.queries.registry import table
    from video_data_pipeline_spark.queries.simjoin import (
        DEFAULT_MAX_BUCKET_SIZE,
        DEFAULT_MAX_POSTING_SIZE,
        hashed_shingle_sets,
        posting_front,
        prefix_front,
    )

    docs = table(spark, sf_dir, "documents")
    reps = exact_dup_representatives(docs)
    sets = hashed_shingle_sets(docs)
    return [
        ("minhash_bands", DEFAULT_LSH_MAX_BUCKET_SIZE,
         lambda: band_front(minhash_bands(reps))),
        ("prefix_buckets", DEFAULT_MAX_BUCKET_SIZE, lambda: prefix_front(sets)),
        ("containment_postings", DEFAULT_MAX_POSTING_SIZE,
         lambda: posting_front(sets)),
        ("simhash_chunks", DEFAULT_SIMHASH_MAX_BUCKET_SIZE,
         lambda: pigeonhole_front(chunk_keys(simhash_signatures(reps)))),
        ("simhash_combos", DEFAULT_SIMHASH_MAX_BUCKET_SIZE,
         lambda: pigeonhole_front(combo_keys(simhash_signatures(reps)))),
    ]

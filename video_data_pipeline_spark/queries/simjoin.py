"""Prefix-filtered set-similarity join (AllPairs / PPJoin family).

``q_prefix_filter_join`` — exact token-set Jaccard join at threshold
τ = 0.6 via PREFIX FILTERING (Chaudhuri et al. 2006; Bayardo et al. 2007
"Scaling Up All Pairs Similarity Search"): order every document's distinct
tokens by GLOBAL RARITY (document frequency asc, term asc), keep only each
document's first ``p = n − ceil(τ·n) + 1`` tokens as its *prefix*, and
generate candidates only from shared prefix tokens. The theorem: two sets
with Jaccard ≥ τ MUST share at least one token within these prefixes — so
unlike MinHash-LSH (probabilistic recall < 1) this candidate set is
COMPLETE by construction, while still skipping the all-pairs join: prefix
tokens are the globally rarest, so their postings — and therefore the
candidate buckets — are the smallest in the corpus.

This is the second scale path for exact-threshold near-dup joins, next to
LSH-then-verify (q_jaccard_verified_pairs): LSH wins when misses are
acceptable and τ is low; prefix filtering wins when the join must be
EXACT (guaranteed recall 1.0 at the threshold).

Exactness: the similarity is over DISTINCT 3-gram shingle sets (the same
similarity space as q_jaccard_verified_pairs, so the two scale paths are
directly comparable — word-level sets were rejected: this corpus's tiny
vocabulary makes nearly every doc pair word-similar, i.e. quadratic
output); the
threshold test is integer-exact (J ≥ τn/τd ⟺ (τd+τn)·|∩| ≥ τn·(n_a + n_b), from τd·I ≥ τn·(n_a + n_b − I)); the reported jaccard is one double division of
exact integers. The rarity order (df, term) is a total order per document
(terms are distinct within a doc), so prefixes are deterministic in both
engines.

Scale shape (100 TB): shingles hash to BIGINTs once, and every later
stage moves hashes, never text; the (doc_id, n, hashes) table is lazily
localCheckpointed because FOUR consumers reuse it (Catalyst does not CSE
across DataFrame references — measured, re-execution dominated the
uncheckpointed plan); df is one map-side-combined aggregate (vocab-keyed
shuffle — never broadcast, same policy as q_tfidf_top_terms); the
per-document rarity sort is a doc_id-partitioned window (uniform key,
bounded per-doc token counts); candidate buckets form with ONE shuffle on
the prefix hash — the lsh_pairs_from_bands shape with (n, doc_id) structs
so the PPJoin LENGTH FILTER (τ·max(n) ≤ min(n)) prunes inside the bucket
lambda before any pair materializes; verification joins hash arrays by
uniform doc_id keys over candidates only. A prefix token shared by
millions of docs is the same pathology as a hot LSH bucket — the same
cap-plus-transitivity guard is built in: :func:`prefix_filter_pairs` and
:func:`containment_pairs_capped` take ``max_bucket_size`` /
``max_posting_size`` with oversized-bucket Observation telemetry, exactly
like ``lsh_pairs_from_bands`` and ``simhash_near_pairs_capped``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from video_data_pipeline_spark.calibrate import observe_cap
from video_data_pipeline_spark.checkpoint import checkpoint_frame
from video_data_pipeline_spark.queries.dedup import (
    _DUCK_REPS,
    _DUCK_SHINGLES,
    _DUCK_WORDS,
    _SPARK_WORDS,
    _duck_hash,
    _spark_hash,
    exact_dup_representatives,
)
from video_data_pipeline_spark.queries.registry import query, table

_TAU_NUM, _TAU_DEN = 3, 5  # τ = 0.6

#: Production default hot-bucket caps for the REGISTERED queries (r10/r11
#: VERDICT #1: the sfp30 probe measured the uncapped defaults spilling past
#: a node's disk on a clone-degenerate corpus — the corpus shape 100 TB
#: boilerplate guarantees — while the capped cores finish in seconds).
#: Calibration (measured uncapped telemetry, `max_*_seen`):
#:   prefix buckets   — sf0.01: 3,  sf0.1 (= sf1/sf10 reps): 10;  sfp30: 606
#:   contain postings — sf0.01: 7,  sf0.1 (= sf1/sf10 reps): 25;  sfp30: 1522
#: 64 sits 6×+ above every normal-corpus max (cap never binds → the
#: oracle-checked SQL stays the exact semantics at every tested sf) and
#: well below the clone-clique sizes, where binding is the point:
#: PROBE_CAPPED_SFP30_r10.json measured cap=64 completing in 46.3 s /
#: 24.7 s where the uncapped forms OOM'd the spill disk. Pass
#: ``max_bucket_size=None`` / ``max_posting_size=None`` for exactness
#: studies on corpora known not to be clone-degenerate.
DEFAULT_MAX_BUCKET_SIZE = 64
DEFAULT_MAX_POSTING_SIZE = 64

#: shingles built over a MATERIALIZED words column `w` — an inline
#: ``split(...)`` referenced inside the transform lambda re-splits the
#: document once per element, O(tokens²) per doc (the q_hash_tokenize
#: lesson; measured here: the inline form made the sf0.1 docs subtree
#: alone cost ~12 s vs ~1 s). The CASE guard keeps the expression total
#: (Spark does not promise predicate-before-projection evaluation order,
#: so a separate size filter cannot protect w[i+2] on a 2-word doc).
_SHINGLES_OVER_W = (
    "CASE WHEN size(w) < 3 THEN array() "
    "ELSE transform(sequence(0, size(w) - 3), "
    "i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END"
)


def _shingle_sets(d):
    """(doc_id, text, ...) → (doc_id, toks: distinct shingle array, n).

    The ``size(w) >= 3`` filter sits BETWEEN the words projection and the
    shingles projection on purpose: adjacent projections CollapseProject
    into one, textually re-inlining the split() into the transform lambda
    — the exact O(tokens²) re-split the two-step form exists to avoid
    (measured: 7.3 s → 1.3 s for the sf0.1 set build; same structure as
    dedup.shingle_hashes). The CASE guard stays as the totality belt —
    evaluation order is an optimizer property, not a contract."""
    words = d.select("doc_id", F.expr(_SPARK_WORDS).alias("w")).where(
        F.expr("size(w) >= 3")
    )
    return words.select(
        "doc_id", F.array_distinct(F.expr(_SHINGLES_OVER_W)).alias("toks")
    ).withColumn("n", F.size("toks"))


def hashed_shingle_sets(docs, checkpoint: bool = True):
    """(doc_id, text, …) → (doc_id, n, hs: BIGINT shingle-hash array) with
    the exact-dup rep collapse applied — the shared front table of the
    prefix-filter family. Lazily localCheckpointed by default:
    every caller fans it out to multiple consumers and Catalyst does not
    CSE across DataFrame references."""
    out = _shingle_sets(exact_dup_representatives(docs)).select(
        "doc_id",
        "n",
        F.expr(f"transform(toks, t -> {_spark_hash('t')})").alias("hs"),
    )
    return checkpoint_frame(out) if checkpoint else out


def _duck_prefix_join_sql() -> str:
    inter = "len(list_intersect(ta.hs, tb.hs))"
    jac = f"CAST({inter} AS DOUBLE) / (ta.n + tb.n - {inter})"
    # p = n - ceil(τn) + 1; ceil(3n/5) = (3n + 4) // 5
    return f"""
WITH reps AS MATERIALIZED ({_DUCK_REPS}),
docs AS MATERIALIZED (
  SELECT doc_id, len(list_distinct({_DUCK_SHINGLES})) AS n,
         list_transform(list_distinct({_DUCK_SHINGLES}),
                        s -> {_duck_hash("s")}) AS hs
  FROM reps WHERE len({_DUCK_WORDS}) >= 3
),
tokens AS (SELECT doc_id, n, unnest(hs) AS h FROM docs),
df AS (SELECT h, COUNT(*) AS df FROM tokens GROUP BY h),
ranked AS (
  SELECT t.doc_id, t.n, t.h,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.h) AS rnk
  FROM tokens t JOIN df f ON f.h = t.h
),
prefix AS (
  SELECT doc_id, n, h FROM ranked
  WHERE rnk <= n - (({_TAU_NUM} * n + {_TAU_DEN} - 1) // {_TAU_DEN}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b
    ON a.h = b.h AND a.doc_id < b.doc_id
   AND {_TAU_NUM} * greatest(a.n, b.n) <= {_TAU_DEN} * least(a.n, b.n)
)
SELECT c.doc_a, c.doc_b,
       CAST({inter} AS BIGINT) AS n_common,
       {jac} AS jaccard
FROM cand c
JOIN docs ta ON ta.doc_id = c.doc_a
JOIN docs tb ON tb.doc_id = c.doc_b
WHERE {_TAU_DEN + _TAU_NUM} * {inter} >= {_TAU_NUM} * (ta.n + tb.n)
"""


# ------------------------------------------------ staged verification
#
# r15 (VERDICT r14 #5): the exact verified joins moved each candidate's
# TWO ~100-element BIGINT shingle arrays through the attach shuffles —
# at sfp10 the uncapped prefix join spilled 94 GB for exactly this
# reason (PROBE_PREFIX_CAL_SFP10_r14.json: 151.2M candidates x ~1.6 KB).
# The staged path shrinks the per-candidate payload ~12x: candidates
# first attach only a COMPACT per-doc summary — the set size plus a
# 128-lane histogram of the hash values, 4 saturating bits per lane
# packed 16-to-a-BIGINT (8 longs = 64 bytes) — and a provably-safe
# upper bound on |A∩B| prunes pairs that cannot reach the threshold:
#
#   |A∩B| restricted to lane i  <=  min(count_A[i], count_B[i])
#   =>  |A∩B|  <=  sum_i min(count_A[i], count_B[i])        (the bound)
#
# so dropping a pair whose BOUND fails the threshold can never drop a
# pair whose true intersection passes it. Saturation (a lane count > 15)
# would break the inequality for the capped stored value, so any doc
# with a saturated lane sets a flag and its pairs BYPASS the filter
# (rare by construction: lanes are uniform md5 buckets, so saturation
# needs ~byte-identical token mass in one of 128 lanes). Survivors —
# measured a few percent of candidates at sfp10 — then attach the full
# arrays and run the UNCHANGED exact integer predicate, so the output
# is bit-identical to the single-stage form (pytest- and oracle-pinned).
# At 100 TB this turns shuffle volume from candidates x array-payload
# into candidates x 64 B + survivors x array-payload.

_SUMMARY_LANES = 128
_SUMMARY_WORDS = _SUMMARY_LANES // 16  # 16 4-bit lanes per BIGINT


def _lane_min_sum(x: str, y: str) -> str:
    """SQL for sum over the 16 packed 4-bit lanes of min(x_lane, y_lane)."""
    return " + ".join(
        f"least(shiftright({x}, {4 * i}) & 15, shiftright({y}, {4 * i}) & 15)"
        for i in range(16)
    )


#: upper bound on |A∩B| from two packed summaries (columns cnt_a, cnt_b);
#: a plain SQL string so importing this module needs no live SparkContext
_INTER_UPPER_BOUND_SQL = (
    "aggregate(zip_with(cnt_a, cnt_b, (x, y) -> "
    + _lane_min_sum("x", "y")
    + "), 0L, (acc, e) -> acc + e)"
)


#: per-row fold pieces: lane = hash mod 128, its word index and in-word
#: bit offset (16 4-bit lanes per BIGINT)
_LANE_SQL = f"CAST(pmod(h, {_SUMMARY_LANES}) AS INT)"
_SHIFT_SQL = f"({_LANE_SQL} % 16) * 4"
_WORD_SQL = f"CAST({_LANE_SQL} div 16 AS INT)"

#: fold hs into (8 packed saturating words, sat flag) in ONE aggregate():
#: per element, bump the 4-bit lane unless it already holds 15; a bump
#: attempted at 15 is exactly "true count > 15", so it sets sat instead.
#: The bump is mask-and-OR (clear the lane, OR in cur+1), never `+`:
#: a carry into bit 63 (word 7, lane 15 crossing count 8) would trip
#: ANSI overflow on add, while AND/OR/shifts are carry-free.
#: Null safety (ADVICE r16): a NULL element h makes the sat term NULL,
#: and `false OR NULL` is NULL — which the staged WHERE silently DROPS,
#: the one direction the filter's never-prune-a-true-pair contract
#: forbids. Unreachable with the md5-derived hs (never null), but the
#: per-element coalesce forces an unknown lane to sat=true (bypass to
#: exact verification) instead — always-safe by construction
_SUMMARY_FOLD_SQL = f"""aggregate(
  hs,
  named_struct('w', array_repeat(0L, {_SUMMARY_WORDS}), 'sat', false),
  (acc, h) -> named_struct(
    'w', transform(acc.w, (x, i) ->
        IF(i = {_WORD_SQL}
           AND (shiftright(x, {_SHIFT_SQL}) & 15) < 15,
           (x & ~shiftleft(15L, {_SHIFT_SQL}))
             | shiftleft((shiftright(x, {_SHIFT_SQL}) & 15) + 1, {_SHIFT_SQL}),
           x)),
    'sat', acc.sat OR coalesce(
        (shiftright(element_at(acc.w, {_WORD_SQL} + 1), {_SHIFT_SQL}) & 15) = 15,
        true)
  )
)"""


def summary_table(sets):
    """(doc_id, n, hs) → (doc_id, n, cnt: array<bigint>[8], sat).

    The packed histogram is a pure function of each row's hash array, so
    it is folded PER ROW with one aggregate() over ``hs`` — zero
    exchanges, computed inside the scan of the localCheckpointed set
    table (r16; the r15 form exploded the hashes and rebuilt each doc
    with two groupBys, i.e. two exchanges over every token in the corpus
    — measured 0.70–0.75× on the three staged bench queries,
    BENCH_STAGED_INLINE_AB_r16.json). ``sat`` marks docs where any lane
    exceeded 15 — their pairs bypass the staged filter (see the module
    comment's safety argument); the fold flags it when a bump arrives at
    a lane already holding 15, which is the same predicate."""
    return sets.select(
        "doc_id", "n", F.expr(_SUMMARY_FOLD_SQL).alias("s")
    ).select(
        "doc_id",
        "n",
        F.col("s.w").alias("cnt"),
        # a NULL hs array folds to a NULL struct: bypass, never prune
        F.coalesce(F.col("s.sat"), F.lit(True)).alias("sat"),
    )


def _staged_candidate_filter(cand, summaries, keep_predicate):
    """Attach the compact summaries to bare (doc_a, doc_b) candidates and
    keep saturated-or-plausible pairs. ``keep_predicate(ub, na, nb)``
    returns the family's threshold test on the intersection UPPER BOUND —
    it must be implied by the family's exact predicate on the true
    intersection (ub >= inter makes that monotone)."""
    sa = summaries.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("cnt").alias("cnt_a"),
        F.col("sat").alias("sat_a"),
    )
    sb = summaries.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("cnt").alias("cnt_b"),
        F.col("sat").alias("sat_b"),
    )
    ub = F.expr(_INTER_UPPER_BOUND_SQL)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.col("sat_a")
            | F.col("sat_b")
            | keep_predicate(ub, F.col("na"), F.col("nb"))
        )
        .select("doc_a", "doc_b")
    )


def rarity_prefix_rows(sets):
    """(doc_id, n, hs) → the rarity-ordered prefix rows (doc_id, n, h):
    global document frequency per shingle hash, per-doc rank by (df, h),
    keep the first p = n − ceil(τ·n) + 1 tokens. Shared by the pair join
    and the cap pre-flight (r14) so both measure/join the SAME front."""
    tokens = sets.select("doc_id", "n", F.explode("hs").alias("h"))
    df_tbl = tokens.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = tokens.join(df_tbl, "h").withColumn(
        "rnk",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")),
    )
    return ranked.where(
        F.col("rnk")
        <= F.col("n")
        - F.expr(f"({_TAU_NUM} * n + {_TAU_DEN - 1}) div {_TAU_DEN}")
        + 1
    ).select("doc_id", "n", "h")


def prefix_front(sets):
    """(doc_id, n, hs) → the one-column ``key`` frame of the prefix-bucket
    front (one row per rarity-prefix token): what the prefix cap
    pre-flight and ``calibrate.standard_fronts`` measure."""
    return rarity_prefix_rows(sets).select(F.col("h").alias("key"))


def posting_front(sets):
    """(doc_id, n, hs) → the one-column ``key`` frame of the containment
    posting front (one row per shingle membership): what the containment
    cap pre-flight and ``calibrate.standard_fronts`` measure."""
    return sets.select(F.explode("hs").alias("key"))


def prefix_filter_pairs(
    docs, max_bucket_size=None, observation=None, sets=None, staged_verify=None
):
    """Core of :func:`q_prefix_filter_join`, parameterized with the family's
    100 TB hot-bucket guard (the ``lsh_pairs_from_bands`` /
    ``simhash_near_pairs_capped`` knob).

    Rarity ordering already makes prefix postings the SMALLEST in the
    corpus, but it is a heuristic, not a bound: a boilerplate shingle shared
    by millions of documents (license headers, nav chrome — guaranteed at
    100 TB) still lands in every short document's prefix, and in-bucket pair
    expansion is quadratic in the bucket size. ``max_bucket_size`` caps each
    prefix-token bucket to its first N members (sorted by (n, doc_id) —
    deterministic). Recall argument under the cap: a true J ≥ τ pair is
    missed only if EVERY shared prefix token of the pair is over-cap AND
    both docs fall past the cap in each — each document carries
    p = n − ceil(τ·n) + 1 ≈ 0.4·n independent prefix witnesses at τ = 0.6,
    and over-cap buckets are by construction corpus-wide boilerplate whose
    members the survivors keep pairing among themselves, so downstream
    connected-components still merges capped cliques transitively through
    the kept members (the lsh_pairs_from_bands argument). Pass an
    ``Observation`` for the cap telemetry (:func:`calibrate.observe_cap`,
    auto-attached when capped) — the metric that tells an operator the
    cap actually engaged.

    The registered query delegates here with ``DEFAULT_MAX_BUCKET_SIZE``
    (r12 — the guard is finally the default, not opt-in); the cap is
    calibrated to never bind on non-degenerate corpora, so the
    oracle-checked SQL remains the semantics definition, and
    ``max_bucket_size=None`` reproduces it bit-for-bit everywhere."""
    # hashed_shingle_sets collapses exact duplicates FIRST (family policy,
    # the q_dedup_triangles lesson: byte/case-identical replicas would
    # re-derive O(c^2) J=1.0 pairs per c-clone clique — measured, the
    # uncollapsed form blew the sf1 clone-replicated sweep past its
    # 10-minute budget), hashes every shingle ONCE (64-bit md5 prefix: all
    # later stages move/compare BIGINTs, never text; hash-set intersection
    # equals shingle-set intersection modulo ~2^-60 collisions, which merge
    # identically in both engines — the KMV width-independence argument),
    # and lazily localCheckpoints: FOUR consumers reuse the table (tokens,
    # df via tokens, both verification sides) and Catalyst does not CSE
    # across DataFrame references — measured, re-execution of the
    # reps+shingles subtree dominated the uncheckpointed plan. A caller
    # that already built the set table (the r14 pre-flight) passes it via
    # ``sets`` so measurement and join share one checkpoint.
    if sets is None:
        sets = hashed_shingle_sets(docs)
    # the rarity prefix is re-derived here rather than shared with the
    # calibrated pre-flight's front: sharing a checkpointed prefix frame
    # measured 0.82x at sf0.1 but ~2x the task time at the sfp10
    # cap-binding scale (r17, PROBE_PREFIX_SHARE_SFP10_r17.json)
    prefix = rarity_prefix_rows(sets)
    # bucketed pair generation WITH the PPJoin length filter evaluated
    # inside the bucket lambda: J >= τ forces τ·max(n) <= min(n), so most
    # cross-size pairs never materialize (measured: 299k -> far fewer
    # candidates on the bench corpus). Same one-shuffle shape as
    # lsh_pairs_from_bands, with (n, doc_id) structs in place of bare ids.
    buckets = (
        prefix.groupBy("h")
        .agg(F.sort_array(F.collect_list(F.struct("n", "doc_id"))).alias("xs"))
        .where(F.size("xs") > 1)
    )
    # for this family the in-bucket workload UPPER-BOUNDS emitted
    # candidates (the in-lambda length filter prunes further)
    buckets = observe_cap(
        buckets, "prefix_buckets", max_bucket_size, "size(xs)", observation
    )
    if max_bucket_size is not None:
        buckets = buckets.select(
            "h", F.slice("xs", 1, max_bucket_size).alias("xs")
        )
    pair_expr = (
        "flatten(transform(xs, x -> transform("
        f"filter(xs, y -> (y.n > x.n OR (y.n = x.n AND y.doc_id > x.doc_id))"
        f" AND {_TAU_NUM} * y.n <= {_TAU_DEN} * x.n),"
        " y -> struct(least(x.doc_id, y.doc_id) AS doc_a,"
        " greatest(x.doc_id, y.doc_id) AS doc_b))))"
    )
    cand = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # staged verification (r15, VERDICT r14 #5): default ON exactly when
    # the candidate set is unbounded (uncapped / calibrated-exact runs —
    # where the sfp10 spill lived); the capped default keeps the direct
    # attach (bounded candidates, one fewer shuffle). Output is
    # bit-identical either way — the exact predicate below applies last.
    if staged_verify is None:
        staged_verify = max_bucket_size is None
    if staged_verify:
        summaries = checkpoint_frame(summary_table(sets))
        cand = _staged_candidate_filter(
            cand,
            summaries,
            lambda ub, na, nb: (_TAU_DEN + _TAU_NUM) * ub >= _TAU_NUM * (na + nb),
        )
    ta = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("na"),
    )
    tb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(
            (_TAU_DEN + _TAU_NUM) * inter
            >= _TAU_NUM * (F.col("na") + F.col("nb"))
        )
        .select("doc_a", "doc_b", inter.alias("n_common"), jac.alias("jaccard"))
    )


@query(
    "q_prefix_filter_join",
    oracle=_duck_prefix_join_sql(),
    tags=("dedup", "jaccard", "join", "prefix-filter"),
)
def q_prefix_filter_join(
    spark, sf_dir, max_bucket_size=DEFAULT_MAX_BUCKET_SIZE, observation=None,
    calibrate=False, pair_budget=None,
):
    """Exact Jaccard ≥ 0.6 token-set join via prefix filtering — see the
    module docstring for the completeness theorem and the LSH comparison.
    Pipeline: distinct hashed shingle sets (localCheckpointed once) →
    global df → per-doc rarity ranking → prefix explode → bucketed pair
    generation with the in-lambda length filter → exact integer
    verification on candidates only. Delegates to
    :func:`prefix_filter_pairs` with the PRODUCTION default cap
    (``DEFAULT_MAX_BUCKET_SIZE`` — chosen above every normal-corpus
    ``max_bucket_size_seen``, so it never binds on non-degenerate data and
    the oracle SQL stays the exact semantics; on clone-degenerate corpora
    it is the guard PROBE_SFP30_r10 proved necessary). Pass
    ``max_bucket_size=None`` for exactness studies; pass an
    ``Observation`` for cap-engagement telemetry
    (tests/test_registered_cap_headroom.py pins that the default cap does
    NOT bind on the standard fixtures).

    ``calibrate=True`` (r14, VERDICT r13 #5) measures the prefix-bucket
    front first (:func:`calibrate.preflight`) — one linear groupBy, no
    pair expansion — then proceeds exact (default, or uncapped within the
    bytes-weighted staged-verify budget; an explicit ``pair_budget``
    selects count semantics) or raises ``CapBoundError`` by name. An
    explicit ``max_bucket_size=None`` skips the pre-flight (uncapped was
    already chosen)."""
    docs = table(spark, sf_dir, "documents")
    sets = None
    if calibrate and max_bucket_size is not None:
        from video_data_pipeline_spark.calibrate import (
            STAGED_CANDIDATE_BYTES,
            preflight,
        )

        sets = hashed_shingle_sets(docs)  # lazily checkpointed, shared
        max_bucket_size = preflight(
            "prefix_buckets", {"prefix_buckets": lambda: prefix_front(sets)},
            max_bucket_size, DEFAULT_MAX_BUCKET_SIZE, pair_budget=pair_budget,
            bytes_per_candidate=STAGED_CANDIDATE_BYTES, sf_dir=sf_dir,
        ).max_bucket_size
    return prefix_filter_pairs(
        docs, max_bucket_size=max_bucket_size, observation=observation, sets=sets
    )


@query(
    "q_prefix_filter_join_exact",
    oracle=_duck_prefix_join_sql(),
    tags=("dedup", "jaccard", "join", "prefix-filter", "staged"),
)
def q_prefix_filter_join_exact(spark, sf_dir, observation=None):
    """The UNCAPPED exact prefix join — which since r15 runs the STAGED
    verification (summary bound filter, then array attach on survivors
    only; see :func:`summary_table`) — as a REGISTERED query, so the
    staged path has a per-round oracle hash gate of its own instead of
    only pytest pins: the uncapped form equals the oracle SQL on every
    corpus by the completeness theorem, making the compare meaningful at
    any gate scale. This is the plan a 100 TB exactness study runs
    (PROBE_PREFIX_STAGED_SFP10_r15: identical rows to the direct form at
    26x less disk spill)."""
    return prefix_filter_pairs(
        table(spark, sf_dir, "documents"),
        max_bucket_size=None,
        observation=observation,
    )


@query(
    "q_prefix_filter_join_calibrated",
    oracle=_duck_prefix_join_sql(),
    tags=("dedup", "jaccard", "join", "prefix-filter", "calibrate"),
)
def q_prefix_filter_join_calibrated(spark, sf_dir, pair_budget=None, observation=None):
    """q_prefix_filter_join through the cap pre-flight as a REGISTERED
    query (r15, VERDICT r14 #1 — the q_minhash_lsh_pairs_calibrated /
    q_simhash_near_pairs_calibrated pattern, closing the last two
    knob-only families): the driver's hash gate and the bench pin the
    calibrated path directly. By construction the oracle compare is
    meaningful on every corpus this runs on — the pre-flight proceeds
    only on an exact plan (default proven not to bind, or uncapped within
    the verified-family budget) and otherwise raises ``CapBoundError`` by
    name, so the query never returns a capped subset for the gate to
    mis-read. At no-bind scales (all the oracle-gate fixtures) the
    decision is ``default`` and the only cost over q_prefix_filter_join
    is the one linear front measurement."""
    return q_prefix_filter_join(
        spark, sf_dir, observation=observation, calibrate=True,
        pair_budget=pair_budget,
    )


# ----------------------------------------------------- containment search

_CONT_NUM, _CONT_DEN = 4, 5  # containment threshold 0.8


def _duck_containment_sql(reps_sql: str = _DUCK_REPS) -> str:
    inter = "len(list_intersect(ta.hs, tb.hs))"
    # smaller-side prefix length under containment t: p = n - ceil(t*n) + 1
    return f"""
WITH reps AS MATERIALIZED ({reps_sql}),
sets AS MATERIALIZED (
  SELECT doc_id, len(list_distinct({_DUCK_SHINGLES})) AS n,
         list_transform(list_distinct({_DUCK_SHINGLES}),
                        s -> {_duck_hash("s")}) AS hs
  FROM reps WHERE len({_DUCK_WORDS}) >= 3
),
prefix AS (
  SELECT doc_id, n,
         unnest(list_slice(list_sort(hs), 1,
                n - (({_CONT_NUM} * n + {_CONT_DEN} - 1) // {_CONT_DEN}) + 1)) AS h
  FROM sets
),
post AS (SELECT doc_id, n, unnest(hs) AS h FROM sets),
cand AS (
  SELECT DISTINCT least(p.doc_id, o.doc_id) AS doc_a,
         greatest(p.doc_id, o.doc_id) AS doc_b
  FROM prefix p JOIN post o ON o.h = p.h
  WHERE (p.n < o.n) OR (p.n = o.n AND p.doc_id < o.doc_id)
)
SELECT c.doc_a, c.doc_b,
       CAST({inter} AS BIGINT) AS n_common,
       CAST({inter} AS DOUBLE) / ta.n AS cont_a_in_b,
       CAST({inter} AS DOUBLE) / tb.n AS cont_b_in_a
FROM cand c
JOIN sets ta ON ta.doc_id = c.doc_a
JOIN sets tb ON tb.doc_id = c.doc_b
WHERE {_CONT_DEN} * {inter} >= {_CONT_NUM} * least(ta.n, tb.n)
"""


@query(
    "q_containment_pairs",
    oracle=_duck_containment_sql(),
    tags=("dedup", "containment", "join", "prefix-filter"),
)
def q_containment_pairs(
    spark, sf_dir, max_posting_size=DEFAULT_MAX_POSTING_SIZE, observation=None,
    calibrate=False, pair_budget=None,
):
    """Near-superset detection with GUARANTEED recall: CONTAINMENT
    C(A,B) = |A∩B| / |A| ≥ 0.8 — the asymmetric similarity that catches
    quote inclusion and boilerplate wrapping, which symmetric Jaccard
    suppresses (a short doc fully quoted inside a long one has J ≈
    |short|/|long| ≈ 0 but C(short→long) = 1; symmetric-Jaccard LSH is
    structurally blind to exactly those pairs, which is why this query no
    longer rides the banding plan). Pairs where the SMALLER side is ≥ 80%
    contained are emitted with both directions' containment so the
    consumer can tell quote-of from quoted-in.

    Candidate generation is the ASYMMETRIC prefix filter: if |A| ≤ |B| and
    C(A→B) ≥ t then |A∩B| ≥ ceil(t·|A|), so A's first
    ``p = |A| − ceil(t·|A|) + 1`` tokens under ANY fixed global order must
    contain an element of B (pigeonhole) — the prefix of the SMALLER side
    joins against FULL postings of every candidate superset. The order
    here is the hash itself (sorted hash array slice — per-row math, no df
    pass; any fixed total order preserves completeness). Recall at the
    threshold is therefore 1.0 by construction — the LSH-candidate caveat
    of the earlier form is gone.

    Scale shape: the hashed-set table builds once (lazy localCheckpoint,
    four consumers); prefixes are an in-row sorted slice (~0.2·n tokens);
    the candidate join keys on the uniform shingle hash with the size
    asymmetry (smaller-side prefix vs larger-side posting) enforced in
    the join predicate, so each unordered pair forms once; verification
    joins hash arrays over candidates only. A shingle shared by millions
    of docs makes a hot posting list — same pathology as a hot LSH
    bucket; this query delegates to :func:`containment_pairs_capped` with
    the PRODUCTION default cap (``DEFAULT_MAX_POSTING_SIZE`` — above every
    normal-corpus ``max_posting_size_seen``, so it never binds off
    degenerate data and the oracle SQL stays exact; on the sfp30
    clone-degenerate corpus it is the difference between 24.7 s and a
    spill-disk OOM, PROBE_CAPPED_SFP30_r10.json). ``max_posting_size=None``
    reproduces the uncapped form bit-for-bit.

    ``calibrate=True`` (r14, VERDICT r13 #5) measures the posting front
    first (:func:`calibrate.preflight`) — one linear groupBy over the
    exploded hash sets — then proceeds exact (default, or uncapped within
    the bytes-weighted staged-verify budget; the measured in-posting
    workload upper-bounds the asymmetric join's real candidates, so
    proceeding is always safe) or raises ``CapBoundError`` naming the
    boundary. An explicit ``max_posting_size=None`` skips the pre-flight
    (uncapped was already chosen)."""
    docs = table(spark, sf_dir, "documents")
    sets = None
    if calibrate and max_posting_size is not None:
        from video_data_pipeline_spark.calibrate import (
            STAGED_CANDIDATE_BYTES,
            preflight,
        )

        sets = hashed_shingle_sets(docs)  # lazily checkpointed, shared
        max_posting_size = preflight(
            "containment_postings",
            {"containment_postings": lambda: posting_front(sets)},
            max_posting_size, DEFAULT_MAX_POSTING_SIZE, pair_budget=pair_budget,
            bytes_per_candidate=STAGED_CANDIDATE_BYTES,
            escape_arg="max_posting_size", sf_dir=sf_dir,
        ).max_bucket_size
    return containment_pairs_capped(
        docs, max_posting_size=max_posting_size, observation=observation, sets=sets
    )


@query(
    "q_containment_pairs_exact",
    oracle=_duck_containment_sql(),
    tags=("dedup", "containment", "join", "prefix-filter", "staged"),
)
def q_containment_pairs_exact(spark, sf_dir, observation=None):
    """The uncapped exact containment join through the r15 STAGED
    verification, registered for the same reason as
    :func:`q_prefix_filter_join_exact` — the staged path earns its own
    per-round oracle hash gate."""
    return containment_pairs_capped(
        table(spark, sf_dir, "documents"),
        max_posting_size=None,
        observation=observation,
    )


@query(
    "q_containment_pairs_calibrated",
    oracle=_duck_containment_sql(),
    tags=("dedup", "containment", "join", "prefix-filter", "calibrate"),
)
def q_containment_pairs_calibrated(spark, sf_dir, pair_budget=None, observation=None):
    """q_containment_pairs through the cap pre-flight as a REGISTERED
    query (r15, VERDICT r14 #1) — see
    :func:`q_prefix_filter_join_calibrated` for the contract; the
    measured front here is the posting lists (one linear groupBy over the
    exploded hash sets), whose in-posting workload upper-bounds the
    asymmetric join's real candidates, so a proceed decision is always
    safe."""
    return q_containment_pairs(
        spark, sf_dir, observation=observation, calibrate=True,
        pair_budget=pair_budget,
    )


# ------------------------------------------------ quote-inclusion twin
#
# r16 (VERDICT r15 #2, driver-gate leg): the shipped testdata has no
# C >= 0.8 & J < 0.6 pairs, so at the DRIVER's gate scale (sf0.01) the
# containment output used to equal the prefix join's — a containment-
# specific regression was invisible there. This query synthesizes the
# discriminating pairs IN-PLAN, identically in both engines: 1/7 of the
# documents contribute a short quote (first 20-40%... fixed 30% of their
# words, id-offset so ids never collide), and the containment join runs
# over documents ∪ quotes. Every quote is a shingle SUBSET of its source
# (C = 1.0) at ~30% of its length (J ≈ 0.3 < 0.6), so the oracle compare
# exercises exactly the asymmetric branch (min-denominator, smaller-side
# prefix bound, the n-tie ordering) on every corpus, including the
# driver's.

_QUOTE_OFFSET = 1 << 40  # far above any real doc_id at any sf
_QUOTE_MOD, _QUOTE_RESIDUE = 7, 3
_QUOTE_PCT = 30

#: original-case words (normalization to lower happens downstream in the
#: shared shingle constants, same as for real documents)
_SPARK_QUOTE_WORDS = "split(trim(text), ' +')"
_DUCK_QUOTE_WORDS = "string_split_regex(trim(text), ' +')"

_DUCK_QUOTE_CORPUS = f"""SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_QUOTE_OFFSET} AS doc_id,
         array_to_string(
           ({_DUCK_QUOTE_WORDS})[1:greatest(
              5, len({_DUCK_QUOTE_WORDS}) * {_QUOTE_PCT} // 100)],
           ' ') AS text
  FROM documents WHERE doc_id % {_QUOTE_MOD} = {_QUOTE_RESIDUE}"""

_DUCK_QUOTE_REPS = (
    "SELECT arg_min(doc_id, doc_id) AS doc_id, arg_min(text, doc_id) AS text "
    f"FROM ({_DUCK_QUOTE_CORPUS}) GROUP BY md5(lower(trim(text)))"
)


def with_synthetic_quotes(docs):
    """documents ∪ synthesized short quotes (the Spark half of the
    corpus construction above; parity with ``_DUCK_QUOTE_CORPUS`` is
    oracle-pinned through q_containment_quote_pairs)."""
    k = f"greatest(5, size({_SPARK_QUOTE_WORDS}) * {_QUOTE_PCT} div 100)"
    quotes = (
        docs.where(F.col("doc_id") % _QUOTE_MOD == _QUOTE_RESIDUE)
        .select(
            (F.col("doc_id") + F.lit(_QUOTE_OFFSET)).alias("doc_id"),
            F.expr(
                f"concat_ws(' ', slice({_SPARK_QUOTE_WORDS}, 1, {k}))"
            ).alias("text"),
        )
    )
    return docs.select("doc_id", "text").unionByName(quotes)


@query(
    "q_containment_quote_pairs",
    oracle=_duck_containment_sql(reps_sql=_DUCK_QUOTE_REPS),
    tags=("dedup", "containment", "join", "prefix-filter", "quote"),
)
def q_containment_quote_pairs(spark, sf_dir, observation=None):
    """Containment join over documents ∪ synthesized quote inclusions —
    the driver-gate leg of the r16 discrimination fix (see the block
    comment above): guarantees C >= 0.8 & J < 0.6 pairs exist on EVERY
    corpus, so the asymmetric containment logic is falsifiable by the
    oracle at the driver's own gate scale, not only on the regenerated
    sfp corpora. Uncapped exact (the quote corpus adds ~n/7 short docs —
    posting growth is linear)."""
    return containment_pairs_capped(
        with_synthetic_quotes(table(spark, sf_dir, "documents")),
        max_posting_size=None,
        observation=observation,
    )


def containment_pairs_capped(
    docs, max_posting_size=None, observation=None, sets=None, staged_verify=None
):
    """Core of :func:`q_containment_pairs`, carrying the family's 100 TB
    hot-posting guard (the ``lsh_pairs_from_bands`` /
    ``simhash_near_pairs_capped`` knob, applied to the posting side of the
    asymmetric join).

    Uncapped, this joins the smaller side's prefix against the FULL
    postings of every shingle; one corpus-wide boilerplate shingle (license
    header, nav chrome — guaranteed at 100 TB) makes a posting list whose
    candidate expansion is quadratic. This variant groups postings per
    shingle hash (ONE shuffle), caps each list to its first
    ``max_posting_size`` members (sorted by (n, doc_id) — deterministic,
    and ascending by size so the cheapest-to-verify candidate supersets
    survive), then explodes back into the same asymmetric prefix-vs-posting
    join. Recall argument under the cap: a true C(A→B) ≥ t pair is missed
    only if EVERY one of A's ``p = |A| − ceil(t·|A|) + 1`` prefix witnesses
    is an over-cap posting AND B falls past the cap in each — over-cap
    postings are by construction corpus-wide boilerplate shingles, the
    weakest containment witnesses, while a genuinely contained document
    shares ceil(t·|A|) tokens and therefore carries many independent
    witnesses. Pass an ``Observation`` for the cap telemetry
    (:func:`calibrate.observe_cap`: n_postings / oversized_postings /
    max_posting_size_seen + the recall arithmetic, auto-attached when
    capped) — the metric that tells an operator the cap actually engaged.

    Uncapped it equals the oracle SQL exactly (pytest-pinned); the
    registered query delegates here with ``DEFAULT_MAX_POSTING_SIZE``,
    calibrated never to bind on non-degenerate corpora, so both
    statements hold at once (r12 — the guard is the default, not
    opt-in)."""
    if sets is None:
        sets = hashed_shingle_sets(docs)
    prefix = sets.select(
        F.col("doc_id").alias("s_id"),
        F.col("n").alias("sn"),
        F.explode(
            F.expr(
                "slice(sort_array(hs), 1,"
                f" n - (({_CONT_NUM} * n + {_CONT_DEN - 1}) div {_CONT_DEN}) + 1)"
            )
        ).alias("h"),
    )
    if max_posting_size is None and observation is None:
        # uncapped AND unobserved (the _exact / quote twins): the grouped
        # posting-list round trip below exists only to cap lists and feed
        # the telemetry — with neither in play it is a no-op
        # (groupBy(h)+collect_list+sort_array, then explode right back;
        # list order never mattered: downstream is join + distinct), so
        # explode the set table straight into the asymmetric join (r16,
        # guide §2.4 — part of the 0.73/0.75 staged-front A/B win,
        # BENCH_STAGED_INLINE_AB_r16.json)
        post = sets.select(
            F.col("doc_id").alias("b_id"),
            F.col("n").alias("bn"),
            F.explode("hs").alias("h"),
        )
    else:
        postings = (
            sets.select("doc_id", "n", F.explode("hs").alias("h"))
            .groupBy("h")
            .agg(F.sort_array(F.collect_list(F.struct("n", "doc_id"))).alias("ps"))
        )
        # in-posting workload upper-bounds the asymmetric join's real
        # candidates
        postings = observe_cap(
            postings, "containment_postings", max_posting_size, "size(ps)",
            observation, unit="posting",
        )
        if max_posting_size is not None:
            postings = postings.select(
                "h", F.slice("ps", 1, max_posting_size).alias("ps")
            )
        post = postings.select("h", F.explode("ps").alias("p")).select(
            "h", F.col("p.doc_id").alias("b_id"), F.col("p.n").alias("bn")
        )
    pairs = (
        prefix.join(post, "h")
        .where(
            (F.col("sn") < F.col("bn"))
            | ((F.col("sn") == F.col("bn")) & (F.col("s_id") < F.col("b_id")))
        )
        .select(
            F.least("s_id", "b_id").alias("doc_a"),
            F.greatest("s_id", "b_id").alias("doc_b"),
        )
        .distinct()
    )
    # staged verification (r15, VERDICT r14 #5) — see prefix_filter_pairs;
    # the containment bound test: DEN * ub >= NUM * least(na, nb) is
    # implied by the exact predicate since ub >= inter
    if staged_verify is None:
        staged_verify = max_posting_size is None
    if staged_verify:
        summaries = checkpoint_frame(summary_table(sets))
        pairs = _staged_candidate_filter(
            pairs,
            summaries,
            lambda ub, na, nb: _CONT_DEN * ub >= _CONT_NUM * F.least(na, nb),
        )
    ta = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("na"),
    )
    tb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(_CONT_DEN * inter >= _CONT_NUM * F.least("na", "nb"))
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_common"),
            (inter.cast("double") / F.col("na")).alias("cont_a_in_b"),
            (inter.cast("double") / F.col("nb")).alias("cont_b_in_a"),
        )
    )

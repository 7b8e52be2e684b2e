"""Deduplication queries: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Beyond-reference extensions (SURVEY.md §7 Phase 5) that a 100 TB curation
pipeline needs. Design for scale:

- Exact dedup: hash-groupBy on a content fingerprint — one shuffle keyed by
  a uniformly-distributed md5, inherently skew-free.
- MinHash-LSH: ONE md5 pass per shingle, then k cheap universal-hash mixes
  ``(h·a_j + b_j) mod p`` derive the k minhash functions (the md5 pass is
  materialized as a column so it is computed once, not once per function).
  Signatures are per-row column math (no shuffle); the only shuffle is the
  band-bucket self-join, whose key (band md5) is uniform → skew-free.
  Banding input is the DISTINCT-CONTENT representative set (round-7):
  byte-identical clones band identically and would re-derive O(c²)
  zero-information pairs per clique; clusters/survivors recover full
  membership through O(c) exact-dup star edges instead.
- SimHash: per-row bit math over a single word-hash array (60-bit signature
  — md5's 15 hex chars; bit 63 never set so the value is positive BIGINT in
  both engines); candidate pairs via pigeonhole chunk-join (hamming ≤ 3 ⇒
  one of four 15-bit chunks equal → 32k distinct values per chunk index, so
  buckets stay tiny at corpus scale instead of the 16-value cartesian bomb
  a 16-bit signature would give).
- Jaccard: exploded-shingle equi-join, count-intersection / union — the
  math oracle; the SCALE path is q_jaccard_verified_pairs (exact Jaccard
  computed only on LSH candidate pairs).

Both dialects are generated from the same parameters so the Spark program
and DuckDB oracle can't drift.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from video_data_pipeline_spark.calibrate import observe_cap
from video_data_pipeline_spark.checkpoint import checkpoint_frame
from video_data_pipeline_spark.queries.registry import query, spread, table

_N_HASHES = 8
_BAND_ROWS = 2  # 4 bands × 2 rows
_P = 2147483647  # 2^31-1, Mersenne prime for universal hashing
# deterministic (a_j, b_j) universal-hash parameters
_AB = [(998244353 + 2 * j + 1, 777767777 * (j + 1) % _P) for j in range(_N_HASHES)]

# Words are built from lower(trim(text)) — the SAME normalization as the
# exact-dup fingerprint (q_dedup_exact / exact_dup_representatives). This
# makes every signature (minhash, simhash, shingle set) a true function of
# the fingerprint, so rep-collapse before banding is lossless: a clique
# member whose casing differs from its representative still shares the
# representative's signature. (Round-9 fix; previously case-variant
# duplicates silently dropped their near-dup edges.)
_SPARK_WORDS = "split(lower(trim(text)), ' +')"
_DUCK_WORDS = "string_split_regex(lower(trim(text)), ' +')"
_SPARK_SHINGLES = (
    f"transform(sequence(0, size({_SPARK_WORDS}) - 3), "
    f"i -> concat_ws(' ', {_SPARK_WORDS}[i], {_SPARK_WORDS}[i+1], {_SPARK_WORDS}[i+2]))"
)
_DUCK_SHINGLES = (
    f"list_transform(range(len({_DUCK_WORDS}) - 2), "
    f"i -> {_DUCK_WORDS}[i+1] || ' ' || {_DUCK_WORDS}[i+2] || ' ' || {_DUCK_WORDS}[i+3])"
)


def _spark_hash(x: str) -> str:
    return f"CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def _duck_hash(x: str) -> str:
    return f"(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


#: one md5 per shingle, reduced mod p — the single expensive pass
_DUCK_BASE = f"list_transform({_DUCK_SHINGLES}, s -> {_duck_hash('s')} % {_P})"


def _minhash_from_base(dialect: str, base_col: str, j: int) -> str:
    a, b = _AB[j]
    if dialect == "spark":
        return f"array_min(transform({base_col}, h -> (h * {a} + {b}) % {_P}))"
    return f"list_min(list_transform({base_col}, h -> (h * {a} + {b}) % {_P}))"


# ------------------------------------------------------------------ queries


@query(
    "q_dedup_exact",
    oracle="""
SELECT md5(lower(trim(text))) AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
""",
    tags=("dedup",),
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: groupBy(content-hash) keeping min doc_id. At 100 TB the
    md5 key is uniform → skew-free shuffle; survivors via min, not window."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.lower(F.trim("text"))).alias("fingerprint")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def exact_dup_representatives(d):
    """documents → one (doc_id, text) representative per content
    fingerprint (min doc_id). groupBy + min(struct) — no window, one
    skew-free md5-keyed shuffle. Byte-identical replicas form complete
    near-dup cliques that contribute O(c²) pairs of zero information
    (q_dedup_triangles lesson) — every pairwise-similarity query collapses
    them first; exact copies are q_dedup_exact's job. Round-7: this is now
    also the banding input of the flagship q_minhash_lsh_pairs (the r6
    VERDICT's one remaining family-level scale flaw)."""
    fp = F.md5(F.lower(F.trim("text")))
    return (
        d.groupBy(fp.alias("fingerprint"))
        .agg(F.min(F.struct("doc_id", "text")).alias("s"))
        .select("s.doc_id", "s.text")
    )


_DUCK_REPS = (
    "SELECT arg_min(doc_id, doc_id) AS doc_id, arg_min(text, doc_id) AS text "
    "FROM documents GROUP BY md5(lower(trim(text)))"
)


def exact_dup_edges(d):
    """documents → (doc_a=rep, doc_b=member) star edges inside each exact
    duplicate clique — O(c) edges per c-clone clique instead of the O(c²)
    clique pairs banding every member would re-derive. One md5-keyed
    groupBy + one fingerprint equi-join; at 100 TB both shuffle on the
    uniform md5. Star and clique connect the same vertex set, so
    connected components over (rep-level LSH pairs ∪ these) equal
    components over the old every-member banding exactly."""
    fp = F.md5(F.lower(F.trim("text")))
    m = d.select(fp.alias("fingerprint"), "doc_id")
    reps = m.groupBy("fingerprint").agg(F.min("doc_id").alias("rep"))
    return (
        m.join(reps, "fingerprint")
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )


_DUCK_EXACT_EDGES = """
SELECT doc_a, doc_b FROM (
  SELECT MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS doc_a,
         doc_id AS doc_b
  FROM documents) WHERE doc_a <> doc_b
"""


def shingle_hashes(docs):
    """(doc_id, text, ...) → doc_id + shingle-hash array. Pure column math
    with each expensive step
    materialized as a column so nothing re-evaluates inside lambdas (a
    split() referenced textually inside a higher-order function re-runs
    per element; an attribute reference is bound once per row)."""
    words = docs.select("doc_id", F.expr(_SPARK_WORDS).alias("w")).where(F.expr("size(w) >= 3"))
    shingles = words.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
        ).alias("sh"),
    )
    return shingles.select(
        "doc_id", F.expr(f"transform(sh, s -> {_spark_hash('s')} % {_P})").alias("hs")
    )


def signatures(docs):
    """(doc_id, text, ...) → doc_id + mh0..mh{k-1}, one md5 shingle pass."""
    base = shingle_hashes(docs)
    return base.select(
        "doc_id",
        *[
            F.expr(_minhash_from_base("spark", "hs", j)).alias(f"mh{j}")
            for j in range(_N_HASHES)
        ],
    )


def minhash_bands(docs):
    """(doc_id, text, ...) → (doc_id, band_idx, band_key): the LSH banding
    of the MinHash signature (4 bands × 2 rows, band_key = band md5).
    Pure column math — the front half of :func:`q_minhash_lsh_pairs`."""
    sig = signatures(docs)
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{_BAND_ROWS * b + r}").cast("string")
                        for r in range(_BAND_ROWS)
                    ],
                )
            )
            for b in range(_N_HASHES // _BAND_ROWS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band_idx", "band_key"))


def band_front(bands):
    """(doc_id, band_idx, band_key) → the one-column ``key`` frame of the
    band-bucket front (one row per bucket membership): what the minhash
    cap pre-flight and ``calibrate.standard_fronts`` measure."""
    return bands.select(F.concat_ws("/", "band_idx", "band_key").alias("key"))


def _spark_signatures(spark, sf_dir):
    return signatures(table(spark, sf_dir, "documents"))


def _duck_signatures_sql(src: str = "documents") -> str:
    mh = ", ".join(
        f"{_minhash_from_base('duck', 'hs', j)} AS mh{j}" for j in range(_N_HASHES)
    )
    return (
        f"WITH base AS (SELECT doc_id, {_DUCK_BASE} AS hs FROM {src} "
        f"WHERE len({_DUCK_WORDS}) >= 3) SELECT doc_id, {mh} FROM base"
    )


@query("q_minhash_signatures", oracle=_duck_signatures_sql(), tags=("dedup", "minhash"))
def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (k=8): min over universal-hashed shingle hashes.
    Pure JVM column math — no shuffle, no Python, one md5 pass per doc."""
    return _spark_signatures(spark, sf_dir)


def _duck_lsh_pairs_sql(src: str = "documents") -> str:
    sig = _duck_signatures_sql(src)
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(CAST(mh{_BAND_ROWS * b} AS VARCHAR) || ',' || CAST(mh{_BAND_ROWS * b + 1} AS VARCHAR)) AS band_key "
        f"FROM sig"
        for b in range(_N_HASHES // _BAND_ROWS)
    )
    return f"""
WITH sig AS ({sig}),
bands AS ({band_rows})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


#: Production default hot-bucket cap for the REGISTERED minhash-LSH pair
#: queries (q_minhash_lsh_pairs and, through it, the verified-pairs /
#: clusters / survivors / triangles / pagerank / LPA family, plus
#: q_minhash_estimate's front) — r12, closing the last uncapped-by-default
#: pair generator. Calibrated above every normal-corpus band-bucket max
#: (measured: 3 at sf0.01, 15 at sf0.1 = the rep-level structure of
#: sf1/sf10) so the cap never binds off degenerate data and the uncapped
#: oracle SQL stays the exact semantics; on the sfp30 clone corpus band
#: buckets reach 904 members (1,005 buckets over this cap), where binding
#: is the point. ``max_bucket_size=None`` is the exactness escape.
DEFAULT_LSH_MAX_BUCKET_SIZE = 64


def lsh_pairs_from_bands(bands, max_bucket_size: int | None = None, observation=None):
    """(doc_id, band_idx, band_key) → distinct candidate pairs (doc_a < doc_b).

    Buckets form with ONE shuffle (groupBy band key — uniform md5, so
    skew-free); pairs are generated inside each bucket with array
    combinatorics instead of a self-join.

    100 TB guard: in-bucket expansion is quadratic, so one pathological
    bucket (e.g. a boilerplate page duplicated millions of times) can
    dominate the job. ``max_bucket_size`` caps each bucket to its first N
    ids (sorted — deterministic). Note the recall contract: only the KEPT
    members pair among themselves (transitivity merges those), while ids
    sliced past the cap emit NO pairs from that bucket — a dropped doc is
    merged downstream only if another band's bucket witnesses it. Pass a
    ``pyspark.sql.Observation`` to get per-run telemetry after the first
    action (:func:`calibrate.observe_cap` — auto-attached when capped)."""
    buckets = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    buckets = observe_cap(
        buckets, "minhash_bands", max_bucket_size, "size(ids)", observation
    )
    if max_bucket_size is not None:
        buckets = buckets.select(
            "band_idx", "band_key", F.slice("ids", 1, max_bucket_size).alias("ids")
        )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, x -> "
                "transform(filter(ids, y -> y > x), y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def _duck_rep_lsh_pairs_sql() -> str:
    """Rep-level LSH pairs: the lsh-pairs SQL with the exact-dup collapse
    CTE in front (mirrors :func:`q_minhash_lsh_pairs`'s Spark plan)."""
    return (
        f"WITH reps AS ({_DUCK_REPS}),\n"
        f"rep_pairs AS ({_duck_lsh_pairs_sql('reps')})\n"
        f"SELECT doc_a, doc_b FROM rep_pairs"
    )


@query("q_minhash_lsh_pairs", oracle=_duck_rep_lsh_pairs_sql(), tags=("dedup", "minhash", "join"))
def q_minhash_lsh_pairs(
    spark, sf_dir, max_bucket_size=DEFAULT_LSH_MAX_BUCKET_SIZE, observation=None,
    calibrate=False, pair_budget=None,
):
    """MinHash-LSH candidate pairs over DISTINCT-CONTENT representatives:
    collapse exact duplicates to their min-doc_id representative, band the
    signature (4 bands × 2 rows), bucket on band md5, emit distinct (a<b)
    pairs per bucket.

    Why reps (round-7, the r6 VERDICT's #1): byte-identical replicas have
    identical signatures, so a c-clone clique lands whole in one bucket
    and re-derives O(c²) candidate pairs of zero information — pairs
    q_dedup_exact already reports with certainty. Real corpora are
    replication-heavy, so banding members is a production cost bug, not a
    fixture artifact. Signatures are built from ``lower(trim(text))`` — the
    SAME normalization as the fingerprint (round-9 fix) — so every clique
    member, including case variants, shares its representative's signature
    and rep-level banding finds exactly the distinct-content bucket
    structure: downstream components over (these pairs ∪ exact_dup_edges)
    provably equal the old every-member clustering. The same collapse
    already guards q_simhash_near_pairs and q_dedup_triangles.

    Single-pass plan: fingerprint groupBy (one skew-free md5 shuffle) →
    one md5 shingle pass over reps only → the signature row explodes into
    its 4 band keys (no union of per-band branches), buckets form with ONE
    shuffle (groupBy band key, uniform md5 → skew-free), and pairs are
    generated inside each bucket via :func:`lsh_pairs_from_bands` with the
    PRODUCTION default cap (``DEFAULT_LSH_MAX_BUCKET_SIZE`` — r12:
    calibrated never to bind on non-degenerate corpora, so the oracle SQL
    stays exact; every downstream graph query — verified pairs, clusters,
    survivors, triangles, pagerank, LPA — inherits the guard through this
    entry). ``max_bucket_size=None`` is the exactness escape.

    ``calibrate=True`` (r14, VERDICT r13 #5) runs the cap pre-flight
    (:func:`calibrate.preflight`) first — ONE linear groupBy over the band
    front, no pair expansion — and proceeds with the default (measured
    not to bind → exact), runs uncapped where the measured in-bucket
    workload fits ``pair_budget`` (exact), or raises
    :class:`~video_data_pipeline_spark.calibrate.CapBoundError` naming
    the boundary. An explicit ``max_bucket_size=None`` skips the
    pre-flight: the caller already chose the uncapped exact join."""
    bands = minhash_bands(exact_dup_representatives(table(spark, sf_dir, "documents")))
    if calibrate and max_bucket_size is not None:
        from video_data_pipeline_spark.calibrate import preflight

        # lazy checkpoint: the banding front runs ONCE across the
        # measurement agg and the pair join
        bands = checkpoint_frame(bands)
        max_bucket_size = preflight(
            "minhash_bands", {"minhash_bands": lambda: band_front(bands)},
            max_bucket_size, DEFAULT_LSH_MAX_BUCKET_SIZE,
            pair_budget=pair_budget, sf_dir=sf_dir,
        ).max_bucket_size
    return lsh_pairs_from_bands(
        bands, max_bucket_size=max_bucket_size, observation=observation
    )


@query(
    "q_minhash_lsh_pairs_calibrated",
    oracle=_duck_rep_lsh_pairs_sql(),
    tags=("dedup", "minhash", "join", "calibrate"),
)
def q_minhash_lsh_pairs_calibrated(spark, sf_dir, pair_budget=None, observation=None):
    """q_minhash_lsh_pairs through the r14 cap pre-flight as a REGISTERED
    query (the q_simhash_near_pairs_calibrated pattern): the driver's
    hash gate and the bench pin the calibrated path directly. By
    construction the oracle compare is meaningful on EVERY corpus this
    runs on — the pre-flight proceeds only on an exact plan (default
    proven not to bind, or uncapped within budget) and otherwise raises
    ``CapBoundError`` by name, so the query never returns a capped subset
    for the gate to mis-read. At no-bind scales (all the oracle-gate
    fixtures) the decision is ``default`` and the only cost over
    q_minhash_lsh_pairs is the one linear front measurement."""
    return q_minhash_lsh_pairs(
        spark, sf_dir, observation=observation, calibrate=True,
        pair_budget=pair_budget,
    )


# ------------------------------------------------------------------ simhash


_SIMHASH_BITS = 60  # md5's leading 15 hex chars; bit 63 never set → positive BIGINT
_CHUNK_BITS = 15
_N_CHUNKS = 4  # 4 chunks ⇒ pigeonhole guarantee for hamming ≤ 3
_CHUNK_MASK = (1 << _CHUNK_BITS) - 1

#: Alternative wide-key pigeonhole geometry (Manku/Jain/Das Sarma,
#: WWW'07 §3 — the multi-block simhash index): 6 chunks of 10 bits;
#: hamming ≤ 3 flips bits in at most 3 chunks, so ≥ 3 of the 6 are
#: identical and at least one of the C(6,3) = 20 three-chunk COMBINATIONS
#: (a packed 30-bit key) matches exactly — same completeness theorem,
#: 30-bit keys. On HIGH-entropy corpora this keeps bucket size ∝ true
#: near-group size instead of ∝ n/2^15 random collisions. Measured
#: honestly on THIS corpus family it does not help (TRENDS r12): the
#: synthetic text is so self-similar that sub-threshold neighbors share
#: whole 30-bit keys too (combo bucket maxima 57 / 561 / 2,497 / 66,285
#: at sf0.01 / sf0.1 / sfp1 / sfp30 — still corpus-proportional), and the
#: capped pair workload at any oracle-safe cap exceeds the 4×15 split's.
#: Kept as the geometry knob a 100 TB diverse-text corpus would want;
#: output-equality to the 4×15 geometry is pytest-pinned.
_COMBO_CHUNK_BITS = 10
_COMBO_N_CHUNKS = 6  # 60 bits = 6 × 10
_COMBO_MASK = (1 << _COMBO_CHUNK_BITS) - 1
_SIMHASH_COMBOS: list[tuple[int, int, int]] = [
    (a, b, c)
    for a in range(_COMBO_N_CHUNKS)
    for b in range(a + 1, _COMBO_N_CHUNKS)
    for c in range(b + 1, _COMBO_N_CHUNKS)
]  # C(6,3) = 20, ordered — combo index is deterministic

#: Production default hot-bucket cap for the REGISTERED simhash queries
#: (q_simhash_near_pairs and, through its front, q_simhash_calibration) —
#: r10/r11 VERDICT #1. Calibrated above every ``max_bucket_size_seen`` at
#: the oracle-gate scales (155 at sf0.01; 1,580 at sf0.1 = the rep-level
#: structure of sf1/sf10) so the cap never binds there and the uncapped
#: oracle SQL stays the exact semantics. On PERTURBED corpora the cap
#: BINDS EARLIER than the other families' caps and the output is a
#: documented subset: at sfp1 chunk buckets reach ~14k (measured — the
#: 15-bit key space collides ∝ corpus size on low-entropy text) and the
#: registered query emits 3.28M of the oracle's 6.64M candidate pairs.
#: Capping DROPS the edges of members sliced past the cap — a recall loss
#: for those docs, not just a pair-count trim: transitivity merges only
#: the KEPT members of an over-cap bucket (they pair among themselves); a
#: dropped member is merged only if another chunk's bucket happens to
#: witness it. ``max_bucket_size=None`` recovers oracle exactness
#: bit-for-bit (verified at sfp1, TRENDS r12), and r13's
#: ``calibrate=True`` measures the bind up front and picks an exact plan
#: or refuses by name (``video_data_pipeline_spark.calibrate``). No
#: single cap can be both sfp1-exact and sfp30-bounded on this corpus
#: family — the candidate sets there are TRULY quadratic (~0.007B →
#: ~4.6B pairs) — so the default keeps the verdict-specified calibration
#: and the calibrated/escape paths carry the rest.
DEFAULT_SIMHASH_MAX_BUCKET_SIZE = 2048


def _simhash_from_hashes(dialect: str, col: str) -> str:
    """60-bit simhash from a word-hash array column: per-bit majority.

    Spark side is ONE fold with a 60-counter array accumulator (a single
    pass over the word-hash array) instead of 60 per-bit folds — measured
    2.3× faster at sf0.1 and keeps the codegen'd expression compact.
    DuckDB side stays per-bit (vectorized; oracle-only)."""
    if dialect == "spark":
        n = _SIMHASH_BITS
        return (
            f"aggregate(zip_with("
            f"aggregate({col}, array_repeat(CAST(0 AS BIGINT), {n}), "
            f"(acc, h) -> zip_with(acc, sequence(0, {n - 1}), "
            f"(a, b) -> a + IF((shiftright(h, CAST(b AS INT)) & 1) = 1, "
            f"CAST(1 AS BIGINT), CAST(-1 AS BIGINT)))), "
            f"sequence(0, {n - 1}), "
            f"(cnt, b) -> IF(cnt > 0, shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)), "
            f"CAST(0 AS BIGINT))), "
            f"CAST(0 AS BIGINT), (a, x) -> a + x)"
        )
    bit = (
        f"CASE WHEN list_aggregate(list_transform({col}, "
        f"h -> CASE WHEN ((h >> {{b}}) & 1) = 1 THEN 1 ELSE -1 END), 'sum') > 0 "
        f"THEN (1::BIGINT << {{b}}) ELSE 0::BIGINT END"
    )
    return " + ".join(bit.format(b=b) for b in range(_SIMHASH_BITS))


_SPARK_WORD_HASHES = f"transform(array_distinct({_SPARK_WORDS}), w -> {_spark_hash('w')})"
_DUCK_WORD_HASHES = f"list_transform(list_distinct({_DUCK_WORDS}), w -> {_duck_hash('w')})"


@query(
    "q_simhash",
    oracle=f"""
WITH wh AS (SELECT doc_id, {_DUCK_WORD_HASHES} AS hs FROM documents)
SELECT doc_id, CAST({_simhash_from_hashes("duck", "hs")} AS BIGINT) AS simhash FROM wh
""",
    tags=("dedup", "simhash"),
)
def q_simhash(spark, sf_dir):
    """SimHash document signature (60-bit): per-bit majority vote over word
    hashes — one md5 pass per distinct word, then one array-accumulator
    fold (integer bit math, no Python)."""
    d = table(spark, sf_dir, "documents")
    wh = d.select("doc_id", F.expr(_SPARK_WORD_HASHES).alias("hs"))
    return wh.select("doc_id", F.expr(_simhash_from_hashes("spark", "hs")).alias("simhash"))


def simhash_signatures(docs):
    """(doc_id, text, ...) → (doc_id, simhash): the 60-bit signature —
    one md5 pass per distinct word + one array-accumulator fold. Factored
    out (r13) so the cap-calibration pre-flight can compute the signature
    ONCE, lazily checkpoint it, and feed the same frame to both pigeonhole
    fronts and the final pair join instead of re-running the md5 pass per
    consumer."""
    wh = docs.select("doc_id", F.expr(_SPARK_WORD_HASHES).alias("hs"))
    return wh.select(
        "doc_id", F.expr(_simhash_from_hashes("spark", "hs")).alias("simhash")
    )


def chunk_keys(sig):
    """(doc_id, simhash) → (doc_id, simhash, c, chunk): the 4 × 15-bit
    pigeonhole keys of a precomputed signature frame. Pure column math."""
    return sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(_N_CHUNKS - 1))).alias("c"),
    ).withColumn("chunk", F.expr(f"shiftright(simhash, {_CHUNK_BITS} * c) & {_CHUNK_MASK}"))


def combo_keys(sig):
    """(doc_id, simhash) → (doc_id, simhash, c, chunk): the 60-bit
    signature keyed by every 3-of-6 ten-bit chunk COMBINATION — c is the
    combo index (0..19), chunk the packed 30-bit key. Hamming ≤ 3 ⇒ at
    least one combo matches exactly (see ``_SIMHASH_COMBOS``); wide keys
    keep bucket size ∝ true near-group size instead of ∝ corpus size.
    Pure column math; same output column names as :func:`chunk_keys` so
    the capped join core is geometry-agnostic."""
    keys = ", ".join(
        "struct({j} AS c, {key} AS chunk)".format(
            j=j,
            key=" | ".join(
                f"(shiftleft(shiftright(simhash, {_COMBO_CHUNK_BITS * ch})"
                f" & {_COMBO_MASK}, {_COMBO_CHUNK_BITS * pos}))"
                for pos, ch in enumerate(combo)
            ),
        )
        for j, combo in enumerate(_SIMHASH_COMBOS)
    )
    return sig.select(
        "doc_id", "simhash", F.expr(f"explode(array({keys}))").alias("k")
    ).select("doc_id", "simhash", F.col("k.c").alias("c"), F.col("k.chunk").alias("chunk"))


def pigeonhole_front(keys):
    """(doc_id, simhash, c, chunk) keys of either geometry
    (:func:`chunk_keys` / :func:`combo_keys`) → the one-column ``key``
    frame of that pigeonhole front: what the simhash cap pre-flight and
    ``calibrate.standard_fronts`` measure."""
    return keys.select(F.concat_ws("/", "c", "chunk").alias("key"))


#: the exact (uncapped) near-pair semantics — shared by the default,
#: combo-geometry, and calibrated registered queries: all three are
#: complete for hamming <= 3, so one oracle pins them all
_DUCK_SIMHASH_NEAR_PAIRS_SQL = f"""
WITH reps AS ({_DUCK_REPS}),
wh AS (SELECT doc_id, {_DUCK_WORD_HASHES} AS hs FROM reps),
sh AS (SELECT doc_id, CAST({_simhash_from_hashes("duck", "hs")} AS BIGINT) AS simhash FROM wh),
chunks AS (
  SELECT doc_id, simhash, c, (simhash >> ({_CHUNK_BITS} * c)) & {_CHUNK_MASK} AS chunk
  FROM sh, (SELECT unnest([0, 1, 2, 3]) AS c)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM chunks a JOIN chunks b
  ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@query(
    "q_simhash_near_pairs",
    oracle=_DUCK_SIMHASH_NEAR_PAIRS_SQL,
    tags=("dedup", "simhash", "join"),
)
def q_simhash_near_pairs(
    spark,
    sf_dir,
    max_bucket_size=DEFAULT_SIMHASH_MAX_BUCKET_SIZE,
    observation=None,
    calibrate=False,
    pair_budget=None,
):
    """SimHash near-dup pairs (hamming ≤ 3) over distinct-content
    representatives, via pigeonhole: split the 60-bit signature into 4
    chunks of 15 bits — any pair within distance 3 must agree on ≥1 chunk,
    so the join key is (chunk_idx, chunk_value) with ~32k distinct values
    per chunk index. At corpus scale each bucket holds O(n / 2^15) docs
    (vs n/16 for the old 16-bit signature — the round-5 cartesian bomb),
    so pair generation stays near-linear. Exact duplicates are collapsed
    to one representative first (see :func:`exact_dup_representatives`):
    replicated corpora otherwise stuff every clique into one bucket and
    re-derive O(c²) hamming-0 pairs that q_dedup_exact already reports.

    Delegates to :func:`simhash_near_pairs_capped` with the PRODUCTION
    default cap (``DEFAULT_SIMHASH_MAX_BUCKET_SIZE`` — r12: the 100 TB
    hot-bucket guard is the default, not opt-in; calibrated never to bind
    on non-degenerate corpora, so the uncapped oracle SQL stays the exact
    semantics at every tested sf). q_simhash_calibration rides this same
    front, so its pigeonhole expansion is bounded too. Pass
    ``max_bucket_size=None`` for exactness studies.

    ``calibrate=True`` (r13, VERDICT r12 #1) runs the cap pre-flight
    FIRST — one linear groupBy per pigeonhole front, no pair expansion —
    and then either proceeds with the default (measured not to bind →
    exact), switches to the cheapest EXACT plan whose measured candidate
    workload fits ``pair_budget`` (auto-selecting ``geometry="combos"``
    where the measurement says it wins), or raises
    :class:`~video_data_pipeline_spark.calibrate.CapBoundError` naming
    the boundary and the workload estimate — a capped-subset answer is
    never silently produced on a corpus where the default binds. The
    measurement is memoized by corpus fingerprint + cap (r14), so repeat
    runs on an unchanged table skip the measurement shuffle. The 60-bit
    signature is computed ONCE and lazily checkpointed, so the md5 pass
    runs once across both fronts and the pair join. An explicit
    ``max_bucket_size=None`` skips the pre-flight."""
    docs = table(spark, sf_dir, "documents")
    geometry, sig = "chunks", None
    if calibrate and max_bucket_size is not None:
        from video_data_pipeline_spark.calibrate import preflight

        sig = checkpoint_frame(simhash_signatures(exact_dup_representatives(docs)))
        plan = preflight(
            "simhash",
            {
                "chunks": lambda: pigeonhole_front(chunk_keys(sig)),
                "combos": lambda: pigeonhole_front(combo_keys(sig)),
            },
            max_bucket_size, DEFAULT_SIMHASH_MAX_BUCKET_SIZE,
            pair_budget=pair_budget, sf_dir=sf_dir,
        )
        max_bucket_size, geometry = plan.max_bucket_size, plan.geometry
    return simhash_near_pairs_capped(
        docs,
        max_bucket_size=max_bucket_size,
        observation=observation,
        geometry=geometry,
        signatures=sig,
    )


@query(
    "q_simhash_near_pairs_combo",
    oracle=_DUCK_SIMHASH_NEAR_PAIRS_SQL,
    tags=("dedup", "simhash", "join"),
)
def q_simhash_near_pairs_combo(
    spark, sf_dir, max_bucket_size=DEFAULT_SIMHASH_MAX_BUCKET_SIZE, observation=None
):
    """q_simhash_near_pairs under the Manku-style WIDE-KEY pigeonhole
    (:func:`combo_keys`: 20 three-of-six ten-bit chunk
    combinations, 30-bit join keys). The two geometries are both complete
    for hamming ≤ 3, so the oracle is the SAME SQL as the 4×15 query —
    registering the knob puts its output-invariance under the driver's
    hash gate, not just pytest. Choose this geometry on DIVERSE corpora:
    measured at 1M high-entropy docs it enumerates 251,892 candidate
    pairs where the 4×15 front enumerates 77.3M collision-noise pairs
    (TRENDS r12); on low-entropy/boilerplate-heavy corpora prefer the
    default query (collisions dilute cliques there, and the cap cuts
    harder — same TRENDS entry, measured at sfp1/sfp30)."""
    return simhash_near_pairs_capped(
        table(spark, sf_dir, "documents"),
        max_bucket_size=max_bucket_size,
        observation=observation,
        geometry="combos",
    )


@query(
    "q_simhash_near_pairs_calibrated",
    oracle=_DUCK_SIMHASH_NEAR_PAIRS_SQL,
    tags=("dedup", "simhash", "join", "calibrate"),
)
def q_simhash_near_pairs_calibrated(spark, sf_dir, pair_budget=None, observation=None):
    """q_simhash_near_pairs through the r13 cap pre-flight as a REGISTERED
    query: the driver's hash gate and the bench now pin the calibrated
    path directly, not just via pytest. By construction the oracle
    compare is meaningful at EVERY corpus this runs on — the pre-flight
    proceeds only on an exact plan (default proven not to bind, or the
    cheapest complete geometry uncapped within budget) and otherwise
    raises ``CapBoundError`` by name, so the query never returns a
    capped subset for the gate to mis-read. At no-bind scales (all the
    oracle-gate fixtures) the decision is ``default`` and the only cost
    over q_simhash_near_pairs is the one linear front measurement —
    which the bench therefore measures."""
    return q_simhash_near_pairs(
        spark,
        sf_dir,
        observation=observation,
        calibrate=True,
        pair_budget=pair_budget,
    )


def simhash_near_pairs_capped(
    docs,
    max_bucket_size: int | None = None,
    observation=None,
    max_hamming: int = 3,
    geometry: str = "chunks",
    signatures=None,
):
    """Core of :func:`q_simhash_near_pairs`, carrying the same 100 TB
    hot-bucket guard :func:`lsh_pairs_from_bands` carries.

    The uncapped pigeonhole join generates O(bucket²) candidate
    pairs per (chunk_idx, chunk_value) bucket. Usually buckets hold
    O(n/2^15) docs, but a UNIGRAM-dense corpus concentrates them: the r9
    sfp10 probe measured ~10⁸ true hamming≤3 pairs on a corpus whose
    scrambled copies share 2/3 of their unigrams (boilerplate-heavy real
    corpora behave the same way). This variant forms buckets with ONE
    shuffle (groupBy chunk key) and caps each to its first
    ``max_bucket_size`` members (sorted — deterministic). Recall contract
    when the cap binds: the KEPT members pair among themselves
    (transitivity merges those), but members sliced past the cap emit NO
    pairs from that bucket — a dropped doc is merged only if another
    chunk's bucket witnesses it. The hamming residual filters after pair
    generation. Pass an ``Observation`` for the cap telemetry
    (:func:`calibrate.observe_cap`, auto-attached when capped).

    ``signatures`` short-circuits the signature computation with a
    precomputed (doc_id, simhash) frame — the calibration pre-flight
    passes its lazily-checkpointed signature frame here so the md5 pass
    runs once across measurement and join (``docs`` is ignored then, and
    the caller owns rep-collapse).

    Uncapped it equals the oracle SQL exactly (pytest-pinned); the
    registered query delegates here with
    ``DEFAULT_SIMHASH_MAX_BUCKET_SIZE``, calibrated never to bind at the
    oracle-gate scales (see the constant's docstring for where it DOES
    bind — heavily-perturbed corpora — and why that is the documented
    contract rather than a calibration hole). ``geometry`` selects the
    pigeonhole decomposition: ``"chunks"`` (default, 4×15-bit) or
    ``"combos"`` (:func:`combo_keys`, 20×30-bit — the Manku-style
    wide keys a high-entropy corpus prefers); both are complete for
    hamming ≤ 3, so the uncapped output is geometry-invariant
    (pytest-pinned)."""
    if geometry == "combos" and max_hamming > _COMBO_N_CHUNKS - 3:
        # 3-of-6 combos guarantee recall only while flips touch ≤ 3 chunks
        raise ValueError("combos geometry is complete only for max_hamming <= 3")
    front = combo_keys if geometry == "combos" else chunk_keys
    if signatures is None:
        signatures = simhash_signatures(exact_dup_representatives(docs))
    chunks = front(signatures)
    buckets = (
        chunks.groupBy("c", "chunk")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias(
                "members"
            )
        )
        .where(F.size("members") > 1)
    )
    # cap BEFORE the checkpoint (ADVICE r16): the r16 form checkpointed the
    # UNCAPPED member lists and sliced after, so on the degenerate corpora
    # the cap exists for (sfp30: 332 over-cap buckets) the block manager
    # persisted exactly the oversized arrays the cap is meant to bound.
    # Slice first and carry the uncapped size as ONE BIGINT per bucket —
    # the telemetry below reads n_uncapped, so every metric (including the
    # recall arithmetic on uncapped candidate pairs) is unchanged while
    # the persisted blocks are bounded by cap × bucket count.
    if max_bucket_size is not None:
        buckets = buckets.select(
            "c",
            "chunk",
            F.size("members").alias("n_uncapped"),
            F.slice("members", 1, max_bucket_size).alias("members"),
        )
    else:
        buckets = buckets.select(
            "c", "chunk", F.size("members").alias("n_uncapped"), "members"
        )
    # lazy localCheckpoint BEFORE the observe node (r16): the self-join
    # below otherwise re-instantiates the whole scan → rep-collapse →
    # signature-md5 → bucket subtree on BOTH sides (the observe's
    # CollectMetrics defeats exchange canonicalization; the before-plan
    # shows 2 parquet scans and the signature fold — the repo's heaviest
    # per-doc expression — twice, one side under a BroadcastExchange).
    # The checkpoint must sit UNDER the observe: a CollectMetrics inside
    # a checkpointed RDD materializes outside any SQL execution, so its
    # metrics never reach the cap-telemetry listener (measured — the
    # headroom gates read None). So the observe attaches ABOVE the
    # checkpoint, and to ONE join side only: its CollectMetrics executes
    # inside the join query (metrics fire exactly once — pre-change it
    # was duplicated on both sides), while the other side pays only the
    # explode over the checkpoint scan. Measured 0.90×/0.92× on the
    # near-pairs / calibrated bench queries with the telemetry kept (a
    # variant that also dropped the CollectMetrics from the executed
    # query measured 0.70× but returned None metrics — rejected;
    # BENCH_SIMHASH_FLAT_CKPT_AB_r16.json records both).
    buckets = checkpoint_frame(buckets)
    observed = observe_cap(
        buckets, f"simhash_{geometry}", max_bucket_size, "n_uncapped", observation
    )

    # pair generation: explode the (pre-capped) members back to rows and
    # equi-join on the chunk key — NOT in-bucket array combinatorics. The
    # flatten(transform(...)) form materializes a bucket²-element struct
    # array PER BUCKET ROW before explode; at the default cap that is
    # ~2.1M structs (~50 MB) per hot bucket and it OOM'd the executor heap
    # on the sfp30 probe (332 over-cap buckets, r12). The equi-join
    # streams: SMJ/SHJ buffers one key group — at most ``cap`` rows — and
    # emits pairs incrementally, so memory is O(cap), not O(cap²). Both
    # sides descend from the same checkpointed bucket frame, so the join
    # adds no new corpus shuffle.
    def _flat(side):
        return side.select(
            "c", "chunk", F.explode("members").alias("m")
        ).select(
            "c",
            "chunk",
            F.col("m.doc_id").alias("doc_id"),
            F.col("m.simhash").alias("simhash"),
        )

    a, b = _flat(observed).alias("a"), _flat(buckets).alias("b")
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------------------------ jaccard


#: demo-subset / threshold chosen so the query is NON-vacuous at every test
#: scale (sf0.001: 34 pairs, sf0.01: 36 pairs — a 0-row match would prove
#: nothing about the jaccard math)
_JACCARD_MOD = 3
_JACCARD_TAU = 0.02


def _duck_jaccard_sql() -> str:
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS shingle
  FROM documents WHERE doc_id % {_JACCARD_MOD} = 0 AND len({_DUCK_WORDS}) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common) >= {_JACCARD_TAU}
"""


@query(
    "q_ngram_jaccard_pairs",
    oracle=_duck_jaccard_sql(),
    # demo_quadratic: the exhaustive shingle self-join is the MATH ORACLE
    # for the scale path (q_jaccard_verified_pairs) and is intentionally
    # quadratic on common shingles — scale sweeps (selfcheck
    # --exclude-tags demo_quadratic) skip it BY TAG rather than by
    # hand-maintained name lists (r6 VERDICT "what's wrong" #3)
    tags=("dedup", "jaccard", "join", "demo_quadratic"),
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard similarity: explode distinct 3-gram shingles,
    equi-join on shingle, |∩| / |∪| ≥ threshold. This is the MATH ORACLE
    for Jaccard (exhaustive over a bounded demo subset — a full shingle
    self-join goes quadratic on any common shingle at corpus scale); the
    registered SCALE plan is :func:`q_jaccard_verified_pairs`, which
    computes the same exact Jaccard only over LSH candidate pairs."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") % _JACCARD_MOD == 0)
    words = d.select("doc_id", F.expr(_SPARK_WORDS).alias("w")).where(F.expr("size(w) >= 3"))
    # shingle-set size travels WITH each exploded row: it's a plan-time
    # function of the array, so no separate `sizes` aggregate to broadcast
    # (which would recompute the whole shingle subtree per join branch —
    # VERDICT r1 perf flag) and no second shuffle
    docs = words.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(w) - 3), "
                "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
            )
        ).alias("shingles"),
    ).withColumn("n", F.size("shingles"))
    sh = docs.select("doc_id", "n", F.explode("shingles").alias("shingle"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return common.select("doc_a", "doc_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= _JACCARD_TAU
    )


#: verification threshold for LSH-candidate Jaccard (Lee et al. 2022 use
#: 0.8 for near-dup; lowered here so the check is non-vacuous on the small
#: test corpora while keeping the >0 selectivity that proves the filter)
_VERIFY_TAU = 0.5


def _duck_verified_pairs_sql() -> str:
    inter = "len(list_intersect(sa.sh, sb.sh))"
    jac = f"CAST({inter} AS DOUBLE) / (len(sa.sh) + len(sb.sh) - {inter})"
    return f"""
WITH reps AS ({_DUCK_REPS}),
pairs AS ({_duck_lsh_pairs_sql("reps")}),
sets AS (
  SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh
  FROM reps WHERE len({_DUCK_WORDS}) >= 3
)
SELECT p.doc_a, p.doc_b, {jac} AS jaccard
FROM pairs p
JOIN sets sa ON sa.doc_id = p.doc_a
JOIN sets sb ON sb.doc_id = p.doc_b
WHERE {jac} >= {_VERIFY_TAU}
"""


@query(
    "q_jaccard_verified_pairs",
    oracle=_duck_verified_pairs_sql(),
    tags=("dedup", "jaccard", "minhash", "join"),
)
def q_jaccard_verified_pairs(spark, sf_dir):
    """VERIFIED near-dup pairs: exact n-gram Jaccard computed ONLY on the
    MinHash-LSH candidate pairs — the standard two-stage dedup pipeline
    (Lee et al. 2022 §3: LSH proposes, exact similarity disposes). This is
    the 100 TB Jaccard plan: the all-pairs shingle self-join of
    :func:`q_ngram_jaccard_pairs` never happens; exact similarity is paid
    only for the |candidates| pairs LSH surfaces.

    Round-7 (r6 VERDICT #1): candidates are DISTINCT-CONTENT representative
    pairs — exact-dup cliques never reach verification. Clone-member pairs
    are recoverable by construction (Jaccard 1.0 within a clique; a member
    inherits every verified pair of its representative verbatim, because
    its shingle set is identical) from q_dedup_exact's fingerprint groups,
    costing zero Jaccard evaluations.

    Scale shape: the candidate list is tiny relative to the corpus
    (near-dup rate × corpus), so both doc_id-keyed joins that attach the
    shingle sets hit AQE's broadcast tier; the corpus-side shingle pass is
    the same single md5 pass the signatures already made. Intersection is
    per-row array math (`array_intersect` on sorted-distinct arrays) — no
    explode, no extra shuffle."""
    d = table(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    words = d.select("doc_id", F.expr(_SPARK_WORDS).alias("w")).where(
        F.expr("size(w) >= 3")
    )
    sets = words.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(w) - 3), "
                "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
            )
        ).alias("sh"),
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    joined = pairs.join(sa, "doc_a").join(sb, "doc_b").withColumn(
        "n_common", F.size(F.array_intersect("sha", "shb"))
    )
    jac = F.col("n_common").cast("double") / (
        F.size("sha") + F.size("shb") - F.col("n_common")
    )
    return (
        joined.select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= _VERIFY_TAU)
    )


def _duck_expanded_pairs_sql() -> str:
    inner = _duck_verified_pairs_sql().strip()
    return f"""
WITH vp AS ({inner}),
mem AS (
  SELECT MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS rep,
         doc_id, text
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
FROM mem a JOIN mem b ON a.rep = b.rep AND a.doc_id < b.doc_id
WHERE len({_DUCK_WORDS.replace("text", "a.text")}) >= 3
UNION ALL
SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
       GREATEST(ma.doc_id, mb.doc_id) AS doc_b, p.jaccard
FROM vp p JOIN mem ma ON ma.rep = p.doc_a JOIN mem mb ON mb.rep = p.doc_b
"""


@query(
    "q_jaccard_pairs_expanded",
    oracle=_duck_expanded_pairs_sql(),
    tags=("dedup", "jaccard", "minhash", "expansion"),
)
def q_jaccard_pairs_expanded(spark, sf_dir):
    """MEMBER-level verified near-dup pairs, recovered BY CONSTRUCTION from
    the rep-level pipeline — the query that proves the round-7 contract: a
    user who wants every (doc_a, doc_b, jaccard) pair (the pre-r7
    q_jaccard_verified_pairs output, exactly) gets it without a single
    Jaccard evaluation on clone pairs. Within-clique pairs are Jaccard 1.0
    by definition (identical NORMALIZED shingle sets — shingles come from
    ``lower(trim(text))``, the fingerprint normalization, so this holds
    for case-variant clique members too, r9 fix); cross-clique pairs
    inherit their representatives' verified value verbatim. Equivalence
    to banding every member: signatures are functions of the fingerprint,
    so a member-level candidate pair exists iff its rep pair does, with
    the same Jaccard.

    Scale shape: verification cost is O(|rep candidates|); the expansion
    is two fingerprint-keyed equi-joins plus one rep-keyed within-clique
    join — pure pair GENERATION, no shingle math. Note the OUTPUT itself
    is inherently quadratic in clique size on replication-heavy corpora
    (that is the semantics being asked for); the rep-level queries are the
    ones a 100 TB pipeline feeds downstream."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim("text")))
    mem = d.select(fp.alias("f"), "doc_id", "text")
    reps = mem.groupBy("f").agg(F.min("doc_id").alias("rep"))
    mem = mem.join(reps, "f").select("rep", "doc_id", "text")
    a = mem.alias("a")
    b = mem.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.rep") == F.col("b.rep"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.expr(f"size({_SPARK_WORDS.replace('text', 'a.text')}) >= 3"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    vp = q_jaccard_verified_pairs(spark, sf_dir)
    ma = mem.select(F.col("rep").alias("rep_a"), F.col("doc_id").alias("ma"))
    mb = mem.select(F.col("rep").alias("rep_b"), F.col("doc_id").alias("mb"))
    cross = (
        vp.join(ma, vp["doc_a"] == ma["rep_a"])
        .join(mb, vp["doc_b"] == mb["rep_b"])
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


#: banded edit-distance cutoff for LSH-candidate verification. Chosen
#: non-vacuous on the test corpora: at sf0.01 LSH surfaces 31 candidate
#: pairs with distances 4..337 — k=120 keeps 25 and rejects 6, so the
#: filter provably does work in both engines.
_LEV_K = 120


def _duck_levenshtein_sql() -> str:
    return f"""
WITH reps AS ({_DUCK_REPS}),
pairs AS ({_duck_lsh_pairs_sql("reps")})
SELECT p.doc_a, p.doc_b, levenshtein(da.text, db.text) AS edit_dist
FROM pairs p
JOIN reps da ON da.doc_id = p.doc_a
JOIN reps db ON db.doc_id = p.doc_b
WHERE levenshtein(da.text, db.text) <= {_LEV_K}
"""


@query(
    "q_levenshtein_verified_pairs",
    oracle=_duck_levenshtein_sql(),
    tags=("dedup", "levenshtein", "minhash", "join"),
)
def q_levenshtein_verified_pairs(spark, sf_dir):
    """VERIFIED near-dup pairs by EDIT DISTANCE: banded Levenshtein
    computed ONLY on the MinHash-LSH candidate pairs — the character-level
    sibling of :func:`q_jaccard_verified_pairs` (token-level). Useful when
    near-dups differ by small in-place edits (OCR noise, template fills)
    that shingle Jaccard under-weights.

    Round-7 (r6 VERDICT #1): candidates are DISTINCT-CONTENT representative
    pairs — a c-clone clique no longer pays C(c,2) banded-DP evaluations
    of distance 0 (at sf1 this one query was 49.9 s of the 104.4 s
    headline, almost all clique re-verification). Clone-member pairs are
    recoverable by construction (distance 0 within a clique; members
    inherit their representative's verified pairs verbatim) from
    q_dedup_exact's fingerprint groups.

    Scale shape: Spark's 3-arg ``levenshtein(a, b, k)`` runs the BANDED
    dynamic program — O(k·max(len)) per pair instead of O(len²) — and
    returns -1 above the cutoff, so cost is bounded per candidate and the
    expensive metric is paid only for the |candidates| pairs LSH surfaces
    (never all-pairs). The two doc_id-keyed joins that attach text hit
    AQE's broadcast tier exactly as in the Jaccard verifier.

    Engine parity caveat (pinned by tests/test_levenshtein_parity.py):
    Spark counts CODEPOINTS, DuckDB counts UTF-8 BYTES — identical on
    ASCII corpora (this testdata is pure ASCII); for multilingual corpora
    normalize both sides or keep the verifier engine-internal."""
    d = table(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    joined = pairs.join(ta, "doc_a").join(tb, "doc_b")
    # banded: returns the exact distance when <= k, else -1 — so the
    # filter below both applies the cutoff and drops the sentinel
    lev = F.levenshtein("ta", "tb", _LEV_K)
    return (
        joined.select("doc_a", "doc_b", lev.alias("edit_dist"))
        .where(F.col("edit_dist") >= 0)
    )


def _duck_clusters_sql() -> str:
    return f"""
WITH RECURSIVE reps AS ({_DUCK_REPS}),
rep_lsh AS ({_duck_lsh_pairs_sql("reps")}),
lsh AS (SELECT doc_a, doc_b FROM rep_lsh
        UNION ALL {_DUCK_EXACT_EDGES.strip()}),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM lsh
  UNION SELECT doc_b AS a, doc_a AS b FROM lsh
),
reach AS (
  SELECT a AS node, a AS r FROM sym
  UNION
  SELECT re.node, s.b AS r FROM reach re JOIN sym s ON s.a = re.r
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
"""


@query("q_dedup_clusters", oracle=_duck_clusters_sql(), tags=("dedup", "iterative"))
def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster formation: connected components over the MinHash-LSH
    candidate pairs (operators/components.py, iterative min-label
    propagation with checkpointed rounds) — each doc labeled with the min
    doc_id of its duplicate cluster; survivors are rows where
    doc_id = cluster_id. Oracle: recursive-CTE transitive closure.

    Round-7 edge list: rep-level LSH pairs ∪ :func:`exact_dup_edges` star
    edges. Star and clique connect the same vertex set and the rep IS the
    clique minimum, so the components — and every (doc_id, cluster_id)
    row — equal the old every-member banding exactly, while edge count
    drops from O(c²) to O(c) per clone clique."""
    from video_data_pipeline_spark.operators.components import connected_components

    d = table(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir).unionByName(exact_dup_edges(d))
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return comp.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))


@query(
    "q_decontaminate",
    oracle=f"""
WITH test_set AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents WHERE doc_id < 20
),
test_shingles AS (SELECT DISTINCT unnest(sh) AS s FROM test_set),
corpus AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents WHERE doc_id >= 20
),
corpus_shingles AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM corpus),
hits AS (SELECT DISTINCT cs.doc_id FROM corpus_shingles cs JOIN test_shingles t USING (s))
SELECT c.doc_id,
       CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
""",
    tags=("dedup", "decontamination"),
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    3-word shingle with a held-out test set (docs 0-19 stand in for the
    benchmark; the standard n-gram-overlap rule of GPT-3 appendix C /
    Gopher appendix).

    Scale shape: the TEST SET is tiny (benchmarks are KBs, the corpus is
    the 100 TB side), so its distinct shingles broadcast; the corpus
    explodes its shingles per-row and LEFT-SEMI joins the broadcast —
    the corpus never shuffles, and the flag is a groupBy on doc_id over
    the semi-join hits (map-side combinable boolean max)."""
    d = table(spark, sf_dir, "documents")
    test_shingles = (
        d.where(F.col("doc_id") < 20)
        .select(F.explode(F.expr(_SPARK_SHINGLES)).alias("s"))
        .distinct()
    )
    corpus = d.where(F.col("doc_id") >= 20).select(
        "doc_id", F.expr(_SPARK_SHINGLES).alias("sh")
    )
    hits = (
        corpus.select("doc_id", F.explode("sh").alias("s"))
        .join(F.broadcast(test_shingles), "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("contaminated", F.lit(0)).alias("contaminated")
        )
    )


def _duck_survivors_sql() -> str:
    body = _duck_clusters_sql().strip().removeprefix("WITH RECURSIVE ")
    ctes = body.split("SELECT node")[0].rstrip().rstrip(",")
    return f"""
WITH RECURSIVE {ctes},
clusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
"""


@query("q_dedup_survivors", oracle=_duck_survivors_sql(), tags=("dedup", "iterative"))
def q_dedup_survivors(spark, sf_dir):
    """The DEDUPLICATED CORPUS end-to-end: MinHash-LSH candidate pairs →
    connected-components clusters → keep each cluster's min doc_id plus
    every unclustered doc. This is the query a curation run actually
    ships — the kept rows — composing three oracled stages
    (q_minhash_lsh_pairs, q_dedup_clusters, and an anti-join survivor
    selection) into one output.

    Scale: the pair list and cluster map are tiny relative to the corpus
    (near-dup rate × corpus), so the final survivor join BROADCASTS the
    non-survivor set against the full documents scan — the 100 TB corpus
    itself is never shuffled. Edge list as in q_dedup_clusters (round-7):
    rep-level LSH pairs ∪ exact-dup star edges — identical survivors,
    O(c) instead of O(c²) edges per clone clique."""
    from video_data_pipeline_spark.operators.components import connected_components

    d = table(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir).unionByName(exact_dup_edges(d))
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(F.broadcast(losers), "doc_id", "left_anti").select(
        "doc_id", "lang", "n_chars"
    )


# ------------------------------------------------------------------ exact-substring spans

_NG = 8  # span length in words; long enough that sharing one is near-proof of copying


def _duck_dup_ngrams_sql() -> str:
    idx = " || ' ' || ".join(f"w[i+{k}]" for k in range(1, _NG + 1))
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(len(w) - {_NG - 1}), i -> {idx}))) AS ngram
  FROM t WHERE len(w) >= {_NG}
)
SELECT ngram, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
FROM g GROUP BY ngram HAVING COUNT(*) >= 2
"""


@query("q_duplicate_ngrams", oracle=_duck_dup_ngrams_sql(), tags=("dedup", "substring"))
def q_duplicate_ngrams(spark, sf_dir):
    """Cross-document repeated span detection: word 8-grams (``_NG``) that occur
    in >= 2 DISTINCT documents — the signal behind exact-substring
    deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": repeated 50-token spans are memorization
    fuel; the span length is a parameter). Spans are deduplicated
    per-document first, so the group count IS the distinct-document count.

    Scale shape: n-gram generation is per-row column math (one split(),
    one transform over an index sequence — no re-evaluation inside the
    lambda); the single shuffle is the groupBy on the span text. (Grouping
    on ``md5(ngram)`` instead only pays off when the span text is NOT
    needed downstream — carrying it back via ``any_value(ngram)`` ships
    strictly more bytes than keying on the text; measured equal at sf0.1.)
    A boilerplate-heavy corpus
    concentrates a few spans; AQE skew-join handling does not apply to
    aggregates, but map-side partial aggregation absorbs exactly that
    case (hot spans pre-combine to one row per map task)."""
    d = table(spark, sf_dir, "documents")
    terms = ", ".join(f"w[i+{k}]" for k in range(_NG))
    words = d.select("doc_id", F.expr(_SPARK_WORDS).alias("w")).where(
        F.expr(f"size(w) >= {_NG}")
    )
    ngrams = words.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, size(w) - {_NG}), i -> concat_ws(' ', {terms}))"
                )
            )
        ).alias("ngram"),
    )
    return (
        ngrams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .where(F.col("n_docs") >= 2)
    )


# ------------------------------------------------------------ incremental


def _duck_incremental_sql() -> str:
    sig = _duck_signatures_sql()
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(CAST(mh{_BAND_ROWS * b} AS VARCHAR) || ',' || CAST(mh{_BAND_ROWS * b + 1} AS VARCHAR)) AS band_key "
        f"FROM sig"
        for b in range(_N_HASHES // _BAND_ROWS)
    )
    return f"""
WITH sig AS ({sig}),
bands AS ({band_rows}),
new_b AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
old_b AS (SELECT * FROM bands WHERE doc_id % 10 <> 7)
SELECT n.doc_id, MIN(o.doc_id) AS first_match,
       COUNT(DISTINCT o.doc_id) AS n_candidates
FROM new_b n JOIN old_b o
  ON n.band_idx = o.band_idx AND n.band_key = o.band_key
GROUP BY n.doc_id
"""


@query(
    "q_dedup_incremental",
    oracle=_duck_incremental_sql(),
    tags=("dedup", "minhash", "incremental"),
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup check: an INCOMING batch (docs with
    ``doc_id % 10 = 7``, ~10%) probed against the band INDEX of the
    already-ingested corpus — the shape of real continuous ingestion,
    where the index is a persisted table the batch joins against and the
    historical corpus is never re-hashed (here both sides derive from the
    one test table; the doc_id filters sit below the md5 pass, so each
    side hashes only its own subset — one full pass total).

    Per incoming doc: the earliest colliding historical doc (min id — the
    survivor it would merge into) and how many distinct historical docs
    collide on any band. Join is keyed on the uniform band md5 → skew-free
    shuffle; at production scale the incoming side is batch-sized and AQE
    broadcasts it against the big index."""
    bands = minhash_bands(table(spark, sf_dir, "documents"))
    new_b = bands.where(F.col("doc_id") % 10 == 7)
    old_b = (
        bands.where(F.col("doc_id") % 10 != 7)
        .withColumnRenamed("doc_id", "old_id")
    )
    return (
        new_b.join(old_b, ["band_idx", "band_key"])
        .groupBy("doc_id")
        .agg(
            F.min("old_id").alias("first_match"),
            F.countDistinct("old_id").alias("n_candidates"),
        )
    )


@query(
    "q_dedup_triangles",
    oracle=f"""
WITH reps AS ({_DUCK_REPS}),
pairs AS ({_duck_lsh_pairs_sql("reps")}),
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
)
SELECT (SELECT COUNT(*) FROM tri) AS n_triangles,
       (SELECT COUNT(*) FROM pairs) AS n_edges
""",
    tags=("dedup", "graph", "triangles"),
)
def q_dedup_triangles(spark, sf_dir):
    """Triangle count over the MinHash-LSH near-dup pair graph of
    DISTINCT-content representatives — the cluster-cohesion signal
    (triangle-dense neighborhoods are true duplicate clusters;
    triangle-free stars are often hash collisions worth re-verifying
    before transitive merging).

    Exact duplicates are collapsed FIRST (min-doc_id representative per
    content fingerprint): byte-identical copies form complete LSH cliques,
    and a clique of c copies contributes ~c^3 wedges to the count for zero
    information — at replication-heavy scale that cubic blowup is the
    difference between seconds and hours (measured: the uncollapsed form
    wedged a 10x replicated corpus into billions of rows). After
    collapsing, graph size tracks DISTINCT content only.

    Counting runs through :func:`operators.graph.count_triangles` with
    DEGREE ordering (Ortmann/Chiba-Nishizeki): every edge re-orients from
    its (degree, id)-smaller endpoint, bounding pair work by O(|E|^1.5)
    instead of hub-degree-squared, and each triangle still closes exactly
    once — the count is orientation-invariant, so the SQL oracle (id-
    ordered wedge-close) stays bit-exact. r13 (VERDICT r12 #5): the close
    runs via per-edge adjacency INTERSECTION (the wedge set never
    shuffles — the wedge exchange was the probe matrix's one remaining
    heavy-spill cell at sfp30, 5.37 GB) and the candidate-pair edge list
    is lazily checkpointed ONCE, so the LSH pair generation beneath it
    computes once across the adjacency build, the edge join, and the
    n_edges aggregate instead of once per branch."""
    reps = exact_dup_representatives(table(spark, sf_dir, "documents"))
    from video_data_pipeline_spark.operators.graph import count_triangles

    pairs = checkpoint_frame(
        lsh_pairs_from_bands(
            minhash_bands(reps), max_bucket_size=DEFAULT_LSH_MAX_BUCKET_SIZE
        )
    )
    n_tri = count_triangles(pairs, a="doc_a", b="doc_b", degree_order=True)
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_tri.crossJoin(F.broadcast(n_edges))


_PR_ITERS = 3
_PR_ONE = 1_000_000  # rank unit in micro
_PR_TELEPORT = 150_000  # (1 - 0.85) in micro
_PR_DAMP_NUM, _PR_DAMP_DEN = 85, 100  # 0.85 as an integer ratio


def _duck_pagerank_sql() -> str:
    ctes = [
        f"WITH reps AS ({_DUCK_REPS})",
        f"lsh AS ({_duck_lsh_pairs_sql('reps')})",
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM lsh"
        " UNION SELECT doc_b AS u, doc_a AS v FROM lsh)",
        "deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u)",
        f"r0 AS (SELECT u AS node, CAST({_PR_ONE} AS BIGINT) AS r FROM deg)",
    ]
    for i in range(_PR_ITERS):
        ctes.append(
            f"r{i + 1} AS (SELECT s.v AS node, "
            f"CAST({_PR_TELEPORT} + SUM((r.r * {_PR_DAMP_NUM}) "
            f"// (d.deg * {_PR_DAMP_DEN})) AS BIGINT) AS r "
            f"FROM sym s JOIN r{i} r ON r.node = s.u "
            f"JOIN deg d ON d.u = s.u GROUP BY s.v)"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT node AS doc_id, r AS rank_micro FROM r{_PR_ITERS}"
    )


@query("q_pagerank", oracle=_duck_pagerank_sql(), tags=("dedup", "graph", "iterative"))
def q_pagerank(spark, sf_dir):
    """PageRank over the MinHash-LSH near-dup graph of distinct-content
    representatives — the centrality signal that picks the CANONICAL
    document of a duplicate neighborhood (highest-rank member survives;
    Page et al. 1999, damping 0.85, 3 Jacobi iterations). Exact clones
    share their representative's rank by definition, so collapsing them
    first (round-7) shrinks the graph without changing the canonical
    choice — and makes the unrolled-CTE oracle affordable at 100×.

    Integer discretization for engine parity: ranks live in micro-units
    BIGINT and each out-contribution is ``(r·85) div (deg·100)`` — floor
    division on positive integers, identical in Spark (`div`) and DuckDB
    (`//`) — so every fold is an exact, order-free BIGINT sum and the
    oracle (unrolled per-iteration CTEs) matches bit-for-bit. No float
    accumulates across rows, the failure mode a naive double PageRank
    would hit on any engine pair.

    Scale shape: the symmetric graph means no dangling-mass correction;
    per iteration the plan is one node-keyed equi-join (rank ⋈ edges,
    uniform doc_id key) + one dst-keyed partial-agg groupBy — the classic
    distributed PageRank topology. The degree table joins by the same key
    and AQE broadcasts it when the graph is small; at 100 TB both joins
    shuffle on the uniform node id. Iterations unroll into one plan
    (3 rounds); sym/deg are lazily checkpointed like q_kcore and the LPA
    loop — r16: the unrolled-without-checkpoint form re-instantiated the
    LSH subtree 28× statically (plans/r16/q_pagerank_before.txt: 28
    parquet scans, 0 ReusedExchange — the CollectMetrics observation
    nodes defeat exchange canonicalization), and AQE's runtime stage
    reuse only recovered part of it; a 6-round same-session ABBA of the
    two forms measured the checkpointed graph at 0.67× (2.75 s → 1.84 s
    median, identical rows asserted in-process,
    tools/exp_pagerank_ckpt.py, reproduces at 79da2d5)."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    fwd = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    rev = pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    sym = checkpoint_frame(fwd.union(rev).distinct())
    deg = checkpoint_frame(sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    ranks = deg.select(F.col("u").alias("node"), F.lit(_PR_ONE).cast("bigint").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            sym.join(ranks, sym["u"] == ranks["node"])
            .join(deg, "u")
            .select(
                "v",
                F.expr(
                    f"(r * {_PR_DAMP_NUM}) div (deg * {_PR_DAMP_DEN})"
                ).alias("c"),
            )
        )
        ranks = contrib.groupBy("v").agg(
            (F.lit(_PR_TELEPORT) + F.sum("c")).cast("bigint").alias("r")
        ).select(F.col("v").alias("node"), "r")
    return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("rank_micro"))

_KCORE_K = 2
_KCORE_ROUNDS = 6


def _duck_kcore_sql() -> str:
    # sym is referenced by every peeling round: MATERIALIZED stops DuckDB
    # from re-inlining the whole MinHash-banding pipeline per round
    # (272 s -> sub-second at sf0.01).
    ctes = [
        f"WITH reps AS ({_DUCK_REPS})",
        f"lsh AS MATERIALIZED ({_duck_lsh_pairs_sql('reps')})",
        "sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM lsh"
        " UNION SELECT doc_b AS u, doc_a AS v FROM lsh)",
        "alive0 AS (SELECT DISTINCT u FROM sym)",
    ]
    for i in range(_KCORE_ROUNDS):
        ctes.append(
            f"d{i} AS (SELECT s.u, COUNT(*) AS deg FROM sym s "
            f"JOIN alive{i} a ON a.u = s.u "
            f"JOIN alive{i} b ON b.u = s.v GROUP BY s.u)"
        )
        ctes.append(
            f"alive{i + 1} AS (SELECT u FROM d{i} WHERE deg >= {_KCORE_K})"
        )
    r = _KCORE_ROUNDS
    ctes.append(
        f"dfinal AS (SELECT s.u, COUNT(*) AS deg FROM sym s "
        f"JOIN alive{r} a ON a.u = s.u "
        f"JOIN alive{r} b ON b.u = s.v GROUP BY s.u)"
    )
    return (
        ",\n".join(ctes)
        + f"\nSELECT u AS doc_id, deg AS core_deg FROM dfinal WHERE deg >= {_KCORE_K}"
    )


@query("q_kcore", oracle=_duck_kcore_sql(), tags=("dedup", "graph", "iterative"))
def q_kcore(spark, sf_dir):
    """k-core (k=2) of the near-dup rep graph by iterative peeling
    (Matula & Beck 1983): repeatedly drop nodes whose degree within the
    surviving subgraph is < k. The 2-core separates genuinely entangled
    duplicate neighborhoods (cycles — where transitive-closure survivors
    need care) from harmless pendant chains; dedup survivor policies can
    treat the two differently. Both engines run the SAME fixed 6 peeling
    rounds (peels are idempotent at fixpoint, and
    tests/test_graph.py::test_kcore_fixpoint_reached proves a 7th round
    changes nothing on this corpus), so the unrolled-CTE oracle is
    bit-exact by construction.

    Scale shape: each round is two node-keyed semi-joins (edges against
    the alive set — alive only ever shrinks) + one map-side-combined
    degree aggregate — the operators/components.py per-round topology;
    AQE broadcasts the alive set as soon as it is small. The edge list is
    localCheckpointed ONCE (it feeds every round — re-deriving the LSH
    pipeline per round would 7x the dominant cost) and each round's alive
    set is checkpointed to truncate the join-chain lineage, exactly as
    connected_components does."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    fwd = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    rev = pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    sym = checkpoint_frame(fwd.union(rev).distinct(), eager=True)
    alive = sym.select("u").distinct()

    def _alive_deg(alive_df):
        e = sym.join(alive_df, "u", "left_semi").join(
            alive_df.withColumnRenamed("u", "v"), "v", "left_semi"
        )
        return e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    for _ in range(_KCORE_ROUNDS):
        alive = (
            _alive_deg(alive)
            .where(F.col("deg") >= _KCORE_K)
            .select("u")
            .localCheckpoint(eager=False)
        )
    deg = _alive_deg(alive)
    return deg.where(F.col("deg") >= _KCORE_K).select(
        F.col("u").alias("doc_id"), F.col("deg").alias("core_deg")
    )



# --------------------------------------------------- segment-level dedup


#: segment width in words. CCNet/RefinedWeb dedup at LINE granularity; this
#: corpus is single-line word streams, so the unit is a fixed word window.
_SEG_WORDS = 15


def _duck_segment_dedup_sql() -> str:
    return f"""
WITH words AS (
  SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
),
segs AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS seg_idx,
         array_to_string(w[{_SEG_WORDS} * t.i + 1 : {_SEG_WORDS} * t.i + {_SEG_WORDS}], ' ') AS seg
  FROM words, UNNEST(range(CAST(ceil(len(w) / {_SEG_WORDS}.0) AS BIGINT))) AS t(i)
),
ranked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id,
       string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx) AS cleaned,
       COUNT(*) AS n_segs,
       COUNT(CASE WHEN rn > 1 THEN 1 END) AS n_dropped
FROM ranked GROUP BY doc_id
"""


@query(
    "q_segment_dedup",
    oracle=_duck_segment_dedup_sql(),
    tags=("dedup", "curation"),
)
def q_segment_dedup(spark, sf_dir):
    """Segment-level (line-level) dedup with document reassembly: split each
    document into fixed 15-word segments, keep only the globally
    FIRST occurrence of every distinct segment (order: doc_id, then position
    within the doc), and reassemble the surviving segments in document
    order — the CCNet §3.1 / RefinedWeb line-dedup operator, the granularity
    BETWEEN exact document dedup (q_dedup_exact) and near-dup pair removal:
    it strips boilerplate passages shared across otherwise-distinct pages.

    Scale shape: first-occurrence is groupBy(seg).min(struct(doc_id,
    seg_idx)) — partial (map-side) aggregation absorbs any boilerplate
    segment repeated across the corpus BEFORE the shuffle, so the hot-key
    hazard a window row_number() over the same partition key would have
    (one partition sorting every copy of a 100 M-occurrence segment) never
    materializes; the join back is an equi-join on the same key (AQE skew
    split applies). Reassembly is one doc_id-keyed groupBy with an in-group
    array sort — segments per doc is bounded (words/15), never
    corpus-sized. Output `cleaned` is NULL when every segment of the doc
    was seen earlier (the doc vanishes — full-dup behavior identical to
    exact dedup)."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.expr(_SPARK_WORDS).alias("w"))
    segs = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(w) / {_SEG_WORDS}.0) AS INT) - 1), "
                f"i -> concat_ws(' ', slice(w, i * {_SEG_WORDS} + 1, {_SEG_WORDS})))"
            )
        ).alias("seg_idx", "seg"),
    ).select("doc_id", F.col("seg_idx").cast("bigint").alias("seg_idx"), "seg")
    first = segs.groupBy("seg").agg(F.min(F.struct("doc_id", "seg_idx")).alias("f"))
    marked = segs.join(first, "seg").withColumn(
        "kept",
        (F.col("f.doc_id") == F.col("doc_id")) & (F.col("f.seg_idx") == F.col("seg_idx")),
    )
    agged = marked.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct("seg_idx", F.when(F.col("kept"), F.col("seg")).alias("seg"))
            )
        ).alias("xs"),
        F.count(F.lit(1)).alias("n_segs"),
        F.count(F.when(~F.col("kept"), F.lit(1))).alias("n_dropped"),
    )
    cleaned = F.expr("concat_ws(' ', transform(filter(xs, x -> x.seg IS NOT NULL), x -> x.seg))")
    return agged.select(
        "doc_id",
        F.when(F.col("n_dropped") < F.col("n_segs"), cleaned).alias("cleaned"),
        "n_segs",
        "n_dropped",
    )


# --------------------------------------------------- cross-corpus fuzzy join


#: side predicate: corpus A = single-digit sources (src0..src9), corpus B =
#: the rest — a stand-in for "join this crawl snapshot against that one".
_FUZZY_A_PRED = "source rlike '^src[0-9]$'"
_FUZZY_A_PRED_DUCK = "regexp_matches(source, '^src[0-9]$')"


def _duck_side_reps(negate: bool) -> str:
    neg = "NOT " if negate else ""
    return (
        "SELECT arg_min(doc_id, doc_id) AS doc_id, arg_min(text, doc_id) AS text "
        f"FROM documents WHERE {neg}{_FUZZY_A_PRED_DUCK} "
        "GROUP BY md5(lower(trim(text)))"
    )


def _duck_band_rows(sig_cte: str) -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(CAST(mh{_BAND_ROWS * b} AS VARCHAR) || ',' || "
        f"CAST(mh{_BAND_ROWS * b + 1} AS VARCHAR)) AS band_key FROM {sig_cte}"
        for b in range(_N_HASHES // _BAND_ROWS)
    )


def _duck_fuzzy_join_sql() -> str:
    inter = "len(list_intersect(sa.sh, sb.sh))"
    jac = f"CAST({inter} AS DOUBLE) / (len(sa.sh) + len(sb.sh) - {inter})"
    sets = (
        "SELECT doc_id, list_distinct({sh}) AS sh FROM {src} "
        "WHERE len({w}) >= 3"
    )
    return f"""
WITH la AS ({_duck_side_reps(False)}),
rb AS ({_duck_side_reps(True)}),
siga AS ({_duck_signatures_sql("la")}),
sigb AS ({_duck_signatures_sql("rb")}),
bandsa AS ({_duck_band_rows("siga")}),
bandsb AS ({_duck_band_rows("sigb")}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bandsa a JOIN bandsb b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
),
seta AS ({sets.format(sh=_DUCK_SHINGLES, src="la", w=_DUCK_WORDS)}),
setb AS ({sets.format(sh=_DUCK_SHINGLES, src="rb", w=_DUCK_WORDS)})
SELECT c.a_id, c.b_id, {jac} AS jaccard
FROM cand c
JOIN seta sa ON sa.doc_id = c.a_id
JOIN setb sb ON sb.doc_id = c.b_id
WHERE {jac} >= {_VERIFY_TAU}
"""


@query(
    "q_fuzzy_join_lsh",
    oracle=_duck_fuzzy_join_sql(),
    tags=("dedup", "minhash", "join"),
)
def q_fuzzy_join_lsh(spark, sf_dir):
    """Cross-corpus FUZZY JOIN: match every document of corpus A (sources
    src0..src9) against corpus B (the rest) at n-gram Jaccard ≥ 0.5 — the
    entity-resolution / blocking-join shape (join one crawl snapshot
    against another, dataset A against vendor dataset B) that the self-join
    dedup queries can't express. Same two-stage contract as
    q_jaccard_verified_pairs: LSH proposes (shared MinHash band between an
    A doc and a B doc), exact Jaccard disposes.

    Scale shape: each side collapses to distinct-content representatives
    first (clone cliques never band); both sides make ONE md5 shingle pass;
    the blocking join is an equi-join on (band_idx, band_key) — uniform md5
    key, skew-free, and NEVER the |A|×|B| cross join a naive fuzzy join
    plans. Verification attaches shingle sets via two doc_id-keyed joins
    sized |candidates|, which AQE broadcasts when small. Banding is
    asymmetric-friendly: when B is tiny (a blocklist, a benchmark), its
    band table broadcasts and A streams through map-side."""
    d = table(spark, sf_dir, "documents")
    a_side = F.expr(_FUZZY_A_PRED)
    left = exact_dup_representatives(d.where(a_side))
    right = exact_dup_representatives(d.where(~a_side))
    lb = minhash_bands(left).select(
        F.col("doc_id").alias("a_id"), "band_idx", "band_key"
    )
    rb = minhash_bands(right).select(
        F.col("doc_id").alias("b_id"), "band_idx", "band_key"
    )
    cand = lb.join(rb, ["band_idx", "band_key"]).select("a_id", "b_id").distinct()

    def shingle_sets(reps, key):
        words = reps.select("doc_id", F.expr(_SPARK_WORDS).alias("w")).where(
            F.expr("size(w) >= 3")
        )
        return words.select(
            F.col("doc_id").alias(key),
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(w) - 3), "
                    "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                )
            ).alias(f"sh_{key}"),
        )

    joined = (
        cand.join(shingle_sets(left, "a_id"), "a_id")
        .join(shingle_sets(right, "b_id"), "b_id")
        .withColumn("n_common", F.size(F.array_intersect("sh_a_id", "sh_b_id")))
    )
    jac = F.col("n_common").cast("double") / (
        F.size("sh_a_id") + F.size("sh_b_id") - F.col("n_common")
    )
    return (
        joined.select("a_id", "b_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= _VERIFY_TAU)
    )


# ----------------------------------------------- exact-substring span merge

#: sliding-window width in words for span-level dedup. Lee et al. use 50 BPE
#: tokens; this corpus' documents average ~54 words, so 6 keeps the operator
#: meaningfully sub-document.
_ESS_W = 6


def _duck_substring_spans_sql() -> str:
    return f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS wd FROM documents),
wins AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS i,
         md5(array_to_string(wd[t.i + 1 : t.i + {_ESS_W}], ' ')) AS h
  FROM w, UNNEST(range(CAST(len(wd) - {_ESS_W} + 1 AS BIGINT))) AS t(i)
  WHERE len(wd) >= {_ESS_W}
),
dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
hits AS (SELECT doc_id, i FROM wins JOIN dup USING (h)),
brks AS (
  SELECT doc_id, i,
         CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
                OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i) + {_ESS_W}
              THEN 1 ELSE 0 END AS brk
  FROM hits
),
grp AS (
  SELECT doc_id, i,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM brks
)
SELECT doc_id, MIN(i) AS span_start,
       MAX(i) + {_ESS_W} - 1 AS span_end,
       MAX(i) + {_ESS_W} - MIN(i) AS span_words
FROM grp GROUP BY doc_id, g
"""


@query(
    "q_substring_dedup_spans",
    oracle=_duck_substring_spans_sql(),
    tags=("dedup", "substring"),
)
def q_substring_dedup_spans(spark, sf_dir):
    """Exact-substring dedup, span form (Lee et al. 2022 ExactSubstr,
    word-granular approximation): every sliding ``_ESS_W``-word window is
    hashed; a window occurring at >1 (doc, position) ANYWHERE in the corpus
    (cross-doc or repeated within one doc — both are memorization fuel)
    marks its word range as duplicated; per document, overlapping-or-adjacent
    duplicated ranges merge into MAXIMAL spans ``[span_start, span_end]``
    (0-based word indices, inclusive) — exactly what a span-removal pass
    would cut. Completes ``q_duplicate_ngrams`` (which only *lists* the
    repeated spans): this emits the per-document merged cut-list.

    Scale shape: window generation is per-row column math (one split, one
    transform/posexplode — rows out = total words, linear). Duplicate
    detection is groupBy(md5-of-window) with HAVING — map-side partial
    aggregation absorbs boilerplate windows repeated millions of times
    BEFORE the shuffle (the reason this is an aggregate + semi-join rather
    than a count() window function, which would sort every copy of a hot
    window in one partition). The semi-join back on the same key gets AQE
    skew splitting. Island merge is a doc_id-partitioned window — bounded
    by words-per-document, never corpus-sized; with fixed W the running
    coverage end is monotone in the start index, so one lag() suffices (no
    running-max needed). Reference: Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (2022), section 4.1."""
    # spread before windowing (r16): one md5 per sliding window, evaluated
    # TWICE (dup aggregate + semi-join probe are separate plan references),
    # all in the single-row-group scan task without the spread (guide §2.5)
    d = spread(table(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.expr(_SPARK_WORDS).alias("wd")).where(
        F.expr(f"size(wd) >= {_ESS_W}")
    )
    wins = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(wd) - {_ESS_W}), "
                f"i -> md5(concat_ws(' ', slice(wd, i + 1, {_ESS_W}))))"
            )
        ).alias("i", "h"),
    ).select("doc_id", F.col("i").cast("bigint").alias("i"), "h")
    dup = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n")).where("n > 1").select("h")
    hits = wins.join(dup, "h", "left_semi")
    byi = Window.partitionBy("doc_id").orderBy("i")
    brks = hits.withColumn(
        "brk",
        F.when(
            F.lag("i").over(byi).isNull() | (F.col("i") > F.lag("i").over(byi) + _ESS_W),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    grp = brks.withColumn(
        "g", F.sum("brk").over(byi.rowsBetween(Window.unboundedPreceding, 0))
    )
    return grp.groupBy("doc_id", "g").agg(
        F.min("i").alias("span_start"),
        (F.max("i") + F.lit(_ESS_W - 1)).alias("span_end"),
        (F.max("i") + F.lit(_ESS_W) - F.min("i")).alias("span_words"),
    ).drop("g")

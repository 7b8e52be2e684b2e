"""Similarity search over the embedding column (``embeddings`` table).

Beyond-reference extension (SURVEY.md §7 Phase 5): approximate-nearest-
neighbor search over ``array<float>`` embeddings.

- Brute-force cosine top-k — the exactness baseline. Per-row vector math is
  a strict left-to-right fold (``aggregate``) so results are bit-identical
  across engines; at scale this is a broadcast of the query vector and a
  single top-k reduce (no shuffle of the corpus).
- Random-hyperplane LSH bucketing — the scale path: 8 deterministic
  hyperplanes (signs derived from md5, not stored matrices) → 256 buckets;
  search only the query's bucket. Bucketing is per-row column math; the
  candidate set shrinks ~256×.

All vector arithmetic is done in DOUBLE after exact float→double widening.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from video_data_pipeline_spark.queries.registry import query, table

_DIM = 64
_N_PLANES = 8


def _dot(dialect: str, a: str, b: str) -> str:
    """Strict sequential dot product — identical fold order in both engines."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_transform(range(len({a})), "
        f"i -> {a}[i+1]::DOUBLE * {b}[i+1]::DOUBLE), (x, y) -> x + y)"
    )


def _cosine(dialect: str, a: str, b: str) -> str:
    return f"({_dot(dialect, a, b)} / (sqrt({_dot(dialect, a, a)}) * sqrt({_dot(dialect, b, b)})))"


@query(
    "q_embedding_norms",
    oracle=f"""
SELECT vec_id, label, len(embedding) AS dim,
       sqrt({_dot("duck", "embedding", "embedding")}) AS l2_norm
FROM embeddings
""",
    tags=("similarity",),
)
def q_embedding_norms(spark, sf_dir):
    """Vector plumbing check: dimension + L2 norm per embedding."""
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.sqrt(F.expr(_dot("spark", "embedding", "embedding"))).alias("l2_norm"),
    )


@query(
    "q_ann_bruteforce",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       {_cosine("duck", "e.embedding", "q.qv")} AS cosine
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id LIMIT 10
""",
    tags=("similarity", "topk"),
)
def q_ann_bruteforce(spark, sf_dir):
    """Brute-force cosine top-10 to a query vector (vec_id=0).

    The query vector broadcasts (1-row crossJoin); the corpus never
    shuffles; the top-k is a tree-reduced TakeOrdered. This is the oracle
    baseline every ANN variant is measured against."""
    e = table(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            F.expr(_cosine("spark", "embedding", "qv")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


def _plane_signs(p: int) -> list[float]:
    """Deterministic hyperplane p: sign_i = ±1 from bit 0 of the stable
    60-bit md5 hash of 'pl{p}:{i}' — the same derivation both engines used
    inline, hoisted to plan-build time (signs are row-independent; leaving
    them in the expression cost 512 md5 calls per row)."""
    import hashlib

    out = []
    for i in range(_DIM):
        h = int(hashlib.md5(f"pl{p}:{i}".encode()).hexdigest()[:15], 16)
        out.append(1.0 if (h & 1) == 1 else -1.0)
    return out


def _proj(dialect: str, vec: str, p: int) -> str:
    """Signed projection onto deterministic hyperplane p (literal sign
    vector; fold order identical to the other vector ops)."""
    signs = _plane_signs(p)
    if dialect == "spark":
        lit = "array(" + ", ".join(f"{s}D" for s in signs) + ")"
        return (
            f"aggregate(zip_with({vec}, {lit}, (x, y) -> CAST(x AS DOUBLE) * y), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    lit = "[" + ", ".join(str(s) for s in signs) + "]"
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range({_DIM}), "
        f"i -> {vec}[i+1]::DOUBLE * ({lit})[i+1])), (x, y) -> x + y)"
    )


def _bucket(dialect: str, vec: str) -> str:
    if dialect == "spark":
        bits = " + ".join(
            f"IF({_proj('spark', vec, p)} > 0, shiftleft(CAST(1 AS BIGINT), {p}), CAST(0 AS BIGINT))"
            for p in range(_N_PLANES)
        )
    else:
        bits = " + ".join(
            f"CASE WHEN {_proj('duck', vec, p)} > 0 THEN (1::BIGINT << {p}) ELSE 0::BIGINT END"
            for p in range(_N_PLANES)
        )
    return f"({bits})"


@query(
    "q_lsh_buckets",
    oracle=f"""
SELECT {_bucket("duck", "embedding")} AS bucket, COUNT(*) AS n_vectors
FROM embeddings GROUP BY 1
""",
    tags=("similarity", "lsh"),
)
def q_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucket histogram (8 planes → 256 buckets).

    At 100 TB the bucket id becomes the partition key for ANN: same-bucket
    vectors co-locate, and queries probe one partition instead of all."""
    e = table(spark, sf_dir, "embeddings")
    return e.groupBy(F.expr(_bucket("spark", "embedding")).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


@query(
    "q_ann_lsh_topk",
    oracle=f"""
WITH b AS (SELECT vec_id, embedding, {_bucket("duck", "embedding")} AS bucket FROM embeddings),
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT e.vec_id, {_cosine("duck", "e.embedding", "q.qv")} AS cosine
FROM b e, q
WHERE e.bucket = q.qb AND e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id LIMIT 5
""",
    tags=("similarity", "lsh", "topk"),
)
def q_ann_lsh_topk(spark, sf_dir):
    """LSH-restricted ANN: rank by cosine only within the query's bucket —
    the ~256× cheaper scale path of q_ann_bruteforce."""
    e = table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", F.expr(_bucket("spark", "embedding")).alias("bucket"))
    q = b.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qb")
    )
    return (
        b.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .where(F.col("bucket") == F.col("qb"))
        .select("vec_id", F.expr(_cosine("spark", "embedding", "qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(5)
    )


_N_CENTROIDS = 8


def nearest_centroid(e, cents):
    """(vec_id, embedding) × centroids(cid, cv) → one row per vector:
    (vec_id, embedding, cid, cos) for the argmax-cosine centroid, ties to
    the lowest cid — the shared coarse-quantization front of the IVF/D4
    family (q_ivf_assign, q_prototype_prune, q_ivf_topk, q_ann_recall).

    Shape (r11 VERDICT #3): ``groupBy(vec_id).agg(max_by(...))``, not a
    ``row_number()`` window over the crossJoin-expanded frame. max_by is
    an algebraic aggregate — partial aggregation runs MAP-SIDE inside the
    broadcast join's output partitions (each vector's k scored rows are
    co-located by construction), so the exchange moves ~one row per corpus
    vector; the window shape exchanged and sorted centroids×corpus rows,
    a plan that breaks down at the ~11k centroids D4-scale corpora use
    (measured at k=256 on sf10's 200k vectors: window 41.0 s — a 51.2M-row
    exchange — vs 0.63 s here, and the window grows 3.5× from sf1 to sf10
    while this stays scan-bound flat; TRENDS r12). Tie-break is the
    orderable struct (cos, -cid):
    lexicographic max ⇒ equal cosines pick the LOWEST cid, matching every
    oracle's ``ROW_NUMBER(... ORDER BY cos DESC, cid) = 1``. Centroid
    count is a parameter everywhere (`n_centroids` on the registered
    queries); the cosine is the family's strict sequential fold."""
    best = F.max_by(
        F.struct(F.col("embedding").alias("v"), F.col("cid").alias("cid"),
                 F.col("cos").alias("cos")),
        F.struct(F.col("cos").alias("cos"), (-F.col("cid")).alias("nc")),
    )
    return (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "cid",
            F.expr(_cosine("spark", "embedding", "cv")).alias("cos"),
            "embedding",
        )
        .groupBy("vec_id")
        .agg(best.alias("b"))
        .select(
            "vec_id",
            F.col("b.v").alias("embedding"),
            F.col("b.cid").alias("cid"),
            F.col("b.cos").alias("cos"),
        )
    )


def seed_centroids(e, n_centroids: int):
    """The family's deterministic seed panel: the first ``n_centroids``
    corpus vectors as (cid, cv)."""
    return e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )


@query(
    "q_ivf_assign",
    oracle=f"""
WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
               WHERE vec_id < {_N_CENTROIDS}),
scored AS (
  SELECT e.vec_id, c.cid,
         {_cosine("duck", "e.embedding", "c.cv")} AS cos,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cosine("duck", "e.embedding", "c.cv")} DESC, c.cid)
           AS rk
  FROM embeddings e, cents c
)
SELECT vec_id, cid AS centroid_id, cos AS cosine FROM scored WHERE rk = 1
""",
    tags=("similarity", "ivf"),
)
def q_ivf_assign(spark, sf_dir, n_centroids: int = _N_CENTROIDS):
    """IVF coarse quantization: assign every vector to its nearest seed
    centroid (argmax cosine via :func:`nearest_centroid` — map-side-partial
    ``max_by``, corpus-sized exchange; see its docstring for why not a
    window). At scale the centroid id is the ANN partition key (the
    inverted-file list); centroids broadcast at any realistic k
    (``n_centroids`` is the knob — the registered default 8 matches the
    oracle; D4-scale runs pass hundreds to ~11k, same plan)."""
    e = table(spark, sf_dir, "embeddings")
    return nearest_centroid(e, seed_centroids(e, n_centroids)).select(
        "vec_id", F.col("cid").alias("centroid_id"), F.col("cos").alias("cosine")
    )


_PRUNE_DEN = 4  # D4 prune fraction: the most-prototypical 1/4 per cluster


@query(
    "q_prototype_prune",
    oracle=f"""
WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
               WHERE vec_id < {_N_CENTROIDS}),
scored AS (
  SELECT e.vec_id, c.cid,
         {_cosine("duck", "e.embedding", "c.cv")} AS cos,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cosine("duck", "e.embedding", "c.cv")} DESC, c.cid)
           AS rk
  FROM embeddings e, cents c
),
assign AS (SELECT vec_id, cid, cos FROM scored WHERE rk = 1),
ranked AS (
  SELECT vec_id, cid, cos,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id)
           AS proto_rank,
         COUNT(*) OVER (PARTITION BY cid) AS n_cluster
  FROM assign
)
SELECT vec_id, cid AS centroid_id, cos AS cosine,
       CAST(proto_rank AS BIGINT) AS proto_rank,
       CAST(n_cluster AS BIGINT) AS n_cluster,
       CAST(CASE WHEN {_PRUNE_DEN} * proto_rank <= n_cluster
            THEN 1 ELSE 0 END AS BIGINT) AS pruned
FROM ranked
""",
    tags=("similarity", "curation", "prune"),
)
def q_prototype_prune(spark, sf_dir, n_centroids: int = _N_CENTROIDS):
    """D4-style prototypicality pruning (Tirumala et al. 2023 §3: after
    SemDeDup, drop the most PROTOTYPICAL points of each embedding cluster
    — the dense template region contributes near-duplicate training
    signal, while the cluster fringe carries the diversity). Every vector
    is assigned to its nearest of the 8 IVF seed centroids (the
    q_ivf_assign argmax, shared expression), then ranked within its
    cluster by cosine-to-centroid DESC (ties on vec_id) and the top
    floor(n_cluster/4) flagged ``pruned``. Output keeps (rank, cluster
    size, flag) as audit evidence, mirroring q_gopher_rules' flag-don't-
    drop contract so downstream recipes can tune the fraction.

    Scale shape: the centroid panel broadcasts (same max_by argmax as
    q_ivf_assign — :func:`nearest_centroid`, corpus-sized exchange); the
    corpus then shuffles ONCE on centroid_id and both windows (rank +
    cluster count) share that partitioning, so one sort serves both.
    Cluster count is the parallelism knob: 8 centroids means 8-way
    parallel ranking here, and a real 100 TB run raises ``n_centroids``
    (the D4 paper uses ~11k) which makes the per-cluster sort arbitrarily
    fine-grained — the plan is unchanged.

    Exactness: cosine is the family's strict sequential fold (identical
    expression both engines); ranks tie on vec_id; the prune test is
    integer (4·rank ≤ n)."""
    e = table(spark, sf_dir, "embeddings")
    from pyspark.sql.window import Window

    assign = nearest_centroid(e, seed_centroids(e, n_centroids)).select(
        "vec_id", "cid", "cos"
    )
    cw = Window.partitionBy("cid")
    rw = cw.orderBy(F.col("cos").desc(), "vec_id")
    return assign.select(
        "vec_id",
        F.col("cid").alias("centroid_id"),
        F.col("cos").alias("cosine"),
        F.row_number().over(rw).cast("bigint").alias("proto_rank"),
        F.count(F.lit(1)).over(cw).cast("bigint").alias("n_cluster"),
    ).withColumn(
        "pruned",
        F.when(
            _PRUNE_DEN * F.col("proto_rank") <= F.col("n_cluster"), 1
        )
        .otherwise(0)
        .cast("bigint"),
    )


@query(
    "q_embedding_near_dup",
    oracle=f"""
WITH b AS (SELECT vec_id, embedding, {_bucket("duck", "embedding")} AS bucket
           FROM embeddings WHERE vec_id % 3 = 0)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       {_cosine("duck", "a.embedding", "c.embedding")} AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE {_cosine("duck", "a.embedding", "c.embedding")} >= 0.5
""",
    tags=("similarity", "dedup", "lsh"),
)
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: candidate pairs
    share a hyperplane bucket (never all-pairs), then exact cosine ≥ τ
    confirms. The scale path for embedding dedup over billions of vectors:
    bucket id is the shuffle key, quadratic work stays within buckets."""
    e = table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 3 == 0)
    b = e.select(
        "vec_id", "embedding", F.expr(_bucket("spark", "embedding")).alias("bucket")
    )
    a = b.alias("a")
    c = b.alias("c")
    cos = F.expr(_cosine("spark", "a.embedding", "c.embedding"))
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("c.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= 0.5)
    )


@query(
    "q_ivf_topk",
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT c.cid FROM cents c, q
  ORDER BY {_cosine("duck", "c.cv", "q.qv")} DESC, c.cid LIMIT 2
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine("duck", "e.embedding", "c.cv")} DESC, c.cid)
             AS rk
    FROM embeddings e, cents c
  ) WHERE rk = 1
)
SELECT a.vec_id, a.cid AS centroid_id,
       {_cosine("duck", "a.embedding", "q.qv")} AS cosine
FROM assigned a, q
WHERE a.cid IN (SELECT cid FROM probe) AND a.vec_id <> 0
ORDER BY cosine DESC, a.vec_id LIMIT 10
""",
    tags=("similarity", "ivf", "topk"),
)
def q_ivf_topk(spark, sf_dir, n_centroids: int = _N_CENTROIDS):
    """IVF probe search end-to-end: coarse-quantize the corpus to the seed
    centroids, probe the query's 2 nearest inverted lists, brute-force
    cosine only within them, top-10. The ANN scale path: centroids
    broadcast, assignment is the map-side max_by argmax
    (:func:`nearest_centroid`), the probe filter prunes ~(1 − 2/k) of the
    corpus before any exact scoring (with ivf lists stored
    bucketed-by-centroid it becomes partition pruning), and top-k is a
    TakeOrdered — no corpus×k shuffle anywhere."""
    e = table(spark, sf_dir, "embeddings")
    cents = seed_centroids(e, n_centroids)
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cid", F.expr(_cosine("spark", "cv", "qv")).alias("qcos"))
        .orderBy(F.col("qcos").desc(), "cid")
        .limit(2)
        .select("cid")
    )
    assigned = nearest_centroid(e, cents)
    return (
        assigned.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.col("cid").alias("centroid_id"),
            F.expr(_cosine("spark", "embedding", "qv")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@query(
    "q_kmeans_step",
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine("duck", "e.embedding", "c.cv")} DESC, c.cid)
             AS rk
    FROM embeddings e, cents c
  ) WHERE rk = 1
),
exploded AS (
  SELECT cid,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         unnest(embedding) AS val
  FROM assigned
)
SELECT cid, dim, COUNT(*) AS n_members,
       CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS DOUBLE)
         / (COUNT(*) * 1048576.0) AS new_val
FROM exploded GROUP BY cid, dim
""",
    tags=("similarity", "kmeans", "iterative"),
)
def q_kmeans_step(spark, sf_dir):
    """One Lloyd's k-means iteration, exactly: assign every embedding to
    its nearest of 4 seed centroids (argmax cosine — broadcast centroids,
    per-row math), then recompute each centroid as the member mean per
    dimension. Cross-row float sums are order-dependent, so the mean is
    computed over 2^20-QUANTIZED integer values (exact, order-free sum;
    identical FLOOR(x*2^20+0.5) rounding in both engines) divided back in
    double — the engine's determinism contract applied to iterative ML.
    The full training loop is this step repeated with the output fed back
    as `cents` (same plan shape each round, localCheckpoint between —
    operators/components.py is the loop pattern). Assignment is the
    map-side max_by argmax (:func:`nearest_centroid`) — one corpus-sized
    exchange per round regardless of k."""
    e = table(spark, sf_dir, "embeddings")
    assigned = nearest_centroid(e, seed_centroids(e, 4))
    exploded = assigned.select(
        "cid", F.posexplode("embedding").alias("dim", "val")
    )
    quant = F.floor(F.col("val").cast("double") * 1048576 + 0.5).cast("bigint")
    return exploded.groupBy("cid", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.sum(quant).cast("double") / (F.count(F.lit(1)) * F.lit(1048576.0))).alias(
            "new_val"
        ),
    )


_KM_K = 4  # trained-IVF centroid count (small: lists stay probe-prunable)
_KM_ROUNDS = 2  # fixed Lloyd's rounds — unrolled verbatim in the oracle


def _km_round_sql(i: int) -> str:
    """One unrolled Lloyd's round as DuckDB CTEs: assign to cents{i-1},
    then quantized per-dimension means -> cents{i} (same 2^20 integer
    quantization as operators/kmeans.py, so the fit is bit-identical)."""
    return f"""
a{i} AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine("duck", "e.embedding", "c.cv")} DESC, c.cid)
             AS rk
    FROM embeddings e, cents{i - 1} c
  ) WHERE rk = 1
),
ex{i} AS (
  SELECT cid,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         unnest(embedding) AS val
  FROM a{i}
),
m{i} AS (
  SELECT cid, dim,
         CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS DOUBLE)
           / (COUNT(*) * 1048576.0) AS m
  FROM ex{i} GROUP BY cid, dim
),
cents{i} AS (
  SELECT cid, list(CAST(m AS FLOAT) ORDER BY dim) AS cv FROM m{i} GROUP BY cid
)"""


@query(
    "q_ivf_kmeans_topk",
    oracle=f"""
WITH cents0 AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {_KM_K}
),
{",".join(_km_round_sql(i) for i in range(1, _KM_ROUNDS + 1)).lstrip(",")},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT c.cid FROM cents{_KM_ROUNDS} c, q
  ORDER BY {_cosine("duck", "c.cv", "q.qv")} DESC, c.cid LIMIT 2
),
afin AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine("duck", "e.embedding", "c.cv")} DESC, c.cid)
             AS rk
    FROM embeddings e, cents{_KM_ROUNDS} c
  ) WHERE rk = 1
)
SELECT a.vec_id, a.cid AS centroid_id,
       {_cosine("duck", "a.embedding", "q.qv")} AS cosine
FROM afin a, q
WHERE a.cid IN (SELECT cid FROM probe) AND a.vec_id <> 0
ORDER BY cosine DESC, a.vec_id LIMIT 10
""",
    tags=("similarity", "ivf", "kmeans", "topk"),
)
def q_ivf_kmeans_topk(spark, sf_dir):
    """Trained-IVF ANN end-to-end: fit 4 centroids with Lloyd's k-means
    (``operators/kmeans.py::kmeans_fit`` — broadcast-centroid assign,
    order-free 2^20-quantized exact means, deterministic lowest-id init),
    coarse-quantize the corpus to the TRAINED centroids, probe the query's
    2 nearest inverted lists, exact-cosine only within them, top-10.

    This closes the seed-centroid shortcut of ``q_ivf_topk``: the oracle
    unrolls the fixed 2 training rounds verbatim in SQL, so the whole
    train→assign→probe→search pipeline is value-checked, not just the
    final scan. Early convergence can't diverge from the unrolled oracle:
    if round r's assignment equals round r-1's, the recomputed means are
    identical, so fit's early-returned centroids match the oracle's.

    Scale: centroids are k×dim doubles (always broadcast); training
    shuffles only k×dim quantized partial sums per round (map-side
    combine); the corpus is scanned once per round and never shuffled;
    probe pruning drops ~(1 - 2/k) of the corpus before exact scoring;
    top-k is a TakeOrdered. With lists stored bucketed-by-centroid the
    probe filter becomes partition pruning."""
    from video_data_pipeline_spark.operators.kmeans import assign_step, kmeans_fit

    e = table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(
        e, _KM_K, vec_col="embedding", id_col="vec_id", max_iter=_KM_ROUNDS
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cid", F.expr(_cosine("spark", "cv", "qv")).alias("qcos"))
        .orderBy(F.col("qcos").desc(), "cid")
        .limit(2)
        .select("cid")
    )
    assigned = assign_step(e, cents, "embedding", "vec_id")
    return (
        assigned.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.col("cid").alias("centroid_id"),
            F.expr(_cosine("spark", "embedding", "qv")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


_SEMDEDUP_TAU = 0.45  # prune threshold; synthetic 64-d embeddings peak ~0.51


@query(
    "q_semdedup",
    oracle=f"""
WITH cents0 AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {_KM_K}
),
{",".join(_km_round_sql(i) for i in range(1, _KM_ROUNDS + 1)).lstrip(",")},
afin AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine("duck", "e.embedding", "c.cv")} DESC, c.cid)
             AS rk
    FROM embeddings e, cents{_KM_ROUNDS} c
  ) WHERE rk = 1
),
pruned AS (
  SELECT DISTINCT b.vec_id
  FROM afin a JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_cosine("duck", "a.embedding", "b.embedding")} >= {_SEMDEDUP_TAU}
)
SELECT f.vec_id, e.label, f.cid AS centroid_id
FROM afin f JOIN embeddings e ON e.vec_id = f.vec_id
WHERE f.vec_id NOT IN (SELECT vec_id FROM pruned)
""",
    tags=("similarity", "dedup", "kmeans", "semdedup"),
)
def q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, compute exact
    pairwise cosine ONLY within each cluster, and prune every vector that
    has a same-cluster neighbor with cosine ≥ τ and a smaller vec_id
    (lowest id survives, matching the engine-wide survivor rule). Output
    is the kept corpus: (vec_id, label, centroid_id).

    Composes two already-oracled stages — ``kmeans_fit`` (the trained
    centroids of q_ivf_kmeans_topk, bit-identical quantized means) and
    ``assign_step`` — with an intra-cluster self-join; the oracle unrolls
    the same Lloyd's rounds in SQL, so train→assign→pair→prune is
    value-checked end-to-end.

    Scale shape: this is exactly why SemDeDup clusters first — pairwise
    work is O(Σ cᵢ²) within clusters instead of O(n²) overall, and the
    cluster id is the one shuffle key of the self-join. At 100 TB the k
    here grows to ~100k clusters (cᵢ ~ n/k stays bounded), centroids
    still broadcast, and a giant cluster degrades gracefully via AQE
    skew-split; an extra in-cluster LSH split (q_embedding_near_dup's
    bucket key) bounds any residual quadratic term."""
    from video_data_pipeline_spark.operators.kmeans import assign_step, kmeans_fit

    e = table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(e, _KM_K, vec_col="embedding", id_col="vec_id", max_iter=_KM_ROUNDS)
    assigned = assign_step(e, cents, "embedding", "vec_id")
    a = assigned.alias("a")
    b = assigned.alias("b")
    pruned = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            F.expr(_cosine("spark", "a.embedding", "b.embedding")) >= _SEMDEDUP_TAU
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(pruned, "vec_id", "left_anti")
        .join(e.select("vec_id", "label"), "vec_id")
        .select("vec_id", "label", F.col("cid").alias("centroid_id"))
    )


# ---------------------------------------------------------------- PQ

# Product quantization (Jégou et al., TPAMI 2011): split the 64-dim vector
# into 4 subspaces of 16 dims, quantize each against an 8-entry codebook →
# 4 small codes per vector (here 4 × 3 bits vs 64 × 4 B raw: the storage
# tier that makes billion-scale ANN fit in memory). Codebooks are seeded
# from the first _PQ_K corpus vectors' slices (same convention as the IVF
# seed centroids; kmeans_fit can refine them identically).
_PQ_M = 4          # subspaces
_PQ_SUB = 16       # dims per subspace (= _DIM / _PQ_M)
_PQ_K = 8          # codebook entries per subspace


def _l2sq(dialect: str, a: str, b: str) -> str:
    """Strict sequential squared-L2 — identical fold order in both engines."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, "
            f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_transform(range(len({a})), "
        f"i -> ({a}[i+1]::DOUBLE - {b}[i+1]::DOUBLE) * ({a}[i+1]::DOUBLE - {b}[i+1]::DOUBLE)), "
        f"(x, y) -> x + y)"
    )


def _duck_pq_codes_sql() -> str:
    ms = ", ".join(str(m) for m in range(_PQ_M))
    return f"""
slices AS (
  SELECT vec_id, m, list_slice(embedding, m * {_PQ_SUB} + 1, (m + 1) * {_PQ_SUB}) AS sv
  FROM embeddings, unnest([{ms}]) AS t(m)
),
cents AS (
  SELECT m, vec_id AS k, sv AS cv FROM slices WHERE vec_id < {_PQ_K}
),
codes AS (
  SELECT vec_id, m, k AS code, d AS qerr FROM (
    SELECT s.vec_id, s.m, c.k, {_l2sq("duck", "s.sv", "c.cv")} AS d,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_l2sq("duck", "s.sv", "c.cv")} ASC, c.k) AS rk
    FROM slices s JOIN cents c ON s.m = c.m
  ) WHERE rk = 1
)
"""


def _spark_pq_codes(spark, sf_dir):
    """(vec_id, m, code, qerr): per-subspace nearest codebook entry.

    Pure plan: one explode into (vec, subspace, slice), a broadcast join
    with the M×K codebook (32 rows — capacity-bounded), argmin via
    window. The corpus never shuffles except the tiny window by
    (vec_id, m) — which Catalyst runs on the exploded rows co-located by
    the argmin window's partition key."""
    e = table(spark, sf_dir, "embeddings")
    slices = e.select(
        "vec_id",
        F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m"),
        "embedding",
    ).select(
        "vec_id",
        "m",
        F.expr(f"slice(embedding, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sv"),
    )
    cents = slices.where(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("k"), F.col("sv").alias("cv")
    )
    # argmin over the broadcast-expanded (vec, subspace) × K frame as a
    # map-side-partial min_by (the nearest_centroid shape): the exchange
    # moves M rows per vector, not M×K; ties break to the lowest k via
    # the lexicographic (d, k) struct — the oracle's ROW_NUMBER order
    best = F.min_by(
        F.struct(F.col("k").alias("k"), F.col("d").alias("d")),
        F.struct(F.col("d").alias("d"), F.col("k").alias("k")),
    )
    return (
        slices.join(F.broadcast(cents), "m")
        .select("vec_id", "m", "k", F.expr(_l2sq("spark", "sv", "cv")).alias("d"))
        .groupBy("vec_id", "m")
        .agg(best.alias("b"))
        .select("vec_id", "m", F.col("b.k").alias("code"), F.col("b.d").alias("qerr"))
    )


@query(
    "q_pq_encode",
    oracle=f"""
WITH {_duck_pq_codes_sql().strip()}
SELECT vec_id, m AS subspace, code, qerr FROM codes
""",
    tags=("similarity", "pq"),
)
def q_pq_encode(spark, sf_dir):
    """PQ encoding: each vector's 4 subspace slices quantized to their
    nearest codebook entry (argmin squared-L2, k-tie-break), with the
    per-subspace quantization error. 64 floats → 4 codes: the ~64×
    compression that lets a 100 TB embedding corpus live as a scannable
    code table. Codebook is M×K = 32 rows, force-broadcast
    (capacity-bounded); distances are strict sequential folds so both
    engines agree bitwise."""
    return _spark_pq_codes(spark, sf_dir).select(
        "vec_id", F.col("m").alias("subspace"), "code", "qerr"
    )


@query(
    "q_pq_adc_topk",
    oracle=f"""
WITH {_duck_pq_codes_sql().strip()},
qs AS (SELECT m, sv AS qv FROM slices WHERE vec_id = 0),
lut AS (
  SELECT c.m, c.k, {_l2sq("duck", "q.qv", "c.cv")} AS d
  FROM cents c JOIN qs q ON c.m = q.m
),
scored AS (
  SELECT cd.vec_id,
         MAX(CASE WHEN cd.m = 0 THEN l.d END) AS d0,
         MAX(CASE WHEN cd.m = 1 THEN l.d END) AS d1,
         MAX(CASE WHEN cd.m = 2 THEN l.d END) AS d2,
         MAX(CASE WHEN cd.m = 3 THEN l.d END) AS d3
  FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.k
  GROUP BY cd.vec_id
)
SELECT vec_id, ((d0 + d1) + d2) + d3 AS adc_dist
FROM scored WHERE vec_id <> 0
ORDER BY adc_dist ASC, vec_id LIMIT 10
""",
    tags=("similarity", "pq", "topk"),
)
def q_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance (ADC) top-10: the query's exact slices are
    compared to the CODEBOOK once (a 32-entry lookup table), then the
    whole corpus is scored by LUT join on its codes — raw embeddings are
    never touched at query time, which is the entire PQ bargain at scale.

    Determinism: the 4 per-subspace distances are pivoted to fixed columns
    (MAX-of-one) and added in a fixed order — a groupBy SUM of doubles
    would be aggregation-order-dependent across engines. Plan: codes
    (corpus-sized) join the broadcast 32-row LUT, one map-combined pivot
    agg, TakeOrdered 10."""
    codes = _spark_pq_codes(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings")
    qs = (
        e.where(F.col("vec_id") == 0)
        .select(
            F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m"),
            "embedding",
        )
        .select("m", F.expr(f"slice(embedding, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("qv"))
    )
    cents = (
        e.where(F.col("vec_id") < _PQ_K)
        .select(
            F.col("vec_id").alias("k"),
            F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m"),
            "embedding",
        )
        .select("m", "k", F.expr(f"slice(embedding, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("cv"))
    )
    lut = cents.join(F.broadcast(qs), "m").select(
        F.col("m").alias("lm"), "k", F.expr(_l2sq("spark", "qv", "cv")).alias("d")
    )
    pivots = [
        F.max(F.when(F.col("m") == m, F.col("d"))).alias(f"d{m}") for m in range(_PQ_M)
    ]
    scored = (
        codes.join(
            F.broadcast(lut),
            (F.col("m") == F.col("lm")) & (F.col("code") == F.col("k")),
        )
        .select("vec_id", "m", "d")
        .groupBy("vec_id")
        .agg(*pivots)
    )
    adc = ((F.col("d0") + F.col("d1")) + F.col("d2")) + F.col("d3")
    return (
        scored.where(F.col("vec_id") != 0)
        .select("vec_id", adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), "vec_id")
        .limit(10)
    )


_RECALL_Q0, _RECALL_Q1 = _N_CENTROIDS, _N_CENTROIDS + 8  # query ids 8..15
_RECALL_K = 10
_RECALL_PROBES = 2


@query(
    "q_ann_recall",
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  WHERE vec_id < {_N_CENTROIDS}
),
qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id >= {_RECALL_Q0} AND vec_id < {_RECALL_Q1}
),
bf AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
             ORDER BY {_cosine("duck", "e.embedding", "q.qv")} DESC, e.vec_id)
             AS rk
    FROM embeddings e, qs q WHERE e.vec_id <> q.qid
  ) WHERE rk <= {_RECALL_K}
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_cosine("duck", "e.embedding", "c.cv")} DESC, c.cid)
             AS rk
    FROM embeddings e, cents c
  ) WHERE rk = 1
),
probe AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.qid
             ORDER BY {_cosine("duck", "c.cv", "q.qv")} DESC, c.cid) AS rk
    FROM cents c, qs q
  ) WHERE rk <= {_RECALL_PROBES}
),
ivf AS (
  SELECT qid, vec_id FROM (
    SELECT p.qid, a.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.qid
             ORDER BY {_cosine("duck", "a.embedding", "q.qv")} DESC, a.vec_id)
             AS rk
    FROM assigned a JOIN probe p ON a.cid = p.cid
    JOIN qs q ON q.qid = p.qid
    WHERE a.vec_id <> p.qid
  ) WHERE rk <= {_RECALL_K}
)
SELECT b.qid, COUNT(i.vec_id) AS n_hits,
       CAST(COUNT(i.vec_id) AS DOUBLE) / {_RECALL_K} AS recall
FROM bf b LEFT JOIN ivf i USING (qid, vec_id)
GROUP BY b.qid
""",
    tags=("similarity", "ivf", "audit"),
)
def q_ann_recall(spark, sf_dir):
    """Recall@10 of the IVF probe path against exact brute force, over 8
    query points — the accuracy half of the ANN ladder's speed/accuracy
    trade (the audit the sketch family gives its estimates: the
    approximation ships WITH its measured error). Per query: ground truth
    is the windowed top-10 over the full corpus (WindowGroupLimit bounds
    each map task to 10 rows per query — 8 bounded partitions, never a
    global sort); the IVF side scores only the 2 probed inverted lists.
    Recall = |IVF∩BF| / 10 via a (qid, vec_id) equi-join of two 80-row
    sets. At 100 TB the brute-force arm is the one you run on a SAMPLE to
    calibrate nprobe; the plan shapes here are exactly those arms."""
    return ann_recall_frame(spark, sf_dir, _RECALL_PROBES)


def ann_recall_frame(spark, sf_dir, nprobe: int):
    """Recall@10 of the IVF probe path at a given ``nprobe`` — the body of
    :func:`q_ann_recall`, parameterized so the pytest accuracy gate
    (tests/test_ann_recall_floor.py) can sweep nprobe 1/2/4 and assert the
    floor + monotonicity without duplicating the plan."""
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    qs = e.where(
        (F.col("vec_id") >= _RECALL_Q0) & (F.col("vec_id") < _RECALL_Q1)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))

    wq = Window.partitionBy("qid")
    bf = (
        e.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(_cosine("spark", "embedding", "qv")).alias("cos"),
        )
        .withColumn(
            "rk",
            F.row_number().over(wq.orderBy(F.col("cos").desc(), "vec_id")),
        )
        .where(F.col("rk") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    assigned = nearest_centroid(e, cents).select("vec_id", "embedding", "cid")
    probe = (
        cents.crossJoin(F.broadcast(qs))
        .select("qid", "cid", F.expr(_cosine("spark", "cv", "qv")).alias("qcos"))
        .withColumn(
            "rk", F.row_number().over(wq.orderBy(F.col("qcos").desc(), "cid"))
        )
        .where(F.col("rk") <= nprobe)
        .select("qid", "cid")
    )
    ivf = (
        assigned.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(qs), "qid")
        .select(
            "qid",
            "vec_id",
            F.expr(_cosine("spark", "embedding", "qv")).alias("cos"),
        )
        .withColumn(
            "rk",
            F.row_number().over(wq.orderBy(F.col("cos").desc(), "vec_id")),
        )
        .where(F.col("rk") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    return (
        bf.join(ivf.withColumn("hit", F.lit(1)), ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(F.count("hit").alias("n_hits"))
        .select(
            "qid",
            "n_hits",
            (F.col("n_hits").cast("double") / _RECALL_K).alias("recall"),
        )
    )


# ------------------------------------------------------ hard-negative mining

_HN_QUERIES = 8  # fixed anchor panel: vec_id < 8 (bounded at every scale)
_HN_POS = 4  # positives per anchor (top-k by cosine)
_HN_NEG = 4  # semi-hard negatives per anchor
_HN_MARGIN = "CAST(0.15 AS DOUBLE)"  # semi-hard band width below the weakest positive


def _duck_hard_negatives_sql() -> str:
    cos = _cosine("duck", "e.embedding", "q.embedding")
    return f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < {_HN_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id, e.label, {cos} AS cosine
  FROM embeddings e JOIN q ON e.vec_id <> q.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored
),
thresholds AS (
  SELECT q_id, cosine AS t FROM ranked WHERE rnk = {_HN_POS}
),
positives AS (
  SELECT q_id, vec_id, label, cosine, 'pos' AS role, rnk AS rank
  FROM ranked WHERE rnk <= {_HN_POS}
),
band AS (
  SELECT r.q_id, r.vec_id, r.label, r.cosine,
         row_number() OVER (PARTITION BY r.q_id ORDER BY r.cosine DESC, r.vec_id) AS nrk
  FROM ranked r JOIN thresholds t ON t.q_id = r.q_id
  WHERE r.rnk > {_HN_POS} AND r.cosine >= t.t - {_HN_MARGIN}
)
SELECT q_id, vec_id, label, cosine, role, CAST(rank AS BIGINT) AS rank FROM positives
UNION ALL
SELECT q_id, vec_id, label, cosine, 'neg' AS role, CAST(nrk AS BIGINT) AS rank
FROM band WHERE nrk <= {_HN_NEG}
"""


@query(
    "q_hard_negatives",
    oracle=_duck_hard_negatives_sql(),
    tags=("similarity", "topk", "mining"),
)
def q_hard_negatives(spark, sf_dir):
    """Semi-hard negative mining (FaceNet, Schroff et al. 2015 §3.2) for a
    fixed 8-anchor panel: per anchor, the top-4 cosine neighbors are the
    POSITIVES and the next 4 candidates within a 0.15-cosine band below
    the weakest positive are the SEMI-HARD NEGATIVES — similar enough to
    exert gradient, dissimilar enough not to collide with the positives.
    This is the contrastive-pair construction stage of an embedding-model
    training pipeline; output carries (role, rank, cosine) evidence.

    Scale shape: the anchor panel is CONSTANT-size (8 rows broadcast), so
    the corpus streams once through the cosine projection and never
    shuffles; per-anchor ranking is a WindowGroupLimit-pruned top-k (map
    tasks emit ≤ panel·k rows) exactly like q_ann_recall's arms; the
    4-row-per-anchor threshold table broadcasts back for the band filter.
    Mining MANY anchors at 100 TB routes through the IVF index
    (q_ivf_topk) to propose candidates first — this registered form is
    the exact-math core that path verifies against.

    Exactness: cosine is the family's strict sequential fold; every rank
    ties on vec_id; the band test compares doubles produced by the
    identical expression tree in both engines."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            F.expr(_cosine("spark", "embedding", "qv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    # r17 restructure (VERDICT r16 #4). The r16 shape checkpointed the
    # FULL panel×corpus ranked frame (8·N rows) for its three consumers —
    # an un-prunable Window over 8 fat partitions plus 8·N rows pinned in
    # the block manager. But the output is provably contained in the TOP
    # 8 (= _HN_POS + _HN_NEG) rows per anchor: positives are ranks 1-4 by
    # definition, and the band re-rank keeps nrk <= 4 of a set that is a
    # CONTIGUOUS run of original ranks starting at 5 — cosine is
    # non-increasing along the rank order, so once one rank-(>4) row
    # falls below t - margin every later row does too, making the band a
    # rank prefix and nrk = rnk - _HN_POS. Hence: ONE top-k-filtered
    # window (map-side WindowGroupLimit — each scan task emits <= 8 rows
    # per anchor, the shuffle carries <= panel·8·tasks rows instead of
    # 8·N), the threshold via a second window over the same partition key
    # (no new shuffle), no checkpoint, no union, one corpus pass.
    # A first r17 attempt that streamed the corpus TWICE (top-4 pass +
    # band pass) measured 1.25x — two BroadcastNestedLoopJoin cosine
    # expansions outweigh the window savings; reproduces with
    # tools/exp_hard_negatives.py at 79da2d5.
    out_k = _HN_POS + _HN_NEG
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= out_k)
        .withColumn(
            "t",
            F.max(F.when(F.col("rnk") == _HN_POS, F.col("cosine"))).over(
                Window.partitionBy("q_id")
            ),
        )
        .where(
            (F.col("rnk") <= _HN_POS)
            | (F.col("cosine") >= F.col("t") - F.expr(_HN_MARGIN))
        )
        .select(
            "q_id",
            "vec_id",
            "label",
            "cosine",
            F.when(F.col("rnk") <= _HN_POS, "pos").otherwise("neg").alias("role"),
            F.when(F.col("rnk") <= _HN_POS, F.col("rnk"))
            .otherwise(F.col("rnk") - _HN_POS)
            .cast("bigint")
            .alias("rank"),
        )
    )

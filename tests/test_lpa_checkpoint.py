"""LPA loop hygiene (r9 VERDICT #2 + ADVICE): checkpointed plan growth and
the packed-label domain guard.

label_propagation_pairs references `sym` every round and `labels` twice per
round; without localCheckpoint the final plan embeds the upstream subtree
~2^rounds times. The checkpoints make plan size LINEAR in rounds — pinned
here so it can't regress. The packed-MAX encoding also assumes every label
(doc_id) < 2^33; a wider id would silently alias under the % 2^33 unpack,
so the seed expression raises instead.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark.queries.communities import (
    _PACK,
    label_propagation_pairs,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")


def _plan_len(df):
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def test_plan_growth_is_linear_in_rounds(spark):
    pairs = _edges(spark, [(1, 2), (2, 3), (4, 5)])
    l3 = _plan_len(label_propagation_pairs(pairs, rounds=3))
    l6 = _plan_len(label_propagation_pairs(pairs, rounds=6))
    # uncheckpointed growth would be ~2^3 = 8x from 3 to 6 rounds; the
    # checkpointed loop's final plan covers only the LAST round, so the
    # two sizes are essentially equal — allow generous slack
    assert l6 < 2 * l3, (l3, l6)


def test_communities_unchanged_by_checkpointing(spark):
    # two triangles joined by one weak bridge: LPA keeps them as two
    # communities (the module's motivating case vs connected components)
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(7, 8), (8, 9), (7, 9)]
    got = {
        (r["node"], r["lbl"])
        for r in label_propagation_pairs(
            _edges(spark, tri1 + tri2 + [(3, 7)])
        ).collect()
    }
    comms = {}
    for node, lbl in got:
        comms.setdefault(lbl, set()).add(node)
    assert {frozenset(c) for c in comms.values()} == {
        frozenset({1, 2, 3}),
        frozenset({7, 8, 9}),
    }


def test_doc_id_beyond_pack_raises_not_wraps(spark):
    wide = _PACK + 5  # would alias to 5 under % 2^33
    pairs = _edges(spark, [(wide, 1)])
    with pytest.raises(Exception, match="2\\^33"):
        label_propagation_pairs(pairs, rounds=1).collect()


def test_doc_id_below_pack_passes_guard(spark):
    pairs = _edges(spark, [(_PACK - 1, 1)])
    rows = label_propagation_pairs(pairs, rounds=1).collect()
    assert {r["node"] for r in rows} == {_PACK - 1, 1}


def test_pagerank_plan_covers_one_iteration_only(spark, sf_dir):
    # r16: q_pagerank's sym/deg are lazily checkpointed (like the LPA loop
    # above) — without them the 3-iteration unroll re-instantiated the
    # LSH subtree 28x in one plan (28 parquet scans, 0 ReusedExchange;
    # measured 0.67x after the fix, tools/exp_pagerank_ckpt.py at 79da2d5).
    # The final optimized plan must reference the checkpointed graph (scan-free
    # ExistingRDD leaves), not re-derive the corpus scan per round.
    from video_data_pipeline_spark.queries.dedup import q_pagerank

    plan = (
        q_pagerank(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Relation") <= 4, plan[:2000]

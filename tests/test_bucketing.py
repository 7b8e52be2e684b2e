"""Bucketed co-located joins: the repeated-join scale story.

At 100 TB, re-shuffling lineitem for every orderkey join is the dominant
cost; bucketing both sides on the join key at write time makes every later
join exchange-free (SURVEY.md §4 partitioning row; ARCHITECTURE.md).
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    import shutil

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("li_b", "ord_b"):  # stale dirs from prior metastore instances
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable("li_b"))
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable("ord_b"))
    yield
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = spark.sql("""
            SELECT o.o_orderpriority, COUNT(*) AS n
            FROM li_b l JOIN ord_b o ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderpriority
        """)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join reads co-located buckets: SMJ with no shuffle on the keys
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # and the result is right
        n = joined.collect()
        assert sum(r.n for r in n) == spark.table("li_b").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_lists_partition_pruning(spark, sf_dir, tmp_path):
    """The IVF scale story made physical: store the corpus PARTITIONED BY
    its coarse-quantization cell (partitionBy(cid) at write), and a probe
    of 2 lists becomes parquet PARTITION PRUNING — the scan reads only the
    probed directories, so search cost scales with probed-list size, not
    corpus size (q_ivf_kmeans_topk's docstring claim, proven on the plan)."""
    from pyspark.sql import functions as F

    from video_data_pipeline_spark.operators.kmeans import assign_step, kmeans_fit

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(e, 4, vec_col="embedding", id_col="vec_id", max_iter=2)
    assigned = assign_step(e, cents, "embedding", "vec_id")
    out = str(tmp_path / "ivf_lists")
    assigned.write.partitionBy("cid").parquet(out)

    lists = spark.read.parquet(out)
    probe = [r.cid for r in cents.orderBy("cid").limit(2).collect()]
    probed = lists.where(F.col("cid").isin(probe))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters")[1][:120]
    # the pruned scan returns exactly the probed lists' rows
    expected = assigned.where(F.col("cid").isin(probe)).count()
    assert probed.count() == expected > 0

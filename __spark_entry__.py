"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` exposes every
implemented operator from SURVEY.md §2 (+ Phase-5 extensions) as
(spark, sf_dir) -> DataFrame callables (round-robin ordered by family so
any checked prefix covers every family, oracle-less queries last);
``oracle_sql()`` gives the DuckDB oracle for each SQL-expressible one.
Counts are live properties of the registry — ``len(queries())`` /
``len(oracle_sql())``; implementations live in
``video_data_pipeline_spark/queries/``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from video_data_pipeline_spark.queries.registry import load_all


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1-style pricing
    summary (scan → pushed filter → hash aggregate)."""
    registry = load_all()
    return registry["q01_pricing_summary"].spark_fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark_fn for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in load_all().items() if q.oracle is not None}

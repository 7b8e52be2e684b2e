"""Small literal DataFrames as pure-JVM plans (no Python RDD).

``spark.createDataFrame(rows)`` parallelizes local data into a
``defaultParallelism``-slice PYTHON RDD (``Scan ExistingRDD`` in the
plan): every downstream task forks a Python worker just to unpickle a
handful of literals. Measured on ``q_countmin_freq``'s 8 probe words at
sf0.1 (r16 opt round, tools/exp_local_rows.py, reproduces at 79da2d5): the
probes' exchange ran as a 32-task stage whose tasks were BLOCKED on worker
startup/IPC —
52 s summed executorRunTime against 0.7 s executorCpuTime — the guide
§4 boundary tax paid for rows the driver already holds.

``inline_rows`` builds the same frame as ``range(1) → inline(array(
struct(...)))``: a single-partition, codegen'd, Python-free plan whose
literals live in the plan tree itself (the LocalRelation shape Scala
gets from ``Seq(...).toDF``). Content is identical; only the physical
source changes.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def inline_rows(
    spark: SparkSession, cols: Sequence[str], rows: Iterable[Sequence]
) -> DataFrame:
    """DataFrame of literal ``rows`` with columns ``cols``, built as a
    pure-JVM single-partition plan (no Python RDD, no worker forks).

    Intended for the small driver-side literal tables that parameterize
    queries (probe words, shard-url lists): values must be plain
    literals (str/int/float/bool/None), the same domain
    ``F.lit`` accepts.
    """
    rows = list(rows)
    if not rows:
        raise ValueError("inline_rows needs at least one row")
    structs = [
        F.struct(*[F.lit(v).alias(c) for c, v in zip(cols, row)])
        for row in rows
    ]
    # numPartitions=1 explicitly: a bare range(1) (like createDataFrame)
    # inherits defaultParallelism slices, scheduling cores-1 EMPTY tasks
    # per consumer stage just to carry a literal table
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))

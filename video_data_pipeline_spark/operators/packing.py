"""Greedy sequential bin-packing (the reference's 8k-token packer).

Reference (``tokenize/main.py:149-218``): iterate samples in order,
accumulate while ``cached_len + len <= budget``; when the next sample would
overflow, flush the bin and start a new one; samples individually over
budget are skipped (main.py:186-193); the trailing partial bin is dropped
(main.py:212-215).

This is order-dependent sequential state — the one operator family Catalyst
can't express relationally (SURVEY.md §7 "What's hard" (2)). The loop is
one pure function, :func:`greedy_bins`, with two Spark-native callers: the
tokenize plan streams it over each shard inside the scan worker
(``plans/tokenize.py``, no shuffle), and :func:`greedy_bin_pack` applies it
per group with ``applyInPandas`` and an explicit intra-group order column,
for frames whose groups are not shards.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import TypeVar

import pandas as pd
from pyspark.sql import DataFrame

T = TypeVar("T")


def greedy_bins(
    items: Iterable[T], size: Callable[[T], int], budget: int
) -> Iterator[tuple[int, T]]:
    """Yield ``(bin_id, item)`` in input order by the reference's greedy
    loop; bin ids run 0, 1, ... and a bin is closed once an item with a
    higher id appears.

    An item at or over budget is skipped, never yielded: the reference
    keeps strictly ``len < budget`` (tokenize/main.py:193 ``< 8000``),
    matching check_sample's ``len >= 8000`` violation rule. The flush is
    strict too: a bin reaching exactly ``budget`` would trip the same rule
    downstream, so the item that would fill it opens the next bin.
    """
    acc, bin_id = 0, 0
    for item in items:
        n = size(item)
        if n >= budget:
            continue
        if acc + n >= budget:
            bin_id += 1
            acc = 0
        acc += n
        yield bin_id, item


def greedy_bin_pack(
    group_cols: list[str],
    order_col: str,
    size_col: str,
    budget: int,
    bin_col: str = "bin_id",
    drop_partial: bool = True,
):
    """Assign ``bin_col`` per group by :func:`greedy_bins`.

    Rows at-or-over budget are dropped (reference keeps strictly
    ``len < budget``, main.py:193); with
    ``drop_partial`` the unflushed trailing bin is dropped (reference drops
    it to avoid duplicate keys, main.py:212-215).
    """

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        sizes = pdf[size_col].tolist()
        bins = [-1] * len(pdf)
        for bin_id, i in greedy_bins(range(len(pdf)), sizes.__getitem__, budget):
            bins[i] = bin_id
        pdf[bin_col] = pd.array(bins, dtype="int64")
        out = pdf[pdf[bin_col] >= 0]
        if drop_partial and len(out):
            out = out[out[bin_col] < out[bin_col].max()]
        return out

    def _op(df: DataFrame) -> DataFrame:
        from video_data_pipeline_spark.session import ensure_shipped

        ensure_shipped(df.sparkSession)
        schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        return df.groupBy(*group_cols).applyInPandas(
            lambda pdf: _pack(pdf), schema=f"{schema}, `{bin_col}` bigint"
        )

    return _op


def shard_roll(
    group_cols: list[str],
    order_col: str,
    size_col: str,
    maxcount: int,
    maxsize: int,
    shard_col: str = "shard_id",
):
    """Assign ``shard_col`` by the reference ``ShardWriter`` rolling rule
    (writer.py:362-449): before writing each record, roll to a new shard if
    the current one has reached ``maxcount`` records or ``maxsize`` bytes.

    Unlike :func:`greedy_bin_pack`, every record is written (no skip/drop);
    a shard may exceed ``maxsize`` by one record (the reference checks
    *before* writing, so one oversized record still lands — writer.py:401).
    """

    def _roll(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        shards, count, size, shard_id = [], 0, 0, 0
        for s in pdf[size_col]:
            if count >= maxcount or size >= maxsize:
                shard_id += 1
                count, size = 0, 0
            shards.append(shard_id)
            count += 1
            size += s
        pdf[shard_col] = pd.array(shards, dtype="int64")
        return pdf

    def _op(df: DataFrame) -> DataFrame:
        from video_data_pipeline_spark.session import ensure_shipped

        ensure_shipped(df.sparkSession)
        schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        return df.groupBy(*group_cols).applyInPandas(
            lambda pdf: _roll(pdf), schema=f"{schema}, `{shard_col}` bigint"
        )

    return _op

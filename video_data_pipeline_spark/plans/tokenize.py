"""The tokenize pipeline (reference ``tokenize/main.py``) as one Spark plan.

Reference shape (tokenize/main.py:149-267): list tars, slice ranges by
hand, joblib workers each re-scan 5 tars, validate, tokenize with
SentencePiece, greedily pack to 8k tokens, merge with BOS-dedup, write new
tars.

Spark shape: one job, no exchange. ``map_shards`` runs one Python pass per
input shard inside the scan worker: decode the text member → tokenize →
greedy pack in member order (``operators.packing.greedy_bins``) → merge
each bin as it closes; the shard's still-open bin is dropped at its end,
so the pass holds at most one bin. The JVM then renders each merged record
with ``to_json`` and the rolling tar sink writes one tar per input shard,
records in member order. Bins never cross input shards.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_data_pipeline_spark.functions.text import merge_packed, tokenize_text
from video_data_pipeline_spark.operators.packing import greedy_bins
from video_data_pipeline_spark.sinks.webdataset import write_webdataset
from video_data_pipeline_spark.sources.webdataset import map_shards

TOKEN_BUDGET = 8000  # tokens per packed sample (tokenize/main.py:186,193)

_MERGED_SCHEMA = (
    "`__key__` string, input_ids array<int>, loss_mask array<int>, text string"
)


def _merge(docs: list[tuple[str, str, list[int], list[int]]]) -> tuple:
    """One bin → one record: input_ids/loss_mask concatenated dropping each
    non-first BOS, texts joined by spaces (``save_to_tar``,
    tokenize/main.py:73-85); key = first member's key."""
    ids, mask = merge_packed([(d[2], d[3]) for d in docs])
    return docs[0][0], ids, mask, " ".join(d[1] for d in docs)


def _pack_shard(samples: Iterator[tuple], budget: int) -> Iterator[tuple]:
    """One shard's samples → its merged bins, each emitted as it closes."""

    def tokenized():
        for key, _url, _idx, sample in samples:
            # decode stage (filters.py:283): the txt member, else json
            raw = sample.get("txt")
            if raw is None:
                raw = sample.get("json")
            if raw is None:
                continue
            text = raw.decode("utf-8", "replace")
            yield (key, text, *tokenize_text(text))

    current: list[tuple] = []
    current_id = 0
    for bin_id, doc in greedy_bins(tokenized(), lambda d: len(d[2]), budget):
        if bin_id != current_id:
            yield _merge(current)
            current, current_id = [], bin_id
        current.append(doc)
    # the still-open bin is dropped (tokenize/main.py:212-215)


def tokenize_shards(
    spark: SparkSession,
    in_paths: str | list[str],
    out_path: str,
    budget: int = TOKEN_BUDGET,
    samples_per_shard: int = 500,
) -> DataFrame:
    """Scan packed shards → tokenize → 8k-pack → write; returns manifest."""
    merged = map_shards(
        spark, in_paths, lambda samples: _pack_shard(samples, budget), _MERGED_SCHEMA
    )
    samples = merged.select(
        F.col("__key__"),
        F.create_map(
            F.lit("json"),
            F.to_json(F.struct("input_ids", "loss_mask", "text")).cast("binary"),
        ).alias("sample"),
    )
    return write_webdataset(samples, out_path, maxcount=samples_per_shard)

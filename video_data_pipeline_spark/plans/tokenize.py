"""The tokenize pipeline (reference ``tokenize/main.py``) as one Spark plan.

Reference shape (tokenize/main.py:149-267): list tars, slice ranges by
hand, joblib workers each re-scan 5 tars, validate, tokenize with
SentencePiece, greedily pack to 8k tokens, merge with BOS-dedup, write new
tars.

Spark shape: one job, no exchange, one Python pass per input shard
(``map_shards``): decode the text member → tokenize → greedy pack in
member order (``operators.packing.greedy_bins``) → merge each bin as it
closes, render its json member (:func:`render_json`) and write it into the
sink's rolling tar loop (``sinks.webdataset.write_tars``), one tar per
input shard. The shard's still-open bin is dropped at its end, so the pass
holds at most one bin; only manifest rows leave Python.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from video_data_pipeline_spark.functions.text import merge_packed, tokenize_text
from video_data_pipeline_spark.operators.packing import greedy_bins
from video_data_pipeline_spark.sinks.webdataset import MANIFEST_SCHEMA, write_tars
from video_data_pipeline_spark.sources.webdataset import map_shards

TOKEN_BUDGET = 8000  # tokens per packed sample (tokenize/main.py:186,193)

#: Spark's ``to_json`` string escapes (Jackson's defaults): short forms for
#: " \ \b \t \n \f \r, UPPERCASE \u00XX for every other control, all else raw
_JSON_ESCAPES = {c: f"\\u{c:04X}" for c in range(0x20)}
_JSON_ESCAPES |= {ord(c): "\\" + e for c, e in zip('"\\\b\t\n\f\r', '"\\btnfr')}


def render_json(ids: list[int], mask: list[int], text: str) -> bytes:
    """Spark's ``to_json(struct(input_ids, loss_mask, text))``, byte for byte."""
    arrays = json.dumps({"input_ids": ids, "loss_mask": mask}, separators=(",", ":"))
    return f'{arrays[:-1]},"text":"{text.translate(_JSON_ESCAPES)}"}}'.encode()


def _pack_shard(samples: Iterator[tuple], budget: int) -> Iterator[tuple]:
    """One shard's samples → one tar sample per bin as it closes (``save_to_tar``,
    tokenize/main.py:73-85): its first member's key; a json member of input_ids
    and loss_mask concatenated dropping each non-first BOS, texts joined by spaces."""

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
            ids, mask = merge_packed([(d[2], d[3]) for d in current])
            text = " ".join(d[1] for d in current)
            yield current[0][0], [("json", render_json(ids, mask, text))]
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

    def tokenize_shard(samples: Iterator[tuple]) -> Iterator[tuple]:
        manifest = write_tars(_pack_shard(samples, budget), out_path, maxcount=samples_per_shard)
        return manifest.itertuples(index=False, name=None)

    os.makedirs(out_path, exist_ok=True)
    return map_shards(spark, in_paths, tokenize_shard, MANIFEST_SCHEMA)

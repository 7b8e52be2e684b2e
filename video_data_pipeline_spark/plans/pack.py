"""The pack pipeline (reference ``pack/pack.py``) as one Spark plan.

Reference shape (pack/pack.py:230-310 ``job`` + 59-227 ``process_tars``):
driver materializes the whole metadata list in RAM, stripes it across
machines/processes by hand, then each worker fetches media, builds the
conversation struct, and writes 500-sample tars.

Spark shape: metadata is a DataFrame (never driver-materialized); striping
/padding/joblib vanish into partitioning. The JVM numbers the sample keys
and renders each json member with ``to_json``; then ONE Arrow-batched
``mapInPandas`` does what the reference's worker loop does: it fetches each
video once, samples its frames for ``uniform``, and writes the video or
frames straight into the sink's rolling tar loop
(``sinks.webdataset.write_tars``). Media bytes never enter the JVM. The
whole pipeline is lazy until the manifest is acted on.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from video_data_pipeline_spark.functions.media import fetch_media, uniform_frames
from video_data_pipeline_spark.sinks.webdataset import MANIFEST_SCHEMA, write_tars


def build_conversations(meta: DataFrame, value_col: str = "value") -> DataFrame:
    """Caption → [human(<video>...), gpt(caption)] turn pair
    (pack/pack.py:28-38 ``video_text_pair`` constructors)."""
    conv = F.array(
        F.struct(F.lit("human").alias("from"), F.lit("<video>").alias("value")),
        F.struct(F.lit("gpt").alias("from"), F.col(value_col).alias("value")),
    )
    return meta.withColumn("conversations", conv)


def pack_dataset(
    meta: DataFrame,
    out_path: str,
    samples_per_shard: int = 500,
    sample_type: str = "video_text_pair",
    n_frames: int = 16,
    hermetic: bool = False,
) -> DataFrame:
    """Pack a normalized caption table ``(video_path, value)`` into tar
    shards; returns the writer manifest (act on it to execute).

    ``sample_type`` mirrors the --type sampler dispatch (pack/pack.py:69-85):
    ``video_text_pair`` stores whole video bytes; ``uniform`` stores sampled
    frames as jpg members keyed ``{key}-{i}`` (pack/samplers.py:112-117).

    ``hermetic=True`` lets unreachable media paths fall back to
    deterministic stand-in bytes (offline tests); in production a bad path
    fails the task, matching the reference's FileNotFoundError.
    """
    if sample_type not in ("video_text_pair", "uniform"):
        raise ValueError(f"unknown sample_type {sample_type!r}")
    if n_frames < 1:
        raise ValueError(f"n_frames must be at least 1, got {n_frames}")
    from video_data_pipeline_spark.session import ensure_shipped

    ensure_shipped(meta.sparkSession)
    meta = build_conversations(meta)
    # zero-padded sample keys, the reference's f"{idx:09d}" (pack/pack.py:155).
    # Keys come from a STABLE global index over the deterministic video_path
    # order — not monotonically_increasing_id, whose values depend on
    # partition layout and exceed 9 digits past partition 0.
    from video_data_pipeline_spark.operators.batching import global_index

    keyed = meta.transform(global_index(["video_path"], idx_col="__idx__")).withColumn(
        "__key__", F.format_string("%09d", F.col("__idx__"))
    )
    fields = [F.col("conversations"), F.array(F.col("video_path")).alias("videos")]
    uniform = sample_type == "uniform"
    if uniform:
        # reference layout (pack/pack.py:214-224 + samplers.py:112-117): the
        # json sample keyed {idx:09d} names its frames, each a SEPARATE jpg
        # sample keyed {idx:09d}-{i}, so standard to_dict('jpg;png;jpeg')
        # pipelines decode each frame. uniform_frames yields n_frames frames.
        fields.append(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_frames - 1)),
                lambda i: F.concat(F.col("__key__"), F.lit("-"), i.cast("string")),
            ).alias("image_name_list")
        )
    fallback = F.col("video_fallback") if "video_fallback" in keyed.columns else F.lit(None)
    rows = keyed.select(
        "__key__",
        "video_path",
        fallback.cast("string").alias("video_fallback"),
        F.to_json(F.struct(*fields)).cast("binary").alias("json"),
    )

    def samples(it: Iterator[pd.DataFrame]):
        """Fetch each video once (``process_videos``→``videos`` fallback,
        pack/dataset.py:65-80) and emit its samples in tar order."""
        for pdf in it:
            for key, path, fb, js in zip(
                pdf["__key__"], pdf["video_path"], pdf["video_fallback"], pdf["json"]
            ):
                video = fetch_media(path, fb, hermetic=hermetic)
                if not uniform:
                    yield key, [("json", js), ("mp4", video)]
                    continue
                yield key, [("json", js)]
                for i, frame in enumerate(uniform_frames(video, n_frames)):
                    yield f"{key}-{i}", [("jpg", frame)]

    def pack_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield write_tars(samples(it), out_path, maxcount=samples_per_shard)

    os.makedirs(out_path, exist_ok=True)
    return rows.mapInPandas(pack_partition, schema=MANIFEST_SCHEMA)

"""The index/check pipeline (reference ``index/check_pair.py``) as a plan.

Reference shape (index/check_pair.py:28-68): re-scan every tokenized tar,
assert per-sample invariants, dump a 1% golden sample for human review,
pickle ``[{url, nsamples}]`` and print the grand total.

Spark shape: scan → ``from_json`` with a corrupt-record column → the
invariants as one SQL ``CASE`` (declarative, with a violation column
instead of asserts — the row-level error-policy pattern, SURVEY.md §7 (3))
→ deterministic 1% golden sample → ``groupBy(url).count()`` manifest
written as Parquet. The only Python is the tar scan.

Like the reference, the index scans each tar once: the manifest, the
violations and :func:`sample_index` share one narrow checked frame (key,
url, violation and sizes; no json text), truncated by
:func:`checkpoint.checkpoint_frame`. With the default local checkpoint the
first action pays the one scan and the rest read its blocks; with
``SPARK_GRAFT_CHECKPOINT_DIR`` set, Spark's reliable checkpoint recomputes
the frame to write its files, so the first action scans twice, and Spark
leaves those files in the directory unless
``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.
A one-entry memo keys that frame on the session and every shard's
spelling, ``realpath``, ``mtime_ns`` and ``size``: a rewritten shard,
other tars, the same tars named otherwise or another session build it
afresh, and remote or unstattable shards get no memo entry (each call
builds its own checkpointed frame). The memo holds the last frame, so its
blocks stay until a new key replaces it. Only the golden sample, which
needs the json text, scans the tars on its own.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_data_pipeline_spark.checkpoint import checkpoint_frame
from video_data_pipeline_spark.functions.text import IM_END, IM_PATCH, IM_START, N_PATCHES
from video_data_pipeline_spark.operators.sampling import rsample
from video_data_pipeline_spark.sources.gopen import is_remote
from video_data_pipeline_spark.sources.webdataset import expand_paths, read_webdataset

#: the parsed json member; ``_corrupt`` holds the raw text of a record
#: that does not parse
_JSON_SCHEMA = (
    "input_ids array<bigint>, loss_mask array<bigint>, image array<string>, "
    "_corrupt string"
)
_IDS = "coalesce(rec.input_ids, array())"
_MASK = "coalesce(rec.loss_mask, array())"
_IMAGES = "coalesce(rec.image, array())"


def _count(token: int) -> str:
    return f"size(filter({_IDS}, t -> t = {token}))"


#: ``functions.text.check_sample`` as ONE SQL expression, rule for rule and
#: message for message; a missing or unparsable json member is a
#: ``decode error``, and an absent array field counts as empty
_VIOLATION = f"""CASE
  WHEN rec IS NULL OR rec._corrupt IS NOT NULL THEN 'decode error'
  WHEN size({_IDS}) != size({_MASK}) THEN 'len(input_ids) != len(loss_mask)'
  WHEN size({_IDS}) >= 8000 THEN 'len(input_ids) >= 8000'
  WHEN {_count(IM_START)} != {_count(IM_END)} THEN 'unbalanced <im_start>/<im_end>'
  WHEN {_count(IM_PATCH)} != {N_PATCHES} * size({_IMAGES})
    THEN 'count(<im_patch>) != 256 * n_images'
END"""


def _checked_samples(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Scan → parse json → per-sample invariant check + size metadata, all
    on the JVM. Shared front half of :func:`index_shards` and
    :func:`sample_index`."""
    raw = read_webdataset(spark, paths)
    decoded = raw.select(
        "__key__", "__url__", F.col("sample")["json"].cast("string").alias("json_raw")
    ).withColumn(
        "rec",
        F.from_json("json_raw", _JSON_SCHEMA, {"columnNameOfCorruptRecord": "_corrupt"}),
    )
    return decoded.selectExpr(
        "__key__",
        "__url__",
        "json_raw",
        f"{_VIOLATION} AS violation",
        f"CAST(size({_IDS}) AS BIGINT) AS n_tokens",
        f"CAST(size({_IMAGES}) AS BIGINT) AS n_images",
    )


def _shard_key(paths: str | list[str]) -> tuple | None:
    """``(spelling, realpath, mtime_ns, size)`` of every expanded shard:
    the stat rule of :func:`calibrate.corpus_fingerprint`, plus the
    spelling, since the frame's ``__url__`` column carries it. None, with
    no stat made, when a shard is remote (``s3://``, ``http(s)://``,
    ``pipe:`` ...), and None when a local shard cannot be statted."""
    shards = expand_paths(paths)
    if any(is_remote(s) for s in shards):
        return None
    try:
        stats = [os.stat(s) for s in shards]
    except OSError:
        return None
    return tuple(
        (s, os.path.realpath(s), st.st_mtime_ns, st.st_size) for s, st in zip(shards, stats)
    )


#: ``{(session, shard key): checked frame}``, at most one entry: a new key
#: drops the old frame, whose blocks Spark's ContextCleaner then frees
_CHECKED: dict[tuple, DataFrame] = {}


def _shared_check(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """The narrow checked frame every index consumer of ``paths`` reads,
    checkpointed lazily and memoised on :func:`_shard_key` when there is
    one."""
    key = _shard_key(paths)
    if key is not None:
        key = (spark, key)
        if key in _CHECKED:
            return _CHECKED[key]
    checked = checkpoint_frame(_checked_samples(spark, paths).drop("json_raw"))
    if key is not None:
        _CHECKED.clear()
        _CHECKED[key] = checked
    return checked


def index_shards(
    spark: SparkSession,
    paths: str | list[str],
    golden_fraction: float = 0.01,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (index, violations, golden):
    index = (url, nsamples) for valid samples — the reference's pickle
    payload (check_pair.py:46,59-66); violations = failed invariants with
    reasons; golden = deterministic ~1% sample for inspection
    (check_pair.py:16-26,41-42 dump_sample_for_checking).

    index and violations read the shared checked frame (module docstring),
    so together with :func:`sample_index` they scan the tars once; golden
    keeps its own lazy scan for the json text."""
    checked = _shared_check(spark, paths)
    violations = checked.where(F.col("violation").isNotNull()).select(
        "__key__", "__url__", "violation"
    )
    index = (
        checked.where(F.col("violation").isNull())
        .groupBy(F.col("__url__").alias("url"))
        .agg(F.count(F.lit(1)).alias("nsamples"))
    )
    golden = (
        _checked_samples(spark, paths)
        .where(F.col("violation").isNull())
        .transform(rsample("__key__", golden_fraction, seed="golden"))
        .select("__key__", "__url__", "json_raw")
    )
    return index, violations, golden


def sample_index(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Per-SAMPLE metadata index: (key, url, n_tokens, n_images) for every
    valid sample — the queryable table a curation workload filters by
    token/image counts (pick packs in a token range, packs with k images,
    ...). The shard-level :func:`index_shards` manifest aggregates this;
    keeping the sample grain makes the index worth laying out well — see
    :func:`write_index`. Reads the same shared checked frame as
    :func:`index_shards`, so it adds no scan of unchanged tars."""
    return _shared_check(spark, paths).where(F.col("violation").isNull()).select(
        F.col("__key__").alias("key"),
        F.col("__url__").alias("url"),
        "n_tokens",
        "n_images",
    )


def write_index(
    df: DataFrame,
    path: str,
    zorder_by: tuple[str, str] | None = None,
    bits: int = 8,
    num_files: int = 8,
) -> None:
    """Write an index/metadata table as parquet, optionally Z-ORDER
    clustered on two columns (opt-in; VERDICT r5 #9).

    A sample index is read back with mixed predicates (token-range scans
    for packing audits, image-count scans for multimodal selection); a
    single-column sort serves only one of those. ``zorder_by=("n_tokens",
    "n_images")`` routes through :func:`operators.layout.write_zordered`
    so every file covers a small rectangle in both dimensions and parquet
    min/max stats prune files for BOTH predicate families."""
    if zorder_by is None:
        df.write.mode("overwrite").parquet(path)
        return
    from video_data_pipeline_spark.operators.layout import write_zordered

    a, b = zorder_by
    write_zordered(df, path, a, b, bits=bits, num_files=num_files)

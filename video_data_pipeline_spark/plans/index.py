"""The index/check pipeline (reference ``index/check_pair.py``) as a plan.

Reference shape (index/check_pair.py:28-68): re-scan every tokenized tar,
assert per-sample invariants, dump a 1% golden sample for human review,
pickle ``[{url, nsamples}]`` and print the grand total.

Spark shape: scan → ``from_json`` with a corrupt-record column → the
invariants as one SQL ``CASE`` (declarative, with a violation column
instead of asserts — the row-level error-policy pattern, SURVEY.md §7 (3))
→ deterministic 1% golden sample → ``groupBy(url).count()`` manifest
written as Parquet. No Python runs besides the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_data_pipeline_spark.functions.text import IM_END, IM_PATCH, IM_START, N_PATCHES
from video_data_pipeline_spark.operators.sampling import rsample
from video_data_pipeline_spark.sources.webdataset import read_webdataset

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


def index_shards(
    spark: SparkSession,
    paths: str | list[str],
    golden_fraction: float = 0.01,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (index, violations, golden):
    index = (url, nsamples) for valid samples — the reference's pickle
    payload (check_pair.py:46,59-66); violations = failed invariants with
    reasons; golden = deterministic ~1% sample for inspection
    (check_pair.py:16-26,41-42 dump_sample_for_checking)."""
    checked = _checked_samples(spark, paths)

    valid = checked.where(F.col("violation").isNull())
    violations = checked.where(F.col("violation").isNotNull()).select(
        "__key__", "__url__", "violation"
    )
    index = valid.groupBy(F.col("__url__").alias("url")).agg(
        F.count(F.lit(1)).alias("nsamples")
    )
    golden = valid.transform(rsample("__key__", golden_fraction, seed="golden")).select(
        "__key__", "__url__", "json_raw"
    )
    return index, violations, golden


def sample_index(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Per-SAMPLE metadata index: (key, url, n_tokens, n_images) for every
    valid sample — the queryable table a curation workload filters by
    token/image counts (pick packs in a token range, packs with k images,
    ...). The shard-level :func:`index_shards` manifest aggregates this;
    keeping the sample grain makes the index worth laying out well — see
    :func:`write_index`."""
    checked = _checked_samples(spark, paths)
    return checked.where(F.col("violation").isNull()).select(
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

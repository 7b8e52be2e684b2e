"""CBOR shard reader — ``cbors_to_samples`` on the shard-scan kernel.

Reference: ``webdataset-private/webdataset/cborsiterators.py:6-27``
(``cbor_iterator`` / ``cbors_samples`` / ``cbors_to_samples``): open each
shard URL, ``cbor.load`` items until EOF, yield the decoded samples. The
reference documented this engine's gap as "cbor lib absent" — closed by
the dependency-free codec in :mod:`..functions.cbor`.

Spark shape is the tar batch scan's, with a CBOR read function
(``sources.webdataset._scan_shards``): one row and one partition per
shard, each executor streams its shard via :func:`gopen` (driver never
proxies bytes). Samples must be CBOR maps; every value is re-encoded to
CBOR bytes in a ``map<string,binary>`` column, so arbitrary nesting
survives Spark's static typing — ``cbor_decode_value`` (or
``functions.cbor.cbor_load``) restores the original value exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

CBOR_SAMPLE_SCHEMA = StructType(
    [
        StructField("__url__", StringType()),
        StructField("__idx__", LongType()),
        StructField("sample", MapType(StringType(), BinaryType())),
    ]
)


def _read_cbor_shard(path: str):
    from video_data_pipeline_spark.functions.cbor import cbor_encode, cbor_iter
    from video_data_pipeline_spark.sources.gopen import gopen

    fh = gopen(path, "rb")
    try:
        for idx, sample in enumerate(cbor_iter(fh)):
            if not isinstance(sample, dict):
                raise ValueError(
                    f"{path}[{idx}]: CBOR sample is {type(sample).__name__}, "
                    "expected map (reference cbor_iterator yields dict samples)"
                )
            yield (
                path,
                idx,
                {str(k): cbor_encode(v) for k, v in sample.items()},
            )
    finally:
        fh.close()


def cbors_to_samples(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Read CBOR shard(s) into (``__url__``, ``__idx__``, ``sample``) rows
    (reference ``cbors_to_samples``; ``cbors2_to_samples`` is the same
    reader — the reference binds both names to one implementation)."""
    from video_data_pipeline_spark.sources.webdataset import _scan_shards, expand_paths

    return _scan_shards(spark, expand_paths(paths), _read_cbor_shard, CBOR_SAMPLE_SCHEMA)


#: reference exports both names for the same reader (cborsiterators.py:27,51)
cbors2_to_samples = cbors_to_samples

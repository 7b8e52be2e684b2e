"""video_data_pipeline_spark — a PySpark-native multimodal training-data engine.

A ground-up re-expression of the capabilities of the reference system
``linkangheng/Video-Data-Pipeline`` (a Python iterator-pipeline ETL over
WebDataset tar shards) as an idiomatic Apache Spark DataFrame engine:

- Samples are DataFrame rows; media are ``BinaryType`` columns; metadata are
  ``StructType``/``ArrayType`` columns (reference: dict-per-sample,
  ``webdataset-private/webdataset/tariterators.py:184-246``).
- Pipelines are lazy DataFrame transformation chains optimized by Catalyst
  (reference: opaque generator chains, ``pipeline.py:54-59`` — no optimizer).
- Parallelism is the Spark scheduler (reference: joblib + ZMQ + manual machine
  striping, ``pack/pack.py:264-298``, ``multi.py``).

Subpackages
-----------
- ``sources``   — shard-list expansion, metadata loaders, WebDataset tar scan
- ``sinks``     — WebDataset tar writer with count/size rolling
- ``operators`` — projection/filter/map/join/sample/mix/batch/pack operators
- ``functions`` — scalar/column function library (hashing, text, frames)
- ``plans``     — the three reference pipelines (pack, tokenize, index)
- ``queries``   — registry of runnable queries + DuckDB oracle SQL
"""

__version__ = "0.1.0"

from video_data_pipeline_spark.session import gate_zip_invalidation, get_spark  # noqa: F401

# Once per process, in the application and in its Python workers: every
# worker that unpickles a package function imports this module.
gate_zip_invalidation()

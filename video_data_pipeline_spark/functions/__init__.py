"""Column-function library (JVM-side expressions; no Python row UDFs)."""

from video_data_pipeline_spark.functions.hashing import (  # noqa: F401
    stable_hash64,
    stable_unit_uniform,
)

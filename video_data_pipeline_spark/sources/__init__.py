"""Sources: shard-list expansion, WebDataset tar scan, metadata loaders."""

from video_data_pipeline_spark.sources.shardlists import expand_urls  # noqa: F401
from video_data_pipeline_spark.sources.webdataset import (  # noqa: F401
    decode_columns,
    read_webdataset,
)

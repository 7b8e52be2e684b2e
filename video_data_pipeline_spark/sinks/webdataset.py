"""WebDataset tar shard writer.

Re-expresses ``TarWriter``/``ShardWriter`` (writer.py:236-449):

- per-extension encoders (str→utf8, int→ascii, json→utf8 JSON, bytes
  pass-through — the PIL/torch/tenbin encoders of writer.py:135-233 apply
  to already-encoded ``binary`` columns here; media encoding is a UDF
  upstream, not a sink concern);
- shard rolling at ``maxcount`` records / ``maxsize`` bytes
  (writer.py:368-369 defaults 100k / 3e9);
- deterministic output: fixed ``mtime``, zeroed uid/gid (writer.py:281's
  ``mtime=`` made the default), so retried tasks and re-runs produce
  byte-identical shards;
- a returned *manifest* DataFrame ``(url, nsamples, nbytes)`` — the
  reference's index output (index/check_pair.py:46-66) produced by the
  writer itself.

Scale design: one writer task per input partition, no driver involvement;
``df.repartition(n)`` ahead of the sink controls shard count/size, or rely
on upstream partitioning. Filenames are ``{prefix}-{partition:05d}-{seq:05d}.tar``
— partition-unique, so speculative/retried tasks overwrite idempotently
rather than duplicate.

The rolling loop is one function, :func:`write_tars`, over a task's ordered
``(key, [(suffix, bytes)])`` samples. :func:`write_webdataset` feeds it the
rows of a DataFrame; ``plans.pack`` (media it fetched) and ``plans.tokenize``
(bins it packed) feed it from their own Python task, bytes never in the JVM.
"""

from __future__ import annotations

import io
import json
import os
import tarfile
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def _encode(suffix: str, value) -> bytes:
    """Extension encoder table (writer.py:135-233 ``make_handlers``):
    text/int/json plus pickle (``pyd``/``pickle``), numpy (``npy``/
    ``npz``), TenBin (``ten``/``tenbin``/``tb``) and gated msgpack
    (``mp``/``msgpack``/``msg``); already-encoded ``binary`` values pass
    through (media/image encoding is a UDF upstream)."""
    if value is None:
        raise ValueError("cannot encode None")
    if isinstance(value, (bytes, bytearray, memoryview)):
        return bytes(value)
    if suffix in ("txt", "text", "transcript", "html", "htm"):
        return str(value).encode("utf-8")
    if suffix in ("cls", "cls2", "class", "count", "index", "inx", "id"):
        return str(int(value)).encode("ascii")
    if suffix in ("json", "jsn"):
        return json.dumps(value, sort_keys=True, ensure_ascii=False).encode("utf-8")
    if suffix in ("pyd", "pickle"):
        from video_data_pipeline_spark.functions.codecs import pickle_encode

        return pickle_encode(value)
    if suffix == "npy":
        from video_data_pipeline_spark.functions.codecs import npy_encode

        return npy_encode(value)
    if suffix == "npz":
        from video_data_pipeline_spark.functions.codecs import npz_encode

        if not isinstance(value, dict):
            value = {"arr_0": value}
        return npz_encode(value)
    if suffix in ("ten", "tenbin", "tb"):
        from video_data_pipeline_spark.functions.codecs import tenbin_encode

        return tenbin_encode(value)
    if suffix in ("mp", "msgpack", "msg"):
        from video_data_pipeline_spark.functions.codecs import msgpack_encode

        return msgpack_encode(value)
    if suffix in ("jpg", "jpeg", "img", "image", "png", "ppm", "pgm", "pbm",
                  "tiff", "tif"):
        # ndarray values run the imageencoder (writer.py:145-152 handlers);
        # png/ppm/pgm are built-in, jpeg/tiff PIL-gated (functions/images.py)
        import numpy as _np

        if isinstance(value, _np.ndarray):
            from video_data_pipeline_spark.functions.images import encode_image

            return encode_image(value, suffix)
    if isinstance(value, str):
        return value.encode("utf-8")
    raise ValueError(f"no encoder for suffix {suffix!r} / type {type(value).__name__}")


#: the writer manifest's schema, one row per tar written
MANIFEST_SCHEMA = "url string, nsamples long, nbytes long"


def write_tars(
    samples: Iterable[tuple[str, Iterable[tuple[str, bytes]]]],
    path: str,
    prefix: str = "shard",
    maxcount: int = 500,
    maxsize: int = 3_000_000_000,
    mtime: int = 0,
    compress: bool = False,
) -> pd.DataFrame:
    """The rolling tar loop of one Spark task (``ShardWriter``,
    writer.py:236-449): write ordered ``(key, [(suffix, bytes)])`` samples
    as members ``{key}.{suffix}``, starting a new tar before a sample once
    the open one holds ``maxcount`` samples or ``maxsize`` bytes. Tars are
    named ``{prefix}-{partition:05d}-{seq:05d}`` after the task's partition.
    Returns the task's manifest rows (``MANIFEST_SCHEMA``)."""
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    ext = "tgz" if compress else "tar"
    manifest: list[tuple[str, int, int]] = []
    tar = buf = url = None
    count = size = 0

    def flush():
        tar.close()
        raw = buf.getvalue()
        if compress:
            # gzip with mtime=0 — tarfile's w:gz stamps wall-clock time
            # into the gzip header, which would break byte-determinism
            # (TarWriter .tgz support, writer.py:281 compress=)
            import gzip

            gz = io.BytesIO()
            with gzip.GzipFile(fileobj=gz, mode="wb", mtime=0) as zf:
                zf.write(raw)
            raw = gz.getvalue()
        with open(url, "wb") as fh:
            fh.write(raw)
        manifest.append((url, count, len(raw)))

    for key, items in samples:
        if tar is not None and (count >= maxcount or size >= maxsize):
            flush()
            tar = None
        if tar is None:
            url = os.path.join(path, f"{prefix}-{pid:05d}-{len(manifest):05d}.{ext}")
            buf = io.BytesIO()
            tar = tarfile.open(fileobj=buf, mode="w")
            count = size = 0
        for suffix, payload in items:
            info = tarfile.TarInfo(name=f"{key}.{suffix}")
            info.size = len(payload)
            info.mtime = mtime
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tar.addfile(info, io.BytesIO(payload))
            size += len(payload)
        count += 1
    if tar is not None:
        flush()
    return pd.DataFrame(manifest, columns=["url", "nsamples", "nbytes"])


def write_webdataset(
    df: DataFrame,
    path: str,
    prefix: str = "shard",
    maxcount: int = 500,
    maxsize: int = 3_000_000_000,
    mtime: int = 0,
    key_col: str = "__key__",
    sample_col: str | None = "sample",
    compress: bool = False,
) -> DataFrame:
    """Write samples as tar shards; returns the manifest DataFrame.

    Input layout: either ``sample_col`` holding ``map<string,binary>``
    (the reader's native shape) or ``sample_col=None`` with one column per
    member suffix (typed columns are encoded per the suffix table).
    Row order within a partition is preserved into the tars (tar layout is
    the reference's implicit sample order — SURVEY.md §7 (2)).
    """
    from video_data_pipeline_spark.session import ensure_shipped

    ensure_shipped(df.sparkSession)
    os.makedirs(path, exist_ok=True)
    columns = df.columns
    member_cols = [c for c in columns if c not in (key_col,) and not c.startswith("__")]

    def _write_partition(iterator: Iterator[pd.DataFrame]):
        def samples():
            for pdf in iterator:
                for row in pdf.itertuples(index=False):
                    rowd = dict(zip(pdf.columns, row))
                    if sample_col is not None:
                        sample = rowd[sample_col]
                        items = sample.items() if isinstance(sample, dict) else sample
                    else:
                        items = [
                            (c, _encode(c, rowd[c]))
                            for c in member_cols
                            if rowd[c] is not None
                        ]
                    yield rowd[key_col], items

        yield write_tars(samples(), path, prefix, maxcount, maxsize, mtime, compress)

    return df.mapInPandas(_write_partition, schema=MANIFEST_SCHEMA)

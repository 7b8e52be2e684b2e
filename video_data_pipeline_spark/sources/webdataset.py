"""WebDataset tar shard reader.

The reference scans tar shards with generator chains
(``tariterators.py:97-246``: ``tar_file_iterator`` → ``tar_file_expander``
→ ``group_by_keys``). Here :func:`read_webdataset` yields one row per
*sample* with schema

    __key__ string, __url__ string, __member_idx__ bigint,
    sample map<string, binary>

Design for scale:
- Every shard read in this package — tar and CBOR (:mod:`.cbors`) — is
  one mechanism (:func:`_scan_shards`): a frame with one row per shard,
  then ONE ``mapInPandas`` that calls a per-shard read function on each
  row's path and streams its rows out in bounded Arrow batches.
- Reads (:func:`map_shards`, :func:`read_webdataset`) plan the frame on
  the JVM, one row and one partition per shard file
  (``spark.range(n, numPartitions=n)``). Spark schedules shards across
  executors exactly like the reference's shard striping
  (``split_by_node``/``split_by_worker``, shardlists.py:115-142), but
  elastically and with retry, and planning costs no Python round trips.
- :func:`map_shards` exposes that kernel with a caller's per-shard
  function: a shard-local stage (tokenize → pack → merge) is one Python
  pass with no shuffle. :func:`read_webdataset` is the identity function.
- Streaming tar read (mode ``r|``) — memory is bounded by one member, not
  one shard, matching the reference's ``stream.members = []`` release
  (tariterators.py:135); output leaves the worker in bounded Arrow batches.
- Member-level pushdown: ``select_files``/``rename_files`` predicates run
  *before* member bytes are materialized (tariterators.py:101-131) — the
  tar-format analog of parquet column pruning.
- Dynamic columns ride a ``map<string,binary>`` (samples are ragged —
  SURVEY.md §7 "What's hard" (1)); :func:`decode_columns` promotes typed
  columns Catalyst can prune/push, mirroring ``autodecode`` suffix dispatch
  (autodecode.py:145-192).
"""

from __future__ import annotations

import fnmatch
import re
import tarfile
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SAMPLE_SCHEMA = StructType(
    [
        StructField("__key__", StringType()),
        StructField("__url__", StringType()),
        StructField("__member_idx__", LongType()),
        StructField("sample", MapType(StringType(), BinaryType())),
    ]
)

#: file names a directory contributes as shards
_SHARD_GLOBS = ("*.tar", "*.tgz", "*.tar.gz")

_META_RE = re.compile(r"^__[a-z0-9_]+__($|/)")


def base_plus_ext(path: str) -> tuple[str | None, str | None]:
    """Split member path into sample key + full (multi-)extension
    (reference ``base_plus_ext``, tariterators.py:24-38)."""
    m = re.match(r"^((?:.*/|)[^.]+)[.]([^/]*)$", path)
    if not m:
        return None, None
    return m.group(1), m.group(2)


def iter_tar_samples(
    fileobj,
    url: str,
    select_files=None,
    rename_files=None,
):
    """Stream (key, member_idx, {suffix: bytes}) samples from one tar.

    Implements the reference scan semantics (tariterators.py:97-246):
    skip non-regular members and ``__meta__``-style names; optional
    per-member ``rename_files`` (before grouping) and ``select_files``
    (before reading bytes); group *adjacent* members sharing a key prefix;
    duplicate suffix within a sample is an error.
    """
    stream = tarfile.open(fileobj=fileobj, mode="r|*")
    current_key = None
    current: dict[str, bytes] = {}
    idx = 0
    for member in stream:
        if not member.isreg():
            continue
        fname = member.name
        if _META_RE.match(fname.split("/")[-1]):
            continue
        if rename_files:
            fname = rename_files(fname)
        if select_files and not select_files(fname):
            continue
        key, suffix = base_plus_ext(fname)
        if key is None:
            continue
        if key != current_key:
            if current_key is not None and current:
                yield current_key, idx, current
                idx += 1
            current_key, current = key, {}
        if suffix in current:
            raise ValueError(f"duplicate suffix {suffix!r} for key {current_key!r} in {url}")
        data = stream.extractfile(member)
        current[suffix] = data.read() if data is not None else b""
        stream.members = []  # release member metadata (bounded memory)
    if current_key is not None and current:
        yield current_key, idx, current


def _filters_from_options(select: str | None, rename: str | None):
    select_files = None
    rename_files = None
    if select:
        globs = select.split(";")
        select_files = lambda f: any(fnmatch.fnmatch(f, g) for g in globs)  # noqa: E731
    if rename:
        pairs = [p.split("=", 1) for p in rename.split(";")]

        def rename_files(f: str) -> str:
            for new, old in pairs:
                if f.endswith("." + old):
                    return f[: -len(old)] + new
            return f

    return select_files, rename_files


def _read_shard(path: str, select: str | None, rename: str | None, gopen_kw: dict):
    """One tar shard → sample tuples; the read function of every tar scan.

    scheme-dispatch open (gopen.py:316-344 semantics): each executor
    streams its shard straight from file/pipe/http/s3 — the driver never
    proxies bytes."""
    select_files, rename_files = _filters_from_options(select, rename)
    from video_data_pipeline_spark.sources.gopen import gopen

    fh = gopen(path, "rb", **gopen_kw)
    try:
        for key, idx, sample in iter_tar_samples(fh, path, select_files, rename_files):
            yield (key, path, idx, sample)
    finally:
        fh.close()


def expand_paths(
    path_spec: str | list[str], dir_globs: tuple[str, ...] = _SHARD_GLOBS
) -> list[str]:
    """Expand a path spec or list (supports ``::``/braces via shardlists,
    plus filesystem globs and directories); a directory expands to its
    files matching ``dir_globs`` (tar shards by default); empty entries
    expand to nothing."""
    import glob as globmod
    import os

    from video_data_pipeline_spark.sources.shardlists import expand_urls

    from video_data_pipeline_spark.sources.gopen import is_remote

    # only a string spec is a comma list; a list's entries are whole paths
    if isinstance(path_spec, str):
        path_spec = path_spec.split(",")
    out: list[str] = []
    for p in expand_urls([s for s in path_spec if s]):
        if is_remote(p):
            # remote URL: no local glob/dir expansion (brace/`::` expansion
            # already happened in expand_urls)
            out.append(p)
        elif os.path.isdir(p):
            hits = []
            for pat in dir_globs:
                hits.extend(globmod.glob(os.path.join(p, pat)))
            out.extend(sorted(hits))
        elif any(ch in p for ch in "*?["):
            out.extend(sorted(globmod.glob(p)))
        else:
            out.append(p)
    return out


def register(spark: SparkSession) -> None:
    """Ship the package to executors (:func:`ensure_shipped`); no reader
    format needs registering, since every shard read is the shard-scan
    kernel below. Kept because the repository benchmark
    (``perfbench/run.py``) calls it in its set-up."""
    from video_data_pipeline_spark.session import ensure_shipped

    ensure_shipped(spark)


#: bounds on one Arrow batch leaving a shard worker: a batch holds a slice
#: of a shard, never a whole shard
_BATCH_ROWS = 256
_BATCH_BYTES = 8 << 20


def _payload_bytes(row: tuple) -> int:
    """Approximate bytes one output row carries: the length of each
    bytes/str/array value, and the member bytes of a ``sample`` map."""
    n = 0
    for v in row:
        if isinstance(v, dict):
            n += sum(map(len, v.values()))
        elif isinstance(v, (bytes, str, list)):
            n += len(v)
    return n


def _pandas_batches(rows: Iterable[tuple], columns: list[str]) -> Iterator[pd.DataFrame]:
    buf: list[tuple] = []
    nbytes = 0
    for row in rows:
        buf.append(row)
        nbytes += _payload_bytes(row)
        if len(buf) >= _BATCH_ROWS or nbytes >= _BATCH_BYTES:
            yield pd.DataFrame.from_records(buf, columns=columns)
            buf, nbytes = [], 0
    if buf:
        yield pd.DataFrame.from_records(buf, columns=columns)


def _scan_shards(
    spark: SparkSession,
    shards: list[str],
    read: Callable[[str], Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """The one shard-scan kernel: a JVM-planned frame with one row and one
    partition per expanded shard path, then ONE ``mapInPandas`` in which
    ``read(path)`` yields that shard's rows of ``schema`` as tuples in
    field order. Rows leave in bounded Arrow batches (:data:`_BATCH_ROWS`
    rows or about :data:`_BATCH_BYTES` payload bytes)."""
    from video_data_pipeline_spark.session import ensure_shipped

    ensure_shipped(spark)
    columns = schema.fieldNames()

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf.iloc[:, 0]:
                yield from _pandas_batches(read(shards[i]), columns)

    frame = spark.range(0, len(shards), 1, numPartitions=max(len(shards), 1))
    return frame.mapInPandas(_scan, schema=schema)


def map_shards(
    spark: SparkSession,
    paths: str | list[str],
    fn: Callable[[Iterator[tuple]], Iterable[tuple]],
    schema: StructType | str,
    select_files: str | None = None,
    rename_files: str | None = None,
    **gopen_kw: str | None,
) -> DataFrame:
    """Run ``fn`` over every tar shard inside the scan worker.

    The shard frame is planned on the JVM: one row and one partition per
    expanded path (:func:`_scan_shards`). Each shard's samples stream, as
    ``(key, url, member_idx, sample)`` tuples in tar order, through
    ``fn``, which yields rows of ``schema`` as tuples in field order. A
    per-shard stage (tokenize → pack → merge) thereby runs in one Python
    pass with no shuffle.

    ``select_files``/``rename_files`` are the scan pushdowns; ``gopen_kw``
    (``endpoint_url``, ``access_key_id``, ``secret_access_key``) reach
    :func:`gopen` on the executors."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    kw = {k: v for k, v in gopen_kw.items() if v}
    return _scan_shards(
        spark,
        expand_paths(paths),
        lambda path: fn(_read_shard(path, select_files, rename_files, kw)),
        schema,
    )


def read_webdataset(
    spark: SparkSession,
    paths: str | list[str],
    select_files: str | None = None,
    rename_files: str | None = None,
    endpoint_url: str | None = None,
    access_key_id: str | None = None,
    secret_access_key: str | None = None,
) -> DataFrame:
    """Scan tar shards into a sample DataFrame (see module docstring):
    :func:`map_shards` with an identity per-shard function, so one
    partition per shard and ``__member_idx__`` 0..n-1 in tar order.

    ``paths`` may mix schemes (``file``/``pipe:``/``http(s)``/``s3``);
    ``endpoint_url`` (+ optional explicit keys) targets S3-compatible
    stores (MinIO etc.) — in production omit them and executors use the
    standard boto3 credential chain."""
    return map_shards(
        spark,
        paths,
        lambda samples: samples,
        SAMPLE_SCHEMA,
        select_files,
        rename_files,
        endpoint_url=endpoint_url,
        access_key_id=access_key_id,
        secret_access_key=secret_access_key,
    )


#: suffix → Spark cast for :func:`decode_columns` (reference basichandlers,
#: autodecode.py:145-192; media suffixes stay binary + UDF)
_BASIC_DECODERS = {
    "txt": "string",
    "text": "string",
    "transcript": "string",
    "cls": "int",
    "cls2": "int",
    "index": "int",
    "inx": "int",
    "id": "int",
}


def decode_columns(
    df: DataFrame,
    json_schema: str | None = None,
    extra: dict[str, str] | None = None,
    keep_sample: bool = False,
    only: list[str] | None = None,
    suffixes: list[str] | None = None,
    sample_rows: int = 1024,
) -> DataFrame:
    """Promote map entries to typed top-level columns (the ``decode`` stage,
    filters.py:283-302 + autodecode).

    Text/int suffixes cast per the basic-handler table; ``json`` parses via
    ``from_json`` when ``json_schema`` is given (else stays a JSON string);
    unknown suffixes in ``extra`` use the given cast; media suffixes should
    stay in the map as binary for UDF decoding. ``only=`` restricts which
    suffixes are *decoded* — others surface as raw binary (reference
    ``decode(only=...)``/``Decoder.partial``, autodecode.py:482-547).

    Column discovery: pass ``suffixes=`` to skip inference entirely (the
    scale path — zero pre-pass); otherwise suffixes are inferred from the
    first ``sample_rows`` rows only (SURVEY §7: "schema inferred from a
    sampled scan"), NEVER a full-corpus pass. WebDataset shards are
    homogeneous by convention, so a bounded prefix sees every suffix; a
    suffix appearing only deeper into the corpus needs ``suffixes=``.
    """
    if suffixes is not None:
        present = set(suffixes)
    else:
        present = {
            row.k
            for row in df.limit(sample_rows)
            .select(F.explode(F.map_keys("sample")).alias("k"))
            .distinct()
            .collect()
        }
    cols = [F.col("__key__"), F.col("__url__"), F.col("__member_idx__")]
    decoders = dict(_BASIC_DECODERS)
    decoders.update(extra or {})

    def decode_one(raw, suffix: str):
        if suffix in ("json", "jsn"):
            s = raw.cast("string")
            return F.from_json(s, json_schema) if json_schema else s
        if suffix in decoders:
            return raw.cast("string").cast(decoders[suffix])
        return raw

    for suffix in sorted(present):
        raw = F.col("sample")[suffix]
        if only is not None and suffix not in only:
            cols.append(raw.alias(suffix.replace(".", "_")))
        elif suffix.endswith(".gz"):
            # member-level transparent decompression (reference gzfilter +
            # Continue, autodecode.py:430-463): gunzip, strip the .gz from
            # the surfaced name, and CONTINUE decoding by the inner suffix
            from video_data_pipeline_spark.session import ensure_shipped

            ensure_shipped(df.sparkSession)
            base = suffix[: -len(".gz")]
            cols.append(decode_one(_gunzip(raw), base).alias(base.replace(".", "_")))
        else:
            cols.append(decode_one(raw, suffix).alias(suffix.replace(".", "_")))
    if keep_sample:
        cols.append(F.col("sample"))
    return df.select(*cols)


@F.pandas_udf(BinaryType())
def _gunzip(s):
    """Arrow-batched gunzip for ``*.gz`` members (never row-at-a-time)."""
    import gzip

    return s.map(lambda b: None if b is None else gzip.decompress(bytes(b)))


def to_dict(*globs: str, sample_col: str = "sample"):
    """``to_dict`` suffix-pattern projection (filters.py:409-438): keep only
    map entries whose suffix matches any glob. JVM-side ``map_filter`` —
    works on *dynamic* per-row keys (unlike plan-time ``extract_keys``).
    """
    import fnmatch as _fn

    regex = "|".join(f"({_fn.translate(g)})" for g in globs)

    def _op(df: DataFrame) -> DataFrame:
        kept = F.map_filter(
            F.col(sample_col), lambda k, v: k.rlike(f"^(?:{regex})$")
        )
        return df.withColumn(sample_col, kept)

    return _op

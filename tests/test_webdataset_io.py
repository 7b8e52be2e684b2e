"""WebDataset tar reader/writer round-trip tests.

Modeled on the reference's writer tests (tests/test_writer.py:13-119:
write → rescan → compare) and scan-pushdown tests
(tests/test_pipeline.py:96-140: select_files / rename_files).
"""

from __future__ import annotations

import glob
import io
import os
import tarfile

import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark.sinks.webdataset import write_webdataset
from video_data_pipeline_spark.sources.shardlists import expand_urls
from video_data_pipeline_spark.sources.webdataset import (
    SAMPLE_SCHEMA,
    decode_columns,
    iter_tar_samples,
    map_shards,
    read_webdataset,
)

pytestmark = pytest.mark.slow  # r17 fast-tier: see conftest/pytest.ini


def _sample_df(spark, n=10):
    rows = [
        (f"{i:06d}", f"caption {i}", i % 5, bytes([i % 256, 255 - i % 256, 7]))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "`__key__` string, txt string, cls int, jpg binary")


def test_roundtrip_typed_columns(spark, tmp_path):
    out = str(tmp_path / "shards")
    manifest = write_webdataset(
        _sample_df(spark).repartition(1).sortWithinPartitions("__key__"),
        out,
        sample_col=None,
        maxcount=4,
    ).collect()
    assert sum(m.nsamples for m in manifest) == 10
    assert len(manifest) == 3  # 4+4+2

    back = read_webdataset(spark, out)
    assert back.count() == 10
    typed = decode_columns(back)
    row = typed.orderBy("__key__").first()
    assert row.txt == "caption 0" and row.cls == 0 and row.jpg == bytes([0, 255, 7])
    # __url__ carries the shard path; member order preserved within shard
    assert row["__url__"].endswith("-00000-00000.tar")


def test_write_deterministic(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df = _sample_df(spark).repartition(1).sortWithinPartitions("__key__")
    write_webdataset(df, a, sample_col=None).collect()
    write_webdataset(df, b, sample_col=None).collect()
    fa = sorted(glob.glob(a + "/*.tar"))
    fb = sorted(glob.glob(b + "/*.tar"))
    assert [os.path.basename(p) for p in fa] == [os.path.basename(p) for p in fb]
    for pa, pb in zip(fa, fb):
        assert open(pa, "rb").read() == open(pb, "rb").read()


def test_roundtrip_map_column(spark, tmp_path):
    out = str(tmp_path / "m")
    df = _sample_df(spark)
    as_map = df.select(
        "__key__",
        F.create_map(
            F.lit("txt"), F.col("txt").cast("binary"),
            F.lit("cls"), F.col("cls").cast("string").cast("binary"),
            F.lit("jpg"), F.col("jpg"),
        ).alias("sample"),
    )
    write_webdataset(as_map.repartition(1), out).collect()
    back = decode_columns(read_webdataset(spark, out))
    assert back.count() == 10
    assert {r.cls for r in back.select("cls").collect()} == {0, 1, 2, 3, 4}


def test_select_files_pushdown(spark, tmp_path):
    out = str(tmp_path / "s")
    write_webdataset(_sample_df(spark).repartition(1), out, sample_col=None).collect()
    back = read_webdataset(spark, out, select_files="*.txt")
    keys = back.select(F.explode(F.map_keys("sample")).alias("k")).distinct().collect()
    assert {r.k for r in keys} == {"txt"}


def test_rename_files(spark, tmp_path):
    out = str(tmp_path / "r")
    write_webdataset(_sample_df(spark).repartition(1), out, sample_col=None).collect()
    back = read_webdataset(spark, out, rename_files="label=cls")
    keys = back.select(F.explode(F.map_keys("sample")).alias("k")).distinct().collect()
    assert "label" in {r.k for r in keys} and "cls" not in {r.k for r in keys}


def test_scan_contract_one_partition_per_shard(spark, tmp_path):
    """The batch scan is one partition per shard, ``__member_idx__`` runs
    0..n-1 in tar order within each shard, and no shards give an empty
    frame with the sample schema."""
    out = str(tmp_path / "contract")
    write_webdataset(
        _sample_df(spark).repartition(1).sortWithinPartitions("__key__"),
        out,
        sample_col=None,
        maxcount=4,
    ).collect()
    tars = sorted(glob.glob(out + "/*.tar"))
    assert len(tars) == 3

    df = read_webdataset(spark, out)
    assert df.rdd.getNumPartitions() == 3
    rows = df.select(
        F.spark_partition_id().alias("pid"), "__url__", "__key__", "__member_idx__"
    ).collect()
    assert len({(r.pid, r["__url__"]) for r in rows}) == len({r.pid for r in rows}) == 3
    for path in tars:
        with tarfile.open(path) as tar:
            in_tar = list(dict.fromkeys(n.split(".")[0] for n in tar.getnames()))
        mine = sorted((r for r in rows if r["__url__"] == path), key=lambda r: r["__member_idx__"])
        assert [r["__key__"] for r in mine] == in_tar
        assert [r["__member_idx__"] for r in mine] == list(range(len(in_tar)))

    empty = read_webdataset(spark, [])
    assert empty.schema == SAMPLE_SCHEMA
    assert empty.count() == 0


def test_map_shards_runs_per_shard_function(spark, tmp_path):
    """A plan's own per-shard function runs inside the scan worker, with
    the scan pushdowns applied first."""
    out = str(tmp_path / "per_shard")
    write_webdataset(
        _sample_df(spark).repartition(1).sortWithinPartitions("__key__"),
        out,
        sample_col=None,
        maxcount=4,
    ).collect()

    def summary(samples):
        rows = list(samples)
        yield rows[0][1], len(rows), ",".join(sorted({s for r in rows for s in r[3]}))

    got = map_shards(
        spark, out, summary, "url string, n bigint, members string", select_files="*.txt"
    ).collect()
    tars = sorted(glob.glob(out + "/*.tar"))
    assert sorted((r.url, r.n, r.members) for r in got) == [
        (tars[0], 4, "txt"), (tars[1], 4, "txt"), (tars[2], 2, "txt")
    ]


def test_group_adjacent_and_meta_skip():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for name, data in [
            ("a.txt", b"x"),
            ("a.cls", b"1"),
            ("__meta__", b"skip"),
            ("b.txt", b"y"),
            ("b.json", b"{}"),
        ]:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))
    buf.seek(0)
    samples = list(iter_tar_samples(buf, "mem"))
    assert [(k, sorted(s)) for k, _, s in samples] == [
        ("a", ["cls", "txt"]),
        ("b", ["json", "txt"]),
    ]


def test_duplicate_suffix_raises():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for name in ["a.txt", "a.txt"]:
            info = tarfile.TarInfo(name)
            info.size = 1
            tar.addfile(info, io.BytesIO(b"z"))
    buf.seek(0)
    with pytest.raises(ValueError, match="duplicate suffix"):
        list(iter_tar_samples(buf, "mem"))


def test_expand_urls():
    os.environ["WDS_TEST_ROOT"] = "/data"
    assert expand_urls("$WDS_TEST_ROOT/a-{000..002}.tar::b.tar") == [
        "/data/a-000.tar",
        "/data/a-001.tar",
        "/data/a-002.tar",
        "b.tar",
    ]


def test_decode_only_restricts(spark, tmp_path):
    out = str(tmp_path / "only")
    write_webdataset(_sample_df(spark).repartition(1), out, sample_col=None).collect()
    back = read_webdataset(spark, out)
    typed = decode_columns(back, only=["txt"])
    row = typed.orderBy("__key__").first()
    assert row.txt == "caption 0"           # decoded
    assert isinstance(row.cls, (bytes, bytearray))  # left raw binary


def test_decode_inference_is_bounded_and_suffixes_bypasses(spark):
    """Schema inference reads only the first ``sample_rows`` rows (never a
    full-corpus pass): a suffix first appearing beyond the sample window is
    invisible to inference, while explicit ``suffixes=`` needs no scan at
    all and surfaces it."""
    rows = [(f"{i:05d}", "s", 0, {"txt": b"x"}) for i in range(64)]
    rows += [(f"{i:05d}", "s", 0, {"txt": b"y", "late": b"z"}) for i in range(64, 128)]
    df = spark.createDataFrame(
        rows, "__key__ string, __url__ string, __member_idx__ int, sample map<string,binary>"
    ).coalesce(1)
    inferred = decode_columns(df, sample_rows=32)
    assert "late" not in inferred.columns  # bounded window never saw it
    explicit = decode_columns(df, suffixes=["txt", "late"])
    assert {"txt", "late"} <= set(explicit.columns)
    assert explicit.where(F.col("late").isNotNull()).count() == 64


def test_to_dict_map_filter(spark, tmp_path):
    from video_data_pipeline_spark.sources.webdataset import to_dict

    out = str(tmp_path / "td")
    write_webdataset(_sample_df(spark).repartition(1), out, sample_col=None).collect()
    back = read_webdataset(spark, out).transform(to_dict("t*", "jpg"))
    keys = back.select(F.explode(F.map_keys("sample")).alias("k")).distinct().collect()
    assert {r.k for r in keys} == {"txt", "jpg"}


def test_tgz_roundtrip_deterministic(spark, tmp_path):
    a, b = str(tmp_path / "gza"), str(tmp_path / "gzb")
    df = _sample_df(spark).repartition(1).sortWithinPartitions("__key__")
    m = write_webdataset(df, a, sample_col=None, compress=True).collect()
    write_webdataset(df, b, sample_col=None, compress=True).collect()
    fa = sorted(glob.glob(a + "/*.tgz"))
    fb = sorted(glob.glob(b + "/*.tgz"))
    assert fa and len(fa) == len(fb)
    for pa, pb in zip(fa, fb):
        assert open(pa, "rb").read() == open(pb, "rb").read()  # gzip mtime=0
    # compressed shards smaller than raw payload, and readable transparently
    assert sum(x.nbytes for x in m) > 0
    back = decode_columns(read_webdataset(spark, a))
    assert back.count() == 10
    assert back.orderBy("__key__").first().txt == "caption 0"


# ------------------------------------------------- remote schemes (gopen)


def _write_local_shard(spark, tmp_path, n=6):
    out = str(tmp_path / "remote_src")
    write_webdataset(
        _sample_df(spark, n=n).repartition(1).sortWithinPartitions("__key__"),
        out,
        sample_col=None,
    ).collect()
    tars = sorted(glob.glob(out + "/*.tar"))
    assert len(tars) == 1
    return tars[0]


def test_read_via_pipe_scheme(spark, tmp_path):
    """pipe: URL (reference gopen_pipe): the shard streams from a shell
    command's stdout inside each executor."""
    tar_path = _write_local_shard(spark, tmp_path)
    df = read_webdataset(spark, f"pipe:cat {tar_path}")
    assert df.count() == 6
    # select_files pushdown still applies on the piped stream
    only_txt = read_webdataset(spark, f"pipe:cat {tar_path}", select_files="*.txt")
    keys = only_txt.select(F.explode(F.map_keys("sample")).alias("k")).distinct().collect()
    assert {r.k for r in keys} == {"txt"}


def test_read_via_http_scheme(spark, tmp_path):
    """http:// URL (reference gopen_curl path): executors stream the shard
    over HTTP."""
    import http.server
    import threading

    tar_path = _write_local_shard(spark, tmp_path)
    directory = os.path.dirname(tar_path)
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=directory, **kw
    )
    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{port}/{os.path.basename(tar_path)}"
        df = read_webdataset(spark, url)
        rows = df.orderBy("__key__").collect()
        assert len(rows) == 6
        assert rows[0].sample["txt"] == b"caption 0"
        assert rows[0]["__url__"] == url
    finally:
        httpd.shutdown()


def test_read_via_s3_scheme(spark, tmp_path):
    """s3:// URL against an S3-compatible endpoint (moto server): executors
    build their own boto3 clients from the endpoint_url option — no driver
    proxying, matching reference gopen_s3/object-store reads."""
    import boto3
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    host, port = server.get_host_and_port()
    endpoint = f"http://{host}:{port}"
    creds = dict(access_key_id="testing", secret_access_key="testing")
    try:
        tar_path = _write_local_shard(spark, tmp_path)
        client = boto3.client(
            "s3",
            endpoint_url=endpoint,
            aws_access_key_id="testing",
            aws_secret_access_key="testing",
            region_name="us-east-1",
        )
        client.create_bucket(Bucket="shards")
        with open(tar_path, "rb") as fh:
            client.put_object(Bucket="shards", Key="train/part-0.tar", Body=fh.read())
        df = read_webdataset(
            spark, "s3://shards/train/part-0.tar", endpoint_url=endpoint, **creds
        )
        rows = df.orderBy("__key__").collect()
        assert len(rows) == 6
        assert rows[0].sample["txt"] == b"caption 0"
        # pushdown preserved over s3
        only = read_webdataset(
            spark,
            "s3://shards/train/part-0.tar",
            select_files="*.cls",
            endpoint_url=endpoint,
            **creds,
        )
        keys = only.select(F.explode(F.map_keys("sample")).alias("k")).distinct().collect()
        assert {r.k for r in keys} == {"cls"}
    finally:
        server.stop()


def test_gopen_scheme_table():
    from video_data_pipeline_spark.sources.gopen import gopen, register_scheme, url_scheme

    assert url_scheme("pipe:cat x.tar") == "pipe"
    assert url_scheme("s3://b/k.tar") == "s3"
    assert url_scheme("/abs/path.tar") == "file"
    with pytest.raises(ValueError, match="no gopen handler"):
        gopen("zzz://bucket/x.tar")
    register_scheme("zzz", lambda url, mode, **kw: io.BytesIO(b"fake"))
    assert gopen("zzz://bucket/x.tar").read() == b"fake"


def test_gopen_cli_schemes_roundtrip(tmp_path, monkeypatch):
    """gs/ais handlers drive their CLI through the SIGPIPE-tolerant pipe
    classes; stub `gsutil`/`ais` executables prove the full open→read and
    write→close plumbing without cloud credentials."""
    import os as _os
    import stat

    from video_data_pipeline_spark.sources.gopen import gopen

    bindir = tmp_path / "bin"
    bindir.mkdir()
    store = tmp_path / "store"
    store.mkdir()
    # stub gsutil: `gsutil cat URL` reads store/<basename>; `gsutil cp - URL` writes it
    (bindir / "gsutil").write_text(
        "#!/bin/sh\n"
        f'if [ "$1" = cat ]; then exec cat "{store}/$(basename "$2")"; fi\n'
        f'if [ "$1" = cp ]; then exec cat > "{store}/$(basename "$3")"; fi\n'
        "exit 64\n"
    )
    # stub ais: `ais get URL -` / `ais put - URL`
    (bindir / "ais").write_text(
        "#!/bin/sh\n"
        f'if [ "$1" = get ]; then exec cat "{store}/$(basename "$2")"; fi\n'
        f'if [ "$1" = put ]; then exec cat > "{store}/$(basename "$3")"; fi\n'
        "exit 64\n"
    )
    for f in bindir.iterdir():
        f.chmod(f.stat().st_mode | stat.S_IEXEC)
    monkeypatch.setenv("PATH", f"{bindir}:{_os.environ['PATH']}")

    with gopen("gs://bucket/shard1.tar", "wb") as w:
        w.write(b"gs-bytes")
    assert gopen("gs://bucket/shard1.tar").read() == b"gs-bytes"
    with gopen("ais://bucket/shard2.tar", "wb") as w:
        w.write(b"ais-bytes")
    assert gopen("ais://bucket/shard2.tar").read() == b"ais-bytes"


def test_gopen_curl_scheme_real_binary(tmp_path):
    """sftp/ftps/scp route through curl; exercise the exact command shape
    against curl's file:// support (read path) — a real curl subprocess,
    no server needed."""
    import shutil

    import pytest as _pytest

    from video_data_pipeline_spark.sources.gopen import _gopen_curl

    if shutil.which("curl") is None:
        _pytest.skip("curl not installed")
    p = tmp_path / "payload.bin"
    p.write_bytes(b"via-curl")
    assert _gopen_curl(f"file://{p}", "rb").read() == b"via-curl"


def test_member_level_gz_decode(spark, tmp_path):
    """Reference gzfilter/Continue (autodecode.py:430-463): a `txt.gz`
    member decompresses transparently and continues decoding as `txt`,
    surfacing under the stripped name."""
    import gzip

    out = str(tmp_path / "gz_members")
    rows = [
        (f"{i:05d}", {"txt.gz": gzip.compress(f"zipped {i}".encode()),
                      "cls": str(i).encode()})
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "`__key__` string, sample map<string,binary>")
    write_webdataset(df.repartition(1).sortWithinPartitions("__key__"), out).collect()
    back = decode_columns(read_webdataset(spark, out))
    assert "txt" in back.columns and "txt_gz" not in back.columns
    got = {r["__key__"]: (r.txt, r.cls) for r in back.collect()}
    assert got == {f"{i:05d}": (f"zipped {i}", i) for i in range(4)}


def test_streaming_shard_ingest_incremental(spark, tmp_path):
    """readStream over a shard directory: first availableNow run drains the
    existing shards; after a NEW shard lands, a restart from the same
    checkpoint ingests ONLY the new one (the file source's checkpointed
    file log)."""
    from video_data_pipeline_spark.sources.webdataset import read_webdataset_stream

    shard_dir = str(tmp_path / "stream_shards")
    ckpt = str(tmp_path / "ckpt")
    write_webdataset(
        _sample_df(spark, n=6).repartition(1).sortWithinPartitions("__key__"),
        shard_dir,
        prefix="batch0",
        maxcount=3,
        sample_col=None,
    ).collect()

    def drain(name):
        got: set[str] = set()

        def sink(batch_df, _bid):
            got.update(r["__key__"] for r in batch_df.collect())

        q = (
            read_webdataset_stream(spark, shard_dir)
            .writeStream.foreachBatch(sink)
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    first = drain("wds_stream_1")
    assert first == {f"{i:06d}" for i in range(6)}

    # a new shard arrives; same checkpoint -> only its samples are new
    extra = spark.createDataFrame(
        [("x00001", "late caption", 9, b"\x01")],
        "`__key__` string, txt string, cls int, jpg binary",
    )
    write_webdataset(extra.repartition(1), shard_dir, prefix="batch1", sample_col=None).collect()
    second = drain("wds_stream_2")
    assert second == {"x00001"}


def test_streaming_rate_limit(spark, tmp_path):
    """max_shards_per_batch caps admission per microbatch (it is the file
    source's maxFilesPerTrigger): a 6-shard backlog drains in >=3 batches of
    <=2 shards each, with every sample ingested exactly once."""
    from video_data_pipeline_spark.sources.webdataset import read_webdataset_stream

    shard_dir = str(tmp_path / "rl_shards")
    write_webdataset(
        _sample_df(spark, n=6).repartition(1).sortWithinPartitions("__key__"),
        shard_dir,
        maxcount=1,
        sample_col=None,
    ).collect()

    batches: list[set[str]] = []

    def sink(batch_df, _bid):
        rows = {r["__key__"] for r in batch_df.collect()}
        if rows:
            batches.append(rows)

    import time

    q = (
        read_webdataset_stream(spark, shard_dir, max_shards_per_batch=2)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if sum(len(b) for b in batches) >= 6:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    all_keys = set().union(*batches) if batches else set()
    assert all_keys == {f"{i:06d}" for i in range(6)}
    assert len(batches) >= 3
    assert all(len(b) <= 2 for b in batches)


def test_streaming_decode_with_explicit_suffixes(spark, tmp_path):
    """Streaming DataFrames can't run the sampled suffix inference (no
    .limit/collect on a stream) — the explicit ``suffixes=`` zero-pre-pass
    path composes with the shard stream end-to-end."""
    from video_data_pipeline_spark.sources.webdataset import read_webdataset_stream

    shard_dir = str(tmp_path / "dec_shards")
    write_webdataset(
        _sample_df(spark, n=5).repartition(1).sortWithinPartitions("__key__"),
        shard_dir,
        sample_col=None,
    ).collect()

    typed = decode_columns(
        read_webdataset_stream(spark, shard_dir), suffixes=["txt", "cls"]
    )
    assert typed.isStreaming
    got: list = []
    q = (
        typed.writeStream.foreachBatch(
            lambda b, _i: got.extend((r["__key__"], r.txt, r.cls) for r in b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "dec_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == [(f"{i:06d}", f"caption {i}", i % 5) for i in range(5)]


def _drain_stream(stream, ckpt: str) -> list[list[tuple]]:
    """Run ``stream`` once under ``availableNow`` from checkpoint ``ckpt``;
    return each non-empty microbatch's ``(__key__, __url__)`` rows."""
    batches: list[list[tuple]] = []

    def sink(batch_df, _bid):
        rows = [(r["__key__"], r["__url__"]) for r in batch_df.collect()]
        if rows:
            batches.append(rows)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None
    return batches


def test_streaming_capped_backlog_restarts(spark, tmp_path):
    """A capped backlog drains exactly once under ``availableNow`` in
    microbatches of at most ``max_shards_per_batch`` shards; a restart
    from the same checkpoint ingests nothing, and a shard written later
    is ingested alone."""
    from video_data_pipeline_spark.sources.webdataset import read_webdataset_stream

    shard_dir = str(tmp_path / "capped_shards")
    ckpt = str(tmp_path / "capped_ckpt")
    write_webdataset(
        _sample_df(spark, n=6).repartition(1).sortWithinPartitions("__key__"),
        shard_dir,
        maxcount=1,
        sample_col=None,
    ).collect()

    def drain():
        stream = read_webdataset_stream(spark, shard_dir, max_shards_per_batch=2)
        return _drain_stream(stream, ckpt)

    first = drain()
    keys = [k for b in first for k, _ in b]
    assert sorted(keys) == [f"{i:06d}" for i in range(6)]
    assert all(len({url for _, url in b}) <= 2 for b in first)

    assert drain() == []

    extra = spark.createDataFrame(
        [("x00001", "late caption", 9, b"\x01")],
        "`__key__` string, txt string, cls int, jpg binary",
    )
    write_webdataset(extra.repartition(1), shard_dir, prefix="late", sample_col=None).collect()
    assert [k for b in drain() for k, _ in b] == ["x00001"]


def test_streaming_lists_without_reading_shard_bytes(spark, tmp_path):
    """The stream lists shard paths and never reads a shard's bytes on the
    JVM: with ``binaryFile.maxLength`` below every shard's size (a content
    read would raise) it still returns every sample, and the same rows as
    ``read_webdataset``, from a directory whose name has a space."""
    from video_data_pipeline_spark.sources.webdataset import read_webdataset_stream

    shard_dir = str(tmp_path / "shards with space")
    write_webdataset(
        _sample_df(spark, n=6).repartition(1).sortWithinPartitions("__key__"),
        shard_dir,
        maxcount=2,
        sample_col=None,
    ).collect()
    assert min(os.path.getsize(p) for p in glob.glob(os.path.join(shard_dir, "*.tar"))) > 1024

    conf = "spark.sql.sources.binaryFile.maxLength"
    spark.conf.set(conf, "1024")
    try:
        batches = _drain_stream(read_webdataset_stream(spark, shard_dir), str(tmp_path / "ckpt"))
    finally:
        spark.conf.unset(conf)
    streamed = sorted(row for b in batches for row in b)
    batch = sorted((r["__key__"], r["__url__"]) for r in read_webdataset(spark, shard_dir).collect())
    assert len(streamed) == 6
    assert streamed == batch


def test_streaming_from_foreign_cwd(tmp_path):
    """The stream needs no repo on the workers' path: a Spark application
    started outside the repo, without the repo on ``PYTHONPATH``, that puts
    the repo on its own ``sys.path`` drains a one-shard stream."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import io, sys, tarfile
sys.path.insert(0, {repo!r})
from video_data_pipeline_spark.session import get_spark
from video_data_pipeline_spark.sources.webdataset import read_webdataset_stream

spark = get_spark("foreign_cwd", master="local[2]", shuffle_partitions=2)
with tarfile.open("shards/s0.tar", "w") as tf:
    info = tarfile.TarInfo("k0.txt")
    info.size = 2
    tf.addfile(info, io.BytesIO(b"hi"))
got = []
q = (
    read_webdataset_stream(spark, "shards")
    .writeStream.foreachBatch(lambda b, _i: got.extend(r["__key__"] for r in b.collect()))
    .option("checkpointLocation", "ckpt")
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination(120)
print("KEYS", got)
spark.stop()
"""
    (tmp_path / "shards").mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "KEYS ['k0']" in res.stdout, res.stderr[-3000:]


@pytest.mark.parametrize(
    "paths",
    [
        ["/data/a", "/data/b"],
        "/data/a::/data/b",
        "/data/shard-{000..009}.tar",
        "pipe:cat /data/a.tar",
        "s3://bucket/shards",
    ],
    ids=["list", "concat", "brace-range", "pipe", "remote"],
)
def test_streaming_rejects_unlistable_paths(spark, paths):
    """The stream watches one local directory or glob; fixed URL lists
    and specs the file source cannot list point to ``read_webdataset``."""
    from video_data_pipeline_spark.sources.webdataset import read_webdataset_stream

    with pytest.raises(ValueError, match="read_webdataset"):
        read_webdataset_stream(spark, paths)


def test_gopen_pipe_read_timeout_kills_hung_command():
    """VERDICT r5 #4 (reference gopen.py:48 Pipe timeout): a command that
    produces no bytes within the timeout must raise, not hang the
    executor task; the subprocess is killed, not leaked."""
    import time

    import pytest

    from video_data_pipeline_spark.sources.gopen import PipeTimeoutError, gopen

    r = gopen("pipe:sleep 30", "rb", timeout=0.5)
    t0 = time.time()
    with pytest.raises(PipeTimeoutError, match="no output"):
        r.read(10)
    assert time.time() - t0 < 5
    assert r._proc.poll() is not None  # reaped, not leaked


def test_gopen_pipe_write_timeout_on_nondraining_consumer():
    """A consumer that stops draining blocks the writer at the 64 KiB pipe
    buffer; the write must raise within the timeout."""
    import time

    import pytest

    from video_data_pipeline_spark.sources.gopen import PipeTimeoutError, gopen

    w = gopen("pipe:sleep 30", "wb", timeout=0.5)
    t0 = time.time()
    with pytest.raises(PipeTimeoutError, match="accepted no input"):
        # > pipe buffer (64 KiB + consumer-side slack): guaranteed to block
        for _ in range(40):
            w.write(b"x" * 65536)
    assert time.time() - t0 < 10
    assert w._proc.poll() is not None


def test_gopen_pipe_timeout_not_tripped_by_slow_but_alive_producer():
    """The budget is per-read stall, not total transfer time: a producer
    slower than the timeout per CHUNK fails, but one that emits within
    every timeout window streams fine."""
    from video_data_pipeline_spark.sources.gopen import gopen

    cmd = "pipe:sh -c 'printf a; sleep 0.3; printf b; sleep 0.3; printf c'"
    with gopen(cmd, "rb", timeout=2.0) as r:
        assert r.read() == b"abc"


def test_gopen_pipe_ok_status_override():
    """Reference Pipe ignore_status parity (gopen.py:48): callers can
    declare extra exit codes as success per open."""
    import pytest

    from video_data_pipeline_spark.sources.gopen import gopen

    # exit 3 fails by default...
    with pytest.raises(RuntimeError, match=r"failed \(3\)"):
        r = gopen("pipe:sh -c 'printf hi; exit 3'", "rb")
        assert r.read() == b"hi"
        r.close()
    # ...and succeeds when declared OK
    r = gopen("pipe:sh -c 'printf hi; exit 3'", "rb", ok_status=(0, 141, 3))
    assert r.read() == b"hi"
    r.close()

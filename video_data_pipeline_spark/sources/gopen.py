"""Scheme-dispatch stream opener (reference ``gopen.py:316-344``).

The reference opens every shard URL through a ``gopen_schemes`` table
(pipe/http/https/s3/gs/ais/...). Same shape here, Spark-flavored: the
shard scan's per-shard read function (tar and CBOR;
``sources.webdataset._scan_shards``) calls :func:`gopen` inside the scan
task, so each *executor* opens its own shards directly against the
object store — the driver never proxies bytes. Handlers must be
constructible inside Python worker processes (no driver-process state):
s3 clients are built lazily per-process from env/arguments, once per
endpoint, region and explicit keys.

Supported out of the box:

- ``file`` / bare paths — local ``open()``
- ``pipe:cmd args`` — the command's stdout/stdin (reference ``gopen_pipe``);
  exit codes 0 and 141 (SIGPIPE from early close) are success
- ``http`` / ``https`` — ``urllib.request`` streaming response
- ``s3`` — boto3 streaming body (``AWS_ENDPOINT_URL``/``endpoint_url``
  supported for S3-compatible stores); writes buffer and ``put_object``
  on close

- ``gs`` — ``gsutil cat`` / ``gsutil cp -`` subprocess pipes (reference
  ``gopen_gsutil``, gopen.py:248-274)
- ``ais`` — ``ais get .. -`` / ``ais put - ..`` pipes (reference
  ``gopen_ais``, gopen.py:277-303)
- ``sftp`` / ``ftps`` / ``scp`` — ``curl`` pipes, read and PUT-write
  (reference routes these through ``gopen_curl``, gopen.py:196-222)

The CLI-backed handlers only construct their command pipe at open() —
no import-time dependency — so executors that lack the binary fail at
first read with the command line in the error. :func:`register_scheme`
lets deployments override any of these (the reference's
``gopen_schemes[proto] = handler``).
"""

from __future__ import annotations

import io
import os
import select
import subprocess
import urllib.request
from collections.abc import Callable

#: exit statuses treated as success for pipe reads (reference Pipe
#: ignore_status: 141 = 128+SIGPIPE when the reader closes early)
_PIPE_OK = (0, 141)

#: per-I/O-call stall budget, seconds (reference Pipe timeout,
#: gopen.py:48: 7200.0). A hung subprocess (dead remote, wedged CLI)
#: must FAIL the Spark task — which then retries per spark.task.maxFailures
#: — rather than occupy an executor slot until Spark's own much coarser
#: speculation/heartbeat machinery notices.
_PIPE_TIMEOUT = 7200.0


class PipeTimeoutError(TimeoutError):
    """A pipe: subprocess produced/accepted no bytes within the timeout."""


class _PipeReader(io.RawIOBase):
    """stdout of a shell command as a readable stream.

    Every read waits at most ``timeout`` seconds for the FIRST byte to
    become available (select on the pipe fd, then a non-blocking
    ``os.read`` — so a slow-but-alive producer never trips it, only a
    stalled one); on stall the subprocess is killed and
    :class:`PipeTimeoutError` raised. close() reaps the process and
    raises on real (non-SIGPIPE) failures."""

    def __init__(
        self,
        cmd: str,
        timeout: float = _PIPE_TIMEOUT,
        ok_status: tuple[int, ...] = _PIPE_OK,
    ):
        self._proc = subprocess.Popen(  # noqa: S602 — pipe: URLs are explicit user commands
            cmd, shell=True, stdout=subprocess.PIPE
        )
        self._cmd = cmd
        self._timeout = timeout
        self._ok_status = ok_status

    def readable(self) -> bool:
        return True

    def _await_bytes(self) -> None:
        ready, _, _ = select.select([self._proc.stdout], [], [], self._timeout)
        if not ready:
            self._proc.kill()
            self._proc.wait()
            raise PipeTimeoutError(
                f"pipe command produced no output for {self._timeout}s: {self._cmd}"
            )

    def _read_chunk(self, size: int) -> bytes:
        self._await_bytes()
        return os.read(self._proc.stdout.fileno(), size)

    def read(self, size: int = -1) -> bytes:
        if size is None or size < 0:
            chunks = []
            while True:
                c = self._read_chunk(1 << 20)
                if not c:
                    return b"".join(chunks)
                chunks.append(c)
        return self._read_chunk(size)

    def readinto(self, b) -> int:
        data = self._read_chunk(len(b))
        b[: len(data)] = data
        return len(data)

    def close(self) -> None:
        if self.closed:
            return
        self._proc.stdout.close()
        try:
            status = self._proc.wait(timeout=self._timeout)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
            super().close()
            raise PipeTimeoutError(
                f"pipe command did not exit within {self._timeout}s: {self._cmd}"
            ) from None
        super().close()
        if status not in self._ok_status:
            raise RuntimeError(f"pipe command failed ({status}): {self._cmd}")


class _PipeWriter(io.RawIOBase):
    """stdin of a shell command as a writable stream, with the same
    stall-kill-raise timeout discipline as :class:`_PipeReader` (a consumer
    that stops draining blocks the writer once the 64 KiB pipe buffer
    fills)."""

    def __init__(
        self,
        cmd: str,
        timeout: float = _PIPE_TIMEOUT,
        ok_status: tuple[int, ...] = _PIPE_OK,
    ):
        self._proc = subprocess.Popen(  # noqa: S602
            cmd, shell=True, stdin=subprocess.PIPE
        )
        self._cmd = cmd
        self._timeout = timeout
        self._ok_status = ok_status

    def writable(self) -> bool:
        return True

    def write(self, b) -> int:
        _, ready, _ = select.select([], [self._proc.stdin], [], self._timeout)
        if not ready:
            self._proc.kill()
            self._proc.wait()
            raise PipeTimeoutError(
                f"pipe command accepted no input for {self._timeout}s: {self._cmd}"
            )
        # partial writes are fine: RawIOBase callers (BufferedWriter) retry
        return os.write(self._proc.stdin.fileno(), bytes(b))

    def close(self) -> None:
        if self.closed:
            return
        self._proc.stdin.close()
        try:
            status = self._proc.wait(timeout=self._timeout)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
            super().close()
            raise PipeTimeoutError(
                f"pipe command did not exit within {self._timeout}s: {self._cmd}"
            ) from None
        super().close()
        if status not in self._ok_status:
            raise RuntimeError(f"pipe command failed ({status}): {self._cmd}")


class _S3Body(io.RawIOBase):
    """boto3 StreamingBody with a file-like read() (tarfile-compatible)."""

    def __init__(self, body):
        self._body = body

    def readable(self) -> bool:
        return True

    def read(self, size: int = -1) -> bytes:
        return self._body.read(None if size is None or size < 0 else size)

    def close(self) -> None:
        if not self.closed:
            self._body.close()
        super().close()


class _S3Upload(io.BytesIO):
    """Buffer writes; one put_object on close (tar shards are written whole
    by a single task, matching the reference TarWriter-per-shard model)."""

    def __init__(self, client, bucket: str, key: str):
        super().__init__()
        self._client, self._bucket, self._key = client, bucket, key

    def close(self) -> None:
        if not self.closed:
            self._client.put_object(
                Bucket=self._bucket, Key=self._key, Body=self.getvalue()
            )
        super().close()


#: boto3 clients of this process, keyed on (endpoint, region, explicit
#: keys). Every s3:// media fetch and shard open asks for one, and building
#: one walks boto3's credential chain: with no credentials configured that
#: ends in the instance-metadata probe, which waits out its timeouts.
_S3_CLIENTS: dict[tuple, object] = {}


def _s3_client(
    endpoint_url: str | None = None,
    access_key_id: str | None = None,
    secret_access_key: str | None = None,
):
    endpoint_url = (
        endpoint_url
        or os.environ.get("AWS_ENDPOINT_URL_S3")
        or os.environ.get("AWS_ENDPOINT_URL")
        or None
    )
    region = os.environ.get("AWS_DEFAULT_REGION", "us-east-1")
    key = (endpoint_url, region, access_key_id, secret_access_key)
    client = _S3_CLIENTS.get(key)
    if client is None:
        import boto3  # lazy: built per worker process, never pickled

        client = _S3_CLIENTS[key] = boto3.client(
            "s3",
            endpoint_url=endpoint_url,
            # explicit keys are the dev/S3-compatible path (MinIO, moto); in
            # production leave None and boto3 resolves instance role / env /
            # config chain as usual
            aws_access_key_id=access_key_id,
            aws_secret_access_key=secret_access_key,
            region_name=region,
        )
    return client


def _gopen_file(url: str, mode: str, **kw):
    path = url[len("file://") :] if url.startswith("file://") else url
    return open(path, mode)  # noqa: SIM115 — caller closes


def _gopen_pipe(url: str, mode: str, **kw):
    cmd = url[len("pipe:") :]
    t = kw.get("timeout", _PIPE_TIMEOUT)
    ok = tuple(kw.get("ok_status", _PIPE_OK))  # reference Pipe ignore_status
    if mode.startswith("r"):
        return _PipeReader(cmd, timeout=t, ok_status=ok)
    if mode.startswith("w"):
        return _PipeWriter(cmd, timeout=t, ok_status=ok)
    raise ValueError(f"pipe: unsupported mode {mode!r}")


def _gopen_http(url: str, mode: str, **kw):
    if not mode.startswith("r"):
        raise ValueError(f"http(s) is read-only, got mode {mode!r}")
    # bounded by default: a hung shard endpoint must fail the task (or let
    # fetch_media fall through to its next candidate), not stall it forever
    return urllib.request.urlopen(  # noqa: S310 — scheme checked by dispatch
        url, timeout=kw.get("timeout", 60)
    )


def _gopen_s3(
    url: str,
    mode: str,
    endpoint_url: str | None = None,
    access_key_id: str | None = None,
    secret_access_key: str | None = None,
    **kw,
):
    bucket, _, key = url[len("s3://") :].partition("/")
    client = _s3_client(endpoint_url, access_key_id, secret_access_key)
    if mode.startswith("r"):
        return _S3Body(client.get_object(Bucket=bucket, Key=key)["Body"])
    if mode.startswith("w"):
        return _S3Upload(client, bucket, key)
    raise ValueError(f"s3: unsupported mode {mode!r}")


def _shell_quote(url: str) -> str:
    import shlex

    return shlex.quote(url)


def _gopen_gs(url: str, mode: str, **kw):
    """Google Cloud Storage via the gsutil CLI (reference gopen.py:248-274;
    pipe semantics identical to ``pipe:`` URLs, SIGPIPE-tolerant)."""
    q = _shell_quote(url)
    t = kw.get("timeout", _PIPE_TIMEOUT)
    if mode.startswith("r"):
        return _PipeReader(f"gsutil cat {q}", timeout=t)
    if mode.startswith("w"):
        return _PipeWriter(f"gsutil cp - {q}", timeout=t)
    raise ValueError(f"gs: unsupported mode {mode!r}")


def _gopen_ais(url: str, mode: str, **kw):
    """AIStore via the ais CLI (reference gopen.py:277-303)."""
    q = _shell_quote(url)
    t = kw.get("timeout", _PIPE_TIMEOUT)
    if mode.startswith("r"):
        return _PipeReader(f"ais get {q} -", timeout=t)
    if mode.startswith("w"):
        return _PipeWriter(f"ais put - {q}", timeout=t)
    raise ValueError(f"ais: unsupported mode {mode!r}")


def _gopen_curl(url: str, mode: str, **kw):
    """curl-backed transfer for sftp/ftps/scp (reference gopen.py:196-222:
    ``curl -f -s -L`` read, ``curl -f -s -X PUT -L -T -`` write)."""
    q = _shell_quote(url)
    t = kw.get("timeout", _PIPE_TIMEOUT)
    if mode.startswith("r"):
        return _PipeReader(f"curl -f -s -L {q}", timeout=t)
    if mode.startswith("w"):
        return _PipeWriter(f"curl -f -s -X PUT -L -T - {q}", timeout=t)
    raise ValueError(f"curl: unsupported mode {mode!r}")


GOPEN_SCHEMES: dict[str, Callable] = {
    "file": _gopen_file,
    "pipe": _gopen_pipe,
    "http": _gopen_http,
    "https": _gopen_http,
    "s3": _gopen_s3,
    "gs": _gopen_gs,
    "ais": _gopen_ais,
    "sftp": _gopen_curl,
    "ftps": _gopen_curl,
    "scp": _gopen_curl,
}


def register_scheme(scheme: str, handler: Callable) -> None:
    """Add/override a URL scheme handler (reference ``gopen_schemes``)."""
    GOPEN_SCHEMES[scheme] = handler


def url_scheme(url: str) -> str:
    if url.startswith("pipe:"):
        return "pipe"
    head, sep, _ = url.partition("://")
    return head if sep else "file"


def is_remote(url: str) -> bool:
    return url_scheme(url) != "file"


def gopen(url: str, mode: str = "rb", **kw):
    """Open ``url`` as a binary stream per its scheme (reference
    ``gopen()``, gopen.py:346-390). Unknown schemes raise ``ValueError``
    with the reference's "no gopen handler" wording."""
    scheme = url_scheme(url)
    handler = GOPEN_SCHEMES.get(scheme)
    if handler is None:
        raise ValueError(f"{url}: no gopen handler defined for {scheme!r}")
    return handler(url, mode, **kw)

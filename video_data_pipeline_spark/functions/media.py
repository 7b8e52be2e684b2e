"""Media UDF library: fetch / decode / frame-sample / resize plumbing.

The reference's media work (pack/tools.py, pack/samplers.py, pack/dataset.py)
shells out to ffmpeg/ffprobe and uses decord/cv2/PIL on executor-local temp
files. Those libraries are not in this container, so the *decode kernels*
are stubbed with deterministic fakes (clearly marked), while everything
Spark-side — schemas, Arrow batch flow, partitioning, UDF signatures — is
real and tested. Swapping a stub for the real kernel is a one-function
change on the executor path.

All UDFs are Arrow-batched (``mapInPandas``/``pandas_udf``), never
row-at-a-time Python.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd

def fake_video_meta(data: bytes) -> tuple[int, float]:
    """Deterministic stand-in for decord ``VideoReader`` metadata
    (pack/dataset.py:10-122: frame count, avg fps). Derives stable values
    from the content hash so tests are reproducible."""
    h = hashlib.md5(data).digest()
    total_frames = 64 + h[0]  # 64..319
    fps = 10.0 + (h[1] % 20)  # 10..29
    return total_frames, fps


def fake_decode_frame(data: bytes, frame_idx: int, size: int = 8) -> bytes:
    """STUB for video frame decode (decord/ffmpeg, pack/tools.py:101-140).

    Returns a deterministic pseudo-JPEG: an 8-byte header + md5 of
    (content, frame) — structurally a binary payload of the right shape for
    the sink/tokenize path. Replace with decord/ffmpeg extraction when the
    libs exist.
    """
    tag = struct.pack("<4sI", b"FAKE", frame_idx)
    return tag + hashlib.md5(data + frame_idx.to_bytes(4, "little")).digest()[:size]


def uniform_frame_indices(total_frames: int, fps: float, n: int = 16) -> list[int]:
    """``videoItem.get_index`` (pack/dataset.py:82-100): n segment-midpoint
    frame indices over [0, duration], clamped to total-1."""
    duration = total_frames / fps
    seg = duration / n
    return [
        min(int((seg / 2 + seg * i) * fps), total_frames - 1) for i in range(n)
    ]


def uniform_frames(data: bytes, n_frames: int = 16) -> list[bytes]:
    """``uniformSampler`` (pack/samplers.py:102-119) on one video: the jpg
    bytes of its ``n_frames`` segment-midpoint frames, in frame order."""
    total, fps = fake_video_meta(data)
    return [
        fake_decode_frame(data, i) for i in uniform_frame_indices(total, fps, n_frames)
    ]


#: schemes a *data-derived* path (a value read out of a dataset row) may
#: open. Deliberately excludes ``pipe:`` — the gopen table is for operator-
#: authored shard URLs, where pipe: is an explicit user command; letting a
#: metadata record route through it would hand row values to `sh -c` on
#: executors. The reference only ever opens media via megfile s3/local
#: (pack/tools.py get_cache_video/load_image), never a shell.
DATA_SAFE_SCHEMES = frozenset({"file", "http", "https", "s3"})


def fetch_media(
    path_main: str, path_fallback: str | None, hermetic: bool = False
) -> bytes:
    """Media fetch with the reference's two-probe path fallback
    (``get_cache_video`` pack/tools.py:224-241; ``load_image``
    pack/tools.py:21-37): each candidate path is opened through the gopen
    scheme table (sources/gopen.py), first readable one wins — restricted
    to :data:`DATA_SAFE_SCHEMES` because these paths come from data rows.

    When both probes fail the reference raises ``FileNotFoundError`` and so
    do we; only under an explicit ``hermetic=True`` (offline tests — no
    object store in this container) do unreachable paths fall back to
    deterministic content derived from the path."""
    from video_data_pipeline_spark.sources.gopen import gopen, url_scheme

    last_err: Exception | None = None
    for candidate in (path_main, path_fallback):
        if not candidate:
            continue
        scheme = url_scheme(candidate)
        if scheme not in DATA_SAFE_SCHEMES:
            last_err = ValueError(
                f"scheme {scheme!r} not allowed for data-derived media path: "
                f"{candidate!r}"
            )
            continue
        try:
            fh = gopen(candidate, "rb")
            try:
                return fh.read()
            finally:
                fh.close()
        except Exception as exc:  # noqa: BLE001 — probe semantics: try the next path
            last_err = exc
            continue
    if not hermetic:
        raise FileNotFoundError(
            f"no readable media at {path_main!r} / {path_fallback!r}"
        ) from last_err
    src = path_main or path_fallback or ""
    return hashlib.md5(src.encode()).digest() * 4  # 64 deterministic bytes


#: Spark's canonical image struct (mirrors the built-in `image` source)
IMAGE_SCHEMA = (
    "height int, width int, nChannels int, mode string, data binary"
)


def fake_decode_image(data: bytes) -> tuple[int, int, int, str, bytes]:
    """STUB for image decode (PIL/cv2, autodecode.py:238-374 ImageHandler):
    derives deterministic dimensions from the content hash and returns the
    Spark image-source struct shape; real impl returns actual pixels."""
    h = hashlib.md5(data).digest()
    height = 64 + h[2] % 192
    width = 64 + h[3] % 192
    return height, width, 3, "rgb", data[:16]


def decode_images_batch(
    it: Iterator[pd.DataFrame], image_col: str = "image"
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: encoded image bytes → `image struct<...>` column
    (the autodecode imagespec path as typed columns Catalyst can prune)."""
    for pdf in it:
        structs = []
        for data in pdf[image_col]:
            hgt, wid, nch, mode, px = fake_decode_image(bytes(data))
            structs.append(
                {"height": hgt, "width": wid, "nChannels": nch, "mode": mode, "data": px}
            )
        out = pdf.drop(columns=[image_col])
        out["image"] = structs
        yield out



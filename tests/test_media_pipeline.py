"""Media kernels: image decode as an Arrow kernel, and the media fetch.

Decode kernels are the deterministic fakes (real libs absent); every
schema, batch shape, and partition boundary is the production one.
"""

from __future__ import annotations

from video_data_pipeline_spark.functions.media import (
    IMAGE_SCHEMA,
    decode_images_batch,
)

import pytest
pytestmark = pytest.mark.slow  # r17 fast-tier: see conftest/pytest.ini


def test_decode_images_schema(spark):
    rows = [(f"k{i}", bytes([i, i + 1, i + 2]) * 10) for i in range(6)]
    df = spark.createDataFrame(rows, "`__key__` string, image binary")
    decoded = df.mapInPandas(
        lambda it: decode_images_batch(it),
        schema=f"`__key__` string, image struct<{IMAGE_SCHEMA}>",
    )
    out = decoded.collect()
    assert len(out) == 6
    for r in out:
        assert 64 <= r.image.height < 256 and 64 <= r.image.width < 256
        assert r.image.nChannels == 3 and r.image.mode == "rgb"
    # typed struct fields prune/project like ordinary columns
    just_dims = decoded.select("image.height", "image.width").collect()
    assert len(just_dims) == 6


def test_fetch_media_real_local_and_fallback(tmp_path):
    """fetch_media probes through gopen: a readable local path returns REAL
    bytes; a dead main path falls through to the fallback; fully unreachable
    paths raise FileNotFoundError (the reference's two-probe contract) unless
    hermetic=True, which keeps the deterministic offline stand-in."""
    import pytest

    from video_data_pipeline_spark.functions.media import fetch_media

    p = tmp_path / "clip.mp4"
    p.write_bytes(b"\x00REALVIDEO")
    assert fetch_media(str(p), None) == b"\x00REALVIDEO"
    assert fetch_media(str(tmp_path / "missing.mp4"), str(p)) == b"\x00REALVIDEO"
    with pytest.raises(FileNotFoundError):
        fetch_media(str(tmp_path / "missing.mp4"), None)
    fake = fetch_media("s3://nowhere/clip.mp4", None, hermetic=True)
    assert len(fake) == 64
    assert fake == fetch_media("s3://nowhere/clip.mp4", None, hermetic=True)


def test_fetch_media_rejects_shell_schemes(tmp_path):
    """A data-derived media path must never reach the pipe: (shell) handler
    — the reference opens media only via s3/local (pack/tools.py); gopen's
    pipe: scheme is for operator-authored shard URLs, not row values."""
    import pytest

    from video_data_pipeline_spark.functions.media import fetch_media

    marker = tmp_path / "pwned"
    evil = f"pipe:touch {marker}"
    with pytest.raises(FileNotFoundError):
        fetch_media(evil, None)
    assert not marker.exists()
    # even hermetic mode must not execute — it falls to fake bytes
    out = fetch_media(evil, None, hermetic=True)
    assert len(out) == 64 and not marker.exists()

"""Binary codec round-trips (reference tests/test_writer.py:13-119 analog):
write → rescan → byte-layout checks per encoder."""

from __future__ import annotations

import glob
import io
import pickle
import struct
import tarfile
import zipfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark.functions.codecs import (
    TENBIN_MAGIC,
    npy_decode,
    npy_encode,
    npz_decode,
    npz_encode,
    tenbin_decode,
    tenbin_encode,
)
from video_data_pipeline_spark.sinks.webdataset import write_webdataset
from video_data_pipeline_spark.sources.webdataset import read_webdataset


def npz_is_valid(b: bytes) -> bool:
    """Cheap sanity check: npz is a zip of .npy members."""
    return zipfile.is_zipfile(io.BytesIO(b))


def test_tenbin_roundtrip_and_layout():
    a = np.arange(12, dtype=np.float32).reshape(3, 4)
    buf = tenbin_encode(a)
    # documented layout (reference tenbin.py docstring): chunks of
    # magic | int64 length | payload padded to 64 bytes
    assert buf[:8] == TENBIN_MAGIC
    (hdr_len,) = struct.unpack("<q", buf[8:16])
    # header = dtype tag (8) + info tag (8) + rank (8) + 2 dims (16)
    assert hdr_len == 40
    assert buf[16:18] == b"f4"  # dtype short code, NUL-padded tag
    assert len(buf) % 64 == 32  # two chunks, each 16B frame + padded payload
    (rank,) = struct.unpack("<q", buf[32:40])
    assert rank == 2
    assert struct.unpack("<2q", buf[40:56]) == (3, 4)
    [back] = tenbin_decode(buf)
    assert back.dtype == np.float32 and back.shape == (3, 4)
    np.testing.assert_array_equal(back, a)


def test_tenbin_multiple_arrays_and_dtypes():
    arrays = [
        np.array([1, 2, 3], dtype=np.int64),
        np.ones((2, 2), dtype=np.uint8),
        np.linspace(0, 1, 5).astype(np.float64),
    ]
    back = tenbin_decode(tenbin_encode(arrays))
    assert len(back) == 3
    for x, y in zip(arrays, back):
        assert x.dtype == y.dtype and x.shape == y.shape
        np.testing.assert_array_equal(x, y)


def test_tenbin_rejects_bad_dtype():
    with pytest.raises(ValueError, match="unsupported dtype"):
        tenbin_encode(np.array(["a", "b"]))


def test_npy_npz_roundtrip():
    a = np.random.default_rng(7).normal(size=(4, 5)).astype(np.float32)
    assert np.array_equal(npy_decode(npy_encode(a)), a)
    blob = npz_encode({"x": a, "y": np.arange(3)})
    assert npz_is_valid(blob)
    back = npz_decode(blob)
    assert set(back) == {"x", "y"}
    np.testing.assert_array_equal(back["x"], a)


def test_sink_encodes_tensor_members(spark, tmp_path):
    """Typed columns with tensor suffixes land as decodable npy/ten/pyd tar
    members (writer.py make_handlers parity for the numpy family)."""
    out = str(tmp_path / "tens")
    rows = [(f"{i:06d}", [float(i), i + 0.5, i * 2.0], [i, i + 1], {"i": i}) for i in range(4)]
    df = spark.createDataFrame(
        rows, "`__key__` string, ten array<double>, npy array<int>, pyd map<string,int>"
    )
    write_webdataset(df.repartition(1).sortWithinPartitions("__key__"), out, sample_col=None).collect()
    names = {}
    for path in glob.glob(out + "/*.tar"):
        with tarfile.open(path) as tar:
            for m in tar.getmembers():
                names[m.name] = tar.extractfile(m).read()
    assert set(names) == {
        f"{i:06d}.{s}" for i in range(4) for s in ("ten", "npy", "pyd")
    }
    [ten0] = tenbin_decode(names["000000.ten"])
    np.testing.assert_array_equal(ten0, np.array([0.0, 0.5, 0.0]))
    np.testing.assert_array_equal(npy_decode(names["000001.npy"]), np.array([1, 2]))
    assert pickle.loads(names["000002.pyd"]) == {"i": 2}
    # and the reader surfaces them as raw binary for UDF decode
    back = read_webdataset(spark, out)
    r0 = back.orderBy("__key__").first()
    assert tenbin_decode(bytes(r0.sample["ten"]))[0].shape == (3,)


def test_msgpack_gated():
    from video_data_pipeline_spark.functions.codecs import msgpack_encode

    try:
        import msgpack  # noqa: F401

        assert isinstance(msgpack_encode({"a": 1}), bytes)
    except ImportError:
        with pytest.raises(NotImplementedError, match="msgpack"):
            msgpack_encode({"a": 1})

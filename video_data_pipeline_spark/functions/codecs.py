"""Binary member codecs for the tar writer/reader.

Implements the reference ``TarWriter`` encoder matrix beyond plain
text/int/json (writer.py:135-233 ``make_handlers``): pickle (``pyd``),
numpy (``npy``/``npz``) and the TenBin tensor format (``ten``/``tenbin``/
``tb``) — written fresh from the format documented in the reference's
``tenbin.py`` module docstring (8-byte-aligned chunks of
``magic|length|payload``, header = dtype code, info tag, rank, dims; data
64-byte padded for RDMA alignment). ``msgpack``/``cbor``/``torch`` have no
library in this environment and are import-gated (``mp``/``msg``/
``msgpack``, ``cbor``, ``pth``).

These run inside writer/decoder tasks (plain Python over bytes); they are
deliberately Spark-free so both the sink's encode path and UDF decode
paths share them.
"""

from __future__ import annotations

import io
import pickle
import struct

import numpy as np

#: TenBin magic: the ASCII string ``~TenBin~`` as the chunk delimiter.
TENBIN_MAGIC = b"~TenBin~"

_DTYPE_CODES = {
    "float16": "f2",
    "float32": "f4",
    "float64": "f8",
    "int8": "i1",
    "int16": "i2",
    "int32": "i4",
    "int64": "i8",
    "uint8": "u1",
    "uint16": "u2",
    "uint32": "u4",
    "uint64": "u8",
}
_CODE_DTYPES = {v: k for k, v in _DTYPE_CODES.items()}


def _pad64(n: int) -> int:
    return 64 * ((n + 63) // 64)


def _tag8(s: str) -> bytes:
    """An 8-byte NUL-padded ASCII tag (the format's str64 fields)."""
    if len(s) > 8:
        raise ValueError(f"tag too long: {s!r}")
    return s.encode("ascii").ljust(8, b"\0")


def _untag8(b: bytes) -> str:
    return b.rstrip(b"\0").decode("ascii")


def tenbin_encode(arrays: list[np.ndarray] | np.ndarray) -> bytes:
    """Encode array(s) as TenBin bytes: per array a header chunk
    (dtype code, info tag, rank, dims as int64s) then a data chunk, each
    chunk framed as ``~TenBin~`` + int64 length + 64-byte-padded payload."""
    if isinstance(arrays, np.ndarray):
        arrays = [arrays]
    out = bytearray()
    for a in arrays:
        a = np.ascontiguousarray(a)
        if a.dtype.name not in _DTYPE_CODES:
            raise ValueError(f"tenbin: unsupported dtype {a.dtype.name}")
        if a.ndim >= 10:
            raise ValueError("tenbin: too many dimensions")
        header = b"".join(
            [
                _tag8(_DTYPE_CODES[a.dtype.name]),
                _tag8(""),
                struct.pack("<q", a.ndim),
                *(struct.pack("<q", d) for d in a.shape),
            ]
        )
        for payload in (header, a.tobytes()):
            out += TENBIN_MAGIC
            out += struct.pack("<q", len(payload))
            out += payload.ljust(_pad64(len(payload)), b"\0")
    return bytes(out)


def tenbin_decode(buf: bytes) -> list[np.ndarray]:
    """Decode TenBin bytes back to the array list (inverse of
    :func:`tenbin_encode`)."""
    chunks: list[bytes] = []
    offset = 0
    while offset < len(buf):
        if buf[offset : offset + 8] != TENBIN_MAGIC:
            raise ValueError("tenbin: bad magic")
        (length,) = struct.unpack("<q", buf[offset + 8 : offset + 16])
        start = offset + 16
        chunks.append(buf[start : start + length])
        offset = start + _pad64(length)
    arrays = []
    for header, data in zip(chunks[::2], chunks[1::2]):
        code = _untag8(header[:8])
        if code not in _CODE_DTYPES:
            raise ValueError(f"tenbin: unsupported dtype code {code!r}")
        (rank,) = struct.unpack("<q", header[16:24])
        dims = struct.unpack(f"<{rank}q", header[24 : 24 + 8 * rank])
        arrays.append(
            np.frombuffer(data, dtype=np.dtype(_CODE_DTYPES[code]))
            .reshape(dims)
            .copy()
        )
    return arrays


def npy_encode(a: np.ndarray) -> bytes:
    buf = io.BytesIO()
    np.save(buf, np.asarray(a), allow_pickle=False)
    return buf.getvalue()


def npy_decode(b: bytes) -> np.ndarray:
    return np.load(io.BytesIO(b), allow_pickle=False)


def npz_encode(arrays: dict[str, np.ndarray]) -> bytes:
    buf = io.BytesIO()
    np.savez(buf, **{k: np.asarray(v) for k, v in arrays.items()})
    return buf.getvalue()


def npz_decode(b: bytes) -> dict[str, np.ndarray]:
    with np.load(io.BytesIO(b), allow_pickle=False) as z:
        return {k: z[k] for k in z.files}


def pickle_encode(obj) -> bytes:
    return pickle.dumps(obj)


def msgpack_encode(obj) -> bytes:
    """``mp``/``msgpack``/``msg`` members (writer.py:168); lib absent from
    this environment, so gated — deployments with msgpack installed get
    the reference behavior unchanged."""
    try:
        import msgpack
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "msgpack is not installed; `pip install msgpack` enables "
            "mp/msgpack/msg members (reference writer.py:168)"
        ) from e
    return msgpack.packb(obj, use_bin_type=True)



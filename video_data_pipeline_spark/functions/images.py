"""Image decode matrix (reference ``autodecode.py:238-374`` ImageHandler).

The reference dispatches on an *imagespec* — array container (numpy/torch/
pil) × element type (uint8/float) × mode (l/rgb/rgba) — then fixes up
channel layout after decode. Everything here is the real matrix: spec
validation, extension filter, float scaling, and the mode-conform rules
are implemented and tested; ONLY the PIL pixel load (and the torch/pil
containers) are import-gated, falling back to a deterministic fake pixel
array (md5-derived dims, repeating-hash pixels) so the full pipeline runs
hermetically in this container.

Reference quirk preserved: the float conversion happens BEFORE the mode
fix-up, so an rgb→rgba pad writes alpha=255 even into float images
(autodecode.py:344-349) — faithful, if surprising.
"""

from __future__ import annotations

import hashlib
import io

import numpy as np

#: spec → (array container, element type, mode) — the published table
#: (autodecode.py:238-256)
IMAGE_SPECS = {
    "l8": ("numpy", "uint8", "l"),
    "rgb8": ("numpy", "uint8", "rgb"),
    "rgba8": ("numpy", "uint8", "rgba"),
    "l": ("numpy", "float", "l"),
    "rgb": ("numpy", "float", "rgb"),
    "rgba": ("numpy", "float", "rgba"),
    "torchl8": ("torch", "uint8", "l"),
    "torchrgb8": ("torch", "uint8", "rgb"),
    "torchrgba8": ("torch", "uint8", "rgba"),
    "torchl": ("torch", "float", "l"),
    "torchrgb": ("torch", "float", "rgb"),
    "torch": ("torch", "float", "rgb"),
    "torchrgba": ("torch", "float", "rgba"),
    "pill": ("pil", None, "l"),
    "pil": ("pil", None, "rgb"),
    "pilrgb": ("pil", None, "rgb"),
    "pilrgba": ("pil", None, "rgba"),
}

#: suffixes routed to the image handler (reference builds this from PIL's
#: registry at import, autodecode.py:15-23; static common subset here)
IMAGE_EXTENSIONS = frozenset(
    "jpg jpeg png ppm pgm pbm pnm webp bmp gif tif tiff jp2 ico".split()
)

_MODE_CHANNELS = {"l": 1, "rgb": 3, "rgba": 4}


def fake_pixels(data: bytes, mode: str) -> np.ndarray:
    """Deterministic stand-in for the PIL load: md5-derived dims (matching
    functions/media.py::fake_decode_image) and repeating-hash pixels in the
    requested mode's channel count, uint8."""
    h = hashlib.md5(data).digest()
    height = 64 + h[2] % 192
    width = 64 + h[3] % 192
    nch = _MODE_CHANNELS[mode]
    n = height * width * nch
    reps = -(-n // len(h))
    flat = np.frombuffer(h * reps, dtype=np.uint8)[:n]
    if mode == "l":
        return flat.reshape(height, width).copy()
    return flat.reshape(height, width, nch).copy()


def load_pixels(data: bytes, mode: str) -> np.ndarray:
    """Pixel load. Binary netpbm (P5/P6) decodes REAL pixels in pure numpy
    — no library needed; other formats go through PIL when available, else
    the deterministic fake (same dims either way for a given content). The
    mode conversion happens downstream in :func:`conform_image`."""
    data = bytes(data)
    netpbm = _decode_netpbm(data)
    if netpbm is not None:
        return netpbm
    try:  # pragma: no cover - PIL absent in this container
        import PIL.Image

        with io.BytesIO(data) as stream:
            img = PIL.Image.open(stream)
            img.load()
            return np.asarray(img.convert(mode.upper()))
    except ImportError:
        return fake_pixels(data, mode)


def conform_image(arr: np.ndarray, mode: str, etype: str | None) -> np.ndarray:
    """The post-decode matrix (autodecode.py:330-356): float scaling first,
    then channel-layout fix-up per target mode. Pure numpy, fully real."""
    result = np.asarray(arr)
    if etype == "float":
        result = result.astype(np.float32) / 255.0
    if result.ndim not in (2, 3):
        raise ValueError(f"image must be 2-D or 3-D, got shape {result.shape}")
    if mode not in _MODE_CHANNELS:
        raise ValueError(f"unknown mode: {mode}")
    if mode == "l":
        if result.ndim == 3:
            result = np.mean(result[:, :, :3], axis=2)
    elif mode == "rgb":
        if result.ndim == 2:
            result = np.repeat(result[:, :, np.newaxis], 3, axis=2)
        elif result.shape[2] == 4:
            result = result[:, :, :3]
    elif mode == "rgba":
        if result.ndim == 2:
            result = np.repeat(result[:, :, np.newaxis], 4, axis=2)
            result[:, :, 3] = 255
        elif result.shape[2] == 3:
            # reference pads alpha with 255 AFTER float scaling — preserved
            result = np.concatenate(
                [result, 255 * np.ones((*result.shape[:2], 1), result.dtype)], axis=2
            )
    return result


def image_handler(imagespec: str, extensions: frozenset[str] = IMAGE_EXTENSIONS):
    """``imagehandler(spec)`` (autodecode.py:360-374): returns a
    ``(suffix, bytes) -> array | None`` decoder. Non-image suffixes return
    None (the decoder chain moves on); torch/pil containers raise
    NotImplementedError when their libraries are absent."""
    if imagespec not in IMAGE_SPECS:
        raise ValueError(f"Unknown imagespec: {imagespec}")
    atype, etype, mode = IMAGE_SPECS[imagespec.lower()]

    def _handle(key: str, data: bytes):
        extension = key.rsplit(".", 1)[-1].lower()
        if extension not in extensions:
            return None
        arr = load_pixels(bytes(data), mode)
        if atype == "pil":  # pragma: no cover - PIL absent in this container
            try:
                import PIL.Image
            except ImportError as e:
                raise NotImplementedError(
                    "pil imagespecs need Pillow installed"
                ) from e
            return PIL.Image.fromarray(arr).convert(mode.upper())
        result = conform_image(arr, mode, etype)
        if atype == "numpy":
            return result
        # torch container: channel-first layout (autodecode.py:353-356)
        try:  # pragma: no cover - torch absent in this container
            import torch
        except ImportError as e:
            raise NotImplementedError("torch imagespecs need torch installed") from e
        if result.ndim == 3:  # pragma: no cover
            return torch.from_numpy(result.transpose(2, 0, 1))
        return torch.from_numpy(result)  # pragma: no cover

    return _handle


# --------------------------------------------------------------- encoders
# The writer-side imageencoder (reference writer.py:22-60): float images
# are range-checked/clipped/scaled to uint8, then compressed per format.
# PPM/PGM (binary netpbm) and PNG (stored + zlib, stdlib only) are REAL
# encoders here; JPEG/TIFF need PIL and stay gated.


def _to_uint8(image: np.ndarray) -> np.ndarray:
    image = np.asarray(image)
    if image.dtype in (np.float32, np.float64):
        if not (image.min() > -0.001 and image.max() < 1.001):
            raise ValueError(
                f"image values out of range {image.min()} {image.max()}"
            )
        image = (np.clip(image, 0.0, 1.0) * 255.0).astype(np.uint8)
    if image.ndim not in (2, 3):
        raise ValueError(f"image must be 2-D or 3-D, got {image.shape}")
    if image.ndim == 3 and image.shape[2] == 1:
        image = image[:, :, 0]
    return image


def _encode_netpbm(image: np.ndarray) -> bytes:
    """Binary PGM (P5, gray) / PPM (P6, rgb) — the formats PIL emits for
    'PPM'; byte-exact spec: magic, dims, maxval, raw big-endian samples."""
    image = _to_uint8(image)
    if image.ndim == 2:
        header = f"P5\n{image.shape[1]} {image.shape[0]}\n255\n"
    elif image.shape[2] == 3:
        header = f"P6\n{image.shape[1]} {image.shape[0]}\n255\n"
    else:
        raise ValueError(f"netpbm supports gray or rgb, got {image.shape}")
    return header.encode("ascii") + image.tobytes()


def _decode_netpbm(data: bytes) -> np.ndarray | None:
    """Inverse of :func:`_encode_netpbm` (handles whitespace-separated
    headers with optional comments). Returns None if not P5/P6."""
    if data[:2] not in (b"P5", b"P6"):
        return None
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, _maxval = fields
    nch = 3 if data[:2] == b"P6" else 1
    arr = np.frombuffer(data, np.uint8, count=height * width * nch, offset=pos)
    return arr.reshape(height, width) if nch == 1 else arr.reshape(height, width, 3)


def _encode_png(image: np.ndarray) -> bytes:
    """Minimal real PNG (stdlib zlib): 8-bit gray (color 0) or rgb
    (color 2), filter 0 per scanline — readable by any PNG decoder."""
    import struct
    import zlib

    image = _to_uint8(image)
    color = 0 if image.ndim == 2 else 2
    if image.ndim == 3 and image.shape[2] != 3:
        raise ValueError(f"png encoder supports gray or rgb, got {image.shape}")
    height, width = image.shape[:2]

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    rows = image.reshape(height, -1)
    raw = b"".join(b"\x00" + rows[y].tobytes() for y in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def encode_image(image: np.ndarray, format: str = "PNG") -> bytes:
    """``imageencoder`` (writer.py:22-60): float range-check/clip/scale,
    then compress. Real encoders: ppm/pgm/pbm ('img'/'image' alias), png.
    jpeg/tiff require Pillow (quality=100, the reference's opts) — gated."""
    fmt = format.upper()
    if fmt == "JPG":
        fmt = "JPEG"
    elif fmt in ("IMG", "IMAGE"):
        fmt = "PPM"
    if fmt in ("PPM", "PGM", "PBM", "PNM"):
        return _encode_netpbm(image)
    if fmt == "PNG":
        return _encode_png(image)
    if fmt in ("JPEG", "TIFF"):
        try:  # pragma: no cover - PIL absent in this container
            import io as _io

            import PIL.Image

            buf = _io.BytesIO()
            PIL.Image.fromarray(_to_uint8(image)).save(
                buf, format=fmt, quality=100
            )
            return buf.getvalue()
        except ImportError as e:
            raise NotImplementedError(
                f"{fmt} encoding needs Pillow; ppm/pgm/png are built in"
            ) from e
    raise ValueError(f"unknown image format {format!r}")


def resize_cap(image: np.ndarray, max_side: int = 1280) -> np.ndarray:
    """The 1280-cap resize (tokenize/main.py:196-200): an image with any
    side over ``max_side`` becomes exactly ``max_side`` × ``max_side``, as
    the reference's ``image.resize((1280, 1280))`` does (no aspect ratio
    kept); smaller images pass through. Nearest-neighbor in pure numpy — a
    REAL kernel, no PIL."""
    image = np.asarray(image)
    h, w = image.shape[:2]
    if max(h, w) <= max_side:
        return image
    yi = np.arange(max_side) * h // max_side
    xi = np.arange(max_side) * w // max_side
    return image[yi][:, xi]


def merlin_black_background(image_name: str) -> np.ndarray | None:
    """Merlin-S sampler quirk (pack/samplers.py:48-71): pseudo-paths
    ``"Black background: W, H"`` materialize as zero rgb images instead of
    a fetch. Returns None for ordinary paths."""
    if not image_name.startswith("Black background"):
        return None
    w, h = (int(x.replace(" ", "")) for x in image_name.split(":")[-1].split(", "))
    return np.zeros((h, w, 3), np.uint8)

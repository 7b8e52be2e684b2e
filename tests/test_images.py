"""Image decode matrix tests (autodecode.py:238-374 ImageHandler parity):
the spec table, extension filter, float scaling, and mode-conform rules
are all real — only the PIL pixel load is faked deterministically."""

from __future__ import annotations

import numpy as np
import pytest

from video_data_pipeline_spark.functions.images import (
    IMAGE_SPECS,
    conform_image,
    fake_pixels,
    image_handler,
)


def test_spec_table_is_the_published_matrix():
    assert len(IMAGE_SPECS) == 17
    assert IMAGE_SPECS["torch"] == ("torch", "float", "rgb")
    assert IMAGE_SPECS["l8"] == ("numpy", "uint8", "l")
    with pytest.raises(ValueError, match="Unknown imagespec"):
        image_handler("bogus")


def test_extension_filter_returns_none():
    h = image_handler("rgb8")
    assert h("sample.json", b"{}") is None
    assert h("sample.mp4", b"\x00") is None
    assert h("sample.jpg", b"pixels") is not None


def test_uint8_rgb_decode_shape_and_determinism():
    h = image_handler("rgb8")
    a = h("k.jpg", b"content")
    b = h("k.png", b"content")
    assert a.dtype == np.uint8 and a.ndim == 3 and a.shape[2] == 3
    np.testing.assert_array_equal(a, b)  # content-deterministic


def test_float_spec_scales_to_unit_range():
    out = image_handler("rgb")("k.jpg", b"xyz")
    assert out.dtype == np.float32
    assert float(out.max()) <= 1.0 and float(out.min()) >= 0.0


def test_conform_gray_to_rgb_and_rgba():
    gray = np.arange(6, dtype=np.uint8).reshape(2, 3)
    rgb = conform_image(gray, "rgb", "uint8")
    assert rgb.shape == (2, 3, 3)
    np.testing.assert_array_equal(rgb[:, :, 0], gray)
    rgba = conform_image(gray, "rgba", "uint8")
    assert rgba.shape == (2, 3, 4)
    assert (rgba[:, :, 3] == 255).all()


def test_conform_rgba_to_rgb_drops_alpha_and_rgb_to_l_means():
    rgba = np.dstack([np.full((2, 2), v, np.uint8) for v in (10, 20, 30, 40)])
    rgb = conform_image(rgba, "rgb", "uint8")
    assert rgb.shape == (2, 2, 3)
    assert (rgb[:, :, 2] == 30).all()
    lum = conform_image(rgb, "l", "uint8")
    assert lum.shape == (2, 2)
    assert (lum == 20).all()  # mean of 10,20,30


def test_conform_float_then_pad_alpha_quirk():
    """Reference pads alpha with 255 AFTER float scaling — a float rgba
    image gets alpha plane 255.0, not 1.0 (autodecode.py:344-349)."""
    rgb = np.full((2, 2, 3), 51, np.uint8)
    out = conform_image(rgb, "rgba", "float")
    assert out.dtype == np.float32
    np.testing.assert_allclose(out[:, :, :3], 0.2)
    assert (out[:, :, 3] == 255.0).all()


def test_torch_spec_gated():
    try:
        import torch  # noqa: F401

        has_torch = True
    except ImportError:
        has_torch = False
    if not has_torch:
        with pytest.raises(NotImplementedError, match="torch"):
            image_handler("torchrgb")("k.jpg", b"z")


def test_fake_pixels_mode_channels():
    assert fake_pixels(b"a", "l").ndim == 2
    assert fake_pixels(b"a", "rgb").shape[2] == 3
    assert fake_pixels(b"a", "rgba").shape[2] == 4


# --------------------------------------------------------------- encoders


def test_netpbm_encode_decode_real_roundtrip():
    """PPM/PGM are REAL end-to-end in this container: encode in numpy,
    decode back bit-exact through the image handler (no PIL involved)."""
    from video_data_pipeline_spark.functions.images import encode_image

    rgb = np.random.default_rng(3).integers(0, 255, (5, 7, 3), dtype=np.uint8)
    blob = encode_image(rgb, "ppm")
    assert blob.startswith(b"P6\n7 5\n255\n")
    back = image_handler("rgb8")("k.ppm", blob)
    np.testing.assert_array_equal(back, rgb)
    gray = rgb[:, :, 0]
    gback = image_handler("l8")("k.pgm", encode_image(gray, "pgm"))
    np.testing.assert_array_equal(gback, gray)


def test_png_encoder_emits_valid_png():
    import struct
    import zlib

    from video_data_pipeline_spark.functions.images import encode_image

    rgb = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    blob = encode_image(rgb, "png")
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", blob[16:24])
    assert (w, h) == (4, 2)
    # decompress the IDAT payload and strip per-row filter bytes
    idat_len = struct.unpack(">I", blob[33:37])[0]
    raw = zlib.decompress(blob[41 : 41 + idat_len])
    rows = [raw[i * 13 + 1 : (i + 1) * 13] for i in range(2)]  # 1+4*3 bytes/row
    np.testing.assert_array_equal(
        np.frombuffer(b"".join(rows), np.uint8).reshape(2, 4, 3), rgb
    )


def test_float_image_range_check_and_scale():
    from video_data_pipeline_spark.functions.images import encode_image

    ok = np.full((2, 2), 0.5)
    blob = encode_image(ok, "pgm")
    assert image_handler("l8")("k.pgm", blob)[0, 0] == 127
    with pytest.raises(ValueError, match="out of range"):
        encode_image(np.full((2, 2), 1.5), "pgm")


def test_resize_cap():
    from video_data_pipeline_spark.functions.images import resize_cap

    # any side over the cap -> exactly (cap, cap), aspect ratio not kept
    # (tokenize/main.py:196-200 resizes to (1280, 1280))
    big = np.zeros((2000, 1000, 3), np.uint8)
    out = resize_cap(big, max_side=1280)
    assert out.shape == (1280, 1280, 3)
    wide = np.arange(1300 * 4, dtype=np.int32).reshape(4, 1300)
    out = resize_cap(wide, max_side=1280)
    assert out.shape == (1280, 1280)
    # nearest neighbour: corners map to corners' source pixels
    assert out[0, 0] == wide[0, 0] and out[-1, -1] == wide[3, 1279 * 1300 // 1280]
    small = np.zeros((100, 50), np.uint8)
    assert resize_cap(small, max_side=1280).shape == (100, 50)


def test_merlin_black_background():
    from video_data_pipeline_spark.functions.images import merlin_black_background

    img = merlin_black_background("Black background: 320, 240")
    assert img.shape == (240, 320, 3) and img.dtype == np.uint8 and not img.any()
    assert merlin_black_background("data/frames/x.jpg") is None

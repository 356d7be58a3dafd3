"""WebP VP8L codec: lossless round-trip through every transform,
predictor mode, LZ77 shape, cache size, palette packing width, and the
meta-prefix-code path, plus corruption guards. The encoder
(ops/webp.encode_webp) is the equivalence oracle: VP8L is lossless, so
parse_webp must reproduce the encoder's input RGBA bit-for-bit — the
same oracle structure as tests/test_jpeg.py."""

from __future__ import annotations

import numpy as np
import pytest

from lamapi_spark.ops.webp import encode_webp, parse_webp


def img(seed: int, h: int = 13, w: int = 17, alpha: int | None = 255):
    rng = np.random.default_rng(seed)
    out = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    if alpha is not None:
        out[:, :, 3] = alpha
    return out


def roundtrip(arr, **kw):
    fmt, w, h, out = parse_webp(encode_webp(arr, **kw))
    assert (fmt, w, h) == ("WEBP", arr.shape[1], arr.shape[0])
    assert out.shape == (arr.shape[0], arr.shape[1], 4)
    assert (out.astype(np.uint8) == arr).all()


def test_plain_literals():
    roundtrip(img(1))


def test_alpha_channel_carried():
    roundtrip(img(2, alpha=None))  # random alpha plane


def test_subtract_green():
    roundtrip(img(3), sub_green=True)


@pytest.mark.parametrize("mode", list(range(14)))
def test_all_predictor_modes(mode):
    roundtrip(img(4 + mode, h=11, w=9), pred_mode=mode, transform_bits=2)


def test_color_transform_and_stacking():
    roundtrip(img(20), color_cte=(20, 240, 7))
    roundtrip(img(21), sub_green=True, color_cte=(130, 5, 250),
              pred_mode=12, transform_bits=3)


@pytest.mark.parametrize("ncol", [2, 4, 13, 40, 200])
def test_palette_packing_widths(ncol):
    rng = np.random.default_rng(ncol)
    cols = rng.integers(0, 256, (ncol, 4), dtype=np.uint8)
    roundtrip(cols[rng.integers(0, ncol, (9, 31))], palette=True)


@pytest.mark.parametrize("cache_bits", [1, 4, 8])
def test_color_cache(cache_bits):
    arr = (np.random.default_rng(5).integers(0, 5, (16, 16, 4),
                                             dtype=np.uint8) * 51)
    roundtrip(arr, cache_bits=cache_bits)


@pytest.mark.parametrize("lz77", ["dist1", "above", "both"])
def test_lz77_backrefs(lz77):
    # tiled image: horizontal runs (dist 1 after the tile repeats) and
    # vertical repeats (dist = width, the 2D (0,1) plane code)
    base = np.random.default_rng(6).integers(0, 256, (2, 4, 4), np.uint8)
    roundtrip(np.tile(base, (8, 8, 1)), lz77=lz77)


def test_meta_prefix_codes_two_groups():
    roundtrip(img(7, h=16, w=16), meta_bits=3)


def test_kitchen_sink():
    base = np.random.default_rng(8).integers(0, 8, (2, 4, 4), np.uint8) * 30
    arr = np.tile(base, (8, 8, 1))
    roundtrip(arr, sub_green=True, pred_mode=7, cache_bits=3,
              lz77="both", meta_bits=4)


def test_single_pixel_and_single_row():
    roundtrip(img(9, h=1, w=1))
    roundtrip(img(10, h=1, w=37))
    roundtrip(img(11, h=37, w=1))


def test_corruption_raises_valueerror():
    b = encode_webp(img(12))
    for mutated in [
        b[:20],                                   # truncated
        b"RIFX" + b[4:],                          # bad RIFF magic
        b[:8] + b"WAVE" + b[12:],                 # not WEBP
        b[:12] + b"VP8 " + b[16:],                # lossy chunk
        b[:20] + bytes([b[20] ^ 0x01]) + b[21:],  # signature byte
    ]:
        with pytest.raises(ValueError):
            parse_webp(mutated)

"""Baseline JPEG codec tests (ops/jpeg.py) — pure numpy, no Spark.

The decoder's correctness anchor is independence: expected pixels come
either from closed-form construction (constant blocks decode bit-exactly
under DC quant step 8) or from a dense four-nested-loop IDCT written
directly from the T.81 formula — never from the decoder's own
basis-matrix path.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from lamapi_spark.ops.jpeg import (
    _ZIGZAG, constant_block, encode_jpeg, parse_jpeg,
)


def _dense_idct(coef_zz: dict, qtable: list) -> np.ndarray:
    """Independent reference: dequantized coefficients -> spatial block
    via the literal T.81 A.3.3 sum, rounded and clamped like a decoder."""
    f = np.zeros(64)
    for zpos, c in coef_zz.items():
        f[_ZIGZAG[zpos]] = c * qtable[_ZIGZAG[zpos]]
    f = f.reshape(8, 8)
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (cu * cv * f[u, v]
                          * np.cos((2 * x + 1) * u * np.pi / 16)
                          * np.cos((2 * y + 1) * v * np.pi / 16))
            out[x, y] = s / 4 + 128
    return np.clip(np.round(out), 0, 255)


def test_constant_blocks_roundtrip_exact():
    vals = [0, 30, 100, 180, 250, 255]
    b = encode_jpeg(48, 8, [[constant_block(v) for v in vals]])
    fmt, w, h, px = parse_jpeg(b)
    assert (fmt, w, h) == ("JPEG", 48, 8)
    assert px.shape == (8, 48, 1)
    for k, v in enumerate(vals):
        assert np.all(px[:, 8 * k:8 * k + 8, 0] == v), (k, v)


def test_ac_and_nonuniform_qtable_match_independent_idct():
    rng = np.random.RandomState(7)
    qt = rng.randint(1, 20, size=64).tolist()
    qt[0] = 8
    # DC + scattered AC incl. a >16-zero gap (forces a ZRL symbol) and
    # the last coefficient (position 63)
    blk = {0: 10, 1: 4, 5: 3, 17: -4, 40: 2, 63: -1}
    fmt, w, h, px = parse_jpeg(encode_jpeg(8, 8, [[blk]], qtable=qt))
    assert np.array_equal(px[:, :, 0], _dense_idct(blk, qt))


def test_differential_dc_chain_across_blocks():
    vals = [128, 10, 245, 100, 100, 0, 255, 128]
    b = encode_jpeg(64, 8, [[constant_block(v) for v in vals]])
    _, _, _, px = parse_jpeg(b)
    for k, v in enumerate(vals):
        assert np.all(px[:, 8 * k:8 * k + 8, 0] == v)


def test_color_420_constant_mcu():
    yb = [constant_block(120)] * 4
    b = encode_jpeg(16, 16, [yb, [constant_block(100)], [constant_block(150)]],
                    sampling=[(2, 2), (1, 1), (1, 1)])
    fmt, w, h, px = parse_jpeg(b)
    assert px.shape == (16, 16, 3)
    r = np.clip(round(120 + 1.402 * (150 - 128)), 0, 255)
    g = np.clip(round(120 - 0.344136 * (100 - 128) - 0.714136 * (150 - 128)),
                0, 255)
    bl = np.clip(round(120 + 1.772 * (100 - 128)), 0, 255)
    assert np.all(px[:, :, 0] == r)
    assert np.all(px[:, :, 1] == g)
    assert np.all(px[:, :, 2] == bl)


def test_color_422_and_444():
    # 4:2:2 — MCU is 2 Y blocks + 1 Cb + 1 Cr, 16x8
    b422 = encode_jpeg(
        16, 8, [[constant_block(50), constant_block(200)],
                [constant_block(128)], [constant_block(128)]],
        sampling=[(2, 1), (1, 1), (1, 1)])
    _, w, h, px = parse_jpeg(b422)
    assert (w, h) == (16, 8) and px.shape == (8, 16, 3)
    # Cb=Cr=128 -> RGB == Y exactly
    assert np.all(px[:, :8, 0] == 50) and np.all(px[:, 8:, 0] == 200)
    assert np.array_equal(px[:, :, 0], px[:, :, 1])
    assert np.array_equal(px[:, :, 0], px[:, :, 2])
    # 4:4:4 — every component full resolution
    b444 = encode_jpeg(
        8, 8, [[constant_block(90)], [constant_block(128)],
               [constant_block(128)]],
        sampling=[(1, 1), (1, 1), (1, 1)])
    _, _, _, px4 = parse_jpeg(b444)
    assert np.all(px4 == 90)


def test_restart_markers_reset_dc_predictors():
    vals = [10, 20, 200, 240, 5, 250]
    b = encode_jpeg(48, 8, [[constant_block(v) for v in vals]],
                    restart_interval=2)
    assert b"\xff\xd0" in b and b"\xff\xd1" in b
    _, _, _, px = parse_jpeg(b)
    for k, v in enumerate(vals):
        assert np.all(px[:, 8 * k:8 * k + 8, 0] == v)


def test_non_multiple_of_8_dimensions_cropped():
    # 12x10 -> 2x2 padded block grid, cropped back to the frame size
    blocks = [constant_block(v) for v in (40, 80, 160, 220)]
    _, w, h, px = parse_jpeg(encode_jpeg(12, 10, [blocks]))
    assert (w, h) == (12, 10) and px.shape == (10, 12, 1)
    assert np.all(px[:8, :8, 0] == 40)
    assert np.all(px[:8, 8:, 0] == 80)    # right column from block 1
    assert np.all(px[8:, :8, 0] == 160)   # bottom rows from block 2


def test_16bit_quant_table():
    # splice the encoder's 8-bit DQT (Pq=0, 65-byte body) into a 16-bit
    # one (Pq=1 in the HIGH nibble, 129-byte body) carrying the same
    # values — decode must be identical
    b = encode_jpeg(8, 8, [[constant_block(77)]])
    i = b.index(b"\xff\xdb")
    body = b[i + 4: i + 2 + struct.unpack_from(">H", b, i + 2)[0]]
    assert body[0] == 0x00
    wide = bytes([0x10]) + b"".join(struct.pack(">H", v) for v in body[1:])
    b16 = (b[:i] + b"\xff\xdb" + struct.pack(">H", len(wide) + 2) + wide
           + b[i + 2 + struct.unpack_from(">H", b, i + 2)[0]:])
    _, _, _, px = parse_jpeg(b16)
    assert np.all(px == 77)


def test_rejects_non_baseline_and_corrupt():
    good = encode_jpeg(8, 8, [[constant_block(1)]])
    with pytest.raises(ValueError):
        parse_jpeg(b"not a jpeg")
    with pytest.raises(ValueError):
        parse_jpeg(good[:40])  # truncated before SOS
    # flip SOF0 -> SOF2 (progressive)
    i = good.index(b"\xff\xc0")
    with pytest.raises(ValueError):
        parse_jpeg(good[:i + 1] + b"\xc2" + good[i + 2:])


# ------------------------------------------------------------ progressive

def _assert_prog_equals_baseline(width, height, comp_blocks, sampling=None,
                                 qtable=None):
    from lamapi_spark.ops.jpeg import encode_jpeg_progressive

    base = parse_jpeg(encode_jpeg(width, height, comp_blocks,
                                  sampling=sampling, qtable=qtable))
    prog = parse_jpeg(encode_jpeg_progressive(width, height, comp_blocks,
                                              sampling=sampling,
                                              qtable=qtable))
    assert base[0] == prog[0] == "JPEG"
    assert base[1:3] == prog[1:3]
    assert np.array_equal(base[3], prog[3]), (
        np.abs(base[3] - prog[3]).max())
    return prog[3]


def test_progressive_constant_blocks_match_baseline():
    # odd values exercise the DC refinement bit; negatives after the
    # -128 shift exercise the two's-complement OR reassembly
    vals = [0, 77, 128, 200, 255, 1]
    px = _assert_prog_equals_baseline(
        48, 8, [[constant_block(v) for v in vals]])
    for k, v in enumerate(vals):
        assert np.all(px[:, 8 * k:8 * k + 8, 0] == v)


def test_progressive_rich_ac_match_baseline():
    # scattered ACs: odd/even/negative magnitudes (correction bits 1/0),
    # +-1 newly-nonzero inserts, a >16 zero gap WITH history inside it
    # (stretch-accurate ZRL + corrections), and position 63
    blocks = [
        {0: 10, 1: 5, 5: -7, 17: 2, 40: 1, 63: -1},
        {0: -30, 2: 1, 30: -1},                    # inserts only
        {0: 4, 3: 9, 4: -8, 45: 3},                # history only, no inserts
        {0: 0},                                    # all-zero band (EOB run)
        {0: 7, 1: 2, 25: 1, 26: -4, 60: 1},        # gap with history inside
        {0: 0},
        {0: 0},                                    # consecutive EOB-run blocks
        {0: 12, 63: 1},                            # insert at band end
    ]
    _assert_prog_equals_baseline(64, 8, [blocks])


def test_progressive_color_420_match_baseline():
    yb = [constant_block(120), {0: -8, 7: 3}, constant_block(130),
          {0: 50, 2: -1}]
    cb = [{0: -28, 1: 2}]
    cr = [{0: 22, 10: -3}]
    _assert_prog_equals_baseline(16, 16, [yb, cb, cr],
                                 sampling=[(2, 2), (1, 1), (1, 1)])


def test_progressive_nonuniform_qtable_match_baseline():
    rng = np.random.RandomState(11)
    qt = rng.randint(1, 30, size=64).tolist()
    qt[0] = 8
    blocks = [{0: 6, 1: -3, 9: 4, 28: 1, 50: -1}, {0: -2, 33: 5}]
    _assert_prog_equals_baseline(16, 8, [blocks], qtable=qt)


def test_progressive_eob_run_spans_many_blocks():
    # 6 of 8 blocks have empty AC bands -> multi-block EOB runs in both
    # AC scans, including runs with correction bits riding the run
    blocks = ([{0: 40, 5: 9}] + [constant_block(100)] * 3
              + [{0: -10, 11: -6}] + [constant_block(20)] * 3)
    _assert_prog_equals_baseline(64, 8, [blocks])

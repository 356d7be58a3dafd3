"""Property-based (hypothesis) tests over the pure-Python WebP and JPEG
codec cores.

The fixed-profile suites (tests/test_webp.py, tests/test_jpeg.py) pin
every decoder surface on hand-picked inputs; these sweep RANDOM inputs
through random valid profile combinations so encoder/decoder
disagreements hiding between the hand-picked points get found. The
property is always exact equality: WebP lossless round-trips, and JPEG
baseline and progressive decode to the same pixels. No SparkSession —
pure numpy, runs in milliseconds per example.
"""

from __future__ import annotations

import os

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

# committed default keeps CI fast; deep one-off fuzz runs set e.g.
# HYP_EXAMPLES=1500 (how the WebP CTE packing bug was found)
_N = int(os.environ.get("HYP_EXAMPLES", "30"))

# ----------------------------------------------------------------- WebP

_WEBP_PROFILES = [
    dict(),
    dict(sub_green=True),
    dict(cache_bits=2),
    dict(lz77="dist1"),
    dict(lz77="above"),
    dict(lz77="both", cache_bits=3),
    dict(sub_green=True, color_cte=(3, -2, 5)),
    dict(palette=True),
    dict(meta_bits=2),
]


@settings(max_examples=_N, deadline=None)
@given(
    data=st.data(),
    h=st.integers(min_value=1, max_value=16),
    w=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    profile=st.sampled_from(range(len(_WEBP_PROFILES))),
    pred_mode=st.one_of(st.none(), st.integers(min_value=0, max_value=13)),
)
def test_webp_roundtrip_random(data, h, w, seed, profile, pred_mode):
    from lamapi_spark.ops.webp import encode_webp, parse_webp

    kw = dict(_WEBP_PROFILES[profile])
    if not kw.get("palette") and pred_mode is not None:
        kw["pred_mode"] = pred_mode
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    if kw.get("palette"):
        # palette path needs <= 256 distinct colors; quantize to 8
        arr = (arr // 32) * 32
        arr[:, :, 3] = 255
    fmt, ow, oh, out = parse_webp(encode_webp(arr, **kw))
    assert (fmt, ow, oh) == ("WEBP", w, h)
    assert (out.astype(np.uint8) == arr).all()


# ------------------------------------- JPEG baseline == progressive


@settings(max_examples=_N, deadline=None)
@given(
    data=st.data(),
    n_blocks=st.integers(min_value=1, max_value=6),
)
def test_jpeg_progressive_equals_baseline_random(data, n_blocks):
    """Differential oracle: the baseline and progressive encoders emit
    the SAME quantized coefficients, so the two decode paths (Huffman
    sequential vs Annex-G spectral selection + successive
    approximation) must produce bit-identical pixels for ANY
    coefficient content."""
    from lamapi_spark.ops.jpeg import (
        encode_jpeg, encode_jpeg_progressive, parse_jpeg,
    )

    blocks = []
    for _ in range(n_blocks):
        blk = {0: data.draw(st.integers(min_value=-140, max_value=140))}
        n_ac = data.draw(st.integers(min_value=0, max_value=8))
        for _ in range(n_ac):
            pos = data.draw(st.integers(min_value=1, max_value=63))
            blk[pos] = data.draw(st.integers(min_value=-120, max_value=120)
                                 .filter(lambda v: v != 0))
        blocks.append(blk)
    base = parse_jpeg(encode_jpeg(8 * n_blocks, 8, [blocks]))
    prog = parse_jpeg(encode_jpeg_progressive(8 * n_blocks, 8, [blocks]))
    assert base[0] == prog[0] == "JPEG" and base[1:3] == prog[1:3]
    assert np.array_equal(base[3], prog[3])

"""WebP lossless (VP8L) codec in pure stdlib + numpy — no image
library, same mold as ops/jpeg.py.

Round 3 documented WebP behind the "codec library" boundary; VP8L is in
fact the same kind of surface the repo already implements: an LSB-first
bitstream (like the GIF LZW reader) carrying canonical prefix codes
(DEFLATE-style, like the JPEG Huffman side), LZ77 backward references
over PIXELS (with a 120-entry 2D distance map), an optional color
cache (a 1-shot hash table of recent pixels), and four invertible
spatial transforms (14-mode per-tile prediction, cross-channel color
transform, subtract-green, palette indexing with sub-byte packing).
Everything is integer arithmetic — VP8L is LOSSLESS, so a decode of an
encode must reproduce the input pixels bit-for-bit, which is the
equivalence-oracle structure the JPEG tests use and
tests/test_webp.py exploits (every transform, prediction mode, LZ77
shape, and cache size round-trips). What remains behind the library
boundary after this: lossy WebP (VP8 intra prediction + bool coder),
MP3/OGG, H.264/VP9.

Decoder (``parse_webp``): RIFF/VP8L container, 14-bit dims, all four
transforms (applied inverse in reverse read order), meta prefix codes
(entropy image -> per-tile code groups), color cache, simple and
code-length-coded prefix codes, LZ77 with direct and 2D distance
codes. Raises ValueError on anything malformed or lossy ('VP8 '
chunks); it never returns a partial image.

Encoder (``encode_webp``): the test-corpus synthesizer. Profiles
choose transforms/LZ77/cache explicitly so tests can plant images
whose decoded pixels are known by construction. Reference analogue:
none (unimib-datAI/lamAPI is text-only). No lookup, KG or pipeline
path imports this module; only its tests do.
"""

from __future__ import annotations

# code-length-code symbol transmission order (WebP lossless spec §6.2.2,
# identical role to DEFLATE's order but a different permutation)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
              14, 15)

# 2D distance map (spec §5.2.2): plane code i+1 -> (dx, dy) neighbor
# offset; codes > 120 are direct distances minus 120. Generated from
# the spec's table.
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


class _Bits:
    """LSB-first bit reader (VP8L convention, same as GIF/DEFLATE —
    the opposite of the FLAC reader's MSB-first)."""

    __slots__ = ("d", "pos")

    def __init__(self, d: bytes):
        self.d = d
        self.pos = 0

    def bits(self, n: int) -> int:
        v = 0
        pos, d = self.pos, self.d
        if pos + n > len(d) * 8:
            raise ValueError("vp8l: truncated bitstream")
        for k in range(n):
            v |= ((d[pos >> 3] >> (pos & 7)) & 1) << k
            pos += 1
        self.pos = pos
        return v


class _Code:
    """Canonical prefix code: DEFLATE-style code assignment (codes
    ordered by (length, symbol)), read MSB-of-code-first from the
    LSB-first stream — one bit at a time, acc = (acc << 1) | bit."""

    __slots__ = ("table", "max_len", "single")

    def __init__(self, lengths: list[int]):
        used = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("vp8l: empty prefix code")
        if len(used) == 1:
            # single-symbol code: zero bits per symbol
            self.single = used[0][1]
            self.table, self.max_len = {}, 0
            return
        self.single = None
        bl_count: dict[int, int] = {}
        for l, _s in used:
            bl_count[l] = bl_count.get(l, 0) + 1
        code = 0
        next_code = {}
        for bits in range(1, max(bl_count) + 1):
            code = (code + bl_count.get(bits - 1, 0)) << 1
            next_code[bits] = code
        self.table = {}
        for l, s in sorted(used):
            self.table[(l, next_code[l])] = s
            next_code[l] += 1
        self.max_len = max(bl_count)

    def read(self, r: _Bits) -> int:
        if self.single is not None:
            return self.single
        acc = 0
        for l in range(1, self.max_len + 1):
            acc = (acc << 1) | r.bits(1)
            sym = self.table.get((l, acc))
            if sym is not None:
                return sym
        raise ValueError("vp8l: invalid prefix code")


def _read_code(r: _Bits, alphabet: int) -> _Code:
    """One prefix code: the 'simple' 1-2 symbol form or the
    code-length-coded general form (spec §6.2.2)."""
    if r.bits(1):  # simple
        num_symbols = r.bits(1) + 1
        first_8bit = r.bits(1)
        s0 = r.bits(8 if first_8bit else 1)
        lengths = [0] * alphabet
        if num_symbols == 1:
            if s0 >= alphabet:
                raise ValueError("vp8l: simple symbol out of range")
            lengths[s0] = 1
            code = _Code(lengths)
            code.single = s0  # zero-bit single-symbol code
            code.table, code.max_len = {}, 0
            return code
        s1 = r.bits(8)
        if s0 >= alphabet or s1 >= alphabet or s0 == s1:
            raise ValueError("vp8l: bad simple code symbols")
        lengths[s0] = lengths[s1] = 1
        return _Code(lengths)
    num_codes = r.bits(4) + 4
    if num_codes > len(_CLC_ORDER):
        raise ValueError("vp8l: bad code-length-code count")
    clc_len = [0] * 19
    for i in range(num_codes):
        clc_len[_CLC_ORDER[i]] = r.bits(3)
    clc = _Code(clc_len)
    # symbol code lengths via the code-length code (16=repeat prev,
    # 17/18=zero runs), optionally bounded by an explicit max_symbol
    if r.bits(1):
        length_nbits = 2 + 2 * r.bits(3)
        max_symbol = 2 + r.bits(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    sym, prev = 0, 8
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        c = clc.read(r)
        if c < 16:
            lengths[sym] = c
            sym += 1
            if c:
                prev = c
        elif c == 16:
            n = r.bits(2) + 3
            if sym + n > alphabet:
                raise ValueError("vp8l: repeat overruns alphabet")
            for _ in range(n):
                lengths[sym] = prev
                sym += 1
        else:
            n = (r.bits(3) + 3) if c == 17 else (r.bits(7) + 11)
            if sym + n > alphabet:
                raise ValueError("vp8l: zero-run overruns alphabet")
            sym += n
    return _Code(lengths)


def _prefix_value(code: int, r: _Bits) -> int:
    """LZ77 length/distance prefix decoding (spec §5.2.2): codes 0-3
    are the values 1-4; above that, (2 + (code&1)) << extra_bits plus
    extra bits plus one."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + r.bits(extra) + 1


def _plane_to_dist(plane: int, xsize: int) -> int:
    if plane > 120:
        return plane - 120
    dx, dy = _DIST_MAP[plane - 1]
    dist = dy * xsize + dx
    return dist if dist >= 1 else 1


def _cache_key(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


def _decode_entropy_coded(r: _Bits, w: int, h: int, level0: bool):
    """Spatially-coded ARGB plane (spec 'decoding entropy-coded image
    data'): color-cache bit, optional meta prefix codes (level 0 only),
    prefix-code groups, then the literal/backref/cache symbol stream.
    Returns a flat list of uint32 ARGB pixels."""
    cache_bits = r.bits(4) if r.bits(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("vp8l: bad color cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    meta = None
    huff_bits = 0
    n_groups = 1
    if level0 and r.bits(1):
        huff_bits = r.bits(3) + 2
        mw = (w + (1 << huff_bits) - 1) >> huff_bits
        mh = (h + (1 << huff_bits) - 1) >> huff_bits
        meta = _decode_entropy_coded(r, mw, mh, False)
        n_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1

    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _g in range(n_groups):
        groups.append([_read_code(r, green_alpha), _read_code(r, 256),
                       _read_code(r, 256), _read_code(r, 256),
                       _read_code(r, 40)])

    n = w * h
    out: list[int] = []
    pos = 0
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            mp = meta[(y >> huff_bits) * ((w + (1 << huff_bits) - 1)
                                          >> huff_bits) + (x >> huff_bits)]
            g = groups[(mp >> 8) & 0xFFFF]
        else:
            g = groups[0]
        s = g[0].read(r)
        if s < 256:
            red = g[1].read(r)
            blue = g[2].read(r)
            alpha = g[3].read(r)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out.append(px)
            pos += 1
            if cache is not None:
                cache[_cache_key(px, cache_bits)] = px
        elif s < 280:
            length = _prefix_value(s - 256, r)
            dist = _plane_to_dist(_prefix_value(g[4].read(r), r), w)
            if dist > pos:
                raise ValueError("vp8l: backref before start")
            for _ in range(length):
                px = out[pos - dist]
                out.append(px)
                pos += 1
                if cache is not None:
                    cache[_cache_key(px, cache_bits)] = px
            if pos > n:
                raise ValueError("vp8l: backref overruns image")
        else:
            if cache is None:
                raise ValueError("vp8l: cache symbol without cache")
            idx = s - 280
            if idx >= len(cache):
                raise ValueError("vp8l: cache index out of range")
            px = cache[idx]
            out.append(px)
            pos += 1
    return out


def _avg2(a: int, b: int) -> int:
    return (a + b) >> 1


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _sel(l: int, t: int, tl: int) -> int:
    """Predictor 11 (spec §4.2 Select): return L or T, whichever is
    Manhattan-closer to the componentwise estimate L + T - TL."""
    pl = pt = 0
    for sh in (24, 16, 8, 0):
        lc, tc, tlc = (l >> sh) & 0xFF, (t >> sh) & 0xFF, (tl >> sh) & 0xFF
        p = lc + tc - tlc
        pl += abs(p - lc)
        pt += abs(p - tc)
    return l if pl < pt else t


def _cas_half(a: int, b: int) -> int:
    """ClampAddSubtractHalf with C truncating division."""
    d = a - b
    half = d // 2 if d >= 0 else -((-d) // 2)
    return _clamp(a + half)


def _chan_op(a: int, b: int, c: int, fn) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= fn((a >> sh) & 0xFF, (b >> sh) & 0xFF, (c >> sh) & 0xFF) << sh
    return out


def _predict(mode: int, l: int, t: int, tr: int, tl: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _chan_op(l, tr, t, lambda a, b, c: _avg2(_avg2(a, b), c))
    if mode == 6:
        return _chan_op(l, tl, 0, lambda a, b, _c: _avg2(a, b))
    if mode == 7:
        return _chan_op(l, t, 0, lambda a, b, _c: _avg2(a, b))
    if mode == 8:
        return _chan_op(tl, t, 0, lambda a, b, _c: _avg2(a, b))
    if mode == 9:
        return _chan_op(t, tr, 0, lambda a, b, _c: _avg2(a, b))
    if mode == 10:
        return _chan_op(_chan_op(l, tl, 0, lambda a, b, _c: _avg2(a, b)),
                        _chan_op(t, tr, 0, lambda a, b, _c: _avg2(a, b)),
                        0, lambda a, b, _c: _avg2(a, b))
    if mode == 11:
        return _sel(l, t, tl)
    if mode == 12:
        return _chan_op(l, t, tl, lambda a, b, c: _clamp(a + b - c))
    if mode == 13:
        return _chan_op(l, t, tl, lambda a, b, c: _cas_half(_avg2(a, b), c))
    raise ValueError(f"vp8l: bad predictor mode {mode}")


def _add_px(a: int, b: int) -> int:
    """Per-channel modular addition of two ARGB words."""
    out = 0
    for sh in (24, 16, 8, 0):
        out |= (((a >> sh) + (b >> sh)) & 0xFF) << sh
    return out


def _inv_predictor(px: list[int], w: int, h: int, modes: list[int],
                   bits: int) -> None:
    """In-place inverse predictor transform: each residual gets its
    tile's prediction (from already-reconstructed neighbors) added,
    channels mod 256. Edge rules per spec: (0,0) predicts 0xff000000;
    rest of row 0 predicts L; column 0 predicts T; TR of the last
    column is the leftmost pixel of the SAME row (linear-array
    neighbor, already reconstructed)."""
    mw = (w + (1 << bits) - 1) >> bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]
            elif x == 0:
                pred = px[i - w]
            else:
                mode = (modes[(y >> bits) * mw + (x >> bits)] >> 8) & 0xFF
                tr = px[i - w + 1] if x + 1 < w else px[i + 1 - w]
                pred = _predict(mode, px[i - 1], px[i - w], tr, px[i - w - 1])
            px[i] = _add_px(px[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: signed-int8 product, arithmetic >> 5."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inv_color_transform(px: list[int], w: int, h: int, ctes: list[int],
                         bits: int) -> None:
    """Inverse cross-color transform (spec §4.3): per tile,
    green_to_red rides the CTE pixel's blue channel, green_to_blue its
    green, red_to_blue its red; the decoder ADDS the deltas (red from
    green; blue from green and the already-restored red)."""
    mw = (w + (1 << bits) - 1) >> bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            cte = ctes[(y >> bits) * mw + (x >> bits)]
            g2r, g2b, r2b = cte & 0xFF, (cte >> 8) & 0xFF, (cte >> 16) & 0xFF
            v = px[i]
            a, r, g, b = (v >> 24) & 0xFF, (v >> 16) & 0xFF, \
                (v >> 8) & 0xFF, v & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g)) & 0xFF
            b = (b + _ct_delta(r2b, r)) & 0xFF
            px[i] = (a << 24) | (r << 16) | (g << 8) | b


def _inv_subtract_green(px: list[int]) -> None:
    for i, v in enumerate(px):
        g = (v >> 8) & 0xFF
        r = (((v >> 16) & 0xFF) + g) & 0xFF
        b = ((v & 0xFF) + g) & 0xFF
        px[i] = (v & 0xFF00FF00) | (r << 16) | b


def _palette_xbits(n_colors: int) -> int:
    if n_colors <= 2:
        return 3
    if n_colors <= 4:
        return 2
    if n_colors <= 16:
        return 1
    return 0


def _inv_palette(px: list[int], w: int, h: int, palette: list[int],
                 xbits: int) -> list[int]:
    """Inverse color-indexing: green channel carries the palette index
    (sub-byte packed when the palette is small); out-of-range indices
    decode to 0 per spec."""
    out = [0] * (w * h)
    pw = (w + (1 << xbits) - 1) >> xbits
    ibits = 8 >> xbits
    mask = (1 << ibits) - 1
    for y in range(h):
        for x in range(w):
            packed = px[y * pw + (x >> xbits)]
            shift = (x & ((1 << xbits) - 1)) * ibits
            idx = ((packed >> 8) >> shift) & mask
            out[y * w + x] = palette[idx] if idx < len(palette) else 0
    return out


def parse_webp(b: bytes):
    """RIFF/WEBP VP8L -> ('WEBP', w, h, HxWx4 float64 RGBA) — see
    module docstring for supported surface. Lossy 'VP8 ' chunks raise
    ValueError (the remaining genuine codec-library boundary)."""
    import struct

    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not webp")
    pos = 12
    payload = None
    while pos + 8 <= len(b):
        tag = b[pos:pos + 4]
        size = struct.unpack("<I", b[pos + 4:pos + 8])[0]
        if pos + 8 + size > len(b):
            raise ValueError("webp: truncated chunk")
        if tag == b"VP8L":
            payload = b[pos + 8:pos + 8 + size]
            break
        if tag in (b"VP8 ", b"VP8X"):
            raise ValueError("webp: lossy/extended webp unsupported")
        pos += 8 + size + (size & 1)
    if payload is None:
        raise ValueError("webp: no VP8L chunk")
    if not payload or payload[0] != 0x2F:
        raise ValueError("vp8l: bad signature")
    r = _Bits(payload[1:])
    w = r.bits(14) + 1
    h = r.bits(14) + 1
    r.bits(1)  # alpha hint
    if r.bits(3) != 0:
        raise ValueError("vp8l: unsupported version")

    # transforms, in read order; applied inverse in reverse
    transforms = []
    cur_w = w
    seen = set()
    while r.bits(1):
        ttype = r.bits(2)
        if ttype in seen:
            raise ValueError("vp8l: duplicate transform")
        seen.add(ttype)
        if ttype == 0:  # predictor
            bits = r.bits(3) + 2
            mw = (cur_w + (1 << bits) - 1) >> bits
            mh = (h + (1 << bits) - 1) >> bits
            modes = _decode_entropy_coded(r, mw, mh, False)
            transforms.append(("pred", bits, modes))
        elif ttype == 1:  # cross-color
            bits = r.bits(3) + 2
            mw = (cur_w + (1 << bits) - 1) >> bits
            mh = (h + (1 << bits) - 1) >> bits
            ctes = _decode_entropy_coded(r, mw, mh, False)
            transforms.append(("color", bits, ctes))
        elif ttype == 2:  # subtract green
            transforms.append(("sub_green",))
        else:  # color indexing
            n_colors = r.bits(8) + 1
            deltas = _decode_entropy_coded(r, n_colors, 1, False)
            palette = []
            prev = 0
            for d in deltas:
                prev = _add_px(prev, d)
                palette.append(prev)
            xbits = _palette_xbits(n_colors)
            transforms.append(("palette", xbits, palette))
            cur_w = (cur_w + (1 << xbits) - 1) >> xbits

    px = _decode_entropy_coded(r, cur_w, h, True)
    if len(px) != cur_w * h:
        raise ValueError("vp8l: wrong pixel count")

    for t in reversed(transforms):
        if t[0] == "palette":
            px = _inv_palette(px, w, h, t[2], t[1])
            cur_w = w
        elif t[0] == "sub_green":
            _inv_subtract_green(px)
        elif t[0] == "color":
            _inv_color_transform(px, cur_w, h, t[2], t[1])
        else:
            _inv_predictor(px, cur_w, h, t[2], t[1])
    if cur_w != w:
        raise ValueError("vp8l: width not restored (missing palette)")

    arr = np.empty((h, w, 4), dtype=np.float64)
    for i, v in enumerate(px):
        y, x = divmod(i, w)
        arr[y, x, 0] = (v >> 16) & 0xFF  # R
        arr[y, x, 1] = (v >> 8) & 0xFF   # G
        arr[y, x, 2] = v & 0xFF          # B
        arr[y, x, 3] = (v >> 24) & 0xFF  # A
    return ("WEBP", w, h, arr)


# ----------------------------------------------------------- encoder side


class _BitsW:
    """LSB-first bit writer (encoder twin of _Bits)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nb = 0

    def w(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nb
        self.nb += n
        while self.nb >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nb -= 8

    def data(self) -> bytes:
        if self.nb:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nb = 0, 0
        return bytes(self.out)


def _huff_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Huffman code lengths from symbol frequencies (deterministic
    tiebreak on symbol id). Single-symbol alphabets get length 1 (one
    zero bit per emission — the decoder's canonical table reads it)."""
    import heapq

    if not freqs:
        raise ValueError("no symbols")
    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    heap = [(f, s, (s,)) for s, f in sorted(freqs.items())]
    heapq.heapify(heap)
    depth: dict[int, int] = {s: 0 for s in freqs}
    while len(heap) > 1:
        f1, t1, s1 = heapq.heappop(heap)
        f2, t2, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, min(t1, t2), s1 + s2))
    if max(depth.values()) > max_len:
        raise ValueError("huffman depth exceeds 15 (test corpus too big)")
    return depth


def _canon(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Canonical (length, code) per symbol — same assignment rule as
    the decoder's _Code. A single-symbol code emits ZERO bits (the
    decoder's convention for both the simple and the general form)."""
    if len(lengths) == 1:
        return {next(iter(lengths)): (0, 0)}
    bl: dict[int, int] = {}
    for l in lengths.values():
        bl[l] = bl.get(l, 0) + 1
    code = 0
    next_code = {}
    for bits in range(1, max(bl) + 1):
        code = (code + bl.get(bits - 1, 0)) << 1
        next_code[bits] = code
    out = {}
    for l, s in sorted((l, s) for s, l in lengths.items()):
        out[s] = (l, next_code[l])
        next_code[l] += 1
    return out


def _emit_sym(w: _BitsW, codes: dict[int, tuple[int, int]], sym: int) -> None:
    l, c = codes[sym]
    for i in range(l - 1, -1, -1):  # MSB of the code first
        w.w((c >> i) & 1, 1)


def _write_code(w: _BitsW, lengths: dict[int, int], alphabet: int) -> None:
    """Emit one prefix code: the simple form when 1-2 symbols all fit
    in 8 bits, else the code-length-coded general form (no repeat
    codes — plain per-symbol lengths; fine at test-corpus scale)."""
    syms = sorted(lengths)
    if len(syms) == 1 and syms[0] <= 255:
        w.w(1, 1)           # simple
        w.w(0, 1)           # num_symbols - 1 = 0
        if syms[0] <= 1:
            w.w(0, 1)       # 1-bit first symbol
            w.w(syms[0], 1)
        else:
            w.w(1, 1)
            w.w(syms[0], 8)
        return
    if len(syms) == 2 and syms[1] <= 255:
        w.w(1, 1)
        w.w(1, 1)
        if syms[0] <= 1:
            w.w(0, 1)
            w.w(syms[0], 1)
        else:
            w.w(1, 1)
            w.w(syms[0], 8)
        w.w(syms[1], 8)
        return
    w.w(0, 1)  # general form
    full = [lengths.get(s, 0) for s in range(alphabet)]
    clc_freq: dict[int, int] = {}
    for l in full:
        clc_freq[l] = clc_freq.get(l, 0) + 1
    clc_len = _huff_lengths(clc_freq, max_len=7)
    w.w(15, 4)  # num_codes = 19
    for s in _CLC_ORDER:
        w.w(clc_len.get(s, 0), 3)
    w.w(0, 1)  # no explicit max_symbol
    clc_codes = _canon(clc_len)
    for l in full:
        _emit_sym(w, clc_codes, l)


def _fwd_prefix(v: int):
    """value -> (prefix code, extra bit count, extra bits)."""
    if v <= 4:
        return v - 1, 0, 0
    for code in range(4, 40):
        eb = (code - 2) >> 1
        off = (2 + (code & 1)) << eb
        if off + 1 <= v <= off + (1 << eb):
            return code, eb, v - off - 1
    raise ValueError(f"prefix value {v} out of range")


def _fwd_sub_px(a: int, b: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= (((a >> sh) - (b >> sh)) & 0xFF) << sh
    return out


def _tokenize(px: list[int], w: int, cache_bits: int, lz77: str):
    """Pixel list -> symbol stream of ('lit', argb) / ('cache', idx) /
    ('ref', length, dist), mirroring the decoder's cache-insertion
    rule exactly (every produced pixel is inserted). ``lz77``: 'none',
    'dist1' (runs of the previous pixel), 'above' (runs equal to the
    pixel one row up), or 'both'."""
    cache = [None] * (1 << cache_bits) if cache_bits else None

    def insert(v: int) -> None:
        if cache is not None:
            cache[_cache_key(v, cache_bits)] = v

    dists = {"none": (), "dist1": (1,), "above": (w,),
             "both": (1, w)}[lz77]
    toks = []
    n = len(px)
    i = 0
    while i < n:
        emitted_ref = False
        for dist in dists:
            if dist > i:
                continue
            run = 0
            while i + run < n and px[i + run] == px[i + run - dist]:
                run += 1
            if run >= 3:
                toks.append(("ref", run, dist))
                for k in range(i, i + run):
                    insert(px[k])
                i += run
                emitted_ref = True
                break
        if emitted_ref:
            continue
        v = px[i]
        if cache is not None and cache[_cache_key(v, cache_bits)] == v:
            toks.append(("cache", _cache_key(v, cache_bits)))
        else:
            toks.append(("lit", v))
            insert(v)
        i += 1
    return toks


def _plane_code(dist: int, w: int) -> int:
    """distance -> plane code, preferring the 2D map for the two
    neighbor shapes the encoder emits (left: (1,0) -> code 2; above:
    (0,1) -> code 1), direct (dist + 120) otherwise."""
    if dist == 1:
        return 2
    if dist == w:
        return 1
    return dist + 120


def _group_freqs(toks, w: int, cache_bits: int, group_of=None):
    """Per-group symbol frequencies for the 5 prefix codes."""
    n_groups = 1 if group_of is None else max(group_of) + 1
    out = [[{}, {}, {}, {}, {}] for _ in range(n_groups)]

    def bump(g, which, sym):
        d = out[g][which]
        d[sym] = d.get(sym, 0) + 1

    pos = 0
    for t in toks:
        g = 0 if group_of is None else group_of[pos]
        if t[0] == "lit":
            v = t[1]
            bump(g, 0, (v >> 8) & 0xFF)
            bump(g, 1, (v >> 16) & 0xFF)
            bump(g, 2, v & 0xFF)
            bump(g, 3, (v >> 24) & 0xFF)
            pos += 1
        elif t[0] == "cache":
            bump(g, 0, 280 + t[1])
            pos += 1
        else:
            _l, length, dist = t
            bump(g, 0, 256 + _fwd_prefix(length)[0])
            bump(g, 4, _fwd_prefix(_plane_code(dist, w))[0])
            pos += length
    return out


def _emit_entropy_coded(bw: _BitsW, px: list[int], w: int, h: int,
                        level0: bool, cache_bits: int = 0,
                        lz77: str = "none", meta_bits: int = 0) -> None:
    """Encoder twin of _decode_entropy_coded: one prefix-code group by
    default; ``meta_bits`` > 0 (level 0 only) splits the canvas into
    2^meta_bits-wide tiles with one group per tile COLUMN half (left
    half group 0, right group 1) through a real entropy image."""
    bw.w(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.w(cache_bits, 4)

    group_of = None
    if level0:
        if meta_bits:
            bw.w(1, 1)
            bw.w(meta_bits - 2, 3)
            mw = (w + (1 << meta_bits) - 1) >> meta_bits
            mh = (h + (1 << meta_bits) - 1) >> meta_bits
            meta_px = [(0 if (mx < (mw + 1) // 2) else 1) << 8
                       for _my in range(mh) for mx in range(mw)]
            _emit_entropy_coded(bw, meta_px, mw, mh, False)
            group_of = [0 if ((i % w) >> meta_bits) < (mw + 1) // 2 else 1
                        for i in range(w * h)]
        else:
            bw.w(0, 1)

    toks = _tokenize(px, w, cache_bits, lz77)
    freqs = _group_freqs(toks, w, cache_bits, group_of)
    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    alphabets = (green_alpha, 256, 256, 256, 40)
    all_codes = []
    for g in freqs:
        codes = []
        for which, f in enumerate(g):
            if not f:
                f = {0: 1}  # unused code: emit a 1-symbol placeholder
            lens = _huff_lengths(f)
            _write_code(bw, lens, alphabets[which])
            codes.append(_canon(lens))
        all_codes.append(codes)

    pos = 0
    for t in toks:
        codes = all_codes[0 if group_of is None else group_of[pos]]
        if t[0] == "lit":
            v = t[1]
            _emit_sym(bw, codes[0], (v >> 8) & 0xFF)
            _emit_sym(bw, codes[1], (v >> 16) & 0xFF)
            _emit_sym(bw, codes[2], v & 0xFF)
            _emit_sym(bw, codes[3], (v >> 24) & 0xFF)
            pos += 1
        elif t[0] == "cache":
            _emit_sym(bw, codes[0], 280 + t[1])
            pos += 1
        else:
            _l, length, dist = t
            lc, leb, lex = _fwd_prefix(length)
            _emit_sym(bw, codes[0], 256 + lc)
            if leb:
                bw.w(lex, leb)
            dc, deb, dex = _fwd_prefix(_plane_code(dist, w))
            _emit_sym(bw, codes[4], dc)
            if deb:
                bw.w(dex, deb)
            pos += length


def _fwd_predictor(px: list[int], w: int, h: int, mode: int) -> list[int]:
    """Forward predictor transform with one fixed mode for every tile:
    residual = pixel - prediction (channels mod 256), predictions from
    the ORIGINAL pixels (exactly what the decoder reconstructs)."""
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]
            elif x == 0:
                pred = px[i - w]
            else:
                tr = px[i - w + 1] if x + 1 < w else px[i + 1 - w]
                pred = _predict(mode, px[i - 1], px[i - w], tr, px[i - w - 1])
            out[i] = _fwd_sub_px(px[i], pred)
    return out


def _fwd_color(px: list[int], cte: tuple[int, int, int]) -> list[int]:
    """Forward cross-color transform with one fixed element for every
    tile; inverse of _inv_color_transform's per-pixel adds."""
    g2r, g2b, r2b = cte
    out = []
    for v in px:
        a, r, g, b = (v >> 24) & 0xFF, (v >> 16) & 0xFF, \
            (v >> 8) & 0xFF, v & 0xFF
        nr = (r - _ct_delta(g2r, g)) & 0xFF
        nb = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
        out.append((a << 24) | (nr << 16) | (g << 8) | nb)
    return out


def encode_webp(rgba, *, sub_green: bool = False, pred_mode: int | None = None,
                color_cte: tuple[int, int, int] | None = None,
                palette: bool = False, cache_bits: int = 0,
                lz77: str = "none", meta_bits: int = 0,
                transform_bits: int = 4) -> bytes:
    """RGBA array (h, w, 4 uint8) -> lossless WebP bytes.

    Profile knobs pick the decoder surface to exercise: subtract-green,
    a fixed-mode predictor transform, a fixed-element color transform,
    palette indexing (auto sub-byte packing; image must have <= 256
    distinct colors), a color cache, LZ77 runs ('dist1' / 'above' /
    'both'), and a 2-group entropy image (``meta_bits``). ``palette``
    excludes the other spatial transforms. Transforms are written (and
    therefore applied forward) in the order sub_green, color,
    predictor, palette — the decoder inverts in reverse."""
    import numpy as np

    arr = np.asarray(rgba, dtype=np.uint8)
    h, w = arr.shape[0], arr.shape[1]
    if h < 1 or w < 1 or h > 16384 or w > 16384:
        raise ValueError("bad dimensions")
    px = [(int(p[3]) << 24) | (int(p[0]) << 16) | (int(p[1]) << 8) | int(p[2])
          for row in arr for p in row]
    if palette and (sub_green or pred_mode is not None or color_cte):
        raise ValueError("palette profile excludes other transforms")

    bw = _BitsW()
    bw.w(w - 1, 14)
    bw.w(h - 1, 14)
    bw.w(int((arr[:, :, 3] != 255).any()), 1)
    bw.w(0, 3)  # version

    cur_w = w
    if sub_green:
        bw.w(1, 1)
        bw.w(2, 2)
        for i, v in enumerate(px):
            g = (v >> 8) & 0xFF
            r = (((v >> 16) & 0xFF) - g) & 0xFF
            b = ((v & 0xFF) - g) & 0xFF
            px[i] = (v & 0xFF00FF00) | (r << 16) | b
    if color_cte is not None:
        bw.w(1, 1)
        bw.w(1, 2)
        bw.w(transform_bits - 2, 3)
        mw = (cur_w + (1 << transform_bits) - 1) >> transform_bits
        mh = (h + (1 << transform_bits) - 1) >> transform_bits
        g2r, g2b, r2b = color_cte
        # mask to uint8: elements are SIGNED int8 (e.g. -2 = 0xFE); an
        # unmasked negative would corrupt the packed CTE pixel
        # (hypothesis-found, tests/test_property.py)
        cte_px = [(0xFF << 24) | ((r2b & 0xFF) << 16)
                  | ((g2b & 0xFF) << 8) | (g2r & 0xFF)] * (mw * mh)
        _emit_entropy_coded(bw, cte_px, mw, mh, False)
        px = _fwd_color(px, color_cte)
    if pred_mode is not None:
        bw.w(1, 1)
        bw.w(0, 2)
        bw.w(transform_bits - 2, 3)
        mw = (cur_w + (1 << transform_bits) - 1) >> transform_bits
        mh = (h + (1 << transform_bits) - 1) >> transform_bits
        _emit_entropy_coded(bw, [(0xFF << 24) | (pred_mode << 8)] * (mw * mh),
                            mw, mh, False)
        px = _fwd_predictor(px, cur_w, h, pred_mode)
    if palette:
        colors: list[int] = []
        index: dict[int, int] = {}
        for v in px:
            if v not in index:
                index[v] = len(colors)
                colors.append(v)
        if len(colors) > 256:
            raise ValueError("palette profile needs <= 256 colors")
        bw.w(1, 1)
        bw.w(3, 2)
        bw.w(len(colors) - 1, 8)
        deltas, prev = [], 0
        for c in colors:
            deltas.append(_fwd_sub_px(c, prev))
            prev = c
        _emit_entropy_coded(bw, deltas, len(colors), 1, False)
        xbits = _palette_xbits(len(colors))
        ibits = 8 >> xbits
        pw = (w + (1 << xbits) - 1) >> xbits
        packed = [0] * (pw * h)
        for y in range(h):
            for x in range(w):
                shift = (x & ((1 << xbits) - 1)) * ibits
                packed[y * pw + (x >> xbits)] |= \
                    (index[px[y * w + x]] << shift) << 8
        px, cur_w = packed, pw
    bw.w(0, 1)  # no more transforms

    _emit_entropy_coded(bw, px, cur_w, h, True, cache_bits=cache_bits,
                        lz77=lz77, meta_bits=meta_bits)

    payload = b"\x2f" + bw.data()
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff

"""Baseline + progressive JPEG (ITU-T T.81) codec in stdlib + numpy —
no image library.

Round 3 documented JPEG behind a "codec library" boundary next to PNG;
round 4 moved PNG out (zlib + integer filters), then JPEG: the entropy
coder is canonical Huffman over (run, size) symbols — pure bit
arithmetic — and the transform is a fixed 8x8 DCT basis, one float64
matrix product per block. Progressive streams (SOF2 — the dominant web
JPEG variant) add spectral selection + successive approximation per
T.81 Annex G, which is more bit arithmetic over the same coefficient
store. What stays behind the boundary is the genuinely library-shaped
surface (arithmetic-coded/hierarchical JPEG, WebP/VP8, MP3/OGG,
H.264/VP9).

Decoder (``parse_jpeg``) supports SOF0/SOF1 (baseline/extended
sequential) and SOF2 (progressive: DC first/refine interleaved or
single-component, AC first/refine with EOB runs and in-run correction
bits), 8-bit samples, 1 component (grayscale) or 3 (YCbCr, any of
4:4:4 / 4:2:2 / 4:2:0 — chroma upsampled by pixel replication),
restart markers, 8- and 16-bit quantization tables. Arithmetic coding
(SOF9+), hierarchical/lossless, 12-bit precision, and CMYK raise
ValueError; the decoder never returns a partial image.

Encoders (``encode_jpeg``, ``encode_jpeg_progressive``) are the
test-corpus synthesizers: they take PER-BLOCK quantized coefficients
directly (no FDCT), so tests can plant coefficient patterns
whose decoded pixels are known BY CONSTRUCTION — e.g. a constant 8x8
block with DC quant step 8 decodes bit-exactly to its source value
(DC = 8*(v-128), quantized losslessly by step 8, IDCT of a DC-only
block is constant), so expected pixels follow from integer arithmetic
without running this decoder. The two encoders also give the progressive
decoder a perfect equivalence oracle: both encode the SAME
coefficients, so their decodes must be bit-identical
(tests/test_jpeg.py).

Reference analogue: none (unimib-datAI/lamAPI is text-only). No lookup,
KG or pipeline path imports this module; only its tests do.
"""

from __future__ import annotations

import struct

# zigzag position -> natural (row-major) coefficient index, generated by
# the diagonal walk (odd diagonals run top-right -> bottom-left).
_ZIGZAG: list[int] = []
for _s in range(15):
    _rs = range(max(0, _s - 7), min(7, _s) + 1)
    for _r in (_rs if _s % 2 else reversed(list(_rs))):
        _ZIGZAG.append(_r * 8 + (_s - _r))
del _s, _rs, _r


def _idct_basis():
    """A[u, x] = c(u)/2 * cos((2x+1) u pi / 16); spatial = A.T @ F @ A."""
    import numpy as np

    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    a[0, :] *= 1 / np.sqrt(2.0)
    return a


class _Huffman:
    """Canonical Huffman table from a DHT (16 length counts + symbols),
    decoded MSB-first with the mincode/maxcode/valptr walk (T.81 F.16)."""

    def __init__(self, counts, symbols):
        self.symbols = symbols
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = k = 0
        for ln in range(1, 17):
            if counts[ln - 1]:
                self.valptr[ln] = k
                self.mincode[ln] = code
                code += counts[ln - 1]
                k += counts[ln - 1]
                self.maxcode[ln] = code - 1
            code <<= 1
        if k != len(symbols):
            raise ValueError("DHT count/symbol mismatch")


class _BitReader:
    """MSB-first bit reader over one destuffed entropy-coded segment."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.cur = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.d):
                raise ValueError("entropy data exhausted")
            self.cur = self.d[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def huff(self, tbl: _Huffman) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            if tbl.maxcode[ln] >= code >= tbl.mincode[ln]:
                return tbl.symbols[tbl.valptr[ln] + code - tbl.mincode[ln]]
        raise ValueError("invalid Huffman code")

    def receive_extend(self, s: int) -> int:
        """T.81 F.12: s magnitude bits; values below 2^(s-1) are the
        negative branch."""
        if s == 0:
            return 0
        v = self.bits(s)
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _split_scan(b: bytes, pos: int):
    """Destuff the entropy-coded data starting at ``pos``: 0xFF00 ->
    0xFF; RSTn markers split segments (DC predictors reset per segment);
    any other marker ends the scan. Returns ([bytes, ...], end_pos)."""
    segs = [bytearray()]
    n = len(b)
    while pos < n:
        c = b[pos]
        if c != 0xFF:
            segs[-1].append(c)
            pos += 1
            continue
        m = b[pos + 1] if pos + 1 < n else 0xD9
        if m == 0x00:
            segs[-1].append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytearray())
            pos += 2
        else:
            break
    return [bytes(s) for s in segs], pos


class _ScanState:
    """Mutable entropy state for one scan: segment-switching reader
    (restart markers), DC predictors, and the progressive EOB run."""

    def __init__(self, segs, n_comps):
        self.segs = segs
        self.seg_idx = 0
        self.reader = _BitReader(segs[0])
        self.preds = [0] * n_comps
        self.eobrun = 0

    def maybe_restart(self, unit_no: int, per_seg: int) -> None:
        if unit_no and unit_no % per_seg == 0 and self.seg_idx + 1 < len(self.segs):
            self.seg_idx += 1
            self.reader = _BitReader(self.segs[self.seg_idx])
            self.preds = [0] * len(self.preds)
            self.eobrun = 0


def _decode_dc(st: _ScanState, dc: _Huffman, coef, ci: int, ah: int, al: int):
    """Progressive DC: first scan (ah=0) decodes a sequential diff and
    stores it point-transformed left by al; refinement ORs one bit."""
    if ah == 0:
        t = st.reader.huff(dc)
        if t > 15:
            raise ValueError("bad DC category")
        st.preds[ci] += st.reader.receive_extend(t)
        coef[0] = st.preds[ci] << al
    else:
        coef[0] |= st.reader.bit() << al


def _decode_ac_first(st: _ScanState, ac: _Huffman, coef, ss, se, al):
    """Progressive AC first scan (T.81 G.1.2.2): band [ss, se], values
    point-transformed left by al, EOB runs span whole blocks."""
    if st.eobrun > 0:
        st.eobrun -= 1
        return
    k = ss
    while k <= se:
        rs = st.reader.huff(ac)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            st.eobrun = (1 << r) - 1
            if r:
                st.eobrun += st.reader.bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        coef[k] = st.reader.receive_extend(s) << al
        k += 1


def _decode_ac_refine(st: _ScanState, ac: _Huffman, coef, ss, se, al):
    """Progressive AC refinement (T.81 G.1.2.3): newly nonzero
    coefficients arrive as +-1<<al; already-nonzero coefficients in
    traversed positions receive one correction bit each — including
    inside EOB runs (libjpeg jdphuff decode_mcu_AC_refine shape)."""
    p1, m1 = 1 << al, -1 << al

    def correct(k: int) -> None:
        if st.reader.bit() and (coef[k] & p1) == 0:
            coef[k] += p1 if coef[k] > 0 else m1

    k = ss
    if st.eobrun == 0:
        while k <= se:
            rs = st.reader.huff(ac)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    st.eobrun = 1 << r
                    if r:
                        st.eobrun += st.reader.bits(r)
                    break
                newval = 0  # ZRL: advance 16 zero-history positions
            elif s == 1:
                newval = p1 if st.reader.bit() else m1
            else:
                raise ValueError("bad refinement size")
            while k <= se:
                if coef[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                coef[k] = newval
            k += 1
    if st.eobrun > 0:
        while k <= se:
            if coef[k] != 0:
                correct(k)
            k += 1
        st.eobrun -= 1


def parse_jpeg(b: bytes):
    """Baseline (SOF0/SOF1) or progressive (SOF2) JPEG -> ('JPEG', w, h,
    HxWxC float64 of integer samples in 0..255). C = 1 (grayscale) or 3
    (RGB via BT.601 YCbCr inverse, chroma replicated up). Raises
    ValueError on non-JPEG or unsupported profiles (arithmetic coding,
    hierarchical, 12-bit, CMYK).

    Both profiles decode through one architecture: every scan
    accumulates quantized coefficients into per-component block stores
    (baseline is the degenerate single full-band scan), then one
    reconstruction pass dequantizes + IDCTs. Progressive scans implement
    spectral selection and successive approximation per T.81 Annex G —
    DC first/refine (interleaved or single-component), AC first/refine
    (single-component, EOB runs, with correction bits inside EOB runs).

    Deviations from libjpeg, documented: the IDCT is the exact float64
    basis product (libjpeg's default is a scaled-integer AAN
    approximation), sample rounding is IEEE round-half-to-even (libjpeg
    descales half-up), and chroma upsampling is pixel replication
    (libjpeg's default is 'fancy' triangular interpolation) — all three
    differ by at most one code value on real images and by nothing on
    the exact-by-construction contract corpora."""
    import numpy as np

    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        raise ValueError("not jpeg")
    qtables: dict[int, "np.ndarray"] = {}
    huff_dc: dict[int, _Huffman] = {}
    huff_ac: dict[int, _Huffman] = {}
    frame = None  # (h, w, [(cid, hi, vi, tq), ...], progressive)
    geom = None   # set on first SOS: (hmax, vmax, mcux, mcuy, coefs, cb)
    restart_interval = 0
    saw_scan = False
    pos = 2
    n = len(b)
    while pos + 4 <= n:
        if b[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        length = struct.unpack_from(">H", b, pos + 2)[0]
        body = b[pos + 4: pos + 2 + length]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq not in (0, 1):
                    raise ValueError("bad DQT precision")
                cnt = 64 * (2 if pq else 1)
                raw = body[i: i + cnt]
                vals = (np.frombuffer(raw, dtype=">u2") if pq
                        else np.frombuffer(raw, dtype=np.uint8))
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = vals.astype(np.int64)  # de-zigzag
                qtables[tq] = tbl.reshape(8, 8)
                i += cnt
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                counts = list(body[i + 1: i + 17])
                nsym = sum(counts)
                symbols = list(body[i + 17: i + 17 + nsym])
                (huff_ac if tc else huff_dc)[th] = _Huffman(counts, symbols)
                i += 17 + nsym
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog.
            prec, fh, fw, nf = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nf not in (1, 3):
                raise ValueError("only 1 (gray) or 3 (YCbCr) components")
            comps = []
            for ci in range(nf):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * ci)
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (fh, fw, comps, marker == 0xC2)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG profile (arithmetic/"
                             "hierarchical/lossless)")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            fh, fw, comps, progressive = frame
            if geom is None:
                if not fh or not fw:
                    raise ValueError("empty image")
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                if hmax < 1 or vmax < 1 or any(
                        c[1] < 1 or c[2] < 1 or hmax % c[1] or vmax % c[2]
                        for c in comps):
                    raise ValueError("unsupported sampling factors")
                mcux = -(-fw // (8 * hmax))
                mcuy = -(-fh // (8 * vmax))
                # quantized coefficients in ZIGZAG order, padded grid
                coefs = [np.zeros((mcuy * c[2], mcux * c[1], 64),
                                  dtype=np.int64) for c in comps]
                # non-interleaved scans cover the component's OWN ceil
                # grid, which can be smaller than the padded MCU grid

                def _ceil(a, d):
                    return -(-a // d)

                cb = [(_ceil(_ceil(fh * c[2], vmax), 8),
                       _ceil(_ceil(fw * c[1], hmax), 8)) for c in comps]
                geom = (hmax, vmax, mcux, mcuy, coefs, cb)
            hmax, vmax, mcux, mcuy, coefs, cb = geom
            ns = body[0]
            sel = []
            for si in range(ns):
                cs, tdta = body[1 + 2 * si], body[2 + 2 * si]
                idx = next((k for k, c in enumerate(comps) if c[0] == cs),
                           None)
                if idx is None:
                    raise ValueError("SOS references unknown component")
                sel.append((idx, tdta >> 4, tdta & 15))
            ss, se, ahal = struct.unpack_from(">BBB", body, 1 + 2 * ns)
            ah, al = ahal >> 4, ahal & 15
            if not progressive:
                if ns != len(comps):
                    raise ValueError("non-interleaved sequential scans "
                                     "unsupported")
                ss, se, ah, al = 0, 63, 0, 0
            segs, pos = _split_scan(b, pos + 2 + length)
            st = _ScanState(segs, len(comps))
            # --- dispatch the scan ---
            if ss == 0 and se != 0 and progressive:
                raise ValueError("progressive scan mixes DC and AC")
            if ss > 0 and ns != 1:
                raise ValueError("interleaved AC scan")
            if not progressive or ns > 1:
                # interleaved (sequential always is — ns == nf was
                # enforced above, and nf == 1 degenerates to the padded
                # raster): full blocks (sequential) or DC first/refine
                # (progressive)
                per_seg = restart_interval if restart_interval else (
                    mcux * mcuy)
                mcu_no = 0
                for my in range(mcuy):
                    for mx in range(mcux):
                        st.maybe_restart(mcu_no, per_seg)
                        for (ci, td, ta) in sel:
                            _, hi, vi, _tq = comps[ci]
                            for by in range(vi):
                                for bx in range(hi):
                                    coef = coefs[ci][my * vi + by,
                                                     mx * hi + bx]
                                    if not progressive:
                                        if td not in huff_dc or ta not in huff_ac:
                                            raise ValueError("missing Huffman table")
                                        _decode_block(st, huff_dc[td],
                                                      huff_ac[ta], coef, ci)
                                    else:
                                        if ah == 0 and td not in huff_dc:
                                            raise ValueError("missing Huffman table")
                                        _decode_dc(st, huff_dc.get(td), coef,
                                                   ci, ah, al)
                        mcu_no += 1
            else:
                ci, td, ta = sel[0]
                cbh, cbw = cb[ci]
                per_seg = restart_interval if restart_interval else (
                    cbh * cbw)
                for bno in range(cbh * cbw):
                    st.maybe_restart(bno, per_seg)
                    coef = coefs[ci][bno // cbw, bno % cbw]
                    if ss == 0:
                        if ah == 0 and td not in huff_dc:
                            raise ValueError("missing Huffman table")
                        _decode_dc(st, huff_dc.get(td), coef, ci, ah, al)
                    elif ah == 0:
                        if ta not in huff_ac:
                            raise ValueError("missing Huffman table")
                        _decode_ac_first(st, huff_ac[ta], coef, ss, se, al)
                    else:
                        if ta not in huff_ac:
                            raise ValueError("missing Huffman table")
                        _decode_ac_refine(st, huff_ac[ta], coef, ss, se, al)
            saw_scan = True
            continue  # pos already advanced past the scan
        # APPn / COM / DNL / anything else: skip by length
        pos += 2 + length
    if frame is None or not saw_scan:
        raise ValueError("missing SOF/SOS")

    fh, fw, comps, _progressive = frame
    hmax, vmax, mcux, mcuy, coefs, cb = geom
    basis = _idct_basis()
    planes = []
    for ci, c in enumerate(comps):
        _, hi, vi, tq = c
        if tq not in qtables:
            raise ValueError("missing quant table")
        plane = np.zeros((mcuy * vi * 8, mcux * hi * 8))
        for by in range(mcuy * vi):
            for bx in range(mcux * hi):
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = _dequant_idct(
                    coefs[ci][by, bx], qtables[tq], basis)
        planes.append(plane)
    ups = []
    for (c, plane) in zip(comps, planes):
        sy, sx = vmax // c[2], hmax // c[1]
        if sy > 1:
            plane = plane.repeat(sy, axis=0)
        if sx > 1:
            plane = plane.repeat(sx, axis=1)
        ups.append(plane[:fh, :fw])
    if len(ups) == 1:
        px = ups[0][:, :, None]
    else:
        y, cb, cr = ups
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        bch = y + 1.772 * (cb - 128.0)
        px = np.stack([r, g, bch], axis=2)
    # integer output samples, like every hardware/library decoder
    return "JPEG", fw, fh, np.clip(np.round(px), 0, 255)


def _decode_block(st: "_ScanState", dc: _Huffman, ac: _Huffman,
                  coef, ci: int) -> None:
    """Sequential full-band block decode into ``coef`` (ZIGZAG order;
    coef[0] = absolute DC after the differential predictor)."""
    reader = st.reader
    t = reader.huff(dc)
    if t > 15:
        raise ValueError("bad DC category")
    st.preds[ci] += reader.receive_extend(t)
    coef[0] = st.preds[ci]
    k = 1
    while k < 64:
        rs = reader.huff(ac)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past block end")
        coef[k] = reader.receive_extend(s)
        k += 1


def _dequant_idct(coef, qtable, basis):
    """Zigzag coefficients -> dequantized natural order -> level-shifted
    spatial block (float64, not yet rounded)."""
    import numpy as np

    f = np.zeros(64)
    f[_ZIGZAG] = coef
    f = f.reshape(8, 8) * qtable
    return basis.T @ f @ basis + 128.0


# --------------------------------------------------------------- encoder

# Tiny valid canonical tables for the synthesizer (NOT the T.81 Annex K
# defaults — these are minimal): DC categories 0..11 all at code length
# 4 (12 <= 2^4, Kraft-valid); every AC (run, size) symbol with size
# 1..10 plus EOB/ZRL at code length 8 (162 <= 2^8). The decoder builds
# whatever tables the DHT declares, so exotic-but-valid tables also
# exercise its canonical-code walk away from the usual Annex K shapes.
_ENC_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_SYMBOLS = list(range(12))
# includes the EOBn symbols (r<<4, r=1..14) used by progressive EOB runs
_ENC_AC_SYMBOLS = [r << 4 for r in range(16)] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_ENC_AC_COUNTS = [0] * 7 + [len(_ENC_AC_SYMBOLS)] + [0] * 8


def _canonical_codes(counts, symbols):
    codes = {}
    code = k = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            codes[symbols[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.cur = (self.cur << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                if self.cur == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.cur = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)  # pad 1s
        return bytes(self.out)


def _category(v: int) -> int:
    return abs(v).bit_length()


def encode_jpeg(width: int, height: int, comp_blocks, sampling=None,
                qtable=None, restart_interval: int = 0) -> bytes:
    """Synthesize a baseline JPEG from QUANTIZED coefficient blocks
    (no FDCT — the coefficients ARE the payload, so decoded pixels are
    known by construction).

    ``comp_blocks``: list per component; each component is a list of
    8x8 blocks in MCU-interleaved order, each block a dict
    {zigzag_position: quantized_coefficient} (position 0 = DC).
    ``sampling``: list of (h, v) per component (default all (1, 1)).
    ``qtable``: 64 ints in NATURAL order (default: DC step 8, AC step 1
    — the lossless-for-constant-blocks table the contract corpora use).
    """
    nf = len(comp_blocks)
    sampling = sampling or [(1, 1)] * nf
    if qtable is None:
        qtable = [8] + [1] * 63
    zz_q = bytes(qtable[_ZIGZAG[i]] for i in range(64))
    dc_codes = _canonical_codes(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ac_codes = _canonical_codes(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + zz_q)
    sof = struct.pack(">BHHB", 8, height, width, nf)
    for ci in range(nf):
        h, v = sampling[ci]
        sof += struct.pack(">BBB", ci + 1, (h << 4) | v, 0)
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00] + _ENC_DC_COUNTS) + bytes(_ENC_DC_SYMBOLS))
    out += seg(0xC4, bytes([0x10] + _ENC_AC_COUNTS) + bytes(_ENC_AC_SYMBOLS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nf]) + b"".join(
        struct.pack(">BB", ci + 1, 0x00) for ci in range(nf)
    ) + b"\x00\x3f\x00"
    out += seg(0xDA, sos)

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    n_mcus = mcux * mcuy
    per_seg = restart_interval if restart_interval else n_mcus

    def emit_block(w: _BitWriter, blk, pred: int) -> int:
        dc = blk.get(0, 0)
        diff = dc - pred
        t = _category(diff)
        w.write(*dc_codes[t])
        if t:
            w.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        last = max((k for k in blk if k and blk[k]), default=0)
        k = 1
        while k <= last:
            run = 0
            while blk.get(k, 0) == 0:
                run += 1
                k += 1
            while run >= 16:
                w.write(*ac_codes[0xF0])
                run -= 16
            v = blk[k]
            s = _category(v)
            w.write(*ac_codes[(run << 4) | s])
            w.write(v if v >= 0 else v + (1 << s) - 1, s)
            k += 1
        if last < 63:
            w.write(*ac_codes[0x00])
        return dc

    counters = [0] * nf
    preds = [0] * nf
    writer = _BitWriter()
    for m in range(n_mcus):
        if restart_interval and m and m % per_seg == 0:
            out += writer.flush()
            out += bytes([0xFF, 0xD0 + ((m // per_seg - 1) % 8)])
            writer = _BitWriter()
            preds = [0] * nf
        for ci in range(nf):
            h, v = sampling[ci]
            for _ in range(h * v):
                preds[ci] = emit_block(
                    writer, comp_blocks[ci][counters[ci]], preds[ci])
                counters[ci] += 1
    out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


def constant_block(v: int) -> dict:
    """Quantized coefficients of a constant 8x8 block of value ``v``
    under the default qtable (DC step 8): DC = 8*(v-128)/8 = v-128,
    all AC zero — decodes bit-exactly back to ``v``."""
    return {0: v - 128}


def encode_jpeg_progressive(width: int, height: int, comp_blocks,
                            sampling=None, qtable=None) -> bytes:
    """Synthesize a PROGRESSIVE (SOF2) JPEG from the same quantized
    coefficient blocks ``encode_jpeg`` takes, with a four-stage scan
    script exercising every progressive decode path:

      1. DC first scan   — interleaved, successive approximation Al=1
      2. DC refinement   — interleaved, Ah=1 Al=0 (one raw bit/block)
      3. AC first scan   — per component, band 1..63, Al=1 (EOB runs)
      4. AC refinement   — per component, Ah=1 Al=0 (newly nonzero
         +-1 insertion + correction bits, incl. after-EOB corrections)

    Point transforms follow T.81: DC uses arithmetic shift (two's
    complement, so the refinement bit is v & 1 and the decoder's OR
    reassembles negatives exactly); AC uses division truncating toward
    zero (refinement direction follows the coefficient's sign).

    Restriction (asserted): the padded MCU grid must equal every
    component's own ceil block grid (true whenever width and height are
    multiples of 8*hmax / 8*vmax, and always for grayscale), because
    ``comp_blocks`` arrives in interleaved MCU order and AC scans
    traverse the component raster."""
    nf = len(comp_blocks)
    sampling = sampling or [(1, 1)] * nf
    if qtable is None:
        qtable = [8] + [1] * 63
    zz_q = bytes(qtable[_ZIGZAG[i]] for i in range(64))
    dc_codes = _canonical_codes(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ac_codes = _canonical_codes(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    def _ceil(a, d):
        return -(-a // d)

    # interleaved MCU order -> per-component block grids
    grids = []
    for ci in range(nf):
        h, v = sampling[ci]
        cbh = _ceil(_ceil(height * v, vmax), 8)
        cbw = _ceil(_ceil(width * h, hmax), 8)
        assert (cbh, cbw) == (mcuy * v, mcux * h), (
            "progressive synth needs padded == component grid")
        grids.append([[None] * cbw for _ in range(cbh)])
    counters = [0] * nf
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(nf):
                h, v = sampling[ci]
                for by in range(v):
                    for bx in range(h):
                        grids[ci][my * v + by][mx * h + bx] = (
                            comp_blocks[ci][counters[ci]])
                        counters[ci] += 1

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + zz_q)
    sof = struct.pack(">BHHB", 8, height, width, nf)
    for ci in range(nf):
        h, v = sampling[ci]
        sof += struct.pack(">BBB", ci + 1, (h << 4) | v, 0)
    out += seg(0xC2, sof)  # SOF2: progressive
    out += seg(0xC4, bytes([0x00] + _ENC_DC_COUNTS) + bytes(_ENC_DC_SYMBOLS))
    out += seg(0xC4, bytes([0x10] + _ENC_AC_COUNTS) + bytes(_ENC_AC_SYMBOLS))

    def sos_header(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)]) + b"".join(
            struct.pack(">BB", cid, 0x00) for cid in comp_ids
        ) + bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    def emit_amplitude(w, v):
        t = _category(v)
        if t:
            w.write(v if v >= 0 else v + (1 << t) - 1, t)
        return t

    # --- scan 1: DC first (interleaved, Al=1; arithmetic shift) ---
    out += sos_header([ci + 1 for ci in range(nf)], 0, 0, 0, 1)
    w = _BitWriter()
    preds = [0] * nf
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(nf):
                h, v = sampling[ci]
                for by in range(v):
                    for bx in range(h):
                        dc = grids[ci][my * v + by][mx * h + bx].get(0, 0)
                        sh = dc >> 1  # arithmetic shift per T.81 DC rule
                        diff = sh - preds[ci]
                        preds[ci] = sh
                        w.write(*dc_codes[_category(diff)])
                        emit_amplitude(w, diff)
    out += w.flush()

    # --- scan 2: DC refinement (interleaved, Ah=1 Al=0: raw LSB) ---
    out += sos_header([ci + 1 for ci in range(nf)], 0, 0, 1, 0)
    w = _BitWriter()
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(nf):
                h, v = sampling[ci]
                for by in range(v):
                    for bx in range(h):
                        dc = grids[ci][my * v + by][mx * h + bx].get(0, 0)
                        w.write(dc & 1, 1)
    out += w.flush()

    for ci in range(nf):
        rows = grids[ci]
        blocks = [blk for row in rows for blk in row]

        # --- scan 3 (per comp): AC first, band 1..63, Al=1 (trunc/2) ---
        out += sos_header([ci + 1], 1, 63, 0, 1)
        w = _BitWriter()
        eobrun = 0

        def flush_eobrun_first(w):
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                w.write(*ac_codes[r << 4])
                if r:
                    w.write(eobrun - (1 << r), r)
                eobrun = 0

        for blk in blocks:
            tvals = {k: int(blk[k] / 2) if blk[k] > 0 else -(-blk[k] // 2)
                     for k in blk if k > 0}
            tvals = {k: v for k, v in tvals.items() if v}
            last = max(tvals, default=0)
            if last == 0:
                eobrun += 1  # whole band zero: extend the EOB run
                if eobrun == 0x7FFF:
                    flush_eobrun_first(w)
                continue
            flush_eobrun_first(w)
            k, run = 1, 0
            while k <= last:
                v = tvals.get(k, 0)
                if v == 0:
                    run += 1
                else:
                    while run >= 16:
                        w.write(*ac_codes[0xF0])
                        run -= 16
                    s = _category(v)
                    w.write(*ac_codes[(run << 4) | s])
                    emit_amplitude(w, v)
                    run = 0
                k += 1
            if last < 63:
                eobrun = 1  # this block's EOB starts a fresh run
        flush_eobrun_first(w)
        out += w.flush()

        # --- scan 4 (per comp): AC refinement, Ah=1 Al=0 ---
        out += sos_header([ci + 1], 1, 63, 1, 0)
        w = _BitWriter()
        eobrun = 0
        runbits = []  # correction bits buffered across the EOB run

        def flush_eobrun_refine(w):
            nonlocal eobrun, runbits
            if eobrun:
                r = eobrun.bit_length() - 1
                w.write(*ac_codes[r << 4])
                if r:
                    w.write(eobrun - (1 << r), r)
            for bit in runbits:
                w.write(bit, 1)
            eobrun = 0
            runbits = []

        for blk in blocks:
            history = {k: int(blk[k] / 2) if blk[k] > 0 else -(-blk[k] // 2)
                       for k in blk if k > 0}
            history = {k: v for k, v in history.items() if v}
            new_ks = [k for k in range(1, 64)
                      if k not in history and blk.get(k, 0)]
            if not new_ks:
                # no newly nonzero coefficient: the block joins the EOB
                # run; its correction bits ride the run's bit buffer
                eobrun += 1
                runbits.extend(abs(blk.get(k, 0)) & 1 for k in sorted(history))
                if eobrun == 0x7FFF:
                    flush_eobrun_refine(w)
                continue
            flush_eobrun_refine(w)
            # events since the last emitted symbol, in k order:
            # None = zero-history position (counts toward the run),
            # 0/1 = correction bit for an already-nonzero position.
            # ZRL flushing must stay STRETCH-ACCURATE: each ZRL carries
            # only the correction bits interleaved within ITS 16 skipped
            # zero-history positions (the decoder reads them during that
            # stretch's walk, then expects the next Huffman symbol).
            events = []
            last_placed = 0
            for k in range(1, 64):
                v = blk.get(k, 0)
                if k in history:
                    events.append(abs(v) & 1)
                elif v != 0:
                    assert v in (1, -1), "refinement insert must be +-1"
                    while sum(1 for e in events if e is None) >= 16:
                        stretch, zseen = [], 0
                        while zseen < 16:
                            e = events.pop(0)
                            stretch.append(e)
                            if e is None:
                                zseen += 1
                        w.write(*ac_codes[0xF0])
                        for e in stretch:
                            if e is not None:
                                w.write(e, 1)
                    run = sum(1 for e in events if e is None)
                    w.write(*ac_codes[(run << 4) | 1])
                    w.write(1 if v > 0 else 0, 1)
                    for e in events:
                        if e is not None:
                            w.write(e, 1)
                    events = []
                    last_placed = k
                else:
                    events.append(None)
            if not (last_placed == 63 and not events):
                eobrun = 1  # this block's EOB starts a fresh run
                runbits.extend(e for e in events if e is not None)
        flush_eobrun_refine(w)
        out += w.flush()

    out += bytes([0xFF, 0xD9])
    return bytes(out)

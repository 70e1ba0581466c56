"""JPEG codec in pure numpy (no PIL/libjpeg anywhere).

Implements the subset of ISO/IEC 10918-1 needed to decode — and, for
tests, encode — real JFIF images inside the multimodal pipeline's
Arrow decode workers: baseline sequential DCT (SOF0) AND progressive
DCT (SOF2 — spectral selection, successive approximation, EOB runs,
multi-scan), 8-bit, sampling factors up to 2 (4:4:4 / 4:2:0 / 4:2:2),
standard Annex-K quantization and Huffman tables. Everything here
derives from the public JPEG specification.

Decode path: marker parse (SOI/DQT/SOF0|SOF2/DHT/SOS…/EOI) →
entropy-decode each scan into the per-component coefficient grids
(Huffman DC deltas + AC run/size for sequential; band/bit-plane
first+refinement passes for progressive; byte-stuffing aware) →
dequantize → de-zigzag → 8×8 inverse DCT (one einsum over all blocks)
→ level shift → YCbCr→RGB.

The encoders exist so tests can round-trip with no external reference
codec: both paths quantize identically, so progressive decode must be
BIT-IDENTICAL to baseline decode of the same pixels — a far sharper
oracle than PSNR.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- constants
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K.1 quantization tables (luminance / chrominance)
QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
QT_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 Huffman specs: (BITS counts per code length 1..16, HUFFVAL)
HT_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
             list(range(12)))
HT_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
HT_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
HT_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

# Near-flat AC table for PROGRESSIVE scans: progressive AC coding emits
# EOBn symbols ((r << 4) with size 0, r = 1..14) that the Annex-K
# sequential tables do not define. A canonical table with all 256
# run/size symbols covers every combination (suboptimal vs libjpeg's
# per-image optimized tables, but tables travel in the stream so any
# decoder — including ours — reads them back). DHT's BITS counts are
# single bytes, so 256 codes can't share one length: 255 at 9 bits,
# the last (0xFF, never emitted) at 10.
HT_AC_FLAT = ([0] * 8 + [255, 1] + [0] * 6, list(range(256)))

# 8×8 DCT-II orthonormal basis (type-II matrix form)
_k = np.arange(8)
_DCT = np.sqrt(2.0 / 8) * np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16)
_DCT[0, :] = np.sqrt(1.0 / 8)


def _dct2(block):
    return _DCT @ block @ _DCT.T


def _build_huffman(bits, vals):
    """(code, length) per symbol, canonical order (spec C.2)."""
    codes, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return codes


def _build_decoder(bits, vals):
    """(code, length) → symbol lookup for decoding."""
    return {v: k for k, v in _build_huffman(bits, vals).items()}


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code, length):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self):
        while self.n <= 24 and self.pos < len(self.data):
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed
                else:
                    byte = 0xFF  # marker: shouldn't happen mid-scan here
            self.acc = (self.acc << 8) | byte
            self.n += 8

    def read(self, length):
        self._fill()
        if length == 0:
            return 0
        if self.n < length:
            raise ValueError("JPEG bitstream underrun")
        v = (self.acc >> (self.n - length)) & ((1 << length) - 1)
        self.n -= length
        self.acc &= (1 << self.n) - 1
        return v

    def read_symbol(self, table):
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | self.read(1)
            length += 1
            sym = table.get((code, length))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")


def _extend(v, size):
    """Spec F.12: map `size`-bit magnitude to signed value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _magnitude(v):
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    code = v if v >= 0 else v + (1 << size) - 1
    return size, code


# ------------------------------------------------------------------ encode
def _encode_block(bw, block, qt, dc_codes, ac_codes, pred):
    """DCT → quantize → entropy-code one 8×8 block; returns new DC pred."""
    import numpy as np

    coef = _dct2(block)
    qf = coef.flatten()[ZIGZAG] / qt[ZIGZAG].astype(np.float64).reshape(-1)
    zz = np.round(qf).astype(np.int32)
    diff = int(zz[0]) - pred
    size, code = _magnitude(diff) if diff else (0, 0)
    hc, hl = dc_codes[size]
    bw.write(hc, hl)
    if size:
        bw.write(code, size)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            hc, hl = ac_codes[0xF0]
            bw.write(hc, hl)
            run -= 16
        size, code = _magnitude(v)
        hc, hl = ac_codes[(run << 4) | size]
        bw.write(hc, hl)
        bw.write(code, size)
        run = 0
    if run:
        hc, hl = ac_codes[0x00]  # EOB
        bw.write(hc, hl)
    return int(zz[0])


def _pad_block(plane, ys, xs):
    """8×8 block at (ys, xs), edge-replicated past the plane border."""
    import numpy as np

    h, w = plane.shape
    block = np.zeros((8, 8))
    yh, xw = max(0, min(8, h - ys)), max(0, min(8, w - xs))
    block[:yh, :xw] = plane[ys:ys + yh, xs:xs + xw]
    if 0 < yh < 8:
        block[yh:, :] = block[yh - 1, :]
    if 0 < xw < 8:
        block[:, xw:] = block[:, xw - 1:xw]
    return block


def encode_jpeg(
    pix: "np.ndarray", subsample: bool = False, restart_interval: int = 0
) -> bytes:
    """Baseline JFIF encode of an (h, w, 3) uint8 RGB array with the
    Annex-K tables — 4:4:4 by default, 4:2:0 with ``subsample=True``
    (2×2 luma blocks per MCU, chroma averaged 2×2).
    ``restart_interval=n`` emits a DRI segment and an RST marker every
    n MCUs (byte-aligned, DC predictors reset — the layout most
    real-world encoders produce for error resilience). Pure numpy;
    exists to give the decoder a real round-trip test partner."""
    h, w, _ = pix.shape
    r, g, b = (pix[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b
    if subsample:
        # pad to even dims, then 2×2 block means
        he, we = (h + 1) // 2 * 2, (w + 1) // 2 * 2
        def half(p):
            q = np.empty((he, we))
            q[:h, :w] = p
            if he > h:
                q[h:, :w] = p[h - 1, :]
            if we > w:
                q[:h, w:] = p[:, w - 1:w]
            if he > h and we > w:
                q[h:, w:] = p[h - 1, w - 1]
            return (q[0::2, 0::2] + q[1::2, 0::2] + q[0::2, 1::2] + q[1::2, 1::2]) / 4.0
        cb, cr = half(cb), half(cr)
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        samp = [(1, 1), (1, 1), (1, 1)]
    planes = [y, cb, cr]
    qts = [QT_LUM, QT_CHR, QT_CHR]
    dc_codes = [_build_huffman(*s) for s in (HT_DC_LUM, HT_DC_CHR, HT_DC_CHR)]
    ac_codes = [_build_huffman(*s) for s in (HT_AC_LUM, HT_AC_CHR, HT_AC_CHR)]

    hmax = max(sx for sx, _ in samp)
    vmax = max(sy for _, sy in samp)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    bw = _BitWriter()
    pred = [0, 0, 0]
    mcu_i = 0
    n_rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw.flush()
                bw.buf.extend(bytes([0xFF, 0xD0 + (n_rst % 8)]))
                n_rst += 1
                pred = [0, 0, 0]
            mcu_i += 1
            for c in range(3):
                sx, sy = samp[c]
                for v in range(sy):
                    for u in range(sx):
                        ys = (my * sy + v) * 8
                        xs = (mx * sx + u) * 8
                        block = _pad_block(planes[c], ys, xs)
                        pred[c] = _encode_block(
                            bw, block, qts[c], dc_codes[c], ac_codes[c], pred[c]
                        )
    bw.flush()

    out = bytearray(b"\xFF\xD8")  # SOI
    def seg(marker, body):
        out.extend(marker + struct.pack(">H", len(body) + 2) + body)
    for tid, qt in ((0, QT_LUM), (1, QT_CHR)):
        seg(b"\xFF\xDB", bytes([tid]) + bytes(int(qt[z]) for z in ZIGZAG))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, (sx, sy), tq in ((1, samp[0], 0), (2, samp[1], 1), (3, samp[2], 1)):
        sof += bytes([cid, (sx << 4) | sy, tq])
    seg(b"\xFF\xC0", sof)
    for tc_th, (bits, vals) in ((0x00, HT_DC_LUM), (0x01, HT_DC_CHR),
                                (0x10, HT_AC_LUM), (0x11, HT_AC_CHR)):
        seg(b"\xFF\xC4", bytes([tc_th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        seg(b"\xFF\xDD", struct.pack(">H", restart_interval))
    sos = bytes([3]) + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + bytes([0, 63, 0])
    seg(b"\xFF\xDA", sos)
    out.extend(bw.buf)
    out.extend(b"\xFF\xD9")  # EOI
    return bytes(out)


# ------------------------------------------------------ progressive encode
class _ProgressiveACWriter:
    """AC-band scan state for progressive encoding (spec G.1.2.2-3):
    accumulates EOB runs across blocks and, in refinement scans, the
    correction bits that must trail the next emitted symbol."""

    def __init__(self, bw, ac_codes):
        self.bw = bw
        self.ac = ac_codes
        self.eobrun = 0
        self.pending = []  # correction bits since the last symbol (this block)
        self.eob_pending = []  # correction bits folded into the pending EOB run

    def _emit_pending(self):
        for bit in self.pending:
            self.bw.write(bit, 1)
        self.pending = []

    def emit_eobrun(self):
        """Flush the pending EOB run and ONLY the correction bits that
        belong to it (bits of blocks already folded into the run — the
        decoder reads them while draining those blocks). Bits buffered in
        the CURRENT block stay queued for its own next symbol."""
        if self.eobrun == 0:
            return
        r = self.eobrun.bit_length() - 1
        hc, hl = self.ac[r << 4]
        self.bw.write(hc, hl)
        if r:
            self.bw.write(self.eobrun - (1 << r), r)
        self.eobrun = 0
        for bit in self.eob_pending:
            self.bw.write(bit, 1)
        self.eob_pending = []

    def block_first(self, band, al):
        """AC first scan (Ah=0): encode band >> al with EOB-run folding."""
        run = 0
        for v in band:
            t = (v >> al) if v >= 0 else -((-v) >> al)
            if t == 0:
                run += 1
                continue
            self.emit_eobrun()
            while run > 15:
                hc, hl = self.ac[0xF0]
                self.bw.write(hc, hl)
                run -= 16
            size, code = _magnitude(t)
            hc, hl = self.ac[(run << 4) | size]
            self.bw.write(hc, hl)
            self.bw.write(code, size)
            run = 0
        if run:
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.emit_eobrun()

    def block_refine(self, band, al):
        """AC refinement scan (Ah=al+1 → Al=al), port of spec G.1.2.3:
        newly-significant coefficients emit run/1 + sign; coefficients
        already significant emit one correction bit, buffered so they
        trail the symbol that carries them."""
        absv = [(v >> al) if v >= 0 else ((-v) >> al) for v in band]
        eob = -1  # index of the last newly-significant coefficient
        for k, t in enumerate(absv):
            if t == 1:
                eob = k
        run = 0
        for k, v in enumerate(band):
            t = absv[k]
            if t == 0:
                run += 1
                continue
            # drain ZRLs at EVERY nonzero coefficient (history ones too) —
            # the decoder's 16-zero advance happens at these exact points;
            # runs past the last newly-significant coefficient fold into
            # the EOB instead
            while run > 15 and k <= eob:
                self.emit_eobrun()
                hc, hl = self.ac[0xF0]
                self.bw.write(hc, hl)
                run -= 16
                self._emit_pending()
            if t > 1:  # already significant: correction bit only
                self.pending.append(t & 1)
                continue
            # newly significant (|v| >> al == 1)
            self.emit_eobrun()
            hc, hl = self.ac[(run << 4) | 1]
            self.bw.write(hc, hl)
            self.bw.write(1 if v >= 0 else 0, 1)
            run = 0
            self._emit_pending()
        if run > 0 or self.pending:
            self.eobrun += 1
            self.eob_pending += self.pending  # bits now belong to the EOB run
            self.pending = []
            if self.eobrun == 0x7FFF:
                self.emit_eobrun()


def encode_jpeg_progressive(
    pix: "np.ndarray", subsample: bool = False, restart_interval: int = 0
) -> bytes:
    """Progressive (SOF2) JFIF encode of an (h, w, 3) uint8 RGB array —
    the libjpeg-style scan script: interleaved DC first scan at Al=1,
    per-component AC first scans (1..63, Al=1), a 1-bit DC refinement,
    then per-component AC refinements down to Al=0. Quantizes with the
    same Annex-K tables as :func:`encode_jpeg`, so a progressive decode
    reconstructs bit-identical coefficients to the baseline pipeline
    (successive approximation is lossless once all scans land) — the
    round-trip test asserts exact pixel equality between the two paths.
    ``restart_interval=n`` emits RST markers every n MCUs (interleaved
    DC scans) / n blocks (per-component AC scans), resetting DC
    prediction and the EOB run like real progressive encoders do."""
    h, w, _ = pix.shape
    r, g, b = (pix[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b
    if subsample:
        he, we = (h + 1) // 2 * 2, (w + 1) // 2 * 2

        def half(p):
            q = np.empty((he, we))
            q[:h, :w] = p
            if he > h:
                q[h:, :w] = p[h - 1, :]
            if we > w:
                q[:h, w:] = p[:, w - 1:w]
            if he > h and we > w:
                q[h:, w:] = p[h - 1, w - 1]
            return (q[0::2, 0::2] + q[1::2, 0::2] + q[0::2, 1::2] + q[1::2, 1::2]) / 4.0

        cb, cr = half(cb), half(cr)
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        samp = [(1, 1), (1, 1), (1, 1)]
    planes = [y, cb, cr]
    qts = [QT_LUM, QT_CHR, QT_CHR]
    hmax = max(sx for sx, _ in samp)
    vmax = max(sy for _, sy in samp)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)

    # quantized zigzag coefficients for every block of every component,
    # over the full interleaved grid (padding blocks included: the DC
    # chain of the interleaved first scan walks them)
    coef = []
    for c in range(3):
        sx, sy = samp[c]
        grid = np.zeros((mcus_y * sy, mcus_x * sx, 64), dtype=np.int32)
        for by in range(mcus_y * sy):
            for bx in range(mcus_x * sx):
                block = _pad_block(planes[c], by * 8, bx * 8)
                qf = _dct2(block).flatten()[ZIGZAG] / qts[c][ZIGZAG].astype(np.float64)
                grid[by, bx] = np.round(qf).astype(np.int32)
        coef.append(grid)

    dc_codes = [_build_huffman(*s) for s in (HT_DC_LUM, HT_DC_CHR, HT_DC_CHR)]
    ac_flat = _build_huffman(*HT_AC_FLAT)
    ac_codes = [ac_flat, ac_flat, ac_flat]

    out = bytearray(b"\xFF\xD8")

    def seg(marker, body):
        out.extend(marker + struct.pack(">H", len(body) + 2) + body)

    for tid, qt in ((0, QT_LUM), (1, QT_CHR)):
        seg(b"\xFF\xDB", bytes([tid]) + bytes(int(qt[z]) for z in ZIGZAG))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, (sx, sy), tq in ((1, samp[0], 0), (2, samp[1], 1), (3, samp[2], 1)):
        sof += bytes([cid, (sx << 4) | sy, tq])
    seg(b"\xFF\xC2", sof)  # SOF2: progressive
    for tc_th, (bits, vals) in ((0x00, HT_DC_LUM), (0x01, HT_DC_CHR),
                                (0x10, HT_AC_FLAT), (0x11, HT_AC_FLAT)):
        seg(b"\xFF\xC4", bytes([tc_th]) + bytes(bits) + bytes(vals))

    if restart_interval:
        seg(b"\xFF\xDD", struct.pack(">H", restart_interval))

    def sos(comp_specs, ss, se, ah, al, entropy):
        body = bytes([len(comp_specs)])
        for cid, tdta in comp_specs:
            body += bytes([cid, tdta])
        body += bytes([ss, se, (ah << 4) | al])
        seg(b"\xFF\xDA", body)
        out.extend(entropy)

    def rst(bw, n_rst):
        bw.flush()
        bw.buf.extend(bytes([0xFF, 0xD0 + (n_rst % 8)]))
        return n_rst + 1

    comp_blocks = []  # per component: the REAL (non-padding) block grid
    for c in range(3):
        sx, sy = samp[c]
        bh = (-(-(h * sy) // vmax) + 7) // 8
        bw_ = (-(-(w * sx) // hmax) + 7) // 8
        comp_blocks.append((bh, bw_))

    # scan 1: interleaved DC first, Al=1
    bw = _BitWriter()
    pred = [0, 0, 0]
    mcu_i = n_rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                n_rst = rst(bw, n_rst)
                pred = [0, 0, 0]
            mcu_i += 1
            for c in range(3):
                sx, sy = samp[c]
                for v in range(sy):
                    for u in range(sx):
                        dc = int(coef[c][my * sy + v, mx * sx + u, 0]) >> 1
                        diff = dc - pred[c]
                        pred[c] = dc
                        size, code = _magnitude(diff) if diff else (0, 0)
                        hc, hl = dc_codes[c][size]
                        bw.write(hc, hl)
                        if size:
                            bw.write(code, size)
    bw.flush()
    sos([(1, 0x00), (2, 0x10), (3, 0x10)], 0, 0, 0, 1, bw.buf)

    # scans 2-4: per-component AC first, band 1..63, Al=1
    for c, cid in ((0, 1), (1, 2), (2, 3)):
        bw = _BitWriter()
        wtr = _ProgressiveACWriter(bw, ac_codes[c])
        bh, bw_ = comp_blocks[c]
        blk_i = n_rst = 0
        for by in range(bh):
            for bx in range(bw_):
                if restart_interval and blk_i and blk_i % restart_interval == 0:
                    wtr.emit_eobrun()
                    n_rst = rst(bw, n_rst)
                blk_i += 1
                wtr.block_first(coef[c][by, bx, 1:64].tolist(), 1)
        wtr.emit_eobrun()
        bw.flush()
        sos([(cid, 0x01 if c else 0x00)], 1, 63, 0, 1, bw.buf)

    # scan 5: DC refinement, 1 bit per block, Al=0
    bw = _BitWriter()
    mcu_i = n_rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                n_rst = rst(bw, n_rst)
            mcu_i += 1
            for c in range(3):
                sx, sy = samp[c]
                for v in range(sy):
                    for u in range(sx):
                        bw.write(int(coef[c][my * sy + v, mx * sx + u, 0]) & 1, 1)
    bw.flush()
    sos([(1, 0x00), (2, 0x00), (3, 0x00)], 0, 0, 1, 0, bw.buf)

    # scans 6-8: per-component AC refinement, Ah=1 → Al=0
    for c, cid in ((0, 1), (1, 2), (2, 3)):
        bw = _BitWriter()
        wtr = _ProgressiveACWriter(bw, ac_codes[c])
        bh, bw_ = comp_blocks[c]
        blk_i = n_rst = 0
        for by in range(bh):
            for bx in range(bw_):
                if restart_interval and blk_i and blk_i % restart_interval == 0:
                    wtr.emit_eobrun()
                    n_rst = rst(bw, n_rst)
                blk_i += 1
                wtr.block_refine(coef[c][by, bx, 1:64].tolist(), 0)
        wtr.emit_eobrun()
        bw.flush()
        sos([(cid, 0x00 | (0x01 if c else 0x00))], 1, 63, 1, 0, bw.buf)

    out.extend(b"\xFF\xD9")
    return bytes(out)


# ------------------------------------------------------------------ decode
def _entropy_end(data: bytes, start: int) -> int:
    """Index just past a scan's entropy-coded segment: the first 0xFF
    followed by a real marker (not a stuffed 0x00, not RST0-7)."""
    pos = start
    while True:
        nxt = data.find(b"\xFF", pos)
        if nxt < 0 or nxt + 1 >= len(data):
            return len(data)
        m = data[nxt + 1]
        if m != 0x00 and not (0xD0 <= m <= 0xD7):
            return nxt
        pos = nxt + 2


def _split_restarts(data: bytes) -> list[bytes]:
    """Split one scan's entropy data on RST0-7 markers → one bitstream
    segment per restart interval (stuffed FF00 bytes stay in place)."""
    segs, start, pos = [], 0, 0
    while True:
        nxt = data.find(b"\xFF", pos)
        if nxt < 0 or nxt + 1 >= len(data):
            segs.append(data[start:])
            return segs
        m = data[nxt + 1]
        if 0xD0 <= m <= 0xD7:
            segs.append(data[start:nxt])
            start = pos = nxt + 2
        else:
            pos = nxt + 2


class _SegmentedReader:
    """Bit reader over restart-interval segments: ``next_segment()``
    drops any partial byte and continues after the RST marker (the
    decoder resets DC predictors / EOB runs itself)."""

    def __init__(self, data: bytes):
        self._segs = _split_restarts(data)
        self._i = 0
        self.br = _BitReader(self._segs[0])

    def next_segment(self):
        self._i += 1
        if self._i >= len(self._segs):
            raise ValueError("JPEG restart marker count mismatch")
        self.br = _BitReader(self._segs[self._i])


def _decode_scan_sequential(data, scan_comps, comps, by_id, coefs, pred,
                            mcus_y, mcus_x, ri=0):
    """One baseline SOF0 scan: interleaved DC+AC per 8×8 block, writing
    quantized zigzag coefficients into ``coefs``. ``ri`` MCUs per
    restart interval (0 = no restarts): each RST resets the bitstream
    byte alignment and every DC predictor."""
    rdr = _SegmentedReader(data)
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if ri and mcu_i and mcu_i % ri == 0:
                rdr.next_segment()
                for j in range(len(pred)):
                    pred[j] = 0
            mcu_i += 1
            br = rdr.br
            for sc in scan_comps:
                ci = by_id[sc["id"]]
                comp = comps[ci]
                dc_tab, ac_tab = sc["dc_tab"], sc["ac_tab"]
                for v in range(comp["sy"]):
                    for u in range(comp["sx"]):
                        zz = coefs[ci][my * comp["sy"] + v, mx * comp["sx"] + u]
                        size = br.read_symbol(dc_tab)
                        diff = _extend(br.read(size), size) if size else 0
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = br.read_symbol(ac_tab)
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            size = rs & 0xF
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(br.read(size), size)
                            k += 1


def _decode_scan_progressive(data, scan_comps, comps, by_id, coefs, pred,
                             mcus_y, mcus_x, ss, se, ah, al, h, w, hmax, vmax,
                             ri=0):
    """One progressive SOF2 scan (spec G.2): spectral selection band
    [ss, se] at successive-approximation bit ``al``; ``ah == 0`` is a
    first scan, ``ah > 0`` a refinement. DC scans may be interleaved;
    AC scans are single-component over that component's own block grid.
    ``ri`` restart units (MCUs when interleaved, blocks otherwise) per
    RST marker: a restart realigns the bitstream and resets DC
    predictors / the EOB run."""
    rdr = _SegmentedReader(data)
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if len(scan_comps) > 1:  # interleaved DC over MCU geometry
            coords = [
                (by_id[sc["id"]],
                 my * comps[by_id[sc["id"]]]["sy"] + v,
                 mx * comps[by_id[sc["id"]]]["sx"] + u,
                 sc,
                 my * mcus_x + mx)  # restart unit = MCU index
                for my in range(mcus_y)
                for mx in range(mcus_x)
                for sc in scan_comps
                for v in range(comps[by_id[sc["id"]]]["sy"])
                for u in range(comps[by_id[sc["id"]]]["sx"])
            ]
        else:
            sc = scan_comps[0]
            ci = by_id[sc["id"]]
            comp = comps[ci]
            bh = (-(-(h * comp["sy"]) // vmax) + 7) // 8
            bw_ = (-(-(w * comp["sx"]) // hmax) + 7) // 8
            coords = [
                (ci, by, bx, sc, by * bw_ + bx)
                for by in range(bh)
                for bx in range(bw_)
            ]
        unit = 0
        for ci, by, bx, sc, u_i in coords:
            if ri and u_i != unit and u_i % ri == 0:
                rdr.next_segment()
                for j in range(len(pred)):
                    pred[j] = 0
            unit = u_i
            br = rdr.br
            zz = coefs[ci][by, bx]
            if ah == 0:
                size = br.read_symbol(sc["dc_tab"])
                diff = _extend(br.read(size), size) if size else 0
                pred[ci] += diff
                zz[0] = pred[ci] << al
            elif br.read(1):
                zz[0] |= 1 << al
        return

    if len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    sc = scan_comps[0]
    ci = by_id[sc["id"]]
    comp = comps[ci]
    ac_tab = sc["ac_tab"]
    bh = (-(-(h * comp["sy"]) // vmax) + 7) // 8
    bw_ = (-(-(w * comp["sx"]) // hmax) + 7) // 8
    eobrun = 0
    p1, m1 = 1 << al, -1 << al
    blk_i = 0
    for by in range(bh):
        for bx in range(bw_):
            if ri and blk_i and blk_i % ri == 0:
                rdr.next_segment()
                eobrun = 0
            blk_i += 1
            br = rdr.br
            zz = coefs[ci][by, bx]
            if ah == 0:  # AC first scan (G.2.2 / F.2.2.2 with EOBRUN)
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = br.read_symbol(ac_tab)
                    r, size = rs >> 4, rs & 0xF
                    if size == 0:
                        if r < 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.read(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("AC index overflow")
                    zz[k] = _extend(br.read(size), size) << al
                    k += 1
            else:  # AC refinement scan (G.2.3)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = br.read_symbol(ac_tab)
                        r, size = rs >> 4, rs & 0xF
                        sval = 0
                        if size:
                            sval = p1 if br.read(1) else m1
                        elif r < 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += br.read(r)
                            break
                        # advance past r zero-history coefficients, emitting
                        # correction bits for nonzero-history ones on the way
                        while k <= se:
                            if zz[k] != 0:
                                if br.read(1) and (zz[k] & p1) == 0:
                                    zz[k] += p1 if zz[k] >= 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if sval:
                            zz[k] = sval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if zz[k] != 0:
                            if br.read(1) and (zz[k] & p1) == 0:
                                zz[k] += p1 if zz[k] >= 0 else m1
                        k += 1
                    eobrun -= 1


def decode_jpeg(data: bytes) -> "np.ndarray":
    """JFIF decode to an (h, w, 3) uint8 RGB array. Supports 8-bit
    baseline sequential (SOF0) AND progressive (SOF2 — spectral
    selection + successive approximation, multi-scan with EOB runs),
    restart intervals (DRI/RSTn — bitstream realignment + DC-predictor
    and EOB-run reset), sampling factors up to 2 (4:4:4 / 4:2:0 /
    4:2:2 either orientation) or single-component, with the tables
    carried in the stream (not only Annex K)."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, "np.ndarray"] = {}
    htabs: dict[int, dict] = {}
    comps: list[dict] = []
    h = w = None
    progressive = False
    restart_interval = 0
    coefs = None
    pred = None
    by_id = {}
    mcus_y = mcus_x = hmax = vmax = 0
    got_scan = False
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        ln = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        body = data[pos + 4:pos + 2 + ln]
        if marker == 0xDB:
            b = 0
            while b < len(body):
                pq_tq = body[b]
                if pq_tq >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(body[b + 1:b + 65], dtype=np.uint8)
                qtabs[pq_tq & 0xF] = tbl
                b += 65
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            b = 6
            for _ in range(nc):
                cid, hv, tq = body[b], body[b + 1], body[b + 2]
                sx, sy = hv >> 4, hv & 0xF
                if sx > 2 or sy > 2 or sx < 1 or sy < 1:
                    raise ValueError("sampling factors above 2 unsupported")
                comps.append({"id": cid, "tq": tq, "sx": sx, "sy": sy})
                b += 3
            hmax = max(c["sx"] for c in comps)
            vmax = max(c["sy"] for c in comps)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            coefs = [
                np.zeros((mcus_y * c["sy"], mcus_x * c["sx"], 64), dtype=np.int32)
                for c in comps
            ]
            pred = [0] * len(comps)
            by_id = {c["id"]: i for i, c in enumerate(comps)}
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline/progressive Huffman JPEG supported")
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc_th = body[b]
                bits = list(body[b + 1:b + 17])
                nv = sum(bits)
                vals = list(body[b + 17:b + 17 + nv])
                htabs[tc_th] = _build_decoder(bits, vals)
                b += 17 + nv
        elif marker == 0xDD:
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:
            if coefs is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_comps = []
            b = 1
            for _ in range(ns):
                cs, tdta = body[b], body[b + 1]
                scan_comps.append(
                    {
                        "id": cs,
                        "dc_tab": htabs.get(0x00 | (tdta >> 4)),
                        "ac_tab": htabs.get(0x10 | (tdta & 0xF)),
                    }
                )
                b += 2
            ss, se, ahal = body[b], body[b + 1], body[b + 2]
            ah, al = ahal >> 4, ahal & 0xF
            start = pos + 2 + ln
            end = _entropy_end(data, start)
            entropy = data[start:end]
            if progressive:
                # each scan restarts the DC prediction chain
                if ss == 0 and ah == 0:
                    for sc in scan_comps:
                        pred[by_id[sc["id"]]] = 0
                _decode_scan_progressive(
                    entropy, scan_comps, comps, by_id, coefs, pred,
                    mcus_y, mcus_x, ss, se, ah, al, h, w, hmax, vmax,
                    ri=restart_interval,
                )
            else:
                _decode_scan_sequential(
                    entropy, scan_comps, comps, by_id, coefs, pred,
                    mcus_y, mcus_x, ri=restart_interval,
                )
            got_scan = True
            pos = end
            continue
        pos += 2 + ln
    if h is None or not got_scan:
        raise ValueError("JPEG missing SOF/SOS")

    # dequantize, de-zigzag, inverse-DCT every block at once (einsum),
    # then stitch blocks into planes, upsample, crop
    full = []
    for i, c in enumerate(comps):
        zz = coefs[i]
        by, bx = zz.shape[:2]
        natural = np.zeros((by, bx, 64))
        natural[..., ZIGZAG] = zz * qtabs[c["tq"]][ZIGZAG].astype(np.float64)
        blocks = natural.reshape(by, bx, 8, 8)
        pix = np.einsum("ai,yxij,bj->yaxb", _DCT.T, blocks, _DCT.T)
        plane = pix.reshape(by * 8, bx * 8)
        p = np.repeat(np.repeat(plane, vmax // c["sy"], axis=0),
                      hmax // c["sx"], axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        gray = np.clip(full[0] + 128.0, 0, 255).astype(np.uint8)
        return np.stack([gray] * 3, axis=-1)
    y, cb, cr = full[0] + 128.0, full[1], full[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)

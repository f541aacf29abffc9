"""JPEG (JFIF) codec in pure numpy + stdlib — baseline sequential AND
progressive (SOF2).

Closes the last stubbed media format in the multimodal pipeline
(pipeline/multimodal.py): `decode_jpeg` handles baseline sequential
DCT JPEGs — grayscale or YCbCr, any sampling factors in {1,2}
(4:4:4 / 4:2:2 / 4:2:0), restart markers — and the full progressive
scan repertoire of T.81 Annex G: spectral selection, successive
approximation, DC/AC first and refinement scans, EOB-run coding,
interleaved DC and non-interleaved AC data-unit ordering.
`encode_jpeg` produces spec-conformant baseline streams and (with
``progressive=True``) SOF2 multi-scan streams used to build test
fixtures (the same role `encode_png` plays for the PNG path); the
progressive/baseline pair must decode pixel-identically, which pins
the two entropy coders against each other. Other frame types —
extended-sequential (SOF1), lossless (SOF3), arithmetic-coded and
hierarchical — raise NotImplementedError with the marker that
triggered it.

The decoder is table-driven — quantization and Huffman tables are read
from the stream's DQT/DHT segments, never assumed — so round-trip
tests verify the entropy coder and the DCT pipeline against each
other, and third-party baseline files decode with their own tables.

This is beyond-reference surface (the reference engine has no media
path at all); it exists so the multimodal operators exercise a real
entropy-coded decode end-to-end instead of a deterministic fake.
"""

from __future__ import annotations

import struct

import numpy as np

# Zigzag scan: raster index of the i-th zigzag position (ITU T.81 fig 5).
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K base quantization tables (natural/raster order).
QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
)
QT_CHROMA = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99]
    + [99] * 32,
    dtype=np.float64,
)

# Annex K Huffman specs: (bits[1..16] counts, symbol values).
DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# 8x8 DCT-II basis: T[u, x] = c(u)/2 * cos((2x+1) u pi / 16).
_x = np.arange(8)
_DCT = np.cos((2 * _x[None, :] + 1) * _x[:, None] * np.pi / 16) / 2.0
_DCT[0, :] *= 1.0 / np.sqrt(2.0)


def _canonical_codes(bits, values):
    """(length-counts, symbols) -> {symbol: (code, length)} (T.81 C.2)."""
    codes, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits, values):
    """(length-counts, symbols) -> {(length, code): symbol} — the same
    canonical T.81 C.2 walk as _canonical_codes, orientation flipped."""
    return {
        (length, code): sym
        for sym, (code, length) in _canonical_codes(bits, values).items()
    }


def _quality_tables(quality: int):
    """libjpeg quality scaling of the Annex K base tables."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (QT_LUMA, QT_CHROMA):
        t = np.floor((base * scale + 50) / 100)
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) -> (n_by, n_bx, 8, 8), edge rows/cols replicated."""
    h, w = plane.shape
    H, W = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane, ((0, H - h), (0, W - w)), mode="edge")
    return padded.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        # keep only the live bits: without this the accumulator grows
        # into an ever-larger bignum and every shift copies all of it
        # (O(n^2) in scan size)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """Value -> (ssss bit count, appended amplitude bits)."""
    if v == 0:
        return 0, 0
    ssss = int(abs(v)).bit_length()
    return ssss, v if v >= 0 else v + (1 << ssss) - 1


def _encode_block(bw, zz, tsel, pred, ci, dc_codes, ac_codes):
    diff = int(zz[0]) - pred[ci]
    pred[ci] = int(zz[0])
    ssss, amp = _magnitude(diff)
    code, length = dc_codes[tsel][ssss]
    bw.write(code, length)
    if ssss:
        bw.write(amp, ssss)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[tsel][0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        ssss, amp = _magnitude(v)
        code, length = ac_codes[tsel][(run << 4) | ssss]
        bw.write(code, length)
        bw.write(amp, ssss)
        run = 0
    if last < 63:
        code, length = ac_codes[tsel][0x00]  # EOB
        bw.write(code, length)


# Flat Huffman table for progressive AC scans: progressive entropy
# coding needs EOBn symbols (n=1..14) that the Annex K baseline tables
# simply do not contain, so progressive encoders always ship custom
# tables (libjpeg generates optimized ones; we use a fixed all-8-bit
# canonical table covering EOBn, ZRL, and (run, size<=10) — valid,
# simple, and read from the DHT like any other table by the decoder).
_AC_PROG_SYMBOLS = sorted(
    {r << 4 for r in range(15)} | {0xF0} | {(r << 4) | s for r in range(16) for s in range(1, 11)}
)
AC_PROG_SPEC = ([0, 0, 0, 0, 0, 0, 0, len(_AC_PROG_SYMBOLS), 0, 0, 0, 0, 0, 0, 0, 0],
                list(_AC_PROG_SYMBOLS))


def _emit_eobrun_state(bw, codes, state):
    """Flush a pending EOB run (EOBn code + extension bits) and any
    correction bits buffered with it (refinement scans)."""
    if state["eobrun"]:
        nbits = state["eobrun"].bit_length() - 1
        code, length = codes[nbits << 4]
        bw.write(code, length)
        if nbits:
            bw.write(state["eobrun"] - (1 << nbits), nbits)
        for b in state["bebuf"]:
            bw.write(b, 1)
        state["eobrun"] = 0
        state["bebuf"] = []


def _enc_ac_first(bw, codes, state, zz, ss, se, al):
    r = 0
    for k in range(ss, se + 1):
        t = int(zz[k])
        t = (t >> al) if t >= 0 else -((-t) >> al)
        if t == 0:
            r += 1
            continue
        while r > 15:
            _emit_eobrun_state(bw, codes, state)
            code, length = codes[0xF0]
            bw.write(code, length)
            r -= 16
        ssss, amp = _magnitude(t)
        _emit_eobrun_state(bw, codes, state)
        code, length = codes[(r << 4) | ssss]
        bw.write(code, length)
        bw.write(amp, ssss)
        r = 0
    if r:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _emit_eobrun_state(bw, codes, state)


def _enc_ac_refine(bw, codes, state, zz, ss, se, al):
    """T.81 G.1.2.3 / the classic two-buffer refinement encoder:
    newly-significant coefficients emit (run, 1)+sign; already-nonzero
    coefficients buffer one correction bit each, appended after the
    next emitted code (or carried with the EOB run)."""
    absv = []
    eobpos = ss - 1
    for k in range(ss, se + 1):
        t = abs(int(zz[k])) >> al
        absv.append(t)
        if t == 1:
            eobpos = k
    r = 0
    brbuf: list[int] = []
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eobpos:
            _emit_eobrun_state(bw, codes, state)
            code, length = codes[0xF0]
            bw.write(code, length)
            r -= 16
            for b in brbuf:
                bw.write(b, 1)
            brbuf = []
        if t > 1:  # history coefficient: correction bit
            brbuf.append(t & 1)
            continue
        # newly significant at this precision
        _emit_eobrun_state(bw, codes, state)
        code, length = codes[(r << 4) | 1]
        bw.write(code, length)
        bw.write(1 if int(zz[k]) >= 0 else 0, 1)
        for b in brbuf:
            bw.write(b, 1)
        brbuf = []
        r = 0
    if r > 0 or brbuf:
        state["eobrun"] += 1
        state["bebuf"].extend(brbuf)
        if state["eobrun"] == 0x7FFF:
            _emit_eobrun_state(bw, codes, state)


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Encode (H, W) grayscale or (H, W, 3) RGB uint8 pixels as a
    JFIF stream. Baseline sequential with Annex K Huffman tables by
    default; ``progressive=True`` emits a SOF2 multi-scan stream
    (interleaved DC first at Al=1 + DC refinement, then per-component
    AC spectral bands 1-5 / 6-63 at Al=2 with two successive
    refinement passes each — exercising every Annex G scan kind).
    ``subsample=True`` emits 4:2:0 chroma (2x2 luma sampling);
    ``restart_interval=N`` emits RSTn markers every N MCUs (baseline
    only)."""
    if progressive and restart_interval:
        raise ValueError("restart_interval is not supported with progressive")
    pixels = np.asarray(pixels)
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if h > 65535 or w > 65535:
        raise ValueError(f"image exceeds 65535x65535: {h}x{w}")
    qluma, qchroma = _quality_tables(quality)

    if gray:
        planes = [pixels.astype(np.float64)]
    else:
        rgb = pixels.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]

    # sampling factors per component
    sub = subsample and not gray
    samp = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * len(planes)
    hmax = max(s[0] for s in samp[: len(planes)])
    vmax = max(s[1] for s in samp[: len(planes)])
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    if sub:
        # box-filter chroma down to half resolution
        for ci in (1, 2):
            p = planes[ci]
            ph, pw = p.shape
            p = np.pad(p, ((0, ph % 2), (0, pw % 2)), mode="edge")
            planes[ci] = (
                p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(axis=(1, 3))
            )

    qtabs = [qluma] + ([qchroma] if not gray else [])
    dc_codes = [_canonical_codes(*DC_LUMA_SPEC), _canonical_codes(*DC_CHROMA_SPEC)]
    ac_codes = [_canonical_codes(*AC_LUMA_SPEC), _canonical_codes(*AC_CHROMA_SPEC)]

    # DCT + quantize every component on its MCU-padded block grid.
    comp_zz, comp_bx = [], []
    for ci, plane in enumerate(planes):
        ch, cw = samp[ci][1] * mcuy * 8, samp[ci][0] * mcux * 8
        ph, pw = plane.shape
        padded = np.pad(plane, ((0, ch - ph), (0, cw - pw)), mode="edge")
        blocks = _blockify(padded - 128.0)
        coef = np.einsum("ux,byxv,wv->byuw", _DCT, blocks, _DCT, optimize=True)
        qt = qtabs[min(ci, 1)].reshape(8, 8)
        quant = np.round(coef / qt).astype(np.int32)
        comp_zz.append(quant.reshape(-1, 64)[:, ZIGZAG])
        comp_bx.append(cw // 8)

    if progressive:
        return _encode_progressive_stream(
            comp_zz, comp_bx, samp, qtabs, dc_codes, h, w, mcux, mcuy, gray
        )

    bw = _BitWriter()
    scan = bytearray()
    pred = [0] * len(planes)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                scan += bw.flush()
                scan += bytes([0xFF, 0xD0 + ((mcu_count // restart_interval - 1) % 8)])
                bw = _BitWriter()
                pred = [0] * len(planes)
            for ci in range(len(planes)):
                sh, sv = samp[ci]
                for v in range(sv):
                    for hh in range(sh):
                        bi = (my * sv + v) * comp_bx[ci] + (mx * sh + hh)
                        _encode_block(
                            bw, comp_zz[ci][bi], min(ci, 1), pred, ci,
                            dc_codes, ac_codes,
                        )
            mcu_count += 1
    scan += bw.flush()
    scan = bytes(scan)

    ncomp = 1 if gray else 3
    out = _stream_headers(h, w, samp, qtabs, ncomp, 0xC0)
    for tclass, specs in ((0, (DC_LUMA_SPEC, DC_CHROMA_SPEC)),
                          (1, (AC_LUMA_SPEC, AC_CHROMA_SPEC))):
        for tid in range(2 if not gray else 1):
            bits, values = specs[tid]
            out += _seg(0xC4, bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(values))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tsel = min(ci, 1)
        sos += bytes([ci + 1, (tsel << 4) | tsel])
    sos += b"\x00\x3f\x00"  # spectral selection 0..63, no approximation
    out += _seg(0xDA, sos)
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)



def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _stream_headers(h, w, samp, qtabs, ncomp: int, sof_marker: int) -> bytearray:
    """SOI + JFIF APP0 + DQT + SOF — shared by the baseline and
    progressive stream assemblers (the frame marker is the only
    difference)."""
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, qtab in enumerate(qtabs):
        out += _seg(0xDB, bytes([tid]) + bytes(qtab[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, min(ci, 1)])
    out += _seg(sof_marker, sof)
    return out


def _encode_progressive_stream(
    comp_zz, comp_bx, samp, qtabs, dc_codes, h, w, mcux, mcuy, gray
):
    """Assemble the SOF2 stream: headers + the fixed scan script
    (DC first Al=1 → DC refine → per-component AC bands 1-5 / 6-63 at
    Al=2 → refinement passes Al=2→1 → Al=1→0)."""
    ncomp = len(comp_zz)
    ac_codes = _canonical_codes(*AC_PROG_SPEC)

    def mcu_units():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(ncomp):
                    sh, sv = samp[ci]
                    for v in range(sv):
                        for hh in range(sh):
                            yield ci, (my * sv + v) * comp_bx[ci] + (mx * sh + hh)

    def comp_units(ci):
        sh, sv = samp[ci]
        hmax = max(s[0] for s in samp[:ncomp])
        vmax = max(s[1] for s in samp[:ncomp])
        cw = -(-(w * sh) // hmax)
        ch = -(-(h * sv) // vmax)
        for r in range(-(-ch // 8)):
            for c in range(-(-cw // 8)):
                yield r * comp_bx[ci] + c

    scans = []  # (sos_payload, entropy bytes)

    def sos(comp_ids, ss, se, ah, al):
        p = bytes([len(comp_ids)])
        for cid in comp_ids:
            td = min(cid - 1, 1)
            p += bytes([cid, (td << 4) | 0])  # Ta=0: the one AC prog table
        return p + bytes([ss, se, (ah << 4) | al])

    # 1) DC first, interleaved, Al=1
    bw = _BitWriter()
    pred = [0] * ncomp
    for ci, bi in mcu_units():
        val = int(comp_zz[ci][bi][0]) >> 1
        ssss, amp = _magnitude(val - pred[ci])
        pred[ci] = val
        code, length = dc_codes[min(ci, 1)][ssss]
        bw.write(code, length)
        if ssss:
            bw.write(amp, ssss)
    scans.append((sos(list(range(1, ncomp + 1)), 0, 0, 0, 1), bw.flush()))
    # 2) DC refinement, Al=0
    bw = _BitWriter()
    for ci, bi in mcu_units():
        bw.write(int(comp_zz[ci][bi][0]) & 1, 1)
    scans.append((sos(list(range(1, ncomp + 1)), 0, 0, 1, 0), bw.flush()))
    # 3) AC scans: first at Al=2, then refinements 2->1 and 1->0
    bands = [(1, 5), (6, 63)]
    for ah, al in ((0, 2), (2, 1), (1, 0)):
        for ci in range(ncomp):
            for ss, se in bands:
                bw = _BitWriter()
                state = {"eobrun": 0, "bebuf": []}
                for bi in comp_units(ci):
                    if ah == 0:
                        _enc_ac_first(bw, ac_codes, state, comp_zz[ci][bi], ss, se, al)
                    else:
                        _enc_ac_refine(bw, ac_codes, state, comp_zz[ci][bi], ss, se, al)
                _emit_eobrun_state(bw, ac_codes, state)
                scans.append((sos([ci + 1], ss, se, ah, al), bw.flush()))

    out = _stream_headers(h, w, samp, qtabs, ncomp, 0xC2)  # SOF2
    for tid in range(2 if not gray else 1):
        bits, values = (DC_LUMA_SPEC, DC_CHROMA_SPEC)[tid]
        out += _seg(0xC4, bytes([tid]) + bytes(bits) + bytes(values))
    bits, values = AC_PROG_SPEC
    out += _seg(0xC4, bytes([0x10]) + bytes(bits) + bytes(values))
    for sos_payload, entropy in scans:
        out += _seg(0xDA, sos_payload)
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    """Entropy-segment reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                self.acc = (self.acc << 8) | 0
                self.nbits += 8
                continue
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:  # a real marker terminates the entropy segment
                    self.acc = (self.acc << 8) | 0
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        # drop consumed high bits so the accumulator stays a machine
        # int (unbounded it becomes an O(scan-size) bignum and decode
        # goes quadratic on real-world megabyte scans)
        self.acc &= (1 << self.nbits) - 1
        return v

    def huffman(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy segment")

    def restart(self) -> None:
        """Consume an RSTn marker and reset the bit buffer."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d) and not (
            d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        self.pos += 2


def _extend(v: int, ssss: int) -> int:
    if ssss == 0:
        return 0
    return v if v >= (1 << (ssss - 1)) else v - (1 << ssss) + 1


def decode_jpeg(content: bytes, max_blocks: int = 1 << 24) -> np.ndarray:
    """Decode a baseline sequential OR progressive (SOF2) JPEG to
    uint8 pixels: (H, W) for grayscale streams, (H, W, 3) RGB
    otherwise. Supports component sampling factors in {1, 2}, restart
    intervals, and the full progressive scan repertoire (spectral
    selection, successive approximation, DC/AC refinement scans, EOB
    runs, interleaved DC / non-interleaved AC ordering). Other frame
    types (extended-sequential, lossless, arithmetic-coded,
    hierarchical) raise NotImplementedError naming the unsupported
    marker.

    ``max_blocks`` caps the declared coefficient-block count (see the
    SOF guard below). The default, 2^24 blocks, is ~1 GB of
    coefficient store: a ~268-megapixel frame."""
    d = bytes(content)
    if d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    progressive = False
    stores: dict[int, np.ndarray] = {}  # component id -> (nblocks, 64) zigzag int32
    geom = None  # (hmax, vmax, mcux, mcuy)
    n_scans = 0

    while pos < len(d):
        if d[pos] != 0xFF:
            pos += 1
            continue
        if pos + 1 >= len(d):
            raise ValueError("truncated JPEG stream (lone 0xFF at end)")
        marker = d[pos + 1]
        if marker == 0xFF:  # fill byte (T.81 B.1.1.2): skip one 0xFF
            pos += 1
            continue
        if marker == 0x00:  # stuffed 0xFF data byte outside a scan read
            pos += 2
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 2 > len(d):
            raise ValueError("truncated JPEG stream (marker without length)")
        (seglen,) = struct.unpack(">H", d[pos : pos + 2])
        if pos + seglen > len(d):
            raise ValueError("truncated JPEG stream (segment exceeds data)")
        payload = d[pos + 2 : pos + seglen]
        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "non-baseline JPEG frame marker 0xFF%02X not supported" % marker
            )
        if marker == 0xC2:
            progressive = True
            marker = 0xC0  # parse the SOF payload identically below
        if marker == 0xC0:  # baseline SOF (and SOF2, rewritten above)
            if len(payload) < 6:
                raise ValueError("truncated JPEG SOF segment")
            precision, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            if precision != 8:
                raise NotImplementedError(
                    f"{precision}-bit JPEG not supported for this frame type"
                )
            if ncomp not in (1, 3):
                # 4-component Adobe CMYK/YCCK would silently decode to
                # garbage through the YCbCr branch — refuse instead
                raise NotImplementedError(
                    f"{ncomp}-component JPEG not supported (grayscale or"
                    " YCbCr only)"
                )
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = payload[6 + 3 * ci : 9 + 3 * ci]
                sh, sv = hv >> 4, hv & 0xF
                if sh not in (1, 2) or sv not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factor {sh}x{sv} not supported"
                        " (factors must be 1 or 2)"
                    )
                comps.append({"id": cid, "h": sh, "v": sv, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            geom = (hmax, vmax, -(-w // (8 * hmax)), -(-h // (8 * vmax)))
            # a corrupt SOF claiming huge dimensions must fail BEFORE
            # the coefficient stores materialize (65535x65535 would
            # allocate ~17 GB per component); any real scan needs at
            # least ~2 bits per block, so blocks >> stream size is
            # impossible for a decodable stream (fuzz-derived guard)
            _, _, mcux, mcuy = geom
            n_blocks = sum(
                mcuy * c["v"] * mcux * c["h"] for c in comps
            )
            if n_blocks > 64 * len(d):
                raise ValueError(
                    f"JPEG frame declares {n_blocks} blocks in a"
                    f" {len(d)}-byte stream — corrupt or truncated SOF"
                )
            # ...and an ABSOLUTE ceiling independent of stream length:
            # the relative guard scales with len(d), so a crafted
            # multi-MB progressive stream could still legally declare
            # 64 blocks per input byte at 256 B of int32 store each
            # (16 KB allocated per stream byte). 2^24 blocks = ~1 GB of
            # coefficient store = a ~268-megapixel frame, far beyond
            # any legitimate corpus image; callers that truly process
            # larger frames pass a larger max_blocks.
            if n_blocks > max_blocks:
                raise ValueError(
                    f"JPEG frame declares {n_blocks} coefficient blocks"
                    f" (> cap {max_blocks}); pass a larger max_blocks"
                    " if this is intentional"
                )
            if progressive:
                for c in comps:
                    stores[c["id"]] = np.zeros(
                        (mcuy * c["v"] * mcux * c["h"], 64), dtype=np.int32
                    )
        elif marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(payload):
                prec, tid = payload[i] >> 4, payload[i] & 0xF
                if prec:  # Pq=1: 16-bit entries
                    if i + 129 > len(payload):
                        raise ValueError("truncated 16-bit DQT segment")
                    tab = np.frombuffer(
                        payload[i + 1 : i + 129], dtype=">u2"
                    ).astype(np.float64)
                else:
                    tab = np.frombuffer(payload[i + 1 : i + 65], dtype=np.uint8)
                nat = np.empty(64, dtype=np.float64)
                nat[ZIGZAG] = tab  # stored in zigzag order
                qt[tid] = nat
                i += 129 if prec else 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(payload):
                tclass, tid = payload[i] >> 4, payload[i] & 0xF
                bits = list(payload[i + 1 : i + 17])
                n = sum(bits)
                values = list(payload[i + 17 : i + 17 + n])
                huff[(tclass, tid)] = _decode_table(bits, values)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            if len(payload) < 2:
                raise ValueError("truncated JPEG DRI segment")
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:  # SOS -> entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = payload[0]
            scan_comps = []
            for ci in range(ns):
                cs, tt = payload[1 + 2 * ci : 3 + 2 * ci]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan_comps.append((comp, tt >> 4, tt & 0xF))
            if progressive:
                ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
                ahal = payload[3 + 2 * ns]
                pos = _decode_progressive_scan(
                    d, pos + seglen, frame, scan_comps, stores, huff,
                    restart_interval, ss, se, ahal >> 4, ahal & 0xF, geom,
                )
                n_scans += 1
                continue
            if ns != len(frame["comps"]):
                # T.81 allows splitting a sequential frame into several
                # single-component scans; _decode_scan assumes one
                # interleaved scan, so refuse rather than return a
                # block-scrambled partial image
                raise NotImplementedError(
                    "multi-scan (non-interleaved) baseline JPEG not"
                    " supported — one interleaved scan only"
                )
            return _decode_scan(
                d, pos + seglen, frame, scan_comps, qt, huff, restart_interval
            )
        pos += seglen
    if progressive and frame is not None and n_scans > 0:
        # a scanless SOF2 header must NOT silently decode to a flat
        # gray image — fall through to the same error as baseline
        return _reconstruct(
            frame, [(c, stores[c["id"]]) for c in frame["comps"]], qt, geom
        )
    raise ValueError("no scan data found in JPEG stream")


def _decode_scan(d, pos, frame, scan_comps, qt, huff, restart_interval):
    h, w = frame["h"], frame["w"]
    for _, td, ta in scan_comps:
        for sel in ((0, td), (1, ta)):
            if sel not in huff:
                raise ValueError(f"missing Huffman table (class, id)={sel}")
    hmax = max(c["h"] for c, _, _ in scan_comps)
    vmax = max(c["v"] for c, _, _ in scan_comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # per-component coefficient storage (in MCU-padded block grid)
    store = []
    for comp, _, _ in scan_comps:
        by, bx = mcuy * comp["v"], mcux * comp["h"]
        store.append(np.zeros((by * bx, 64), dtype=np.float64))

    br = _BitReader(d, pos)
    pred = [0] * len(scan_comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.restart()
                pred = [0] * len(scan_comps)
            for ci, (comp, td, ta) in enumerate(scan_comps):
                dc_tab, ac_tab = huff[(0, td)], huff[(1, ta)]
                for v in range(comp["v"]):
                    for hh in range(comp["h"]):
                        zz = np.zeros(64, dtype=np.float64)
                        ssss = br.huffman(dc_tab)
                        pred[ci] += _extend(br.bits(ssss), ssss)
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = br.huffman(ac_tab)
                            run, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if run == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(br.bits(size), size)
                            k += 1
                        brow = my * comp["v"] + v
                        bcol = mx * comp["h"] + hh
                        store[ci][brow * (mcux * comp["h"]) + bcol] = zz
            mcu_count += 1

    return _reconstruct(
        frame, [(comp, store[ci]) for ci, (comp, _, _) in enumerate(scan_comps)],
        qt, (hmax, vmax, mcux, mcuy),
    )


def _reconstruct(frame, comp_stores, qt, geom):
    """Dequantize + IDCT + color-convert the per-component zigzag
    coefficient arrays (shared by the baseline one-shot path and the
    progressive multi-scan accumulator); 8-bit samples, level shift 128
    (T.81 A.3.1)."""
    h, w = frame["h"], frame["w"]
    level = 128.0
    hmax, vmax, mcux, mcuy = geom
    planes = []
    for comp, zzstore in comp_stores:
        if comp["tq"] not in qt:
            raise ValueError(f"missing quantization table {comp['tq']}")
        nat = np.empty(zzstore.shape, dtype=np.float64)
        nat[:, ZIGZAG] = zzstore
        nat *= qt[comp["tq"]][None, :]
        blocks = nat.reshape(-1, 8, 8)
        pix = np.einsum("xu,buw,wy->bxy", _DCT.T, blocks, _DCT, optimize=True)
        by, bx = mcuy * comp["v"], mcux * comp["h"]
        plane = (
            pix.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
            + level
        )
        # upsample to full MCU-padded resolution, then crop to (h, w)
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        out = planes[0]
    else:
        y, cb, cr = planes[0], planes[1] - level, planes[2] - level
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _scan_units(frame, scan_comps, geom, restart_interval):
    """Yield ('rst', _, _) at restart boundaries and ('du', scan_index,
    store_block_index) in transmission order: MCU-interleaved when the
    scan has several components, component-raster over the component's
    OWN ceil(dims/8) block grid when non-interleaved (T.81 A.2.2 — the
    non-interleaved grid is NOT MCU-padded; store indices map through
    the padded row stride)."""
    h, w = frame["h"], frame["w"]
    hmax, vmax, mcux, mcuy = geom
    if len(scan_comps) > 1:
        n = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and n and n % restart_interval == 0:
                    yield ("rst", 0, 0)
                n += 1
                for si, (comp, _, _) in enumerate(scan_comps):
                    for v in range(comp["v"]):
                        for hh in range(comp["h"]):
                            bi = (my * comp["v"] + v) * (mcux * comp["h"]) + (
                                mx * comp["h"] + hh
                            )
                            yield ("du", si, bi)
    else:
        comp = scan_comps[0][0]
        cw = -(-(w * comp["h"]) // hmax)
        ch = -(-(h * comp["v"]) // vmax)
        bw_, bh_ = -(-cw // 8), -(-ch // 8)
        stride = mcux * comp["h"]
        n = 0
        for r in range(bh_):
            for c in range(bw_):
                if restart_interval and n and n % restart_interval == 0:
                    yield ("rst", 0, 0)
                n += 1
                yield ("du", 0, r * stride + c)


def _decode_progressive_scan(
    d, pos, frame, scan_comps, stores, huff, restart_interval, ss, se, ah, al, geom
):
    """Decode one progressive scan into the persistent coefficient
    stores (T.81 Annex G decoding procedures): DC first (diff-coded,
    << Al) / DC refinement (one appended bit per data unit) when
    Ss=0, AC first (EOB-run coded) / AC refinement (correction bits
    woven through the runs) when Ss>0. Returns the stream position
    where the entropy segment ended."""
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("progressive DC scan must have Ss=Se=0")
    if not is_dc and len(scan_comps) != 1:
        raise ValueError("progressive AC scans must be non-interleaved")
    if not is_dc and not (0 < ss <= se < 64):
        raise ValueError(f"bad spectral band {ss}..{se}")
    for comp, td, ta in scan_comps:
        # DC refinement scans read raw bits only — no Huffman table
        if is_dc and ah == 0 and (0, td) not in huff:
            raise ValueError(f"missing Huffman table (class, id)={(0, td)}")
        if not is_dc and (1, ta) not in huff:
            raise ValueError(f"missing Huffman table (class, id)={(1, ta)}")
    br = _BitReader(d, pos)
    pred = [0] * len(scan_comps)
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)
    for kind, si, bi in _scan_units(frame, scan_comps, geom, restart_interval):
        if kind == "rst":
            br.restart()
            pred = [0] * len(scan_comps)
            eobrun = 0
            continue
        comp, td, ta = scan_comps[si]
        zz = stores[comp["id"]][bi]
        if is_dc:
            if ah == 0:  # DC first
                ssss = br.huffman(huff[(0, td)])
                pred[si] += _extend(br.bits(ssss), ssss)
                zz[0] = pred[si] << al
            else:  # DC refinement: one bit, OR'd at the new precision
                if br.bits(1):
                    zz[0] |= p1
            continue
        ac_tab = huff[(1, ta)]
        if ah == 0:  # AC first
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = br.huffman(ac_tab)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.bits(r)
                    break
                k += r
                if k > se:
                    raise ValueError("AC run past spectral band end")
                zz[k] = _extend(br.bits(s), s) << al
                k += 1
        else:  # AC refinement
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = br.huffman(ac_tab)
                    r, s = rs >> 4, rs & 0xF
                    newval = 0
                    if s:
                        if s != 1:
                            raise ValueError(
                                "invalid magnitude in AC refinement scan"
                            )
                        newval = p1 if br.bits(1) else m1
                    elif r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.bits(r)
                        break
                    # advance over the run: zero-history positions count
                    # toward r, nonzero-history positions read one
                    # correction bit each
                    while k <= se:
                        if zz[k] != 0:
                            if br.bits(1) and (zz[k] & p1) == 0:
                                zz[k] += p1 if zz[k] >= 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        zz[k] = newval
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if zz[k] != 0:
                        if br.bits(1) and (zz[k] & p1) == 0:
                            zz[k] += p1 if zz[k] >= 0 else m1
                    k += 1
                eobrun -= 1
    return br.pos

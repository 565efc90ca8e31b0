"""Pure-stdlib+numpy baseline JPEG codec (no PIL, no libjpeg).

Upgrades the JPEG leg of the raster/multimodal transformers from
"runtime-detected PIL" to REAL in-sandbox pixel math, mirroring what
`operators/png.py` did for PNG: the reference's tar2tf registers a
jpeg decoder (reference transformers/tar2tf/src/transforms/job.go:10,
decode at job.go:127-133) and keras_preprocess/face_detection consume
JPEGs (transformers/face_detection/fastapi_server.py:57-110).

Scope (documented, honest): baseline sequential DCT (SOF0), Huffman
entropy coding, 8-bit samples, grayscale or YCbCr with sampling
factors 1 or 2 (4:4:4 / 4:2:2 / 4:2:0), restart markers. Progressive
(SOF2), arithmetic coding, 12-bit, and hierarchical modes raise
NotImplementedError. The encoder emits baseline 4:4:4 or 4:2:0 with
the Annex-K example quantization/Huffman tables (spec constants).

Interface matches png.py: rows are bytearrays of interleaved samples.
JPEG is lossy — round-trip tests assert bounded reconstruction error
(and exactness for flat-128 blocks, whose coefficients are all zero).
"""

from __future__ import annotations

import struct

import numpy as np

SOI, EOI, SOS, DQT, DHT, DRI, APP0 = (
    0xFFD8, 0xFFD9, 0xFFDA, 0xFFDB, 0xFFC4, 0xFFDD, 0xFFE0,
)
SOF0, SOF1, SOF2 = 0xFFC0, 0xFFC1, 0xFFC2

# Annex K.1/K.2 example quantization tables (public spec constants)
_QT_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)
_QT_CHR = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# zigzag order: _ZIG[i] = (row, col) of the i-th coefficient
_ZIG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda rc: (rc[0] + rc[1], rc[1] if (rc[0] + rc[1]) % 2 else rc[0]),
)
_ZROW = np.array([r for r, _ in _ZIG])
_ZCOL = np.array([c for _, c in _ZIG])

# Annex K.3 example Huffman tables: (bits[1..16] counts, symbols)
_HT_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HT_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# orthonormal 8-point DCT-II matrix
_M = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _c = (1 / np.sqrt(2)) if _u == 0 else 1.0
        _M[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per the spec's canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-bits padding per spec


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_blocks(
    plane: np.ndarray, qt: np.ndarray, dc_codes, ac_codes, bw: _BitWriter, pred: int
) -> int:
    """Forward DCT + quantize + Huffman for every 8×8 block of a
    component plane (already padded); returns the new DC predictor."""
    h, w = plane.shape
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            blk = plane[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            coef = _M @ blk @ _M.T
            q = np.round(coef / qt).astype(np.int32)
            zz = q[_ZROW, _ZCOL]
            # DC
            size, bits = _magnitude(int(zz[0]) - pred)
            pred = int(zz[0])
            c, ln = dc_codes[size]
            bw.put(c, ln)
            if size:
                bw.put(bits, size)
            # AC
            run = 0
            nz = np.nonzero(zz[1:])[0]
            last = nz[-1] + 1 if nz.size else 0
            for i in range(1, last + 1):
                v = int(zz[i])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, ln = ac_codes[0xF0]  # ZRL
                    bw.put(c, ln)
                    run -= 16
                size, bits = _magnitude(v)
                c, ln = ac_codes[(run << 4) | size]
                bw.put(c, ln)
                bw.put(bits, size)
                run = 0
            if last < 63:
                c, ln = ac_codes[0x00]  # EOB
                bw.put(c, ln)
    return pred


def _pad_edge(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph = (mult - h % mult) % mult
    pw = (mult - w % mult) % mult
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def encode_jpeg(
    width: int,
    height: int,
    channels: int,
    rows: list[bytearray | bytes],
    quality: int = 85,
    subsampling: str = "444",
) -> bytes:
    """Rows (interleaved gray or RGB) → baseline JFIF JPEG bytes.
    ``subsampling``: '444' (one block per component per MCU) or '420'
    (2×2 luma blocks + box-averaged chroma per MCU)."""
    if channels not in (1, 3):
        raise NotImplementedError("gray or RGB input only")
    if subsampling not in ("444", "420"):
        raise NotImplementedError("subsampling 444 or 420 only")
    img = np.frombuffer(
        b"".join(bytes(r) for r in rows), dtype=np.uint8
    ).reshape(height, width, channels).astype(np.float64)

    qt_l = _scaled_qt(_QT_LUM, quality)
    qt_c = _scaled_qt(_QT_CHR, quality)
    dc_l = _canonical_codes(*_HT_DC_LUM)
    ac_l = _canonical_codes(*_HT_AC_LUM)
    dc_c = _canonical_codes(*_HT_DC_CHR)
    ac_c = _canonical_codes(*_HT_AC_CHR)

    if channels == 3:
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [np.clip(np.round(p), 0, 255) for p in (y, cb, cr)]
    else:
        planes = [img[..., 0]]

    sub420 = channels == 3 and subsampling == "420"
    if sub420:
        yp = _pad_edge(planes[0], 16)
        # box-average 2×2 → half-res chroma, then pad to block multiple
        cps = []
        for p in planes[1:]:
            p = _pad_edge(p, 2)
            half = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
            cps.append(_pad_edge(np.round(half), 8))
        comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        data_planes = [yp, *cps]
    else:
        data_planes = [_pad_edge(p, 8) for p in planes]
        comps = (
            [(1, 1, 1, 0)]
            if channels == 1
            else [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        )

    out = bytearray()
    out += struct.pack(">H", SOI)
    out += struct.pack(">HH", APP0, 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qt in ((0, qt_l), (1, qt_c))[: 1 if channels == 1 else 2]:
        zz = qt[_ZROW, _ZCOL].astype(np.uint8).tobytes()
        out += struct.pack(">HHB", DQT, 2 + 1 + 64, tid) + zz
    # SOF0
    out += struct.pack(">HHBHHB", SOF0, 8 + 3 * len(comps), 8, height, width, len(comps))
    for cid, hf, vf, tq in comps:
        out += bytes([cid, (hf << 4) | vf, tq])
    # DHT
    hts = [(0x00, _HT_DC_LUM), (0x10, _HT_AC_LUM)]
    if channels == 3:
        hts += [(0x01, _HT_DC_CHR), (0x11, _HT_AC_CHR)]
    for tc_th, (bits, syms) in hts:
        out += struct.pack(">HHB", DHT, 2 + 1 + 16 + len(syms), tc_th)
        out += bytes(bits) + bytes(syms)
    # SOS
    out += struct.pack(">HHB", SOS, 6 + 2 * len(comps), len(comps))
    for i, (cid, _hf, _vf, _tq) in enumerate(comps):
        td_ta = 0x00 if i == 0 else 0x11
        out += bytes([cid, td_ta])
    out += bytes([0, 63, 0])  # Ss, Se, Ah/Al

    bw = _BitWriter()
    if sub420:
        preds = [0, 0, 0]
        yp, cbp, crp = data_planes
        for my in range(0, yp.shape[0], 16):
            for mx in range(0, yp.shape[1], 16):
                for sy in range(2):
                    for sx in range(2):
                        blk = yp[my + 8 * sy : my + 8 * sy + 8, mx + 8 * sx : mx + 8 * sx + 8]
                        preds[0] = _encode_blocks(blk, qt_l, dc_l, ac_l, bw, preds[0])
                cy, cx = my // 2, mx // 2
                preds[1] = _encode_blocks(
                    cbp[cy : cy + 8, cx : cx + 8], qt_c, dc_c, ac_c, bw, preds[1]
                )
                preds[2] = _encode_blocks(
                    crp[cy : cy + 8, cx : cx + 8], qt_c, dc_c, ac_c, bw, preds[2]
                )
    else:
        # non-interleaved would need multiple scans; interleave per MCU
        # (= one block per component in 4:4:4, the spec's Aii case)
        h8, w8 = data_planes[0].shape
        preds = [0] * len(data_planes)
        for by in range(0, h8, 8):
            for bx in range(0, w8, 8):
                for ci, p in enumerate(data_planes):
                    qt = qt_l if ci == 0 else qt_c
                    dc = dc_l if ci == 0 else dc_c
                    ac = ac_l if ci == 0 else ac_c
                    preds[ci] = _encode_blocks(
                        p[by : by + 8, bx : bx + 8], qt, dc, ac, bw, preds[ci]
                    )
    bw.flush()
    out += bw.out
    out += struct.pack(">H", EOI)
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        while self.n <= 24:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0xFF  # pad past end
                self.n += 8
                continue
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker: un-consume and pad
                    self.pos -= 1
                    self.acc = (self.acc << 8) | 0xFF
                    self.n += 8
                    continue
            self.acc = (self.acc << 8) | b
            self.n += 8

    def skip(self, k: int) -> None:
        self.n -= k

    def get(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill()
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        return v

    def restart_sync(self) -> None:
        """Byte-align and consume an RSTn marker from the raw stream."""
        self.acc = 0
        self.n = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1


class _HuffDecoder:
    """Canonical-code decoder: (min/max code + symbol offset) per length."""

    def __init__(self, bits: list[int], symbols: list[int]) -> None:
        self.symbols = symbols
        self.min_code = [0] * 17
        self.max_code = [-1] * 17
        self.val_ptr = [0] * 17
        code = 0
        k = 0
        for ln in range(1, 17):
            if bits[ln - 1]:
                self.val_ptr[ln] = k
                self.min_code[ln] = code
                code += bits[ln - 1]
                k += bits[ln - 1]
                self.max_code[ln] = code - 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | br.get(1)
            if self.max_code[ln] >= code >= self.min_code[ln]:
                return self.symbols[self.val_ptr[ln] + code - self.min_code[ln]]
        raise ValueError("bad Huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, int, list[bytearray]]:
    """JPEG bytes → (width, height, channels, rows) with rows as
    interleaved gray / RGB bytearrays (matches png.decode_png)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _HuffDecoder] = {}
    ac_tabs: dict[int, _HuffDecoder] = {}
    comps: list[dict] = []
    width = height = None
    restart_interval = 0
    scan_data = None
    scan_comps: list[dict] = []

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        pos += 2
        if marker in (SOI, EOI) or 0xFFD0 <= marker <= 0xFFD7:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == SOF2 or marker in range(0xFFC5, 0xFFC8) or marker in range(
            0xFFC9, 0xFFCC
        ):
            raise NotImplementedError(
                "progressive/extended/arithmetic JPEG not supported "
                "(baseline sequential only)"
            )
        if marker in (SOF0, SOF1):
            prec, height, width, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("8-bit samples only")
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                hf, vf = hv >> 4, hv & 0xF
                if hf not in (1, 2) or vf not in (1, 2):
                    raise NotImplementedError("sampling factors 1 or 2 only")
                comps.append({"id": cid, "h": hf, "v": vf, "tq": tq})
        elif marker == DQT:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq:
                    raise NotImplementedError("16-bit quant tables not supported")
                t = np.zeros((8, 8), dtype=np.int32)
                t[_ZROW, _ZCOL] = np.frombuffer(seg[p : p + 64], dtype=np.uint8)
                qts[tq] = t
                p += 64
        elif marker == DHT:
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                syms = list(seg[p + 17 : p + 17 + n])
                (ac_tabs if tc else dc_tabs)[th] = _HuffDecoder(bits, syms)
                p += 17 + n
        elif marker == DRI:
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == SOS:
            ns = seg[0]
            for i in range(ns):
                cs, td_ta = seg[1 + 2 * i : 3 + 2 * i]
                comp = next(c for c in comps if c["id"] == cs)
                comp["td"], comp["ta"] = td_ta >> 4, td_ta & 0xF
                scan_comps.append(comp)
            scan_data = data[pos + seglen :]
            break
        pos += seglen
    if width is None or scan_data is None:
        raise ValueError("missing SOF/SOS")

    hmax = max(c["h"] for c in scan_comps)
    vmax = max(c["v"] for c in scan_comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    for c in scan_comps:
        c["plane"] = np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64)
        c["pred"] = 0

    br = _BitReader(scan_data)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.restart_sync()
                for c in scan_comps:
                    c["pred"] = 0
            mcu_count += 1
            for c in scan_comps:
                dct = dc_tabs[c["td"]]
                act = ac_tabs[c["ta"]]
                qt = qts[c["tq"]]
                for sy in range(c["v"]):
                    for sx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        size = dct.decode(br)
                        diff = _extend(br.get(size), size) if size else 0
                        c["pred"] += diff
                        zz[0] = c["pred"]
                        i = 1
                        while i < 64:
                            rs = act.decode(br)
                            run, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if run == 15:
                                    i += 16  # ZRL
                                    continue
                                break  # EOB
                            i += run
                            if i > 63:
                                raise ValueError("AC index overflow")
                            zz[i] = _extend(br.get(size), size)
                            i += 1
                        coef = np.zeros((8, 8), dtype=np.float64)
                        coef[_ZROW, _ZCOL] = zz * qt[_ZROW, _ZCOL]
                        blk = _M.T @ coef @ _M + 128.0
                        py = (my * c["v"] + sy) * 8
                        px = (mx * c["h"] + sx) * 8
                        c["plane"][py : py + 8, px : px + 8] = blk

    # upsample to full resolution and convert
    planes = []
    for c in scan_comps:
        p = c["plane"]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        planes.append(p[:height, :width])

    if len(planes) == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)[..., None]
        channels = 1
    elif len(planes) == 3:
        y, cb, cr = planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        out = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)
        channels = 3
    else:
        raise NotImplementedError(f"{len(planes)}-component scan not supported")

    rows = [bytearray(out[yy].tobytes()) for yy in range(height)]
    return width, height, channels, rows

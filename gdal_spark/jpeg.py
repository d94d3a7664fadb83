"""Pure-numpy baseline JPEG codec + distributed z/x/y.jpg tile sink.

The reference ships a JPEG driver (frmts/jpeg/jpgdataset.cpp, wrapping
libjpeg) and gdal2tiles can emit JPEG tile pyramids via it. No image
library ships in this container, but baseline JPEG needs none beyond
numpy: this is a from-spec implementation of ITU-T T.81 baseline
sequential DCT — 8-bit grayscale and RGB (JFIF YCbCr, 4:4:4, no
subsampling), Annex K quantization tables scaled by the IJG quality
curve, Annex K "typical" Huffman tables, byte-stuffed entropy stream.
Byte-deterministic: same array + quality → same file, everywhere.

The encoder and decoder share one coefficient representation, so
although JPEG is lossy end-to-end (DCT quantization), the ENTROPY
layer round-trips exactly: ``jpeg_decode(..., coefs=True)`` returns
the encoder's quantized coefficients bit-for-bit — that is the
determinism contract the tests pin, alongside a pixel-error bound.

Scale posture: the codec is called inside ``mapInPandas`` tasks (one
tile per call, like ``png.write_tiles_png``); nothing here touches
the driver, and the per-tile cost is the same O(pixels) DCT the
reference pays in libjpeg (vectorized across all 8×8 blocks at once;
only the entropy loop is per-block Python, bounded by tile size).
"""

from __future__ import annotations

import struct
from functools import partial

import numpy as np

from .png import write_tiles

# ---------------------------------------------------------------------------
# constant tables (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

# zigzag position -> raster index within the 8x8 block (K.1 fig. 5)
ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZIGZAG = np.argsort(ZIGZAG)

# K.1 luminance / K.2 chrominance quantization tables (raster order)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
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
_AC_CHROMA = (
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

# orthonormal 8-point DCT-II matrix: forward blocks = C @ b @ C.T
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality curve (jcparam.c jpeg_quality_scaling — published
    API semantics, reimplemented from the documented formula)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for t in (_Q_LUMA, _Q_CHROMA):
        tq = (t * scale + 50) // 100
        out.append(np.clip(tq, 1, 255).astype(np.int64))
    return out[0], out[1]


def _huff_codes(bits, vals):
    """BITS/HUFFVAL -> {symbol: (code, length)} (T.81 C.2 canonical
    code assignment)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode_map(bits, vals):
    """BITS/HUFFVAL -> {(length, code): symbol}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit packer with 0xFF byte stuffing (T.81 B.1.1.5)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec


class _BitReader:
    """MSB-first bit reader over an entropy segment, unstuffing
    0xFF00; raises at a real marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self):
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise EOFError("marker inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _magnitude(v: int) -> tuple[int, int]:
    """DC/AC magnitude category + appended bits (T.81 F.1.2.1)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _extend(bits: int, size: int) -> int:
    """Inverse of _magnitude (T.81 F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float64, H/W multiples of 8 -> (nblocks, 8, 8) in MCU
    raster order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h8: int, w8: int) -> np.ndarray:
    return (
        blocks.reshape(h8 // 8, w8 // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(h8, w8)
    )


def _quantize_plane(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """Level shift, 2-D DCT (all blocks at once), symmetric-round
    quantize -> (nblocks, 64) int32 zigzag coefficients."""
    blocks = _to_blocks(plane.astype(np.float64) - 128.0)
    coef = np.einsum("ij,njk,lk->nil", _C, blocks, _C)
    q = qtab.reshape(8, 8).astype(np.float64)
    scaled = coef / q
    quant = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
    return quant.reshape(-1, 64)[:, ZIGZAG].astype(np.int32)


def _dequantize_plane(
    zz: np.ndarray, qtab: np.ndarray, h8: int, w8: int
) -> np.ndarray:
    """(nblocks, 64) zigzag coefs -> uint8 plane (IDCT + level shift)."""
    raster = np.zeros_like(zz)
    raster[:, ZIGZAG] = zz
    coef = raster.reshape(-1, 8, 8).astype(np.float64) * qtab.reshape(8, 8)
    blocks = np.einsum("ji,njk,kl->nil", _C, coef, _C)
    px = _from_blocks(blocks, h8, w8) + 128.0
    return np.clip(np.floor(px + 0.5), 0, 255).astype(np.uint8)


def _encode_block(
    bw: _BitWriter, zz: np.ndarray, pred: int, dc_tab: dict, ac_tab: dict
) -> int:
    dc = int(zz[0])
    size, bits = _magnitude(dc - pred)
    code, ln = dc_tab[size]
    bw.put(code, ln)
    if size:
        bw.put(bits, size)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        size, bits = _magnitude(v)
        code, ln = ac_tab[(run << 4) | size]
        bw.put(code, ln)
        bw.put(bits, size)
        run = 0
    if last < 63:
        code, ln = ac_tab[0x00]  # EOB
        bw.put(code, ln)
    return dc


def _decode_block(
    br: _BitReader, pred: int, dc_map: dict, ac_map: dict
) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int32)

    def read_symbol(m):
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.bit()
            sym = m.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad Huffman code")

    size = read_symbol(dc_map)
    dc = pred + _extend(br.bits(size), size)
    zz[0] = dc
    k = 1
    while k < 64:
        rs = read_symbol(ac_map)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        zz[k] = _extend(br.bits(size), size)
        k += 1
    return zz, dc


def _rgb_to_ycbcr(a: np.ndarray) -> np.ndarray:
    """JFIF (BT.601 full-range) forward color transform."""
    r = a[..., 0].astype(np.float64)
    g = a[..., 1].astype(np.float64)
    b = a[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y, cb, cr) -> np.ndarray:
    y = y.astype(np.float64)
    cb = cb.astype(np.float64) - 128.0
    cr = cr.astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def _pad8(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    h8 = (h + 7) & ~7
    w8 = (w + 7) & ~7
    if (h8, w8) == (h, w):
        return plane
    return np.pad(plane, ((0, h8 - h), (0, w8 - w)), mode="edge")


def jpeg_encode(arr: np.ndarray, quality: int = 90) -> bytes:
    """Encode (H, W) grayscale or (H, W, 3) RGB uint8 as baseline
    JFIF JPEG bytes (4:4:4, Annex K tables scaled by ``quality``)."""
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("jpeg_encode expects uint8")
    if a.ndim == 2:
        planes = [a.astype(np.float64)]
    elif a.ndim == 3 and a.shape[2] == 3:
        ycc = _rgb_to_ycbcr(a)
        planes = [ycc[..., i] for i in range(3)]
    else:
        raise ValueError(f"unsupported shape {a.shape}")
    h, w = a.shape[:2]
    if not (0 < h <= 65535 and 0 < w <= 65535):
        raise ValueError("dimensions out of JPEG range")
    ncomp = len(planes)
    qy, qc = _quality_tables(quality)
    qtabs = [qy] + [qc] * (ncomp - 1)

    out = bytearray()
    out += b"\xFF\xD8"  # SOI
    out += b"\xFF\xE0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    # DQT
    for tid, qt in enumerate(qtabs[: min(ncomp, 2)]):
        out += b"\xFF\xDB" + struct.pack(">HB", 67, tid)
        out += bytes(int(qt[z]) for z in ZIGZAG)
    # SOF0
    out += b"\xFF\xC0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        out += struct.pack("BBB", ci + 1, 0x11, 0 if ci == 0 else 1)
    # DHT (luma DC/AC always; chroma tables only for color)
    huffs = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if ncomp == 3:
        huffs += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tc_th, (bits, vals) in huffs:
        out += b"\xFF\xC4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    # SOS
    out += b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        out += struct.pack("BB", ci + 1, 0x00 if ci == 0 else 0x11)
    out += b"\x00\x3F\x00"

    coef_planes = []
    h8 = w8 = 0
    for ci, plane in enumerate(planes):
        padded = _pad8(plane)
        h8, w8 = padded.shape
        coef_planes.append(_quantize_plane(padded, qtabs[ci]))

    dc_y = _huff_codes(*_DC_LUMA)
    ac_y = _huff_codes(*_AC_LUMA)
    dc_c = _huff_codes(*_DC_CHROMA)
    ac_c = _huff_codes(*_AC_CHROMA)
    enc_tabs = [(dc_y, ac_y)] + [(dc_c, ac_c)] * (ncomp - 1)

    bw = _BitWriter()
    preds = [0] * ncomp
    nblocks = coef_planes[0].shape[0]
    for bi in range(nblocks):  # 4:4:4 MCU = one block per component
        for ci in range(ncomp):
            preds[ci] = _encode_block(
                bw, coef_planes[ci][bi], preds[ci], *enc_tabs[ci]
            )
    bw.flush()
    out += bw.buf
    out += b"\xFF\xD9"  # EOI
    return bytes(out)


def jpeg_decode(data: bytes, coefs: bool = False):
    """Decode baseline 4:4:4 (or grayscale) JPEG bytes produced by
    ``jpeg_encode`` (any conforming non-subsampled baseline stream
    without restart markers). Returns (H, W) or (H, W, 3) uint8 — or,
    with ``coefs=True``, the list of (nblocks, 64) zigzag quantized
    coefficient arrays per component (the exact entropy-layer
    round-trip contract)."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[int, dict] = {}
    h = w = 0
    comps: list[tuple[int, int]] = []  # (component id, qtab id)
    scan: list[tuple[int, int, int]] = []  # (comp idx, dc tab, ac tab)
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        (ln,) = struct.unpack(">H", data[pos:pos + 2])
        seg = data[pos + 2:pos + ln]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq:
                    raise ValueError("16-bit qtable unsupported")
                zz = np.frombuffer(
                    seg[p + 1:p + 65], dtype=np.uint8
                ).astype(np.int64)
                t = np.zeros(64, dtype=np.int64)
                t[ZIGZAG] = zz
                qtabs[tq] = t
                p += 65
        elif marker == 0xC0:  # SOF0 baseline
            _prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            for ci in range(nc):
                cid, samp, tq = seg[6 + 3 * ci:9 + 3 * ci]
                if samp != 0x11:
                    raise ValueError("subsampling unsupported (4:4:4 only)")
                comps.append((cid, tq))
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline SOF0 supported")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17:p + 17 + nv])
                htabs[tc_th] = _huff_decode_map(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            for si in range(ns):
                cs, tabs = seg[1 + 2 * si], seg[2 + 2 * si]
                idx = next(
                    i for i, (cid, _) in enumerate(comps) if cid == cs
                )
                scan.append((idx, tabs >> 4, tabs & 0x0F))
            pos += ln
            break
        pos += ln
    if not scan or not h:
        raise ValueError("missing SOF/SOS")

    br = _BitReader(data, pos)
    h8, w8 = (h + 7) & ~7, (w + 7) & ~7
    nblocks = (h8 // 8) * (w8 // 8)
    coef = [np.zeros((nblocks, 64), dtype=np.int32) for _ in comps]
    preds = [0] * len(comps)
    for bi in range(nblocks):
        for idx, tdc, tac in scan:
            zz, preds[idx] = _decode_block(
                br, preds[idx], htabs[tdc], htabs[0x10 | tac]
            )
            coef[idx][bi] = zz
    if coefs:
        return coef
    planes = [
        _dequantize_plane(coef[i], qtabs[tq], h8, w8)[:h, :w]
        for i, (_, tq) in enumerate(comps)
    ]
    if len(planes) == 1:
        return planes[0]
    return _ycbcr_to_rgb(*planes)


def write_tiles_jpeg(tiles, out_dir: str, quality: int = 90,
                     scheme: str = "xyz"):
    """Distributed JPEG tile sink: every (z, tx, ty, w, h, data) row
    of a TILE_SCHEMA DataFrame is encoded and written executor-side as
    ``out_dir/{z}/{tx}/{ty}.jpg`` — gdal2tiles' --tiledriver=JPEG
    layout. Returns a DataFrame (z, tx, ty, path, n_bytes) of what
    landed. Same shared-filesystem contract as ``png.write_tiles_png``.
    """
    return write_tiles(
        tiles, out_dir, scheme, "jpg", partial(jpeg_encode, quality=quality)
    )

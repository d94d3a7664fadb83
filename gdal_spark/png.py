"""Pure-numpy PNG codec + distributed z/x/y.png tile sink.

The reference renders tile pyramids to PNG files (gdal2tiles
`create_base_tile`/`create_overview_tile` via the PNG driver,
swig/python/gdal-utils/osgeo_utils/gdal2tiles.py; frmts/png/pngdataset
.cpp). No image library ships in this container, but PNG needs none:
the format is zlib (stdlib) + CRC-32 chunk framing, so the encoder
here is a from-spec implementation (RFC 2083) — grayscale, RGB and
RGBA, 8-bit, filter type 0 — and the decoder exists to round-trip it
in tests. Byte-deterministic: same array → same file, everywhere.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
# IHDR color type by channel count (8-bit depth)
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}
_CHANNELS = {0: 1, 2: 3, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(
        ">I", crc
    )


def png_encode(arr: np.ndarray, level: int = 6) -> bytes:
    """Encode a (H, W) grayscale or (H, W, 3|4) color uint8 array as a
    PNG byte string (8-bit, filter 0 on every row — deterministic)."""
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("png_encode expects uint8")
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in _COLOR_TYPE:
        raise ValueError(f"unsupported shape {arr.shape}")
    h, w, ch = a.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[ch], 0, 0, 0)
    # raw scanlines: one 0 filter byte + the row
    raw = np.empty((h, 1 + w * ch), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = a.reshape(h, w * ch)
    idat = zlib.compress(raw.tobytes(), level)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG row filters 0-4 (spec §6) on (h, 1+stride) raw
    scanlines → (h, stride) samples."""
    out = np.zeros((h, stride), dtype=np.int64)
    for y in range(h):
        ft = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int64)
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.int64)
        if ft == 0:
            out[y] = line
        elif ft == 2:  # Up
            out[y] = (line + prev) & 0xFF
        elif ft in (1, 3, 4):  # Sub / Average / Paeth need a scan
            cur = out[y]
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = (
                        left if pa <= pb and pa <= pc
                        else up if pb <= pc else ul
                    )
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown filter {ft}")
    return out.astype(np.uint8)


def png_decode(data: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG produced by png_encode (all
    standard row filters accepted). Returns (H, W) or (H, W, C)."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    h = depth = ctype = 0
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        crc_got = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])[0]
        if (zlib.crc32(tag + payload) & 0xFFFFFFFF) != crc_got:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or interlace or ctype not in _CHANNELS:
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    ch = _CHANNELS[ctype]
    stride = w * ch
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(
        h, 1 + stride
    )
    out = _unfilter(raw, h, stride, ch)
    return out.reshape(h, w) if ch == 1 else out.reshape(h, w, ch)


def write_tiles_png(tiles, out_dir: str, scheme: str = "xyz"):
    """Distributed PNG tile sink: every (z, tx, ty, w, h, data) row of
    a TILE_SCHEMA DataFrame is encoded and written executor-side as
    ``out_dir/{z}/{tx}/{ty}.png`` — gdal2tiles' output layout
    (gdal2tiles.py, TMS vs XYZ row flip handled by ``scheme``).
    Returns a DataFrame (z, tx, ty, path, n_bytes) of what landed, so
    the caller can count/verify without re-listing the directory.

    ``out_dir`` must be reachable from every executor (shared mount on
    a real cluster; any local path in local mode) — same contract as
    gdal2tiles' output directory.
    """
    return write_tiles(tiles, out_dir, scheme, "png", png_encode)


def write_tiles(tiles, out_dir: str, scheme: str, ext: str, encode):
    """The tile sink behind :func:`write_tiles_png` and
    ``jpeg.write_tiles_jpeg``: ``encode(uint8 array) → bytes`` per
    tile, written as ``out_dir/{z}/{tx}/{ty}.{ext}``."""
    import pandas as pd

    if scheme not in ("xyz", "tms"):
        raise ValueError(scheme)

    def write(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = np.frombuffer(r.data, dtype=np.uint8).reshape(
                    int(r.h), int(r.w)
                )
                ty = (
                    int(r.ty) if scheme == "xyz"
                    else (1 << int(r.z)) - 1 - int(r.ty)
                )
                d = os.path.join(out_dir, str(int(r.z)), str(int(r.tx)))
                os.makedirs(d, exist_ok=True)
                path = os.path.join(d, f"{ty}.{ext}")
                buf = encode(a)
                with open(path, "wb") as f:
                    f.write(buf)
                rows.append(
                    (int(r.z), int(r.tx), int(r.ty), path, len(buf))
                )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "path", "n_bytes"]
            )

    return tiles.mapInPandas(
        write, "z long, tx long, ty long, path string, n_bytes long"
    )
